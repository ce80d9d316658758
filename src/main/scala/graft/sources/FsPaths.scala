package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Scheme-agnostic filesystem helpers for store lifecycle markers and
  * managed-table locations. The earlier shape —
  * `warehouse.stripPrefix("file:")` + `java.nio.file.Paths` — silently
  * breaks on any non-local warehouse (`hdfs://`, `s3a://`), which is
  * exactly where a 100-TB deployment's warehouse lives; every
  * marker/location operation instead resolves the path's OWN filesystem
  * from the session's Hadoop configuration, so the same code serves
  * local test runs and object-store deployments. FsPathsSpec pins the
  * non-`file:` case via a RawLocalFileSystem-backed mock scheme.
  *
  * The build-once policy over these helpers — which lifetime a store
  * has, when it rebuilds, which lock it takes — lives in [[Artifacts]];
  * stores call it rather than these primitives.
  */
object FsPaths {

  /** Managed location of `table` under the session's warehouse dir,
    * scheme preserved (Spark lowercases managed table dirs).
    */
  def warehouseTablePath(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, p: Path): Boolean = fs(spark, p).exists(p)

  /** Create (or truncate) a zero-byte marker file. */
  def touch(spark: SparkSession, p: Path): Unit =
    fs(spark, p).create(p, true).close()

  /** Recursive delete; absent path is a no-op. */
  def deleteRecursively(spark: SparkSession, p: Path): Unit = {
    val h = fs(spark, p)
    if (h.exists(p)) h.delete(p, true)
  }

  /** Write a small UTF-8 string (marker-with-content). */
  def writeString(spark: SparkSession, p: Path, s: String): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Read a small UTF-8 string; None when absent. */
  def readString(spark: SparkSession, p: Path): Option[String] = {
    val h = fs(spark, p)
    if (!h.exists(p)) None
    else {
      val in = h.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val arr = new Array[Byte](8192)
        var n = in.read(arr)
        while (n >= 0) { buf.write(arr, 0, n); n = in.read(arr) }
        Some(buf.toString("UTF-8"))
      } finally in.close()
    }
  }

  /** Atomically (re)build a directory artifact: `build` writes the full
    * contents — data files AND completion marker — into a fresh sibling
    * temp dir, which is then renamed into place (dir rename is a
    * metadata op on HDFS/local FS). A JVM-local lock can only serialize
    * one process; this closes the cross-JVM window where a concurrent
    * reader could observe the target between delete and rewrite, or a
    * second builder could interleave its writes with ours: the target
    * either holds the previous complete artifact, is briefly absent, or
    * holds the new complete artifact — never a partial one.
    */
  def replaceDirAtomically(spark: SparkSession, target: Path)
                          (build: Path => Unit): Unit = {
    val h = fs(spark, target)
    val qualified = h.makeQualified(target)
    val tmp = new Path(qualified.getParent,
      qualified.getName + "__build_" + java.util.UUID.randomUUID().toString.take(8))
    try {
      build(tmp)
      h.delete(qualified, true)
      if (!h.rename(tmp, qualified))
        throw new java.io.IOException(s"rename $tmp -> $qualified failed")
    } finally h.delete(tmp, true) // no-op after a successful rename
  }

  /** CROSS-JVM advisory mutex on a filesystem path — the lock that
    * JVM-local monitors cannot be: two processes sharing one warehouse
    * serialize their artifact (re)builds through an exclusive-create
    * lock file instead of interleaving them. Acquisition is the
    * filesystem's own atomic create-if-absent (HDFS `create(p, false)`
    * is atomic server-side; the local scheme uses `File.createNewFile`
    * — O_CREAT|O_EXCL — because Hadoop's local `create` is a racy
    * check-then-act). The holder's pid@host is the payload for
    * debugging; release deletes the file. The HOLDER heartbeats the
    * lock file's mtime every staleMillis/4 from a daemon thread, so a
    * legitimate build of ANY length never looks stale (BASELINE records
    * 1974 s sf1 builds against the 600 s default — without the
    * heartbeat those get their lock broken mid-hold, r14 ADVICE). A
    * lock whose mtime is older than `staleMillis` therefore means the
    * holder's heartbeat itself has been dead for staleMillis — the
    * crash definition — and is broken via atomic RENAME-then-verify:
    * exactly one breaker wins the rename (never two waiters both
    * deleting, where the slower delete would remove a freshly created
    * lock), the mtime is re-checked on the renamed file (a heartbeat
    * racing the break restores the lock instead of killing it), and
    * only then deleted; the next create race picks exactly one new
    * holder.
    *
    * [[Artifacts.table]] and [[Artifacts.corpusStore]] pair it with
    * their completion markers: the lock serializes BUILDERS, the marker
    * re-check inside the lock makes the second builder a no-op, and
    * [[replaceDirAtomically]] keeps READERS safe even across the break
    * window.
    */
  def withFileLock[T](spark: SparkSession, lock: Path,
                      staleMillis: Long = 600000L)(body: => T): T =
    withFileLockRaw(spark.sparkContext.hadoopConfiguration, lock,
      staleMillis)(body)

  /** [[withFileLock]] without a session — the forked-worker seam. */
  def withFileLockRaw[T](conf: org.apache.hadoop.conf.Configuration,
                         lock: Path, staleMillis: Long)(body: => T): T = {
    val h = lock.getFileSystem(conf)
    if (lock.getParent != null) h.mkdirs(lock.getParent)
    val payload =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    var acquired = false
    while (!acquired) {
      acquired = tryCreateExclusive(h, lock, payload)
      if (!acquired) {
        try {
          val st = h.getFileStatus(lock)
          if (System.currentTimeMillis() - st.getModificationTime > staleMillis) {
            // break a crashed holder's lock: rename-then-verify — the
            // rename is atomic, so exactly ONE breaker owns the file;
            // a heartbeat that raced the stat is detected on the
            // renamed file and the lock restored instead of destroyed
            val tomb = new Path(lock.getParent,
              lock.getName + ".__break_" +
                java.util.UUID.randomUUID().toString.take(8))
            if (h.rename(lock, tomb)) {
              val st2 = h.getFileStatus(tomb)
              if (System.currentTimeMillis() - st2.getModificationTime > staleMillis)
                h.delete(tomb, false)
              else if (!h.rename(tomb, lock)) h.delete(tomb, false)
            }
          }
        } catch { case _: java.io.FileNotFoundException => () }
        Thread.sleep(25)
      }
    }
    // holder heartbeat: refresh the lock's mtime at staleMillis/4 so a
    // live hold of any duration never crosses the stale threshold
    val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(staleMillis / 4, 25L))
          try h.setTimes(lock, System.currentTimeMillis(), -1L)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-${lock.getName}")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      h.delete(lock, false)
    }
  }

  private def tryCreateExclusive(h: FileSystem, p: Path,
                                 payload: String): Boolean = h match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val f = new java.io.File(p.toUri.getPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      if (f.createNewFile()) {
        java.nio.file.Files.write(f.toPath, payload.getBytes("UTF-8"))
        true
      } else false
    case _ =>
      try {
        val out = h.create(p, false)
        try out.write(payload.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** Content fingerprint of an input dataset DIRECTORY: md5 over the
    * sorted (relative name, size, mtime) listing — cheap (metadata
    * only), and any regeneration of the inputs moves it.
    * [[Artifacts.corpusStore]] gates its marker on this so a
    * regenerated corpus can never be served from a stale store.
    */
  def dirFingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val h = fs(spark, p)
    // Strip against the QUALIFIED root: listFiles returns scheme-qualified
    // paths (file:/...), so stripping the caller's possibly-unqualified
    // string would be a no-op and leak the absolute location into the
    // hash — equivalent dir spellings would fingerprint differently and
    // force spurious store rebuilds.
    val root = h.makeQualified(p).toString
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (h.exists(p)) {
      val it = h.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          entries += s"${f.getPath.toString.stripPrefix(root)}|${f.getLen}|${f.getModificationTime}"
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
