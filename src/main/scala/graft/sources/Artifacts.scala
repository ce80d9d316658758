package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Build-once stage artifacts: an index, a grown table, a scratch copy
  * that some lanes build once and then read many times. Every such
  * store goes through one of three entry points, one per lifetime:
  *
  *   - [[scratch]] — a temp dir that lives as long as the JVM. No other
  *     process writes it, so the JVM memo is the completion record: a
  *     result is memoized only after its build returns, and a build that
  *     throws has its dir deleted so the next call starts fresh.
  *   - [[table]] — a catalog table under the warehouse. The in-memory
  *     catalog forgets it per JVM while its location survives, so every
  *     call re-checks the table and its `_GRAFT_GROWN` marker (written
  *     after the last append, so a half-grown store rebuilds) under the
  *     JVM monitor and the cross-JVM file lock.
  *   - [[corpusStore]] — a bare warehouse path that outlives the JVM.
  *     Its `_GRAFT_COMPLETE` marker holds the input corpus's
  *     [[FsPaths.dirFingerprint]], so a regenerated corpus rebuilds; the
  *     build is published by [[FsPaths.replaceDirAtomically]], so a
  *     reader in another JVM never sees a partial store.
  *
  * Builds run under a per-key monitor, never inside a map's bin lock:
  * a build may itself ensure another artifact (the CDC merge scratch
  * copies the dated layout) without a "Recursive update".
  */
object Artifacts {

  private val monitors = new java.util.concurrent.ConcurrentHashMap[Any, Object]()

  private def monitor(key: Any): Object = monitors.computeIfAbsent(key, _ => new Object)

  private val scratchBuilt = new java.util.concurrent.ConcurrentHashMap[Any, Any]()

  /** The artifact `build` writes into a fresh temp dir named `prefix*`,
    * built once per (prefix, key) per JVM; the dir is removed on exit.
    */
  def scratch[T](prefix: String, key: Any)(build: String => T): T = {
    val k = (prefix, key)
    monitor(k).synchronized {
      val hit = scratchBuilt.get(k)
      if (hit != null) hit.asInstanceOf[T]
      else {
        val dir = Scratch.tempDir(prefix)
        val built =
          try build(dir)
          catch { case e: Throwable => Scratch.delete(dir); throw e }
        scratchBuilt.put(k, built)
        built
      }
    }
  }

  /** Completion marker of catalog table `name`, inside its location. Its
    * mtime doubles as the store's version stamp (HNSW maintenance
    * touches it after every rewrite).
    */
  def tableMarker(spark: SparkSession, name: String): Path =
    new Path(FsPaths.warehouseTablePath(spark, name), "_GRAFT_GROWN")

  /** Ensure catalog `tables` (one store; the first carries the marker)
    * are built: when the first is missing or unmarked, drop them all,
    * delete their stale locations, run `build`, then touch the marker.
    */
  def table(spark: SparkSession, tables: String*)(build: => Unit): Unit = {
    val loc = FsPaths.warehouseTablePath(spark, tables.head)
    locked(spark, loc) {
      if (!spark.catalog.tableExists(tables.head) ||
          !FsPaths.exists(spark, tableMarker(spark, tables.head))) {
        tables.foreach { t =>
          if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
          FsPaths.deleteRecursively(spark, FsPaths.warehouseTablePath(spark, t))
        }
        build
        FsPaths.touch(spark, tableMarker(spark, tables.head))
      }
    }
  }

  /** Ensure the store at `path` was built from the current contents of
    * the `corpus` dataset dir: `build` writes a fresh store into the
    * temp dir it is handed. Returns `build`'s result when it ran, None
    * when the marked store was current.
    */
  def corpusStore[T](spark: SparkSession, path: Path, corpus: String)
                    (build: Path => T): Option[T] =
    locked(spark, path) {
      val fp = FsPaths.dirFingerprint(spark, corpus)
      if (FsPaths.readString(spark, new Path(path, "_GRAFT_COMPLETE")).contains(fp)) None
      else {
        var built: Option[T] = None
        FsPaths.replaceDirAtomically(spark, path) { tmp =>
          built = Some(build(tmp))
          FsPaths.writeString(spark, new Path(tmp, "_GRAFT_COMPLETE"), fp)
        }
        built
      }
    }

  /** JVM monitor plus the cross-JVM file lock beside `loc`: processes
    * sharing one warehouse serialize their (re)builds, and the marker
    * re-check inside makes the later builder a no-op.
    */
  private def locked[T](spark: SparkSession, loc: Path)(body: => T): T =
    monitor(loc.toString).synchronized {
      FsPaths.withFileLock(spark, new Path(loc.getParent, loc.getName + ".lock"))(body)
    }
}

/** Raw JVM-lifetime temp dirs (one shutdown hook each), for per-call
  * scratch that is not build-once; build-once dirs go through
  * [[Artifacts.scratch]].
  */
object Scratch {
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    sys.addShutdownHook(delete(p))
    p
  }

  /** Recursive delete; safe when the dir (or a child) is already gone. */
  private[sources] def delete(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }
}
