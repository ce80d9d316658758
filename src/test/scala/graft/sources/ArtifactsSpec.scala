package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The build-once artifact lifecycle (Artifacts): a scratch artifact is
  * built once per key however many callers race it, a failed build is
  * never served and leaves nothing behind, nested builds neither throw
  * nor deadlock, a catalog-table store rebuilds when its marker is gone,
  * a corpus store rebuilds exactly when its corpus changes, and a JVM
  * that exits removes its scratch dirs.
  */
class ArtifactsSpec extends SparkSpec {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def all[T](fs: Seq[Future[T]]): Seq[T] =
    Await.result(Future.sequence(fs), 120.seconds)

  test("concurrent first calls on one key build once and share the dir") {
    val builds = new AtomicInteger(0)
    val dirs = all((1 to 8).map(_ => Future {
      Artifacts.scratch("graft_artifacts_once_", "k") { d =>
        builds.incrementAndGet()
        Thread.sleep(200)
        Files.write(Paths.get(d, "data"), Array[Byte](1))
        d
      }
    }))
    assert(builds.get === 1)
    assert(dirs.distinct.size === 1)
    assert(Files.exists(Paths.get(dirs.head, "data")))
  }

  test("a throwing scratch build is never served, its dir is gone, the next call rebuilds") {
    var failedDir = ""
    val e = intercept[IllegalStateException] {
      Artifacts.scratch("graft_artifacts_fail_", "k") { d =>
        failedDir = d
        Files.write(Paths.get(d, "partial"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    assert(failedDir.nonEmpty && !Files.exists(Paths.get(failedDir)),
      "a failed build's dir must be deleted")
    val builds = new AtomicInteger(0)
    val d2 = Artifacts.scratch("graft_artifacts_fail_", "k") { d =>
      builds.incrementAndGet(); d
    }
    assert(builds.get === 1)
    assert(d2 !== failedDir)
    assert(Artifacts.scratch("graft_artifacts_fail_", "k")(_ => "rebuilt") === d2)
  }

  test("nested builds neither throw nor deadlock") {
    // many keys, many threads, each outer build ensuring an inner one —
    // the shape that throws "Recursive update" inside a map's bin lock
    val pairs = all((0 until 64).map(i => Future {
      Artifacts.scratch("graft_artifacts_outer_", i) { _ =>
        Artifacts.scratch("graft_artifacts_inner_", i % 4)(identity)
      }
    }))
    assert(pairs.distinct.size === 4)
    // the engine's own nested pair: the CDC merge scratch copies the
    // dated layout, raced from two threads
    val stores = all(Seq.fill(2)(Future(CdcMerge.ensureMergeScratch(spark, sfDir))))
    assert(stores.distinct.size === 1)
    val dated = TimePartitionedStore.ensureDatedLayout(spark, sfDir)
    assert(spark.read.parquet(stores.head).count() === spark.read.parquet(dated).count())
  }

  test("deleting a table's _GRAFT_GROWN marker forces a rebuild and moves the marker") {
    val name = "graft_artifacts_spec_table"
    val builds = new AtomicInteger(0)
    def ensure(): Unit = Artifacts.table(spark, name) {
      builds.incrementAndGet()
      spark.range(10).write.saveAsTable(name)
    }
    try {
      ensure(); ensure()
      assert(builds.get === 1, "a marked table must not rebuild")
      val marker = Artifacts.tableMarker(spark, name)
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val before = fs.getFileStatus(marker).getModificationTime
      fs.delete(marker, false)
      Thread.sleep(1100) // past the filesystem's mtime granularity
      ensure()
      assert(builds.get === 2, "an unmarked table must rebuild")
      assert(fs.getFileStatus(marker).getModificationTime > before)
      assert(spark.table(name).count() === 10L)
      val loc = FsPaths.warehouseTablePath(spark, name)
      assert(!fs.exists(new Path(loc.getParent, loc.getName + ".lock")),
        "the cross-JVM lock must be released")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("a corpus store loads while its corpus is unchanged and rebuilds when it changes") {
    val root = Scratch.tempDir("graft_artifacts_corpus_")
    val corpus = s"$root/documents.parquet"
    val store = new Path(root, "store")
    spark.range(5).write.parquet(corpus)
    val builds = new AtomicInteger(0)
    def ensure(): Option[Int] = Artifacts.corpusStore(spark, store, corpus) { tmp =>
      spark.range(3).write.parquet(tmp.toString)
      builds.incrementAndGet()
    }
    assert(ensure() === Some(1))
    assert(FsPaths.readString(spark, new Path(store, "_GRAFT_COMPLETE"))
      .contains(FsPaths.dirFingerprint(spark, corpus)))
    assert(ensure() === None, "an unchanged corpus must load, not build")
    assert(builds.get === 1)
    spark.range(6).write.mode("overwrite").parquet(corpus)
    assert(ensure() === Some(2), "a changed corpus must rebuild")
    assert(spark.read.parquet(store.toString).count() === 3L)
  }

  test("a JVM that builds a scratch artifact and exits leaves no dir behind") {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val p = new ProcessBuilder(javaBin, "-Xmx256m",
        "-cp", sys.props("java.class.path"), "graft.sources.ArtifactsScratchWorker")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
    assert(p.waitFor() === 0, out)
    val dir = out.linesIterator.toSeq.last
    assert(dir.contains("graft_artifacts_fork_"), out)
    assert(!Files.exists(Paths.get(dir)), s"scratch dir survived its JVM: $dir")
  }
}

/** Forked by ArtifactsSpec: builds one scratch artifact, prints its dir
  * and exits normally.
  */
object ArtifactsScratchWorker {
  def main(args: Array[String]): Unit = {
    val dir = Artifacts.scratch("graft_artifacts_fork_", "k") { d =>
      Files.write(Paths.get(d, "data"), Array[Byte](1))
      d
    }
    println(dir)
  }
}
