package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.DeployProfile

object Sessions {
  /** The committed local profile (`DeployProfile.local`), with all
    * scratch under the run's temp root. */
  def create(cpus: Int, scratch: String): SparkSession = {
    val s = DeployProfile.configure(SparkSession.builder().appName("perfbench"),
        DeployProfile.local(cpus))
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Local property that tags each job with the harness span that
    * submitted it. */
  val SpanProp = "perfbench.span"

  /** Runs `f` with its Spark jobs tagged by the innermost open span. */
  def tagged[A](spark: SparkSession, t: Tracer)(f: => A): A =
    if (!t.enabled) f
    else {
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, t.currentSpan.toString)
      try f finally sc.setLocalProperty(SpanProp, saved)
    }
}

final case class StageRec(stageId: Int, span: Long, startNs: Long, endNs: Long,
                          tasks: Int, taskMs: Long, gcMs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          inputBytes: Long, inputRows: Long, taskDurMs: Seq[Long])

final case class JobRec(jobId: Int, span: Long, startNs: Long, endNs: Long)

/** Spark listener for job, stage and task intervals, attributed to the
  * harness span that was open when the job was submitted. Listener
  * events arrive asynchronously: call [[drain]] before reading.
  */
final class SparkProbe(t: Tracer) extends SparkListener {
  // epoch millis -> the tracer's nanoTime base
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val taskDur = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val running = new AtomicInteger(0)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Sessions.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    running.incrementAndGet()
    val span = spanOf(e.properties)
    jobStart.put(e.jobId, (span, ns(e.time)))
    e.stageIds.foreach(id => stageSpan.put(id, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (span, start) =>
      jobs.add(JobRec(e.jobId, span, start, ns(e.time)))
      t.record(Span(t.newId(), span, 0L, "spark.job", start, ns(e.time)))
    }
    running.decrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskDur.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val span = stageSpan.getOrDefault(i.stageId, 0L)
    val start = ns(i.submissionTime.getOrElse(0L))
    val end = ns(i.completionTime.getOrElse(0L))
    val durs = Option(taskDur.remove(i.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    if (m != null)
      stages.add(StageRec(i.stageId, span, start, end, i.numTasks,
        m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, durs))
    t.record(Span(t.newId(), span, 0L, "spark.stage", start, end))
  }

  /** Waits until every started job has ended and the bus has settled. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (running.get() > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def stagesUnder(spans: Set[Long]): Seq[StageRec] = stages.asScala.toSeq.filter(s => spans(s.span))
  def jobsUnder(spans: Set[Long]): Seq[JobRec] = jobs.asScala.toSeq.filter(j => spans(j.span))
}

/** Collects the planning time of each `noop` sink write: the command's
  * QueryExecution records its optimization and physical-planning phases.
  */
final class WritePlanProbe extends QueryExecutionListener {
  val planNs = new ConcurrentLinkedQueue[Long]()
  val writes = new AtomicInteger(0)

  // the lanes' `noop` writes use mode("overwrite")
  private def isNoopWrite(qe: QueryExecution): Boolean =
    qe.logical.getClass.getSimpleName == "OverwriteByExpression"

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (isNoopWrite(qe)) {
      val phases = qe.tracker.phases
      planNs.add(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
      writes.incrementAndGet()
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (isNoopWrite(qe)) writes.incrementAndGet()

  def awaitWrites(n: Int): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (writes.get() < n && System.nanoTime() < deadline) Thread.sleep(5)
  }
}
