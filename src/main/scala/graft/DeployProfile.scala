package graft

import org.apache.spark.sql.SparkSession

/** Deploy-time configuration contract, distilled from the measured
  * scale drills (BASELINE.md, rounds 8–9) so the knowledge ships as
  * code instead of prose. Two profiles:
  *
  *   - [[local]] — the committed bench/verify config: the protocol
  *     records (BENCH_r*.json) and the oracle gate both run under
  *     exactly this map, and DeployProfileSpec pins it so the
  *     recorded numbers stay reproducible from source.
  *   - [[cluster]] — the multi-executor posture the drills point at.
  *     On local[32] the A/B showed `initialPartitionNum=256` is a
  *     net LOSS (69.6 → 77.5 s: 32 partitions already equal the core
  *     count, extra ones only add task/shuffle-file overhead); on a
  *     real cluster the same knob IS the scale-out path — parallelism
  *     comes from executors, and AQE coalescing makes a high initial
  *     number free. The profile encodes both sides of that result.
  *
  * Sizing rules carried with the profiles:
  *   - `spark.sql.files.maxPartitionBytes` stays at the 128 MB
  *     default as an explicit INGEST CONTRACT: the sf1 drill measured
  *     12–50× super-linear scans from a single-row-group mega-file;
  *     tables must be written as splittable ~128 MB files (the
  *     GenData multi-file layout) for any of this to hold at 100 TB.
  *   - [[ivfLists]]: IVF cell count tracks √N so per-query work stays
  *     at nProbe·√N (the sf10 drill's 253×-candidate growth was the
  *     bench's fixed K=16 coupling, not an engine property).
  *   - [[localDriverMemFloorGb]]: the measured single-JVM floor — 8 g
  *     OOMs at sf1 in the winnow final agg; the protocol runs used
  *     32 g from sf1 up.
  */
object DeployProfile {

  /** Local core count: the `SPARK_GRAFT_CPUS` deployment setting when
    * set, else every core the JVM sees.
    */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The committed local/single-JVM config — what every protocol
    * bench record and oracle-gate run in BASELINE.md was measured
    * under. Shuffle partitions = core count: on one box the core
    * count bounds useful parallelism, and the rejected A/B above is
    * the recorded evidence.
    */
  def local(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Multi-executor posture for `executors × coresPerExecutor` total
    * cores: shuffle partitions at 2× total cores (slot headroom for
    * stragglers), AQE initial partitions at 4× so skewed/oversized
    * stages start fine-grained and coalesce back for free, skew-join
    * splitting on, and the 128 MB splittable-file scan contract made
    * explicit. Executor memory is a deploy input, not something the
    * engine can infer.
    */
  def cluster(executors: Int, coresPerExecutor: Int = 4,
              executorMemGb: Int = 16): Map[String, String] = {
    require(executors > 0 && coresPerExecutor > 0 && executorMemGb > 0)
    val totalCores = executors.toLong * coresPerExecutor
    Map(
      "spark.executor.instances" -> executors.toString,
      "spark.executor.cores" -> coresPerExecutor.toString,
      "spark.executor.memory" -> s"${executorMemGb}g",
      "spark.sql.shuffle.partitions" -> (totalCores * 2).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        (totalCores * 4).toString,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      "spark.sql.session.timeZone" -> "UTC")
  }

  /** IVF cell count ~ √N (floor 16 = the committed small-SF K): keeps
    * per-query candidate work at nProbe·√N as the corpus grows.
    */
  def ivfLists(nVectors: Long): Int =
    math.max(16L, math.round(math.sqrt(nVectors.toDouble))).toInt

  /** Measured driver-heap floor for single-JVM runs by scale factor:
    * 8 g holds through sf0.1; sf1+ needs 32 g (OOM otherwise in the
    * widest final aggregations).
    */
  def localDriverMemFloorGb(sf: Double): Int = if (sf >= 1.0) 32 else 8

  /** Fold a profile into a session builder (`spark.master` rides the
    * map, so `configure(builder, local(32))` is the whole setup).
    */
  def configure(b: SparkSession.Builder,
                profile: Map[String, String]): SparkSession.Builder =
    profile.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
