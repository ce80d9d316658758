package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered lane: everything the tools need to know about it in one
  * record, declared once in [[SparkEntry.lanes]].
  *
  * @param run    builds the lane's DataFrame from a session and a corpus dir
  * @param oracle how the correctness gate checks the result (see [[Lane.Oracle]])
  * @param build  the idempotent store/stage build the lane probes, if it is
  *               ingest-shaped. The bench times it separately
  *               (`queries_build`), so index construction and probe stop
  *               conflating — the round-8 sf1 drill's two "outliers"
  *               (dedup_cluster_survivors 12.7×, dedup_lsh_grown pre-fix
  *               12.6×) were both build cost riding on the first probe
  *               reading. Families sharing one store give every member
  *               the same build; whichever member runs first pays it in
  *               its own build_s (the rest read ~0).
  */
final case class Lane(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Lane.Oracle,
    build: Option[(SparkSession, String) => Unit] = None)

object Lane {

  /** How the DuckDB correctness gate treats a lane's rows. */
  sealed trait Oracle

  /** DuckDB SQL over the corpus tables that must return the lane's rows
    * exactly (sorted columns, sorted rows, exact values).
    */
  final case class Sql(text: String) extends Oracle

  /** No oracle SQL: the rows depend on state SQL cannot re-derive (an
    * approximate graph walk whose hit set follows construction order), so
    * the spec class `gatedBy` pins the lane's contract (a recall floor)
    * instead, and the gate only checks that rows come back.
    */
  final case class RowsOnly(gatedBy: String) extends Oracle

  /** `lanes` unchanged, or fails naming each lane declared twice. */
  def unique(lanes: Seq[Lane]): Seq[Lane] = {
    val twice = lanes.groupBy(_.name).collect { case (n, ls) if ls.size > 1 => n }
    require(twice.isEmpty, s"lane names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    lanes
  }
}
