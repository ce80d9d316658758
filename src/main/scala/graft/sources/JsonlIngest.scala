package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Schema-enforced semi-structured ingestion with a quarantine lane —
  * the landing-zone pattern for 100 TB pipelines fed by JSONL dumps:
  * parse with an explicit schema in PERMISSIVE mode, route lines that
  * fail the schema to a `_corrupt` column instead of failing the job,
  * and account for both lanes exactly (a silent drop in a trillion-line
  * ingest is unfindable later).
  *
  * The registered query is a full round trip: documents → JSONL text
  * files (every doc_id ≡ 3 (mod 17) truncated to a deliberately
  * malformed line) → schema-enforced re-read → per-lane accounting. The
  * oracle recomputes the same accounting from the documents table and
  * the corruption rule — matching it proves serialize, corrupt, parse,
  * and quarantine all behaved byte-exactly.
  *
  * Scale: text write/read and JSON parse are per-row, shuffle-free; the
  * only exchange is the final constant-cardinality accounting agg.
  */
object JsonlIngest {

  /** Serialize docs to JSONL under `tmpDir`, corrupting every
    * doc_id ≡ 3 (mod 17) line by truncation (drops the closing brace,
    * so the line can never parse as the enforced schema).
    */
  def writeCorrupted(spark: SparkSession, dir: String, tmpDir: String): Unit =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        to_json(struct(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))).as("j"))
      .select(when(col("doc_id") % 17 === 3,
          expr("substring(j, 1, length(j) - 5)")).otherwise(col("j")).as("value"))
      .write.mode("overwrite").text(tmpDir)

  /** Re-read with the enforced schema; malformed lines land in
    * `_corrupt` with every data column null.
    */
  def readWithQuarantine(spark: SparkSession, tmpDir: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(tmpDir)

  /** One corrupted-JSONL dump per (JVM, source dir): the write is a full
    * Spark job, so registry enumeration (plan audits, bench, verify all
    * construct every query) must not re-run it.
    */
  private def corruptedJsonlDir(spark: SparkSession, dir: String): String =
    Artifacts.scratch("graft_jsonl_", dir) { p =>
      writeCorrupted(spark, dir, p)
      p
    }

  /** The oracle-gated round trip: per-lane counts + exact n_chars sums
    * (quarantined lines contribute 0 — their fields are null by
    * contract). Lanes are routed on the ACTUAL corruption signal — the
    * `_corrupt` column the PERMISSIVE read populates — not on a
    * null-data-column proxy: a syntactically valid line with a null lang
    * must land in its own (null) lane, not be miscounted as quarantined.
    */
  def quarantineAccounting(spark: SparkSession, dir: String): DataFrame =
    readWithQuarantine(spark, corruptedJsonlDir(spark, dir))
      .groupBy(when(col("_corrupt").isNotNull, lit("_quarantined"))
        .otherwise(col("lang")).as("lane"))
      .agg(count(lit(1)).as("n_lines"),
           sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"),
           sum(coalesce(col("doc_id"), lit(0L))).as("id_sum"))
      .orderBy(col("lane"))
}
