package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Corrupt-input quarantine at ingest — the FIRST operator a 100 TB
  * crawl ingest runs: separate the parseable from the garbage without
  * dying, and keep the garbage as a first-class, queryable table.
  *
  * Shape: the PERMISSIVE parse (corrupt lines land in
  * `_corrupt_record`, see [[Jsonl.read]]) is materialized to parquet
  * ONCE, then clean and quarantine views are narrow filters over the
  * materialized parse:
  *
  *   - parse-once: raw-text parsing is the expensive pass; deriving
  *     both outputs from the parquet materialization reads the bytes
  *     through the parser exactly once (re-deriving each side from
  *     the raw files would parse the corpus twice — and Spark
  *     disallows corrupt-column-only queries straight off raw
  *     JSON/CSV anyway);
  *   - nothing dropped: PERMISSIVE keeps every line (unlike
  *     DROPMALFORMED, which silently deletes data-quality evidence),
  *     so `clean + quarantined = input` is checkable — the gate a
  *     production ingest alerts on;
  *   - reasons, not booleans: the quarantine table carries a `reason`
  *     so per-reason counts can drive different fixes (malformed
  *     JSON → upstream writer bug; schema mismatch → evolve the
  *     declared schema).
  */
object Quarantine {

  /** The pinned corrupt-record column name (matches [[Jsonl.read]]). */
  val CorruptCol = "_corrupt_record"

  /** Reason classifier for JSONL ingests, schema-agnostic: a corrupt
    * row whose raw line is still well-formed JSON failed the DECLARED
    * SCHEMA (wrong types, structural mismatch); one that is not JSON
    * at all is malformed. Two different upstream bugs, two different
    * fixes. */
  def jsonReason(raw: Column): Column =
    when(get_json_object(raw, "$").isNotNull, lit("schema_mismatch"))
      .otherwise(lit("malformed_json"))

  /** Reason for CSV ingests: the text format cannot distinguish
    * structural from type corruption without re-tokenizing, so all
    * corrupt rows share one reason. */
  def csvReason(raw: Column): Column = lit("malformed_row")

  /** Split a PERMISSIVE-parsed frame (must carry [[CorruptCol]]) into
    * (clean, quarantine): materializes the parse under
    * `target/ingest/<name>/parsed`, writes the quarantine table
    * (raw line + reason) under `.../quarantine`, and returns both
    * sides READ BACK from the written files — the gate checks the
    * tables an operator would actually hand downstream, not the
    * in-memory plan. */
  def ingest(spark: SparkSession, parsed: DataFrame, name: String,
      reason: Column => Column = jsonReason): (DataFrame, DataFrame) = {
    require(parsed.columns.contains(CorruptCol),
      s"ingest expects a PERMISSIVE parse carrying $CorruptCol " +
        "(read with keepCorrupt = true)")
    val root = java.nio.file.Paths.get("target", "ingest", name)
      .toAbsolutePath.toString
    parsed.write.mode(SaveMode.Overwrite).parquet(s"$root/parsed")
    val back = Tables.readParquet(spark, s"$root/parsed")
    back.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol).as("raw"),
        reason(col(CorruptCol)).as("reason"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/quarantine")
    (back.filter(col(CorruptCol).isNull).drop(CorruptCol),
      Tables.readParquet(spark, s"$root/quarantine"))
  }
}
