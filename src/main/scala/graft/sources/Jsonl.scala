package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSONL (newline-delimited JSON) source/sink — the de-facto
  * interchange format for training-data corpora.
  *
  * Reads are DECLARED-SCHEMA only: schema inference reads the data
  * twice and silently widens types on dirty corpora, so (like Csv)
  * the schema is an explicit argument. Corrupt lines land in a
  * `_corrupt_record` column instead of failing the job when
  * `keepCorrupt` is set — at 100 TB a malformed line is a data-quality
  * fact to quarantine, not a reason to kill the ingest. */
object Jsonl {

  def read(spark: SparkSession, path: String, schema: StructType,
      keepCorrupt: Boolean = false): DataFrame = {
    val base = spark.read
      .schema(if (keepCorrupt) schema.add("_corrupt_record", "string")
        else schema)
      .option("mode", if (keepCorrupt) "PERMISSIVE" else "FAILFAST")
      // pin the quarantine column name: relying on the session default
      // (spark.sql.columnNameOfCorruptRecord) silently breaks the
      // isNull/isNotNull quarantine pattern under non-default configs
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    base.json(path)
  }

  /** Write as uncompressed JSONL part files (one JSON object per
    * line), the layout every downstream tokenizer pipeline accepts. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
}
