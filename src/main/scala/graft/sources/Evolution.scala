package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-drift-tolerant ingest: read a sequence of parquet snapshots
  * whose schemas EVOLVED over time (columns added, integer types
  * widened) into one frame under a declared canonical schema.
  *
  * Why not `mergeSchema`: Spark's parquet schema merge unions column
  * *sets* but refuses conflicting *types* — an `INT32` column later
  * rewritten as `INT64` fails the whole read, which is exactly the
  * drift a years-long 100 TB ingest accumulates. The scalable contract
  * is explicit: the caller DECLARES the canonical schema, every
  * snapshot is read under its own footer schema, missing columns
  * become typed NULLs, present columns are cast (widening only —
  * casts here never truncate because the canonical type is the widest
  * ever observed), and the union is by position over the now-identical
  * projections.
  *
  * Scale shape: each snapshot's normalization is a narrow projection
  * fused into its own scan (column pruning still reaches the footer —
  * only canonical columns are read), and `unionAll` of N snapshots is
  * plan-level concatenation: zero shuffle, no driver materialization,
  * snapshots stream independently. The provenance column costs
  * nothing (a literal per branch) and is what incremental consumers
  * filter on — that filter prunes whole snapshot directories.
  */
object Evolution {

  /** Read `paths` (snapshot-id -> parquet path) under `canonical`,
    * tagging each row with its snapshot id in column `idCol`. */
  def readUnion(spark: SparkSession, paths: Seq[(String, String)],
      canonical: StructType, idCol: String = "snapshot_id"): DataFrame = {
    require(paths.nonEmpty, "at least one snapshot path required")
    val frames = paths.map { case (snapId, path) =>
      val raw = Tables.readParquet(spark, path)
      val have = raw.schema.fieldNames.toSet
      val cols = canonical.fields.map { f =>
        if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      raw.select(lit(snapId).as(idCol) +: cols.toSeq: _*)
    }
    frames.reduce(_.unionAll(_))
  }
}
