package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dev tool: scale a test-data directory up N× by unioning key-shifted
  * copies — the sf1 scale-rehearsal input (VERDICT r7 item 7). Each
  * copy shifts every key column by `copy * (max(key)+1)`, so PK
  * uniqueness and every FK join relationship (orders↔customer,
  * lineitem↔orders/part/supplier, events↔user) survive exactly; tiny
  * dims (region, nation) stay single-copy like TPC-H scaling does.
  * Document text gets a per-copy suffix so the dedup operators don't
  * see a corpus that is 90% exact duplicates (which would collapse
  * their work instead of scaling it).
  *
  * Timing rehearsal only — the DuckDB oracle gate stays on the
  * driver's read-only sf dirs.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> <copies> [tables]
  * `tables` is an optional comma-separated subset (default: all) so a
  * deep-scale rehearsal (e.g. sf10 events for the streaming family)
  * need not pay for a 60M-row lineitem it never reads.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
      else None
    only.foreach { ts =>
      val unknown = ts -- Tables.all.toSet
      require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(",")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = Tables.localSession(cpus)

    val shiftCols: Map[String, Seq[String]] = Map(
      "region" -> Nil,
      "nation" -> Nil,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    Tables.all.filter(n => only.forall(_.contains(n))).foreach { name =>
      val df = Tables.load(spark, src, name)
      val keys = shiftCols(name)
      val scaled =
        if (keys.isEmpty) df
        else {
          val strides = keys.map { c =>
            c -> (df.agg(max(col(c))).head.getLong(0) + 1L)
          }.toMap
          (0 until copies).map { i =>
            val shifted = keys.foldLeft(df)((d, c) =>
              d.withColumn(c, col(c) + lit(i * strides(c))))
            if (name == "documents" && i > 0)
              shifted.withColumn("text",
                concat(col("text"), lit(s" copyseed$i")))
            else shifted
          }.reduce(_ union _)
        }
      // events: persist ts as nanos-in-INT64 so Tables.loadEvents'
      // nanosAsLong + div-1000 read path works identically on the
      // generated dir and the driver's originals
      val persisted =
        if (name == "events")
          scaled.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
        else scaled
      persisted.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name -> $out/$name.parquet")
    }
    spark.stop()
  }
}
