package graft

/** Dev tool: time selected catalog queries (3 noop-sink runs each) to
  * separate real regressions from the bench machine's ±50% noise. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // core count override so the scaling-evidence protocol (same
    // entries at 8 vs 32 cores, sf1) can use this tool directly
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.sources.Tables.localSession(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    // deep-scale rehearsals (sf10, minutes per run) dial this down
    val runs = sys.env.get("GRAFT_BENCH_RUNS")
      .map(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT_BENCH_RUNS must be a positive int, got '$v'")))
      .getOrElse(3)
    args.foreach { n =>
      val run = graft.queries.Catalog.byName(n).run
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        run(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[benchone] $n: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    }
    spark.stop()
  }
}
