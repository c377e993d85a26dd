package graft

/** Dump formatted physical plans for selected catalog queries (dev
  * tool for the plan-review loop: check PushedFilters / ReadSchema /
  * broadcast choices / shuffle counts before trusting a query). */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // plan shape can depend on parallelism (e.g. whether ReusedExchange
    // kicks in is independent, but AQE coalescing/broadcast estimates
    // aren't) — allow dumping at the bench's exact config
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val names = if (args.nonEmpty) args.toSeq else graft.queries.Catalog.specs.map(_.name)
    val spark = graft.sources.Tables.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try graft.queries.Catalog.byName(n).run(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
