package graft

/** Local smoke of the driver's t1 gate: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.sources.Tables.localSession(cpus)
    val df = SparkEntry.entry(spark)
    df.show(truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
