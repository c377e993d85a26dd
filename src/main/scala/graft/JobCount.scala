package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: run selected catalog queries once (noop sink) with a
  * listener that logs every Spark job — id, duration, description —
  * and a per-query job-count summary. The evidence tool for changes
  * whose effect is JOB STRUCTURE rather than final-plan shape
  * (convergence-loop materializations, audit rides, checkpoint
  * removals): the final frame's `.explain` cannot show those, the
  * job log can (VERDICT r17 item 6 — capture evidence at the changed
  * stage). */
object JobCount {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.sources.Tables.localSession(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val desc = prop("spark.job.description")
          .orElse(prop("callSite.short")).getOrElse("")
        starts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        nJobs.incrementAndGet()
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          lines.add((je.jobId,
            f"[job] id=${je.jobId}%4d ${(je.time - t0) / 1000.0}%7.2f s  $desc"))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    args.foreach { n =>
      lines.clear(); nJobs.set(0)
      val t0 = System.nanoTime()
      graft.queries.Catalog.byName(n).run(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // let straggler async job-end events drain before reading the
      // counter (dev tool: a settle loop is enough — the bus is
      // private[spark])
      var prev = -1
      while (nJobs.get != prev) { prev = nJobs.get; Thread.sleep(300L) }
      import scala.jdk.CollectionConverters._
      lines.asScala.toSeq.sortBy(_._1).foreach(l => println(l._2))
      println(f"[jobcount] $n: jobs=${nJobs.get} wall=$wall%.2f s")
    }
    spark.stop()
  }
}
