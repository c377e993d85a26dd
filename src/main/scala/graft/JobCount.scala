package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool: run selected catalog queries `GRAFT_BENCH_RUNS` times each
  * (default 3, noop sink) with a listener attached that counts every
  * Spark job. Per entry it prints
  *
  *  - one `[job]` line per job of the FIRST run — id, duration and the
  *    graft frame that launched it ([[site]]);
  *  - `[jobcount] <name>: jobs=N wall=T s` for the first run, the line
  *    `tools/diff_jobcounts.py` compares;
  *  - `[runs] <name>: t1 t2 … s, jobs j1 j2 …` — every run's wall time
  *    and job count. The first run is cold (JVM warm-up, per-JVM
  *    training memos); read warm timings from the later runs.
  *
  * The evidence tool for changes whose effect is JOB STRUCTURE rather
  * than final-plan shape (convergence-loop materializations, audit
  * rides, checkpoint removals), and for separating a real per-entry
  * regression from run-to-run noise. Timings are taken with the
  * listener attached. */
object JobCount {

  /** First graft frame of a call-site text, skipping the policy module
    * every fork point calls so that the operator line is named. */
  private val Frame = """graft\.[\w$.]+\([\w$.]+:\d+\)""".r
  private def graftFrame(text: String): Option[String] =
    Frame.findAllIn(text).find(!_.startsWith("graft.operators.Materialize"))

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // core count override so the scaling-evidence protocol (same
    // entries at 8 vs 32 cores, sf1) can use this tool directly
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // deep-scale rehearsals (sf10, minutes per run) dial this down
    val runs = sys.env.get("GRAFT_BENCH_RUNS")
      .map(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT_BENCH_RUNS must be a positive int, got '$v'")))
      .getOrElse(3)
    val spark = graft.sources.Tables.localSession(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()

    // the call site of each SQL execution, by execution id
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    /** The launching graft frame of a job, from (1) its description,
      * (2) the call site of the SQL execution it runs for — the only
      * source for the stage jobs AQE submits from its own threads — or
      * (3) its stages' call sites. */
    def site(js: SparkListenerJobStart): String = {
      val p = Option(js.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      prop("spark.job.description").flatMap(graftFrame)
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => Option(execSites.get(id.toLong))).flatMap(graftFrame))
        .orElse(js.stageInfos.iterator.map(_.details).flatMap(graftFrame)
          .nextOption())
        .getOrElse("(no graft frame)")
    }
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time, site(js)))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        nJobs.incrementAndGet()
        Option(starts.remove(je.jobId)).foreach { case (t0, where) =>
          lines.add((je.jobId,
            f"[job] id=${je.jobId}%4d ${(je.time - t0) / 1000.0}%7.2f s  $where"))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    import scala.jdk.CollectionConverters._
    args.foreach { n =>
      val run = graft.queries.Catalog.byName(n).run
      val results = (1 to runs).map { r =>
        lines.clear(); nJobs.set(0)
        val t0 = System.nanoTime()
        run(spark, dir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // let straggler async job-end events drain before reading the
        // counter (dev tool: a settle loop is enough — the bus is
        // private[spark])
        var prev = -1
        while (nJobs.get != prev) { prev = nJobs.get; Thread.sleep(300L) }
        if (r == 1) {
          lines.asScala.toSeq.sortBy(_._1).foreach(l => println(l._2))
          println(f"[jobcount] $n: jobs=${nJobs.get} wall=$wall%.2f s")
        }
        (wall, nJobs.get)
      }
      println(s"[runs] $n: ${results.map(r => f"${r._1}%.2f").mkString(" ")}" +
        s" s, jobs ${results.map(_._2).mkString(" ")}")
    }
    spark.stop()
  }
}
