package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** `SPARK_GRAFT_BENCH_RUNS`, the runs per entry of [[Bench]] and
    * [[JobCount]]: a positive int, 3 when unset. */
  private[graft] def runsPerEntry(): Int =
    sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .map(v => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_BENCH_RUNS must be a positive int, got '$v'")))
      .getOrElse(3)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // This host shows ±50% run-to-run noise (BENCH_r02 totals ranged
    // 82-125 s same-day), so each query runs `runs` times and the
    // reported figure is the MEDIAN; `spread` (max-min) is emitted
    // per query so a noisy run is visible instead of alarming.
    val runs = runsPerEntry()
    val spark = graft.sources.Tables.localSession(cpus)
    // Warm the JVM/codegen/parquet-reader infrastructure once so the
    // first timed query doesn't absorb one-time setup cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // warm-up must not kill the run: a missing/bad data dir should
    // surface as per-query errors in the JSON line, not a crash
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // Time a noop-sink write, not count(): under count() Catalyst prunes
    // every projection/sort, silently flattering expression-heavy queries.
    // The noop v2 sink consumes all output columns with zero IO cost.
    // A throwing query must surface as an ERROR, not bench as a
    // near-zero median that reads green-fast: record the exception
    // class per query and keep errored queries out of `total`.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    def median(sorted: Seq[Double]): Double =
      if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
    // Optional comma-separated name-prefix filter for timing a subset
    // (iteration aid; the driver's full run leaves it unset).
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      nameFilter.forall(_.exists(name.startsWith)) }
    // INTERLEAVED passes (suite-pass A, then B, then C) rather than
    // back-to-back repeats of each query: this host's noise arrives as
    // sustained multi-second stall WINDOWS (r9 evidence: 1 of 21
    // identical g1 runs took 35.0 s with max GC pause 39 ms; in r8's
    // driver snapshot one window swallowed all 3 consecutive g1 runs,
    // min 21.5 s, and the median learned nothing). With passes minutes
    // apart, a stall window inflates at most one of a query's samples
    // and the cross-pass median stays clean.
    val outcomesByName =
      scala.collection.mutable.LinkedHashMap[String, Vector[(Double, Option[String])]]()
    (1 to runs).foreach { _ =>
      selected.foreach { case (name, fn) =>
        outcomesByName(name) =
          outcomesByName.getOrElse(name, Vector.empty) :+ timeOnce(fn)
      }
    }
    val results = outcomesByName.map { case (name, outcomes) =>
      val times = outcomes.map(_._1).sorted
      name -> (median(times), times.head, times.last,
        outcomes.flatMap(_._2).headOption)
    }
    // errored queries emit null (not their near-zero fail-fast times)
    // so per-query regression tracking can never read a broken query
    // as the suite's fastest
    // millisecond precision keeps the line compact (the caller captures
    // a bounded tail of stdout); sub-ms digits are pure noise here
    def r3(x: Double): String = {
      val s = (math.rint(x * 1000) / 1000).toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
    def jmap(f: ((String, (Double, Double, Double, Option[String]))) => Double)
        : String =
      results.map { case (k, v) =>
        s"\"" + k + "\":" + (if (v._4.isDefined) "null" else r3(f(k -> v)))
      }.mkString("{", ",", "}")
    // median + min + max per query (the spread between fresh-JVM runs
    // is the signal that separates host noise from code regressions)
    val qs = jmap(_._2._1)
    val mins = jmap(_._2._2)
    val maxs = jmap(_._2._3)
    val errs = results.collect { case (k, (_, _, _, Some(e))) =>
      s"\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    val total = results.values.collect { case (m, _, _, None) => m }.sum
    val nErr = results.values.count(_._4.isDefined)
    val detail = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"n_queries":${results.size},"n_errors":$nErr,"errors":$errs,"queries":$qs,"min":$mins,"max":$maxs,"sf":"$sfDir"}"""
    // Full per-query detail (all queries + spreads + errors) goes to a
    // file and an early stdout line; the caller only keeps a ~2000-char
    // TAIL of stdout and parses its LAST line, so the final line must
    // be a compact contract line that provably fits that window. The
    // detail line alone is >4 KB at 120+ queries — emitting it last is
    // exactly why rounds 1-5 recorded "parsed": null.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detail + "\n")
    println(detail)
    // Compact final line: total + the slowest queries, dropped from the
    // end until the line fits well inside the tail window.
    val slowest = results.toSeq.collect { case (k, (m, _, _, None)) => k -> m }
      .sortBy(-_._2)
    def compact(n: Int): String = {
      val top = slowest.take(n)
        .map { case (k, m) => s"\"" + k + "\":" + r3(m) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"n_queries":${results.size},"n_errors":$nErr,"queries_are_slowest":$n,"detail":"BENCH_DETAIL.json","queries":$top,"sf":"$sfDir"}"""
    }
    val line = (24 to 0 by -1).map(compact).find(_.length <= 1800).get
    println(line)
    // Nothing may print after the contract line: stop() can emit WARN
    // shutdown-hook chatter that would displace it as the tail's last
    // line, so drop to ERROR for the teardown.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
  }
}
