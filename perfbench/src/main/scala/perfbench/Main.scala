package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** One benchmark run in one JVM: one client in a closed loop over the
  * workload's ops. It sets up, timed from process start, runs a cold
  * pass, runs warm passes for `--seconds`, writes every output-check frame
  * once, and writes its raw record as JSON to `--out`. At least
  * `--min-warm` warm passes run. With `--trace 1` the even warm passes (and
  * the cold pass) run with the listeners attached and the odd ones
  * without, so the tracing overhead is measured inside the same run. With
  * `--setup-only 1` it writes the set-up's record and exits, so run.py can
  * time more cold set-ups in fresh JVMs. Metrics are derived from the
  * record by run.py. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val w = Workload(opt("workload"), opt("data"), work, opt("seed").toLong)

    val spark = Tables.withSessionConfs(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    w.setup(spark)
    val setup = Map(
      "setup_s" -> (System.currentTimeMillis() - processStartMs()) / 1e3,
      "sources_s" -> (System.nanoTime() - t0) / 1e9)
    if (opt.get("setup-only").contains("1")) {
      Files.writeString(Paths.get(opt("out")),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(setup))
      spark.stop()
      sys.exit(0)
    }

    val recorder = if (trace) Some(new Recorder) else None
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    def runPass(pass: Int, traced: Boolean): Unit = {
      val sc = spark.sparkContext
      val list = w.ops(spark, pass)
      if (traced) recorder.get.attach(spark)
      val (t0, t0ms) = (System.nanoTime(), System.currentTimeMillis())
      list.zipWithIndex.foreach { case (op, i) =>
        val id = s"p$pass.$i"
        val marks = new Marks(spark)
        sc.setLocalProperty(Recorder.OpProp, id)
        val (s0, s0ms) = (System.nanoTime(), System.currentTimeMillis())
        val error =
          try { op.body(marks); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        val secs = (System.nanoTime() - s0) / 1e9
        val endMs = System.currentTimeMillis()
        sc.setLocalProperty(Recorder.OpProp, null)
        ops += Map("id" -> id, "pass" -> pass, "name" -> op.name, "layer" -> op.layer,
          "secs" -> secs, "start" -> s0ms, "end" -> endMs, "error" -> error,
          "traced" -> traced,
          "counters" -> (if (error.isEmpty) op.after() else Map.empty),
          "phases" -> marks.phases.map { case (n, a, b) =>
            Map("name" -> n, "start" -> a, "end" -> b) })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      if (traced) recorder.get.detach(spark)
      passes += Map("pass" -> pass, "secs" -> secs, "traced" -> traced,
        "start" -> t0ms, "end" -> endMs, "live_heap_mb" -> liveHeapMb(sc))
    }

    runPass(0, trace)
    val minWarm = opt("min-warm").toInt
    val warm0 = System.nanoTime()
    var pass = 1
    while (pass <= minWarm || (System.nanoTime() - warm0) / 1e9 < seconds) {
      runPass(pass, trace && pass % 2 == 0)
      pass += 1
    }
    // The heap is pre-touched, so VmHWM holds all of it; what is left is the
    // native peak (threads, metaspace, code cache, buffers).
    val nativePeakMb = vmHwmMb() -
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

    // Output checks, untimed: every frame first, then the oracle SQL, since
    // late-bound oracles read what the runs stashed.
    val checkDir = s"$work/check"
    val checkList = w.checks(spark)
    val written = checkList.map { c =>
      try { c.frame().coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${c.oracle}"); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }
    val checks = checkList.zip(written).map { case (c, error) =>
      val oracle =
        try Right(SparkEntry.oracleSqlFiltered(_ == c.oracle).get(c.oracle))
        catch { case e: Throwable => Left(s"oracle: ${e.getMessage}".take(300)) }
      Map("name" -> c.oracle, "sort_rows" -> c.sortRows,
        "path" -> s"$checkDir/${c.oracle}",
        "error" -> error.orElse(oracle.left.toOption),
        "oracle" -> oracle.toOption.flatten)
    }

    val record = Map(
      "workload" -> opt("workload"), "seed" -> opt("seed").toLong,
      "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setup" -> setup, "passes" -> passes, "ops" -> ops, "checks" -> checks,
      "native_peak_mb" -> nativePeakMb,
      "records" -> recorder.map(r => r.records.toArray.toSeq).getOrElse(Nil))
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
    sys.exit(0)
  }

  /** When the OS started this process, in epoch milliseconds (to the
    * kernel's clock tick), so set-up includes the JVM's own start. */
  private def processStartMs(): Long =
    ProcessHandle.current().info().startInstant().get().toEpochMilli

  /** The heap still in use after a full collection, in MiB: what the
    * program keeps live, whatever G1's sizing of the young generation. The
    * listener bus is drained first, so events still queued do not count,
    * and the heap is collected twice, 250 ms apart, so the blocks that
    * Spark's ContextCleaner releases once their owners die do not count. */
  private def liveHeapMb(sc: SparkContext): Double = {
    PerfbenchBus.drain(sc)
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}
