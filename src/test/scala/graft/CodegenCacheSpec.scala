package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

import graft.catalog.Warehouse
import graft.etl.WorldCup
import graft.streaming.Streams

/** Spark keeps the classes it generates in one JVM-wide cache, sized by
  * `spark.sql.codegen.cache.maxEntries` (`Tables.sessionConfs`). A
  * product that reruns the same pass must find every class of it there:
  * a cache smaller than the pass's working set evicts each class before
  * the next pass asks for it again, so every pass recompiles. The cache
  * is keyed by class loader too, so a pass must also run its code under
  * the loader it ran it under before (streaming queries run on session
  * clones). */
class CodegenCacheSpec extends SparkSpec {

  private lazy val fixturesDir: String =
    getClass.getResource("/worldcup").getPath

  /** The loaded tables, parents before children: the FK closure of
    * `tournament_team`, plus `stage`. */
  private val loaded = Seq("confederation", "federation", "team", "stage",
    "tournament", "tournament_team")

  /** One ELT pass: build every table frame, load six with PK/FK
    * validation, export the database, import it back, preview each
    * loaded table. */
  private def pass(src: String => DataFrame): Unit = {
    val tables = WorldCup.build(spark, src)
    loaded.foreach { t =>
      val v = Warehouse.load(spark, tables(t), WorldCup.metas(t))
      assert(v.isEmpty, v)
    }
    val dir = Files.createTempDirectory("graft-codegen").toString
    Warehouse.exportDatabase(spark, dir)
    assert(Warehouse.importDatabase(spark, dir).toSet == loaded.toSet)
    loaded.foreach(t =>
      assert(Warehouse.preview(spark, t).collect().nonEmpty, t))
  }

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated ELT pass compiles no class") {
    Warehouse.clear()
    try {
      val src = WorldCup.csvSources(spark, fixturesDir)
      val c0 = compiled
      pass(src)
      val first = compiled - c0
      val c1 = compiled
      pass(src)
      assert(compiled - c1 == 0, s"the first pass compiled $first classes")
    } finally Warehouse.clear()
  }

  test("a repeated bounded streaming gate run compiles no class") {
    import spark.implicits._
    val base = 1700000000L
    val src = Files.createTempDirectory("graft-codegen-stream")
      .resolve("events").toString
    val events = Seq((1L, 101L, 0L), (1L, 102L, 300L), (2L, 201L, 50L),
        (2L, 202L, 60L))
      .map { case (u, id, off) =>
        (u, id, new java.sql.Timestamp((base + off) * 1000L)) }
      .toDF("user_id", "event_id", "ts")
    events.write.parquet(src)
    def run(): Seq[org.apache.spark.sql.Row] =
      Streams.runAvailableNowToDir(spark,
        Streams.streamingIntervalSelfJoin(
          spark.readStream.schema(events.schema).parquet(src), "user_id",
          "event_id", "ts", delay = "1 hour", withinSec = 600),
        "codegen_gate").orderBy("id_a", "id_b").collect().toSeq
    val c0 = compiled
    val first = run()
    val firstCompiled = compiled - c0
    val c1 = compiled
    assert(run() == first && first.size == 2)
    assert(compiled - c1 == 0,
      s"the first run compiled $firstCompiled classes")
  }
}
