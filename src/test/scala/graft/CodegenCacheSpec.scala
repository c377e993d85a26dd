package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

import graft.catalog.Warehouse
import graft.etl.WorldCup

/** Spark keeps the classes it generates in one JVM-wide cache, sized by
  * `spark.sql.codegen.cache.maxEntries` (`Tables.sessionConfs`). A
  * product that reruns the same pass must find every class of it there:
  * a cache smaller than the pass's working set evicts each class before
  * the next pass asks for it again, so every pass recompiles. */
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
}
