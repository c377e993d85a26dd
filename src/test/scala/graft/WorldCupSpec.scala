package graft

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.TestJobs
import org.apache.spark.sql.functions._

import graft.catalog.Warehouse
import graft.catalog.Warehouse.TableMeta
import graft.etl.WorldCup

/** End-to-end run of the full 27-table reference pipeline over the
  * micro-fixtures, checking the distinctive transform semantics
  * (FIXTURES.md §2 edge cases) plus constraint validation, ad-hoc SQL
  * over the loaded schema, and database export. */
class WorldCupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixturesDir: String =
    getClass.getResource("/worldcup").getPath

  /** The violations of one `loadAll`, and the Spark jobs it ran. */
  private lazy val loaded: (Seq[Warehouse.ConstraintViolation], Int) =
    TestJobs.during(spark.sparkContext) {
      Warehouse.clear()
      WorldCup.loadAll(spark, fixturesDir)
    }

  private def violations: Seq[Warehouse.ConstraintViolation] = loaded._1

  test("all 27 tables build and every PK/FK constraint validates") {
    assert(violations.isEmpty, violations.mkString("; "))
    assert(WorldCup.metas.size == 27)
    WorldCup.metas.keys.foreach(t => assert(spark.table(t).count() > 0, t))
  }

  test("loadAll stays within its Spark job floor") {
    // 253 measured with each validated table stored once and checked in
    // one execution; re-deriving every parent per check and per child
    // ran 329
    assert(loaded._2 <= 253, s"loadAll ran ${loaded._2} jobs")
  }

  test("event_type: replace-first underscore + super-type classification") {
    violations
    val et = spark.table("event_type")
      .select("name", "super_type").as[(String, String)].collect().toMap
    assert(et("second yellow_card") == "booking") // replace FIRST '_' only
    assert(et("own goal") == "goal")
    assert(et("coming on") == "substitution")
  }

  test("federation: Eurasia rewrite for 'Europe, Asia'") {
    violations
    val regions = spark.table("federation")
      .select("name", "region_name").as[(String, String)].collect().toMap
    assert(regions("KFF") == "Eurasia")
    assert(regions("DFB") == "Europe")
  }

  test("stage: capitalized names, Group/Knockout typing") {
    violations
    val st = spark.table("stage").select("name", "type")
      .as[(String, String)].collect().toSet
    assert(st == Set(("Group stage", "Group"), ("Semi-finals", "Knockout"),
      ("Final", "Knockout")))
  }

  test("match: stage_detail de-pluralization, FT/ET/PS, shootout nulling") {
    violations
    val m = spark.table("match")
      .select("id", "stage_detail", "completed", "penalty_shootout_score")
      .as[(String, String, String, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(m("M-1974-1")._2 == "Group A")
    assert(m("M-1974-3")._2 == "Semi-final") // 'semi-finals' de-pluralized
    assert(m("M-1974-4")._2 == "Final")
    assert(m("M-1974-1")._3 == "FT" && m("M-1974-3")._3 == "ET" &&
      m("M-1974-5")._3 == "PS")
    assert(m("M-1974-5")._4.contains("4-3")) // shootout score kept
    assert(m("M-1974-4")._4.isEmpty)         // nulled for non-shootout
  }

  test("event: goals + melted bookings/substitutions with event_type FKs") {
    violations
    val byType = spark.table("event")
      .join(spark.table("event_type").withColumnRenamed("id", "event_type_id"),
        "event_type_id")
      .groupBy("name").count().as[(String, Long)].collect().toMap
    assert(byType == Map("goal" -> 1L, "penalty" -> 1L, "own goal" -> 1L,
      "yellow card" -> 1L, "second yellow_card" -> 1L, "going off" -> 1L,
      "coming on" -> 1L))
  }

  test("event: fact-table plan has no global (un-partitioned) window") {
    violations
    // the loaded table reads its stored copy, so optimize the build
    // lineage itself rather than the cache-substituted plan
    val lineage = spark.sessionState.optimizer
      .execute(spark.table("event").queryExecution.analyzed)
    val windows = lineage.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the fact-key window in the plan")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"fact table funnels through a single-partition window: $w"))
    // keys are unique (PK-validated in loadAll) and deterministic
    val ids = spark.table("event").select("id").as[String].collect()
    assert(ids.forall(_.startsWith("MEV-")))
    assert(ids.distinct.length == ids.length)
  }

  test("match_replay: filtered self-join pairs the final with its replay") {
    violations
    val pairs = spark.table("match_replay")
      .as[(String, String)].collect().toSeq
    assert(pairs == Seq(("M-1974-4", "M-1974-5")))
  }

  test("tournament_team: left-join host flag") {
    violations
    val hosts = spark.table("tournament_team")
      .select("tournament_id", "team_id", "is_host")
      .as[(String, String, Boolean)].collect()
      .filter(_._3).map(r => (r._1, r._2))
    assert(hosts.toSeq == Seq(("WC-1974", "T-1")))
  }

  test("tournament_squad: shirt 0 -> NULL, position resolved") {
    violations
    val squad = spark.table("tournament_squad")
      .select("player_id", "shirt_number")
      .as[(String, Option[String])].collect().toMap
    assert(squad("P-4").isEmpty)       // shirt 0 nulled
    assert(squad("P-1").contains("5"))
  }

  test("team_appearance: penalty nulling + differential arithmetic") {
    violations
    val ta = spark.table("team_appearance")
      .select("match_id", "team_id", "penalties_differential")
      .as[(String, String, Option[Int])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(ta(("M-1974-5", "T-1")).contains(1))
    assert(ta(("M-1974-1", "T-1")).isEmpty)
  }

  test("ad-hoc SQL over the loaded schema (the product's query surface)") {
    violations
    val winners = spark.sql(
      """SELECT t.year, tm.name AS champion
        |FROM tournament t JOIN team tm ON t.wining_team_id = tm.id
        |ORDER BY t.year""".stripMargin)
      .as[(Int, String)].collect().toSeq
    assert(winners == Seq((1974, "West Germany"), (1986, "Argentina")))
  }

  test("export writes all 27 tables + DDL with reference column names") {
    violations
    val out = java.nio.file.Files.createTempDirectory("wc-export").toString
    Warehouse.exportDatabase(spark, out)
    val sql = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/schema.sql"))
    assert(sql.contains("CREATE OR REPLACE TABLE tournament"))
    assert(sql.contains("year_introuced")) // faithful to docs/schema.sql
    assert(spark.read.parquet(s"$out/match.parquet").count() == 7)
  }

  test("import reads every exported column type back unchanged") {
    violations
    Seq("nation" -> "n_nationkey", "region" -> "r_regionkey").foreach {
      case (t, pk) => Warehouse.load(spark,
        graft.sources.Tables.load(spark, sf(), t), TableMeta(t, pk = Seq(pk)))
    }
    // composite PK over a DATE, plus NULLs in every nullable type
    Warehouse.load(spark, Seq(
      (1L, LocalDate.of(2022, 11, 20), Some(LocalDateTime.of(2022, 11, 20, 19, 0)),
        Some("Qatar"), Some(1.5), Some(true)),
      (1L, LocalDate.of(2022, 12, 18), None, None, None, None)
    ).toDF("k", "day", "kickoff", "host", "score", "flag"),
      TableMeta("typed_t", pk = Seq("k", "day")))
    val tables = WorldCup.metas.keys.toSeq ++ Seq("nation", "region", "typed_t")
    def snapshot(t: String) = (spark.table(t).schema.map(f => f.name -> f.dataType),
      spark.table(t).collect().map(_.toString).sorted.toSeq)
    val before = tables.map(t => t -> snapshot(t)).toMap
    val types = before.values.flatMap(_._1.map(_._2.sql)).toSet
    assert(Set("DATE", "TIMESTAMP_NTZ", "BIGINT", "INT", "STRING", "DOUBLE",
      "BOOLEAN").subsetOf(types), types)
    val out = java.nio.file.Files.createTempDirectory("wc-import").toString
    Warehouse.exportDatabase(spark, out)
    Warehouse.clear()
    assert(Warehouse.importDatabase(spark, out).toSet == tables.toSet)
    tables.foreach(t => assert(snapshot(t) == before(t), t))
    assert(Warehouse.meta("typed_t").get.pk == Seq("k", "day"))
  }
}
