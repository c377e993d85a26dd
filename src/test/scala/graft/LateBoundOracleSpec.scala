package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.queries.{Catalog, QuerySpec}

/** Late-bound oracles ([[QuerySpec.lateBound]]): an entry's oracle
  * embeds the values its own last run used, and a dump builds only the
  * oracles of the entries it keeps. */
class LateBoundOracleSpec extends SparkSpec {

  test("x6b's oracle embeds the centroids its last run used: sf0.001, " +
      "sf0.01, then sf0.001 again in one JVM") {
    // the third run is a memo hit that trains nothing; its oracle must
    // still carry sf0.001's centroids, not the last ones trained
    def oracleAfterRunAt(dir: String): String = {
      Catalog.byName("x6b_ann_ivf").run(spark, sf(dir))
      SparkEntry.oracleSqlFiltered(_ == "x6b_ann_ivf")("x6b_ann_ivf")
    }
    val small = oracleAfterRunAt("sf0.001")
    val large = oracleAfterRunAt("sf0.01")
    assert(large != small,
      "the two scale factors must train different centroids")
    assert(oracleAfterRunAt("sf0.001") == small)
  }

  test("a kept late-bound entry that never ran fails the oracle dump " +
      "and names itself; an entry filtered out is never built") {
    val built = new AtomicInteger(0)
    def late(name: String) = QuerySpec.lateBound(name, "test entry") {
      (s, _) =>
        (s.range(1).toDF(), () => {
          built.incrementAndGet()
          s"SELECT 1 AS $name"
        })
    }
    val static = QuerySpec("static", "test entry",
      (s, _) => s.range(1).toDF(), Some("SELECT 0 AS static"))
    val (ran, unrun) = (late("late_ran"), late("late_unrun"))
    ran.run(spark, sf())
    val specs = Seq(static, ran, unrun)

    assert(QuerySpec.oracleSql(specs, _ == "static") ==
      Map("static" -> "SELECT 0 AS static"))
    assert(built.get() == 0, "a filtered-out oracle must not be built")

    val err = intercept[IllegalStateException](
      QuerySpec.oracleSql(specs, _ => true))
    assert(err.getMessage.contains("'late_unrun'"), err.getMessage)

    built.set(0)
    assert(QuerySpec.oracleSql(specs, _ != "late_unrun") == Map(
      "static" -> "SELECT 0 AS static", "late_ran" -> "SELECT 1 AS late_ran"))
    assert(built.get() == 1)
  }
}
