package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.queries.{Catalog, QuerySpec}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query inventory itself lives in graft.queries.{ParityQueries,
  * ExtensionQueries}; names carry SURVEY.md §2 operator ids.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Full star-schema join chain: region⟵nation⟵customer⟵
    * orders⟵lineitem with exact-decimal revenue — small dims broadcast
    * by Catalyst/AQE, the single shuffle is the groupBy on r_name. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    def t(n: String) = Tables.load(spark, dir, n)
    def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
    t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(Catalog.specs.map(s => s.name -> s.run): _*)

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables. Late-bound oracles ([[QuerySpec.lateBound]])
    * are built here — i.e. after `queries` ran, per Verify's ordering —
    * from the values each entry's last run used (trained IVF
    * centroids). A spec with no oracle → the driver records a rows-only
    * check; a late-bound entry that has not run throws, naming it. */
  def oracleSql: Map[String, String] = oracleSqlFiltered(_ => true)

  /** [[oracleSql]] restricted to `keep` BEFORE late-bound oracles are
    * built, so a filtered Verify dump never builds (and throws on) the
    * oracle of an entry it filtered out. */
  def oracleSqlFiltered(keep: String => Boolean): Map[String, String] =
    QuerySpec.oracleSql(Catalog.specs, keep)
}
