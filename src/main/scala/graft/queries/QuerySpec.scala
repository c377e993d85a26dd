package graft.queries

import java.util.concurrent.atomic.AtomicReference

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a named Spark query over a test-data directory,
  * with an optional DuckDB oracle SQL that must produce a hash-identical
  * result on the same parquet tables (the driver's t2 gate).
  *
  * Determinism contract (BASELINE.md): every query ends in a total-order
  * ORDER BY; aggregate doubles go through exact DECIMAL(18,2) arithmetic
  * before a final cast to DOUBLE so both engines produce the same bits;
  * integer-typed outputs are BIGINT on both sides.
  */
final case class QuerySpec(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Set by [[QuerySpec.lateBound]]: the oracle of the entry's last
      * run, null until it runs. */
    lastOracle: Option[AtomicReference[() => String]] = None) {

  /** The entry's DuckDB SQL: the static oracle, or a late-bound
    * entry's oracle over the values its last run used. A late-bound
    * entry that has not run throws: there is nothing to embed, and
    * downgrading it to a rows-only check would skip its hash gate. */
  def oracleSql: Option[String] = oracle.orElse(lastOracle.map { last =>
    val gen = last.get()
    if (gen == null) throw new IllegalStateException(
      s"late-bound oracle for '$name' is unset: the entry has not run")
    gen()
  })
}

object QuerySpec {
  /** An entry whose oracle embeds values its run computes (trained
    * centroids and codebooks, learned merges, the files it wrote):
    * `run` returns the frame and a thunk that builds the oracle from
    * exactly the values that run used. The spec keeps the last run's
    * thunk; it is evaluated at dump time ([[oracleSql]]), after the
    * runs, so a run that builds no dump pays nothing for the SQL. */
  def lateBound(name: String, doc: String)(
      run: (SparkSession, String) => (DataFrame, () => String)): QuerySpec = {
    val last = new AtomicReference[() => String]()
    QuerySpec(name, doc, (s, dir) => {
      val (df, oracle) = run(s, dir)
      last.set(oracle)
      df
    }, None, Some(last))
  }

  /** The oracle SQL of the `specs` that `keep` names, by entry name in
    * catalog order; entries with no oracle are left out. Only kept
    * entries' late-bound oracles are built, so a filtered dump never
    * asks for the oracle of an entry it did not run. */
  def oracleSql(specs: Seq[QuerySpec],
      keep: String => Boolean): Map[String, String] =
    ListMap(specs.filter(s => keep(s.name))
      .flatMap(s => s.oracleSql.map(s.name -> _)): _*)
}

object Catalog {
  lazy val specs: Seq[QuerySpec] =
    ParityQueries.specs ++ ExtensionQueries.specs ++ WorldCupQueries.specs

  lazy val byName: Map[String, QuerySpec] =
    specs.map(s => s.name -> s).toMap
}
