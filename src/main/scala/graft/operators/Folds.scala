package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE order-pinned double sum and its DuckDB twin, side by side. An
  * unordered SUM() of doubles differs between engines and partitionings
  * by ULPs; these fold a group's values left to right from 0.0 in a
  * fixed order, so both engines produce the same bits. Users: the
  * PageRank and HITS two-phase folds (`Graph`), the n-gram
  * cross-entropies (`LanguageModel`), BM25 and DCG (`Retrieval`), the
  * DSIR log-weight (`Sampling`) and the bitext margin averages
  * (`Similarity`, DuckDB side).
  */
private[graft] object Folds {

  /** Aggregate: the group's `value`s summed from 0.0 in ascending
    * `order`. Callers order by a key unique within the group (the
    * Spark side would break a tie by the value, DuckDB arbitrarily). */
  def orderedSum(order: Seq[Column], value: Column): Column =
    aggregate(
      transform(
        array_sort(collect_list(struct((order :+ value.as("__v")): _*))),
        x => x.getField("__v")),
      lit(0.0), (acc, x) => acc + x)

  /** DuckDB twin of [[orderedSum]]: `orderBy` is an ORDER BY list. */
  def orderedSumSql(value: String, orderBy: String): String =
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list($value ORDER BY $orderBy)), (a, x) -> a + x)"
}
