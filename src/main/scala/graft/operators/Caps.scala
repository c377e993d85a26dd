package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.md5Hash60b

/** THE two-phase sharded per-key rank cap — the one definition of the
  * shape every capped bucket/cell in the engine uses. Users:
  *  - [[capBuckets]] (lowest-id cap) — the MinHash band buckets of
  *    `Dedup.minHashNearDupPairs`, `lshCandidatePairs` and
  *    `crossCorpusNearDupPairs`, the SimHash band buckets of
  *    `Dedup.simHashNearDupPairs`, and the IVF cells of
  *    `Similarity.semanticDedup`;
  *  - [[twoPhaseRank]] directly (hash-order cap with a kept rank) —
  *    `Similarity.perCellHashKeep`, behind the ANN serving cap and the
  *    cell-balanced sample.
  * [[bucketOverflow]] is the reporter every lowest-id cap pairs with
  * (`Dedup.minHashBucketOverflow`, `Dedup.simHashBucketOverflow`,
  * `Similarity.semanticCellOverflow`), and [[cappedSql]] is the DuckDB
  * twin of [[capBuckets]]. Semantically identical to
  * `row_number over (partition by keys order by ord) <= cap`, but a
  * viral key never funnels through one WindowExec task:
  *
  *  - phase 1 ranks within (keys..., id-hash shard) and keeps ≤ cap
  *    per shard — LOSSLESS: a row with `cap` earlier-ordered rows in
  *    its OWN shard cannot be among the key's overall first `cap`;
  *  - phase 2 ranks the ≤ shards×cap survivors on the keys alone —
  *    the same key the downstream join shuffles on, so the final
  *    rank adds no extra exchange.
  *
  * The r17 election rule: rank caps shard-then-merge; WindowExec
  * buffers its partition, so an unsharded hot key is one task's
  * memory → spill → OOM at corpus scale.
  */
private[graft] object Caps {

  /** Cap `df` to the first `cap` rows per `partCols` group under
    * `orderCols`, two-phase. `shardKey` must be a deterministic
    * function of the row (conventionally a 60-bit md5 of the id) so
    * phase 1 is reproducible. When `rankCol` is set, the surviving
    * rows keep their final rank (LongType) under that name; otherwise
    * no rank column escapes. */
  def twoPhaseRank(df: DataFrame, partCols: Seq[Column],
      orderCols: Seq[Column], shardKey: Column, cap: Int,
      shards: Int = 64, rankCol: Option[String] = None): DataFrame = {
    val w1 = Window.partitionBy((partCols :+ (shardKey % shards)): _*)
      .orderBy(orderCols: _*)
    val w2 = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    val phase1 = df.withColumn("__k1", row_number().over(w1))
      .filter(col("__k1") <= cap)
    rankCol match {
      case Some(n) =>
        phase1.withColumn(n, row_number().over(w2).cast("long"))
          .filter(col(n) <= cap).drop("__k1")
      case None =>
        phase1.withColumn("__rn", row_number().over(w2))
          .filter(col("__rn") <= cap).drop("__k1", "__rn")
    }
  }

  /** Keep each `keys` bucket's `cap` lowest-`idCol` rows: [[twoPhaseRank]]
    * sharded on the 60-bit md5 of the id (so phase 1 is reproducible
    * for any id type). No rank column escapes. */
  def capBuckets(df: DataFrame, keys: Seq[String], idCol: String,
      cap: Int): DataFrame =
    twoPhaseRank(df, keys.map(col), Seq(col(idCol)),
      md5Hash60b(col(idCol).cast("string")), cap)

  /** The overflow report of a [[capBuckets]] cap: (keys..., `countCol`)
    * for every bucket holding more than `cap` rows, so a cap is never
    * a silent truncation. */
  def bucketOverflow(df: DataFrame, keys: Seq[String], cap: Int,
      countCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(countCol))
      .filter(col(countCol) > cap)

  /** DuckDB twin of [[capBuckets]] over the relation `src`: the
    * one-phase window gives the same rows as the two-phase Spark
    * shape, whose split is scaling, not semantics. Keeps `src`'s
    * columns. */
  def cappedSql(src: String, keys: Seq[String], id: String,
      cap: Int): String =
    s"""SELECT * EXCLUDE (rn) FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY ${keys.mkString(", ")} ORDER BY $id) AS rn
       |  FROM $src) WHERE rn <= $cap""".stripMargin
}
