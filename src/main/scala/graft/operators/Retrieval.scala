package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** BM25 ranked retrieval over a document corpus — the lexical scoring
  * half of a RAG / training-data search stack (Robertson & Zaragoza,
  * "The Probabilistic Relevance Framework: BM25 and Beyond", 2009).
  *
  * This is CLASSIC BM25, log idf included: `idf = ln((N-df+0.5)/
  * (df+0.5))` per term (negative for terms in more than half the
  * corpus — standard Robertson behaviour, kept as-is). An earlier
  * draft kept the idf un-logged for bit-exactness, but summing raw
  * odds ratios across terms is NOT order-equivalent to summing
  * log-idf scores — rare terms would dominate ~N/df instead of
  * ln(N/df) — so multi-term rankings could diverge materially from
  * real BM25. Instead, cross-engine determinism is handled at the
  * output boundary: the final score is rounded to 6 dp on BOTH
  * engines before it is ranked or compared (ln differs across libms
  * by ~1 ulp at most; at 6 dp both engines see the same number, the
  * same trick as the catalog's cos_r / margin_r columns).
  *
  * Cross-term summation order is pinned: per-doc term scores are
  * collected, sorted BY TERM, and folded left-to-right — floating
  * addition is not associative, so an unordered SUM() could differ
  * between engines/partitionings by an ULP. `aggregate` over a sorted
  * array makes the fold order part of the query's semantics.
  *
  * Scale shape: `terms` is a query literal (a handful of strings), so
  * the token scan filters to query terms BEFORE any shuffle — the
  * corpus text is never shuffled. Two keyed aggregations (tf per
  * (doc, term), df per term) + one broadcast of the tiny (term, df)
  * frame + one broadcast of the 1-row corpus stats. Top-k lands on
  * TakeOrderedAndProject, not a global sort.
  */
object Retrieval {

  /** BM25 top-`k` documents for the literal query `terms`.
    * Output: (id, score_r, n_terms_hit) with score_r the 6-dp-rounded
    * BM25 score, ordered by (score_r DESC, id), limited to `k`.
    * Documents matching no term are excluded (standard retrieval
    * semantics). Ranking and the k-boundary use the ROUNDED score so
    * both engines cut the same tail. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(terms.distinct.length == terms.length, "query terms must be unique")
    val id = col(idCol)

    // (id, dl, token) restricted to query terms — the only rows that
    // can contribute; everything else dies at the scan.
    val tok = docs
      .select(id, wsTokenCount(col(textCol)).as("dl"),
        explode(wsTokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms: _*))

    val tf = tok.groupBy(id, col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("token"))
      .agg(countDistinct(id).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(wsTokenCount(col(textCol))).as("sum_dl"))

    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)))
    val tfc = col("tf").cast("double") * (lit(k1) + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl))

    val termScores = tf
      .join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .select(id, col("token"), (idf * tfc).as("s"))

    // Deterministic fold: sort per-doc term scores by token, sum
    // left-to-right from 0.0; round once at the end.
    termScores.groupBy(id)
      .agg(count(lit(1)).as("n_terms_hit"),
        round(Folds.orderedSum(Seq(col("token")), col("s")), 6).as("score_r"))
      .orderBy(col("score_r").desc, id)
      .limit(k)
      .select(id, col("score_r"), col("n_terms_hit"))
  }

  /** DuckDB twin of [[bm25TopK]] over table `table` — same ln idf,
    * same sorted left-to-right fold, same 6-dp rounding before rank.
    * Terms are SQL-escaped ('' doubling): this is a test-oracle
    * surface, but a term with a quote must not break the SQL. */
  def bm25OracleSql(table: String, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): String = {
    val termList = terms.map(t => s"'${t.replace("'", "''")}'")
      .mkString("[", ", ", "]")
    val k1s = java.lang.Double.toString(k1)
    val bs = java.lang.Double.toString(b)
    s"""WITH tok AS (
       |  SELECT $idCol,
       |    CAST(len(string_split_regex(trim($textCol), '\\s+')) AS BIGINT) AS dl,
       |    unnest(string_split_regex(trim($textCol), '\\s+')) AS token
       |  FROM $table),
       |qtok AS (SELECT * FROM tok WHERE list_contains($termList, token)),
       |tf AS (
       |  SELECT $idCol, dl, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM qtok GROUP BY $idCol, dl, token),
       |df AS (
       |  SELECT token, CAST(count(DISTINCT $idCol) AS BIGINT) AS df
       |  FROM qtok GROUP BY token),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CAST(len(string_split_regex(trim($textCol), '\\s+'))
       |      AS BIGINT)) AS BIGINT) AS sum_dl
       |  FROM $table),
       |ts AS (
       |  SELECT t.$idCol, t.token,
       |    ln((CAST(s.n_docs - d.df AS DOUBLE) + 0.5) /
       |       (CAST(d.df AS DOUBLE) + 0.5)) *
       |    (CAST(t.tf AS DOUBLE) * ($k1s + 1.0) /
       |     (CAST(t.tf AS DOUBLE) +
       |      $k1s * (1.0 - $bs + $bs * CAST(t.dl AS DOUBLE) /
       |             (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS s
       |  FROM tf t JOIN df d USING (token) CROSS JOIN stats s),
       |folded AS (
       |  SELECT $idCol, CAST(count(*) AS BIGINT) AS n_terms_hit,
       |    round(${Folds.orderedSumSql("s", "token")}, 6) AS score_r
       |  FROM ts GROUP BY $idCol)
       |SELECT $idCol, score_r, n_terms_hit FROM folded
       |ORDER BY score_r DESC, $idCol LIMIT $k""".stripMargin
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, "Reciprocal
    * Rank Fusion outperforms Condorcet and individual Rank Learning
    * Methods", SIGIR 2009): combine several ranked lists for the SAME
    * query into one by `score(d) = Σ_lists 1/(k0 + rank_list(d))` —
    * the standard way a hybrid retrieval stack merges its lexical
    * (BM25) and dense (ANN) legs without score calibration, since RRF
    * consumes only RANK POSITIONS, never the incomparable raw scores.
    *
    * `lists` maps a tag to that retriever's ranked output, which must
    * carry columns `id` (document key) and `rank` (1-based). Output:
    * one row per document seen by ANY list — `id`, per-list ranks as
    * `<tag>_rn` (NULL where the list missed it), `rrf_r` (6-dp-rounded
    * fused score), `rn` (fused 1-based rank) — top `k` by
    * (rrf_r DESC, id).
    *
    * Determinism: the per-list terms are summed left-to-right in
    * `lists` order (a fixed expression tree, not a commutative SUM),
    * and the fused score is rounded before ranking, so both engines
    * rank the identical list. Scale shape: each input is a retriever's
    * top-k — k rows per list, NOT a corpus — so the full-outer fusion
    * joins touch ≤ Σk rows per query and the single-partition
    * row_number is over that same handful; at 100 TB the cost lives in
    * the retrievers, never here. */
  def rrfFuse(lists: Seq[(String, DataFrame)], k0: Int, k: Int): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(lists.map(_._1).distinct.length == lists.length,
      "list tags must be unique")
    require(k0 > 0 && k > 0, "k0 and k must be positive")
    val renamed = lists.map { case (tag, df) =>
      df.select(col("id"), col("rank").cast("long").as(s"${tag}_rn"))
    }
    val joined = renamed.reduceLeft(_.join(_, Seq("id"), "full_outer"))
    val score = lists.map { case (tag, _) =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"${tag}_rn")), lit(0.0))
    }.reduceLeft(_ + _)
    // global row_number over ≤ Σ|lists|·k fused rows — intentionally
    // single-partition, same class as TakeOrderedAndProject's driver-k
    val w = Window.orderBy(col("rrf_r").desc, col("id"))
    joined.withColumn("rrf_r", round(score, 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** [[rrfFuse]] for a BATCH of queries — the deployment shape, where
    * a retrieval service fuses thousands of query results in one job.
    * Each list carries (`qid`, `id`, `rank`); lists join on (qid, id)
    * and the fused rank windows PARTITIONED BY qid, so per-query
    * state is ≤ Σ|lists|·k rows and queries spread across the
    * cluster — no global window, no single-partition funnel. Same
    * determinism contract as [[rrfFuse]] (fixed-order fold, 6-dp
    * rounding before the rank). */
  def rrfFusePerQuery(lists: Seq[(String, DataFrame)], k0: Int,
      k: Int): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(lists.map(_._1).distinct.length == lists.length,
      "list tags must be unique")
    require(k0 > 0 && k > 0, "k0 and k must be positive")
    val renamed = lists.map { case (tag, df) =>
      df.select(col("qid"), col("id"),
        col("rank").cast("long").as(s"${tag}_rn"))
    }
    val joined = renamed.reduceLeft(_.join(_, Seq("qid", "id"), "full_outer"))
    val score = lists.map { case (tag, _) =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"${tag}_rn")), lit(0.0))
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_r").desc, col("id"))
    joined.withColumn("rrf_r", round(score, 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  // ---- ranking evaluation (MRR / nDCG) ------------------------------

  /** Per-query MRR@k and nDCG@k for a ranked run against graded
    * relevance labels — the eval loop every retrieval stage (x36/
    * x36b, the ANN family) is tuned by. Gains are exponential
    * `2^rel - 1` (the standard graded form) computed EXACTLY via an
    * integer shift; discounts use the natural log — any log base
    * cancels in the nDCG ratio, and ln is the one log both engines'
    * fold entries already agree on (the x44 contract). DCG and ideal
    * DCG both fold in rank order (sorted in-row folds of at most k
    * terms — never a corpus-scale list); the ideal ranking takes the
    * top-k labels by (rel desc, doc id) per query via a
    * query-partitioned window. MRR is a single exact division.
    *
    * `ranked` provides (qidCol, didCol, rankCol: 1-based within
    * query); `rels` provides (qidCol, didCol, relCol >= 0, graded);
    * pairs absent from `rels` count rel 0.
    *
    * Output: (qidCol, n_ranked, n_rel_hit, first_rel_rank (-1 when
    * the run finds nothing relevant), mrr_r, ndcg_r). */
  def rankingEval(ranked: DataFrame, rels: DataFrame, qidCol: String,
      didCol: String, rankCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qid = col(qidCol)
    def gain(rankC: Column): Column =
      (expr(s"shiftleft(1, CAST($relCol AS INT))").cast("double") - 1.0) /
        log(rankC.cast("double") + 1.0)
    def fold(rankC: String): Column =
      Folds.orderedSum(Seq(col(rankC).as("r")), col("__g"))
    val hits = ranked.filter(col(rankCol) <= k)
      .join(rels, Seq(qidCol, didCol), "left")
      .withColumn(relCol, coalesce(col(relCol), lit(0)).cast("int"))
      .withColumn("__g", gain(col(rankCol)))
    val perq = hits.groupBy(qid).agg(
      count(lit(1)).as("n_ranked"),
      sum(when(col(relCol) > 0, 1L).otherwise(0L)).as("n_rel_hit"),
      min(when(col(relCol) > 0, col(rankCol))).as("__fr"),
      fold(rankCol).as("__dcg"))
    val iw = Window.partitionBy(qid).orderBy(col(relCol).desc, col(didCol))
    val ideal = rels.filter(col(relCol) > 0)
      .withColumn("__ir", row_number().over(iw))
      .filter(col("__ir") <= k)
      .withColumn("__g", gain(col("__ir")))
      .groupBy(qid).agg(fold("__ir").as("__idcg"))
    perq.join(ideal, Seq(qidCol), "left")
      .select(qid, col("n_ranked"), col("n_rel_hit"),
        coalesce(col("__fr"), lit(-1)).cast("long").as("first_rel_rank"),
        round(when(col("__fr").isNotNull,
          lit(1.0) / col("__fr").cast("double")).otherwise(0.0), 6)
          .as("mrr_r"),
        round(when(col("__idcg").isNotNull && col("__idcg") > 0,
          col("__dcg") / col("__idcg")).otherwise(0.0), 6).as("ndcg_r"))
  }

  /** DuckDB twin of [[rankingEval]]: `ranked`/`rels` are prior CTE
    * names with the same columns; emits a final SELECT (same gains,
    * ln discounts, rank-ordered folds, divisions and rounding). */
  def rankingEvalSql(ranked: String, rels: String, qidCol: String,
      didCol: String, rankCol: String, relCol: String, k: Int): String = {
    val idealGain = s"(CAST((1 << CAST($relCol AS INT)) AS DOUBLE) - 1.0)" +
      " / ln(CAST(ir AS DOUBLE) + 1.0)"
    s"""hits AS (
       |  SELECT r.$qidCol, r.$didCol, r.$rankCol,
       |    CAST(coalesce(l.$relCol, 0) AS INT) AS rel,
       |    (CAST((1 << CAST(coalesce(l.$relCol, 0) AS INT)) AS DOUBLE)
       |      - 1.0) / ln(CAST(r.$rankCol AS DOUBLE) + 1.0) AS g
       |  FROM $ranked r LEFT JOIN $rels l
       |    ON r.$qidCol = l.$qidCol AND r.$didCol = l.$didCol
       |  WHERE r.$rankCol <= $k),
       |perq AS (
       |  SELECT $qidCol, CAST(count(*) AS BIGINT) AS n_ranked,
       |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel_hit,
       |    min(CASE WHEN rel > 0 THEN $rankCol END) AS fr,
       |    ${Folds.orderedSumSql("g", rankCol)} AS dcg
       |  FROM hits GROUP BY $qidCol),
       |irk AS (
       |  SELECT $qidCol, $relCol,
       |    row_number() OVER (PARTITION BY $qidCol
       |      ORDER BY $relCol DESC, $didCol) AS ir
       |  FROM $rels WHERE $relCol > 0),
       |ideal AS (
       |  SELECT $qidCol,
       |    ${Folds.orderedSumSql(idealGain, "ir")} AS idcg
       |  FROM irk WHERE ir <= $k GROUP BY $qidCol),
       |fin AS (
       |  SELECT p.$qidCol AS $qidCol, p.n_ranked, p.n_rel_hit,
       |    CAST(coalesce(p.fr, -1) AS BIGINT) AS first_rel_rank,
       |    round(CASE WHEN p.fr IS NOT NULL
       |      THEN 1.0 / CAST(p.fr AS DOUBLE) ELSE 0.0 END, 6) AS mrr_r,
       |    round(CASE WHEN i.idcg IS NOT NULL AND i.idcg > 0
       |      THEN p.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg_r
       |  FROM perq p LEFT JOIN ideal i ON p.$qidCol = i.$qidCol)
       |SELECT $qidCol, n_ranked, n_rel_hit, first_rel_rank, mrr_r,
       |  ndcg_r
       |FROM fin""".stripMargin
  }
}
