package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** CCNet-style language-model quality filtering (Wenzek et al., "CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data",
  * LREC 2020): score every document by its cross-entropy under a
  * unigram LM trained on a trusted reference slice, then split each
  * language into head / middle / tail terciles — the standard
  * perplexity-bucketing stage of a web-scale pretraining pipeline
  * (CCNet keeps "head+middle" and drops "tail").
  *
  * Differences from the paper, chosen for engine-verifiability:
  * - unigram instead of 5-gram KenLM: the model is a (token, count)
  *   table + two scalars, so both engines can recompute it exactly;
  * - cross-entropy in nats per token instead of perplexity: ppl =
  *   exp(H) and exp() is not bit-reproducible across libms (same
  *   reasoning as x34's margin-without-sigmoid), while exp is monotone
  *   so the tercile split is IDENTICAL either way;
  * - terciles by ntile(3) over a TOTAL order (h_r, doc id) per
  *   language, not by approximate percentile thresholds — bit-stable
  *   across engines and partitionings.
  *
  * Scale shape: ONE tokenize+explode pass over the corpus — the
  * per-doc term-frequency shuffle (map-side combined); the reference
  * token counts are the ref-id marginal of that same tf frame (semi-
  * join on a text-free id scan + re-aggregate of narrow (token, tf)
  * rows — the planner reuses the tf exchange between the two
  * branches, so the exploded aggregation runs once), one equi-join
  * tf⋈vocab on token (AQE broadcasts the vocab when it fits — CCNet
  * caps the LM vocabulary, so at 100 TB the capped vocab is still
  * broadcastable; an uncapped vocab degrades to a shuffle join, never
  * a cartesian), one per-doc fold, one per-language window. The
  * documents' text is never shuffled — only (id, token, tf) rows.
  *
  * Determinism: per-doc summation folds tf·ln p over tokens sorted BY
  * TOKEN, left-to-right from 0.0 (floating addition is not
  * associative; an unordered SUM could differ by an ULP between
  * engines). ln differs across libms by ≤1 ulp; h_r is rounded to 6
  * dp before it is ranked or compared, the same boundary trick as
  * x36's BM25 scores.
  */
object LanguageModel {

  /** Per-document unigram cross-entropy + per-language tercile bucket.
    *
    * `refPredicate` selects the trusted reference slice (SQL boolean
    * over the docs columns, e.g. "lang = 'en'"). Add-one smoothing:
    * p(w) = (c(w)+1) / (N+V) with N = reference token instances, V =
    * reference vocabulary size; out-of-vocabulary tokens get c = 0.
    * Documents with zero tokens are excluded (cross-entropy is
    * undefined; excluding beats emitting a NULL sort key, whose
    * placement differs between Spark and DuckDB default orders).
    *
    * Output: (doc_id, lang, n_tok, h_r, bucket) where bucket is
    * head / middle / tail by ascending h_r within the language.
    *
    * Three frames fork to multiple consumers: the per-doc tf frame
    * (reference counts + the scoring join), the reference vocab
    * (token join + the (N, V) stats), and the per-doc score frame
    * (output + the tercile histogram); each fork recomputes its
    * frame unless Catalyst reuses its exchange. */
  def crossEntropyBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, refPredicate: String): DataFrame = {
    val id = col(idCol)

    // blank/whitespace-only text must be excluded EXPLICITLY:
    // split(trim(''), '\s+') yields [''] (one empty token) in both
    // engines, so a token-count guard alone would score empty docs as
    // one-OOV-token documents instead of excluding them
    val nonBlank = docs.filter(length(trim(col(textCol))) > 0)

    // The ref-slice membership rides the tokenize pass as a PER-ROW
    // flag (it only reads docs columns), so the reference counts are
    // a filter + re-aggregate of the tf frame — NOT a semi-join
    // against a second docs scan: the join form shuffled the whole
    // tf frame by id AND carried an inferred isnotnull(id) filter
    // that made the two tf subtrees unequal, defeating exchange
    // reuse (the r17 plan showed the corpus tokenize+explode+agg
    // planned six times). The flag is constant per document, so
    // adding it to the grouping keys changes no groups — and the
    // per-row semantics exactly match the oracle's
    // `WHERE refPredicate`, with no unique-id precondition (the
    // semi-join form double-counted duplicate ids).
    val tok = nonBlank.select(id, col(langCol),
        expr(refPredicate).as("__ref"),
        wsTokenCount(col(textCol)).as("n_tok"),
        explode(wsTokens(col(textCol))).as("token"))

    val tf = tok.groupBy(id, col(langCol), col("n_tok"), col("__ref"),
        col("token"))
      .agg(count(lit(1)).as("tf"))

    val refCounts = tf.filter(col("__ref"))
      .groupBy(col("token")).agg(sum(col("tf")).as("c"))
    val stats = refCounts.agg(sum(col("c")).as("n_ref"),
      count(lit(1)).as("v_ref"))

    val lnp = log((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
      (col("n_ref") + col("v_ref")).cast("double"))
    val terms = tf.join(refCounts, Seq("token"), "left")
      .crossJoin(broadcast(stats))
      .select(id, col(langCol), col("n_tok"), col("token"),
        (col("tf").cast("double") * lnp).as("contrib"))

    val folded = terms.groupBy(id, col(langCol), col("n_tok"))
      .agg(round(
        -Folds.orderedSum(Seq(col("token")), col("contrib")) /
          col("n_tok").cast("double"),
        6).as("h_r"))

    // Tercile assignment, bit-identical to ntile(3) OVER (PARTITION BY
    // lang ORDER BY h_r, id) but WITHOUT a per-language corpus window:
    // a naive ntile puts a language's every row in ONE task — at 100 TB
    // the dominant language is billions of rows in a single sort. Here
    // the only per-language window runs over the (lang, h_r) HISTOGRAM
    // — bounded by the distinct 6-dp scores in a ~25-nat range, ≤ ~25M
    // narrow rows per language even degenerately, vs billions of
    // full-width doc rows;
    // each doc's global rank is its histogram prefix + its row_number
    // within its own (lang, h_r) group — a window whose partition key
    // is fine-grained, so it distributes. The oracle keeps the plain
    // ntile formulation: same result, the SQL-spec arithmetic below is
    // exactly ntile's bucket-size rule (first n%3 buckets get one
    // extra row).
    val hist = folded.groupBy(col(langCol), col("h_r"))
      .agg(count(lit(1)).as("__hn"))
    val histW = Window.partitionBy(col(langCol)).orderBy(col("h_r"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // prefix counts AND language totals as two windows over the SAME
    // tiny histogram partitioning — one lineage branch, so the
    // per-doc score frame is consumed exactly twice (output + hist),
    // not three+ times
    val cum = hist
      .withColumn("__cum", coalesce(sum(col("__hn")).over(histW), lit(0L)))
      .withColumn("__n",
        sum(col("__hn")).over(Window.partitionBy(col(langCol))))
    val rankW = Window.partitionBy(col(langCol), col("h_r")).orderBy(id)
    val ranked = folded
      .join(cum.select(col(langCol), col("h_r"), col("__cum"), col("__n")),
        Seq(langCol, "h_r"))
      .withColumn("__r", col("__cum") + row_number().over(rankW))
    // exact long floor-division (Column `/` is double division; the
    // numerator is made divisible first, so the double quotient is an
    // exact integer for any rank < 2^53)
    def ldiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val base = ldiv(col("__n"), lit(3L))
    val rem = col("__n") % 3
    val cut = (base + 1) * rem
    val tile = when(col("__r") <= cut, ldiv(col("__r") - 1, base + 1) + 1)
      .otherwise(rem + ldiv(col("__r") - cut - 1, greatest(base, lit(1L))) + 1)
      .cast("int")
    ranked
      .select(id, col(langCol), col("n_tok"), col("h_r"),
        when(tile === 1, "head").when(tile === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(id)
  }

  /** FROZEN-model cross-entropy as a pure Column expression: the
    * vocabulary's ln-probabilities ride the plan as a map literal
    * (vocab must be capped — CCNet caps its LM vocab — a literal map
    * is broadcast with the task binary), unknown tokens fall back to
    * `lnPOov`, and the per-doc fold runs over the IN-ROW sorted token
    * array. No shuffle, no state, no model join — which is exactly
    * what lets the SAME expression score a batch frame or a
    * Structured Streaming micro-batch (the ingestion-time quality
    * gate: filter on the score next to CorpusKeep; see
    * StreamingIngestSpec). NULL for NULL text rather than a
    * divide-by-zero; note that blank/whitespace-only text tokenizes
    * to one empty token (split-of-trimmed semantics) and scores as a
    * one-OOV-token document — callers gating a stream should filter
    * blank rows upstream if they want them excluded rather than
    * scored-as-junk (either way they fall in the reject tail).
    *
    * Agreement with [[crossEntropyBuckets]]'s distributed scorer on
    * the same model is within an ULP-level fold-order difference
    * (tf·lnp vs repeated addition) — spec-checked at 2e-6. */
  def frozenVocabCrossEntropy(textCol: Column, lnP: Map[String, Double],
      lnPOov: Double): Column = {
    require(lnP.nonEmpty, "frozen vocabulary must be non-empty")
    val m = map(lnP.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val toks = array_sort(wsTokens(textCol))
    when(size(toks) > 0,
      -aggregate(
        transform(toks, t => coalesce(element_at(m, t), lit(lnPOov))),
        lit(0.0), (acc, x) => acc + x) / size(toks).cast("double"))
  }

  /** Per-document BIGRAM cross-entropy with interpolation backoff —
    * the n-gram step up from [[crossEntropyBuckets]]'s unigram model
    * (CCNet's KenLM is a 5-gram of the same family; the machinery
    * here generalizes order by order). Model, trained on the
    * `refPredicate` slice:
    *
    *   p(w2 | w1) = λ · c(w1 w2)/c(w1 ·)   (ML bigram, 0 if unseen ctx)
    *              + (1−λ) · (c(w2)+1)/(N+V) (add-one unigram backoff)
    *
    * The backoff term is strictly positive, so ln is always defined —
    * including fully-OOV bigrams. Documents need ≥ 2 tokens (excluded
    * otherwise); score is nats per BIGRAM slot: h2 = −Σ ln p / (n−1),
    * folded over bigrams sorted by (w1, w2) and rounded to 6 dp, the
    * usual cross-engine boundary.
    *
    * Scale shape: three equi-joins keyed by token(s) against the
    * model tables (broadcast when the vocab is capped, as CCNet
    * does); corpus text never shuffles — only (doc, w1, w2, tf)
    * rows. Output: (doc_id, lang, n_bigrams, h2_r). */
  def bigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, refPredicate: String,
      lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    val id = col(idCol)
    def withPairs(df: DataFrame): DataFrame = df
      .withColumn("__tk", wsTokens(col(textCol)))
      .filter(size(col("__tk")) >= 2)
      .withColumn("__nbi", (size(col("__tk")) - 1).cast("long"))
      .withColumn("__z", explode(arrays_zip(
        expr("slice(__tk, 1, size(__tk) - 1)"),
        expr("slice(__tk, 2, size(__tk) - 1)"))))
      .withColumn("w1", col("__z.0")).withColumn("w2", col("__z.1"))

    val refDocs = docs.filter(expr(refPredicate))
    val refBi = withPairs(refDocs)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val refCtx = refBi.groupBy(col("w1"))
      .agg(sum(col("c2")).as("ctx"))
    val refUni = refDocs
      .select(explode(wsTokens(col(textCol))).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("c1"))
    val stats = refUni.agg(sum(col("c1")).as("n_ref"),
      count(lit(1)).as("v_ref"))

    val tf = withPairs(docs)
      .groupBy(id, col(langCol), col("__nbi"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val pBi = when(col("ctx") > 0,
      coalesce(col("c2"), lit(0L)).cast("double") /
        col("ctx").cast("double")).otherwise(lit(0.0))
    val pUni = (coalesce(col("c1"), lit(0L)).cast("double") + 1.0) /
      (col("n_ref") + col("v_ref")).cast("double")
    val terms = tf
      .join(refBi, Seq("w1", "w2"), "left")
      .join(refCtx, Seq("w1"), "left")
      .join(refUni, Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      .select(id, col(langCol), col("__nbi"), col("w1"), col("w2"),
        (col("tf").cast("double") *
          log(lit(lambda) * pBi + lit(1.0 - lambda) * pUni)).as("contrib"))
    terms.groupBy(id, col(langCol), col("__nbi"))
      .agg(round(
        -Folds.orderedSum(Seq(col("w1"), col("w2")), col("contrib")) /
          col("__nbi").cast("double"),
        6).as("h2_r"))
      .select(id, col(langCol), col("__nbi").as("n_bigrams"), col("h2_r"))
      .orderBy(id)
  }

  /** Per-document TRIGRAM cross-entropy with recursive interpolation
    * backoff — one more order up the [[bigramCrossEntropy]] ladder
    * (CCNet's KenLM is order 5; each order adds one count table and
    * one context-marginal table to the same join shape). Model,
    * trained on the `refPredicate` slice:
    *
    *   p(w3 | w1 w2) = λ3 · c(w1 w2 w3)/c(w1 w2 ·)  (ML trigram)
    *                 + (1−λ3) · p2(w3 | w2)
    *   p2(w3 | w2)   = λ2 · c(w2 w3)/c(w2 ·)        (ML bigram)
    *                 + (1−λ2) · (c(w3)+1)/(N+V)     (add-one unigram)
    *
    * Unseen contexts contribute 0 to their ML term; the add-one floor
    * keeps ln defined everywhere. Documents need ≥ 3 tokens; score is
    * nats per trigram slot: h3 = −Σ ln p / (n−2), folded over
    * trigrams sorted by (w1, w2, w3) and rounded to 6 dp.
    *
    * Scale shape: five equi-joins keyed by token tuples against the
    * model tables — each is broadcastable when the vocab is capped
    * (CCNet prunes its LM); corpus text never shuffles, only
    * (doc, w1, w2, w3, tf) rows do.
    * Output: (doc_id, lang, n_trigrams, h3_r). */
  def trigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, refPredicate: String, lambda3: Double = 0.6,
      lambda2: Double = 0.7): DataFrame = {
    require(lambda3 > 0 && lambda3 < 1, s"lambda3 must be in (0,1): $lambda3")
    require(lambda2 > 0 && lambda2 < 1, s"lambda2 must be in (0,1): $lambda2")
    val id = col(idCol)
    def withTriples(df: DataFrame): DataFrame = df
      .withColumn("__tk", wsTokens(col(textCol)))
      .filter(size(col("__tk")) >= 3)
      .withColumn("__ntr", (size(col("__tk")) - 2).cast("long"))
      .withColumn("__z", explode(arrays_zip(
        expr("slice(__tk, 1, size(__tk) - 2)"),
        expr("slice(__tk, 2, size(__tk) - 2)"),
        expr("slice(__tk, 3, size(__tk) - 2)"))))
      .withColumn("w1", col("__z.0")).withColumn("w2", col("__z.1"))
      .withColumn("w3", col("__z.2"))
    def withPairs(df: DataFrame): DataFrame = df
      .withColumn("__tk", wsTokens(col(textCol)))
      .filter(size(col("__tk")) >= 2)
      .withColumn("__z", explode(arrays_zip(
        expr("slice(__tk, 1, size(__tk) - 1)"),
        expr("slice(__tk, 2, size(__tk) - 1)"))))
      .withColumn("w2", col("__z.0")).withColumn("w3", col("__z.1"))

    val refDocs = docs.filter(expr(refPredicate))
    val refTri = withTriples(refDocs)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val refTriCtx = refTri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("ctx3"))
    val refBi = withPairs(refDocs)
      .groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("c2"))
    val refBiCtx = refBi.groupBy(col("w2"))
      .agg(sum(col("c2")).as("ctx2"))
    val refUni = refDocs
      .select(explode(wsTokens(col(textCol))).as("w3"))
      .groupBy(col("w3")).agg(count(lit(1)).as("c1"))
    val stats = refUni.agg(sum(col("c1")).as("n_ref"),
      count(lit(1)).as("v_ref"))

    val tf = withTriples(docs)
      .groupBy(id, col(langCol), col("__ntr"),
        col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf"))
    val pTri = when(col("ctx3") > 0,
      coalesce(col("c3"), lit(0L)).cast("double") /
        col("ctx3").cast("double")).otherwise(lit(0.0))
    val pBi = when(col("ctx2") > 0,
      coalesce(col("c2"), lit(0L)).cast("double") /
        col("ctx2").cast("double")).otherwise(lit(0.0))
    val pUni = (coalesce(col("c1"), lit(0L)).cast("double") + 1.0) /
      (col("n_ref") + col("v_ref")).cast("double")
    val p = lit(lambda3) * pTri +
      lit(1.0 - lambda3) * (lit(lambda2) * pBi + lit(1.0 - lambda2) * pUni)
    val terms = tf
      .join(refTri, Seq("w1", "w2", "w3"), "left")
      .join(refTriCtx, Seq("w1", "w2"), "left")
      .join(refBi, Seq("w2", "w3"), "left")
      .join(refBiCtx, Seq("w2"), "left")
      .join(refUni, Seq("w3"), "left")
      .crossJoin(broadcast(stats))
      .select(id, col(langCol), col("__ntr"),
        col("w1"), col("w2"), col("w3"),
        (col("tf").cast("double") * log(p)).as("contrib"))
    terms.groupBy(id, col(langCol), col("__ntr"))
      .agg(round(
        -Folds.orderedSum(Seq(col("w1"), col("w2"), col("w3")),
          col("contrib")) / col("__ntr").cast("double"),
        6).as("h3_r"))
      .select(id, col(langCol), col("__ntr").as("n_trigrams"), col("h3_r"))
      .orderBy(id)
  }

  /** DuckDB twin of [[trigramCrossEntropy]]. */
  def trigramCrossEntropyOracleSql(table: String, idCol: String,
      textCol: String, langCol: String, refPredicate: String,
      lambda3: Double = 0.6, lambda2: Double = 0.7): String = {
    val ws = s"string_split_regex(trim($textCol), '\\s+')"
    val l3 = java.lang.Double.toString(lambda3)
    val b3 = java.lang.Double.toString(1.0 - lambda3)
    val l2 = java.lang.Double.toString(lambda2)
    val b2 = java.lang.Double.toString(1.0 - lambda2)
    def triples(pred: String, cols: String): String =
      s"""SELECT $cols z[1] AS w1, z[2] AS w2, z[3] AS w3
         |  FROM (SELECT *, CAST(len($ws) - 2 AS BIGINT) AS ntr,
         |          unnest(list_zip($ws[1:len($ws)-2], $ws[2:len($ws)-1],
         |                          $ws[3:len($ws)])) AS z
         |        FROM $table WHERE ($pred) AND len($ws) >= 3)""".stripMargin
    s"""WITH reftri AS (
       |  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
       |  FROM (${triples(refPredicate, "")})
       |  GROUP BY w1, w2, w3),
       |reftrictx AS (
       |  SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS ctx3
       |  FROM reftri GROUP BY w1, w2),
       |refbi AS (
       |  SELECT z[1] AS w2, z[2] AS w3, CAST(count(*) AS BIGINT) AS c2
       |  FROM (SELECT unnest(list_zip($ws[1:len($ws)-1], $ws[2:len($ws)]))
       |          AS z
       |        FROM $table WHERE ($refPredicate) AND len($ws) >= 2)
       |  GROUP BY w2, w3),
       |refbictx AS (
       |  SELECT w2, CAST(sum(c2) AS BIGINT) AS ctx2 FROM refbi GROUP BY w2),
       |refuni AS (
       |  SELECT w3, CAST(count(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest($ws) AS w3 FROM $table
       |        WHERE ($refPredicate))
       |  GROUP BY w3),
       |stats AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n_ref,
       |    CAST(count(*) AS BIGINT) AS v_ref FROM refuni),
       |tf AS (
       |  SELECT $idCol, $langCol, ntr, w1, w2, w3,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (${triples("TRUE", s"$idCol, $langCol, ntr,")})
       |  GROUP BY $idCol, $langCol, ntr, w1, w2, w3),
       |term AS (
       |  SELECT $idCol, $langCol, ntr, w1, w2, w3,
       |    CAST(tf AS DOUBLE) * ln(
       |      $l3 * (CASE WHEN ctx3 > 0
       |        THEN CAST(coalesce(c3, 0) AS DOUBLE) / CAST(ctx3 AS DOUBLE)
       |        ELSE 0.0 END) +
       |      $b3 * ($l2 * (CASE WHEN ctx2 > 0
       |        THEN CAST(coalesce(c2, 0) AS DOUBLE) / CAST(ctx2 AS DOUBLE)
       |        ELSE 0.0 END) +
       |      $b2 * ((CAST(coalesce(c1, 0) AS DOUBLE) + 1.0) /
       |             CAST(n_ref + v_ref AS DOUBLE)))) AS contrib
       |  FROM tf LEFT JOIN reftri USING (w1, w2, w3)
       |    LEFT JOIN reftrictx USING (w1, w2)
       |    LEFT JOIN refbi USING (w2, w3)
       |    LEFT JOIN refbictx USING (w2)
       |    LEFT JOIN refuni USING (w3)
       |    CROSS JOIN stats)
       |SELECT $idCol, $langCol, ntr AS n_trigrams,
       |  round(-${Folds.orderedSumSql("contrib", "w1, w2, w3")} /
       |    CAST(ntr AS DOUBLE), 6) AS h3_r
       |FROM term GROUP BY $idCol, $langCol, ntr
       |ORDER BY $idCol""".stripMargin
  }

  /** DuckDB twin of [[bigramCrossEntropy]]. */
  def bigramCrossEntropyOracleSql(table: String, idCol: String,
      textCol: String, langCol: String, refPredicate: String,
      lambda: Double = 0.7): String = {
    val ws = s"string_split_regex(trim($textCol), '\\s+')"
    val lam = java.lang.Double.toString(lambda)
    val bak = java.lang.Double.toString(1.0 - lambda)
    def pairs(pred: String, cols: String): String =
      s"""SELECT $cols z[1] AS w1, z[2] AS w2
         |  FROM (SELECT *, CAST(len($ws) - 1 AS BIGINT) AS nbi,
         |          unnest(list_zip($ws[1:len($ws)-1], $ws[2:len($ws)])) AS z
         |        FROM $table WHERE ($pred) AND len($ws) >= 2)""".stripMargin
    s"""WITH refbi AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       |  FROM (${pairs(refPredicate, "")})
       |  GROUP BY w1, w2),
       |refctx AS (
       |  SELECT w1, CAST(sum(c2) AS BIGINT) AS ctx FROM refbi GROUP BY w1),
       |refuni AS (
       |  SELECT w2, CAST(count(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest($ws) AS w2 FROM $table
       |        WHERE ($refPredicate))
       |  GROUP BY w2),
       |stats AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n_ref,
       |    CAST(count(*) AS BIGINT) AS v_ref FROM refuni),
       |tf AS (
       |  SELECT $idCol, $langCol, nbi, w1, w2,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (${pairs("TRUE", s"$idCol, $langCol, nbi,")})
       |  GROUP BY $idCol, $langCol, nbi, w1, w2),
       |term AS (
       |  SELECT $idCol, $langCol, nbi, w1, w2,
       |    CAST(tf AS DOUBLE) * ln(
       |      $lam * (CASE WHEN ctx > 0
       |        THEN CAST(coalesce(c2, 0) AS DOUBLE) / CAST(ctx AS DOUBLE)
       |        ELSE 0.0 END) +
       |      $bak * ((CAST(coalesce(c1, 0) AS DOUBLE) + 1.0) /
       |              CAST(n_ref + v_ref AS DOUBLE))) AS contrib
       |  FROM tf LEFT JOIN refbi USING (w1, w2)
       |    LEFT JOIN refctx USING (w1)
       |    LEFT JOIN refuni USING (w2)
       |    CROSS JOIN stats)
       |SELECT $idCol, $langCol, nbi AS n_bigrams,
       |  round(-${Folds.orderedSumSql("contrib", "w1, w2")} /
       |    CAST(nbi AS DOUBLE), 6) AS h2_r
       |FROM term GROUP BY $idCol, $langCol, nbi
       |ORDER BY $idCol""".stripMargin
  }

  /** DuckDB twin of [[crossEntropyBuckets]]: same tokenization, same
    * add-one smoothing, same token-sorted left fold, same 6-dp
    * rounding before the per-language ntile. */
  /** Windowed co-occurrence counting + pointwise mutual information
    * (Church & Hanks 1990; the statistic skip-gram-with-negative-
    * sampling embeddings implicitly factorize — Levy & Goldberg,
    * "Neural Word Embedding as Implicit Matrix Factorization",
    * NeurIPS 2014): directional (word, context) pairs within a
    * FORWARD window of `window` tokens, scored
    *
    *   pmi(a, b) = ln( c(a,b) · T / (c(a,·) · c(·,b)) )
    *
    * with both marginals and the total T taken from the pair table
    * itself (the Levy-Goldberg convention), so the statistic is
    * self-consistent without a separate unigram pass.
    *
    * Scale shape: pair generation is NARROW — posexplode plus an
    * in-row `slice` of the token array already present in the row,
    * never a positional self-join (the naive form joins a corpus to
    * itself on doc id + position range: at 100 TB that is a second
    * full-corpus shuffle and a range-join; the slice form emits the
    * same pairs from each row alone). The corpus pays exactly ONE
    * pair-keyed aggregation shape (map-side combined); marginals and
    * T are then derived FROM the distinct-pair count table —
    * vocabulary²-sized, orders of magnitude below the pair stream.
    * The pair-count frame feeds four consumers, and join-side
    * inferred null filters make their subtrees unequal, so exchange
    * reuse does NOT kick in (verified on the executed plan) — the pair
    * counts are materialized once ([[Materialize.once]]) and the
    * corpus is scanned once, full stop. Corpus text never shuffles —
    * only (a, b) key pairs.
    *
    * Determinism: the integer products c_ab·T and c_a·c_b are exact
    * in long; ONE double division then ln, and the result is rounded
    * to 6 dp before it is compared or ranked (the x36 BM25 boundary
    * trick — ln differs across libms by ≤1 ulp).
    *
    * Output: (a, b, c_ab, pmi_r), one row per co-occurring pair. */
  def cooccurrencePmi(docs: DataFrame, textCol: String,
      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val pairs = docs
      .select(wsTokens(col(textCol)).as("__tk"))
      .select(col("__tk"), posexplode(col("__tk")).as(Seq("__i", "a")))
      // 0-based pos __i → the next token is 1-based index __i + 2;
      // slice past the array end yields the empty array, which
      // explode drops — the end-of-document taper needs no guard
      .select(col("a"), explode(slice(col("__tk"),
        col("__i") + lit(2), lit(window))).as("b"))
    val cAb = Materialize.once(pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab")))
    val cA = cAb.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val cB = cAb.groupBy(col("b")).agg(sum(col("c_ab")).as("c_b"))
    val tot = cAb.agg(sum(col("c_ab")).as("t_pairs"))
    cAb.join(cA, "a").join(cB, "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("c_ab"),
        round(log((col("c_ab") * col("t_pairs")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")), 6).as("pmi_r"))
  }

  def crossEntropyOracleSql(table: String, idCol: String, textCol: String,
      langCol: String, refPredicate: String): String = {
    val ws = s"string_split_regex(trim($textCol), '\\s+')"
    // length(trim(..)) > 0, not len(tokens) > 0: string_split_regex('')
    // gives [''] so a token-count guard never fires on blank text —
    // mirror of the Spark-side nonBlank filter
    s"""WITH tok AS (
       |  SELECT $idCol, $langCol,
       |    CAST(len($ws) AS BIGINT) AS n_tok, unnest($ws) AS token
       |  FROM $table WHERE length(trim($textCol)) > 0),
       |refc AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest($ws) AS token FROM $table
       |        WHERE ($refPredicate) AND length(trim($textCol)) > 0)
       |  GROUP BY token),
       |stats AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_ref,
       |    CAST(count(*) AS BIGINT) AS v_ref FROM refc),
       |tf AS (
       |  SELECT $idCol, $langCol, n_tok, token,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY $idCol, $langCol, n_tok, token),
       |term AS (
       |  SELECT $idCol, $langCol, n_tok, token,
       |    CAST(tf AS DOUBLE) *
       |      ln((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) /
       |         CAST(n_ref + v_ref AS DOUBLE)) AS contrib
       |  FROM tf LEFT JOIN refc USING (token) CROSS JOIN stats),
       |folded AS (
       |  SELECT $idCol, $langCol, n_tok,
       |    round(-${Folds.orderedSumSql("contrib", "token")} /
       |      CAST(n_tok AS DOUBLE), 6) AS h_r
       |  FROM term GROUP BY $idCol, $langCol, n_tok),
       |bucketed AS (
       |  SELECT $idCol, $langCol, n_tok, h_r,
       |    ntile(3) OVER (PARTITION BY $langCol ORDER BY h_r, $idCol) AS t
       |  FROM folded)
       |SELECT $idCol, $langCol, n_tok, h_r,
       |  CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM bucketed ORDER BY $idCol""".stripMargin
  }

  // ---- corpus-shift quantification (token-level KL) -----------------

  /** Per-token Kullback-Leibler contributions between a SLICE of the
    * corpus (rows matching `srcPredicate`) and the REST — the drift /
    * domain-shift quantifier a curation pipeline runs when a new
    * source lands or a crawl refreshes: KL(p‖q) = Σ_t p(t)·ln(p/q)
    * over add-α smoothed unigram distributions on the UNION
    * vocabulary (so both distributions normalize to exactly 1 and no
    * token divides by zero). The output is the PER-TOKEN table —
    * token, both counts, both probabilities, and the signed
    * contribution — because that is what an engineer reads (which
    * tokens drive the shift); the scalar KL is one ungrouped sum away
    * and stays in the caller's hands (a corpus-wide float fold is the
    * one thing this library never hashes).
    *
    * Scale shape: ONE tokenize+explode pass with a per-row slice flag,
    * one token-keyed count aggregate (map-side partial), and a 1-row
    * totals broadcast; every probability/contribution is a per-row
    * projection of exact integer counts — bit-identical cross-engine.
    */
  def tokenKlContributions(docs: DataFrame, textCol: String,
      srcPredicate: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val toks = docs
      .select(expr(srcPredicate).as("__in"),
        explode(wsTokens(col(textCol))).as("token"))
    val counts = toks.groupBy(col("token")).agg(
      sum(when(col("__in"), 1L).otherwise(0L)).as("ca"),
      sum(when(col("__in"), 0L).otherwise(1L)).as("cb"))
    val totals = counts.agg(sum(col("ca")).as("na"),
      sum(col("cb")).as("nb"), count(lit(1)).as("v"))
    val p = (col("ca").cast("double") + alpha) /
      (col("na").cast("double") + lit(alpha) * col("v").cast("double"))
    val q = (col("cb").cast("double") + alpha) /
      (col("nb").cast("double") + lit(alpha) * col("v").cast("double"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("ca"), col("cb"),
        round(p, 9).as("p_r"), round(q, 9).as("q_r"),
        round(p * log(p / q), 9).as("contrib_r"))
  }

  /** DuckDB twin of [[tokenKlContributions]] — same smoothing,
    * divisions and rounding over table `table`. */
  def tokenKlOracleSql(table: String, textCol: String,
      srcPredicate: String, alpha: Double = 0.5): String = {
    val ws = s"string_split_regex(trim($textCol), '\\s+')"
    val a = java.lang.Double.toString(alpha)
    s"""WITH toks AS (
       |  SELECT ($srcPredicate) AS f, unnest($ws) AS token
       |  FROM $table),
       |counts AS (
       |  SELECT token,
       |    CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN f THEN 0 ELSE 1 END) AS BIGINT) AS cb
       |  FROM toks GROUP BY token),
       |tot AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS na,
       |    CAST(sum(cb) AS BIGINT) AS nb,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM counts)
       |SELECT token, ca, cb,
       |  round((CAST(ca AS DOUBLE) + $a) /
       |    (CAST(na AS DOUBLE) + $a * CAST(v AS DOUBLE)), 9) AS p_r,
       |  round((CAST(cb AS DOUBLE) + $a) /
       |    (CAST(nb AS DOUBLE) + $a * CAST(v AS DOUBLE)), 9) AS q_r,
       |  round(((CAST(ca AS DOUBLE) + $a) /
       |      (CAST(na AS DOUBLE) + $a * CAST(v AS DOUBLE))) *
       |    ln(((CAST(ca AS DOUBLE) + $a) /
       |      (CAST(na AS DOUBLE) + $a * CAST(v AS DOUBLE))) /
       |      ((CAST(cb AS DOUBLE) + $a) /
       |      (CAST(nb AS DOUBLE) + $a * CAST(v AS DOUBLE)))), 9)
       |    AS contrib_r
       |FROM counts CROSS JOIN tot""".stripMargin
  }
}
