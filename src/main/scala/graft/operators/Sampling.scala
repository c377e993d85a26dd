package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions._

/** Deterministic sampling and dataset splitting for training-data
  * pipelines.
  *
  * Everything keys off the md5-derived 60-bit hash of the row id —
  * never `rand()` — so samples and train/val/test assignments are
  * reproducible across runs, engines (the DuckDB oracle reproduces
  * them bit-for-bit), cluster layouts, and incremental re-runs over
  * a growing corpus (a row's split never changes as data arrives).
  * All operators are narrow projections/filters: zero shuffles, fully
  * pushdown-friendly.
  */
object Sampling {

  /** Stable bucket 0..buckets-1 from the row id (md5-derived, uniform
    * for practical purposes; 60-bit hash is always positive so `%` is
    * safe). */
  def hashBucket(id: Column, buckets: Int): Column =
    md5Hash60(id.cast("string")) % buckets

  /** Deterministic ~pct% sample (keep rows whose bucket < pct). */
  def hashSample(df: DataFrame, idCol: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(idCol), 100) < pct)

  /** Train/val/test assignment: bucket < trainPct -> train,
    * < trainPct+valPct -> val, else test. Adds `bucket` and `split`. */
  def assignSplit(df: DataFrame, idCol: String, trainPct: Int,
      valPct: Int): DataFrame =
    df.withColumn("bucket", hashBucket(col(idCol), 100))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  /** Temperature-based class rebalancing (the multilingual sampling
    * knob of XLM / mC4 — Conneau & Lample 2019 §3.1, Raffel et al.
    * 2020 §2.3): resample so class shares follow `p_c ∝ n_c^alpha`
    * instead of the natural distribution — `alpha < 1` lifts
    * low-resource classes, `alpha = 1` is a no-op. Realized here as
    * pure DOWNSAMPLING at maximum utilization, which has a closed
    * form: the smallest class keeps 100% and class c keeps
    * `(n_min / n_c)^(1-alpha)` (derivation: keep_c = T·share_c with
    * T = min_c n_c/share_c; the share normalizer cancels).
    *
    * Scale shape: one map-side-combined count per class (the only
    * shuffle, cardinality = #classes), a broadcast join of the tiny
    * per-class keep-rate frame, and the same deterministic md5 keep
    * filter as [[hashSample]] — no rand(), reproducible across
    * engines/runs, and a kept row stays kept under re-runs with the
    * same class counts. Keep rates are rounded to 6 dp before the
    * bucket cut so both engines drop the identical rows (pow differs
    * across libms by ~1 ulp). `buckets` sets rate granularity
    * (default 1e-4). A NULL class is a class like any other: the
    * rates join is null-safe (`<=>`), so null-class rows get the
    * keep rate their group's count implies — alpha=1 keeps every
    * row, null class included. */
  def temperatureSample(df: DataFrame, classCol: String, idCol: String,
      alpha: Double, buckets: Int = 10000): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val counts = df.groupBy(col(classCol)).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(minN)
      .select(col(classCol).as("__cls"),
        round(pow(col("__nmin").cast("double") / col("__n"),
          lit(1.0 - alpha)), 6).as("keep_rate_r"))
    df.join(broadcast(rates), df(classCol) <=> rates("__cls"))
      .filter(md5Hash60(col(idCol).cast("string")) % buckets <
        floor(col("keep_rate_r") * buckets))
      .drop("__cls")
  }

  /** Per-domain quota: keep each domain's `quota` lowest-`idCol` rows
    * — the web-pipeline per-site cap that stops one crawl-heavy
    * domain from dominating the mix.
    *
    * Skew design: a hot domain (hundreds of millions of pages) would
    * funnel through ONE window task, so ranking is two-phase. Phase 1
    * ranks within (domain, shard) — shard = id-hash mod `shards` —
    * and keeps at most `quota` rows per shard: a row with `quota`
    * same-domain rows below it in its OWN shard already cannot be
    * among the domain's lowest `quota`, so the discard is lossless.
    * Phase 2 ranks the ≤ shards×quota survivors per domain. Both
    * passes shuffle on their window keys; no task ever sees more than
    * shards×quota rows of any single domain. */
  def domainQuota(df: DataFrame, domainCol: String, idCol: String,
      quota: Int, shards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quota > 0 && shards > 0, "quota and shards must be positive")
    val w1 = Window
      .partitionBy(col(domainCol), md5Hash60(col(idCol).cast("string")) % shards)
      .orderBy(col(idCol))
    val w2 = Window.partitionBy(col(domainCol)).orderBy(col(idCol))
    df.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= quota)
      .withColumn("__r2", row_number().over(w2))
      .filter(col("__r2") <= quota)
      .drop("__r1", "__r2")
  }

  /** Deterministic weighted sampling without replacement (Efraimidis
    * & Spirakis 2006): per class, keep the `k` rows with the largest
    * priority `ln(u) / w`, where `u ∈ (0, 1]` derives from the row
    * id's md5 — never `rand()` — and `w` is the row's weight. That
    * priority is a monotone transform of E-S's `u^(1/w)` key, so the
    * top-k by it IS a weighted sample without replacement: inclusion
    * probability rises with weight (the token-budget-proportional /
    * quality-score-proportional subset selection step of a corpus
    * mix), and the draw is reproducible across runs, engines, and
    * cluster layouts — the DuckDB oracle re-derives the identical
    * sample from the identical md5 arithmetic.
    *
    * Cross-engine determinism: `u` is exact 60-bit integer arithmetic
    * in both engines; `ln` may differ by ~1 ulp across libms (the
    * temperatureSample pow note), so the priority is rounded to 9 dp
    * BEFORE ranking and ties break on the id — both engines rank the
    * same.
    *
    * Skew shape: same two-phase ranking as [[domainQuota]] — phase 1
    * ranks within (class, id-hash shard) and keeps at most `k` per
    * shard (lossless: a row with `k` higher-priority classmates in
    * its OWN shard cannot be in the class top-k), phase 2 ranks the
    * ≤ shards×k survivors. No task ever holds more than shards×k
    * rows of one class; the weight column never shuffles beyond the
    * two window exchanges. Adds `w` (the evaluated weight), `priority_r`
    * (the rounded priority) and `rk` (the final per-class rank). */
  def weightedSample(df: DataFrame, classCol: String, idCol: String,
      weight: Column, k: Int, shards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && shards > 0, "k and shards must be positive")
    val u = (md5Hash60(col(idCol).cast("string")) + 1).cast("double") /
      lit((1L << 60).toDouble)
    // E-S requires w > 0. Guard rather than trust: a NEGATIVE weight
    // flips ln(u)/w positive (beats every legitimate priority — the
    // row would ALWAYS be drawn), and Spark orders NaN above every
    // double (same hijack). Invalid weights get a NULL priority and
    // are filtered OUT before ranking: desc_nulls_last alone only
    // pushes them below valid rows — row_number still ranks them, so
    // a class with fewer than k valid rows would leak invalid rows
    // through both `<= k` filters.
    val wd = weight.cast("double")
    val pri = when(!isnan(wd) && wd > 0, round(log(u) / wd, 9))
    val w1 = Window
      .partitionBy(col(classCol),
        md5Hash60b(col(idCol).cast("string")) % shards)
      .orderBy(col("priority_r").desc, col(idCol))
    val w2 = Window.partitionBy(col(classCol))
      .orderBy(col("priority_r").desc, col(idCol))
    df.withColumn("w", weight.cast("double"))
      .withColumn("priority_r", pri)
      .filter(col("priority_r").isNotNull)
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .drop("__r1")
  }

  // ---- DSIR: data selection via importance resampling --------------

  /** DSIR (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): select raw-corpus documents that look
    * like a TARGET distribution under a hashed-n-gram bag-of-features
    * model. Per document, unigram+bigram features hash (md5-derived,
    * engine-portable) into `buckets` bins; the target (rows matching
    * `targetPredicate`) and raw (all rows) bucket distributions are
    * add-α smoothed; a document's importance log-weight is
    * Σ_b n_b·ln(p̂_target(b)/p̂_raw(b)); Gumbel-top-k over
    * logw + Gumbel(md5-uniform) draws `k` documents WITHOUT
    * replacement from the softmax of the weights — the paper's
    * sampler, derandomized the way everything in this object is (the
    * noise is a hash of the id, so the draw is reproducible across
    * runs, engines, and cluster layouts).
    *
    * Determinism contract: the per-document fold over bucket
    * contributions runs in bucket order on both engines (same IEEE
    * op order ⇒ identical bits), the Gumbel key rounds to 9 dp with
    * id tiebreak before ranking (the [[weightedSample]] convention),
    * and the display weight rounds to 6 dp.
    *
    * Scale shape: feature explosion is narrow; the only wide ops are
    * the (id, bucket) count (map-side partial) and the two
    * bucket-histogram aggregates whose results are `buckets`-sized —
    * broadcast back to the per-doc counts, so corpus text never
    * shuffles and no join side scales with the corpus except the
    * slim (id, bucket, n) frame, which feeds both histograms and the
    * scoring join and is materialized once ([[Materialize.once]]), so
    * the corpus is tokenized once. Selection is orderBy(key).limit(k)
    * — Spark's distributed top-k (per-partition heaps), never a
    * global window.
    *
    * Output: the `k` selected rows as (idCol, n_feats, logw_r,
    * gkey_r), best key first. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      targetPredicate: String, buckets: Int = 1024, alpha: Double = 0.5,
      k: Int = 100): DataFrame = {
    require(buckets > 0 && alpha > 0 && k > 0,
      "buckets, alpha and k must be positive")
    import graft.functions.TextFunctions.{adjacentBigrams, wsTokens}
    val id = col(idCol)

    // the predicate is evaluated in the same projection that adds the
    // token array, so it reads the SOURCE columns — a source column
    // named __tk is not replaced before the predicate sees it
    def bucketed(df: DataFrame): DataFrame = df
      .select(id, expr(targetPredicate).as("__tgt"),
        wsTokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .select(id, col("__tgt"),
        explode(concat(col("__tk"), adjacentBigrams(col("__tk"))))
          .as("feat"))
      .select(id, col("__tgt"),
        (md5Hash60(col("feat")) % buckets).as("bucket"))

    // one tokenization pass over the corpus: the raw histogram is the
    // bucket-marginal of the per-doc counts. Target membership rides
    // the pass as a PER-ROW flag (it only reads docs columns) —
    // constant per document, so adding it to the grouping keys
    // changes no groups.
    val docBuckets = Materialize.once(
      bucketed(docs).groupBy(id, col("__tgt"), col("bucket"))
        .agg(count(lit(1)).as("n")))
    val raw = docBuckets.groupBy(col("bucket"))
      .agg(sum(col("n")).cast("long").as("cr"))
    // target histogram = filter + re-aggregate of the (materialized)
    // per-doc counts — NOT a semi-join against a second docs scan:
    // the join form shuffled the whole narrow frame by id and
    // re-read the docs table for its ids (guide §1.2 step 1 / §2.3).
    // The per-row flag is exactly the oracle's `WHERE predicate`
    // semantics, with no unique-id precondition.
    val tgt = docBuckets.filter(col("__tgt"))
      .groupBy(col("bucket")).agg(sum(col("n")).cast("long").as("ct"))
    val totals = raw.agg(sum(col("cr")).as("nr"))
      .crossJoin(tgt.agg(sum(col("ct")).as("nt")))
    val denom = alpha * buckets
    val ratio = raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        log(((coalesce(col("ct"), lit(0L)).cast("double") + alpha) /
          (col("nt").cast("double") + denom)) /
          ((col("cr").cast("double") + alpha) /
            (col("nr").cast("double") + denom))).as("lr"))

    val scored = docBuckets.join(broadcast(ratio), Seq("bucket"))
      .select(id, col("bucket"), col("n"),
        (col("n").cast("double") * col("lr")).as("contrib"))
      .groupBy(id)
      .agg(sum(col("n")).cast("long").as("n_feats"),
        Folds.orderedSum(Seq(col("bucket")), col("contrib")).as("__logw"))
    // Gumbel(0,1) from the id-hash uniform: u in (0,1) exactly as
    // (h + 0.5) / 2^60, g = -ln(-ln(u)); "dsir:" namespaces the draw
    // away from every other id-hash consumer (split buckets, E-S
    // priorities) so selections stay independent
    val u = (md5Hash60(concat(lit("dsir:"), id.cast("string")))
      .cast("double") + lit(0.5)) / lit((1L << 60).toDouble)
    scored
      .select(id, col("n_feats"), round(col("__logw"), 6).as("logw_r"),
        round(col("__logw") + -log(-log(u)), 9).as("gkey_r"))
      .orderBy(col("gkey_r").desc, id)
      .limit(k)
  }

  /** DuckDB twin of [[dsirSelect]] — same constants, same fold order,
    * same rounding; the list_reduce fold mirrors the sorted in-row
    * aggregate so both engines sum contributions in bucket order. */
  def dsirOracleSql(table: String, idCol: String, textCol: String,
      targetPredicate: String, buckets: Int = 1024, alpha: Double = 0.5,
      k: Int = 100): String = {
    val ws = s"string_split_regex(trim($textCol), '\\s+')"
    val a = java.lang.Double.toString(alpha)
    val d = java.lang.Double.toString(alpha * buckets)
    val two60 = java.lang.Double.toString((1L << 60).toDouble)
    s"""WITH tk AS (
       |  SELECT $idCol, $ws AS toks FROM $table
       |  WHERE len($ws) >= 1),
       |f AS (
       |  SELECT $idCol, unnest(toks || list_transform(
       |      range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i + 1])) AS feat
       |  FROM tk),
       |b AS (
       |  SELECT $idCol,
       |    ('0x' || substr(md5(feat), 1, 15))::BIGINT % $buckets
       |      AS bucket
       |  FROM f),
       |db AS (
       |  SELECT $idCol, bucket, CAST(count(*) AS BIGINT) AS n
       |  FROM b GROUP BY 1, 2),
       |raw AS (
       |  SELECT bucket, CAST(sum(n) AS BIGINT) AS cr
       |  FROM db GROUP BY 1),
       |tgt AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS ct
       |  FROM b JOIN $table USING ($idCol)
       |  WHERE ($targetPredicate) GROUP BY 1),
       |tot AS (
       |  SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
       |    (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt),
       |r AS (
       |  SELECT raw.bucket,
       |    ln(((CAST(coalesce(ct, 0) AS DOUBLE) + $a) /
       |      (CAST(nt AS DOUBLE) + $d)) /
       |      ((CAST(cr AS DOUBLE) + $a) /
       |        (CAST(nr AS DOUBLE) + $d))) AS lr
       |  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
       |sc AS (
       |  SELECT $idCol, CAST(sum(n) AS BIGINT) AS n_feats,
       |    ${Folds.orderedSumSql("CAST(n AS DOUBLE) * lr", "bucket")} AS logw
       |  FROM db JOIN r USING (bucket)
       |  GROUP BY $idCol),
       |g AS (
       |  SELECT $idCol, n_feats, round(logw, 6) AS logw_r,
       |    round(logw + -ln(-ln(
       |      (CAST(('0x' || substr(md5('dsir:' ||
       |        CAST($idCol AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
       |        + 0.5) / $two60)), 9) AS gkey_r
       |  FROM sc)
       |SELECT $idCol, n_feats, logw_r, gkey_r
       |FROM g ORDER BY gkey_r DESC, $idCol LIMIT $k""".stripMargin
  }
}
