package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training data: assign documents (in a
  * deterministic id order) to fixed token-budget packs, the step that
  * turns a cleaned corpus into training shards. Pack boundaries come
  * from the global running token sum — a document straddling a
  * boundary starts its pack and continues into the next (the
  * streaming-chunker semantic; packs are index ranges, not bins).
  *
  * Scale design: the global running sum is computed as a TWO-LEVEL
  * prefix sum — a cumsum windowed WITHIN each id bucket plus an
  * exclusive prefix over the per-bucket totals — so no window ever
  * sees more than one bucket's rows and the only global pass is over
  * #buckets rows (thousands, not billions). Integer prefix sums are
  * associative, so the result is bit-identical to the textbook
  * single-window formulation (which is what the DuckDB oracle runs).
  */
object Packing {

  /** (idCol, nTokCol, pack_id) for every row: pack_id =
    * floor(exclusive_running_token_sum / budget) over rows ordered by
    * `idCol`.
    *
    * PRECONDITION: `idCol` values must be unique — the running sum is
    * ordered by id alone, so duplicate ids would make tie order (and
    * thus pack boundaries) run-dependent, like any non-total ORDER BY.
    *
    * Buckets come from `repartitionByRange` over the id (sampled,
    * balanced boundaries), NOT from the id VALUE space — value-range
    * buckets degenerate to one row per bucket under sparse hash ids,
    * which would blow up the offsets broadcast and the over-buckets
    * window. `nBuckets` therefore bounds the offsets frame regardless
    * of id distribution. The sampled boundaries may differ between
    * runs, but the prefix sum is associative, so pack ids are
    * IDENTICAL for any bucketing — determinism does not depend on the
    * sampling (PackingSpec checks equivalence across bucket counts),
    * and a task retry recomputes the same pure id→partition mapping.
    *
    * `nBuckets = 0` (the default) adapts to the CLUSTER: 4 buckets
    * per default-parallelism slot, capped at 1024. The cap keeps the
    * offsets frame tiny at any scale; the floor keeps a 5k-row local
    * corpus from paying 1024-way repartition task overhead (measured
    * 12.7 s → ~1 s on the sf0.1 mixing query). Deliberately NOT
    * derived from `df.rdd.getNumPartitions`: under AQE, `.rdd`
    * materializes the final plan — executing every upstream shuffle
    * once just to count partitions, then recomputing it all on the
    * real action. `defaultParallelism` is a pure driver-side read. */
  def assignPacks(docs: DataFrame, idCol: String, nTokCol: String,
      budget: Long, nBuckets: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    exclusiveRunningSum(docs, idCol, nTokCol, nBuckets)
      // integer DIV, not `/`: double division would lose exactness
      // once running token sums pass 2^53
      .select(col(idCol), col(nTokCol),
        expr(s"CAST(__excl DIV $budget AS BIGINT)").as("pack_id"))
  }

  /** The distributed global INCLUSIVE running sum of `valueCol` over
    * rows in `orderCols` order (which must be a TOTAL order), as
    * column `__incl`, all input columns carried through — THE
    * two-level prefix-sum primitive: an in-bucket windowed cumsum
    * (buckets from sampled `repartitionByRange` over the ordering,
    * so no window ever sees more than one bucket) plus an exclusive
    * prefix over the ≤`buckets` per-bucket totals — the only global
    * window — broadcast back. Integer values make the regrouping
    * exact, so the result is bit-identical to the textbook
    * single-window formulation for ANY bucketing; see [[assignPacks]]
    * for the bucket-count policy. Behind pack assignment, weighted
    * corpus mixing, and `Corpus.budgetSelect`'s (quality DESC, id)
    * greedy fill. */
  def inclusiveRunningSum(docs: DataFrame, orderCols: Seq[Column],
      valueCol: String, nBuckets: Int = 0): DataFrame = {
    require(nBuckets >= 0, "nBuckets must be >= 0 (0 = adaptive)")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val buckets =
      if (nBuckets > 0) nBuckets
      else math.min(1024, math.max(1,
        docs.sparkSession.sparkContext.defaultParallelism * 4))
    // the bucketed frame feeds TWO arms (in-bucket cumsum and the
    // per-bucket totals), so its subtree — the caller's input plus
    // the range exchange — computes twice (recompute keeps full
    // lineage; both arms are linear map/agg work)
    val bucketed = docs
      .repartitionByRange(buckets, orderCols: _*)
      .withColumn("__b", spark_partition_id().cast("long"))
    val inBucket = Window.partitionBy(col("__b"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = bucketed
      .withColumn("__cum_in", sum(col(valueCol)).over(inBucket))
    // per-bucket totals: at most nBuckets rows — the only global
    // window runs over this tiny frame
    val bucketTotals = withCum.groupBy(col("__b"))
      .agg(sum(col(valueCol)).as("__tot"))
    val overBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketTotals
      .withColumn("__off", sum(col("__tot")).over(overBuckets) - col("__tot"))
      .select(col("__b"), col("__off"))
    withCum.join(broadcast(offsets), Seq("__b"))
      .withColumn("__incl", col("__cum_in") + col("__off"))
      .drop("__b", "__cum_in")
  }

  /** PER-GROUP inclusive running sum — [[inclusiveRunningSum]]'s
    * two-level decomposition with every level additionally keyed by
    * `groupCol`: the in-bucket cumsum windows on (group, bucket), the
    * per-(group, bucket) totals get their exclusive prefix from a
    * window keyed by group over AT MOST `buckets` rows per group, and
    * the offsets join back on (group, bucket). Exists because the
    * plain per-group window (`partitionBy(group).orderBy(order)`)
    * degenerates to ONE task for a group whose ordered rows are
    * corpus-sized — a continuous-valued histogram group
    * (distinct ≈ rows) is exactly that shape — while here the
    * range partitioning on (group, orderCols) spreads that group
    * across buckets and no window ever sees more than one bucket's
    * slice of it. Range partitioning keeps each group's buckets
    * contiguous, so the offsets frame holds ≤ #groups + buckets rows
    * (each bucket boundary splits at most one group); the join back
    * is a plain equi-join on (group, bucket) — skew-splittable,
    * unlike a window. Bit-identical to the single-window form for
    * integer values (associative regrouping), same as the global
    * primitive. `orderCols` must totally order rows WITHIN each
    * group.
    *
    * `withGroupTotal = true` additionally emits `__gtot`, the GROUP's
    * total of `valueCol`, on every row — computed with one more
    * window over the same tiny per-bucket-totals frame and delivered
    * by the join that was already happening, so a caller needing
    * per-group totals (the quantile thresholds) pays ZERO extra
    * passes over the data (a separate totals aggregate would re-scan
    * the whole input). */
  def groupedInclusiveRunningSum(df: DataFrame, groupCol: String,
      orderCols: Seq[Column], valueCol: String,
      nBuckets: Int = 0, withGroupTotal: Boolean = false): DataFrame = {
    require(nBuckets >= 0, "nBuckets must be >= 0 (0 = adaptive)")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val buckets =
      if (nBuckets > 0) nBuckets
      else math.min(1024, math.max(1,
        df.sparkSession.sparkContext.defaultParallelism * 4))
    // two-consumer bucketed frame — see inclusiveRunningSum's note
    val bucketed = df
      .repartitionByRange(buckets, (col(groupCol) +: orderCols): _*)
      .withColumn("__b", spark_partition_id().cast("long"))
    val inBucket = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = bucketed
      .withColumn("__cum_in", sum(col(valueCol)).over(inBucket))
    val bucketTotals = withCum.groupBy(col(groupCol), col("__b"))
      .agg(sum(col(valueCol)).as("__tot"))
    // ≤ buckets rows per group under this window, whatever the skew
    val overBuckets = Window.partitionBy(col(groupCol))
      .orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offCols =
      if (withGroupTotal)
        Seq(col(groupCol), col("__b"), col("__off"),
          sum(col("__tot")).over(Window.partitionBy(col(groupCol)))
            .as("__gtot"))
      else Seq(col(groupCol), col("__b"), col("__off"))
    val offsets = bucketTotals
      .withColumn("__off",
        sum(col("__tot")).over(overBuckets) - col("__tot"))
      .select(offCols: _*)
    // offsets is (#groups + buckets)-sized, not broadcast-bounded —
    // a high-cardinality group column must stay a shuffle join.
    // NULL-SAFE on the group key: the window form this replaces
    // treated a NULL group as a normal partition, and a plain
    // equi-join would silently drop every NULL-group row.
    val offsetsR = offsets.withColumnRenamed(groupCol, "__og")
      .withColumnRenamed("__b", "__ob")
    withCum.join(offsetsR,
        col(groupCol) <=> col("__og") && col("__b") === col("__ob"))
      .withColumn("__incl", col("__cum_in") + col("__off"))
      .drop("__og", "__ob", "__b", "__cum_in")
  }

  /** The EXCLUSIVE running sum of `valueCol` over rows ordered by
    * (unique) `idCol`, as column `__excl` — [[inclusiveRunningSum]]
    * minus the row's own value (exact for the integer values this
    * operates on). See [[assignPacks]] for the bucketing rationale
    * and the uniqueness precondition. */
  def exclusiveRunningSum(docs: DataFrame, idCol: String,
      valueCol: String, nBuckets: Int = 0): DataFrame =
    inclusiveRunningSum(docs.select(col(idCol), col(valueCol)),
        Seq(col(idCol)), valueCol, nBuckets)
      .withColumn("__excl", col("__incl") - col(valueCol))
      .select(col(idCol), col(valueCol), col("__excl"))

  /** Sliding-window chunking: split each document into
    * `chunkSize`-token chunks whose starts advance by
    * `chunkSize - overlap` tokens — the context-window prep that
    * turns long documents into trainable sequences without losing
    * the text that straddles a boundary. The final chunk may be
    * shorter; a document with at most `chunkSize` tokens yields
    * exactly one chunk.
    *
    * Emits (idCol, chunk_id, start_tok, n_tokens, chunk_md5) —
    * chunk content travels as an md5 digest because downstream
    * consumers (dedup, manifests, the oracle gate) only need
    * identity; a writer variant would keep the text column.
    *
    * Scale shape: tokenization, chunk slicing, and hashing all
    * happen INSIDE one row before a posexplode — a narrow operator
    * with zero shuffles whose output is ~n_tokens/step rows per doc.
    * The token array is materialized in a projection first and only
    * the BOUND attribute is referenced inside the transform lambda
    * (the HOF-recompute contract), so per-chunk work is one slice +
    * join + md5, not a re-tokenization. */
  def slidingChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize,
      "overlap must be in [0, chunkSize)")
    val step = chunkSize - overlap
    docs.select(col(idCol),
        graft.functions.TextFunctions.wsTokens(col(textCol)).as("__tk"))
      .select(col(idCol), expr(
        s"""transform(
           |  sequence(1, greatest(size(__tk) - $overlap, 1), $step),
           |  st -> struct(
           |    CAST(st AS BIGINT) AS start_tok,
           |    CAST(least($chunkSize, size(__tk) - st + 1) AS BIGINT)
           |      AS n_tokens,
           |    md5(array_join(slice(__tk, st, $chunkSize), ' '))
           |      AS chunk_md5))""".stripMargin).as("__chunks"))
      .select(col(idCol), posexplode(col("__chunks")))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        col("col.start_tok"), col("col.n_tokens"), col("col.chunk_md5"))
  }

  /** Pack manifest: per pack, its row count, token total, and id
    * range — what a shard writer consumes. */
  def packManifest(assigned: DataFrame, idCol: String,
      nTokCol: String): DataFrame =
    assigned.groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col(nTokCol)).as("n_tokens"),
        min(col(idCol)).as("first_id"), max(col(idCol)).as("last_id"))

  /** Fill-in-the-middle transformation (Bavarian et al. 2022): split
    * each document at two deterministic cut points and reorder as
    * PSM `<PRE>prefix<SUF>suffix<MID>middle` or SPM `<SUF>suffix
    * <PRE>prefix<MID>middle` — the data-side op that teaches a causal
    * LM to infill; applied to ~50% of code/text corpora at
    * pretraining time. Cuts and the PSM/SPM choice are namespaced id
    * hashes (never rand()): a document's FIM form is stable across
    * runs, engines and re-shards. Documents shorter than `minChars`
    * pass through unsplit with mode 'none' (cut arithmetic on
    * degenerate lengths yields empty spans that teach nothing).
    *
    * A pure narrow projection — the text never shuffles. Character
    * indexing is codepoint-based in BOTH engines only for BMP text;
    * run after the hygiene stages (x58/x60/x83) as a real pipeline
    * would.
    *
    * Output: (idCol, mode, c1, c2, fim_text). */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
      minChars: Int = 16): DataFrame = {
    import graft.functions.HashFunctions.md5Hash60
    require(minChars >= 3, s"minChars must be >= 3, got $minChars")
    val id = col(idCol)
    val txt = col(textCol)
    val len = length(txt)
    def h(tag: String) =
      md5Hash60(concat(lit(s"fim$tag:"), id.cast("string")))
    // cuts in [1, L-1]: prefix and suffix are never the whole doc
    // greatest(...,1): a 0/1-char doc must not divide by zero computing
    // cuts it will discard as 'none' anyway
    val a = (h("1") % greatest(len - 1, lit(1)) + 1).cast("int")
    val b = (h("2") % greatest(len - 1, lit(1)) + 1).cast("int")
    val c1 = least(a, b)
    val c2 = greatest(a, b)
    val pre = substring(txt, lit(1), c1)
    val mid = substring(txt, c1 + 1, c2 - c1)
    val suf = substring(txt, c2 + 1, len - c2)
    val spm = h("m") % 2 === 0
    val short = len < minChars
    docs.select(id,
      when(short, "none").when(spm, "spm").otherwise("psm").as("mode"),
      when(short, lit(-1L)).otherwise(c1.cast("long")).as("c1"),
      when(short, lit(-1L)).otherwise(c2.cast("long")).as("c2"),
      when(short, txt)
        .when(spm, concat(lit("<SUF>"), suf, lit("<PRE>"), pre,
          lit("<MID>"), mid))
        .otherwise(concat(lit("<PRE>"), pre, lit("<SUF>"), suf,
          lit("<MID>"), mid)).as("fim_text"))
  }

  /** T5-style span corruption (Raffel et al. 2020): tokens partition
    * into fixed blocks of `blockTokens`; each block corrupts with
    * probability `corruptPct`% under a namespaced id+block hash
    * (derandomized — a document's corruption is stable across runs,
    * engines and re-shards). The model INPUT replaces each corrupted
    * block with a consecutive `<extra_id_K>` sentinel; the TARGET is
    * the sentinels with their original spans — the denoising
    * objective's data builder. Everything is one in-row HOF chain
    * over the token array (narrow, zero shuffle); token counts obey
    * tokens(input) + tokens(target) = tokens(doc) + 2·n_corr, which
    * callers audit.
    *
    * Output: (idCol, n_blocks, n_corr, input, target). */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 6, corruptPct: Int = 15): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1")
    require(corruptPct >= 0 && corruptPct <= 100, "corruptPct in [0,100]")
    val bt = blockTokens
    val hashPick =
      "CAST(conv(substring(md5(concat('span:', CAST(" + idCol +
        " AS STRING), ':', CAST(b AS STRING))), 1, 15), 16, 10) " +
        s"AS BIGINT) % 100 < $corruptPct"
    docs
      .select(col(idCol),
        graft.functions.TextFunctions.wsTokens(col(textCol)).as("__tk"))
      .withColumn("__nb",
        expr(s"CAST(ceil(size(__tk) / $bt.0) AS INT)"))
      // Spark's sequence(0, -1) is the DESCENDING [0, -1], while the
      // twin's range(0, 0) is empty — guard the __nb = 0 case so the
      // engines agree unconditionally (wsTokens never returns an
      // empty array today, but a tokenizer change or null text must
      // not silently split the engines)
      .withColumn("__blk",
        expr("CASE WHEN __nb > 0 THEN sequence(0, __nb - 1) " +
          "ELSE CAST(array() AS ARRAY<INT>) END"))
      .withColumn("__corr",
        expr(s"filter(__blk, b -> $hashPick)"))
      .select(col(idCol),
        col("__nb").cast("long").as("n_blocks"),
        expr("CAST(size(__corr) AS BIGINT)").as("n_corr"),
        expr(
          s"""array_join(transform(__blk, b ->
             |  CASE WHEN array_contains(__corr, b)
             |    THEN concat('<extra_id_',
             |      CAST(array_position(__corr, b) - 1 AS STRING), '>')
             |    ELSE array_join(slice(__tk, b * $bt + 1, $bt), ' ')
             |  END), ' ')""".stripMargin).as("input"),
        expr(
          s"""array_join(transform(__corr, b ->
             |  concat('<extra_id_',
             |    CAST(array_position(__corr, b) - 1 AS STRING), '> ',
             |    array_join(slice(__tk, b * $bt + 1, $bt), ' '))),
             |  ' ')""".stripMargin).as("target"))
  }

  /** DuckDB twin of [[spanCorrupt]] — same hash, blocks, sentinels. */
  def spanCorruptSql(table: String, idCol: String, textCol: String,
      blockTokens: Int = 6, corruptPct: Int = 15): String = {
    val bt = blockTokens
    val ws = s"string_split_regex(trim($textCol), '\\s+')"
    val pick =
      s"('0x' || substr(md5('span:' || CAST($idCol AS VARCHAR) || ':' " +
        s"|| CAST(b AS VARCHAR)), 1, 15))::BIGINT % 100 < $corruptPct"
    s"""WITH tk AS (
       |  SELECT $idCol, $ws AS toks,
       |    CAST(ceil(len($ws) / $bt.0) AS INT) AS nb
       |  FROM $table),
       |c AS (
       |  SELECT $idCol, toks, nb,
       |    list_filter(range(0, nb), b -> $pick) AS corr
       |  FROM tk)
       |SELECT $idCol, CAST(nb AS BIGINT) AS n_blocks,
       |  CAST(len(corr) AS BIGINT) AS n_corr,
       |  array_to_string(list_transform(range(0, nb), b ->
       |    CASE WHEN list_contains(corr, b)
       |      THEN '<extra_id_' ||
       |        CAST(list_position(corr, b) - 1 AS VARCHAR) || '>'
       |      ELSE array_to_string(
       |        toks[b * $bt + 1 : b * $bt + $bt], ' ')
       |    END), ' ') AS input,
       |  coalesce(array_to_string(list_transform(corr, b ->
       |    '<extra_id_' || CAST(list_position(corr, b) - 1 AS VARCHAR)
       |      || '> ' ||
       |      array_to_string(toks[b * $bt + 1 : b * $bt + $bt], ' ')),
       |    ' '), '') AS target
       |FROM c""".stripMargin
  }

  /** DuckDB twin of [[fimTransform]] — same hashes, cuts, formats. */
  def fimTransformSql(table: String, idCol: String, textCol: String,
      minChars: Int = 16): String = {
    def h(tag: String) =
      s"('0x' || substr(md5('fim$tag:' || CAST($idCol AS VARCHAR)), " +
        s"1, 15))::BIGINT"
    s"""WITH b AS (
       |  SELECT $idCol, $textCol AS txt, length($textCol) AS L,
       |    ${h("1")} % greatest(length($textCol) - 1, 1) + 1 AS a,
       |    ${h("2")} % greatest(length($textCol) - 1, 1) + 1 AS bb,
       |    (${h("m")} % 2 = 0) AS spm
       |  FROM $table),
       |c AS (
       |  SELECT $idCol, txt, L, spm,
       |    least(a, bb) AS c1, greatest(a, bb) AS c2,
       |    (L < $minChars) AS short
       |  FROM b),
       |p AS (
       |  SELECT $idCol, spm, short, c1, c2,
       |    substr(txt, 1, c1) AS pre,
       |    substr(txt, c1 + 1, c2 - c1) AS mid,
       |    substr(txt, c2 + 1, L - c2) AS suf, txt
       |  FROM c)
       |SELECT $idCol,
       |  CASE WHEN short THEN 'none' WHEN spm THEN 'spm'
       |    ELSE 'psm' END AS mode,
       |  CAST(CASE WHEN short THEN -1 ELSE c1 END AS BIGINT) AS c1,
       |  CAST(CASE WHEN short THEN -1 ELSE c2 END AS BIGINT) AS c2,
       |  CASE WHEN short THEN txt
       |    WHEN spm THEN '<SUF>' || suf || '<PRE>' || pre
       |      || '<MID>' || mid
       |    ELSE '<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid
       |  END AS fim_text
       |FROM p""".stripMargin
  }
}
