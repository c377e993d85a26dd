package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions._
import graft.functions.TextFunctions._

/** Deduplication operators for large-scale text pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All hash math is
  * md5-derived so the DuckDB oracle reproduces it bit-for-bit
  * (HashFunctions scaladoc).
  *
  * Scale design: every stage is a shuffle-on-key groupBy or an
  * equi-join on (band, bucket) — no cross joins, no driver-side
  * loops, no global windows. At 100 TB the explode(shingles) stage
  * dominates; it is map-side only and AQE handles the skew of the
  * band-bucket join.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical key. One shuffle
    * on the (hashed) key.
    *
    * Election is a single map-side-partial `min_by(row, id)`
    * aggregate, NOT a per-key window: a viral exact duplicate (blank
    * page, boilerplate template — millions of rows with one
    * fingerprint) would pull its whole group through a single
    * WindowExec task, while the aggregate reduces it map-side before
    * the shuffle (the marginMineTail rule). min_by (not min-of-struct)
    * so only the ID needs to be orderable — payload columns may be
    * maps or other unorderable types, exactly as the removed
    * min(id)-over-key window allowed. NULL-id rows are skipped and an
    * all-NULL-id group drops entirely, matching the removed window's
    * `id === min(id)` filter; rows with duplicate ids (against the
    * contract) elect nondeterministically. */
  def exactKeepFirst(df: DataFrame, keyCol: Column, idCol: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(keyCol.as("__k"))
      .agg(min_by(struct(cols.map(col): _*), idCol).as("__row"))
      .filter(col("__row").isNotNull)
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  // ---- MinHash + LSH ------------------------------------------------

  /** MinHash parameters: k signatures in `bands` bands of `rows` each,
    * over word `shingleN`-grams. Defaults are near-dup tuned: 2 bands
    * of 6 rows → per-band collision probability j^6, so dissimilar
    * pairs (j≈0.3) almost never become candidates (LSH S-curve
    * threshold (1/b)^(1/r) ≈ 0.89) — candidate volume, not signature
    * computation, is what dominates at scale. */
  final case class MinHashParams(k: Int = 12, bands: Int = 2, shingleN: Int = 3) {
    require(k % bands == 0, "k must divide into equal bands")
    val rows: Int = k / bands
  }

  /** (id, g): the distinct word `n`-gram shingles of each document,
    * one row per shingle (a document shorter than `n` tokens yields its
    * trimmed text as its one shingle). The shared front end of the
    * MinHash signatures, the decontamination gram hashes and the
    * prefix-filter sets; [[gramsSqlCtes]] is its DuckDB twin. The
    * token array is materialized BEFORE the shingle transform so the
    * lambda reads a bound attribute (see wordShinglesFromTokens). The
    * per-document set is already distinct (array_distinct), so the
    * explode is map-side only. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol), trim(col(textCol)).as("__t"),
        wsTokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        explode(wordShinglesFromTokens(col("__tk"), col("__t"), n)).as("g"))

  /** DuckDB twin of [[shingles]] over `src(idCol, textCol)`: emits the
    * CTE `<a>_grams` (idCol, g). */
  def gramsSqlCtes(src: String, a: String, idCol: String, textCol: String,
      n: Int): String = {
    val joined = (0 until n).map(k => s"tk[i + $k]").mkString(" || ' ' || ")
    s"""${a}_grams AS (
       |  SELECT DISTINCT $idCol, unnest(
       |    CASE WHEN len(tk) >= $n THEN
       |      list_transform(range(1, len(tk) - ${n - 1} + 1), i -> $joined)
       |    ELSE [trim($textCol)] END) AS g
       |  FROM (SELECT $idCol, $textCol,
       |          string_split_regex(trim($textCol), '\\s+') AS tk FROM $src))""".stripMargin
  }

  /** Per-document MinHash signature columns s0..s(k-1) — the
    * column-per-slot view of the array signatures the pair paths use
    * (no exact-dedup prefilter: every document gets its row). One md5
    * per distinct shingle; the k family members are Carter–Wegman
    * combinations of its two 60-bit halves. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams): DataFrame =
    minHashArraySigs(docs, idCol, textCol, p, preDeduped = true)
      .select(col(idCol) +: (0 until p.k).map(j => col("sig")(j).as(s"s$j")): _*)

  /** Candidate pairs (id_a < id_b) sharing ≥1 LSH bucket, with the
    * MinHash Jaccard estimate (= fraction of matching signature slots),
    * filtered to `minEst`. The pair join is an equi-join on
    * (band, band_key) — bucket-local, never all-pairs.
    *
    * Two guards bound the classic web-dedup hot-bucket blowup (a
    * cluster of identical documents shares every band, making one
    * bucket O(n²) in pairs):
    *  - an EXACT-dedup prefilter (one groupBy on the text) collapses
    *    identical documents to their lowest id before any hashing —
    *    exact duplicates are x1's job, not LSH's;
    *  - each bucket is capped at its `maxBucket` lowest ids by
    *    `Caps.capBuckets` ([[cappedBands]] — a viral bucket never
    *    funnels through one window task; the final rank keys on the
    *    same (band, band_key) the join shuffles on). Overflow is NOT
    *    silent: [[minHashBucketOverflow]] reports capped buckets.
    *
    * No caching and no re-joins: the signature ARRAY rides along
    * through the band unpivot and the bucket self-join, so joined rows
    * already hold both sides' signatures and the estimate is a pure
    * projection — the signature subplan exists only as the two sides
    * of one self-join instead of three computations plus two joins,
    * and no full-corpus signature table is pinned in memory.
    *
    * The tail ([[estimatedPairs]], shared with
    * [[crossCorpusNearDupPairs]]) places each step where it is
    * load-bearing:
    *  - the estimate sits in the join output's Project: one codegen'd
    *    evaluation per band collision (≤ bands× per pair). A filter
    *    placed directly on that projection gets PUSHED INTO THE JOIN
    *    CONDITION, where the k-term expression runs per hash-probe
    *    pair ahead of the cheap id ordering cut — measured 6× slower
    *    on the sf10/sf1 rehearsal corpora than this shape;
    *  - the band-collision dedup is a groupBy on the two id longs with
    *    min(est) (est is a pure function of the pair, identical across
    *    its band duplicates, so min is exact) — the widest hash
    *    aggregation of the query carries 24-byte rows instead of two
    *    k-int signature arrays;
    *  - the threshold filter sits above the aggregation, where no rule
    *    can sink it into the join.
    *
    * PRECONDITION: `idCol` uniquely identifies a document (one text per
    * id). The pair-dedup aggregation groups on the two ids alone and
    * takes min(est) — exact because a pair's estimate is a pure
    * function of its two signatures, which the unique-id contract
    * makes a pure function of the id pair. Duplicate ids with
    * DIFFERING texts would make min(est) adjudicate the pair by its
    * weakest text combination (the DuckDB oracle assumes the same
    * contract); run [[exactKeepFirst]]-style id assignment upstream if
    * a corpus cannot guarantee it.
    *
    * The capped frame enters [[bucketSelfJoin]] with a MERGE hint
    * (so do [[lshCandidatePairs]]' and [[simHashNearDupPairs]]'; the
    * semantic-dedup cell join follows the same rule): left to the
    * planner, the (small at gate SF) capped side lands under a
    * BroadcastExchange and the whole signature pipeline (shingle
    * explode, k hash mins, banding, two-phase cap) is computed TWICE —
    * broadcast builds cannot reuse the other side's exchange (verified
    * on the r18 x3 plan dump: zero ReusedExchange, the full subtree
    * planned once per side). As a sort-merge join, both sides are the
    * IDENTICAL exchange on (band, band_key) that the cap's phase-2
    * window already establishes — ReusedExchange computes the pipeline
    * once, and the window's (keys..., id) sort already satisfies the
    * join's sort order, so the hint adds no exchange and no sort. At
    * corpus scale SMJ is what the planner picks anyway (no side fits
    * a broadcast); the hint aligns the gate-SF shape with it.
    * (An eager checkpoint of the capped frame was measured first and
    * rejected: x19 4.1→6.9 s, x21b 3.4→14 s solo warm — build-time
    * barriers plus ~3 s/entry extra driver planning.) */
  def minHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams(), minEst: Double = 0.75,
      maxBucket: Int = 1000, preDeduped: Boolean = false): DataFrame =
    estimatedPairs(bucketSelfJoin(cappedBands(docs, idCol, textCol, p,
      maxBucket, carrySig = true, preDeduped).hint("merge"), bandBucket,
      idCol), idCol, p, minEst)

  /** Near-duplicate LINKS between two corpora (train vs freshly
    * crawled, train vs licensed, shard vs shard): candidates share an
    * LSH band bucket across the two sides, each candidate adjudicated
    * by the MinHash estimate — the cross-corpus form of
    * [[minHashNearDupPairs]]. Where [[Dedup.decontaminate]] answers
    * "does this doc OVERLAP the eval set anywhere" (n-gram
    * containment), this answers "is this doc a near-COPY of some
    * specific other-corpus doc", and names the partner.
    *
    * Both sides are exact-deduped and bucket-capped by the shared
    * [[cappedBands]] stage; the join is an equi-join on
    * (band, band_key) — never all-pairs, and left unhinted (its two
    * sides are different corpora, so there is no exchange to reuse) —
    * and the signature arrays ride the join so no re-join against raw
    * texts is needed. At 100 TB each side shuffles once on band keys;
    * candidate volume is bounded by the bucket cap with the overflow
    * reporter naming any truncation. The tail is
    * [[minHashNearDupPairs]]' ([[estimatedPairs]]).
    *
    * PRECONDITION: `idCol` is unique within EACH side (one text per id
    * per corpus) — same min(est) groupBy contract as
    * [[minHashNearDupPairs]]. */
  def crossCorpusNearDupPairs(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String, p: MinHashParams = MinHashParams(),
      minEst: Double = 0.75, maxBucket: Int = 1000): DataFrame = {
    def side(d: DataFrame) =
      cappedBands(d, idCol, textCol, p, maxBucket, carrySig = true)
    estimatedPairs(side(a).as("x").join(side(b).as("y"),
      sameBucket(bandBucket)), idCol, p, minEst)
  }

  /** The (band, band_key) bucket key of the MinHash band frames. */
  private val bandBucket = Seq("band", "band_key")

  /** The bucket-equality condition of every band/bucket join over the
    * `x`/`y`-aliased sides. */
  private def sameBucket(keys: Seq[String]): Column =
    keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)

  /** The bucket self-join, lower id on the `x` side. The capped
    * callers pass a MERGE-hinted frame: as an SMJ both sides reuse the
    * ONE exchange the cap's phase-2 window establishes, so the
    * pipeline below computes once (see [[minHashNearDupPairs]]). */
  private def bucketSelfJoin(df: DataFrame, keys: Seq[String],
      idCol: String): DataFrame =
    df.as("x").join(df.as("y"),
      sameBucket(keys) && col(s"x.$idCol") < col(s"y.$idCol"))

  /** (id_a, id_b, est_jaccard) over a band join carrying both sides'
    * `sig`: estimate in the projection above the join, slim min(est)
    * groupBy on the ids, threshold above the aggregate — each
    * placement is load-bearing (see [[minHashNearDupPairs]]). */
  private def estimatedPairs(joined: DataFrame, idCol: String,
      p: MinHashParams, minEst: Double): DataFrame =
    joined.select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        estJaccard(col("x.sig"), col("y.sig"), p).as("__est"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("__est")).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)

  /** Shared cap stage of the pair and candidate paths: long-form band
    * keys of exact-deduped docs, each (band, band_key) bucket capped at
    * its `maxBucket` lowest ids by `Caps.capBuckets` — ONE definition
    * of the cap/key shape so [[minHashNearDupPairs]],
    * [[crossCorpusNearDupPairs]] and [[lshCandidatePairs]] (and through
    * them the x1d/x2b gates) can never drift apart. The cap binds
    * exactly when one bucket is viral — a templated-doc family sharing
    * band signatures — and its two-phase rank keeps that bucket off a
    * single window task. */
  private def cappedBands(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams, maxBucket: Int, carrySig: Boolean,
      preDeduped: Boolean = false): DataFrame =
    Caps.capBuckets(bandKeys(docs, idCol, textCol, p, carrySig, preDeduped),
      bandBucket, idCol, maxBucket)

  /** The MinHash Jaccard estimate between two k-length signature
    * arrays: the fraction of matching slots, counted by k unrolled
    * element_at comparisons — they stay inside whole-stage codegen on
    * the candidate hot path (a higher-order aggregate-over-zip_with is
    * interpreted per pair). The Spark twin of [[estSql]]. */
  private def estJaccard(a: Column, b: Column, p: MinHashParams): Column =
    (0 until p.k)
      .map(j => when(element_at(a, j + 1) === element_at(b, j + 1), 1)
        .otherwise(0))
      .reduce(_ + _).cast("double") / p.k

  /** Diagnostic for the bucket cap: (band, band_key, n_docs) for every
    * bucket larger than `maxBucket` (`Caps.bucketOverflow` over the
    * same band keys the pair paths cap) — run alongside the pair query
    * so capping is never a silent truncation. */
  def minHashBucketOverflow(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams(), maxBucket: Int = 1000): DataFrame =
    Caps.bucketOverflow(bandKeys(docs, idCol, textCol, p, carrySig = false),
      bandBucket, maxBucket, "n_docs")

  /** Array-form signatures over exact-deduped docs (lowest id kept per
    * identical text): one `sig` column instead of k, string-identical
    * to the per-column formulation so the DuckDB oracle reproduces it.
    * `preDeduped` skips the prefilter groupBy when the caller already
    * guarantees distinct texts (e.g. after a fingerprint dedup, whose
    * normalization subsumes byte identity) — the prefilter would be a
    * full-text shuffle that re-establishes a held invariant. */
  private def minHashArraySigs(docs: DataFrame, idCol: String,
      textCol: String, p: MinHashParams, preDeduped: Boolean): DataFrame = {
    val deduped =
      if (preDeduped) docs.select(col(textCol), col(idCol))
      else docs.groupBy(col(textCol)).agg(min(col(idCol)).as(idCol))
    shingles(deduped, idCol, textCol, p.shingleN)
      .select(col(idCol), md5Hash60(col("g")).as("a"),
        md5Hash60b(col("g")).as("b"))
      .groupBy(col(idCol))
      .agg(array((0 until p.k).map(j => min(cwHash(col("a"), col("b"), j))): _*)
        .as("sig"))
  }

  /** Long-form (id[, sig], band, band_key) keys of the
    * [[minHashArraySigs]] of `docs`; `carrySig` keeps the signature
    * column alongside so downstream consumers need no re-join. */
  private def bandKeys(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams, carrySig: Boolean,
      preDeduped: Boolean = false): DataFrame = {
    val sigs = minHashArraySigs(docs, idCol, textCol, p, preDeduped)
    val bandCols = (0 until p.bands).map { b =>
      md5(concat_ws("|", transform(
        slice(col("sig"), b * p.rows + 1, p.rows), x => x.cast("string"))))
        .as(s"band$b")
    }
    val ids = if (carrySig) Seq(col(idCol), col("sig")) else Seq(col(idCol))
    sigs.select(ids ++ bandCols: _*)
      .unpivot(ids.toArray,
        (0 until p.bands).map(b => col(s"band$b")).toArray, "band", "band_key")
  }

  /** DuckDB CTE chain computing (id, band, band_key) for an arbitrary
    * `(id, text)` source CTE — the twin of [[bandKeys]] over
    * [[minHashArraySigs]] (without the prefilter). Emits CTEs named
    * `<a>_grams` ([[gramsSqlCtes]]), `<a>_hashed`, `<a>_sigs`
    * (id, s0..s(k-1)) and `<a>_bands`; reference the last. */
  def bandsSqlCtes(sourceCte: String, a: String,
      p: MinHashParams = MinHashParams()): String = {
    val sigExprs = (0 until p.k).map(j =>
      s"CAST(min((a + $j * (b % ${1L << 40})) % ${1L << 60}) AS BIGINT) AS s$j")
      .mkString(", ")
    val bandExprs = (0 until p.bands).map { b =>
      val slice = (b * p.rows until (b + 1) * p.rows)
        .map(j => s"CAST(s$j AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT id, $b AS band, md5($slice) AS band_key FROM ${a}_sigs"
    }.mkString(" UNION ALL ")
    s"""${gramsSqlCtes(sourceCte, a, "id", "text", p.shingleN)},
       |${a}_hashed AS (
       |  SELECT id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS a,
       |         ('0x' || substr(md5(g), 17, 15))::BIGINT AS b
       |  FROM ${a}_grams),
       |${a}_sigs AS (SELECT id, $sigExprs FROM ${a}_hashed GROUP BY id),
       |${a}_bands AS ($bandExprs)""".stripMargin
  }

  /** DuckDB CTE chain mirroring [[lshCandidatePairs]] over `table`: the
    * exact-dedup prefilter `docs(id, text)`, its [[bandsSqlCtes]] under
    * the prefix `lsh` (signatures in `lsh_sigs`), the bucket cap
    * `capped` ([[Caps.cappedSql]]) and `cand(id_a, id_b)` — shared by
    * [[minHashOracleSql]] and the x2b adjudication oracle so the
    * candidate-generation SQL cannot drift from the Spark path. */
  def lshCandSqlCtes(table: String, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams(), maxBucket: Int = 1000): String =
    s"""docs AS (
       |  SELECT min($idCol) AS id, $textCol AS text
       |  FROM $table GROUP BY $textCol),
       |${bandsSqlCtes("docs", "lsh", p)},
       |capped AS (
       |  ${Caps.cappedSql("lsh_bands", bandBucket, "id", maxBucket)}),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.id < y.id)""".stripMargin

  /** DuckDB oracle SQL mirroring minHashNearDupPairs exactly,
    * including the exact-dedup prefilter and the bucket cap. */
  def minHashOracleSql(table: String, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams(), minEst: Double = 0.75,
      maxBucket: Int = 1000): String =
    s"""WITH ${lshCandSqlCtes(table, idCol, textCol, p, maxBucket)}
       |SELECT c.id_a, c.id_b, ${estSql("sa", "sb", p)} AS est_jaccard
       |FROM cand c
       |JOIN lsh_sigs sa ON sa.id = c.id_a
       |JOIN lsh_sigs sb ON sb.id = c.id_b
       |WHERE ${estSql("sa", "sb", p)} >= $minEst
       |ORDER BY id_a, id_b""".stripMargin

  /** The candidate-GENERATION stage of [[minHashNearDupPairs]] alone:
    * distinct (id_a, id_b) sharing ≥1 capped LSH bucket over
    * exact-deduped docs, no estimate filter — the pair source to feed
    * any pairwise adjudicator (Levenshtein, exact Jaccard, embedding
    * cosine). Same scale shape and the same MERGE-hinted self-join
    * ([[bucketSelfJoin]]): equi-join on (band, band_key), capped
    * buckets, never all-pairs. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams(), maxBucket: Int = 1000): DataFrame =
    bucketSelfJoin(cappedBands(docs, idCol, textCol, p, maxBucket,
        carrySig = false).hint("merge"), bandBucket, idCol)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()

  // ---- incremental (delta-vs-history) dedup ------------------------

  /** Incremental ingestion dedup, exact form: keep only batch rows
    * whose normalized fingerprint does not appear in the HISTORICAL
    * fingerprint set. One anti-join keyed on 32-char digests — the
    * shape that lets a 100 TB corpus ingest daily deltas without
    * recomputing or even reading historical text (only its stored
    * fingerprint column). `seen` needs a `md5_fp` column (the
    * md5Fingerprint output persisted at prior ingests). */
  def incrementalExactNew(batch: DataFrame, textCol: String,
      seen: DataFrame): DataFrame =
    batch.withColumn("__fp", md5Fingerprint(col(textCol)))
      .join(seen.select(col("md5_fp").as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .drop("__fp")

  /** Incremental near-dup screen: drop batch rows landing in any LSH
    * bucket the historical corpus already occupies (`seen` is a
    * [[bandInventory]] persisted at prior ingests). Stricter than
    * pairwise estimation — a shared bucket is treated as dup
    * evidence — which is the cheap first-pass filter; when precision
    * matters, use [[incrementalNearAdjudicated]] (against a
    * [[signatureInventory]]) to adjudicate each bucket hit by its
    * actual MinHash estimate instead.
    *
    * The screen is keyed by TEXT digest, not row id, so EVERY batch
    * copy of a flagged text drops (band keys are computed once per
    * distinct text; the exact-dedup inside signature building can
    * therefore never hide a duplicate copy from the screen). If the
    * inventory carries a `minhash_params` column, a mismatch with the
    * current params throws instead of silently screening nothing. */
  def incrementalNearNew(batch: DataFrame, idCol: String, textCol: String,
      seen: DataFrame, p: MinHashParams = MinHashParams()): DataFrame = {
    val seenBands = guardParams(seen, p).select(col("band"), col("band_key"))
    dropHitTexts(batch, textCol, batchBands(batch, textCol, p, carrySig = false)
      .join(seenBands.distinct(), bandBucket, "left_semi"))
  }

  /** Two-stage incremental near-dup ingest — the precision path the
    * band screen's scaladoc promises: the cheap (band, band_key)
    * equi-join still generates candidates, but instead of treating a
    * shared bucket as dup evidence, each candidate (batch text,
    * historical signature) pair is ADJUDICATED by the MinHash Jaccard
    * estimate, and only texts with an adjudicated match ≥ `minEst`
    * drop. `seen` is a [[signatureInventory]] persisted at prior
    * ingests — signatures ride the inventory, so history text is never
    * re-read OR re-hashed. Keyed by text digest like the screen (every
    * batch copy of an adjudicated-dup text drops), with the same
    * params-drift guard. Scale shape: one equi-join on the band key, a
    * pure-projection estimate, one anti-join on the digest. */
  def incrementalNearAdjudicated(batch: DataFrame, idCol: String,
      textCol: String, seen: DataFrame, p: MinHashParams = MinHashParams(),
      minEst: Double = 0.75): DataFrame = {
    val seenSigs = guardParams(seen, p)
      .select(col("band"), col("band_key"), col("sig").as("__hsig"))
    val cand = batchBands(batch, textCol, p, carrySig = true)
      .join(seenSigs, bandBucket)
      .select(col("__tid"), col("sig"), col("__hsig"))
      .distinct()
    dropHitTexts(batch, textCol,
      cand.filter(estJaccard(col("sig"), col("__hsig"), p) >= minEst))
  }

  /** Band keys (`__tid`[, sig], band, band_key) of a batch's distinct
    * texts, keyed by text digest `__tid` — the screen side of both
    * incremental near-dup paths. */
  private def batchBands(batch: DataFrame, textCol: String,
      p: MinHashParams, carrySig: Boolean): DataFrame = {
    val keyedTexts = batch.select(md5(col(textCol)).as("__tid"),
      col(textCol)).distinct()
    bandKeys(keyedTexts, "__tid", textCol, p, carrySig)
  }

  /** `batch` without every row whose text digest is among `hits`'
    * `__tid`s — every copy of a hit text drops. */
  private def dropHitTexts(batch: DataFrame, textCol: String,
      hits: DataFrame): DataFrame =
    batch.withColumn("__tid", md5(col(textCol)))
      .join(hits.select(col("__tid")).distinct(), Seq("__tid"), "left_anti")
      .drop("__tid")

  /** The (id, sig, band, band_key) inventory of a corpus with its
    * MinHash parameter tag — the richer sibling of [[bandInventory]]:
    * persisting signatures alongside the band keys is what lets the
    * next delta's screen hits be adjudicated pairwise
    * ([[incrementalNearAdjudicated]]) without touching history text. */
  def signatureInventory(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame =
    bandKeys(docs, idCol, textCol, p, carrySig = true)
      .withColumn("minhash_params", lit(paramsTag(p)))

  /** Shared params-drift guard: an inventory tagged with different
    * MinHashParams than the caller's throws instead of silently
    * screening nothing. Untagged inventories pass through. */
  private def guardParams(seen: DataFrame, p: MinHashParams): DataFrame =
    if (!seen.columns.contains("minhash_params")) seen
    else {
      val matching = seen.filter(col("minhash_params") === paramsTag(p))
      if (matching.isEmpty && !seen.isEmpty)
        throw new IllegalStateException(
          s"inventory was built with different MinHashParams " +
            s"than ${paramsTag(p)}; rebuild it (a mismatched screen " +
            "would silently pass every duplicate)")
      matching
    }

  private def paramsTag(p: MinHashParams): String =
    s"k${p.k}b${p.bands}n${p.shingleN}"

  /** DuckDB expression: the MinHash Jaccard estimate (fraction of
    * matching slots) between the s0..s(k-1) signature rows aliased `a`
    * and `b` — the twin of [[estJaccard]]. */
  def estSql(a: String, b: String, p: MinHashParams = MinHashParams()): String =
    (0 until p.k).map(j => s"(CASE WHEN $a.s$j = $b.s$j THEN 1 ELSE 0 END)")
      .mkString("CAST(", " + ", s" AS DOUBLE) / ${p.k}")

  /** The (band, band_key) inventory of a corpus, tagged with the
    * MinHash parameters it was built under — persist this at each
    * ingest so the next delta screens against it (and cannot silently
    * screen with drifted parameters). */
  def bandInventory(docs: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame =
    bandKeys(docs, idCol, textCol, p, carrySig = false)
      .select(col("band"), col("band_key")).distinct()
      .withColumn("minhash_params", lit(paramsTag(p)))

  // ---- SimHash ------------------------------------------------------

  /** SimHash banding parameters: a 64-bit signature split into `bands`
    * equal-width bands. Pigeonhole recall guarantee: a pair within
    * Hamming distance d ≤ bands-1 differs in at most d bands, so it
    * shares ≥ 1 INTACT band and meets in that band's bucket — exact
    * recall for the ≤ maxHamming ball as long as maxHamming < bands
    * (enforced). Default 4 bands of 16 bits = 65536 buckets per band
    * (the Manku/Google web-dedup shape): bucket occupancy is ~n/2^16,
    * versus the n/256 a byte-banded 32-bit signature degrades to —
    * that difference is what keeps the bucket self-join from going
    * quadratic at web scale. `maxBucket` caps each bucket at its
    * lowest ids (see [[simHashBucketOverflow]] — capping is never
    * silent). */
  final case class SimHashParams(bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 1000) {
    require(bands >= 2 && 64 % bands == 0,
      "bands must be a divisor of 64, >= 2")
    require(maxHamming >= 0 && maxHamming < bands,
      "exact recall by pigeonhole needs maxHamming < bands")
    /** Band width in bits. */
    val width: Int = 64 / bands
    /** Low-`width`-bits mask; applied AFTER the arithmetic shift so
      * sign-extension bits never reach the band key (same trick in the
      * DuckDB oracle, making the key shift-semantics-agnostic). */
    val mask: Long = (1L << width) - 1
  }

  /** 64-bit SimHash over distinct whitespace tokens: bit j of the
    * signature is the sign of sum over tokens of ±1 according to bit j
    * of the token's hash. Bits 0-31 draw from the first 60-bit md5
    * half, bits 32-63 from the independent second half, so all 64 bits
    * come out of ONE md5 evaluation per distinct token. The signature
    * is assembled with bitwise OR of disjoint powers of two (no
    * additive overflow to reason about under ANSI mode; bit 63 makes
    * the long negative by two's complement, which both engines'
    * xor/bit_count treat identically). */
  def simHash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(array_distinct(wsTokens(col(textCol)))).as("t"))
      .select(col(idCol), md5Hash60(col("t")).as("ha"),
        md5Hash60b(col("t")).as("hb"))
    val aggCols = (0 until 64).map { j =>
      val bit = shiftright(col(if (j < 32) "ha" else "hb"), j % 32).bitwiseAND(lit(1L))
      sum(when(bit === 1L, 1).otherwise(-1)).as(s"c$j") }
    val sums = toks.groupBy(col(idCol)).agg(aggCols.head, aggCols.tail: _*)
    val sig = (0 until 64)
      .map(j => when(col(s"c$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: band-bucketed candidate generation over
    * the 64-bit signature + exact Hamming filter. The pair join is an
    * equi-join on (band, band key) — never all-pairs — and recall for
    * Hamming ≤ p.maxHamming is exact by pigeonhole (SimHashParams).
    * Signatures ride the join (no re-join), and each bucket is capped
    * at its `p.maxBucket` lowest ids by `Caps.capBuckets` (a viral
    * bucket never funnels through one window task; phase 2 ranks on
    * the SAME (band, bkey) key the join shuffles on), and the capped
    * frame enters the MERGE-hinted [[bucketSelfJoin]] of
    * [[minHashNearDupPairs]], so the signature pipeline computes once.
    * The tail is its own: distinct pairs, then Hamming. Overflow is
    * not silent: run [[simHashBucketOverflow]] alongside. */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      p: SimHashParams = SimHashParams()): DataFrame = {
    val capped = Caps.capBuckets(simHashBands(docs, idCol, textCol, p),
      simBucket, idCol, p.maxBucket).hint("merge")
    bucketSelfJoin(capped, simBucket, idCol)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= p.maxHamming)
  }

  /** Diagnostic for the SimHash bucket cap: (band, bkey, n_docs) for
    * every band bucket larger than `p.maxBucket` (`Caps.bucketOverflow`
    * over the same band keys the pair path caps) — run alongside the
    * pair query so capping is never a silent truncation. */
  def simHashBucketOverflow(docs: DataFrame, idCol: String, textCol: String,
      p: SimHashParams = SimHashParams()): DataFrame =
    Caps.bucketOverflow(simHashBands(docs, idCol, textCol, p), simBucket,
      p.maxBucket, "n_docs")

  /** The (band, bkey) bucket key of the SimHash band frame. */
  private val simBucket = Seq("band", "bkey")

  /** Long-form (id, simhash, band, bkey) band keys: band b's key is
    * signature bits [b*width, (b+1)*width) — arithmetic shift then
    * mask, so the sign bit never leaks into a key. The shared input
    * of the pair join and the overflow diagnostic. */
  private def simHashBands(docs: DataFrame, idCol: String, textCol: String,
      p: SimHashParams): DataFrame = {
    val bandCols = (0 until p.bands).map(b =>
      shiftright(col("simhash"), p.width * b).bitwiseAND(lit(p.mask))
        .as(s"b$b"))
    simHash64(docs, idCol, textCol)
      .select(Seq(col(idCol), col("simhash")) ++ bandCols: _*)
      .unpivot(Array(col(idCol), col("simhash")),
        (0 until p.bands).map(b => col(s"b$b")).toArray, "band", "bkey")
  }

  /** `1L << j` as a DuckDB BIGINT literal. DuckDB refuses `1 << 63`
    * (overflow check), so bit 63 is spelled as the two's-complement
    * min-long expression instead. */
  private def duckBitLit(j: Int): String =
    if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString

  /** DuckDB oracle SQL mirroring simHash64. */
  def simHashOracleSql(table: String, idCol: String, textCol: String): String = {
    val sums = (0 until 64).map(j =>
      s"CAST(sum(CASE WHEN (${if (j < 32) "ha" else "hb"} >> ${j % 32}) & 1 = 1 " +
        s"THEN 1 ELSE -1 END) AS BIGINT) AS c$j").mkString(", ")
    val sig = (0 until 64)
      .map(j => s"(CASE WHEN c$j >= 0 THEN ${duckBitLit(j)} ELSE 0 END)")
      .mkString(" | ")
    s"""WITH toks AS (
       |  SELECT DISTINCT $idCol, unnest(string_split_regex(trim($textCol), '\\s+')) AS t
       |  FROM $table),
       |hashed AS (
       |  SELECT $idCol, ('0x' || substr(md5(t), 1, 15))::BIGINT AS ha,
       |         ('0x' || substr(md5(t), 17, 15))::BIGINT AS hb
       |  FROM toks),
       |sums AS (SELECT $idCol, $sums FROM hashed GROUP BY $idCol)
       |SELECT $idCol, CAST($sig AS BIGINT) AS simhash FROM sums
       |ORDER BY $idCol""".stripMargin
  }

  /** DuckDB oracle SQL mirroring simHashNearDupPairs exactly,
    * including the band parameterization and the bucket cap. */
  def simHashPairsOracleSql(table: String, idCol: String, textCol: String,
      p: SimHashParams = SimHashParams()): String = {
    val bandExprs = (0 until p.bands).map(b =>
      s"SELECT $idCol AS id, simhash, $b AS band, " +
        s"(simhash >> ${p.width * b}) & ${p.mask} AS bkey FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH sig AS (${simHashOracleSql(table, idCol, textCol)}),
       |bands AS (
       |  $bandExprs),
       |capped AS (
       |  ${Caps.cappedSql("bands", simBucket, "id", p.maxBucket)}),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       |         x.simhash AS sa, y.simhash AS sb
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= ${p.maxHamming}
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- line-level boilerplate removal ------------------------------

  /** Lines occurring in at least `minDocs` DISTINCT documents — the
    * C4-style boilerplate set (navigation chrome, license banners,
    * cookie notices repeat across a crawl; real prose does not).
    * Blank/whitespace-only lines are structure, not boilerplate —
    * they are excluded, or every paragraph separator in the corpus
    * would be classified boilerplate and stripped. One explode + one
    * groupBy on the line text. */
  def boilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 2L): DataFrame =
    boilerplateFromLines(docLines(docs, idCol, textCol), idCol, minDocs)

  private def boilerplateFromLines(lines: DataFrame, idCol: String,
      minDocs: Long): DataFrame =
    lines.filter(trim(col("line")) =!= "")
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Rebuild each document keeping only its non-boilerplate lines (in
    * original order; documents reduced to nothing keep an empty
    * text). The exploded lines frame feeds BOTH the boilerplate
    * aggregate and the removal anti-join — two consumers, so the
    * scan + explode runs twice; recomputation keeps full lineage (the
    * [[exactSubstringDedup]] policy — an eager localCheckpoint would
    * pin blocks to executor-local storage and die with the executor).
    * The anti-join is broadcast-friendly on the line text, and
    * reassembly sorts each doc's surviving (pos, line) pairs locally
    * — state per group is one document's lines. */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 2L): DataFrame = {
    val lines = docLines(docs, idCol, textCol)
    val bp = boilerplateFromLines(lines, idCol, minDocs).select(col("line"))
    val rebuilt = lines.join(bp, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        "\n").as("__kept"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__kept"), lit("")).as(textCol))
  }

  /** (id, pos, line) — documents exploded into 0-indexed lines. */
  private def docLines(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))

  // ---- exact n-gram Jaccard ----------------------------------------

  /** Exact character-n-gram Jaccard for given candidate pairs.
    * `pairs` must have columns (id_a, id_b). */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // the per-doc gram-set frame feeds BOTH join sides (a doc appears
    // as id_a and id_b), and the sides join on different keys, so no
    // exchange is shareable — the charShingles projection over the
    // corpus text runs twice
    val g = docs.select(col(idCol), charShingles(col(textCol), n).as("grams"))
    val ga = g.select(col(idCol).as("id_a"), col("grams").as("grams_a"))
    val gb = g.select(col(idCol).as("id_b"), col("grams").as("grams_b"))
    pairs.join(ga, "id_a").join(gb, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("grams_a"), col("grams_b"))).as("i"),
        size(col("grams_a")).as("na"), size(col("grams_b")).as("nb"))
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i")))
          .as("jaccard"))
  }

  // ---- benchmark decontamination -----------------------------------

  /** Distinct (id, 60-bit word-n-gram hash) pairs of a corpus: the
    * hashed [[shingles]], whose per-document set is already distinct,
    * so no extra shuffle-distinct is needed. */
  private def gramHashes(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingles(docs, idCol, textCol, n)
      .select(col(idCol), md5Hash60(col("g")).as("gram_h"))

  /** Benchmark-decontamination scores: for each training document, the
    * fraction of its distinct word `n`-grams that appear ANYWHERE in
    * the eval/benchmark set — the standard "n-gram overlap" test-set
    * leakage check run before LLM training.
    *
    * Output: (id, n_grams, n_matched, overlap_frac).
    *
    * Scale shape: eval suites are MBs while corpora are TBs, so the
    * distinct eval gram-hash set (60-bit longs, deduped) is BROADCAST;
    * scoring is then a map-side hash join on gram_h plus one keyed
    * groupBy on doc id — the corpus text itself is never shuffled and
    * nothing is ever all-pairs. */
  def contaminationScores(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val evalGrams = gramHashes(evalSet, idCol, textCol, n)
      .select(col("gram_h")).distinct()
      .withColumn("__hit", lit(1L))
    gramHashes(corpus, idCol, textCol, n)
      .join(broadcast(evalGrams), Seq("gram_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_matched"))
      .withColumn("overlap_frac",
        col("n_matched").cast("double") / col("n_grams"))
  }

  /** Drop contaminated training documents: rows whose
    * [[contaminationScores]] overlap reaches `maxOverlap` are removed
    * by one anti-join on the id. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 3, maxOverlap: Double = 0.5): DataFrame =
    corpus.join(
      contaminationScores(corpus, evalSet, idCol, textCol, n)
        .filter(col("overlap_frac") >= maxOverlap)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** The overflow-style companion report: which EVAL items were hit,
    * by how many training docs, and how hard. A training doc "hits" an
    * eval doc when they share ≥ `minShared` distinct gram hashes.
    * Output: (eval_id, n_train_hits, max_shared).
    *
    * Same broadcast shape as [[contaminationScores]] — the per-pair
    * groupBy keys on (eval_id, train id), which is bounded by
    * candidate pairs that actually share grams, not by |corpus|×|eval|. */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minShared: Int = 3): DataFrame = {
    val evalGrams = gramHashes(evalSet, idCol, textCol, n)
      .select(col(idCol).as("eval_id"), col("gram_h"))
    gramHashes(corpus, idCol, textCol, n)
      .join(broadcast(evalGrams), Seq("gram_h"))
      .groupBy(col("eval_id"), col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_train_hits"),
        max(col("n_shared")).as("max_shared"))
  }

  // ---- exact-substring (span) dedup --------------------------------

  /** Exact duplicated-SPAN removal: any `l`-token window whose text
    * occurs more than once in the corpus (across documents or repeated
    * within one) is a duplicated span; every occurrence except the
    * globally first — lowest (id, position) — is removed token-wise
    * from its document, and the survivors are reassembled in order.
    *
    * This is the ExactSubstr operation of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" (ACL 2022), §4.1,
    * re-expressed for a shuffle engine: the paper builds a corpus-wide
    * suffix array (inherently sequential, memory-heavy) to find
    * duplicated substrings of length ≥ L; hashing every L-token
    * rolling window and grouping on the 60-bit window hash finds the
    * same ≥ L duplications as pure keyed dataflow — window extraction
    * is an in-row projection, duplicate detection is ONE shuffle keyed
    * on the window hash, and removal is one groupBy(id) whose state is
    * a single document's duplicate starts. Nothing is ever pairwise
    * and no task ever holds more than one document.
    *
    * Output: (id, n_tokens, n_dup_tokens, textCol) with textCol the
    * cleaned document — surviving tokens joined by single spaces
    * (whitespace is canonicalized for every row, so cleaned and
    * untouched documents are directly comparable).
    *
    * Documents shorter than `l` tokens pass through unchanged. Token
    * coverage is computed in-row from the (few) duplicate starts via
    * position-set membership; a pathological row where duplicates
    * cover most of a very long document costs O(n_tokens × n_starts)
    * in that row only — switch to a sorted-interval merge fold if a
    * corpus ever exhibits that shape.
    *
    * Two fork points are materialized once ([[Materialize.once]]): the
    * tokenized base feeds the window extraction AND the final
    * reassembly join, and the window frame feeds the per-hash stats
    * aggregate AND the join-back — so the corpus scan + split and the
    * window-hash pass each run once. */
  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 8): DataFrame = {
    require(l >= 2, s"window length must be >= 2, got $l")

    val base = Materialize.once(tokenized(docs, idCol, textCol))
    val removals = withWindowStats(
        Materialize.once(windows(base, idCol, l)), idCol)
      .filter(col("__cnt") > 1 &&
        struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos"))

    // Per-doc covered token positions (distinct union of the removed
    // windows' [pos, pos+l-1] ranges), then in-row rebuild.
    val covered = removals.groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(
        sequence(col("pos"), col("pos") + (l - 1))))).as("__cov"))
    val cov = coalesce(col("__cov"), array().cast("array<int>"))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        col("__n").cast("long").as("n_tokens"),
        size(cov).cast("long").as("n_dup_tokens"),
        array_join(
          transform(
            filter(sequence(lit(1), col("__n")),
              i => !array_contains(cov, i)),
            i => element_at(col("__tk"), i)),
          " ").as(textCol))
  }

  /** MAXIMAL duplicated spans — the multi-length form of the
    * ExactSubstr machinery (Lee et al. 2022 §4.1): where
    * [[exactSubstringDedup]] reports fixed-`l` window coverage, this
    * returns, per document, each maximal run of tokens every position
    * of which lies inside SOME duplicated `l`-window occurrence — i.e.
    * the duplicated substrings of length ≥ l themselves, at their full
    * length (a 100-token copied paragraph is ONE span row of
    * span_tokens=100, not 93 window hits). This is the audit/report
    * companion: removal policy stays [[exactSubstringDedup]]'s.
    *
    * Two-pass, same shuffle budget as the fixed form: pass 1 finds
    * seed windows (one exchange keyed on the 60-bit window hash —
    * `firstOnly` controls whether the globally-first occurrence
    * counts as duplicated); pass 2 EXTENDS-AND-MERGES seeds into
    * maximal spans with the gaps-and-islands pattern over one
    * per-document window (one exchange keyed on id; island state is a
    * single document's seed starts). Overlapping and back-to-back
    * windows merge because consecutive seed starts p, p' with
    * p' ≤ p + l cover a contiguous token range.
    *
    * The window frame forks to the per-hash stats and the join-back,
    * as in [[exactSubstringDedup]], and is materialized once
    * ([[Materialize.once]]); the tokenized base has one consumer here.
    *
    * Output: (id, span_start, span_end, span_tokens, n_windows) —
    * positions 1-based inclusive, n_windows = seed windows merged
    * into the span. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 8, firstOnly: Boolean = false): DataFrame = {
    require(l >= 2, s"window length must be >= 2, got $l")
    import org.apache.spark.sql.expressions.Window

    // pass 1: duplicated seed windows. firstOnly=true reproduces the
    // removal policy's view (globally-first occurrence not a dup);
    // false is the audit view (EVERY occurrence of a duplicated
    // window is part of a duplicated span, including the original).
    val joined = withWindowStats(Materialize.once(
      windows(tokenized(docs, idCol, textCol), idCol, l)), idCol)
    val seeds = (if (firstOnly)
        joined.filter(col("__cnt") > 1 &&
          struct(col(idCol), col("pos")) =!= col("__first"))
      else joined.filter(col("__cnt") > 1))
      .select(col(idCol), col("pos"))

    // pass 2: gaps-and-islands per document. A seed at p covers
    // [p, p+l-1]; the running max of PRIOR covered ends decides
    // whether this seed extends the current span or opens a new one.
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (l - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = seeds
      .withColumn("__new",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(byDoc))
    flagged.groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (l - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("span_tokens"),
        col("n_windows"))
  }

  /** (id, __tk, __n): each document's whitespace tokens and their
    * count — the base of the ExactSubstr window pipeline. */
  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), wsTokens(col(textCol)).as("__tk"))
      .withColumn("__n", size(col("__tk")).cast("int"))

  /** (id, pos, win_h): the 60-bit hash of every `l`-token window of a
    * [[tokenized]] base at its 1-based start, hashed in-row.
    * sequence(1, 0) would count DOWNWARD, so short docs get an
    * explicit empty array. */
  private def windows(base: DataFrame, idCol: String, l: Int): DataFrame = {
    val winArr = when(col("__n") >= l,
        transform(sequence(lit(1), col("__n") - (l - 1)),
          i => md5Hash60(array_join(slice(col("__tk"), i, lit(l)), " "))))
      .otherwise(array().cast("array<bigint>"))
    base.select(col(idCol), posexplode(winArr).as(Seq("__p0", "win_h")))
      .select(col(idCol), (col("__p0") + 1).cast("int").as("pos"),
        col("win_h"))
  }

  /** [[windows]] joined with its per-hash occurrence count `__cnt` and
    * globally first occurrence `__first` = min (id, pos). ONE
    * map-side-partial aggregate joined back on win_h — NOT a pair of
    * hash-keyed window functions: a viral L-token window (license
    * boilerplate in hundreds of millions of docs) would pull every
    * occurrence through a single WindowExec task, while the aggregate
    * reduces it map-side and the join-back is AQE-skew-splittable (the
    * class doc's "AQE handles the skew" holds for joins; it never held
    * for windows). */
  private def withWindowStats(wins: DataFrame, idCol: String): DataFrame = {
    val stats = wins.groupBy(col("win_h"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("pos"))).as("__first"))
    wins.join(stats, Seq("win_h"))
  }

  /** DuckDB twin of [[tokenized]] → [[windows]] → [[withWindowStats]]
    * over `table`: CTEs `base(id, tk, n)`, `wins(id, pos, win_h)` and
    * `marked(id, pos, cnt, rn)`, where rn > 1 marks an occurrence past
    * the globally first. */
  private def windowSqlCtes(table: String, idCol: String, textCol: String,
      l: Int): String =
    s"""base AS (
       |  SELECT $idCol, string_split_regex(trim($textCol), '\\s+') AS tk,
       |    len(string_split_regex(trim($textCol), '\\s+')) AS n
       |  FROM $table),
       |wins AS (
       |  SELECT $idCol, s AS pos,
       |    ('0x' || substr(md5(array_to_string(
       |       list_slice(tk, s, s + ${l - 1}), ' ')), 1, 15))::BIGINT AS win_h
       |  FROM (SELECT $idCol, tk, unnest(range(1, n - ${l - 1} + 1)) AS s
       |        FROM base WHERE n >= $l)),
       |marked AS (
       |  SELECT $idCol, pos,
       |    count(*) OVER (PARTITION BY win_h) AS cnt,
       |    row_number() OVER (PARTITION BY win_h
       |                       ORDER BY $idCol, pos) AS rn
       |  FROM wins)""".stripMargin

  /** DuckDB twin of [[duplicateSpans]] over `table` — the same
    * seed-then-islands derivation in windowed SQL. */
  def duplicateSpansOracleSql(table: String, idCol: String,
      textCol: String, l: Int = 8, firstOnly: Boolean = false): String = {
    val seedPred = if (firstOnly) "cnt > 1 AND rn > 1" else "cnt > 1"
    s"""WITH ${windowSqlCtes(table, idCol, textCol, l)},
       |seeds AS (SELECT $idCol, pos FROM marked WHERE $seedPred),
       |flagged AS (
       |  SELECT $idCol, pos,
       |    CASE WHEN prev_end IS NULL OR pos > prev_end + 1
       |      THEN 1 ELSE 0 END AS is_new
       |  FROM (SELECT $idCol, pos, max(pos + ${l - 1}) OVER (
       |    PARTITION BY $idCol ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |    FROM seeds)),
       |islands AS (
       |  SELECT $idCol, pos,
       |    sum(is_new) OVER (PARTITION BY $idCol ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS island
       |  FROM flagged)
       |SELECT $idCol,
       |  CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + ${l - 1} AS BIGINT) AS span_end,
       |  CAST(max(pos) + ${l - 1} - min(pos) + 1 AS BIGINT)
       |    AS span_tokens,
       |  count(*) AS n_windows
       |FROM islands GROUP BY $idCol, island
       |ORDER BY $idCol, span_start""".stripMargin
  }

  /** DuckDB twin of [[exactSubstringDedup]] over `table`. */
  def exactSubstringOracleSql(table: String, idCol: String,
      textCol: String, l: Int = 8): String =
    s"""WITH ${windowSqlCtes(table, idCol, textCol, l)},
       |cov AS (
       |  SELECT $idCol,
       |    list_distinct(flatten(list(range(pos, pos + $l)))) AS covered
       |  FROM marked WHERE cnt > 1 AND rn > 1 GROUP BY $idCol)
       |SELECT b.$idCol, CAST(b.n AS BIGINT) AS n_tokens,
       |  CAST(coalesce(len(c.covered), 0) AS BIGINT) AS n_dup_tokens,
       |  coalesce(array_to_string(
       |    list_transform(
       |      list_filter(range(1, b.n + 1),
       |        i -> NOT list_contains(coalesce(c.covered, []), i)),
       |      i -> b.tk[i]),
       |    ' '), '') AS $textCol
       |FROM base b LEFT JOIN cov c USING ($idCol)
       |ORDER BY $idCol""".stripMargin

  // ---- prefix-filter set-similarity join (exact Jaccard) -----------

  /** Per-document distinct word-shingle sets ordered by ascending
    * GLOBAL shingle frequency (rarest first, shingle tie-break) —
    * the input both [[prefixFilterCandidates]] and
    * [[prefixFilterVerify]] consume. Columns: (idCol, `toks`
    * frequency-ordered array, `sz`). The sets outlive this call — both
    * stages and the caller's own gates read them — so storing them is
    * the caller's lifecycle, not an operator fork point: x70 writes
    * them to a scratch table and every stage reads that one copy.
    *
    * The exploded (id, shingle) frame INSIDE this builder forks to
    * two consumers (the global frequency aggregate and the join-back
    * that orders each document's set), and the two subtrees cannot
    * share an exchange (one aggregates before its exchange) — so the
    * tokenize+shingle pass over the corpus text runs twice. */
  def prefixFilterSets(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, shingleN)
    val freq = sh.groupBy(col("g")).agg(count(lit(1)).as("f"))
    sh.join(freq, "g")
      .groupBy(col(idCol))
      .agg(transform(
          sort_array(collect_list(struct(col("f"), col("g")))),
          x => x.getField("g")).as("toks"),
        count(lit(1)).as("sz"))
  }

  /** Candidate pairs via prefix filtering (Chaudhuri et al. 2006;
    * Bayardo et al. 2007 All-Pairs; Xiao et al. 2008 PPJoin): a
    * document's PREFIX is its first `|d| - ceil(t·|d|) + 1`
    * frequency-ordered shingles, and two sets with Jaccard >= t MUST
    * share a prefix element — so this is the EXACT-threshold
    * complement to the probabilistic MinHash path: every true pair
    * is a candidate, no false negatives, and the knob is candidate
    * volume, not recall.
    *
    * Scale shape: the only quadratic-risk stage is the equi-join on
    * prefix shingles, and the rarest-first ordering is precisely
    * what bounds it — a shingle enters prefixes in proportion to its
    * rarity, so hot shingles (huge posting lists) are exactly the
    * ones prefixes exclude. A pathological flood (millions of
    * identical documents) still concentrates one key; the LSH-path
    * bucket caps apply unchanged if that regime is expected. */
  def prefixFilterCandidates(sets: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val prefLen =
      (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    val pref = sets.select(col(idCol),
      explode(slice(col("toks"), lit(1), prefLen)).as("p"))
    bucketSelfJoin(pref, Seq("p"), idCol)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
  }

  /** Exact-Jaccard adjudication of candidate pairs against the full
    * sets: one keyed join per side, `|a∩b| / (|a|+|b|-|a∩b|)`,
    * keep >= t. With [[prefixFilterCandidates]] this is a COMPLETE
    * similarity self-join at threshold t. */
  def prefixFilterVerify(sets: DataFrame, cands: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val sa = sets.select(col(idCol).as("id_a"), col("toks").as("__ta"),
      col("sz").as("__sa"))
    val sb = sets.select(col(idCol).as("id_b"), col("toks").as("__tb"),
      col("sz").as("__sb"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("__i",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("jac", col("__i").cast("double") /
        (col("__sa") + col("__sb") - col("__i")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }
}
