package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-marker heuristic), quality scoring, token statistics.
  * All pure built-in expression compositions — fully codegen'd, no UDFs,
  * and each has an exact DuckDB-SQL twin (integer counts and exact
  * double divisions only, so hashes match bit-for-bit).
  *
  * Hot-path contract: the `...FromTokens` forms take an
  * ALREADY-MATERIALIZED token-array column — an inline `split()`
  * captured by the filter lambdas would re-evaluate per element
  * (see TextFunctions.wordShinglesFromTokens). Callers should project
  * `wsTokens(text)` once and pass the bound attribute.
  */
object TextAnalysis {

  /** Language marker words; scores are counts of tokens in each set.
    * Deterministic tie-break: first language in declaration order wins. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "de"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"))

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Count of tokens (array column) present in `words`. */
  def tokensInArr(toks: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t))).cast("long")
  }

  /** Predicted language code from a token array, or 'und'. */
  def langIdFromTokens(toks: Column): Column = {
    val scores = langMarkers.map { case (lang, words) =>
      lang -> tokensInArr(toks, words)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** The corpus-hygiene keep predicate (graft.plans.CorpusKeep) wired
    * with this object's stopwords and language markers — the ONE
    * assembly point, so every call site (pipeline, profiler,
    * streaming ingest) benchmarks and runs the same predicate. */
  def corpusKeep(textCol: Column, minQuality: Double,
      langs: Seq[String]): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.CorpusKeep(
      GraftBridge.expression(textCol), minQuality, langs,
      stopwords, langMarkers))
  }

  /** Mojibake (double-encoded UTF-8) detector, shared verbatim by the
    * Spark `rlike` and the DuckDB `regexp_matches` twin: a Latin-1
    * lead char `Â`/`Ã` (U+00C2/U+00C3 — what UTF-8 lead bytes C2/C3
    * become under a wrong Latin-1 decode) immediately followed by a
    * character in the continuation range U+0080-U+00BF. Pure-ASCII
    * text can never match; genuine Latin-1 prose almost never pairs
    * these (`Ã` mid-word is followed by a letter, not a control /
    * symbol char). Same Java-regex/RE2-portable subset rule as
    * [[Web]] and [[Corpus.piiPatterns]]. */
  val mojibakePattern: String =
    "[\\x{00C2}\\x{00C3}][\\x{0080}-\\x{00BF}]"

  /** True iff the text shows the double-encoding signature. */
  def mojibakeFlag(textCol: Column): Column = textCol.rlike(mojibakePattern)

  /** Repaired form of double-encoded UTF-8 text, identity on
    * everything else — [[graft.plans.MojibakeRepair]]: re-encode the
    * chars as Latin-1 bytes and accept the result only if it is
    * strictly valid multi-byte UTF-8. Narrow, codegen'd, zero
    * shuffle: runs where the text bytes already are. Run BEFORE any
    * dedup keying or tokenization — the corrupted and clean forms of
    * a document never hash equal, so unrepaired mojibake silently
    * defeats exact and near dedup both. */
  def repairMojibake(textCol: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.MojibakeRepair(
      GraftBridge.expression(textCol)))
  }

  /** Unicode NFC canonicalization ([[graft.plans.NfcNormalize]],
    * UAX #15): composes decomposed sequences (`e`+U+0301 → `é`) and
    * canonical singletons (U+212B → U+00C5), identity on text already
    * in NFC (zero-copy) and on pure ASCII (no String materialized).
    * Like [[repairMojibake]], run BEFORE any dedup keying,
    * shingling, or tokenization — NFD and NFC spellings of one
    * document are codepoint-distinct while rendering identically, so
    * un-normalized text silently defeats exact and near dedup and
    * splits BPE vocabulary. Narrow, codegen'd, zero shuffle. */
  def nfcNormalize(textCol: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.NfcNormalize(
      GraftBridge.expression(textCol)))
  }

  /** Shannon entropy (nats) of the character distribution — the
    * information-theoretic quality signal ([[graft.plans.CharEntropy]]:
    * one in-row codegen'd pass, ASCII fast path). Catches NARROW
    * ALPHABETS (keyboard mash, padding runs, template boilerplate)
    * that length/stopword signals miss; complements x26's n-gram
    * repetition ratios, which catch repeated STRUCTURE. Fold order is
    * ascending-codepoint left-to-right — part of the cross-engine
    * contract (floating addition is not associative). */
  def charEntropy(textCol: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.CharEntropy(
      GraftBridge.expression(textCol)))
  }

  /** Stopword ratio over a token array (English stopword set). */
  def stopwordRatioFromTokens(toks: Column): Column =
    tokensInArr(toks, stopwords).cast("double") / size(toks).cast("long")

  /** Alphabetic-character ratio (needs the raw text, not tokens).
    * Zero-guarded: an empty document scores 0 rather than tripping
    * ANSI mode's DIVIDE_BY_ZERO — a hygiene filter must reject junk
    * rows, not crash on them. */
  def alphaRatio(textCol: Column): Column =
    when(length(textCol) > 0,
      length(regexp_replace(textCol, "[^A-Za-z]", "")).cast("double") /
        length(textCol))
      .otherwise(lit(0.0))

  /** Mean token length from a token array. */
  def meanTokenLenFromTokens(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
      .cast("long").cast("double") / size(toks).cast("long")

  /** Sentence segmentation (array of sentences): a terminator
    * ([.!?]) followed by whitespace ends a sentence; the trailing
    * fragment (no terminator) is a sentence too. Deliberately the
    * RE2-portable heuristic — no lookbehind (RE2 has none), no
    * abbreviation dictionary: a terminator+space inside "Dr. Smith"
    * splits, which sentence-level dedup and chunking tolerate and the
    * doc says out loud. Mechanism: rewrite boundaries to a US control
    * marker (U+001F — never in cleaned text; run AFTER the x83
    * scrub), split on the marker, drop empties. A pure in-row
    * projection chain, zero shuffle. */
  def splitSentences(c: Column): Column =
    filter(
      split(regexp_replace(c, "([.!?])\\s+", "$1\u001F"), "\u001F"),
      s => s =!= "")

  /** DuckDB twin of [[splitSentences]] over SQL expression `e` —
    * same rewrite (RE2 replacement spells the backreference `\\1`),
    * same marker, same empty drop. */
  def splitSentencesSql(e: String): String =
    s"list_filter(string_split(regexp_replace($e, " +
      """'([.!?])\s+', '\1' || chr(31), 'g'), chr(31)), s -> s <> '')"""

  /** Composite quality score in [0, ~1]: rewards stopword presence,
    * alphabetic density and mid-length tokens — the standard cheap
    * pre-filter for web-scraped training text. Exact arithmetic:
    * integer counts divided as doubles. */
  def qualityScoreFromTokens(textCol: Column, toks: Column): Column = {
    val mtl = meanTokenLenFromTokens(toks)
    stopwordRatioFromTokens(toks) * lit(0.4) +
      alphaRatio(textCol) * lit(0.4) +
      when(mtl >= 3 && mtl <= 10, lit(0.2)).otherwise(lit(0.0))
  }

  /** Linear quality-classifier margin with embedded trained weights —
    * the fasttext-style learned keep/drop stage that follows the
    * heuristic [[qualityScoreFromTokens]] in real pipelines. Emits the
    * raw decision margin, NOT sigmoid(margin): exp() is not
    * bit-reproducible across engines' libms, the keep decision only
    * needs the sign, and the margin is monotone in the probability
    * anyway. Features are exact integer-count ratios (plus a capped
    * length normalizer), so the whole score is deterministic IEEE
    * arithmetic both engines execute identically. */
  def classifierMargin(textCol: Column, toks: Column): Column = {
    val mtl = meanTokenLenFromTokens(toks)
    lit(-1.2) +
      stopwordRatioFromTokens(toks) * lit(2.0) +
      alphaRatio(textCol) * lit(1.5) +
      when(mtl >= 3 && mtl <= 10, lit(0.8)).otherwise(lit(0.0)) +
      least(size(toks).cast("long"), lit(400L)).cast("double") /
        lit(400.0) * lit(0.5)
  }

  /** Per-document token statistics (tokens materialized internally). */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol), wsTokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        size(col("__tk")).cast("long").as("n_ws_tokens"),
        bpeishTokenCount(col(textCol)).as("n_bpe_tokens"),
        size(array_distinct(col("__tk"))).cast("long").as("n_uniq_tokens"))

  /** Gopher-style within-document repetition metrics — the signals
    * that catch degenerate generations and scraped spam which
    * per-token quality scores miss:
    *  - dup_line_frac: 1 - distinct/total over NON-BLANK lines (blank
    *    paragraph separators are structure; counting them would flag
    *    ordinary multi-paragraph prose as repetitive),
    *  - top_bigram_frac: occurrences of the document's most frequent
    *    word bigram over all bigram slots (0 when < 2 tokens).
    * Shapes: one explode + two groupBys keyed by doc id — repetition
    * state never leaves the document. Exact integer-ratio arithmetic,
    * so the DuckDB twin is bit-identical. */
  def repetitionStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Both signals are per-row scalars, so the whole operator is one
    // narrow projection: the top-bigram fraction counts inside a
    // native expression (graft.plans.TopBigramFraction) instead of
    // exploding every bigram through two keyed shuffles and a join —
    // at corpus scale that explode re-keys the entire text volume
    // twice for what is a per-document statistic.
    docs.select(col(idCol),
        filter(split(col(textCol), "\n"), l => trim(l) =!= "").as("__ls"),
        wsTokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        when(size(col("__ls")) > 0,
          lit(1.0) - size(array_distinct(col("__ls"))).cast("double") /
            size(col("__ls")))
          .otherwise(lit(0.0)).as("dup_line_frac"),
        topBigramFrac(col("__tk")).as("top_bigram_frac"))
  }

  /** Top-k most frequent tokens, sample-then-verify two-phase (the
    * at-scale form of x17's exact frequency table): phase 1 counts
    * tokens over a deterministic `samplePct`% hash-sample of DOCS
    * (Sampling.hashSample — reproducible, never rand()) and keeps the
    * `candPool` most frequent as candidates via a total-order
    * (count DESC, token) top-N; phase 2 recounts ONLY candidate
    * tokens over the FULL corpus and emits the exact top `k`.
    *
    * Scale shape: the full-corpus wide shuffle carries candidate-token
    * occurrences only — the candidate list (candPool rows) broadcasts
    * into the scan-side join, so the non-candidate long tail (the
    * overwhelming majority of a web corpus's token volume) dies at the
    * scan. Phase 1's full-volume shuffle touches samplePct% of the
    * data. Reported counts are EXACT for every returned token; the
    * approximation risk is only candidate RECALL — a true top-k token
    * missing from the sample's top candPool — controlled by
    * candPool/k and samplePct (both engines replicate the same
    * two-phase decision, so the gate verifies the operator's actual
    * semantics, not an idealized one). */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
      k: Int, candPool: Int, samplePct: Int): DataFrame = {
    require(candPool >= k, s"candPool=$candPool must be >= k=$k")
    val sampleTok = Sampling.hashSample(docs, idCol, samplePct)
      .select(explode(wsTokens(col(textCol))).as("token"))
    val cands = sampleTok.groupBy(col("token"))
      .agg(count(lit(1)).as("sample_n"))
      .orderBy(col("sample_n").desc, col("token"))
      .limit(candPool)
    docs.select(explode(wsTokens(col(textCol))).as("token"))
      .join(broadcast(cands), Seq("token"))
      .groupBy(col("token"), col("sample_n"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
      .select(col("token"), col("n"), col("sample_n"))
  }

  /** DuckDB twin of [[heavyHitters]] — same md5-derived doc sample,
    * same total-order candidate cut, same exact recount. */
  def heavyHittersOracleSql(table: String, idCol: String, textCol: String,
      k: Int, candPool: Int, samplePct: Int): String = {
    val ws = s"string_split_regex(trim($textCol), '\\s+')"
    val slice = s"('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 15))" +
      s"::BIGINT % 100 < $samplePct"
    s"""WITH cands AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS sample_n
       |  FROM (SELECT unnest($ws) AS token FROM $table WHERE $slice)
       |  GROUP BY token
       |  ORDER BY sample_n DESC, token LIMIT $candPool),
       |exact AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest($ws) AS token FROM $table)
       |  WHERE token IN (SELECT token FROM cands)
       |  GROUP BY token)
       |SELECT token, n, sample_n
       |FROM exact JOIN cands USING (token)
       |ORDER BY n DESC, token LIMIT $k""".stripMargin
  }
}
