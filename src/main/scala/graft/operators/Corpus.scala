package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** End-to-end corpus hygiene — the composition a training-data ingest
  * runs as ONE job over each raw batch: quality floor → language
  * allowlist → exact dedup → near-dup clustering, keeping one
  * representative per cluster. Every stage is one of this library's
  * individually hash-verified operators; the composition itself is
  * verified end-to-end by catalog query x21.
  *
  * Scale shape: the filters are pure codegen'd projections that
  * evaluate BEFORE any shuffle (so 100 TB of rejects never move), the
  * exact dedup is one shuffle on a 32-byte fingerprint, and the
  * near-dup stage is the capped LSH path (Dedup.minHashNearDupPairs)
  * plus min-label clustering over the pair edges only.
  */
object Corpus {

  /** Shared hygiene front-end of [[clean]] / [[cleanKeepBest]]:
    * quality floor + language allowlist + exact dedup + near-dup
    * clustering. Returns (exactKept, clusters) — clusters maps EVERY
    * surviving id to its cluster label (singletons label themselves). */
  private def hygieneClusters(docs: DataFrame, idCol: String,
      textCol: String, minQuality: Double, langs: Seq[String],
      p: Dedup.MinHashParams, minEst: Double): (DataFrame, DataFrame) = {
    // ONE native predicate, not a composition: Catalyst pushes a
    // deterministic filter through any token-materializing Project
    // (alias substitution), which would re-tokenize each raw document
    // once per metric reference — CorpusKeep tokenizes once per row
    // and the rejects never reach a shuffle (see its scaladoc).
    val filtered = docs
      .filter(TextAnalysis.corpusKeep(col(textCol), minQuality, langs))
      .select(col(idCol), col(textCol))
    // Three consumers (pair generation, clustering, the final semi
    // join) read this frame: materialized once (Materialize.once), the
    // scan+filter+dedup subtree executes once, not three times over
    // the raw corpus.
    val exactKept = Materialize.once(Dedup.exactKeepFirst(filtered,
      md5Fingerprint(col(textCol)), col(idCol)))
    // fingerprint dedup already collapsed byte-identical texts, so the
    // LSH stage's own prefilter would be a wasted full-text shuffle
    val pairs = Dedup
      .minHashNearDupPairs(exactKept, idCol, textCol, p, minEst,
        preDeduped = true)
      .select(col("id_a"), col("id_b"))
    val clusters = Graph.connectedComponents(
      exactKept.select(col(idCol)), idCol, pairs)
    (exactKept, clusters)
  }

  /** Clean `docs`, returning the kept (idCol, textCol) rows: quality
    * ≥ `minQuality`, language in `langs`, exact dups collapsed to the
    * lowest id per normalized fingerprint, near-dup clusters collapsed
    * to their min-id representative. */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double, langs: Seq[String],
      p: Dedup.MinHashParams = Dedup.MinHashParams(),
      minEst: Double = 0.75): DataFrame = {
    val (exactKept, clusters) = hygieneClusters(
      docs, idCol, textCol, minQuality, langs, p, minEst)
    exactKept.join(
      clusters.filter(col(idCol) === col("cluster_id")).select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** [[clean]], but each near-dup cluster keeps its HIGHEST-QUALITY
    * member (ties → lowest id) instead of its lowest id — what a real
    * ingest wants: near-dups usually differ by boilerplate or
    * truncation, and min-id keeps whichever arrived first, not the
    * best copy. The representative election is a map-side-partial
    * `min(struct(-quality, id, row))` aggregate, not a per-cluster
    * rank window: clusters are USUALLY tiny, but connected components
    * chain transitively — a templated page family can fuse into one
    * multi-million-doc cluster, and a window would pull it through a
    * single task where the struct-min reduces it map-side (the
    * marginMineTail rule; negating the quality turns min into
    * "max quality, then lowest id", exact for finite doubles). A NaN
    * quality (reachable when a kept doc tokenizes to zero tokens —
    * the ratio features divide by the token count) maps to -inf
    * before negation so it ranks HIGHEST, matching both the removed
    * `q DESC` rank window and a SQL ORDER BY q DESC (NaN sorts above
    * +inf in Spark and DuckDB alike); the score itself is bounded, so
    * -inf collides with nothing. */
  def cleanKeepBest(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double, langs: Seq[String],
      p: Dedup.MinHashParams = Dedup.MinHashParams(),
      minEst: Double = 0.75): DataFrame = {
    val (exactKept, clusters) = hygieneClusters(
      docs, idCol, textCol, minQuality, langs, p, minEst)
    // materialize tokens before the ratio lambdas (HOF recompute trap)
    val scored = exactKept
      .select(col(idCol), col(textCol), wsTokens(col(textCol)).as("__tk"))
      .withColumn("__q",
        TextAnalysis.qualityScoreFromTokens(col(textCol), col("__tk")))
      .drop("__tk")
      .join(clusters, Seq(idCol))
    scored.groupBy(col("cluster_id"))
      .agg(min(struct(
        when(isnan(col("__q")), lit(Double.NegativeInfinity))
          .otherwise(negate(col("__q"))).as("__nq"),
        col(idCol).as("__id"), col(textCol).as("__t"))).as("__w"))
      .select(col("__w").getField("__id").as(idCol),
        col("__w").getField("__t").as(textCol))
  }

  // ---- PII scrubbing -----------------------------------------------

  /** Deterministic PII redaction classes, applied IN ORDER (credit
    * cards before IPs/phones so a card number is never half-eaten by a
    * narrower digit pattern). Patterns use only the regex subset with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB):
    * character classes, bounded quantifiers, non-capturing groups and
    * `\b` — no lookaround, no backreferences. */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b", "<CC>"),
    ("\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** Scrub `c`: every PII class replaced by its redaction token. A
    * chain of codegen'd regexp_replace projections — narrow, no
    * shuffle, runs where the text already is. */
  def scrubPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (pat, tok)) =>
      regexp_replace(acc, pat, tok)
    }

  /** DuckDB twin of [[scrubPii]] over SQL expression `e` — generated
    * from the SAME pattern table so the two engines cannot drift
    * (DuckDB single-quoted strings keep backslashes literal, so the
    * pattern embeds verbatim). */
  def scrubPiiSql(e: String): String =
    piiPatterns.foldLeft(e) { case (acc, (pat, tok)) =>
      s"regexp_replace($acc, '$pat', '$tok', 'g')"
    }

  /** Invisible / control character classes, each a regex with
    * identical Java-regex/RE2 semantics (literal class of codepoint
    * ranges, `\x{...}` escapes — source stays pure ASCII):
    *  - `controls`: C0 controls except \t \n \r, plus DEL — never
    *    legitimate in prose, frequent in binary-contaminated crawl
    *    text;
    *  - `c1`: the C1 block (0080-009F), the classic mojibake residue;
    *  - `zerowidth`: ZWSP/ZWNJ/ZWJ, BOM-as-ZWNBSP, soft hyphen —
    *    invisible joints that split tokens and poison dedup keys;
    *  - `bidi`: directional embeddings/overrides/isolates — the
    *    "Trojan Source" class that renders code differently than it
    *    parses; scrubbing them from training text is a supply-chain
    *    guard, not just hygiene. */
  val invisiblePatterns: Seq[(String, String)] = Seq(
    ("controls", "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"),
    ("c1", "[\\x{0080}-\\x{009F}]"),
    ("zerowidth", "[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]"),
    ("bidi", "[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]"))

  /** Strip every invisible/control class from `c` — a chain of
    * codegen'd regexp_replace projections, zero shuffle. */
  def scrubInvisible(c: Column): Column =
    invisiblePatterns.foldLeft(c) { case (acc, (_, pat)) =>
      regexp_replace(acc, pat, "")
    }

  /** Per-class occurrence counts of the invisible classes, as
    * `n_<class>` columns — the audit columns a cleaning report keeps
    * so scrub volume is a measured fact. */
  def invisibleCounts(c: Column): Seq[Column] =
    invisiblePatterns.map { case (name, pat) =>
      regexp_count(c, lit(pat)).cast("long").as(s"n_$name")
    }

  /** DuckDB twins of [[scrubInvisible]] / [[invisibleCounts]] over
    * SQL expression `e`, generated from the SAME pattern table. */
  def scrubInvisibleSql(e: String): String =
    invisiblePatterns.foldLeft(e) { case (acc, (_, pat)) =>
      s"regexp_replace($acc, '$pat', '', 'g')"
    }

  def invisibleCountsSql(e: String): Seq[String] =
    invisiblePatterns.map { case (name, pat) =>
      s"CAST(len(regexp_extract_all($e, '$pat')) AS BIGINT) AS n_$name"
    }

  /** Token-budget data selection: keep the highest-quality documents
    * until the token budget is spent — the greedy fill every "train
    * on the best N tokens of this corpus" curation step runs (the
    * quality column is typically x34's classifier margin or x38's
    * negated cross-entropy). A document is kept iff the cumulative
    * token count up to and including it — in (quality DESC, id)
    * order — stays within `budgetTokens`.
    *
    * The cumulative sum is NOT a corpus-wide window (single task at
    * 100 TB), and — unlike the histogram-rank decomposition this
    * operator used through r14 — its scale safety does not rest on
    * any caller-side precondition about quality-value cardinality
    * (raw float classifier margins are near-unique, so a
    * per-quality-value histogram is corpus-sized): the running sum IS
    * `Packing.inclusiveRunningSum` — the range-bucketed two-level
    * prefix sum behind pack assignment — keyed on
    * (quality DESC, id). Integer token masses make the regrouping
    * exact, so the
    * output is bit-identical to the one-line window formulation,
    * which the oracle keeps; bucket boundaries come from sampled
    * range partitioning, which associativity makes irrelevant to the
    * result.
    *
    * Output: (id, quality, n_tok, cum_tok, keep) for every document —
    * callers filter `keep`; emitting the losers with their cum_tok
    * makes the budget boundary auditable. */
  def budgetSelect(docs: DataFrame, idCol: String, qualityCol: String,
      tokCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    val id = col(idCol)
    val q = col(qualityCol)
    Packing.inclusiveRunningSum(
        docs.select(id, q, col(tokCol).cast("long").as("n_tok")),
        Seq(q.desc, id), "n_tok")
      .select(id, q, col("n_tok"),
        col("__incl").cast("long").as("cum_tok"))
      .withColumn("keep", col("cum_tok") <= budgetTokens)
      .orderBy(id)
  }

  /** DuckDB twin of [[budgetSelect]] — the equivalent one-line
    * running-window formulation (same result as the distributed
    * histogram decomposition; see [[budgetSelect]]). */
  def budgetSelectOracleSql(table: String, idCol: String,
      qualityCol: String, tokSqlExpr: String,
      budgetTokens: Long): String =
    s"""WITH t AS (
       |  SELECT $idCol, $qualityCol,
       |    CAST($tokSqlExpr AS BIGINT) AS n_tok
       |  FROM $table),
       |w AS (
       |  SELECT $idCol, $qualityCol, n_tok,
       |    CAST(sum(n_tok) OVER (ORDER BY $qualityCol DESC, $idCol
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
       |  FROM t)
       |SELECT $idCol, $qualityCol, n_tok, cum_tok,
       |  (cum_tok <= $budgetTokens) AS keep
       |FROM w ORDER BY $idCol""".stripMargin

  // ---- paragraph-level dedup (CCNet-style) --------------------------

  /** CCNet-style normalization key for paragraph dedup (Wenzek et al.
    * 2020 §3.1: lowercase, strip digits and punctuation, collapse
    * whitespace): two boilerplate paragraphs that differ only in
    * casing, a date, or trailing punctuation still collide. Pattern
    * subset is portable Java-regex/RE2 (POSIX classes spelled
    * per-dialect; see [[paraKeySql]]). */
  def paraKey(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[\\p{Punct}0-9]+", ""), "\\s+", " "))

  /** DuckDB twin of [[paraKey]] over SQL expression `e` — the same
    * three rewrites with RE2's POSIX spelling of the Java classes
    * (`[[:punct:]]` = `\p{Punct}` = the 32 ASCII marks; `\s` agrees on
    * everything a split-on-newline paragraph can contain). */
  def paraKeySql(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), " +
      s"'[[:punct:]0-9]+', '', 'g'), '\\s+', ' ', 'g'))"

  /** Paragraph-level deduplication with document reassembly — the
    * CCNet stage (Wenzek et al. 2020) that removes repeated
    * boilerplate (headers, nav blocks, cookie banners, promo inserts)
    * from INSIDE documents while keeping each document's unique prose:
    * documents split on newline into positioned paragraphs, each
    * paragraph keeps only its FIRST occurrence corpus-wide (first =
    * min (id, pos) over the [[paraKey]] normalization class), and
    * survivors reassemble in original position order. Paragraphs whose
    * normalization key is EMPTY (blank separator lines, pure
    * digit/punctuation rows) are never dedup candidates — collapsing
    * all blank lines corpus-wide into one would rip every document's
    * paragraph structure apart — so they are kept unconditionally.
    *
    * Scale shape: two shuffles total. The winner election groups by
    * the md5 of the normalization key — a 32-byte fingerprint, never
    * the paragraph text — and the `min(struct(id, pos, para))`
    * aggregate is map-side partial, so at most one paragraph text per
    * distinct key leaves each input partition; reassembly is one
    * groupBy(id) whose per-document sort is in-row (`array_sort` over
    * that document's kept paragraphs, never a global window). The
    * empty-key rows bypass both the election shuffle's reduce side
    * and the text movement entirely via a narrow union branch.
    *
    * Output: (idCol, text_dedup, n_paras, n_kept) for EVERY input
    * document — a document whose every paragraph lost election still
    * appears with empty text and n_kept = 0, so downstream length
    * filters see it. */
  def paragraphDedup(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val id = col(idCol)
    val paras = docs.select(id,
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "para")))
    val keyed = paras.withColumn("__key", paraKey(col("para")))
    val keepAlways = keyed.filter(col("__key") === "")
      .select(id, col("pos"), col("para"))
    val winners = keyed.filter(col("__key") =!= "")
      .groupBy(md5(col("__key")).as("__fp"))
      .agg(min(struct(id.as("id"), col("pos"), col("para"))).as("__w"))
      .select(col("__w.id").as(idCol), col("__w.pos").as("pos"),
        col("__w.para").as("para"))
    val kept = winners.unionByName(keepAlways)
    val agg = kept.groupBy(id).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")),
        "\n").as("text_dedup"),
      count(lit(1)).cast("long").as("n_kept"))
    docs
      .select(id,
        size(split(col(textCol), "\n", -1)).cast("long").as("n_paras"))
      .join(agg, Seq(idCol), "left")
      .select(id, coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("n_paras"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
