package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructType}

import graft.catalog.Warehouse
import graft.functions.SketchFunctions
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{Corpus, Dedup, LanguageModel, Layout, Relational, Retrieval, Sampling, Similarity, TextAnalysis}
import graft.sources.{Locations, Tables}

/** HTML extract, char entropy, anchor text, prefix-filter join, vocab coverage, ANN index persistence, Structured Streaming family (x47-x54) — a CONTIGUOUS, ORDER-PRESERVING slice of the
  * extension catalog (r15 split of the 6.2k-line ExtensionQueries;
  * entry text unchanged, aggregation order unchanged in
  * ExtensionQueries.specs). */
private[queries] object ExtensionWebStreamQueries {
  import ExtensionSupport._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("x67_html_extract",
      "HTML→text + outlink extraction — the crawl-ingest stage " +
        "BEFORE every text operator in this library (quality, " +
        "lang-ID, dedup keys and token counts over raw markup " +
        "measure the boilerplate, not the document; outlinks feed " +
        "x56 canonicalization and the x55 link graph). Script/style " +
        "containers drop WITH their payload in container-specific " +
        "passes (RE2 has no backreferences for a combined " +
        "alternation — and the script body legitimately contains <, " +
        "quotes and &), comments drop before both text and href " +
        "extraction (a commented-out anchor contributes no edge), " +
        "remaining tags become spaces, the six common entities " +
        "decode (&amp; last, so &amp;lt; cannot double-decode), " +
        "whitespace collapses. A pure chain of codegen'd " +
        "regexp/replace projections — zero shuffle; at 100 TB this " +
        "is the narrow projection that turns a fetched-page table " +
        "into the text column. The fixture wraps each document in " +
        "deterministic markup (adversarial script with `if (x < " +
        "2)`, entity sentinel, a ghost link inside a comment); " +
        "builder REQUIREs the decoded sentinel present, " +
        "script/style/comment payloads absent and exactly 2 links " +
        "per doc; the first link roundtrips through canonicalUrl " +
        "(port elision, www strip, slash collapse, tracking-param " +
        "drop) and everything hash-gates against the same-constants " +
        "DuckDB twins",
      (s, dir) => {
        import graft.operators.Web
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>d"), id,
          lit("</title><style type=\"text/css\">p { color: red }" +
            "</style><script type=\"text/javascript\">var x = 1; " +
            "if (x < 2) { x = \"a&b\"; }</script></head><body>" +
            "<!-- nav boilerplate --><h1>Doc "), id,
          lit("</h1><p>"), col("text"),
          lit("</p><p>R&amp;D &lt;spec&gt; &quot;q&quot; " +
            "&#39;s&#39;&nbsp;end</p><a href=\"https://www.s"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.test:443/p//"), id,
          lit("/?utm_source=x&id=1\">first</a> " +
            "<a href=\"http://mirror"),
          pmod(col("doc_id"), lit(3)).cast("string"),
          lit(".example.test/q?b=2&a=1\">second</a><!-- <a href=" +
            "\"https://ghost.example.test/never\">ghost</a> -->" +
            "</body></html>"))
        val sentinel = "R&D <spec> \"q\" 's' end"
        // the regexp extraction chain feeds BOTH the invariant audit
        // and the returned projection — scratch it so the chain runs
        // ONCE per invocation (was: audit count + returned frame each
        // re-ran htmlToText/extractLinks over every doc), with the
        // audit riding the scratch write as an observe() metric (the
        // x90 pattern; guide §1.2 fewer passes)
        val parsedObs = new org.apache.spark.sql.Observation()
        val parsed = scratch(t(s, dir, "documents")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            Web.htmlToText(col("html")).as("text_clean"),
            Web.extractLinks(col("html")).as("links"))
          .observe(parsedObs, sum0(when(
            !col("text_clean").contains(sentinel) ||
              col("text_clean").contains("var x") ||
              col("text_clean").contains("color") ||
              col("text_clean").contains("boilerplate") ||
              col("text_clean").contains("ghost") ||
              size(col("links")) =!= 2, 1L).otherwise(0L)).as("bad")),
          "x67_parsed")
        val Seq(bad) = observedLongs(parsedObs, "bad")
        require(bad == 0,
          s"$bad rows failed the HTML extraction invariants")
        parsed
          .select(col("doc_id"), col("text_clean"), col("links"),
            element_at(col("links"), 1).as("first_link"))
          .select(col("doc_id"),
            md5(col("text_clean")).as("text_md5"),
            length(col("text_clean")).cast("long").as("n_chars"),
            size(col("links")).cast("long").as("n_links"),
            Web.canonicalUrl(col("first_link")).as("first_canonical"),
            array_join(col("links"), " ").as("links_all"))
          .orderBy(col("doc_id"))
      },
      Some {
        import graft.operators.Web
        s"""WITH h AS (
           |  SELECT doc_id,
           |    '<html><head><title>d' || CAST(doc_id AS VARCHAR) ||
           |    '</title><style type="text/css">p { color: red }' ||
           |    '</style><script type="text/javascript">var x = 1; ' ||
           |    'if (x < 2) { x = "a&b"; }</script></head><body>' ||
           |    '<!-- nav boilerplate --><h1>Doc ' ||
           |    CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
           |    '</p><p>R&amp;D &lt;spec&gt; &quot;q&quot; ' ||
           |    '&#39;s&#39;&nbsp;end</p><a href="https://www.s' ||
           |    CAST(doc_id % 7 AS VARCHAR) ||
           |    '.example.test:443/p//' || CAST(doc_id AS VARCHAR) ||
           |    '/?utm_source=x&id=1">first</a> ' ||
           |    '<a href="http://mirror' || CAST(doc_id % 3 AS VARCHAR) ||
           |    '.example.test/q?b=2&a=1">second</a><!-- <a href=' ||
           |    '"https://ghost.example.test/never">ghost</a> -->' ||
           |    '</body></html>' AS html
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    ${Web.htmlToTextSql("html")} AS text_clean,
           |    ${Web.extractLinksSql("html")} AS links
           |  FROM h),
           |l AS (
           |  SELECT doc_id, text_clean, links, links[1] AS first_link
           |  FROM p)
           |SELECT doc_id, md5(text_clean) AS text_md5,
           |  CAST(length(text_clean) AS BIGINT) AS n_chars,
           |  CAST(len(links) AS BIGINT) AS n_links,
           |  ${Web.canonicalUrlSql("first_link")} AS first_canonical,
           |  array_to_string(links, ' ') AS links_all
           |FROM l ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("x68_char_entropy",
      "character-entropy quality signal (Shannon entropy in nats " +
        "over the character distribution; native codegen'd " +
        "plans.CharEntropy, one in-row pass with an ASCII fast " +
        "path) — the information-theoretic cut of the quality " +
        "family: keyboard mash, padding runs and template " +
        "boilerplate have alphabets far narrower than prose " +
        "(~2.7-3.0 nats), and a low-entropy gate catches them where " +
        "length/stopword signals (x9) and n-gram REPETITION ratios " +
        "(x26, repeated structure) miss shuffled low-variety soup. " +
        "The declarative form explodes one row per CHARACTER — a " +
        "100 TB corpus becomes a corpus-of-characters shuffle — " +
        "which is exactly what the oracle twin does in DuckDB " +
        "(unnest chars → per-doc frequency → fold), making the " +
        "hash gate a genuine two-implementation check; the fold " +
        "order (ascending codepoint, left-to-right) is part of the " +
        "cross-engine contract since floating addition is not " +
        "associative. Every fifth document is replaced with a " +
        "deterministic 3-letter-alphabet run (entropy ln 3 ≈ 1.10); " +
        "builder REQUIREs every synthesized row gates below 2.0 " +
        "nats, every natural row above, over the ASCII projection " +
        "(DuckDB splits graphemes, Java counts codepoints — ASCII " +
        "makes them the same thing; the non-ASCII path is " +
        "spec-pinned instead)",
      (s, dir) => {
        val raw = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            expr("repeat('ab ', CAST(40 + doc_id % 3 AS INT))"))
            .otherwise(col("text")).as("t0"))
        val a = raw.select(col("doc_id"),
          regexp_replace(col("t0"), "[^ -~]", "").as("ta"))
        // NOT scratched (unlike x67/x69): measured A/B at sf0.1, the
        // scratch write+read washes against recomputing this cheap
        // narrow chain for the audit (0.85/0.92 vs 0.98/0.73 warm),
        // and at scale rewriting a corpus-sized scored table costs
        // more IO than a second in-row entropy pass
        val scored = a.select(col("doc_id"),
            length(col("ta")).cast("long").as("n_chars"),
            size(array_distinct(array_remove(split(col("ta"), ""), "")))
              .cast("long").as("n_distinct"),
            round(TextAnalysis.charEntropy(col("ta")), 6)
              .as("entropy_r"))
          .withColumn("is_degenerate", col("entropy_r") < 2.0)
        val misses = scored.filter(
          (col("doc_id") % 5 === 0 && !col("is_degenerate")) ||
            (col("doc_id") % 5 =!= 0 && col("is_degenerate")) ||
            col("n_chars") === 0).count()
        require(misses == 0,
          s"$misses rows on the wrong side of the entropy gate")
        scored.orderBy(col("doc_id"))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0
             |      THEN repeat('ab ', CAST(40 + doc_id % 3 AS INTEGER))
             |      ELSE text END AS t0
             |  FROM documents),
             |a AS (
             |  SELECT doc_id,
             |    regexp_replace(t0, '[^ -~]', '', 'g') AS ta FROM raw),
             |c AS (
             |  SELECT doc_id, unnest(string_split(ta, '')) AS ch FROM a),
             |f AS (
             |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS n
             |  FROM c GROUP BY doc_id, ch),
             |tt AS (SELECT doc_id, sum(n) AS tot FROM f GROUP BY doc_id),
             |e AS (
             |  SELECT f.doc_id,
             |    CAST(sum(n) AS BIGINT) AS n_chars,
             |    CAST(count(*) AS BIGINT) AS n_distinct,
             |    round(list_reduce(
             |      list(-((n / tot) * ln(n / tot)) ORDER BY ch),
             |      (x, y) -> x + y), 6) AS entropy_r
             |  FROM f JOIN tt USING (doc_id) GROUP BY f.doc_id)
             |SELECT doc_id, n_chars, n_distinct, entropy_r,
             |  entropy_r < 2.0 AS is_degenerate
             |FROM e ORDER BY doc_id""".stripMargin)),

    QuerySpec("x69_anchor_text",
      "anchor-text aggregation per canonical link target — the " +
        "inbound-description signal: anchor text is how the REST of " +
        "the web describes a page (the classic ranking/" +
        "retrieval-training-pair signal a page's own text cannot " +
        "provide), so the operator inverts the link graph: extract " +
        "(href, anchor) pairs per page (Web.extractAnchors — " +
        "script/comment noise stripped first, the x67 contract), " +
        "canonicalize the href (x56 — WITHOUT canonicalization " +
        "`:443/p//5/?utm_source=x` and `/p/5` split one page's " +
        "anchor evidence across keys), and aggregate per target. " +
        "Scale shape: pair extraction is narrow in-row regexp work; " +
        "the ONE shuffle is keyed on the ~40-byte canonical target " +
        "carrying short anchor strings — page bytes never move; a " +
        "boilerplate-anchor hot target (every page linking `hub`) " +
        "concentrates rows, which map-side partial aggregation " +
        "absorbs (count/count-distinct/set-collect all fold " +
        "per-partition first; the fixture's hub key, linked from " +
        "EVERY document, is the deliberate hot-key probe). Builder " +
        "REQUIREs the hub target aggregates every source doc into " +
        "exactly 5 distinct anchor variants and no ghost/script " +
        "anchor leaks; hash-gated against the same-constants DuckDB " +
        "twins end-to-end (extraction, canonicalization, " +
        "aggregation)",
      (s, dir) => {
        import graft.operators.Web
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><body><p>intro</p><a href=\"https://www.s"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.test:443/p//"),
          pmod(col("doc_id"), lit(40)).cast("string"),
          lit("/?utm_source=x\">guide "),
          pmod(col("doc_id"), lit(3)).cast("string"),
          lit(" for s"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit("</a><a href=\"http://hub.example.test/\"> hub  "),
          pmod(col("doc_id"), lit(5)).cast("string"),
          lit(" </a><!-- <a href=\"http://x.test/g\">ghost</a> -->" +
            "<script>var a = '<a href=\"http://x.test/j\">js</a>';" +
            "</script></body></html>"))
        // extraction + canonicalization feed THREE consumers (the
        // aggregate, the hub audit, the leak audit) — scratch the
        // pair frame so the regexp/URL work runs ONCE, the leak audit
        // riding its write; the aggregate is scratched too so the hub
        // audit's collect reads written parquet instead of re-running
        // the shuffle (the x67/x90 pattern)
        val pairsObs = new org.apache.spark.sql.Observation()
        val pairs = scratch(t(s, dir, "documents")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            explode(Web.extractAnchors(col("html"))).as("a"))
          .select(col("doc_id"),
            Web.canonicalUrl(col("a.href")).as("target"),
            col("a.anchor").as("anchor"))
          .observe(pairsObs, sum0(when(col("anchor").contains("ghost") ||
            col("anchor").contains("js"), 1L).otherwise(0L)).as("leaked")),
          "x69_pairs")
        val Seq(leaked) = observedLongs(pairsObs, "leaked")
        require(leaked == 0, s"$leaked commented/script anchors leaked")
        val agg = scratch(pairs.groupBy(col("target"))
          .agg(count(lit(1)).as("n_anchors"),
            countDistinct(col("doc_id")).as("n_sources"),
            array_join(array_sort(collect_set(col("anchor"))), " | ")
              .as("anchors_set")), "x69_agg")
        val nDocs = t(s, dir, "documents").count()
        val hub = agg.filter(col("target") === "http://hub.example.test/")
          .collect()
        require(hub.length == 1 &&
          hub.head.getAs[Long]("n_sources") == nDocs &&
          hub.head.getAs[String]("anchors_set").split(" \\| ").length == 5,
          s"hot-key target must aggregate all $nDocs docs into 5 " +
            s"anchor variants: ${hub.toSeq}")
        agg.orderBy(col("target"))
      },
      Some {
        import graft.operators.Web
        s"""WITH h AS (
           |  SELECT doc_id,
           |    '<html><body><p>intro</p><a href="https://www.s' ||
           |    CAST(doc_id % 7 AS VARCHAR) || '.example.test:443/p//' ||
           |    CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=x">guide ' ||
           |    CAST(doc_id % 3 AS VARCHAR) || ' for s' ||
           |    CAST(doc_id % 7 AS VARCHAR) ||
           |    '</a><a href="http://hub.example.test/"> hub  ' ||
           |    CAST(doc_id % 5 AS VARCHAR) ||
           |    ' </a><!-- <a href="http://x.test/g">ghost</a> -->' ||
           |    '<script>var a = ''<a href="http://x.test/j">js</a>'';' ||
           |    '</script></body></html>' AS html
           |  FROM documents),
           |p AS (
           |  SELECT doc_id,
           |    unnest(${Web.extractAnchorsSql("html")}) AS a
           |  FROM h),
           |c AS (
           |  SELECT doc_id, a.anchor AS anchor, a.href AS href FROM p),
           |k AS (
           |  SELECT doc_id, anchor,
           |    ${Web.canonicalUrlSql("href")} AS target
           |  FROM c)
           |SELECT target, CAST(count(*) AS BIGINT) AS n_anchors,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_sources,
           |  array_to_string(list_sort(list(DISTINCT anchor)), ' | ')
           |    AS anchors_set
           |FROM k GROUP BY target ORDER BY target""".stripMargin
      }),

    QuerySpec("x70_prefix_filter_join",
      "EXACT-threshold set-similarity self-join via prefix filtering " +
        "(Chaudhuri et al. 2006; Bayardo et al. 2007 All-Pairs; Xiao " +
        "et al. 2008 PPJoin) — the exact complement to the " +
        "probabilistic MinHash path (x3): every pair with word-" +
        "3-shingle-set Jaccard >= 0.7 is found with NO false " +
        "negatives, because a document's PREFIX (its " +
        "|d| - ceil(t|d|) + 1 globally-RAREST shingles) must " +
        "intersect the prefix of any set within threshold — recall " +
        "is a theorem, candidate volume is the knob. Scale shape: " +
        "one shingle-keyed frequency agg, one doc-keyed ordered-set " +
        "agg (persisted: one corpus scan serves candidates AND " +
        "verify), one prefix-shingle equi-join — the rarest-first " +
        "ordering bounds exactly the posting lists that explode in a " +
        "naive token join — then per-pair exact-Jaccard " +
        "adjudication. Builder REQUIREs candidates <= 5% of " +
        "all-pairs (the filter must actually filter) and every " +
        "synthesized twin pair found (doc_id%10==0 twinned with its " +
        "first token dropped: shingle Jaccard (n-1)/n >= 0.7); " +
        "DuckDB re-derives the whole pipeline — frequencies, " +
        "ordering, prefixes, candidates, verification — from the " +
        "same constants",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val twins = base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            expr("substring(text, instr(text, ' ') + 1)").as("text"))
        val corpus = base.unionByName(twins)
        // The shingle+global-frequency+ordered-set aggregation is the
        // entry's heaviest subtree and is consumed FOUR times (the
        // candidate join's two sides, verify, and the returned plan).
        // A persist released in `finally` runs before the harness
        // executes the RETURNED frame (r12 verdict: 3-4 redundant
        // corpus-wide shuffles per run) — so materialize to parquet
        // once and read it back for every consumer (the
        // Quarantine.ingest pattern). At 100 TB this IS the design:
        // the sets table is the reusable index artifact.
        // the corpus size and candidate count ride the scratch
        // writes via observe() — prefixFilterSets emits exactly one
        // row per corpus document (ids are unique by construction:
        // twins offset by 10^6), so the sets write's row count IS
        // |corpus|, and the cands write's row count IS the candidate
        // volume: two audit jobs folded into writes that already run
        // (guide §1.2; the x90 observe-audit pattern)
        val setsObs = new org.apache.spark.sql.Observation()
        val sets = scratch(
          Dedup.prefixFilterSets(corpus, "doc_id", "text", 3)
            .observe(setsObs, count(lit(1)).as("n")),
          "x70_sets")
        // candidates and the verified relation are each consumed by a
        // REQUIRE gate AND a downstream stage/returned plan — scratch
        // both so the prefix join and the exact-Jaccard adjudication
        // each execute exactly ONCE per run
        val candsObs = new org.apache.spark.sql.Observation()
        val cands = scratch(
          Dedup.prefixFilterCandidates(sets, "doc_id", 0.7)
            .observe(candsObs, count(lit(1)).as("n")),
          "x70_cands")
        val verified = scratch(
          Dedup.prefixFilterVerify(sets, cands, "doc_id", 0.7),
          "x70_verified")
        val Seq(nCand) = observedLongs(candsObs, "n")
        val Seq(m) = observedLongs(setsObs, "n")
        require(nCand * 20 <= m * (m - 1) / 2,
          s"prefix filter degenerated: $nCand candidates vs " +
            s"${m * (m - 1) / 2} all-pairs")
        val missed = base.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1000000).as("id_b"))
          .join(verified, Seq("id_a", "id_b"), "left_anti").count()
        require(missed == 0,
          s"$missed twin pairs missed — completeness broken")
        verified.select(col("id_a"), col("id_b"),
            round(col("jac"), 6).as("jac_r"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000,
             |    substring(text, strpos(text, ' ') + 1)
             |  FROM documents WHERE doc_id % 10 = 0),
             |tk AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
             |    trim(text) AS t
             |  FROM base),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(
             |    CASE WHEN len(tk) >= 3 THEN list_transform(
             |      range(1, len(tk) - 1),
             |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             |    ELSE [t] END)) AS g
             |  FROM tk),
             |f AS (SELECT g, CAST(count(*) AS BIGINT) AS f
             |      FROM sh GROUP BY g),
             |sets AS (
             |  SELECT doc_id, list(g ORDER BY f, g) AS toks,
             |    CAST(count(*) AS BIGINT) AS sz
             |  FROM sh JOIN f USING (g) GROUP BY doc_id),
             |pref AS (
             |  SELECT doc_id, unnest(
             |    toks[1 : CAST(sz - ceil(0.7 * sz) + 1 AS INT)]) AS p
             |  FROM sets),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pref a JOIN pref b
             |    ON a.p = b.p AND a.doc_id < b.doc_id),
             |v AS (
             |  SELECT id_a, id_b,
             |    CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE) /
             |      (x.sz + y.sz - len(list_intersect(x.toks, y.toks)))
             |      AS jac
             |  FROM cand
             |  JOIN sets x ON x.doc_id = id_a
             |  JOIN sets y ON y.doc_id = id_b)
             |SELECT id_a, id_b, round(jac, 6) AS jac_r
             |FROM v WHERE jac >= 0.7 ORDER BY id_a, id_b""".stripMargin)),

    QuerySpec("x71_vocab_coverage",
      "vocabulary-coverage / OOV-rate curve (Zipf-mass governance) — " +
        "the tokenizer-sizing question: what fraction of corpus " +
        "token mass does a top-V vocabulary cover, and what OOV " +
        "rate does the budget leave? Unit here is adjacent-token " +
        "bigrams (the fixture's unigram vocabulary is a degenerate " +
        "31 words; the unit is pluggable — words, subwords, " +
        "shingles). Scale shape: the corpus reduces ONCE to a " +
        "vocabulary-sized frequency table (persisted; vocabulary is " +
        "orders of magnitude smaller than the corpus), then each " +
        "cutoff is a distributed top-V (TakeOrdered — deliberately " +
        "NOT a global row_number window, which would pull the whole " +
        "vocabulary through one task) plus a scalar sum; the " +
        "returned frame is three audited scalars per cutoff. " +
        "Builder REQUIREs the curve is monotone and non-vacuous " +
        "(coverage strictly grows across cutoffs); DuckDB " +
        "re-derives the curve via an independent rank-based route " +
        "(window + rk <= cutoff join) — two implementations, one " +
        "answer",
      (s, dir) => {
        val cutoffs = Seq(10L, 100L, 500L)
        val bg = t(s, dir, "documents")
          .select(explode(adjacentBigrams(wsTokens(col("text"))))
            .as("g"))
        // vocabulary-sized (not corpus-sized) and consumed 2+|cutoffs|
        // times — the scratch table replaces a persist the returned
        // plan could never see (every consumer here runs eagerly, but
        // the convention is one compute per heavy subtree, period)
        val freq = scratch(
          bg.groupBy(col("g")).agg(count(lit(1)).as("f")), "x71_freq")
        val total = freq.agg(sum(col("f"))).head.getLong(0)
        val vocab = freq.count()
        val rows = cutoffs.map { v =>
          val covered = freq.orderBy(col("f").desc, col("g"))
            .limit(v.toInt)
            .agg(coalesce(sum(col("f")), lit(0L))).head.getLong(0)
          (v, covered)
        }
        require(rows.sliding(2).forall(w => w(0)._2 <= w(1)._2) &&
          rows.last._2 > rows.head._2,
          s"coverage curve must be monotone and non-vacuous: $rows")
        import s.implicits._
        rows.toDF("cutoff", "covered")
          .select(col("cutoff"), lit(vocab).as("vocab_total"),
            lit(total).as("n_grams"),
            round(col("covered").cast("double") / lit(total.toDouble),
              6).as("coverage_r"),
            round(lit(1.0) - col("covered").cast("double") /
              lit(total.toDouble), 6).as("oov_rate_r"))
          .orderBy(col("cutoff"))
      },
      Some(s"""WITH base AS (
             |  SELECT $duckWsTokens AS tk FROM documents),
             |pos AS (
             |  SELECT tk, unnest(range(1, len(tk))) AS i FROM base
             |  WHERE len(tk) >= 2),
             |f AS (
             |  SELECT tk[i] || ' ' || tk[i+1] AS g,
             |    CAST(count(*) AS BIGINT) AS f
             |  FROM pos GROUP BY g),
             |t AS (
             |  SELECT CAST(sum(f) AS BIGINT) AS total,
             |    CAST(count(*) AS BIGINT) AS vocab FROM f),
             |r AS (
             |  SELECT f, row_number() OVER (ORDER BY f DESC, g) AS rk
             |  FROM f),
             |c AS (
             |  SELECT CAST(v AS BIGINT) AS cutoff
             |  FROM (VALUES (10), (100), (500)) AS x(v))
             |SELECT c.cutoff, t.vocab AS vocab_total,
             |  t.total AS n_grams,
             |  round(CAST(sum(r.f) AS DOUBLE) / t.total, 6)
             |    AS coverage_r,
             |  round(1.0 - CAST(sum(r.f) AS DOUBLE) / t.total, 6)
             |    AS oov_rate_r
             |FROM c JOIN r ON r.rk <= c.cutoff CROSS JOIN t
             |GROUP BY c.cutoff, t.vocab, t.total
             |ORDER BY c.cutoff""".stripMargin)),

    QuerySpec.lateBound("x57_ann_index_roundtrip",
      "ANN index lifecycle, IVF persistence leg: centroids trained " +
        "once, persisted as parquet tables with a manifest (kind, " +
        "n_cells, dim, caller provenance), LOADED BACK, and the full " +
        "corpus assigned via the LOADED index — while the late-bound " +
        "oracle embeds the ORIGINAL in-memory centroids, so any " +
        "roundtrip corruption (row loss, precision loss, cell " +
        "reorder) diverges the hash; the manifest is what makes a " +
        "100 TB index auditable (which snapshot trained it, with " +
        "what params) and the loader validates tables against it") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
        nCells = 8, iters = 2)
      Similarity.saveIvfIndex(s, "ivf_roundtrip", cents,
        Map("snapshot" -> "fixture-embeddings", "iters" -> "2"))
      val (loaded, man) = Similarity.loadIvfIndex(s, "ivf_roundtrip")
      require(man("n_cells") == "8" && man("iters") == "2" &&
        man("snapshot") == "fixture-embeddings",
        s"manifest must round-trip; got $man")
      (Similarity.ivfAssign(emb, "vec_id", "embedding", loaded)
        .orderBy(col("vec_id")),
      () => Similarity.ivfAssignOracleSql("embeddings",
        "vec_id", "embedding", cents, newPred = "TRUE"))
    },

    QuerySpec.lateBound("x57b_pq_index_roundtrip",
      "ANN index lifecycle, PQ persistence leg: codebooks persisted " +
        "with their manifest and loaded back; the gate dumps every " +
        "LOADED codeword value against the ORIGINAL trained values " +
        "embedded as SQL literals — a bit-exactness proof through " +
        "the parquet roundtrip (parquet doubles are binary-exact; " +
        "Double.toString round-trips through DuckDB's " +
        "correctly-rounded parse), the property compressed-index " +
        "serving silently loses if an export path ever goes through " +
        "text truncation") { (s, dir) =>
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = 8, ksub = 8, iters = 2)
      Similarity.savePqIndex(s, "pq_roundtrip", books,
        Map("snapshot" -> "fixture-embeddings"))
      val (loaded, man) = Similarity.loadPqIndex(s, "pq_roundtrip")
      require(man("m") == "8" && man("ksub") == "8" &&
        man("snapshot") == "fixture-embeddings",
        s"manifest must round-trip; got $man")
      ((for {
        sb <- loaded.indices
        j <- loaded(sb).indices
        d <- loaded(sb)(j).indices
      } yield (sb, j, d, loaded(sb)(j)(d)))
        .toDF("sub", "code", "dim_idx", "cw_val")
        .orderBy(col("sub"), col("code"), col("dim_idx")),
      () => {
        val rows = for {
          sb <- books.indices
          j <- books(sb).indices
          d <- books(sb)(j).indices
        } yield s"($sb, $j, $d, CAST('${books(sb)(j)(d)}' AS DOUBLE))"
        s"""SELECT sub, code, dim_idx, cw_val
           |FROM (VALUES ${rows.mkString(",\n  ")})
           |  t(sub, code, dim_idx, cw_val)
           |ORDER BY sub, code, dim_idx""".stripMargin
      })
    },

    QuerySpec("x47_streaming_dedup",
      "transitive oracle for the streaming watermarked dedup: " +
        "dropDuplicatesWithinWatermark over the fixture events read " +
        "as a file stream (Trigger.AvailableNow, append-mode PARQUET " +
        "sink + read-back — no emitted row crosses the driver, the " +
        "shape that survives sf10's maxResultSize ceiling), " +
        "projected to the dedup key so the output is the " +
        "deterministic kept-key set — which must equal batch " +
        "DISTINCT, the form DuckDB verifies directly",
      (s, dir) => {
        val stream = Tables.loadStream(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val deduped = graft.streaming.Streams.streamingDedup(stream,
            Seq("user_id", "event_type"), watermarkCol = "ts",
            delay = "365 days")
          .select(col("user_id"), col("event_type"))
        graft.streaming.Streams.runAvailableNowToDir(s, deduped, "x47_out")
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    QuerySpec("x48_streaming_interval_join",
      "transitive oracle for the watermarked stream-stream interval " +
        "self-join: same key/tolerance as batch x16, run with " +
        "Trigger.AvailableNow over the fixture events stream — the " +
        "emitted pair set must equal the batch range join DuckDB " +
        "already verifies",
      (s, dir) => {
        val stream = Tables.loadStream(s, dir, "events")
        val joined = graft.streaming.Streams.streamingIntervalSelfJoin(
          stream, keyCol = "user_id", idCol = "event_id", tsCol = "ts",
          delay = "1 hour", withinSec = 600L)
        graft.streaming.Streams.runAvailableNowToDir(s, joined, "x48_out")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND a.event_id < b.event_id
             | AND b.ts >= a.ts - INTERVAL 10 MINUTE
             | AND b.ts <= a.ts + INTERVAL 10 MINUTE
             |ORDER BY id_a, id_b""".stripMargin)),

    QuerySpec("x49_streaming_enrich",
      "transitive oracle for stream-static enrichment: each " +
        "micro-batch of the events stream left-joins the broadcast " +
        "customer dimension (events never shuffle; missing dim rows " +
        "survive as nulls) — output must equal the batch left join",
      (s, dir) => {
        val stream = Tables.loadStream(s, dir, "events")
          .select(col("event_id"), col("user_id"))
        val dim = t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        val enriched = graft.streaming.Streams.enrichWithDim(
          stream, dim, Seq("user_id"))
        graft.streaming.Streams.runAvailableNowToDir(s, enriched, "x49_out")
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id, c.c_mktsegment
             |FROM events e LEFT JOIN customer c
             |  ON e.user_id = c.c_custkey
             |ORDER BY e.event_id""".stripMargin)),

    QuerySpec("x50_streaming_quality_gate",
      "transitive oracle for the streaming perplexity gate: the " +
        "frozen-vocab cross-entropy projection (stateless, no model " +
        "join — the same Column scores batch or stream) gates the " +
        "documents file stream under Trigger.AvailableNow; kept " +
        "(doc_id, h_r) must equal DuckDB computing the identical " +
        "sorted left fold. All model ln-probs are quarter-step " +
        "literals, so every partial sum is IEEE-exact and the fold " +
        "is bit-identical across engines",
      (s, dir) => {
        val lnP = Map("hash" -> -2.0, "order" -> -2.25, "table" -> -2.5,
          "window" -> -2.75, "row" -> -3.0, "batch" -> -3.25,
          "spark" -> -3.5, "join" -> -3.75)
        val stream = Tables.loadStream(s, dir, "documents")
          .select(col("doc_id"), col("text"))
          .filter(length(trim(col("text"))) > 0)
        val gated = stream.withColumn("h_r",
            round(graft.operators.LanguageModel.frozenVocabCrossEntropy(
              col("text"), lnP, -4.5), 6))
          .filter(col("h_r") <= lit(4.05))
          .select(col("doc_id"), col("h_r"))
        graft.streaming.Streams.runAvailableNowToDir(s, gated, "x50_out")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents WHERE length(trim(text)) > 0),
             |scored AS (
             |  SELECT doc_id,
             |    round(-list_reduce(
             |      list_prepend(CAST(0.0 AS DOUBLE),
             |        list_transform(list_sort(toks), t -> CASE t
             |          WHEN 'hash' THEN -2.0 WHEN 'order' THEN -2.25
             |          WHEN 'table' THEN -2.5 WHEN 'window' THEN -2.75
             |          WHEN 'row' THEN -3.0 WHEN 'batch' THEN -3.25
             |          WHEN 'spark' THEN -3.5 WHEN 'join' THEN -3.75
             |          ELSE -4.5 END)),
             |      (acc, x) -> acc + x) / CAST(len(toks) AS DOUBLE), 6)
             |      AS h_r
             |  FROM d)
             |SELECT doc_id, h_r FROM scored WHERE h_r <= 4.05
             |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x52_streaming_sessionize",
      "transitive oracle for STREAMING sessionization: the native " +
        "session_window aggregate over the fixture events stream " +
        "(Trigger.AvailableNow, complete mode through a per-batch " +
        "OVERWRITE parquet sink + read-back — every session is final " +
        "once the bounded fixture drains, and no emitted row crosses " +
        "the driver; unbounded deployments pass a watermark and run " +
        "append, where state evicts per finalized session) — output " +
        "must equal batch x14b, whose boundary derivation DuckDB " +
        "verifies directly",
      (s, dir) => {
        val stream = Tables.loadStream(s, dir, "events")
          .select(col("user_id"), col("ts"),
            dec2(col("value")).as("value2"))
        val sessions = graft.streaming.Streams.streamingSessionize(
          stream, keyCol = "user_id", tsCol = "ts", valueCol = "value2",
          gap = "1800 seconds")
        graft.streaming.Streams.runAvailableNowToDir(s,
            sessions, "x52_out", complete = true)
          .withColumn("sum_value", col("sum_value").cast("double"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS sess_id
             |  FROM flagged)
             |SELECT user_id, min(ts) AS session_start,
             |       max(ts) + INTERVAL 1800 SECONDS AS session_end,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM sess GROUP BY user_id, sess_id
             |ORDER BY user_id, session_start""".stripMargin)),

    QuerySpec("x53_streaming_ingest_screen",
      "transitive oracle for INGESTION-TIME dedup against history: " +
        "the documents stream anti-joins the historical fingerprint " +
        "inventory (stream-static left_anti on 32-char digests, " +
        "re-broadcast per micro-batch; history text is never read — " +
        "only its persisted fingerprint column, the shape that " +
        "screens a daily delta against a 100 TB corpus) — stateless, " +
        "shuffle-free on the stream side; output must equal batch " +
        "x1b, which DuckDB verifies directly",
      (s, dir) => {
        val hist = t(s, dir, "documents").filter(col("doc_id") < 250)
          .select(md5Fingerprint(col("text")).as("md5_fp"))
        val stream = Tables.loadStream(s, dir, "documents")
          .filter(col("doc_id") >= 250)
        val screened = Dedup.incrementalExactNew(stream, "text", hist)
          .select(col("doc_id"))
        graft.streaming.Streams.runAvailableNowToDir(s, screened, "x53_out")
          .orderBy(col("doc_id"))
      },
      Some("""WITH fp AS (
             |  SELECT doc_id,
             |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
             |  FROM documents)
             |SELECT b.doc_id FROM fp b
             |WHERE b.doc_id >= 250 AND NOT EXISTS (
             |  SELECT 1 FROM fp h WHERE h.doc_id < 250 AND h.f = b.f)
             |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x54_streaming_exactly_once_sink",
      "data oracle for the EXACTLY-ONCE foreachBatch parquet sink: " +
        "stream the events fixture through idempotentParquetSink " +
        "(per-batch-id overwrite directories), then FORCE the " +
        "at-least-once replay window — delete the newest checkpoint " +
        "commit and restart, so the last batch genuinely re-executes " +
        "through foreachBatch — and return the sink's contents. The " +
        "DuckDB oracle is the ORIGINAL events table: hash equality " +
        "proves the post-replay sink holds every input row exactly " +
        "once (no duplicates from the replay, no loss from the " +
        "overwrite)",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val root = Locations.run(s, "x54")
        val (sink, ckpt) = (s"$root/sink", s"$root/ckpt")
        def pipeline() = graft.streaming.Streams.idempotentParquetSink(
          Tables.loadStream(s, dir, "events")
            .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value")),
          sink, ckpt, trigger = Some(Trigger.AvailableNow()))
        val q1 = pipeline()
        graft.streaming.Streams.awaitTerminationAndUnregister(s, q1)
        val replayed = graft.streaming.Streams.forceLastBatchReplay(ckpt)
        val before = Tables.readParquet(s, s"$sink/batch_id=$replayed").count()
        val q2 = pipeline()
        graft.streaming.Streams.awaitTerminationAndUnregister(s, q2)
        require(Tables.readParquet(s, s"$sink/batch_id=$replayed").count()
            == before,
          s"replayed batch $replayed must overwrite to the same rows")
        Tables.readParquet(s, sink)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, ts, user_id, event_type, value
             |FROM events ORDER BY event_id""".stripMargin))
  )
}
