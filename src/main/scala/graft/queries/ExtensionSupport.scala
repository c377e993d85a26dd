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
import graft.operators.{Corpus, Dedup, Graph, LanguageModel, Layout, Relational, Retrieval, Sampling, Similarity, TextAnalysis}
import graft.sources.{Locations, Tables}

/** Shared helpers and fixtures of the extension-catalog slice files —
  * scratch-table lifecycle, the compute-once memo (trained ANN
  * artifacts, WET fixture dumps), DuckDB twin fragments (quality
  * metrics, language-ID chains, cluster CTEs) and per-entry fixture
  * constants. Split out of the single-file ExtensionQueries in r15;
  * one object so the memo stays a single instance across the slices.
  */
private[queries] object ExtensionSupport {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Materialize an intermediate to a parquet scratch table in a run
    * location ([[Locations.run]]) and read it back — the entry-level
    * answer to "this subtree feeds N consumers, including the RETURNED
    * plan". A
    * persist() released in the builder dies before the harness
    * executes the returned frame (the r12 x70 recompute finding),
    * and one left unreleased leaks across a 186-entry suite; a
    * written table serves every consumer — in-entry REQUIRE gates,
    * the returned plan, and the driver's re-execution — from ONE
    * compute. At 100 TB this is the real design too: heavy reusable
    * intermediates (set indexes, pair tables, token frames) are
    * artifacts, not lineage. */
  def scratch(df: DataFrame, name: String): DataFrame = {
    // a run location: two concurrent graft JVMs (a CatalogSpec sweep
    // beside a Verify dump, at possibly DIFFERENT SFs) never read each
    // other's table, and the bytes are reclaimed and logged at JVM exit
    val dir = Locations.run(df.sparkSession, s"scratch/$name")
    df.write.mode("overwrite").parquet(dir)
    Tables.readParquet(df.sparkSession, dir)
  }

  /** The file-system path of a local location, for DuckDB and
    * `java.nio`: a warehouse location carries the `file:` scheme. */
  def localPath(loc: String): String =
    new org.apache.hadoop.fs.Path(loc).toUri.getPath

  /** Read LONG metrics off an Observation whose frame went through
    * [[scratch]] (the write is the completing action) — the audit
    * scalars ride the materialization job instead of each paying a
    * separate collect job over the scratch table (the x19/x73
    * observe pattern applied to entry audits; guide §1.2: fewer
    * passes). A NULL metric fails with its key: an aggregate that saw
    * no rows has no value to read. Sums that can see no rows observe
    * through [[sum0]]; a max/min states what its empty side means
    * where it is observed (x90's keptMax/loserMin). */
  def observedLongs(obs: org.apache.spark.sql.Observation,
      keys: String*): Seq[Long] = {
    val m = org.apache.spark.sql.GraftBridge.observedOrEmpty(obs)
    require(m.nonEmpty,
      "observed audit metrics did not materialize with the scratch write")
    keys.map(k => m.get(k) match {
      case Some(v: java.lang.Long) => v.longValue()
      case Some(null) => throw new IllegalStateException(
        s"audit metric $k is NULL: its aggregate saw no rows")
      case other => throw new IllegalStateException(
        s"audit metric $k is not a long: $other")
    })
  }

  /** A LONG sum that reads 0 over no rows, for [[observedLongs]]. */
  def sum0(c: Column): Column = coalesce(sum(c).cast("long"), lit(0L))

  /** Clean form of the x58 mojibake-fixture suffix (é ñ ü ö — all
    * Latin-1-representable, so one mis-decode step is exactly
    * invertible); the corrupted twin is DERIVED from it via the same
    * UTF-8-bytes-read-as-Latin-1 transform on both engines' sides,
    * so the fixture and oracle cannot drift. */
  val MOJIBAKE_CLEAN_SUFFIX =
    " café señor über schön"

  /** Composed (NFC) core of the x60 fixture suffix; the decomposed
    * twin is DERIVED from it via `Normalizer` NFD — so fixture and
    * expectation cannot drift — plus two canonical singletons
    * (U+212B ANGSTROM SIGN, U+2126 OHM SIGN) that NFC folds to
    * U+00C5/U+03A9, exercising composition-exclusion handling beyond
    * plain combining-mark composition. */
  val NFC_CLEAN_SUFFIX = " café España über naïve"
  val NFD_CORRUPT_SUFFIX =
    java.text.Normalizer.normalize(
      NFC_CLEAN_SUFFIX, java.text.Normalizer.Form.NFD) + " \u212B\u2126"

  /** The catalog's compute-once memo: the first call for `key` in
    * this JVM runs `compute`, and every later call returns its value
    * without running it. It holds the trained ANN artifacts shared
    * across the recall/eval family and the WET fixture dumps (below):
    * Bench and JobCount run each entry several times per JVM, and the
    * value is a pure function of its key, so recomputing it would only
    * bill training or fixture IO to the timed region again.
    *
    * The memo is a per-key future claimed with putIfAbsent — NOT a
    * computeIfAbsent whose mapping function runs the Spark jobs:
    * computeIfAbsent holds the map's bin lock for the compute's whole
    * duration, so a concurrent call on a DIFFERENT key hashing to the
    * same bin would block behind a multi-second job, and a re-entrant
    * call from inside `compute` (the residual codebooks need the
    * centroids) would deadlock. Here the winner computes OUTSIDE any
    * map lock and completes the future; duplicates await it and see
    * the finished value, or the winner's own exception. A FAILED
    * compute retracts its claim so a later call can retry instead of
    * memoizing the failure. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[AnyRef]]()

  def once[A <: AnyRef](key: String)(compute: => A): A = {
    val mine = new java.util.concurrent.CompletableFuture[AnyRef]()
    val prev = memo.putIfAbsent(key, mine)
    if (prev == null) {
      try {
        val v = compute
        mine.complete(v)
        v
      } catch {
        case t: Throwable =>
          memo.remove(key, mine)
          mine.completeExceptionally(t)
          throw t
      }
    } else {
      // rethrow the winner's ORIGINAL failure, not the
      // CompletionException join() wraps it in — losers and the
      // winner must surface the same exception type
      try prev.join().asInstanceOf[A]
      catch {
        case e: java.util.concurrent.CompletionException
            if e.getCause != null => throw e.getCause
      }
    }
  }

  /** A deterministic WET fixture dump (x81/x90), written once per
    * (application, `name`): the first call empties the run location
    * `name` ([[Locations.run]]) and has `write` fill it; later calls
    * in the same application reuse the bytes on disk. Every call
    * returns the location. `name` is SF-namespaced by the callers. */
  def wetFixtureOnce(s: SparkSession, name: String)(
      write: String => Unit): String =
    once(s"${s.sparkContext.applicationId}/$name") {
      val path = Locations.run(s, name)
      write(path)
      path
    }

  /** The ANN artifacts of the recall/eval family (x6b/x6c, x39,
    * x42/x42b/x42d, x45/x46, plus x42c's coarse quantizer), trained
    * once per test-data dir: the trainers are deterministic over
    * (corpus, params), so every sibling serves against the same frozen
    * result, and each entry's late-bound oracle embeds the artifacts
    * its own run used. Entries gating the TRAINING or PERSISTENCE path
    * itself (x6d, x31, x41, x57, x42c's ksub=16 sweep) train their
    * own. */
  def memoCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    once(s"$dir/ivf-cents-8-2") {
      Similarity.ivfTrain(t(s, dir, "embeddings"), "vec_id", "embedding",
        nCells = 8, iters = 2)
    }

  def memoBooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    once(s"$dir/pq-books-8-8-2") {
      Similarity.pqTrain(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 8, ksub = 8, iters = 2)
    }

  def memoResBooks(s: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    once(s"$dir/pq-books-res-8-8-2") {
      Similarity.pqTrainResidual(t(s, dir, "embeddings"), "vec_id",
        "embedding", memoCentroids(s, dir), m = 8, ksub = 8, iters = 2)
    }

  // DuckDB twins of TextFunctions helpers, kept adjacent to their use.
  val duckWsTokens = "string_split_regex(trim(text), '\\s+')"
  def duckTokensIn(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"CAST(len(list_filter($duckWsTokens, t -> list_contains($arr, t))) AS BIGINT)"
  }

  // TextAnalysis quality-metric twins over a `text` column — shared by
  // x9 and the x21 pipeline so the formulas cannot drift apart.
  val duckNTok = s"CAST(len($duckWsTokens) AS BIGINT)"
  val duckSwCount = duckTokensIn(TextAnalysis.stopwords)
  val duckAlpha =
    "CASE WHEN length(text) > 0 THEN " +
      "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) " +
      "AS DOUBLE) / length(text) ELSE 0.0 END"
  val duckLenSum = s"CAST(list_reduce(list_prepend(0, " +
    s"list_transform($duckWsTokens, t -> length(t))), (a, b) -> a + b) " +
    "AS BIGINT)"
  val duckMeanLen = s"CAST($duckLenSum AS DOUBLE) / $duckNTok"
  val duckQuality =
    s"CAST($duckSwCount AS DOUBLE) / $duckNTok * 0.4 + ($duckAlpha) * 0.4 + " +
      s"(CASE WHEN $duckMeanLen >= 3 AND $duckMeanLen <= 10 " +
      "THEN 0.2 ELSE 0.0 END)"

  /** Language-ID twin: CTE chain over `src(doc_id, text)` emitting
    * `<out>`(doc_id, text, lang_pred) — shared by x8 and x21. */
  def duckLangCtes(src: String, out: String): String = {
    val scores = TextAnalysis.langMarkers.map { case (lang, words) =>
      s"${duckTokensIn(words)} AS s_$lang"
    }.mkString(",\n  ")
    val best = TextAnalysis.langMarkers
      .map { case (l, _) => s"s_$l" }
      .reduceRight((a, b) => s"greatest($a, $b)")
    val cases = TextAnalysis.langMarkers.map { case (l, _) =>
      s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""${out}_scored AS (
       |  SELECT doc_id, text, $scores
       |  FROM $src),
       |${out}_best AS (SELECT *, $best AS best FROM ${out}_scored),
       |$out AS (SELECT doc_id, text, CASE $cases ELSE 'und' END AS lang_pred
       |         FROM ${out}_best)""".stripMargin
  }

  /** x1d twins: BOTH the Spark run and the generated oracle read these,
    * so signature length and threshold cannot drift apart. */
  val x1dParams = Dedup.MinHashParams()
  val x1dMinEst = 0.75

  /** x56's public-suffix list: one plain rule, one wildcard, one
    * exception — every PSL rule kind the registered-domain extractor
    * supports, exercised by the fixture's shape-7 hosts. */
  val x56Suffixes: Seq[String] =
    Seq("example.test", "*.cdn.example.test", "!origin.cdn.example.test")

  /** x72's public-suffix fixture, in the publicsuffix.org FILE format
    * (comment/section lines, blank lines, a trailing-comment rule) and
    * at a rule count deliberately ABOVE the ~300-rule analyzer ceiling
    * where the expression form ([[graft.operators.Web.registeredDomain]])
    * stops being buildable in Spark — the regime that makes the
    * broadcast rule-table join ([[graft.operators.Web.withRegisteredDomain]])
    * the only viable shape (the real list is ~9,250 rules). Covers
    * every rule kind: plain one-label TLDs, two-level registries,
    * nested wildcards, exceptions carved from wildcards, and unicode
    * rules that must IDNA-normalize to match already-punycoded hosts. */
  val x72UniPlainBody: String =     // 公司.tld1 → xn--....tld1
    java.net.IDN.toASCII("公司.tld1")
      .toLowerCase(java.util.Locale.ROOT)
  val x72UniWildBody: String =      // 例.tld2 → xn--....tld2
    java.net.IDN.toASCII("例.tld2")
      .toLowerCase(java.util.Locale.ROOT)
  val x72PslFileText: String =
    s"""// ===BEGIN ICANN DOMAINS===
       |// generated graft fixture — one rule per line, format per
       |// publicsuffix.org/list
       |
       |${(0 until 320).map(i => s"tld$i").mkString("\n")}
       |
       |// two-level registries
       |${(0 until 40).map(i => s"co.tld$i").mkString("\n")}
       |
       |// wildcard registries (every label under w.tldN is public)
       |${(0 until 40).map(i => s"*.w.tld$i").mkString("\n")}
       |
       |// exceptions carved back out of the first wildcards
       |${(0 until 20).map(i => s"!keep.w.tld$i").mkString("\n")}
       |
       |// unicode rules (the list ships these raw; hosts arrive
       |// punycoded, so rule bodies must take the same IDNA path)
       |公司.tld1 ${"\t"}// trailing comment, format-legal
       |*.例.tld2
       |// ===END ICANN DOMAINS===
       |""".stripMargin
  lazy val x72Rules: Seq[String] =
    graft.operators.Web.parsePslFile(x72PslFileText)

  /** x74's robots.txt fixture bodies — one per host class, shared by
    * the Spark builder and the DuckDB twin so the two parses read the
    * same bytes. Together they cover: multi-UA headers (case-insens.),
    * wildcard + trailing-$ patterns, same-length allow/disallow ties,
    * empty-value rule lines (close the header, contribute no rule),
    * star fallback, exact-group-present-but-empty (star moot), rules
    * before any header (ignored), comments and CRLF. */
  val x74RobotsBodies: Seq[(Long, String)] = Seq(
    0L -> ("# fixture body 0\r\n" +
      "User-Agent: OtherBot\n" +
      "Disallow: /\n" +
      "\n" +
      "User-agent: GraftBot\n" +
      "Disallow: /docs\n" +
      "Allow: /docs/public\n" +
      "disallow : /*.zip$\n" +
      "Allow: /t*\n" +
      "Disallow: /ti\n" +
      "Disallow:\n" +
      "\n" +
      "User-agent: *\n" +
      "Disallow: /star\n"),
    1L -> ("User-agent: otherbot\n" +
      "Disallow: /\n" +
      "\n" +
      "User-agent: *   # fallback group\n" +
      "Disallow: /private\n" +
      "Allow: /private/ok\n"),
    2L -> ("Disallow: /orphan\n" +
      "User-agent: graftbot\n" +
      "Disallow:\n" +
      "\n" +
      "User-agent: *\n" +
      "Disallow: /\n"))

  /** x21/x21b shared oracle chain: language/quality filter → exact
    * fingerprint dedup → MinHash pairs → recursive reachability →
    * min-label per node. Ends at `labels(u, mv)`; `kept(doc_id, text)`
    * holds the exact-deduped survivors. One definition, two tails, so
    * the two pipeline oracles cannot drift. */
  lazy val hygieneOracleChain: String =
    s"""${duckLangCtes("documents", "lp")},
       |filtered AS (
       |  SELECT doc_id, text FROM lp
       |  WHERE lang_pred IN ('en') AND ($duckQuality) >= 0.55),
       |fps AS (
       |  SELECT doc_id, text,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |  FROM filtered),
       |kept AS (
       |  SELECT p.doc_id, p.text
       |  FROM fps p JOIN (SELECT f, min(doc_id) AS mid
       |                   FROM fps GROUP BY f) k ON p.doc_id = k.mid),
       |mh AS (SELECT id_a, id_b FROM (
       |  ${Dedup.minHashOracleSql("kept", "doc_id", "text")
              .replace("\n", "\n  ")})),
       |${Graph.componentsSqlCtes("mh")}""".stripMargin

  /** x2b's candidate-generation MinHash: 6 bands of 2 rows — collision
    * probability j², deliberately permissive so the adjudicator (not
    * the screen) makes the call and candidates exist even in corpora
    * with only moderate similarity. */
  val x2bParams = Dedup.MinHashParams(k = 12, bands = 6)

  /** x28 twin: '<EMAIL>' → n_email etc. — same count-column name on
    * both sides. */
  def piiCountCol(tok: String): String =
    "n_" + tok.replaceAll("[<>]", "").toLowerCase

  /** x29's embedded merges table (rank order), read by BOTH the Spark
    * run and the generated oracle. Each pair's parts are chars or
    * earlier merges, as in a real BPE merges file; the chains build
    * common corpus words (table, data, the, row) through multiple
    * ranks so the gate exercises merge STACKING, not single merges. */
  val bpeMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("l", "e"), ("r", "o"), ("d", "a"), ("t", "h"),
    ("b", "le"), ("ta", "ble"), ("ro", "w"), ("da", "ta"), ("th", "e"),
    ("a", "n"), ("s", "c"), ("sc", "an"), ("e", "r"), ("o", "r"))

  /** x27 twins: CTE chain hashing the distinct word-trigram shingles of
    * `src(doc_id, text)` — the DuckDB mirror of Dedup.gramHashes
    * ([[Dedup.gramsSqlCtes]] plus the hash). Emits `<a>_grams` and
    * `<a>_hashes`; reference the last (doc_id, gram_h). */
  def decontamGramCtes(src: String, a: String, n: Int = 3): String =
    s"""${Dedup.gramsSqlCtes(src, a, "doc_id", "text", n)},
       |${a}_hashes AS (
       |  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram_h
       |  FROM ${a}_grams)""".stripMargin

  /** Near-dup cluster labels (exact-dup + MinHash-LSH pair edges ->
    * connected components, min-id canonical label per doc) — shared by
    * x19 (the labels are the product) and x18b (the labels gate the
    * split) so the clustering semantics cannot drift between them. */
  def nearDupClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = docs.groupBy(col("text")).agg(min(col("doc_id")).as("id_a"))
    val exactEdges = docs.join(keep, "text")
      .filter(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"))
    val nearEdges = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      .select(col("id_a"), col("id_b"))
    Graph.connectedComponents(docs.select(col("doc_id")), "doc_id",
      exactEdges.union(nearEdges))
  }

  /** DuckDB twin of [[nearDupClusterLabels]], split as (CTE list,
    * final select) so callers can extend the WITH RECURSIVE chain. */
  def clusterCtes: String =
    s"""mh AS (
       |  SELECT id_a, id_b FROM (
       |    ${Dedup.minHashOracleSql("documents", "doc_id", "text")
              .replace("\n", "\n    ")})),
       |keep AS (
       |  SELECT text, min(doc_id) AS ka FROM documents GROUP BY text),
       |exact_e AS (
       |  SELECT k.ka AS id_a, d.doc_id AS id_b
       |  FROM documents d JOIN keep k USING (text)
       |  WHERE d.doc_id <> k.ka),
       |alledges AS (
       |  SELECT id_a, id_b FROM exact_e
       |  UNION ALL SELECT id_a, id_b FROM mh),
       |${Graph.componentsSqlCtes("alledges")}""".stripMargin

  val clusterSelect: String =
    """SELECT d.doc_id,
      |  CAST(least(d.doc_id, coalesce(l.mv, d.doc_id)) AS BIGINT)
      |    AS cluster_id
      |FROM documents d LEFT JOIN labels l ON l.u = d.doc_id""".stripMargin

  /** x62's oracle, generated from the same constants as the Spark
    * side: DuckDB re-derives the ±0.05 md5-signed twins, the JL
    * projections (the 32×64 Rademacher plane matrix embedded as
    * literals — the late-bound-literal idiom of the LSH/IVF/PQ
    * oracles, except nothing here is even late-bound: the planes are
    * a pure function of (j, d)), and both cosines, bit-for-bit. */
  def jlMarginOracle: String = {
    val dOut = 32; val dim = 64
    val scale = math.sqrt(dOut.toDouble).toString
    val planes = graft.operators.Similarity.jlWeights(dOut, dim)
    def proj(vecExpr: String): String =
      (0 until dOut).map { j =>
        val p = planes(j).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"list_dot_product($vecExpr, $p) / CAST('$scale' AS DOUBLE)"
      }.mkString("[", ",\n      ", "]")
    def cos(a: String, b: String): String =
      Similarity.cosSql(a, b, Similarity.normSql(a), Similarity.normSql(b))
    val idxs = (0 until dim).mkString("[", ",", "]")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    [CAST(list_extract(embedding, i+1) AS DOUBLE) +
       |       CASE WHEN substring(md5(vec_id || '-' || i), 32, 1)
       |              IN ('0','2','4','6','8','a','c','e')
       |         THEN CAST('0.05' AS DOUBLE)
       |         ELSE CAST('-0.05' AS DOUBLE) END
       |     FOR i IN $idxs] AS tw
       |  FROM embeddings WHERE vec_id % 3 = 0),
       |p AS (
       |  SELECT vec_id, v, tw,
       |    ${proj("v")} AS jv,
       |    ${proj("tw")} AS jt
       |  FROM e),
       |pairs AS (
       |  SELECT 'dup' AS kind, vec_id AS id_a, vec_id AS id_b,
       |    ${cos("v", "tw")} AS cos_full,
       |    ${cos("jv", "jt")} AS cos_jl
       |  FROM p
       |  UNION ALL
       |  SELECT 'bg', a.vec_id, b.vec_id,
       |    ${cos("a.v", "b.v")},
       |    ${cos("a.jv", "b.jv")}
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id
       |    AND (a.vec_id + b.vec_id) % 37 = 0)
       |SELECT kind, id_a, id_b,
       |  round(cos_full, 6) AS cos_full_r,
       |  round(cos_jl, 6) AS cos_jl_r,
       |  cos_jl >= CAST('0.5' AS DOUBLE) AS candidate
       |FROM pairs ORDER BY kind, id_a, id_b""".stripMargin
  }

  /** The brute-force top-5 oracle of the fixture's query vectors
    * (vec_id < 8): x5 (window form) and x5b (heap-aggregate form) must
    * both match it bit-for-bit, and the recall entries take it as
    * their exact side. */
  val annTopkOracle: String = Similarity.bruteForceOracleSql("embeddings",
    "vec_id", "embedding", 5, "vec_id < 8")

}
