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

/** link-graph centrality (PageRank/HITS + converged), URL canon, PSL, robots, WET ingest, paragraph dedup, DSIR/UniMax, bitext mining, FIM/span corruption, calibration, retrieval eval, corpus-build pipeline — a CONTIGUOUS, ORDER-PRESERVING slice of the
  * extension catalog (r15 split of the 6.2k-line ExtensionQueries;
  * entry text unchanged, aggregation order unchanged in
  * ExtensionQueries.specs). */
private[queries] object ExtensionCrawlGraphQueries {
  import ExtensionSupport._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("x55_pagerank_centrality",
      "link-graph centrality for crawl/corpus curation (Page et al. " +
        "1999; Common Crawl ranks hosts by centrality to prioritize " +
        "its frontier, and domain rank is a standard pretraining " +
        "quality prior): 3 power iterations over the symmetrized " +
        "supplier-part graph, every FP reduction a two-phase " +
        "src-then-shard SORTED fold (order-pinned against the oracle " +
        "AND bounded under in-degree skew — a hot node folds as 64 " +
        "bounded lists, never one giant one); per iteration one " +
        "src-keyed join + two keyed aggregations, nothing all-pairs",
      (s, dir) => {
        // fixture graph sized by a partkey cut (a scan-pushed
        // predicate): centrality semantics are fully exercised while
        // the entry's bench line stays join-sized, not suite-dominating
        val sp = t(s, dir, "lineitem")
          .filter(col("l_partkey") <= 2000)
          .select(col("l_suppkey").cast("long").as("s"),
            (col("l_partkey").cast("long") + 1000000L).as("p"))
          .distinct()
        val edges = sp.select(col("s").as("src"), col("p").as("dst"))
          .unionByName(sp.select(col("p").as("src"), col("s").as("dst")))
        graft.operators.Graph.pageRank(edges, iters = 3)
          .orderBy(col("id"))
      },
      Some(graft.operators.Graph.pageRankOracleSql(
        """WITH sp AS (
          |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
          |    CAST(l_partkey AS BIGINT) + 1000000 AS p
          |  FROM lineitem WHERE l_partkey <= 2000)
          |SELECT s AS src, p AS dst FROM sp
          |UNION ALL SELECT p AS src, s AS dst FROM sp""".stripMargin,
        iters = 3) + "\nORDER BY id")),

    QuerySpec("x73_pagerank_converged",
      "PageRank with the PRODUCTION stopping rule — iterate until the " +
        "L1 delta sum |r_i - r_(i-1)| drops under tol, not a fixed " +
        "round count (x55): the delta metric rides each round's " +
        "lineage-truncation job via observe() (no second pass), " +
        "each round's rank vector is lineage-truncated " +
        "(ranks feeds the next round twice — an un-truncated plan " +
        "doubles per round), and steady state holds exactly two rank " +
        "vectors. The oracle re-derives the stop round independently: " +
        "it unrolls maxIters rounds in DuckDB, recomputes every " +
        "round's L1 delta, and picks the first round under tol — a " +
        "wrong Spark-side stop diverges the hash through BOTH the " +
        "emitted iters_run and the rank values. tol sits >= 2e-4 from " +
        "the nearest achievable delta (measured), dwarfing the ULP " +
        "noise of the unordered delta sums; rank values stay " +
        "bit-exact via the x55 sorted folds",
      (s, dir) => {
        val sp = t(s, dir, "lineitem")
          .filter(col("l_partkey") <= 600)
          .select(col("l_suppkey").cast("long").as("s"),
            (col("l_partkey").cast("long") + 1000000L).as("p"))
          .distinct()
        val edges = sp.select(col("s").as("src"), col("p").as("dst"))
          .unionByName(sp.select(col("p").as("src"), col("s").as("dst")))
        // damping 0.5 halves the delta per round, so the rule fires
        // within a small budget; measured deltas on the fixture:
        // round 9 ~ 2.8-3.5e-3, round 10 ~ 1.4-1.8e-3 → tol 2e-3
        // stops at round 10 at both gate SFs with >= 2e-4 margin
        val run = graft.operators.Graph.pageRankConverged(edges,
          maxIters = 12, tol = 2e-3, damping = 0.5)
        require(run.iters >= 1 && run.iters < 12,
          s"the L1 stopping rule must fire BEFORE the iteration budget " +
            s"(converged=${run.iters}, budget=12) — hitting the cap " +
            "means the entry no longer exercises convergence")
        require(run.l1Delta <= 2e-3,
          s"converged run must end under tol, got ${run.l1Delta}")
        run.ranks.withColumn("iters_run", lit(run.iters.toLong))
          .orderBy(col("id"))
      },
      Some(graft.operators.Graph.pageRankConvergedOracleSql(
        """SELECT s AS src, p AS dst FROM (
          |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
          |    CAST(l_partkey AS BIGINT) + 1000000 AS p
          |  FROM lineitem WHERE l_partkey <= 600)
          |UNION ALL SELECT p AS src, s AS dst FROM (
          |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
          |    CAST(l_partkey AS BIGINT) + 1000000 AS p
          |  FROM lineitem WHERE l_partkey <= 600)""".stripMargin,
        maxIters = 12, tol = 2e-3, damping = 0.5))),

    QuerySpec("x56_url_canonicalize",
      "crawl-curation URL keying: RFC 3986 §6 canonicalization " +
        "(scheme/host case, default-port elision, §6.2.2.2 " +
        "percent-encoding normalization — uppercase hex, unreserved " +
        "octets decoded, reserved kept encoded, bare % preserved) " +
        "plus the de-facto crawl extensions — fragment/userinfo " +
        "drop, tracking-param removal, query-param sort, slash and " +
        "trailing-host-dot normalization, punycode-stable xn-- " +
        "labels — and registered-domain extraction with FULL " +
        "public-suffix-list rule semantics (plain, *.wildcard and " +
        "!exception rules, exceptions first then longest); the " +
        "fixture derives nine messy URL shapes per document " +
        "deterministically. A pure chain of codegen'd regexp/array " +
        "projections, zero shuffle before the gate's ORDER BY: at " +
        "100 TB the ~40-byte canonical key is what shuffles for " +
        "URL-level dedup and per-domain quotas (x30), never the " +
        "page bytes",
      (s, dir) => {
        import graft.operators.Web
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 9
        val url = when(m === 0, concat(lit("HTTP://WWW."),
            upper(col("source")), lit(".Example.TEST:80/Docs/"), id,
            lit("//a/?utm_source=x&b=2&a=1#frag")))
          .when(m === 1, concat(lit("https://"), col("source"),
            lit(".example.test:443/docs/"), id))
          .when(m === 2, concat(lit("https://u:p@"), col("source"),
            lit(".example.test/a//b/"), id, lit("/?gclid=zz&z=1&a=2")))
          .when(m === 3, concat(lit("http://"), col("source"),
            lit(".example.test:8080/p/"), id, lit("?z=9&a=1&fbclid=t&")))
          .when(m === 4, concat(lit("https://www."), col("source"),
            lit(".example.test/docs/"), id, lit("/#sec")))
          .when(m === 5, concat(lit("https://"), col("source"),
            lit(".example.test/%7Edocs%2fx/"), id,
            lit("?a=%41%2d1&utm_campaign=c&b=%3a&c=100%")))
          .when(m === 6, concat(lit("HTTPS://WWW.XN--BCHER-KVA."),
            upper(col("source")), lit(".Example.TEST.:443/b/"), id,
            lit("#x")))
          .when(m === 7 && col("doc_id") % 2 === 0,
            concat(lit("https://a."), col("source"),
              lit(".cdn.example.test/w/"), id))
          .when(m === 7, concat(
            lit("https://sub.origin.cdn.example.test/e/"), id))
          .otherwise(concat(lit("doc "), id))
        t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"), col("url"),
            Web.canonicalUrl(col("url")).as("canonical"),
            Web.canonicalHost(col("url")).as("host"))
          // registeredDomain over the COMPUTED host column (the twin's
          // CTE shape): its rule fold references the host many times,
          // and CollapseProject keeps the non-cheap host pipeline from
          // being inlined into each reference
          .select(col("doc_id"), col("url"), col("canonical"),
            col("host"),
            Web.registeredDomain(col("host"), x56Suffixes)
              .as("reg_domain"))
          .orderBy(col("doc_id"))
      },
      Some {
        import graft.operators.Web
        s"""WITH u AS (
           |  SELECT doc_id,
           |    CASE
           |      WHEN doc_id % 9 = 0 THEN 'HTTP://WWW.' || upper(source) ||
           |        '.Example.TEST:80/Docs/' || CAST(doc_id AS VARCHAR) ||
           |        '//a/?utm_source=x&b=2&a=1#frag'
           |      WHEN doc_id % 9 = 1 THEN 'https://' || source ||
           |        '.example.test:443/docs/' || CAST(doc_id AS VARCHAR)
           |      WHEN doc_id % 9 = 2 THEN 'https://u:p@' || source ||
           |        '.example.test/a//b/' || CAST(doc_id AS VARCHAR) ||
           |        '/?gclid=zz&z=1&a=2'
           |      WHEN doc_id % 9 = 3 THEN 'http://' || source ||
           |        '.example.test:8080/p/' || CAST(doc_id AS VARCHAR) ||
           |        '?z=9&a=1&fbclid=t&'
           |      WHEN doc_id % 9 = 4 THEN 'https://www.' || source ||
           |        '.example.test/docs/' || CAST(doc_id AS VARCHAR) ||
           |        '/#sec'
           |      WHEN doc_id % 9 = 5 THEN 'https://' || source ||
           |        '.example.test/%7Edocs%2fx/' || CAST(doc_id AS VARCHAR) ||
           |        '?a=%41%2d1&utm_campaign=c&b=%3a&c=100%'
           |      WHEN doc_id % 9 = 6 THEN 'HTTPS://WWW.XN--BCHER-KVA.' ||
           |        upper(source) || '.Example.TEST.:443/b/' ||
           |        CAST(doc_id AS VARCHAR) || '#x'
           |      WHEN doc_id % 9 = 7 AND doc_id % 2 = 0
           |        THEN 'https://a.' || source ||
           |          '.cdn.example.test/w/' || CAST(doc_id AS VARCHAR)
           |      WHEN doc_id % 9 = 7
           |        THEN 'https://sub.origin.cdn.example.test/e/' ||
           |          CAST(doc_id AS VARCHAR)
           |      ELSE 'doc ' || CAST(doc_id AS VARCHAR)
           |    END AS url
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, url,
           |    ${Web.canonicalUrlSql("url")} AS canonical,
           |    ${Web.canonicalHostSql("url")} AS host
           |  FROM u)
           |SELECT doc_id, url, canonical, host,
           |  ${Web.registeredDomainSql("host", x56Suffixes)}
           |    AS reg_domain
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("x72_psl_join_registered_domain",
      "registered-domain extraction via the broadcast rule-table JOIN " +
        "(Web.withRegisteredDomain) — the production PSL path, and " +
        "the ONLY shape viable at the real publicsuffix.org size: the " +
        "per-rule expression fold (x56's form) overflows the analyzer " +
        "stack at ~300 rules, two orders of magnitude under the " +
        "~9,250-rule list. The fixture is a " +
        "publicsuffix.org-FORMAT file (comments, blank lines, a " +
        "trailing-comment rule) parsed by parsePslFile into 422 rules " +
        "covering every kind: plain TLDs, two-level registries, " +
        "nested wildcards, exceptions, and raw-unicode rules that " +
        "must IDNA-normalize to match punycoded hosts. Each DISTINCT " +
        "host explodes to its dot-suffix chain in-row; ONE broadcast " +
        "(mode,key) equi-join matches candidates against the KB-sized " +
        "rule table (REQUIREd to plan as a BroadcastHashJoin, never a " +
        "nested-loop rule walk); the prevailing rule per host is a " +
        "struct-min on the PSL algorithm's exact precedence key. The " +
        "DuckDB twin re-derives every host through the per-rule CASE " +
        "spec (registeredDomainSql), so the hash gate checks the join " +
        "ALGORITHM against the straightforward per-rule semantics " +
        "cross-engine. At 100 TB the corpus pays one host-keyed " +
        "distinct + one equi-join back; hosts never walk the rule list",
      (s, dir) => {
        import graft.operators.Web
        // >300: the regime where only the join form can run (the
        // fixture must actually be past the expression ceiling)
        require(x72Rules.size == 422,
          s"PSL fixture must parse to 422 rules, got ${x72Rules.size}")
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 9
        val t320 = (col("doc_id") % 320).cast("string")
        val t40 = (col("doc_id") % 40).cast("string")
        val t20 = (col("doc_id") % 20).cast("string")
        val host =
          // plain TLD, 2 labels → rd = host
          when(m === 0, concat(lit("site"), id, lit(".tld"), t320))
          // deeper under plain → rd = last 2 labels
          .when(m === 1, concat(lit("a"), id, lit(".site"), id,
            lit(".tld"), t320))
          // two-level registry → rd = last 3 labels
          .when(m === 2, concat(lit("site"), id, lit(".co.tld"), t40))
          // host IS a listed suffix → rd = itself
          .when(m === 3, concat(lit("co.tld"), t40))
          // under a wildcard: 4 labels → rd = whole host; 3 labels →
          // host IS a (wildcard-defined) public suffix → rd = itself
          .when(m === 4 && col("doc_id") % 2 === 0, concat(lit("x"), id,
            lit(".site"), id, lit(".w.tld"), t40))
          .when(m === 4, concat(lit("site"), id, lit(".w.tld"), t40))
          // exception carve-out → rd = the exception body
          .when(m === 5, concat(lit("site"), id, lit(".keep.w.tld"), t20))
          // punycoded hosts under the raw-unicode rules
          .when(m === 6 && col("doc_id") % 2 === 0,
            concat(lit("site"), id, lit("." + x72UniPlainBody)))
          .when(m === 6, concat(lit("s"), id, lit(".b." + x72UniWildBody)))
          // unlisted → fallback last-2-labels
          .when(m === 7, concat(lit("site"), id, lit(".zz"), t320))
          // dotless → itself
          .otherwise(concat(lit("host"), id))
        val out = Web.withRegisteredDomain(
            t(s, dir, "documents").select(col("doc_id"), host.as("host")),
            "host", x72Rules, "reg_domain")
          .select(col("doc_id"), col("host"), col("reg_domain"))
          .orderBy(col("doc_id"))
        // plan contract (WebSpec's assertion, enforced per run): the
        // rule match must be a pure hash join on (mode, key) — a
        // nested-loop walk of 422 rules per candidate is the shape
        // this operator exists to avoid
        val plan = out.queryExecution.sparkPlan.toString
        require(plan.contains("BroadcastHashJoin"),
          s"rule match must plan as a BroadcastHashJoin:\n$plan")
        require(!plan.contains("BroadcastNestedLoopJoin"),
          s"no nested-loop join may appear in the plan:\n$plan")
        out
      },
      Some {
        import graft.operators.Web
        s"""WITH h AS (
           |  SELECT doc_id,
           |    CASE
           |      WHEN doc_id % 9 = 0 THEN 'site' || CAST(doc_id AS VARCHAR)
           |        || '.tld' || CAST(doc_id % 320 AS VARCHAR)
           |      WHEN doc_id % 9 = 1 THEN 'a' || CAST(doc_id AS VARCHAR)
           |        || '.site' || CAST(doc_id AS VARCHAR)
           |        || '.tld' || CAST(doc_id % 320 AS VARCHAR)
           |      WHEN doc_id % 9 = 2 THEN 'site' || CAST(doc_id AS VARCHAR)
           |        || '.co.tld' || CAST(doc_id % 40 AS VARCHAR)
           |      WHEN doc_id % 9 = 3
           |        THEN 'co.tld' || CAST(doc_id % 40 AS VARCHAR)
           |      WHEN doc_id % 9 = 4 AND doc_id % 2 = 0
           |        THEN 'x' || CAST(doc_id AS VARCHAR)
           |          || '.site' || CAST(doc_id AS VARCHAR)
           |          || '.w.tld' || CAST(doc_id % 40 AS VARCHAR)
           |      WHEN doc_id % 9 = 4 THEN 'site' || CAST(doc_id AS VARCHAR)
           |        || '.w.tld' || CAST(doc_id % 40 AS VARCHAR)
           |      WHEN doc_id % 9 = 5 THEN 'site' || CAST(doc_id AS VARCHAR)
           |        || '.keep.w.tld' || CAST(doc_id % 20 AS VARCHAR)
           |      WHEN doc_id % 9 = 6 AND doc_id % 2 = 0
           |        THEN 'site' || CAST(doc_id AS VARCHAR)
           |          || '.$x72UniPlainBody'
           |      WHEN doc_id % 9 = 6 THEN 's' || CAST(doc_id AS VARCHAR)
           |        || '.b.$x72UniWildBody'
           |      WHEN doc_id % 9 = 7 THEN 'site' || CAST(doc_id AS VARCHAR)
           |        || '.zz' || CAST(doc_id % 320 AS VARCHAR)
           |      ELSE 'host' || CAST(doc_id AS VARCHAR)
           |    END AS host
           |  FROM documents)
           |SELECT doc_id, host,
           |  ${Web.registeredDomainSql("host", x72Rules)
                .replace("\n", "\n  ")}
           |    AS reg_domain
           |FROM h ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("x74_robots_txt_gate",
      "robots.txt crawl-permission gating (RFC 9309) — the politeness " +
        "filter every crawl pipeline runs between frontier and fetch, " +
        "and retroactively over an acquired corpus when a robots " +
        "snapshot arrives: group selection per §2.2.1 (consecutive " +
        "User-agent headers form one group, blank lines do NOT split " +
        "a header, matching groups MERGE, star groups apply only when " +
        "no exact group exists, empty-value rule lines close the " +
        "header but contribute no rule, pre-header rules are ignored) " +
        "and the §2.2.2 decision (most-specific = longest pattern " +
        "wins, Allow beats Disallow on ties, * wildcard, trailing-$ " +
        "anchor, no-match = allowed). Scale shape: bodies parse ONCE " +
        "on the tiny per-host robots table via one in-row aggregate " +
        "fold (a narrow projection), the rule arrays broadcast-join " +
        "to the URL corpus on host class (REQUIREd BroadcastHashJoin), " +
        "and the per-URL decision is an in-row fold over ≤ dozens of " +
        "rules using LIKE translation (*→%, escaped %/_) — no per-row " +
        "regex compilation, page bytes never shuffle. The DuckDB twin " +
        "takes the INDEPENDENT relational route (lines with " +
        "ordinality, lag/running-sum block detection, bool_or group " +
        "applicability, row_number winner), so the hash gate crosses " +
        "two different algorithms",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Web
        val robots = x74RobotsBodies.toDF("kind", "body")
          .select(col("kind"),
            Web.robotsGroup(col("body"), "GraftBot").as("rules"))
        // parse audit: body0 keeps 5 rules (empty Disallow dropped),
        // body1 falls back to the 2-rule star group, body2's exact
        // group exists but is EMPTY (star moot)
        val counts = robots.select(col("kind"), size(col("rules")))
          .as[(Long, Int)].collect().toMap
        require(counts == Map(0L -> 5, 1L -> 2, 2L -> 0),
          s"robots parse audit failed: $counts")
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 8
        val path =
          when(m === 0, concat(lit("/docs/d"), id))
          .when(m === 1, concat(lit("/docs/public/p"), id))
          .when(m === 2, concat(lit("/files/f"), id, lit(".zip")))
          .when(m === 3, concat(lit("/files/f"), id, lit(".zipx")))
          .when(m === 4, concat(lit("/ti/x"), id))
          .when(m === 5, concat(lit("/private/ok/o"), id))
          .when(m === 6, concat(lit("/private/p"), id))
          .otherwise(concat(lit("/free/f"), id))
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 3).as("kind"),
            path.as("path"))
        val out = docs.join(broadcast(robots), Seq("kind"))
          .select(col("doc_id"), col("kind"), col("path"),
            Web.robotsDecision(col("path"), col("rules")).as("d"))
          .select(col("doc_id"), col("kind"), col("path"),
            col("d.allowed").as("allowed"),
            col("d.win_len").as("win_len"), col("d.win_p").as("win_p"))
          .orderBy(col("doc_id"))
        val plan = out.queryExecution.sparkPlan.toString
        require(plan.contains("BroadcastHashJoin"),
          s"robots rules must broadcast-join to the corpus:\n$plan")
        out
      },
      Some {
        import graft.operators.Web
        def sq(x: String): String = "'" + x.replace("'", "''") + "'"
        val bodies = x74RobotsBodies
          .map { case (k, b) => s"($k, ${sq(b)})" }.mkString(",\n    ")
        val lk = Web.robotsLikeSql("core", "endsd")
        s"""WITH robots(kind, body) AS (VALUES
           |    $bodies),
           |${Web.robotsRulesSqlCtes("robots", "GraftBot", "rr")},
           |docs AS (
           |  SELECT doc_id, doc_id % 3 AS kind,
           |    CASE doc_id % 8
           |      WHEN 0 THEN '/docs/d' || CAST(doc_id AS VARCHAR)
           |      WHEN 1 THEN '/docs/public/p' || CAST(doc_id AS VARCHAR)
           |      WHEN 2 THEN '/files/f' || CAST(doc_id AS VARCHAR)
           |        || '.zip'
           |      WHEN 3 THEN '/files/f' || CAST(doc_id AS VARCHAR)
           |        || '.zipx'
           |      WHEN 4 THEN '/ti/x' || CAST(doc_id AS VARCHAR)
           |      WHEN 5 THEN '/private/ok/o' || CAST(doc_id AS VARCHAR)
           |      WHEN 6 THEN '/private/p' || CAST(doc_id AS VARCHAR)
           |      ELSE '/free/f' || CAST(doc_id AS VARCHAR)
           |    END AS path
           |  FROM documents),
           |cand AS (
           |  SELECT d.doc_id, d.kind, d.path, r.p, r.a,
           |    CASE WHEN r.p LIKE '%$$' THEN substr(r.p, 1,
           |      length(r.p) - 1) ELSE r.p END AS core,
           |    (r.p LIKE '%$$') AS endsd
           |  FROM docs d JOIN rr r ON d.kind = r.kind),
           |win AS (
           |  SELECT doc_id, p, a,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY length(p) DESC, CAST(a AS INT) DESC, p DESC)
           |      AS rn
           |  FROM cand WHERE path LIKE $lk ESCAPE '\\'),
           |best AS (SELECT doc_id, p, a FROM win WHERE rn = 1)
           |SELECT d.doc_id, CAST(d.kind AS BIGINT) AS kind, d.path,
           |  coalesce(b.a, true) AS allowed,
           |  CAST(coalesce(length(b.p), -1) AS BIGINT) AS win_len,
           |  coalesce(b.p, '') AS win_p
           |FROM docs d LEFT JOIN best b ON d.doc_id = b.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),

    QuerySpec("x75_paragraph_dedup",
      "CCNet-style paragraph-level dedup with document reassembly " +
        "(Wenzek et al. 2020): split on newline, keep each " +
        "paragraph's FIRST corpus-wide occurrence under the CCNet " +
        "normalization key (lowercase, digits+punctuation stripped, " +
        "whitespace collapsed — so 'Promo 2024!' and 'promo' " +
        "collide), reassemble survivors in position order; blank/" +
        "separator paragraphs whose key normalizes to EMPTY are " +
        "exempt (deduping them corpus-wide would rip every " +
        "document's structure apart). The stage that removes " +
        "headers/nav/cookie banners from INSIDE documents — " +
        "different from x1 (whole-doc), x35 (substring spans within " +
        "pairs): this rewrites the corpus. Scale shape: the winner " +
        "election shuffles md5(key) fingerprints with a map-side " +
        "partial min(struct), so at most one paragraph text per " +
        "distinct key leaves each partition; reassembly is one " +
        "groupBy(doc) with an IN-ROW array_sort (never a global " +
        "window); empty-key rows bypass the election on a narrow " +
        "union branch. Fixture wraps each document in a global " +
        "header (survives ONCE corpus-wide), 7 promo classes " +
        "(survive once each), a within-doc repeat (never survives), " +
        "a blank line and a digits/punct-only row (survive " +
        "everywhere), and 5 tail classes; builder REQUIREs those " +
        "exact survivor counts. DuckDB twin takes the independent " +
        "route: direct string-keyed row_number() window over the " +
        "exploded paragraphs, no fingerprints",
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val promo = concat(lit("Promo block "),
          lit("abcdefg").substr((col("doc_id") % 7 + 1).cast("int"), lit(1)))
        val fixture = concat_ws("\n",
          lit("Shared header boilerplate."),
          promo,
          concat(lit("doc "), id, lit(" "), col("text")),
          lit(""),
          promo,
          lit("#42 --- 2024!!"),
          concat(lit("Tail "),
            lit("vwxyz").substr((col("doc_id") % 5 + 1).cast("int"), lit(1))))
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), fixture.as("text"))
        val out = scratch(
          Corpus.paragraphDedup(docs, "doc_id", "text"), "x75_out")
        // survivor audit: every fixture class lands where the
        // first-occurrence rule says it must
        val audit = out.select(
          sum(when(col("text_dedup")
            .startsWith("Shared header boilerplate."), 1L).otherwise(0L)),
          sum(when(col("text_dedup").contains("Promo block"), 1L)
            .otherwise(0L)),
          sum(when(col("text_dedup").contains("Tail "), 1L).otherwise(0L)),
          sum(when(col("text_dedup").contains("#42 --- 2024!!"), 1L)
            .otherwise(0L)),
          count(lit(1))).collect()(0)
        val nDocs = audit.getLong(4)
        require(audit.getLong(0) == 1L,
          s"global header must survive exactly once, got ${audit.getLong(0)}")
        require(audit.getLong(1) == math.min(7L, nDocs),
          s"one survivor per promo class, got ${audit.getLong(1)}")
        require(audit.getLong(2) == math.min(5L, nDocs),
          s"one survivor per tail class, got ${audit.getLong(2)}")
        require(audit.getLong(3) == nDocs,
          "empty-key separator row must survive in every document")
        out.orderBy(col("doc_id"))
      },
      Some {
        val paraKey = Corpus.paraKeySql("para")
        s"""WITH base AS (
           |  SELECT doc_id,
           |    'Shared header boilerplate.'
           |    || chr(10) || 'Promo block '
           |      || substr('abcdefg', CAST(doc_id % 7 AS INT) + 1, 1)
           |    || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR)
           |      || ' ' || text
           |    || chr(10) || ''
           |    || chr(10) || 'Promo block '
           |      || substr('abcdefg', CAST(doc_id % 7 AS INT) + 1, 1)
           |    || chr(10) || '#42 --- 2024!!'
           |    || chr(10) || 'Tail '
           |      || substr('vwxyz', CAST(doc_id % 5 AS INT) + 1, 1)
           |      AS text
           |  FROM documents),
           |p AS (
           |  SELECT doc_id, unnest(range(0, len(ls))) AS pos,
           |    unnest(ls) AS para
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
           |        FROM base)),
           |k AS (
           |  SELECT doc_id, pos, para, $paraKey AS key FROM p),
           |w AS (
           |  SELECT doc_id, pos, para,
           |    row_number() OVER (PARTITION BY key
           |      ORDER BY doc_id, pos) AS rn
           |  FROM k WHERE key <> ''),
           |kept AS (
           |  SELECT doc_id, pos, para FROM w WHERE rn = 1
           |  UNION ALL
           |  SELECT doc_id, pos, para FROM k WHERE key = ''),
           |agg AS (
           |  SELECT doc_id,
           |    string_agg(para, chr(10) ORDER BY pos) AS text_dedup,
           |    count(*) AS n_kept
           |  FROM kept GROUP BY doc_id),
           |tot AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_paras
           |  FROM base)
           |SELECT t.doc_id, coalesce(a.text_dedup, '') AS text_dedup,
           |  t.n_paras, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
           |FROM tot t LEFT JOIN agg a USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin
      }),

    QuerySpec("x76_wet_roundtrip",
      "WET (WARC conversion-record) source/sink round-trip — the " +
        "format crawl corpora ship in (ISO 28500 / Common Crawl " +
        ".wet): corpus rendered as version-line-framed records with " +
        "CRLF headers, a deterministic md5 WARC-Record-ID and a " +
        "byte-exact Content-Length, written as text part files, read " +
        "back via the multi-byte lineSep scan (Hadoop's delimited " +
        "reader keeps records whole across input-split boundaries, " +
        "so a 100 TB dump parallelizes by block with zero shuffle — " +
        "the builder REQUIREs a shuffle-free parse plan) and parsed " +
        "by pure codegen'd projections: bounded split, per-header " +
        "regex extracts, and a BINARY substring so the payload slice " +
        "honors the OCTET count on non-ASCII text (the fixture " +
        "appends unicode to every document to force bytes≠chars). " +
        "frame_ok REQUIREd true for every record (declared length " +
        "lands exactly on the CRLF terminator). The DuckDB twin " +
        "never sees the file: it re-derives every parsed field " +
        "straight from the documents table, so any corruption in " +
        "write, framing, split, or byte-slicing diverges the hash",
      (s, dir) => {
        import graft.sources.Warc
        val path = Locations.run(s,
          s"wet_docs_${new java.io.File(dir).getName}")
        val id = col("doc_id").cast("string")
        val fixture = t(s, dir, "documents").select(
          concat(lit("https://s"), id, lit(".example.test/d")).as("uri"),
          concat(lit("2024-01-0"), (col("doc_id") % 9 + 1).cast("string"),
            lit("T00:00:00Z")).as("dt"),
          concat(col("text"), lit(" — café №"), id).as("text"))
        Warc.writeWet(fixture, path, "uri", "dt", "text")
        val parsed = Warc.readWet(s, path)
        val plan = parsed.queryExecution.sparkPlan.toString
        require(!plan.contains("Exchange"),
          s"WET parse must be a shuffle-free scan+project:\n$plan")
        val nDocs = t(s, dir, "documents").count()
        val audit = parsed.agg(count(lit(1)),
          sum(when(col("frame_ok"), 0L).otherwise(1L))).collect()(0)
        require(audit.getLong(0) == nDocs,
          s"record count ${audit.getLong(0)} != corpus size $nDocs")
        require(audit.getLong(1) == 0L,
          s"${audit.getLong(1)} records failed byte framing")
        parsed.orderBy(col("uri"))
      },
      Some("""WITH f AS (
             |  SELECT
             |    'https://s' || CAST(doc_id AS VARCHAR)
             |      || '.example.test/d' AS uri,
             |    '2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
             |      || 'T00:00:00Z' AS rec_date,
             |    text || ' — café №' || CAST(doc_id AS VARCHAR) AS text
             |  FROM documents)
             |SELECT uri, 'conversion' AS rec_type,
             |  '<urn:md5:' || md5(uri) || '>' AS rec_id,
             |  rec_date, CAST(strlen(text) AS BIGINT) AS content_length,
             |  text, TRUE AS frame_ok
             |FROM f ORDER BY uri""".stripMargin)),

    QuerySpec("x77_dsir_selection",
      "DSIR data selection (Xie et al. 2023): pick the k raw-corpus " +
        "documents that look most like a TARGET distribution (here " +
        "the English slice) under hashed unigram+bigram bag-of-" +
        "features — importance log-weight Σ n_b·ln(p̂_tgt(b)/" +
        "p̂_raw(b)) over 1024 md5 buckets with add-0.5 smoothing, " +
        "then Gumbel-top-k (noise from the namespaced id hash, so " +
        "the paper's without-replacement softmax draw is fully " +
        "derandomized). The quality-targeting counterpart of x34's " +
        "classifier and x38's perplexity buckets, and the standard " +
        "cheap pretraining-data targeting method. Scale: corpus text " +
        "never shuffles (one narrow feature explosion; only " +
        "(id,bucket,n) frames move), both histograms are bucket-" +
        "sized broadcasts, per-doc folds run in bucket order (bit-" +
        "identical cross-engine), selection is the distributed " +
        "top-k (REQUIREd TakeOrderedAndProject — never a global " +
        "window/sort). Builder REQUIREs the selection actually " +
        "enriches the target: the English fraction among the k " +
        "winners must be at least the corpus base rate. Twin mirrors " +
        "constants, fold order and 6/9-dp rounding via " +
        "Sampling.dsirOracleSql",
      (s, dir) => {
        val out = Sampling.dsirSelect(t(s, dir, "documents"),
          "doc_id", "text", "lang = 'en'")
        val plan = out.queryExecution.sparkPlan.toString
        require(plan.contains("TakeOrderedAndProject"),
          s"top-k selection must be distributed take-ordered:\n$plan")
        val sel = scratch(out, "x77_out")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        val enFrac = (df: DataFrame) => df.agg(
          avg(when(col("lang") === "en", 1.0).otherwise(0.0))).collect()(0)
          .getDouble(0)
        val selEn = enFrac(sel.join(docs, Seq("doc_id")))
        val baseEn = enFrac(docs)
        require(selEn >= baseEn,
          s"DSIR selection must enrich the target: selected en-frac " +
            s"$selEn < corpus base rate $baseEn")
        // sel IS the k-row selection; re-sorting the scratch table is
        // the total order, no second limit (the checker would have to
        // distrust a limit over an unsorted scan)
        sel.orderBy(col("gkey_r").desc, col("doc_id"))
      },
      Some(Sampling.dsirOracleSql(
        "documents", "doc_id", "text", "lang = 'en'"))),

    QuerySpec("x78_unimax_mixture",
      "UniMax budget allocation (Chung et al., ICLR 2023): split a " +
        "token budget across domains so every domain repeats as " +
        "uniformly as possible under a hard epoch cap — the " +
        "principled fix for temperature mixing's (x24b) over-" +
        "sampling of tiny domains. Closed-form waterfill over the " +
        "CONFIG-SCALE domain table (sorted ascending, capped prefix, " +
        "water level fixed at the first uncapped domain — exact-" +
        "double prefix sums since caps are n·E with E a binary " +
        "fraction), then applied to the corpus as floor(epochs) " +
        "repeats plus a namespaced-hash draw for the fractional " +
        "epoch. Fixture folds the 20 sources into 5 domains with " +
        "1/5/14/35/45% doc-id mass so BOTH branches exercise " +
        "(REQUIREd: at least one capped and one uncapped domain, " +
        "budget spent exactly across allocs); corpus-side apply is a " +
        "broadcast join + narrow projection — only the domain table " +
        "ever sorts. Twin re-derives the waterfill and the reps rule " +
        "from the same CTE generators (Mixing.unimaxAllocSqlCtes)",
      (s, dir) => {
        import graft.operators.Mixing
        val m = col("doc_id") % 100
        val domain = when(m < 1, "d0").when(m < 6, "d1")
          .when(m < 20, "d2").when(m < 55, "d3").otherwise("d4")
        val docs = t(s, dir, "documents").select(col("doc_id"),
          domain.as("domain"), wsTokenCount(col("text")).as("n_tok"))
        // the domain-token table feeds the budget scalar AND the
        // waterfill — scratch the (5-row) table so the corpus
        // tokenize pass runs ONCE instead of once per consumer
        val dt = scratch(docs.groupBy(col("domain"))
          .agg(sum(col("n_tok")).cast("long").as("n_tok")), "x78_dt")
        val total = dt.agg(sum(col("n_tok"))).collect()(0).getLong(0)
        val alloc = scratch(Mixing.unimaxAllocate(dt, "domain", "n_tok",
          budgetTokens = total * 3 / 5, maxEpochs = 2.0), "x78_alloc")
        val audit = alloc.agg(
          sum(when(col("epochs") === 2.0, 1L).otherwise(0L)),
          sum(when(col("epochs") < 2.0, 1L).otherwise(0L)),
          sum(col("alloc"))).collect()(0)
        require(audit.getLong(0) >= 1 && audit.getLong(1) >= 1,
          s"fixture must exercise both waterfill branches: " +
            s"${audit.getLong(0)} capped / ${audit.getLong(1)} leveled")
        require(math.abs(audit.getDouble(2) - (total * 3 / 5)) < 1e-6,
          s"budget must be spent exactly: ${audit.getDouble(2)} vs " +
            s"${total * 3 / 5}")
        Mixing.unimaxApply(docs, "doc_id", "domain", alloc)
          .select(col("doc_id"), col("domain"), col("n_tok"),
            round(col("epochs"), 6).as("epochs_r"), col("reps"))
          .orderBy(col("doc_id"))
      },
      Some {
        import graft.operators.Mixing
        val ws = "string_split_regex(trim(text), '\\s+')"
        val budget =
          "(SELECT CAST(sum(n_tok) AS BIGINT) FROM dt) * 3 // 5"
        s"""WITH docs AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 100 < 1 THEN 'd0'
           |         WHEN doc_id % 100 < 6 THEN 'd1'
           |         WHEN doc_id % 100 < 20 THEN 'd2'
           |         WHEN doc_id % 100 < 55 THEN 'd3'
           |         ELSE 'd4' END AS domain,
           |    CAST(len($ws) AS BIGINT) AS n_tok
           |  FROM documents),
           |dt AS (
           |  SELECT domain, CAST(sum(n_tok) AS BIGINT) AS n_tok
           |  FROM docs GROUP BY 1),
           |${Mixing.unimaxAllocSqlCtes("dt", budget, 2.0, "um")}
           |SELECT d.doc_id, d.domain, d.n_tok,
           |  round(a.epochs, 6) AS epochs_r,
           |  ${Mixing.unimaxRepsSql("d.doc_id", "a.epochs")
                .replace("\n", "\n  ")} AS reps
           |FROM docs d JOIN um_alloc a USING (domain)
           |ORDER BY d.doc_id""".stripMargin
      }),

    QuerySpec("x79_hits_authority",
      "HITS hubs & authorities (Kleinberg 1999) — the second classic " +
        "link-centrality signal beside PageRank (x55/x73) for crawl " +
        "seed selection and frontier prioritization, where hub " +
        "quality (directory/index pages) and authority quality " +
        "(content pages) are distinct curation signals: 3 mutual-" +
        "reinforcement rounds over an asymmetric directed graph " +
        "(supplier→part edges plus back-edges for suppkey%3=0, so " +
        "cycles exist and hub/authority structure is non-trivial). " +
        "Each half-step MAX-normalizes (ranking-equivalent to " +
        "Kleinberg's L2 norm, but max is the one corpus-wide FP " +
        "reduction that is order-INdependent — and it keeps scores " +
        "in [0,1] where the 12-dp round is faithful; unnormalized " +
        "degree-scale sums measurably split the engines at 1e-6). " +
        "Every reduction is the two-phase from-then-shard sorted " +
        "fold (order-pinned cross-engine AND bounded under degree " +
        "skew), 12 dp per round, 6 dp published. Builder REQUIREs " +
        "truths: no-in-edge suppliers have authority exactly 0, " +
        "back-edges give some suppliers authority and some parts " +
        "hub mass",
      (s, dir) => {
        val sp = t(s, dir, "lineitem")
          .filter(col("l_partkey") <= 2000)
          .select(col("l_suppkey").cast("long").as("s"),
            (col("l_partkey").cast("long") + 1000000L).as("p"))
          .distinct()
        val edges = sp.select(col("s").as("src"), col("p").as("dst"))
          .unionByName(sp.filter(col("s") % 3 === 0)
            .select(col("p").as("src"), col("s").as("dst")))
        val out = scratch(graft.operators.Graph.hits(edges, iters = 3),
          "x79_out")
        val audit = out.agg(
          sum(when(col("id") < 1000000L && col("id") % 3 =!= 0 &&
            col("auth_r") =!= 0.0, 1L).otherwise(0L)),
          sum(when(col("id") < 1000000L && col("auth_r") > 0.0, 1L)
            .otherwise(0L)),
          sum(when(col("id") >= 1000000L && col("hub_r") > 0.0, 1L)
            .otherwise(0L))).collect()(0)
        require(audit.getLong(0) == 0L,
          s"${audit.getLong(0)} suppliers without in-edges got nonzero " +
            "authority")
        require(audit.getLong(1) > 0L && audit.getLong(2) > 0L,
          s"back-edges must create supplier authority " +
            s"(${audit.getLong(1)}) and part hub mass (${audit.getLong(2)})")
        out.orderBy(col("id"))
      },
      Some(graft.operators.Graph.hitsOracleSql(
        """WITH sp AS (
          |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
          |    CAST(l_partkey AS BIGINT) + 1000000 AS p
          |  FROM lineitem WHERE l_partkey <= 2000)
          |SELECT s AS src, p AS dst FROM sp
          |UNION ALL SELECT p AS src, s AS dst FROM sp
          |WHERE s % 3 = 0""".stripMargin,
        iters = 3) + "\nORDER BY id")),

    QuerySpec("x79b_hits_converged",
      "HITS with the PRODUCTION stopping rule — the same closure x73 " +
        "gave PageRank: full rounds (authority half-step, then hub " +
        "half-step) iterate until the combined L1 delta " +
        "sum|a_i-a_(i-1)| + sum|h_i-h_(i-1)| drops under tol, not a " +
        "fixed count (x79). The delta rides each round's " +
        "lineage-truncation job via observe() (no second pass); " +
        "both score vectors are lineage-truncated per round " +
        "(each feeds the next round twice). The oracle re-derives " +
        "the stop round independently: it unrolls maxIters rounds in " +
        "DuckDB (round CTEs MATERIALIZED — plain CTE inlining is " +
        "exponential in double-referenced rounds), recomputes every " +
        "round's delta against the h0=1/a0=0 start vectors, and " +
        "picks the first round under tol — a wrong Spark-side stop " +
        "diverges the hash through BOTH iters_run and the scores. " +
        "Measured round deltas on this fixture: sf0.01 runs " +
        "553.8, 266.8, 195.8, 25.4, 9.1, ... — tol 30 stops at " +
        "round 4 with margins 165.8 above / 4.6 below (sf0.001 " +
        "stops at 6, sf0.1 at 4, all inside the 7-round budget), " +
        "dwarfing the ~1e-12 ULP noise of the unordered delta sums",
      (s, dir) => {
        val sp = t(s, dir, "lineitem")
          .filter(col("l_partkey") <= 600)
          .select(col("l_suppkey").cast("long").as("s"),
            (col("l_partkey").cast("long") + 1000000L).as("p"))
          .distinct()
        val edges = sp.select(col("s").as("src"), col("p").as("dst"))
          .unionByName(sp.filter(col("s") % 3 === 0)
            .select(col("p").as("src"), col("s").as("dst")))
        val run = graft.operators.Graph.hitsConverged(edges,
          maxIters = 7, tol = 30.0)
        require(run.iters >= 1 && run.iters < 7,
          s"the L1 stopping rule must fire BEFORE the iteration budget " +
            s"(converged=${run.iters}, budget=7) — hitting the cap " +
            "means the entry no longer exercises convergence")
        require(run.l1Delta <= 30.0,
          s"converged run must end under tol, got ${run.l1Delta}")
        run.scores.withColumn("iters_run", lit(run.iters.toLong))
          .orderBy(col("id"))
      },
      Some(graft.operators.Graph.hitsConvergedOracleSql(
        """WITH sp AS (
          |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
          |    CAST(l_partkey AS BIGINT) + 1000000 AS p
          |  FROM lineitem WHERE l_partkey <= 600)
          |SELECT s AS src, p AS dst FROM sp
          |UNION ALL SELECT p AS src, s AS dst FROM sp
          |WHERE s % 3 = 0""".stripMargin,
        maxIters = 7, tol = 30.0))),

    QuerySpec("x80_bitext_margin_mining",
      "margin-based parallel-pair mining (Artetxe & Schwenk 2019 — " +
        "the CCMatrix/CCAligned method): for two embedding sets " +
        "(vec_id parity as the two languages), every source row " +
        "emits its best target by the RATIO margin cos/((avgF+avgB)" +
        "/2) — each side's mean top-4 cosine into the other corrects " +
        "the hubness that raw cosine mining suffers — plus a mutual " +
        "flag (pair is also the target's best: the paper's highest-" +
        "precision intersection strategy). Cosines are the same " +
        "codegen'd dot products the ANN family gates; top-k means " +
        "fold in rank order, margins round to 9 dp with id tiebreaks " +
        "before ranking; windows partition per side id, never " +
        "global. The all-pairs scoring here is the exact gate-SF " +
        "baseline — at corpus scale the scored frame swaps for IVF " +
        "candidates (x6d machinery) with identical downstream " +
        "margin/mutual logic. Builder REQUIREs one row per source " +
        "and a non-trivial mutual intersection",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val out = scratch(Similarity.bitextMarginMine(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4), "x80_out")
        val nSrc = emb.filter(col("vec_id") % 2 === 0).count()
        val audit = out.agg(count(lit(1)),
          sum(when(col("mutual"), 1L).otherwise(0L))).collect()(0)
        require(audit.getLong(0) == nSrc,
          s"one mined row per source: ${audit.getLong(0)} vs $nSrc")
        require(audit.getLong(1) >= 1 && audit.getLong(1) < nSrc,
          s"mutual intersection must be non-trivial and non-total: " +
            s"${audit.getLong(1)} of $nSrc")
        out.orderBy(col("src_id"))
      },
      Some(Similarity.bitextMarginOracleSql("embeddings", "vec_id",
        "embedding", 4, "vec_id % 2 = 0", "vec_id % 2 = 1") +
        "\nORDER BY src_id")),

    QuerySpec("x80b_bitext_margin_mining_ivf",
      "the AT-SCALE composed form of x80 — CCMatrix-scale bitext " +
        "mining over IVF CANDIDATES instead of all pairs: each " +
        "direction retrieves top-8 candidates through the capped IVF " +
        "server (per-side trained centroids, nProbes=2, " +
        "perCellCap=64 — candidates/query ≤ nProbes×cap by " +
        "construction, never |src|×|tgt|), the two directional " +
        "candidate sets union/dedup on the pair key, and the " +
        "IDENTICAL margin/mutual tail runs downstream. The oracle " +
        "re-derives BOTH retrievals inside DuckDB from the embedded " +
        "trained centroids (rank-filtered per query, capped cells, " +
        "probe equi-join) — gating the retrieval composition, not " +
        "just the tail. Builder REQUIREs: no nested-loop/cartesian " +
        "join anywhere in the plan (the all-pairs shape this form " +
        "exists to avoid), the per-query retrieval contract (≤ kCand " +
        "rows each direction) audited — the pre-rank scored bound is " +
        "structural and measured in SCALE.md — and non-empty " +
        "mining output",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val srcSide = emb.filter(col("vec_id") % 2 === 0)
        val tgtSide = emb.filter(col("vec_id") % 2 === 1)
        val srcCents = trainOnce(dir, "ivf-cents-bitext-src-4-2") {
          Similarity.ivfTrain(srcSide, "vec_id", "embedding",
            nCells = 4, iters = 2, tag = "bitext-src")
        }
        val tgtCents = trainOnce(dir, "ivf-cents-bitext-tgt-4-2") {
          Similarity.ivfTrain(tgtSide, "vec_id", "embedding",
            nCells = 4, iters = 2, tag = "bitext-tgt")
        }
        // candidate frames feed TWO consumers (the mining tail and
        // the retrieval-contract audit) — persist so the retrieval
        // executes once; the tail's eager materialization populates
        // the cache the audit then reads
        val fwd = Similarity.ivfTopKWithCapped(tgtSide, srcSide,
          "vec_id", "embedding", k = 8, tgtCents, nProbes = 2,
          perCellCap = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bwd = Similarity.ivfTopKWithCapped(srcSide, tgtSide,
          "vec_id", "embedding", k = 8, srcCents, nProbes = 2,
          perCellCap = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val mined = Similarity.bitextMarginMineWith(fwd, bwd, k = 4)
            .orderBy(col("src_id"))
          // plan contract: candidate retrieval + tail must be pure
          // hash/sort-merge joins — the composed form may never fall
          // back to the exact form's nested-loop all-pairs scoring
          val plan = mined.queryExecution.sparkPlan.toString
          require(!plan.contains("BroadcastNestedLoopJoin") &&
            !plan.contains("CartesianProduct"),
            s"composed bitext mining must not plan an all-pairs join:\n" +
              plan.linesIterator.take(40).mkString("\n"))
          // what an in-entry audit can honestly check is the RETRIEVAL
          // contract: ≤ kCand rows per query per direction (the frames
          // are already rank-filtered, so testing them against
          // nProbes×perCellCap would be vacuous). The pre-rank SCORED
          // bound — candidates/query ≤ nProbes×perCellCap — is
          // structural in ivfTopKWithCapped (cap applied before the
          // probe join) and is MEASURED against raw cell occupancy
          // at 1M×1M (SCALE.md "Composed bitext mining at corpus
          // shape": ≤64 vs 455k uncapped)
          val maxCand = fwd.groupBy(col("qid")).count()
            .unionByName(bwd.groupBy(col("qid")).count())
            .agg(max(col("count"))).collect()(0).getLong(0)
          require(maxCand <= 8L,
            s"retrieval must return at most kCand=8 rows/query, got $maxCand")
          val out = scratch(mined, "x80b_out")
          val n = out.count()
          require(n >= 1, "composed mining must emit at least one pair")
          out.orderBy(col("src_id"))
        } finally {
          fwd.unpersist(); bwd.unpersist()
        }
      },
      None,
      oracleGen = () => for {
        srcCents <- Similarity.trainedCentroids.get((4, 2, "bitext-src"))
        tgtCents <- Similarity.trainedCentroids.get((4, 2, "bitext-tgt"))
      } yield Similarity.bitextMarginMineWithOracleSql("embeddings",
        "vec_id", "embedding", k = 4, kCand = 8,
        "vec_id % 2 = 0", "vec_id % 2 = 1",
        srcCents, tgtCents, nProbes = 2, perCellCap = 64) +
        "\nORDER BY src_id"),

    QuerySpec("x80c_bitext_miner_recall",
      "RECALL gate for the composed miner — the answer to \"what does " +
        "the cap cost?\": runs x80's exact all-pairs miner as ground " +
        "truth and x80b's composed IVF form under a retrieval that " +
        "GENUINELY BINDS at every SF (nProbes=1 of 4 cells, " +
        "perCellCap=8 — unlike x80b's near-complete fixture " +
        "retrieval), and emits one row per source: the exact best " +
        "pair, the composed best pair (-1 when the source never " +
        "entered a candidate), the hit flag, and both mutual flags. " +
        "Every per-source hit/miss is pinned by the DuckDB twin, " +
        "which re-derives BOTH miners — the exact cross join and the " +
        "full centroid/probe/cap retrieval composition — so this " +
        "hash-gates one measured point of the recall-vs-cap curve " +
        "(the sweep lives in SCALE.md). " +
        "Centroids are the x80b memoized trains (same tags); builder " +
        "REQUIREs a non-empty hit set and at least one miss recorded " +
        "structurally (hit or comp_tgt=-1 accounting reconciles). " +
        "The exact ground-truth side is BOUNDED to a deterministic " +
        "md5-ordered sample of 200 sources (REQUIREd) so the gate " +
        "entry stays LINEAR in SF — unsampled, the exact cross join " +
        "is quadratic and a sf10 sweep would pay 10^8 scored pairs " +
        "for one gate point; the composed miner still runs over the " +
        "FULL source side, and the per-source hit/miss join " +
        "restricts to the sampled ground truth. Honesty note on what " +
        "the sampled truth IS: the exact ALGORITHM over the " +
        "(sample x targets) pair set — a target's backward top-k " +
        "mean (the margin denominator) sees only sampled sources, so " +
        "elections can differ from the full-corpus exact answer " +
        "restricted to the sample (sampling does not commute with " +
        "margin normalization). That is the standard sampled-truth " +
        "trade; the DuckDB twin re-derives the IDENTICAL quantity, " +
        "so the gate pins it exactly, and the UNSAMPLED truth is " +
        "still hash-gated by the sibling x80 at every gate SF",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val srcSide = emb.filter(col("vec_id") % 2 === 0)
        val tgtSide = emb.filter(col("vec_id") % 2 === 1)
        // deterministic, engine-reproducible sample: top-200 sources
        // by (60-bit md5 of the id, id) — the perCellHashKeep ordering
        // convention, TakeOrderedAndProject at any scale
        val nSample = 200
        val srcSample = srcSide
          .orderBy(graft.functions.HashFunctions
            .md5Hash60(col("vec_id").cast("string")), col("vec_id"))
          .limit(nSample)
        val srcCents = trainOnce(dir, "ivf-cents-bitext-src-4-2") {
          Similarity.ivfTrain(srcSide, "vec_id", "embedding",
            nCells = 4, iters = 2, tag = "bitext-src")
        }
        val tgtCents = trainOnce(dir, "ivf-cents-bitext-tgt-4-2") {
          Similarity.ivfTrain(tgtSide, "vec_id", "embedding",
            nCells = 4, iters = 2, tag = "bitext-tgt")
        }
        val fwd = Similarity.ivfTopKWithCapped(tgtSide, srcSide,
          "vec_id", "embedding", k = 8, tgtCents, nProbes = 1,
          perCellCap = 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bwd = Similarity.ivfTopKWithCapped(srcSide, tgtSide,
          "vec_id", "embedding", k = 8, srcCents, nProbes = 1,
          perCellCap = 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val comp = Similarity.bitextMarginMineWith(fwd, bwd, k = 4)
            .select(col("src_id"), col("tgt_id").as("comp_tgt"),
              col("mutual").as("comp_mutual"))
          val nS = srcSample.count()
          require(nS == math.min(nSample.toLong, srcSide.count()),
            s"ground-truth sample must hold min($nSample, |src|) " +
              s"rows, got $nS")
          val exact = Similarity.bitextMarginMine(srcSample, tgtSide,
              "vec_id", "embedding", k = 4)
            .select(col("src_id"), col("tgt_id").as("exact_tgt"),
              col("mutual").as("exact_mutual"))
          val out = scratch(exact.join(comp, Seq("src_id"), "left")
            .select(col("src_id"), col("exact_tgt"),
              coalesce(col("comp_tgt"), lit(-1L)).as("comp_tgt"),
              coalesce(col("comp_tgt") === col("exact_tgt"), lit(false))
                .as("hit"),
              col("exact_mutual"),
              coalesce(col("comp_mutual"), lit(false)).as("comp_mutual")),
            "x80c_out")
          val a = out.agg(count(lit(1)),
            sum(when(col("hit"), 1L).otherwise(0L))).collect()(0)
          require(a.getLong(0) >= 1 && a.getLong(1) >= 1,
            s"recall gate needs ground truth and at least one hit: $a")
          out.orderBy(col("src_id"))
        } finally {
          fwd.unpersist(); bwd.unpersist()
        }
      },
      None,
      oracleGen = () => for {
        srcCents <- Similarity.trainedCentroids.get((4, 2, "bitext-src"))
        tgtCents <- Similarity.trainedCentroids.get((4, 2, "bitext-tgt"))
      } yield {
        // twin of the Spark-side deterministic md5-ordered source
        // sample (cellCapOrderSql's 60-bit ordering convention)
        val srcSamplePred = "vec_id % 2 = 0 AND vec_id IN (" +
          "SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0 " +
          "ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, " +
          "15))::BIGINT, vec_id LIMIT 200)"
        val exactSql = Similarity.bitextMarginOracleSql("embeddings",
          "vec_id", "embedding", 4, srcSamplePred, "vec_id % 2 = 1")
        val compSql = Similarity.bitextMarginMineWithOracleSql(
          "embeddings", "vec_id", "embedding", k = 4, kCand = 8,
          "vec_id % 2 = 0", "vec_id % 2 = 1",
          srcCents, tgtCents, nProbes = 1, perCellCap = 8)
        s"""SELECT e.src_id, e.tgt_id AS exact_tgt,
           |  coalesce(c.tgt_id, -1) AS comp_tgt,
           |  coalesce(c.tgt_id = e.tgt_id, FALSE) AS hit,
           |  e.mutual AS exact_mutual,
           |  coalesce(c.mutual, FALSE) AS comp_mutual
           |FROM (
           |${exactSql}
           |) e LEFT JOIN (
           |${compSql}
           |) c ON e.src_id = c.src_id
           |ORDER BY e.src_id""".stripMargin
      }),

    QuerySpec("x81_streaming_wet_ingest",
      "STREAMING WET ingest — the crawl-delivery shape: new .wet " +
        "part files land in a directory and ingest incrementally " +
        "(file streaming source with the multi-byte lineSep scan, " +
        "maxFilesPerTrigger=2 over an 8-part dump, so the " +
        "availableNow run genuinely spans multiple micro-batches — " +
        "REQUIREd via the checkpoint's commit log). The parse is the " +
        "SAME codegen projection chain batch x76 gates (stateless, " +
        "so exactly-once falls out of the file source + checkpoint " +
        "alone — no state store), and the result must equal the " +
        "batch derivation: the DuckDB twin never sees the files OR " +
        "the stream, re-deriving every field from documents",
      (s, dir) => {
        import graft.sources.Warc
        val id = col("doc_id").cast("string")
        val fixture = t(s, dir, "documents").select(
          concat(lit("https://s"), id, lit(".example.test/d")).as("uri"),
          concat(lit("2024-01-0"), (col("doc_id") % 9 + 1).cast("string"),
            lit("T00:00:00Z")).as("dt"),
          concat(col("text"), lit(" — café №"), id).as("text"))
        val path = wetFixtureOnce(s,
            s"wet_stream_${new java.io.File(dir).getName}") { p =>
          Warc.writeWet(fixture.repartition(8), p, "uri", "dt", "text")
        }
        val parsed = Warc
          .readWetStream(s, path, maxFilesPerTrigger = Some(2))
          .select(col("uri"), col("content_length"),
            md5(col("text")).as("text_md5"), col("frame_ok"))
        val out = graft.streaming.Streams.runAvailableNowToDir(
          s, parsed, "x81_out")
        val commits = java.nio.file.Paths.get(
          graft.streaming.Streams.gateCheckpoint(s, "x81_out"), "commits")
        val nBatches = java.nio.file.Files.list(commits)
          .filter(p => !p.getFileName.toString.startsWith("."))
          .count()
        require(nBatches >= 3,
          s"rate limit must split the run into micro-batches, got " +
            s"$nBatches commits")
        out.orderBy(col("uri"))
      },
      Some("""WITH f AS (
             |  SELECT
             |    'https://s' || CAST(doc_id AS VARCHAR)
             |      || '.example.test/d' AS uri,
             |    text || ' — café №' || CAST(doc_id AS VARCHAR) AS text
             |  FROM documents)
             |SELECT uri, CAST(strlen(text) AS BIGINT) AS content_length,
             |  md5(text) AS text_md5, TRUE AS frame_ok
             |FROM f ORDER BY uri""".stripMargin)),

    QuerySpec("x82_frontier_assembly",
      "composed crawl-frontier assembly — the end-to-end pipeline a " +
        "crawler runs between URL discovery and fetch, every stage " +
        "one of this library's individually-gated operators: " +
        "canonicalize (x56/x67 machinery: case/port/www/tracking-" +
        "param normalization), registered-domain via the PRODUCTION " +
        "PSL broadcast-join (x72's withRegisteredDomain over a " +
        "parsePslFile fixture; BroadcastHashJoin REQUIREd), robots " +
        "permission gate (x74's bodies, broadcast-joined per domain " +
        "class), then per-registered-domain POLITENESS WAVES: allowed " +
        "URLs rank into fetch rounds so no domain is hit twice in a " +
        "wave — the frontier scheduling shape; the window partitions " +
        "by registered domain only, never global. The DuckDB twin is " +
        "cross-ALGORITHM on two stages: registered domain re-derives " +
        "through the per-rule CASE expression semantics (not a join) " +
        "and robots through the independent relational route. " +
        "Builder REQUIREs exactly 3 registered domains, a non-empty " +
        "deny set, and gap-free waves (max wave + 1 == allowed count " +
        "in EVERY domain)",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Web
        val rules = Web.parsePslFile(
          "// frontier fixture suffixes\ntest\nexample.test\n")
        val robots = x74RobotsBodies.toDF("kind", "body")
          .select(col("kind"),
            Web.robotsGroup(col("body"), "GraftBot").as("rules"))
        val id = col("doc_id").cast("string")
        val m = col("doc_id") % 8
        val path =
          when(m === 0, concat(lit("/docs/d"), id))
          .when(m === 1, concat(lit("/docs/public/p"), id))
          .when(m === 2, concat(lit("/files/f"), id, lit(".zip")))
          .when(m === 3, concat(lit("/files/f"), id, lit(".zipx")))
          .when(m === 4, concat(lit("/ti/x"), id))
          .when(m === 5, concat(lit("/private/ok/o"), id))
          .when(m === 6, concat(lit("/private/p"), id))
          .otherwise(concat(lit("/free/f"), id))
        val url = concat(lit("https://www.s"),
          (col("doc_id") % 40).cast("string"),
          lit(".shop"), (col("doc_id") % 3).cast("string"),
          lit(".example.test:443"), path,
          lit("?utm_source=x&id="), id)
        val base = t(s, dir, "documents").select(col("doc_id"),
            (col("doc_id") % 3).as("kind"), path.as("path"),
            Web.canonicalUrl(url).as("url_canon"),
            Web.canonicalHost(url).as("host"))
        val withRd = Web.withRegisteredDomain(base, "host", rules,
          "reg_domain")
        val gated = withRd.join(broadcast(robots), Seq("kind"))
          .select(col("doc_id"), col("url_canon"), col("reg_domain"),
            Web.robotsDecision(col("path"), col("rules"))
              .getField("allowed").as("allowed"))
        val plan = gated.queryExecution.sparkPlan.toString
        require(plan.contains("BroadcastHashJoin"),
          s"PSL rule match and robots must broadcast-join:\n$plan")
        val w = Window.partitionBy(col("reg_domain"), col("allowed"))
          .orderBy(col("doc_id"))
        val out = scratch(gated.withColumn("wave",
          when(col("allowed"), row_number().over(w).cast("long") - 1)
            .otherwise(lit(-1L))), "x82_out")
        // ONE grouped audit job over the scratch table instead of
        // three (domain count + gap check + deny count were three
        // separate jobs re-scanning the same written parquet)
        val audit = out.groupBy(col("reg_domain"), col("allowed"))
          .agg(max(col("wave")).as("mx"), count(lit(1)).as("n"))
          .collect()
        val allowedRows = audit.filter(_.getAs[Boolean]("allowed"))
        require(allowedRows.length == 3 &&
          allowedRows.forall(r =>
            r.getAs[Long]("mx") + 1 == r.getAs[Long]("n")),
          "waves must be gap-free across exactly 3 registered domains")
        val denied = audit.filter(!_.getAs[Boolean]("allowed"))
          .map(_.getAs[Long]("n")).sum
        require(denied > 0, "the robots gate must deny something")
        out.orderBy(col("doc_id"))
      },
      Some {
        import graft.operators.Web
        def sq(x: String): String = "'" + x.replace("'", "''") + "'"
        val bodies = x74RobotsBodies
          .map { case (k, b) => s"($k, ${sq(b)})" }.mkString(",\n    ")
        val lk = Web.robotsLikeSql("core", "endsd")
        val rd = Web.registeredDomainSql("host",
          Seq("test", "example.test")).replace("\n", "\n  ")
        s"""WITH robots(kind, body) AS (VALUES
           |    $bodies),
           |${Web.robotsRulesSqlCtes("robots", "GraftBot", "rr")},
           |docs AS (
           |  SELECT doc_id, doc_id % 3 AS kind,
           |    CASE doc_id % 8
           |      WHEN 0 THEN '/docs/d' || CAST(doc_id AS VARCHAR)
           |      WHEN 1 THEN '/docs/public/p' || CAST(doc_id AS VARCHAR)
           |      WHEN 2 THEN '/files/f' || CAST(doc_id AS VARCHAR)
           |        || '.zip'
           |      WHEN 3 THEN '/files/f' || CAST(doc_id AS VARCHAR)
           |        || '.zipx'
           |      WHEN 4 THEN '/ti/x' || CAST(doc_id AS VARCHAR)
           |      WHEN 5 THEN '/private/ok/o' || CAST(doc_id AS VARCHAR)
           |      WHEN 6 THEN '/private/p' || CAST(doc_id AS VARCHAR)
           |      ELSE '/free/f' || CAST(doc_id AS VARCHAR)
           |    END AS path
           |  FROM documents),
           |u AS (
           |  SELECT doc_id, kind, path,
           |    'https://www.s' || CAST(doc_id % 40 AS VARCHAR)
           |      || '.shop' || CAST(doc_id % 3 AS VARCHAR)
           |      || '.example.test:443' || path
           |      || '?utm_source=x&id=' || CAST(doc_id AS VARCHAR)
           |      AS url
           |  FROM docs),
           |c AS (
           |  SELECT doc_id, kind, path,
           |    ${Web.canonicalUrlSql("url").replace("\n", "\n    ")}
           |      AS url_canon,
           |    ${Web.canonicalHostSql("url").replace("\n", "\n    ")}
           |      AS host
           |  FROM u),
           |r AS (
           |  SELECT doc_id, kind, path, url_canon,
           |    $rd AS reg_domain
           |  FROM c),
           |cand AS (
           |  SELECT d.doc_id, d.path, r2.p, r2.a,
           |    CASE WHEN r2.p LIKE '%$$' THEN substr(r2.p, 1,
           |      length(r2.p) - 1) ELSE r2.p END AS core,
           |    (r2.p LIKE '%$$') AS endsd
           |  FROM r d JOIN rr r2 ON d.kind = r2.kind),
           |win AS (
           |  SELECT doc_id, p, a,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY length(p) DESC, CAST(a AS INT) DESC, p DESC)
           |      AS rn
           |  FROM cand WHERE path LIKE $lk ESCAPE '\\'),
           |best AS (SELECT doc_id, a FROM win WHERE rn = 1),
           |gated AS (
           |  SELECT r.doc_id, r.url_canon, r.reg_domain,
           |    coalesce(b.a, TRUE) AS allowed
           |  FROM r LEFT JOIN best b ON r.doc_id = b.doc_id),
           |wv AS (
           |  SELECT doc_id, url_canon, reg_domain, allowed,
           |    CAST(CASE WHEN allowed THEN row_number() OVER (
           |      PARTITION BY reg_domain, allowed ORDER BY doc_id) - 1
           |      ELSE -1 END AS BIGINT) AS wave
           |  FROM gated)
           |SELECT doc_id, url_canon, reg_domain, allowed, wave
           |FROM wv ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("x83_invisible_scrub",
      "invisible/control-character scrub — the hygiene stage between " +
        "mojibake repair (x58) and NFC (x60): C0 controls + DEL " +
        "(binary contamination), the C1 block (mojibake residue), " +
        "zero-width joints (ZWSP/ZWNJ/ZWJ/BOM/soft-hyphen — they " +
        "split tokens and poison dedup keys invisibly), and bidi " +
        "embeddings/overrides/isolates (the Trojan-Source class: " +
        "text that renders differently than it parses — scrubbing " +
        "training data is a supply-chain guard). One shared pattern " +
        "table drives the Spark chain, the DuckDB twin, and the " +
        "audit counts, so the classes cannot drift; the scrub is a " +
        "pure codegen'd regexp projection, zero shuffle. Fixture " +
        "injects each class on a doc_id%4 rotation (source stays " +
        "ASCII: Scala unicode escapes / DuckDB chr()); builder " +
        "REQUIREs every class detected in exactly its rotation's " +
        "docs and the scrubbed text free of ALL classes",
      (s, dir) => {
        val m = col("doc_id") % 4
        // unicode ESCAPES, not raw bytes: the source file must stay
        // ASCII-greppable (the x58/TopBigramFraction lesson)
        val inj = when(m === 0, lit("\u0001ctl\u007F"))
          .when(m === 1, lit("\u0085cone\u009C"))
          .when(m === 2, lit("\u200Bzw\uFEFF\u00AD"))
          .otherwise(lit("\u202Ebidi\u2066"))
        val dirty = t(s, dir, "documents")
          .select(col("doc_id"), concat(col("text"), inj).as("text"))
        val out = scratch(dirty.select(
          (col("doc_id") +: (graft.operators.Corpus
            .invisibleCounts(col("text")) :+
            graft.operators.Corpus.scrubInvisible(col("text"))
              .as("text_clean"))): _*), "x83_out")
        val audit = out.agg(
          sum(col("n_controls")), sum(col("n_c1")),
          sum(col("n_zerowidth")), sum(col("n_bidi")),
          count(lit(1)),
          sum(when(col("doc_id") % 4 === 0 &&
            col("n_controls") =!= 2, 1L).otherwise(0L)),
          // the residue check rides the SAME audit job (was a second
          // filter+count pass over the scratch table)
          sum(when(graft.operators.Corpus
            .invisibleCounts(col("text_clean"))
            .map(_ > 0L).reduce(_ || _), 1L).otherwise(0L))).collect()(0)
        val n = audit.getLong(4)
        val per = Seq(0L, 1L, 2L, 3L).map(r =>
          (n + 3 - r) / 4) // docs with doc_id % 4 == r for ids 0..n-1
        require(audit.getLong(0) == 2 * per(0) &&
          audit.getLong(1) == 2 * per(1) &&
          audit.getLong(2) == 3 * per(2) &&
          audit.getLong(3) == 2 * per(3),
          s"class counts must match the injection rotation: $audit")
        require(audit.getLong(5) == 0,
          "every %4==0 doc must count exactly its injected controls")
        val residue = audit.getLong(6)
        require(residue == 0, s"$residue docs kept invisible chars")
        out.orderBy(col("doc_id"))
      },
      Some {
        import graft.operators.Corpus
        val counts = Corpus.invisibleCountsSql("text")
          .mkString(",\n  ")
        s"""WITH dirty AS (
           |  SELECT doc_id, text ||
           |    CASE CAST(doc_id % 4 AS INT)
           |      WHEN 0 THEN chr(1) || 'ctl' || chr(127)
           |      WHEN 1 THEN chr(133) || 'cone' || chr(156)
           |      WHEN 2 THEN chr(8203) || 'zw' || chr(65279)
           |        || chr(173)
           |      ELSE chr(8238) || 'bidi' || chr(8294)
           |    END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  $counts,
           |  ${Corpus.scrubInvisibleSql("text")} AS text_clean
           |FROM dirty ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("x84_fim_transform",
      "fill-in-the-middle transformation (Bavarian et al. 2022): " +
        "each document splits at two namespaced-id-hash cut points " +
        "and reorders as PSM <PRE>p<SUF>s<MID>m or SPM (hash-chosen " +
        "~50/50) — the data-side op that teaches a causal LM to " +
        "infill, applied to ~half of code corpora at pretraining " +
        "time; sub-minChars documents pass through as mode 'none'. " +
        "Derandomized like every draw in this library (cuts stable " +
        "across runs/engines/re-shards); a pure narrow projection — " +
        "text never shuffles. Builder REQUIREs all three modes " +
        "present, cut sanity (1 <= c1 <= c2 < len), and LOSSLESSNESS: " +
        "re-parsing every emitted fim_text through the sentinel " +
        "regex and reassembling pre+mid+suf must reproduce the " +
        "original text exactly",
      (s, dir) => {
        import graft.operators.Packing
        val fixture = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 97 === 5, "tiny doc")
            .otherwise(col("text")).as("text"))
        val out = scratch(
          Packing.fimTransform(fixture, "doc_id", "text"), "x84_out")
        val modes = out.groupBy(col("mode")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        require(Set("psm", "spm", "none").subsetOf(modes.keySet),
          s"all three modes must appear, got $modes")
        // losslessness: reassemble from the emitted string alone
        val re = "(?s)^<PRE>(.*)<SUF>(.*)<MID>(.*)$"
        val reSpm = "(?s)^<SUF>(.*)<PRE>(.*)<MID>(.*)$"
        val rebuilt = when(col("mode") === "psm",
          concat(regexp_extract(col("fim_text"), re, 1),
            regexp_extract(col("fim_text"), re, 3),
            regexp_extract(col("fim_text"), re, 2)))
          .when(col("mode") === "spm",
            concat(regexp_extract(col("fim_text"), reSpm, 2),
              regexp_extract(col("fim_text"), reSpm, 3),
              regexp_extract(col("fim_text"), reSpm, 1)))
          .otherwise(col("fim_text"))
        val bad = out.join(fixture, Seq("doc_id"))
          .filter(rebuilt =!= col("text") ||
            (col("mode") =!= "none" &&
              !(col("c1") >= 1 && col("c1") <= col("c2") &&
                col("c2") < length(col("text")))))
          .count()
        require(bad == 0, s"$bad rows failed FIM losslessness/cut sanity")
        out.orderBy(col("doc_id"))
      },
      Some(graft.operators.Packing.fimTransformSql(
        "documents", "doc_id",
        "CASE WHEN doc_id % 97 = 5 THEN 'tiny doc' ELSE text END") +
        "\nORDER BY doc_id")),

    QuerySpec("x85_calibration_bins",
      "reliability-diagram calibration bins (the terms of Guo et al. " +
        "2017's ECE) for a classifier-spread blend of the x9 quality " +
        "score (the fixture's scores concentrate in two deciles; a " +
        "namespaced-hash blend restores a realistic distribution) " +
        "against an 'is English' label — the audit run before a " +
        "quality filter's threshold " +
        "is trusted: per equal-width bin, count, positives, mean " +
        "CONFIDENCE vs empirical ACCURACY, and their gap. The only " +
        "floating sum (per-bin mean score) goes through an exact " +
        "DECIMAL(18,6) sum of 6-dp-rounded scores — order-" +
        "independent, map-side partial, a million-row bin folds as " +
        "decimal partials, NO collect_list — cast to DOUBLE only at " +
        "the boundary (the catalog's money convention applied to " +
        "probabilities); accuracy is an integer ratio. Builder " +
        "REQUIREs bin totals reconciling with the corpus, bins in " +
        "range, and a sane weighted gap (the ECE) in [0,1]",
      (s, dir) => {
        import graft.functions.HashFunctions.md5Hash60
        // the word-soup fixture's x9 scores concentrate in two
        // deciles; blend in a namespaced-hash spread so the bins
        // behave like a real classifier's score distribution (the
        // calibration MECHANISM is what the gate verifies)
        val scored = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"),
            wsTokens(col("text")).as("toks"))
          .select(col("doc_id"),
            (TextAnalysis.qualityScoreFromTokens(col("text"), col("toks"))
              * 0.5 +
              (md5Hash60(concat(lit("cal:"), col("doc_id").cast("string")))
                % 1000).cast("double") / 1999.0).as("p"),
            (col("lang") === "en").as("lab"))
        val out = scratch(
          graft.operators.Stats.calibrationBins(scored, "p", "lab"),
          "x85_out")
        val nDocs = t(s, dir, "documents").count()
        val audit = out.agg(sum(col("n")), min(col("bin")),
          max(col("bin")), count(lit(1)),
          (sum(col("gap_r") * col("n")) / sum(col("n"))).as("ece"))
          .collect()(0)
        require(audit.getLong(0) == nDocs,
          s"bin totals ${audit.getLong(0)} != corpus $nDocs")
        require(audit.getLong(1) >= 0 && audit.getLong(2) <= 9,
          s"bins out of range: ${audit.getLong(1)}..${audit.getLong(2)}")
        require(audit.getLong(3) >= 3,
          s"fixture must populate >= 3 bins, got ${audit.getLong(3)}")
        val ece = audit.getDouble(4)
        require(ece >= 0 && ece <= 1, s"ECE out of [0,1]: $ece")
        out.orderBy(col("bin"))
      },
      Some(graft.operators.Stats.calibrationBinsOracleSql(
        "documents",
        s"($duckQuality) * 0.5 + CAST(('0x' || substr(md5('cal:' || " +
          "CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS DOUBLE)" +
          " / 1999.0",
        "lang = 'en'") + "\nORDER BY bin")),

    QuerySpec("x86_sentence_segmentation",
      "sentence segmentation — the splitter under sentence-level " +
        "dedup and context chunking: terminator [.!?] + whitespace " +
        "ends a sentence, trailing fragment included; deliberately " +
        "the RE2-portable heuristic (no lookbehind — RE2 has none; " +
        "no abbreviation dictionary, and the doc says so) via a " +
        "boundary rewrite to a U+001F marker + split + empty-drop — " +
        "a pure in-row projection chain, zero shuffle before the " +
        "explode. Fixture wraps each document in three terminated " +
        "sentences plus the word-soup tail; builder REQUIREs exactly " +
        "4 sentences per document and terminators retained at " +
        "sentence ends",
      (s, dir) => {
        val id = col("doc_id").cast("string")
        val fixture = t(s, dir, "documents").select(col("doc_id"),
          concat(lit("First fact about doc "), id,
            lit(". Second claim stands here! Is it really doc "), id,
            lit("? Tail fragment "), col("text")).as("t"))
        val out = scratch(fixture
          .select(col("doc_id"),
            posexplode(TextAnalysis.splitSentences(col("t")))
              .as(Seq("sent_id", "sentence")))
          .select(col("doc_id"), col("sent_id").cast("long").as("sent_id"),
            col("sentence"),
            length(col("sentence")).cast("long").as("n_chars")),
          "x86_out")
        val audit = out.groupBy(col("doc_id")).agg(
          count(lit(1)).as("ns"),
          sum(when(col("sent_id") === 0 &&
            col("sentence").endsWith("."), 1L).otherwise(0L)).as("dot"),
          sum(when(col("sent_id") === 1 &&
            col("sentence").endsWith("!"), 1L).otherwise(0L)).as("bang"))
          .agg(sum(when(col("ns") =!= 4, 1L).otherwise(0L)),
            sum(col("dot")), sum(col("bang")), count(lit(1))).collect()(0)
        require(audit.getLong(0) == 0,
          s"${audit.getLong(0)} docs did not split into 4 sentences")
        require(audit.getLong(1) == audit.getLong(3) &&
          audit.getLong(2) == audit.getLong(3),
          "terminators must be retained at sentence ends")
        out.orderBy(col("doc_id"), col("sent_id"))
      },
      Some {
        val sents = TextAnalysis.splitSentencesSql("t")
        s"""WITH f AS (
           |  SELECT doc_id,
           |    'First fact about doc ' || CAST(doc_id AS VARCHAR)
           |    || '. Second claim stands here! Is it really doc '
           |    || CAST(doc_id AS VARCHAR) || '? Tail fragment ' || text
           |      AS t
           |  FROM documents),
           |ls AS (SELECT doc_id, $sents AS ss FROM f),
           |p AS (
           |  SELECT doc_id, unnest(range(0, len(ss))) AS sent_id,
           |    unnest(ss) AS sentence
           |  FROM ls)
           |SELECT doc_id, CAST(sent_id AS BIGINT) AS sent_id, sentence,
           |  CAST(length(sentence) AS BIGINT) AS n_chars
           |FROM p ORDER BY doc_id, sent_id""".stripMargin
      }),

    QuerySpec("x87_span_corruption",
      "T5-style span corruption (Raffel et al. 2020) — the denoising-" +
        "objective data builder: tokens partition into 6-token " +
        "blocks, each corrupts at 15% under a namespaced id+block " +
        "hash (derandomized: a document's corruption is identical " +
        "across runs/engines/re-shards), the INPUT replaces corrupted " +
        "blocks with consecutive <extra_id_K> sentinels and the " +
        "TARGET pairs each sentinel with its span. One in-row HOF " +
        "chain over the token array — narrow, zero shuffle. Builder " +
        "REQUIREs exact token conservation (tokens(input) + " +
        "tokens(target) == tokens(doc) + 2·n_corr, summed corpus-" +
        "wide) and the global corruption rate inside [5%, 25%]",
      (s, dir) => {
        import graft.operators.Packing
        val out = scratch(
          Packing.spanCorrupt(t(s, dir, "documents"), "doc_id", "text"),
          "x87_out")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), wsTokenCount(col("text")).as("n_tok"))
        val audit = out.join(docs, Seq("doc_id")).agg(
          sum(wsTokenCount(col("input")) +
            when(col("target") === "", 0L)
              .otherwise(wsTokenCount(col("target")))).as("lhs"),
          sum(col("n_tok") + col("n_corr") * 2).as("rhs"),
          sum(col("n_corr")), sum(col("n_blocks"))).collect()(0)
        require(audit.getLong(0) == audit.getLong(1),
          s"token conservation failed: ${audit.getLong(0)} vs " +
            s"${audit.getLong(1)}")
        val rate = audit.getLong(2).toDouble / audit.getLong(3)
        require(rate > 0.05 && rate < 0.25,
          s"corruption rate $rate outside the sane band")
        out.orderBy(col("doc_id"))
      },
      Some(graft.operators.Packing.spanCorruptSql(
        "documents", "doc_id", "text") + "\nORDER BY doc_id")),

    QuerySpec("x88_retrieval_eval",
      "per-query MRR@10 and nDCG@10 (Järvelin & Kekäläinen 2002) for " +
        "two BM25 runs against graded term-containment relevance " +
        "labels — the eval loop every retrieval stage (x36/x36b, the " +
        "ANN family) is tuned by, as a first-class gated operator. " +
        "Gains are exponential 2^rel−1 computed EXACTLY by integer " +
        "shift; discounts use ln — any log base cancels in the nDCG " +
        "ratio and ln is the one log the fold entries already agree " +
        "on (the x44 contract); DCG and ideal DCG fold in rank order " +
        "over at most k terms (never a corpus-scale list), the ideal " +
        "ranking is a query-partitioned window, MRR a single exact " +
        "division. Builder REQUIREs both queries present with full " +
        "rank lists and metrics in (0, 1]",
      (s, dir) => {
        val queries = Seq(
          ("q1", Seq("spark", "window", "merge")),
          ("q2", Seq("customer", "table", "join")))
        val docs = t(s, dir, "documents")
        val ranked = queries.map { case (q, terms) =>
          Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 20)
            .withColumn("qid", lit(q))
            .withColumn("rank", row_number().over(Window
              .partitionBy(col("qid"))
              .orderBy(col("score_r").desc, col("doc_id"))).cast("long"))
            .select(col("qid"), col("doc_id"), col("rank"))
        }.reduce(_.unionByName(_))
        val rels = queries.map { case (q, terms) =>
          docs.select(lit(q).as("qid"), col("doc_id"),
            terms.map(term =>
              when(col("text").contains(term), 1).otherwise(0))
              .reduce(_ + _).as("rel"))
        }.reduce(_.unionByName(_)).filter(col("rel") > 0)
        val out = scratch(Retrieval.rankingEval(ranked, rels,
          "qid", "doc_id", "rank", "rel", k = 10), "x88_out")
        val audit = out.agg(count(lit(1)),
          sum(when(col("n_ranked") =!= 10, 1L).otherwise(0L)),
          min(col("mrr_r")), max(col("mrr_r")),
          min(col("ndcg_r")), max(col("ndcg_r"))).collect()(0)
        require(audit.getLong(0) == 2 && audit.getLong(1) == 0,
          s"two full-rank-list queries expected: $audit")
        require(audit.getDouble(2) > 0 && audit.getDouble(3) <= 1.0 &&
          audit.getDouble(4) > 0 && audit.getDouble(5) <= 1.0 + 1e-9,
          s"metrics out of (0,1]: $audit")
        out.orderBy(col("qid"))
      },
      Some {
        def leg(q: String, terms: Seq[String]): String = {
          val inner = Retrieval.bm25OracleSql("documents", "doc_id",
            "text", terms, k = 20).replace("\n", "\n  ")
          s"""${q}_raw AS (
             |  $inner),
             |${q}_rk AS (
             |  SELECT '$q' AS qid, doc_id,
             |    CAST(row_number() OVER (ORDER BY score_r DESC, doc_id)
             |      AS BIGINT) AS rank
             |  FROM ${q}_raw)""".stripMargin
        }
        def relLeg(q: String, terms: Seq[String]): String = {
          val relExpr = terms.map(term =>
            s"CASE WHEN contains(text, '$term') THEN 1 ELSE 0 END")
            .mkString(" + ")
          s"SELECT '$q' AS qid, doc_id, $relExpr AS rel FROM documents"
        }
        s"""WITH ${leg("q1", Seq("spark", "window", "merge"))},
           |${leg("q2", Seq("customer", "table", "join"))},
           |ranked AS (
           |  SELECT * FROM q1_rk UNION ALL SELECT * FROM q2_rk),
           |rels AS (
           |  SELECT * FROM (
           |    ${relLeg("q1", Seq("spark", "window", "merge"))}
           |    UNION ALL
           |    ${relLeg("q2", Seq("customer", "table", "join"))})
           |  WHERE rel > 0),
           |${Retrieval.rankingEvalSql("ranked", "rels", "qid", "doc_id",
              "rank", "rel", k = 10)}
           |ORDER BY qid""".stripMargin
      }),

    QuerySpec("x89_token_kl_shift",
      "token-level KL divergence between a corpus slice and the rest " +
        "— the drift / domain-shift quantifier run when a new source " +
        "lands or a crawl refreshes (and the distribution half of " +
        "DSIR's importance ratio, x77, read as a diagnostic): add-0.5 " +
        "smoothed unigram distributions on the UNION vocabulary (both " +
        "normalize to exactly 1; no zero division), output the PER-" +
        "TOKEN contribution table — the artifact an engineer reads " +
        "for WHICH tokens drive the shift; the scalar KL is one sum " +
        "away and deliberately stays out of the hashed output (a " +
        "corpus-wide float fold is the one thing this catalog never " +
        "hashes). One tokenize pass + one token-keyed count aggregate " +
        "+ a 1-row totals broadcast; probabilities are per-row " +
        "projections of exact integer counts. Builder REQUIREs both " +
        "distributions to sum to 1 (1e-9) and KL >= 0 (Gibbs), " +
        "computed as audits",
      (s, dir) => {
        val out = scratch(LanguageModel.tokenKlContributions(
          t(s, dir, "documents"), "text", "lang = 'zh'"), "x89_out")
        val audit = out.agg(sum(col("p_r")), sum(col("q_r")),
          sum(col("contrib_r")), count(lit(1))).collect()(0)
        require(math.abs(audit.getDouble(0) - 1.0) < 1e-6 &&
          math.abs(audit.getDouble(1) - 1.0) < 1e-6,
          s"smoothed distributions must normalize: $audit")
        require(audit.getDouble(2) >= -1e-9,
          s"KL must be non-negative (Gibbs): ${audit.getDouble(2)}")
        require(audit.getLong(3) > 10, "union vocabulary too small")
        out.orderBy(col("token"))
      },
      Some(LanguageModel.tokenKlOracleSql(
        "documents", "text", "lang = 'zh'") + "\nORDER BY token")),

    QuerySpec("x90_corpus_build_pipeline",
      "composed corpus-build pipeline — the end-to-end text-side " +
        "flagship, the x82 treatment for curation: ONE entry chains " +
        "WET ingest (x76 framing) → invisible-char scrub (x83) → " +
        "corpus-wide paragraph dedup (x75) → classifier quality " +
        "scoring (x34/x43) → token-budget selection at half the " +
        "post-dedup corpus (x43) → fixed-budget sequence packing " +
        "(x23), with every stage's counts REQUIREd to reconcile: " +
        "records in == docs out at ingest with frame_ok everywhere, " +
        "injected invisibles present before the scrub and zero " +
        "after, the shared cookie banner surviving exactly once " +
        "corpus-wide, kept+dropped == total at selection with the " +
        "kept prefix inside budget and the first loser outside. The " +
        "DuckDB twin re-derives all six stages from the documents " +
        "table (it never sees the WET files), taking the " +
        "CROSS-ALGORITHM route for dedup (string-keyed row_number, " +
        "not fingerprint election) and the one-line window " +
        "formulations for selection/packing (vs Spark's distributed " +
        "two-phase prefix sums) — composition-level hash gating, " +
        "not same-shape twinning",
      (s, dir) => {
        import graft.sources.Warc
        import graft.operators.Packing
        val id = col("doc_id").cast("string")
        // boilerplate carrying invisible chars (zero-width space,
        // soft hyphen, BOM) that scrub must remove BEFORE dedup keys
        // are computed; the banner is corpus-global, the promo line
        // has 7 classes (x75's shapes), the body line is per-doc
        val banner = lit("Cookie\u200B Notice: this site\u00AD uses cookies")
        val promo = concat(lit("Promo\uFEFF block "),
          lit("abcdefg").substr((col("doc_id") % 7 + 1).cast("int"),
            lit(1)))
        val raw = concat_ws("\n", banner,
          concat(lit("doc "), id, lit(" "), col("text")), promo)
        val fixture = t(s, dir, "documents").select(
          concat(lit("https://d"), id, lit(".example.test/p")).as("uri"),
          concat(lit("2024-02-0"), (col("doc_id") % 9 + 1).cast("string"),
            lit("T00:00:00Z")).as("dt"),
          raw.as("text"))
        val nDocs = t(s, dir, "documents").count()
        val path = wetFixtureOnce(s,
            s"x90_wet_${new java.io.File(dir).getName}") { p =>
          Warc.writeWet(fixture.repartition(4), p, "uri", "dt", "text")
        }
        // stage 1: WET ingest — framing must be byte-exact. Each
        // stage's audit scalars ride the stage's scratch write via
        // observe() — one job per stage instead of write + a separate
        // collect pass (guide §1.2; the x19/x73 observe pattern
        // applied to entry audits).
        val wetObs = new org.apache.spark.sql.Observation()
        val wet = scratch(Warc.readWet(s, path)
          .select(col("uri"), col("text"), col("frame_ok"))
          .observe(wetObs, count(lit(1)).as("n"),
            sum0(when(col("frame_ok"), 1L).otherwise(0L)).as("ok"),
            sum0(regexp_count(col("text"), lit("[\u200B\u00AD\uFEFF]")))
              .as("inv")), "x90_wet")
        val Seq(wetN, wetOk, wetInv) =
          observedLongs(wetObs, "n", "ok", "inv")
        require(wetN == nDocs && wetOk == nDocs,
          s"ingest must frame all $nDocs records: $wetN framed, $wetOk ok")
        require(wetInv >= 3 * nDocs,
          s"fixture must carry invisibles into the scrub: $wetInv")
        // stage 2: scrub
        val scrubObs = new org.apache.spark.sql.Observation()
        val scrubbed = scratch(wet.select(
          regexp_extract(col("uri"), "https://d([0-9]+)\\.", 1)
            .cast("long").as("doc_id"),
          Corpus.scrubInvisible(col("text")).as("text"))
          .observe(scrubObs,
            sum0(regexp_count(col("text"), lit("[\u200B\u00AD\uFEFF]")))
              .as("inv")), "x90_scrub")
        val Seq(remInv) = observedLongs(scrubObs, "inv")
        require(remInv == 0L, s"scrub must remove every invisible: $remInv")
        // stage 3: corpus-wide paragraph dedup
        val dObs = new org.apache.spark.sql.Observation()
        val dedup = scratch(
          Corpus.paragraphDedup(scrubbed, "doc_id", "text")
            .observe(dObs, count(lit(1)).as("n"),
              sum0(when(col("text_dedup")
                .startsWith("Cookie Notice"), 1L).otherwise(0L)).as("ban"),
              sum0(col("n_kept")).as("kept"),
              sum0(col("n_paras")).as("paras")), "x90_dedup")
        val Seq(dN, dBan, dKept, dParas) =
          observedLongs(dObs, "n", "ban", "kept", "paras")
        require(dN == nDocs,
          "dedup must emit every document")
        require(dBan == 1L,
          s"scrubbed banner must survive exactly once, got $dBan")
        require(dKept < dParas,
          "dedup must drop at least one paragraph corpus-wide")
        // stages 4+5: quality scoring and budget selection at half
        // the post-dedup token mass (scale-relative, so the boundary
        // is non-trivial at every SF)
        // scored feeds the budget scalar AND the selection — scratch
        // it so the tokenize+margin pass runs ONCE, the token total
        // riding the write (the stage-1/2/3 observe pattern; the
        // budget is needed BEFORE building the selection, so it
        // cannot ride the selection's own write)
        val scoredObs = new org.apache.spark.sql.Observation()
        val scored = scratch(dedup.select(col("doc_id"),
            col("text_dedup").as("text"))
          .select(col("doc_id"), wsTokens(col("text")).as("__tk"),
            col("text"))
          .select(col("doc_id"),
            round(TextAnalysis.classifierMargin(col("text"), col("__tk")),
              6).as("margin_r"),
            size(col("__tk")).cast("long").as("n_tok"))
          .observe(scoredObs, sum0(col("n_tok")).as("tot")), "x90_scored")
        val Seq(totTok) = observedLongs(scoredObs, "tot")
        val budget = totTok / 2
        val selObs = new org.apache.spark.sql.Observation()
        val sel = scratch(Corpus.budgetSelect(scored, "doc_id",
          "margin_r", "n_tok", budget)
          .observe(selObs, count(lit(1)).as("n"),
            sum0(when(col("keep"), 1L).otherwise(0L)).as("kept"),
            // an empty side reads as its identity: no kept row sits
            // past the budget, no loser sits inside it
            coalesce(max(when(col("keep"), col("cum_tok"))),
              lit(Long.MinValue)).as("keptMax"),
            coalesce(min(when(!col("keep"), col("cum_tok"))),
              lit(Long.MaxValue)).as("loserMin")),
          "x90_sel")
        val Seq(sN, sKept, sKeptMax, sLoserMin) =
          observedLongs(selObs, "n", "kept", "keptMax", "loserMin")
        require(sN == nDocs,
          "selection must emit every document (losers auditable)")
        require(sKept >= 1 && sKept < nDocs,
          s"half-mass budget must keep a strict subset: $sKept of $sN")
        require(sKeptMax <= budget,
          s"kept prefix must fit the budget: $sKeptMax > $budget")
        require(sLoserMin > budget,
          s"first loser must sit past the budget: $sLoserMin")
        // stage 6: pack the kept docs into 512-token shards
        val packs = Packing.assignPacks(
          sel.filter(col("keep")).select(col("doc_id"), col("n_tok")),
          "doc_id", "n_tok", budget = 512L)
        sel
          .join(dedup.select(col("doc_id"), col("n_paras"),
            col("n_kept")), Seq("doc_id"))
          .join(packs.select(col("doc_id"), col("pack_id")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_paras"), col("n_kept"),
            col("margin_r"), col("n_tok"), col("cum_tok"), col("keep"),
            coalesce(col("pack_id"), lit(-1L)).as("pack_id"))
          .orderBy(col("doc_id"))
      },
      Some {
        val margin =
          s"-1.2 + (CAST($duckSwCount AS DOUBLE) / $duckNTok) * 2.0 + " +
            s"($duckAlpha) * 1.5 + " +
            s"(CASE WHEN $duckMeanLen >= 3 AND $duckMeanLen <= 10 " +
            "THEN 0.8 ELSE 0.0 END) + " +
            s"CAST(least($duckNTok, 400) AS DOUBLE) / 400.0 * 0.5"
        // \u escapes only reliably process in single-quoted literals \u2014
        // hoist the invisible-char fragments out of the template
        val bannerSql =
          "'Cookie\u200B Notice: this site\u00AD uses cookies'"
        val promoSql = "'Promo\uFEFF block '"
        s"""WITH f AS (
           |  SELECT doc_id,
           |    $bannerSql
           |    || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR)
           |      || ' ' || text
           |    || chr(10) || $promoSql
           |      || substr('abcdefg', CAST(doc_id % 7 AS INT) + 1, 1)
           |      AS raw
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id, ${Corpus.scrubInvisibleSql("raw")} AS clean
           |  FROM f),
           |p AS (
           |  SELECT doc_id, unnest(range(0, len(ls))) AS pos,
           |    unnest(ls) AS para
           |  FROM (SELECT doc_id, string_split(clean, chr(10)) AS ls
           |        FROM sc)),
           |k AS (
           |  SELECT doc_id, pos, para, ${Corpus.paraKeySql("para")} AS key
           |  FROM p),
           |w AS (
           |  SELECT doc_id, pos, para,
           |    row_number() OVER (PARTITION BY key
           |      ORDER BY doc_id, pos) AS rn
           |  FROM k WHERE key <> ''),
           |kept AS (
           |  SELECT doc_id, pos, para FROM w WHERE rn = 1
           |  UNION ALL
           |  SELECT doc_id, pos, para FROM k WHERE key = ''),
           |agg AS (
           |  SELECT doc_id,
           |    string_agg(para, chr(10) ORDER BY pos) AS text_dedup,
           |    count(*) AS n_kept
           |  FROM kept GROUP BY doc_id),
           |tot AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(clean, chr(10))) AS BIGINT) AS n_paras
           |  FROM sc),
           |d0 AS (
           |  SELECT t.doc_id, coalesce(a.text_dedup, '') AS text,
           |    t.n_paras, CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
           |  FROM tot t LEFT JOIN agg a USING (doc_id)),
           |q AS (
           |  SELECT doc_id, n_paras, n_kept, round($margin, 6) AS margin_r,
           |    $duckNTok AS n_tok
           |  FROM d0),
           |b AS (SELECT CAST(sum(n_tok) AS BIGINT) // 2 AS budget FROM q),
           |s1 AS (
           |  SELECT q.*,
           |    CAST(sum(n_tok) OVER (ORDER BY margin_r DESC, doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
           |  FROM q),
           |s2 AS (
           |  SELECT s1.*, (cum_tok <= b.budget) AS keep
           |  FROM s1 CROSS JOIN b),
           |pk AS (
           |  SELECT doc_id,
           |    (CAST(sum(n_tok) OVER (ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok) // 512
           |      AS pack_id
           |  FROM s2 WHERE keep)
           |SELECT s2.doc_id, s2.n_paras, s2.n_kept, s2.margin_r,
           |  s2.n_tok, s2.cum_tok, s2.keep,
           |  coalesce(pk.pack_id, -1) AS pack_id
           |FROM s2 LEFT JOIN pk USING (doc_id)
           |ORDER BY s2.doc_id""".stripMargin
      }),

  )
}
