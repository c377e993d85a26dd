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
import graft.sources.Tables

/** warehouse export/evolution storage, mojibake/NFC repair, HLL/CMS/KLL sketches, PMI, JL prefilter, weighted sampling, BPE learning — a CONTIGUOUS, ORDER-PRESERVING slice of the
  * extension catalog (r15 split of the 6.2k-line ExtensionQueries;
  * entry text unchanged, aggregation order unchanged in
  * ExtensionQueries.specs). */
private[queries] object ExtensionSketchQueries {
  import ExtensionSupport._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("s16_export_import_roundtrip",
      "S8 as a data-gated catalog entry: register nation+region with " +
        "PK/FK metadata, export the whole database (parquet per table " +
        "+ generated DDL text), wipe the registry, import it back by " +
        "parsing the DDL, and query the re-imported views. The DuckDB " +
        "oracle reads the EXPORTED parquet files themselves (late-" +
        "bound path), so the hash gate proves the export wrote " +
        "faithful bytes — not merely that the source tables agree",
      (s, dir) => {
        import graft.catalog.Warehouse.{FkEdge, TableMeta}
        Warehouse.clear()
        Warehouse.load(s, t(s, dir, "region"),
          TableMeta("region", pk = Seq("r_regionkey")))
        Warehouse.load(s, t(s, dir, "nation"),
          TableMeta("nation", pk = Seq("n_nationkey"),
            fks = Seq(FkEdge(Seq("n_regionkey"), "region",
              Seq("r_regionkey")))))
        val out = java.nio.file.Paths.get("target/warehouse_export_s16")
          .toAbsolutePath.toString
        Warehouse.exportDatabase(s, out)
        Warehouse.clear()
        val imported = Warehouse.importDatabase(s, out, validate = true)
        require(imported.sorted == Seq("nation", "region"),
          s"import must restore both exported tables, got $imported")
        require(Warehouse.meta("nation").exists(m =>
            m.pk == Seq("n_nationkey") &&
              m.fks == Seq(FkEdge(Seq("n_regionkey"), "region",
                Seq("r_regionkey")))),
          "PK/FK metadata must survive the DDL round-trip")
        s.table("nation")
          .join(s.table("region"),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_nations"),
            sum(col("n_nationkey")).cast("long").as("sum_key"))
          .orderBy(col("r_name"))
      },
      None,
      oracleGen = () => Warehouse.lastExportDir.get.map { d =>
        s"""SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_nations,
           |  CAST(sum(n.n_nationkey) AS BIGINT) AS sum_key
           |FROM read_parquet('$d/nation.parquet/*.parquet') n
           |JOIN read_parquet('$d/region.parquet/*.parquet') r
           |  ON n.n_regionkey = r.r_regionkey
           |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin
      }),

    QuerySpec("s17_shuffled_shards",
      "deterministic GLOBAL SHUFFLE + sharded write — curated corpus " +
        "to servable pretraining data: a 60-bit md5 shuffle key per " +
        "doc (reproducible, growth-stable: a row's shard and relative " +
        "position never change as the corpus grows; the salt picks " +
        "the permutation), shard = key % 8 written hive-partitioned " +
        "with rows in key order so reading a shard start-to-finish IS " +
        "the shuffled order; one RANGE exchange on (shard, key) + " +
        "in-partition sort — the disjoint-per-file key ranges the " +
        "manifest relies on hold ONLY under range partitioning; the " +
        "manifest is read back from the WRITTEN files, gating the " +
        "layout, not the plan",
      (s, dir) => {
        val path = Layout.saveShuffledShards(t(s, dir, "documents"),
          "documents_shuffled", "doc_id", nShards = 8)
        Tables.readParquet(s, path)
          .groupBy(col("shard").cast("int").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("shuffle_key")).as("min_key"),
            max(col("shuffle_key")).as("max_key"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("shard"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id, n_chars,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'), 1, 15))::BIGINT
             |      AS k
             |  FROM documents)
             |SELECT CAST(k % 8 AS INTEGER) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  min(k) AS min_key, max(k) AS max_key,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM h GROUP BY shard ORDER BY shard""".stripMargin)),

    QuerySpec("s18_snapshot_diff",
      "corpus snapshot diff — the audit step of an incremental " +
        "update: added/removed/changed per key between two versions " +
        "(here: v2 derived in-query — every 7th doc dropped, every " +
        "5th text revised, 20 new ids), null-safe change detection " +
        "on (text, lang), unchanged bulk NEVER rides the result; one " +
        "key-partitioned full-outer join is the whole cost",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val next = docs.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
          .unionByName(docs.filter(col("doc_id") < 20)
            .select((col("doc_id") + 10000).as("doc_id"),
              col("text"), col("lang")))
        Relational.snapshotDiff(docs, next, "doc_id", Seq("text", "lang"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH old AS (SELECT doc_id, text, lang FROM documents),
             |nw AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
             |         ELSE text END AS text,
             |    lang
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 10000, text, lang
             |  FROM documents WHERE doc_id < 20),
             |j AS (
             |  SELECT o.doc_id AS ok, n.doc_id AS nk,
             |    CASE WHEN o.doc_id IS NULL THEN 'added'
             |         WHEN n.doc_id IS NULL THEN 'removed'
             |         WHEN o.text IS DISTINCT FROM n.text
             |           OR o.lang IS DISTINCT FROM n.lang THEN 'changed'
             |         END AS change
             |  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
             |SELECT coalesce(ok, nk) AS doc_id, change FROM j
             |WHERE change IS NOT NULL ORDER BY doc_id""".stripMargin)),

    QuerySpec("s19_ingest_quarantine",
      "corrupt-input quarantine at ingest — a 100 TB crawl's first " +
        "operator is separating the parseable from the garbage " +
        "without dying: the fixture salts a JSONL file with two " +
        "corruption shapes (truncated JSON and a type-mismatched " +
        "field), the PERMISSIVE parse is materialized ONCE to " +
        "parquet, clean rows and a per-reason quarantine table are " +
        "narrow filters over that parse, and the builder REQUIRES " +
        "clean + quarantined = input lines (PERMISSIVE drops " +
        "nothing, unlike DROPMALFORMED); the gate hashes per-reason " +
        "counts plus content signatures (parsed-field sums for " +
        "clean, raw-line-length sums for quarantined) against DuckDB " +
        "reconstructing the same deterministic corruption",
      (s, dir) => {
        import graft.sources.{Jsonl, Quarantine}
        val id = col("doc_id").cast("string")
        val nc = col("n_chars").cast("string")
        val m = col("doc_id") % 7
        val line = when(m === 0,
            concat(lit("{\"doc_id\": "), id, lit(", \"nc\": ")))
          .when(m === 1, concat(lit("{\"doc_id\": \"x"), id,
            lit("\", \"nc\": "), nc, lit("}")))
          .otherwise(concat(lit("{\"doc_id\": "), id,
            lit(", \"nc\": "), nc, lit("}")))
        val fixDir = java.nio.file.Paths.get("target", "ingest",
          "s19_fixture").toAbsolutePath.toString
        t(s, dir, "documents").select(line.as("value"))
          .write.mode("overwrite").text(fixDir)
        val schema = new StructType()
          .add("doc_id", LongType).add("nc", LongType)
        val parsed = Jsonl.read(s, fixDir, schema, keepCorrupt = true)
        val (clean, quar) = Quarantine.ingest(s, parsed, "s19",
          Quarantine.jsonReason)
        // reconciliation gate: nothing silently dropped between the
        // raw file and the two output tables
        val inputLines = s.read.text(fixDir)
          .filter(length(trim(col("value"))) > 0).count()
        val (nClean, nQuar) = (clean.count(), quar.count())
        require(nClean + nQuar == inputLines,
          s"quarantine must reconcile: $nClean clean + $nQuar " +
            s"quarantined != $inputLines input lines")
        clean.agg(count(lit(1)).as("n_rows"),
            (sum(col("doc_id")) + sum(col("nc"))).as("sig"))
          .select(lit("clean").as("reason"), col("n_rows"), col("sig"))
          .unionByName(quar.groupBy(col("reason"))
            .agg(count(lit(1)).as("n_rows"),
              sum(length(col("raw"))).cast("long").as("sig")))
          .orderBy(col("reason"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id, n_chars, doc_id % 7 AS m,
             |    CASE WHEN doc_id % 7 = 0
             |      THEN '{"doc_id": ' || CAST(doc_id AS VARCHAR) || ', "nc": '
             |    WHEN doc_id % 7 = 1
             |      THEN '{"doc_id": "x' || CAST(doc_id AS VARCHAR) ||
             |        '", "nc": ' || CAST(n_chars AS VARCHAR) || '}'
             |    END AS badline
             |  FROM documents)
             |SELECT 'clean' AS reason, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(doc_id) + sum(n_chars) AS BIGINT) AS sig
             |FROM f WHERE m NOT IN (0, 1)
             |UNION ALL
             |SELECT 'malformed_json', CAST(count(*) AS BIGINT),
             |  CAST(sum(length(badline)) AS BIGINT)
             |FROM f WHERE m = 0
             |UNION ALL
             |SELECT 'schema_mismatch', CAST(count(*) AS BIGINT),
             |  CAST(sum(length(badline)) AS BIGINT)
             |FROM f WHERE m = 1
             |ORDER BY reason""".stripMargin)),

    QuerySpec("s20_dpp_star_join",
      "dynamic partition pruning on the star-join access path: the " +
        "fact (events, hive-partitioned by event_type) joins a small " +
        "filtered dim whose surviving keys are only known at RUN " +
        "time (md5-derived tag, opaque to static pruning) — the " +
        "broadcast dim's keys become a runtime partition filter on " +
        "the fact scan, so pruned partitions are never read; the " +
        "builder REQUIRES the DynamicPruningSubquery in the " +
        "optimized plan (a silently-degraded full scan still " +
        "hash-matches — the plan contract is the point). At 100 TB " +
        "this is THE mechanism that turns a dim filter into fact " +
        "I/O elision without a manual partition list",
      (s, dir) => {
        val path = Warehouse.savePartitioned(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            col("event_type"), col("value")),
          "events_dpp", Seq("event_type"))
        val fact = Tables.readParquet(s, path)
        val dim = t(s, dir, "events").select(col("event_type")).distinct()
          .withColumn("type_tag", substring(md5(col("event_type")), 1, 2))
          .filter(col("type_tag") < "80")
        val q = fact.join(broadcast(dim), Seq("event_type"))
          .groupBy(col("event_type"), col("type_tag"))
          .agg(count(lit(1)).as("n_events"),
            sum(dec2(col("value"))).cast("double").as("sum_value"),
            min(col("event_id")).as("min_event_id"),
            max(col("event_id")).as("max_event_id"))
          .orderBy(col("event_type"))
        val hasDpp = q.queryExecution.optimizedPlan.collectFirst {
          case p if p.expressions.exists(_.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .DynamicPruningSubquery])) => p
        }.nonEmpty
        require(hasDpp, "fact scan must carry a dynamic partition " +
          "pruning subquery; a full scan means DPP silently degraded:\n" +
          q.queryExecution.optimizedPlan)
        q
      },
      Some("""WITH dim AS (
             |  SELECT DISTINCT event_type,
             |    substr(md5(event_type), 1, 2) AS type_tag
             |  FROM events)
             |SELECT e.event_type, d.type_tag,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_value,
             |  min(e.event_id) AS min_event_id,
             |  max(e.event_id) AS max_event_id
             |FROM events e JOIN dim d USING (event_type)
             |WHERE d.type_tag < '80'
             |GROUP BY e.event_type, d.type_tag
             |ORDER BY e.event_type""".stripMargin)),

    QuerySpec("s21_orc_roundtrip",
      "ORC storage interop: lineitem columns rewritten as ORC, read " +
        "back with a selective filter and the g1 pricing aggregate — " +
        "the builder REQUIRES the scan is the ORC format AND the " +
        "row-level filter reached it as a pushed filter (ORC carries " +
        "the same predicate-pushdown/column-pruning contract as " +
        "parquet; a post-scan-only filter means the interop lost its " +
        "I/O elision); content hash-gated against DuckDB over the " +
        "original parquet — format roundtrip must be lossless",
      (s, dir) => {
        val path = Warehouse.saveFormat(
          t(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_quantity"), col("l_extendedprice"),
            col("l_returnflag"), col("l_linestatus")),
          "lineitem_orc", "orc")
        val q = s.read.orc(path)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n_items"),
            sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec2(col("l_extendedprice"))).cast("double")
              .as("sum_price"),
            countDistinct(col("l_orderkey")).as("n_orders"))
          .orderBy(col("l_linestatus"))
        val scans = q.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        require(scans.nonEmpty &&
            scans.head.relation.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.orc.OrcFileFormat],
          "expected an ORC file scan")
        require(scans.head.metadata.get("PushedFilters")
            .exists(_.contains("l_returnflag")),
          s"l_returnflag filter must push to the ORC scan; got: " +
            scans.head.metadata.get("PushedFilters"))
        q
      },
      Some("""SELECT l_linestatus, count(*) AS n_items,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_price,
             |  count(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem WHERE l_returnflag = 'R'
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    QuerySpec("s22_schema_evolution",
      "schema-drift-tolerant ingest (sources.Evolution): three orders " +
        "snapshots written with EVOLVED schemas — v1 the base three " +
        "columns, v2 adds o_orderpriority, v3 instead carries an INT " +
        "priority_rank the canonical schema declares BIGINT (the " +
        "widening mergeSchema refuses — it fails conflicting footer " +
        "types outright, which is why a declared canonical schema + " +
        "per-snapshot cast/NULL-fill + union-by-position is the 100 " +
        "TB contract: narrow per-file, zero shuffle, snapshots " +
        "stream independently); builder REQUIRES exactly three " +
        "parquet scans under the union",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val v1 = Warehouse.saveFormat(
          orders.filter(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice")),
          "orders_evo_v1", "parquet")
        val v2 = Warehouse.saveFormat(
          orders.filter(col("o_orderkey") % 3 === 1)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderpriority")),
          "orders_evo_v2", "parquet")
        val v3 = Warehouse.saveFormat(
          orders.filter(col("o_orderkey") % 3 === 2)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"),
              substring(col("o_orderpriority"), 1, 1).cast("int")
                .as("priority_rank")),
          "orders_evo_v3", "parquet")
        val canonical = new StructType()
          .add("o_orderkey", LongType).add("o_custkey", LongType)
          .add("o_totalprice", org.apache.spark.sql.types.DoubleType)
          .add("o_orderpriority", StringType)
          .add("priority_rank", LongType)
        val u = graft.sources.Evolution.readUnion(s,
          Seq("v1" -> v1, "v2" -> v2, "v3" -> v3), canonical)
        // dec2 round-trips to 2dp for cross-engine determinism, but
        // the catalog's boundary convention is that DECIMAL never
        // reaches the comparator — cast back to double.
        val q = u.select(col("snapshot_id"), col("o_orderkey"),
            col("o_custkey"),
            dec2(col("o_totalprice")).cast("double").as("o_totalprice"),
            col("o_orderpriority"), col("priority_rank"))
          .orderBy(col("o_orderkey"))
        val nScans = q.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.size
        require(nScans == 3,
          s"evolved union must plan as 3 independent scans, got $nScans")
        q
      },
      Some("""WITH u AS (
             |  SELECT 'v1' AS snapshot_id, o_orderkey, o_custkey,
             |    o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
             |    CAST(NULL AS BIGINT) AS priority_rank
             |  FROM orders WHERE o_orderkey % 3 = 0
             |  UNION ALL
             |  SELECT 'v2', o_orderkey, o_custkey, o_totalprice,
             |    o_orderpriority, CAST(NULL AS BIGINT)
             |  FROM orders WHERE o_orderkey % 3 = 1
             |  UNION ALL
             |  SELECT 'v3', o_orderkey, o_custkey, o_totalprice,
             |    CAST(NULL AS VARCHAR),
             |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
             |  FROM orders WHERE o_orderkey % 3 = 2)
             |SELECT snapshot_id, o_orderkey, o_custkey,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             |    AS o_totalprice,
             |  o_orderpriority, priority_rank
             |FROM u ORDER BY o_orderkey""".stripMargin)),

    QuerySpec("s23_runtime_bloom_join",
      "runtime bloom-filter join injection — the row-level analog of " +
        "s20's partition-level DPP, for the 100 TB case where the " +
        "fact is NOT partitioned by the join key: Catalyst's " +
        "InjectRuntimeFilter plants a bloom_filter_agg subquery over " +
        "the selectively-filtered dim and a might_contain filter on " +
        "the fact side, so most fact rows die at the scan instead of " +
        "crossing the join shuffle (the built-in counterpart of the " +
        "hand-rolled x37 prefilter). The builder lowers the " +
        "size-threshold confs (fixtures are far below the 10 GB " +
        "production default), forces and REQUIREs the injected " +
        "BloomFilterMightContain in the memoized optimized plan, " +
        "then RESTORES the confs — the hash gate itself is " +
        "plan-independent, which is the point: the filter is pure " +
        "I/O elision, never a semantics change",
      (s, dir) => {
        val confs = Seq(
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val fact = t(s, dir, "lineitem")
            .select(col("l_partkey"), col("l_quantity"),
              col("l_extendedprice"))
          val dim = t(s, dir, "part")
            .filter(col("p_size") === 1)
            .select(col("p_partkey"), col("p_brand"))
          val q = fact.join(dim, col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(count(lit(1)).as("n_items"),
              sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
              sum(dec2(col("l_extendedprice"))).cast("double")
                .as("sum_price"))
            .orderBy(col("p_brand"))
          val hasBloom = q.queryExecution.optimizedPlan.collectFirst {
            case p if p.expressions.exists(_.exists(
                _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                  .BloomFilterMightContain])) => p
          }.nonEmpty
          require(hasBloom, "fact side must carry an injected " +
            "bloom-filter runtime filter; got:\n" +
            q.queryExecution.optimizedPlan)
          q
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""SELECT p.p_brand, count(*) AS n_items,
             |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS sum_price
             |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |WHERE p.p_size = 1
             |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)),

    QuerySpec("x58_mojibake_repair",
      "double-encoded-UTF-8 (mojibake) detection + repair — the most " +
        "common crawl encoding corruption, and a silent dedup killer " +
        "(corrupted and clean forms of one document never hash " +
        "equal): the fixture appends a deterministically mis-decoded " +
        "accented suffix to every third document, detection is the " +
        "shared C2/C3-lead regexp, repair is the native single-pass " +
        "byte expression (plans.MojibakeRepair: Latin-1 re-encode " +
        "accepted only if strictly-valid multi-byte UTF-8 — natural " +
        "text never repairs by accident); builder REQUIRES every " +
        "flagged row actually changed under repair; oracle states " +
        "the expected repaired form from the same constants",
      (s, dir) => {
        val suffix = MOJIBAKE_CLEAN_SUFFIX
        val moji = new String(
          suffix.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val base = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(moji)))
            .otherwise(col("text")).as("corrupted"))
        val repaired = base.select(col("doc_id"), col("corrupted"),
          TextAnalysis.mojibakeFlag(col("corrupted")).as("flagged"),
          TextAnalysis.repairMojibake(col("corrupted")).as("repaired"))
        // repair must be REAL on every flagged row, not a no-op that
        // happens to hash-match a fixture accident
        val unrepaired = repaired
          .filter(col("flagged") && col("repaired") === col("corrupted"))
          .count()
        require(unrepaired == 0,
          s"$unrepaired flagged rows survived repair unchanged")
        repaired.select(col("doc_id"), col("flagged"),
            md5(col("corrupted")).as("corrupt_md5"),
            md5(col("repaired")).as("repaired_md5"),
            length(col("repaired")).cast("long").as("repaired_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH c AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0
             |      THEN text || '${new String(
                      MOJIBAKE_CLEAN_SUFFIX.getBytes(
                        java.nio.charset.StandardCharsets.UTF_8),
                      java.nio.charset.StandardCharsets.ISO_8859_1)}'
             |      ELSE text END AS corrupted,
             |    CASE WHEN doc_id % 3 = 0
             |      THEN text || '$MOJIBAKE_CLEAN_SUFFIX'
             |      ELSE text END AS repaired
             |  FROM documents)
             |SELECT doc_id,
             |  regexp_matches(corrupted,
             |    '${TextAnalysis.mojibakePattern}') AS flagged,
             |  md5(corrupted) AS corrupt_md5,
             |  md5(repaired) AS repaired_md5,
             |  CAST(length(repaired) AS BIGINT) AS repaired_chars
             |FROM c ORDER BY doc_id""".stripMargin)),

    QuerySpec("x60_nfc_normalize",
      "Unicode NFC canonicalization (UAX #15) — NFD and NFC " +
        "spellings of one document are codepoint-distinct while " +
        "rendering identically, so un-normalized crawl text " +
        "silently defeats exact/near dedup keys and splits BPE " +
        "vocabulary (`café` vs `cafe`+U+0301 learn separate " +
        "merges); the fixture appends a Normalizer-NFD-derived " +
        "decomposed suffix plus two canonical singletons (U+212B, " +
        "U+2126 — composition-exclusion folds to U+00C5/U+03A9) to " +
        "every third document, normalization is the native " +
        "single-pass expression (plans.NfcNormalize: codegen'd, " +
        "ASCII and already-NFC fast paths return the input " +
        "zero-copy); builder REQUIRES every synthesized row " +
        "actually changed; the oracle derives NFC independently " +
        "via DuckDB's own nfc_normalize (utf8proc) — two " +
        "implementations of UAX #15 must agree bit-for-bit",
      (s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(NFD_CORRUPT_SUFFIX)))
            .otherwise(col("text")).as("raw"))
        val n = base.select(col("doc_id"), col("raw"),
          TextAnalysis.nfcNormalize(col("raw")).as("norm"))
        // composition must be REAL on every synthesized row, not a
        // no-op that happens to hash-match a fixture accident
        val untouched = n
          .filter(col("doc_id") % 3 === 1 && col("norm") === col("raw"))
          .count()
        require(untouched == 0,
          s"$untouched decomposed rows survived NFC unchanged")
        n.select(col("doc_id"),
            (col("raw") === col("norm")).as("was_nfc"),
            md5(col("raw")).as("raw_md5"),
            md5(col("norm")).as("nfc_md5"),
            (length(col("raw")) - length(col("norm"))).cast("long")
              .as("composed_away"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH c AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 1
             |      THEN text || '$NFD_CORRUPT_SUFFIX'
             |      ELSE text END AS raw
             |  FROM documents)
             |SELECT doc_id, raw = nfc_normalize(raw) AS was_nfc,
             |  md5(raw) AS raw_md5,
             |  md5(nfc_normalize(raw)) AS nfc_md5,
             |  CAST(length(raw) - length(nfc_normalize(raw)) AS BIGINT)
             |    AS composed_away
             |FROM c ORDER BY doc_id""".stripMargin)),

    QuerySpec("x61_hll_cardinality",
      "sketch-based distinct-cardinality governance (HLL, Apache " +
        "DataSketches via Spark's hll_sketch_agg family) — the 100 TB " +
        "answer to `how many distinct tokens/URLs/doc keys`: exact " +
        "COUNT(DISTINCT) shuffles every distinct key, a sketch " +
        "shuffles a fixed-KB binary per group with map-side partials, " +
        "and sketches MERGE — built once per shard (per day, per " +
        "crawl segment), any rollup is a union of sketches, never a " +
        "rescan. The entry builds per-(lang, shard) sketches, unions " +
        "them per lang (two-level merge, the pattern that matters), " +
        "REQUIRES the estimate within 5% of exact per group (HLL " +
        "lgK=12 ≈ 1.6% rsd — deterministic given fixed input, so " +
        "green stays green), and hash-gates the exact side against " +
        "DuckDB; the ok flag reaching the oracle as literal TRUE " +
        "means an out-of-bounds sketch fails the hash, not a log line",
      (s, dir) => {
        // the token frame feeds BOTH the sketch build and the exact
        // side (different aggregations — exchange reuse cannot fire),
        // and the returned plan re-executes at harness time: one
        // tokenize+explode, every consumer reads the scratch table
        val toks = scratch(t(s, dir, "documents")
          .select(col("lang"), pmod(col("doc_id"), lit(4)).as("shard"),
            explode(wsTokens(col("text"))).as("tok")), "x61_toks")
        val shardSketches = toks.groupBy(col("lang"), col("shard"))
          .agg(hll_sketch_agg(col("tok"), lit(12)).as("sk"))
        val merged = shardSketches.groupBy(col("lang"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("n_approx"))
        val exact = toks.groupBy(col("lang"))
          .agg(countDistinct(col("tok")).as("n_exact"))
        val j = exact.join(merged, Seq("lang")).select(col("lang"),
          col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact").cast("double")).as("rel_err"))
        val bad = j.filter(col("rel_err") > 0.05).collect()
        require(bad.isEmpty, "sketch estimate out of bounds: " +
          bad.map(r => s"${r.get(0)} err=${r.get(2)}").mkString(", "))
        j.select(col("lang"), col("n_exact"),
            (col("rel_err") <= 0.05).as("approx_ok"))
          .orderBy(col("lang"))
      },
      Some(s"""SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_exact,
             |  TRUE AS approx_ok
             |FROM (SELECT lang, unnest($duckWsTokens) AS tok
             |      FROM documents)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    QuerySpec("x63_cms_frequency",
      "sketch-based per-key frequency governance (count-min sketch, " +
        "Cormode & Muthukrishnan 2005; Spark's count_min_sketch " +
        "aggregate + the native cms_estimate probe, which Spark does " +
        "not ship — without it the aggregate is write-only) — HLL " +
        "(x61) answers `how many distinct`, CMS answers `how often " +
        "does THIS key occur` without materializing a distinct-key " +
        "frequency table: a fixed-size counter grid per shard with " +
        "map-side partials, merged cell-wise (lossless, enforced " +
        "same-params), probed per key at depth hashes per probe. " +
        "Keyed on adjacent-token bigrams against a DELIBERATELY " +
        "narrow grid (eps=0.005 → width 400 < the bigram vocabulary) " +
        "so collisions are real and the one-sided contract is " +
        "exercised, not vacuous: estimates never BELOW exact, above " +
        "by ≤ ceil(eps·N). Both bounds REQUIREd per key over the " +
        "top-25 bigrams and routed to the oracle as literal-TRUE " +
        "flags — an out-of-contract sketch fails the hash gate, and " +
        "the exact side is hash-gated against DuckDB",
      (s, dir) => {
        val eps = 0.005; val conf = 0.99; val seed = 42
        // the bigram frame feeds the sketch build (collected eagerly),
        // the exact top-25 (computed at the REQUIRE gate) AND the
        // returned plan's re-execution: one tokenize+pair pass,
        // scratch-read by every consumer
        val bg = scratch(t(s, dir, "documents")
          .select(pmod(col("doc_id"), lit(4)).as("shard"),
            explode(adjacentBigrams(wsTokens(col("text")))).as("bg")),
          "x63_bigrams")
        // shard→merge is the pattern that matters at 100 TB: one grid
        // per shard/day/segment, KB-scale binaries driver-merged, any
        // rollup probed without a rescan (the x61 HLL shape, for
        // frequencies); the collect is 4 × O(depth·width) bytes
        val shardSk = bg.groupBy(col("shard"))
          .agg(count_min_sketch(col("bg"), lit(eps), lit(conf),
            lit(seed)).as("sk"))
          .collect().toSeq.map(_.getAs[Array[Byte]]("sk"))
        val merged = graft.plans.CmsEstimate.merge(shardSk)
        val bound = math.ceil(eps * org.apache.spark.util.sketch
          .CountMinSketch.readFrom(merged).totalCount).toLong
        val top = bg.groupBy(col("bg"))
          .agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("bg")).limit(25)
          .withColumn("n_est",
            SketchFunctions.cmsEstimate(merged, col("bg")))
        val bad = top.filter(col("n_est") < col("n_exact") ||
          col("n_est") > col("n_exact") + lit(bound)).collect()
        require(bad.isEmpty, "cms estimate out of contract: " +
          bad.map(r => s"${r.get(0)} exact=${r.get(1)} est=${r.get(2)}")
            .mkString(", "))
        top.select(col("bg"), col("n_exact"),
            (col("n_est") >= col("n_exact")).as("never_under"),
            (col("n_est") <= col("n_exact") + lit(bound))
              .as("within_bound"))
          .orderBy(col("n_exact").desc, col("bg"))
      },
      Some(s"""WITH base AS (
             |  SELECT $duckWsTokens AS tk FROM documents),
             |pos AS (
             |  SELECT tk, unnest(range(1, len(tk))) AS i FROM base
             |  WHERE len(tk) >= 2)
             |SELECT tk[i] || ' ' || tk[i+1] AS bg,
             |  CAST(count(*) AS BIGINT) AS n_exact,
             |  TRUE AS never_under, TRUE AS within_bound
             |FROM pos GROUP BY bg
             |ORDER BY n_exact DESC, bg LIMIT 25""".stripMargin)),

    QuerySpec("x64_pmi_cooccurrence",
      "windowed co-occurrence + pointwise mutual information (Church " +
        "& Hanks 1990; the statistic SGNS embeddings implicitly " +
        "factorize — Levy & Goldberg 2014), the embedding-prep / " +
        "collocation-mining stage of a corpus pipeline: directional " +
        "(word, context) pairs within a forward window of 3, " +
        "pmi = ln(c_ab·T / (c_a·c_b)) with marginals from the pair " +
        "table itself. Pair generation is NARROW — posexplode + an " +
        "in-row slice of the token array already in the row, never a " +
        "positional self-join (which at 100 TB is a second " +
        "full-corpus shuffle + a range join); the corpus pays ONE " +
        "pair-keyed aggregation SHAPE and the marginals + T derive " +
        "from the distinct-pair table (vocabulary²-sized) — at scale " +
        "the operator materializes that table once so the " +
        "corpus is scanned once (inferred null filters defeat " +
        "exchange reuse, verified on the executed plan) — corpus " +
        "text never shuffles. Top-50 by support with a " +
        "lexicographic tiebreak; integer products exact in long, one " +
        "double division then ln, rounded to 6 dp (the x36 boundary " +
        "trick) and hash-gated against DuckDB's independent " +
        "position-based rederivation",
      (s, dir) => LanguageModel.cooccurrencePmi(
          t(s, dir, "documents"), "text", window = 3)
        .orderBy(col("c_ab").desc, col("a"), col("b")).limit(50)
        .orderBy(col("c_ab").desc, col("a"), col("b")),
      Some(s"""WITH base AS (
             |  SELECT $duckWsTokens AS tk FROM documents),
             |pos AS (
             |  SELECT tk, unnest(range(1, len(tk) + 1)) AS i FROM base),
             |pairs AS (
             |  SELECT tk[i] AS a, unnest(list_slice(tk, i + 1, i + 3)) AS b
             |  FROM pos),
             |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
             |        FROM pairs GROUP BY a, b),
             |ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a
             |       FROM pairs GROUP BY a),
             |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c_b
             |       FROM pairs GROUP BY b),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM pairs)
             |SELECT a, b, c_ab,
             |  round(ln(CAST(c_ab * t AS DOUBLE) /
             |           CAST(c_a * c_b AS DOUBLE)), 6) AS pmi_r
             |FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN tot
             |ORDER BY c_ab DESC, a, b LIMIT 50""".stripMargin)),

    QuerySpec("x65_kll_quantiles",
      "sketch-based quantile governance (compactor stack in the " +
        "Manku-Rajagopalan-Lindsay 1998 / Karnin-Lang-Liberty 2016 " +
        "family with deterministic alternating-offset compaction; " +
        "plans.KllSketchAgg / KllUnionAgg — Spark ships " +
        "hll_sketch_agg for distincts and count_min_sketch for " +
        "frequencies but NO mergeable quantile aggregate) — the " +
        "100 TB answer to `what is the p99 per segment`: an exact " +
        "per-group quantile sorts the full value column per group " +
        "and two shards' exact answers do not combine, while the " +
        "sketch is a few KB per group with map-side partials and " +
        "MERGES (build per shard/day/segment once, roll up to any " +
        "scope without a rescan — the x61/x63 shard→rollup shape). " +
        "k=256 is DELIBERATELY small against ~20k values/group so " +
        "compaction fires for real (builder REQUIREs retained < n); " +
        "governance gates on the measured TRUE rank of every " +
        "estimate over the data itself (|rank(est) - p| <= 0.02 per " +
        "group x probe), routed to the oracle as literal-TRUE " +
        "flags; the exact side is hash-gated (Spark percentile and " +
        "DuckDB quantile_cont are both p*(n-1) linear interpolation)",
      (s, dir) => {
        val kParam = 256
        val probes = Seq(0.1, 0.5, 0.9, 0.99)
        val tol = 0.02
        val vals = t(s, dir, "lineitem").select(
          col("l_returnflag").as("grp"),
          pmod(col("l_orderkey"), lit(8)).as("shard"),
          col("l_extendedprice").cast("double").as("v"))
        // shard sketches -> per-group rollup; the collect is one
        // KB-scale binary per group, never the value column
        val merged = vals.groupBy(col("grp"), col("shard"))
          .agg(SketchFunctions.kllAgg(col("v"), kParam).as("sk"))
          .groupBy(col("grp"))
          .agg(SketchFunctions.kllUnionAgg(col("sk")).as("sk"))
          .collect()
        val ests = merged.toSeq.flatMap { r =>
          val sk = graft.plans.QuantileSketch
            .deserialize(r.getAs[Array[Byte]]("sk"))
          require(sk.retained < sk.n,
            s"sketch never compacted (n=${sk.n}, k=$kParam vacuous)")
          probes.map(p => (r.getString(0), p, sk.quantile(p)))
        }
        import s.implicits._
        val estDf = ests.toDF("grp", "p", "est")
        val bad = vals.join(broadcast(estDf), Seq("grp"))
          .groupBy(col("grp"), col("p"))
          .agg((sum(when(col("v") <= col("est"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("true_rank"))
          .filter(abs(col("true_rank") - col("p")) > tol).collect()
        require(bad.isEmpty, "kll rank error out of bounds: " +
          bad.map(r => s"${r.get(0)}@p=${r.get(1)} rank=${r.get(2)}")
            .mkString(", "))
        vals.groupBy(col("grp"))
          .agg(expr(s"percentile(v, array(${probes.mkString(", ")}))")
            .as("qs"))
          .select(col("grp"), posexplode(col("qs")))
          .select(col("grp"),
            element_at(array(probes.map(lit): _*), col("pos") + 1)
              .as("p"),
            round(col("col"), 6).as("q_exact"),
            lit(true).as("rank_ok"))
          .orderBy(col("grp"), col("p"))
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag AS grp,
             |    CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem)
             |SELECT grp, CAST(0.1 AS DOUBLE) AS p,
             |  round(quantile_cont(v, 0.1), 6) AS q_exact,
             |  TRUE AS rank_ok FROM v GROUP BY grp
             |UNION ALL
             |SELECT grp, CAST(0.5 AS DOUBLE),
             |  round(quantile_cont(v, 0.5), 6), TRUE FROM v GROUP BY grp
             |UNION ALL
             |SELECT grp, CAST(0.9 AS DOUBLE),
             |  round(quantile_cont(v, 0.9), 6), TRUE FROM v GROUP BY grp
             |UNION ALL
             |SELECT grp, CAST(0.99 AS DOUBLE),
             |  round(quantile_cont(v, 0.99), 6), TRUE FROM v GROUP BY grp
             |ORDER BY grp, p""".stripMargin)),

    QuerySpec("x66_weighted_sample",
      "deterministic weighted sampling without replacement " +
        "(Efraimidis & Spirakis 2006): per-lang top-10 by the " +
        "md5-derived priority ln(u)/w with w = whitespace token " +
        "count — token-budget-proportional document selection, the " +
        "corpus-mix subset step where longer (or higher-quality) " +
        "documents should be proportionally likelier to survive. No " +
        "rand() anywhere: u is exact 60-bit md5 integer arithmetic " +
        "and the priority rounds to 9 dp BEFORE ranking (ln differs " +
        "across libms by ~1 ulp — the temperatureSample pow note) " +
        "with id tiebreaks, so runs, engines, and cluster layouts " +
        "draw the IDENTICAL sample. Skew shape: two-phase " +
        "(lang, id-hash shard) then lang ranking (the x30 " +
        "domain-quota pattern — no task holds more than shards x k " +
        "rows of one lang), and the hash gate against DuckDB's " +
        "ONE-phase window proves the shard discard lossless " +
        "cross-engine. Builder REQUIREs the sample's mean weight " +
        "exceeds the corpus mean — the bias weighted sampling " +
        "exists to produce",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val w = greatest(lit(1L), size(col("__tk")).cast("long"))
        val sampled = Sampling.weightedSample(
          docs.select(col("lang"), col("doc_id"),
            wsTokens(col("text")).as("__tk")),
          "lang", "doc_id", w, k = 10)
        val corpusMean = docs.agg(avg(greatest(lit(1L),
          size(wsTokens(col("text"))).cast("long")))).head.getDouble(0)
        val sampleMean = sampled.agg(avg(col("w"))).head.getDouble(0)
        require(sampleMean > corpusMean,
          f"weighted sample mean weight $sampleMean%.2f does not " +
            f"exceed corpus mean $corpusMean%.2f")
        sampled.select(col("lang"), col("doc_id"),
            col("w").cast("long").as("w_tokens"), col("priority_r"),
            col("rk").cast("long").as("rk"))
          .orderBy(col("lang"), col("rk"))
      },
      Some(s"""WITH d AS (
             |  SELECT lang, doc_id,
             |    CAST(greatest(1, len($duckWsTokens)) AS DOUBLE) AS w,
             |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             |      ::BIGINT + 1) / 1152921504606846976.0 AS u
             |  FROM documents),
             |r AS (
             |  SELECT lang, doc_id, w,
             |    round(ln(u) / w, 9) AS priority_r,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY round(ln(u) / w, 9) DESC, doc_id) AS rk
             |  FROM d)
             |SELECT lang, doc_id, CAST(w AS BIGINT) AS w_tokens,
             |  priority_r, CAST(rk AS BIGINT) AS rk
             |FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin)),

    QuerySpec("x62_jl_margin_prefilter",
      "Johnson-Lindenstrauss random-projection prefilter governance " +
        "(Johnson & Lindenstrauss 1984; Achlioptas 2003 ±1 form) — " +
        "project 64-dim embeddings to 32 dims and MEASURE what the " +
        "cut preserves: synthesized near-dup twins (deterministic " +
        "±0.05 md5-signed perturbation, full-dim cos ≈ 0.93) must ALL " +
        "stay above the reduced-space candidate threshold (JL " +
        "distortion scales with pair distance, so near pairs survive " +
        "tightly), while the background candidate rate stays ≤ 2% " +
        "(measured 0.6%) — the two numbers that size a " +
        "project-bucket-adjudicate semantic-dedup pass at 100 TB " +
        "(half the shuffle bytes and dot-product cost, full-dim " +
        "re-verify only on candidates). Fully hash-gated: DuckDB " +
        "re-derives twins, projections (literal Rademacher planes), " +
        "and both cosines bit-for-bit",
      (s, dir) => {
        val dim = 64; val dOut = 32
        val signs = Seq("0", "2", "4", "6", "8", "a", "c", "e")
        val withTwin = t(s, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(3)) === 0)
          .select(col("vec_id"), col("embedding"),
            transform(col("embedding"), (x, i) =>
              x.cast("double") + when(substring(md5(concat(
                col("vec_id").cast("string"), lit("-"),
                i.cast("string"))), 32, 1).isin(signs: _*),
                lit(0.05)).otherwise(lit(-0.05))).as("twin"))
        // the projection pipeline feeds the dup leg, both bg join
        // sides, and three executions (two REQUIRE gates + the
        // returned plan): one compute, scratch-read everywhere
        val proj = scratch(withTwin.select(col("vec_id"),
          col("embedding"), col("twin"),
          Similarity.jlProject(col("embedding"), dOut, dim).as("jl_v"),
          Similarity.jlProject(col("twin"), dOut, dim).as("jl_t")),
          "x62_proj")
        val dup = proj.select(lit("dup").as("kind"),
          col("vec_id").as("id_a"), col("vec_id").as("id_b"),
          cosine(col("embedding"), col("twin")).as("cos_full"),
          cosine(col("jl_v"), col("jl_t")).as("cos_jl"))
        val aSide = proj.select(col("vec_id").as("id_a"),
          col("embedding").as("va"), col("jl_v").as("ja"))
        val bSide = proj.select(col("vec_id").as("id_b"),
          col("embedding").as("vb"), col("jl_v").as("jb"))
        // equi-keyed rewrite of the background 1/37 pair sample:
        // (id_a + id_b) % 37 == 0  ⟺  id_a % 37 == (37 - id_b % 37)
        // % 37 — bucketing both sides turns the raw theta predicate
        // (a BroadcastNestedLoopJoin, O(n²) predicate evaluations)
        // into a 37-bucket shuffled equi-join with an id_a < id_b
        // residual, selecting the IDENTICAL pair set the oracle
        // re-derives
        val bg = aSide
          .withColumn("__bk", pmod(col("id_a"), lit(37)))
          .join(bSide.withColumn("__bk",
            pmod(lit(37) - pmod(col("id_b"), lit(37)), lit(37))),
            Seq("__bk"))
          .filter(col("id_a") < col("id_b"))
          .select(lit("bg").as("kind"), col("id_a"), col("id_b"),
            cosine(col("va"), col("vb")).as("cos_full"),
            cosine(col("ja"), col("jb")).as("cos_jl"))
        val all = dup.unionByName(bg).select(col("kind"), col("id_a"),
          col("id_b"), col("cos_full"), col("cos_jl"),
          (col("cos_jl") >= 0.5).as("candidate"))
        // prefilter governance: a dup the reduced space loses is a
        // dedup MISS (unrecoverable downstream); bg candidates are
        // only COST (full-dim re-verification volume)
        val dupMiss = all
          .filter(col("kind") === "dup" && !col("candidate")).count()
        require(dupMiss == 0,
          s"$dupMiss near-dup twins fell below the JL threshold")
        val bgStats = all.filter(col("kind") === "bg")
          .agg(count(lit(1)).as("n"),
            sum(when(col("candidate"), 1L).otherwise(0L)).as("c")).head
        require(bgStats.getLong(1) * 50L <= bgStats.getLong(0),
          s"background candidate rate ${bgStats.getLong(1)}/" +
            s"${bgStats.getLong(0)} exceeds 2%")
        all.select(col("kind"), col("id_a"), col("id_b"),
            round(col("cos_full"), 6).as("cos_full_r"),
            round(col("cos_jl"), 6).as("cos_jl_r"), col("candidate"))
          .orderBy(col("kind"), col("id_a"), col("id_b"))
      },
      Some(jlMarginOracle)),

    QuerySpec("x59_bpe_merge_learn",
      "distributed BPE merge learning (Sennrich et al. 2016) — the " +
        "step that LEARNS a subword vocabulary from the corpus " +
        "(x29 applies one): three merges learned over the normalized " +
        "word-frequency table, ties broken lexicographically so the " +
        "trajectory is engine-independent. Scale factorization: the " +
        "corpus is scanned once into the vocabulary; every iteration " +
        "shuffles only DISTINCT-pair counts and collects exactly one " +
        "argmax row. The oracle is late-bound but NON-circular: " +
        "DuckDB RE-DERIVES each level's argmax over the vocabulary " +
        "with the previous merges applied (recursive-CTE " +
        "replace-to-fixpoint per level) — the stashed merges only " +
        "drive the applications, so a wrongly-learned merge at any " +
        "level diverges that level's recomputed argmax and count",
      (s, dir) => {
        import s.implicits._
        val words = graft.operators.Bpe.wordFrequencies(
          t(s, dir, "documents"), "text")
        val merges = graft.operators.Bpe.learnMerges(words, 3)
        graft.operators.Bpe.recordMerges(3, "documents", merges)
        merges.zipWithIndex.map { case ((l, r, n), i) =>
          (i + 1L, l, r, l + r, n)
        }.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
          .orderBy(col("merge_rank"))
      },
      None,
      oracleGen = () => graft.operators.Bpe.learnedMerges
        .get((3, "documents"))
        .map(m => graft.operators.Bpe.trajectoryOracleSql(
          "documents", "text", m))),

  )
}
