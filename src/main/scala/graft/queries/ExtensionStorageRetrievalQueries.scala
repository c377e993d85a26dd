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

/** storage layout (bucketing, SCD2, JSONL, pruning), multimodal, BM25/RRF retrieval, perplexity, PQ/ADC ANN recall family — a CONTIGUOUS, ORDER-PRESERVING slice of the
  * extension catalog (r15 split of the 6.2k-line ExtensionQueries;
  * entry text unchanged, aggregation order unchanged in
  * ExtensionQueries.specs). */
private[queries] object ExtensionStorageRetrievalQueries {
  import ExtensionSupport._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("s10_bucketed_colocated_join",
      "bucketed persistent fact tables: both sides pre-shuffled on the " +
        "join key at write time, so the join plans with ZERO shuffle " +
        "exchanges below it (asserted in-query on the physical plan); " +
        "the result hash-matches the plain-join oracle",
      (s, dir) => {
        // project to the join/agg columns BEFORE the bucketed write:
        // the bucket exchange + sort + parquet write then carries 2
        // columns per side instead of the full fact width (guide
        // §2.3 project-before-the-exchange, §6 write only what the
        // readers need) — the co-location contract and the joined
        // result are unchanged
        Warehouse.saveBucketed(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority")),
          "orders_bkt", Seq("o_orderkey"), 8)
        Warehouse.saveBucketed(t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_extendedprice")),
          "lineitem_bkt", Seq("l_orderkey"), 8)
        // merge hint: keep the demonstration a sort-merge join even at
        // scale factors where the orders side would broadcast
        val joined = s.table("lineitem_bkt").hint("merge")
          .join(s.table("orders_bkt"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
          .orderBy(col("o_orderpriority"))
        // plan contract, enforced non-silently: the join consumes
        // co-located buckets, so no exchange may appear below it (the
        // groupBy on the non-bucket column is the only shuffle)
        val smjs = joined.queryExecution.sparkPlan.collect {
          case j: SortMergeJoinExec => j
        }
        require(smjs.nonEmpty,
          "expected a sort-merge join over the bucketed tables")
        val shufflesBelowJoin = smjs.head.collect {
          case e: ShuffleExchangeExec => e
        }
        require(shufflesBelowJoin.isEmpty,
          s"bucketed co-located join must not shuffle; got:\n${smjs.head}")
        joined
      },
      Some("""SELECT o.o_orderpriority,
             |  CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_price
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |GROUP BY o.o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    QuerySpec("x33_context_chunking",
      "fixed-context chunking with overlap: each document's token " +
        "sequence split into 64-token windows advancing by 48 (16 " +
        "overlap) — the pretraining context-window step; per-chunk " +
        "offsets + content md5, all in-row (narrow projection + " +
        "posexplode, zero shuffles before the gate's ORDER BY)",
      (s, dir) => graft.operators.Packing.slidingChunks(
          t(s, dir, "documents"), "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some(s"""WITH base AS (
              |  SELECT doc_id, $duckWsTokens AS tk FROM documents),
              |st AS (
              |  SELECT doc_id, tk,
              |    unnest(range(1, greatest(len(tk) - 16, 1) + 1, 48)) AS st
              |  FROM base)
              |SELECT doc_id,
              |  CAST((st - 1) // 48 AS BIGINT) AS chunk_id,
              |  CAST(st AS BIGINT) AS start_tok,
              |  CAST(least(64, len(tk) - st + 1) AS BIGINT) AS n_tokens,
              |  md5(array_to_string(list_slice(tk, st, st + 63), ' '))
              |    AS chunk_md5
              |FROM st ORDER BY doc_id, chunk_id""".stripMargin)),

    QuerySpec("s13_partition_pruned_scan",
      "hive-partitioned parquet layout + pruned read: events rewritten " +
        "partitioned by event_type, the filtered scan carries a " +
        "partition filter (asserted in-query) so pruned directories " +
        "are never listed or read; result hash-matches the plain " +
        "filtered oracle over the original parquet",
      (s, dir) => {
        val path = Warehouse.savePartitioned(t(s, dir, "events"),
          "events_part", Seq("event_type"))
        val q = Tables.readParquet(s, path)
          .filter(col("event_type") === "purchase")
          .groupBy((col("user_id") % 100).as("user_bucket"))
          .agg(count(lit(1)).as("n_events"),
            min(col("event_id")).as("min_event_id"),
            max(col("event_id")).as("max_event_id"))
          .orderBy(col("user_bucket"))
        // plan contract: the scan must prune on the partition column,
        // not post-filter full data — a missing partition filter here
        // means the layout silently lost its only reason to exist
        val scans = q.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        require(scans.nonEmpty, "expected a parquet file scan")
        require(scans.head.partitionFilters.exists(
            _.references.exists(_.name == "event_type")),
          s"scan must carry an event_type partition filter; got:\n${scans.head}")
        q
      },
      Some("""SELECT user_id % 100 AS user_bucket,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  min(event_id) AS min_event_id,
             |  max(event_id) AS max_event_id
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY user_bucket ORDER BY user_bucket""".stripMargin)),

    QuerySpec("s12_scd2_merge",
      "SCD2 dimension merge: customer segments as a type-2 history, " +
        "one batch with changed (%7), unchanged-resent (%5, exercises " +
        "the null-safe no-change path) and brand-new (+1M keys, %13) " +
        "rows — changed keys close their predecessor and open a new " +
        "version; ONE full-outer shuffle on the key, history rows " +
        "never join",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val dim = cust.select(col("c_custkey"), col("c_mktsegment"),
          to_date(lit("1995-01-01")).as("valid_from"),
          lit(null).cast("date").as("valid_to"),
          lit(true).as("is_current"))
        val updates = cust.filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey"),
              concat(col("c_mktsegment"), lit("-R2")).as("c_mktsegment"))
          .unionAll(cust
            .filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 7 =!= 0)
            .select(col("c_custkey"), col("c_mktsegment")))
          .unionAll(cust.filter(col("c_custkey") % 13 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit("NEW").as("c_mktsegment")))
        Relational.scd2Merge(dim, updates, "c_custkey",
            Seq("c_mktsegment"), to_date(lit("2000-06-01")))
          .orderBy(col("c_custkey"), col("valid_from"))
      },
      // the oracle states the RESULT directly: '-R2' always differs,
      // resent rows never do, so the merge mechanics reduce to set
      // arithmetic on the key residues
      Some("""WITH res AS (
             |  SELECT c_custkey, c_mktsegment,
             |    DATE '1995-01-01' AS valid_from,
             |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
             |  FROM customer WHERE c_custkey % 7 <> 0
             |  UNION ALL
             |  SELECT c_custkey, c_mktsegment,
             |    DATE '1995-01-01', DATE '2000-06-01', FALSE
             |  FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey, c_mktsegment || '-R2',
             |    DATE '2000-06-01', NULL, TRUE
             |  FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey + 1000000, 'NEW',
             |    DATE '2000-06-01', NULL, TRUE
             |  FROM customer WHERE c_custkey % 13 = 0)
             |SELECT * FROM res
             |ORDER BY c_custkey, valid_from""".stripMargin)),

    QuerySpec.lateBound("s11_jsonl_roundtrip",
      "JSONL source/sink round-trip: corpus written as newline-" +
        "delimited JSON, read back under a DECLARED schema, content " +
        "digests verified — the late-bound oracle reads the very " +
        "same part files this run wrote (NOTE: like s10, building " +
        "this query performs the write eagerly — it IS the sink " +
        "op)") { (s, dir) =>
      // per-scale path so a later different-sf run can never leave
      // files a re-checked oracle would silently mis-validate; a
      // warehouse, not a run, location: DuckDB reads the same part
      // files after the run's JVM may have exited
      val path = localPath(Locations.warehouse(s,
        s"jsonl_docs_${new java.io.File(dir).getName}"))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.sources.Jsonl.write(docs, path)
      val schema = new StructType()
        .add("doc_id", LongType).add("text", StringType)
      (graft.sources.Jsonl.read(s, path, schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id")),
      () =>
        s"""SELECT doc_id, md5(text) AS text_md5,
           |       CAST(length(text) AS BIGINT) AS n_chars
           |FROM read_json('$path/part-*',
           |       format='newline_delimited',
           |       columns={doc_id: 'BIGINT', text: 'VARCHAR'})
           |ORDER BY doc_id""".stripMargin)
    },

    QuerySpec("q5_profile_summarize",
      "per-column data profile (the DuckDB SUMMARIZE surface): type, " +
        "rows, nulls, exact distinct count per column in one pass",
      (s, dir) => Warehouse.profile(t(s, dir, "orders"))
        .orderBy(col("column_name")),
      Some {
        // the orders schema is stable synthetic test data; the Spark
        // side derives names/types from the frame at runtime
        val cols = Seq(
          "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
          "o_orderstatus" -> "string", "o_totalprice" -> "double",
          // Spark 4 reads parquet timestamps without timezone as NTZ
          "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string")
        cols.map { case (c, t) =>
          s"""SELECT '$c' AS column_name, '$t' AS data_type,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
             |FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    QuerySpec("x30_domain_quota",
      "per-domain quota sampling (the CC per-site cap): keep each " +
        "source's 10 lowest-id docs via the two-phase sharded rank — " +
        "no task ever sees more than shards*quota rows of one domain",
      (s, dir) => graft.operators.Sampling.domainQuota(
          t(s, dir, "documents"), "source", "doc_id", quota = 10)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id")),
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id, row_number() OVER
             |    (PARTITION BY source ORDER BY doc_id) AS rn
             |  FROM documents) t
             |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin)),

    QuerySpec("g7_quantile_bound",
      "numeric quantile profiling with an asserted sketch bound: " +
        "exact min/max per column + approx_percentile(10k) required " +
        "inside the rank-tolerance envelope [exact(p-.005), " +
        "exact(p+.005)] (p50, p95) — the epsilon-quantile guarantee " +
        "the sketch makes, granularity-independent; g4's pattern",
      (s, dir) => Warehouse.profileQuantiles(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          Seq(0.5, 0.95))
        .orderBy(col("column_name")),
      Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map { c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(min($c) AS DOUBLE) AS min_val,
             |  CAST(max($c) AS DOUBLE) AS max_val,
             |  TRUE AS p50_within_tol, TRUE AS p95_within_tol
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))),

    QuerySpec("q5b_profile_sampled_approx",
      "the 100 TB profile form: deterministic 10% hash-sample slice " +
        "profiled exactly + HLL++ distinct asserted within 5% of the " +
        "sampled-exact count (g4's bound-assertion pattern per column)",
      (s, dir) => Warehouse.profileSampled(t(s, dir, "orders"),
          "o_orderkey", pct = 10)
        .orderBy(col("column_name")),
      Some {
        val cols = Seq(
          "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
          "o_orderstatus" -> "string", "o_totalprice" -> "double",
          "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string")
        val slice = "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR))" +
          ", 1, 15))::BIGINT % 100 < 10"
        cols.map { case (c, t) =>
          s"""SELECT '$c' AS column_name, '$t' AS data_type,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  TRUE AS approx_within_tol
             |FROM orders WHERE $slice""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    QuerySpec("m1_multimodal_binary_meta",
      "binary-column plumbing: opaque bytes + typed metadata extraction",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("bytes"))
        .select(col("doc_id"),
          octet_length(col("bytes")).cast("long").as("n_bytes"),
          substring(hex(col("bytes")), 1, 8).as("magic_hex"),
          md5(col("bytes")).as("content_md5"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  octet_length(text::BLOB) AS n_bytes,
             |  substr(hex(text::BLOB), 1, 8) AS magic_hex,
             |  md5(text) AS content_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("m2_multimodal_decode",
      "typed mapPartitions decode pipeline over NON-image payloads " +
        "(text bytes sniff as octet-stream and take the md5 stub arm; " +
        "md5-deterministic pseudo-features keep the JVM path " +
        "oracle-verified; real image decoding is m2b)",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val media = graft.operators.Multimodal.fromBinaryColumn(
          s, docs, "doc_id", "text")
        graft.operators.Multimodal.decodeFeatures(media).toDF()
          .select(col("id"), col("n_bytes"), col("magic_hex"),
            col("content_md5"), col("width"), col("height"))
          .orderBy(col("id"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id AS id,
             |    CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
             |    lower(substr(hex(text::BLOB), 1, 8)) AS magic_hex,
             |    md5(text) AS content_md5,
             |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv
             |  FROM documents)
             |SELECT id, n_bytes, magic_hex, content_md5,
             |  CAST(hv % 640 + 16 AS BIGINT) AS width,
             |  CAST((hv // 640) % 480 + 16 AS BIGINT) AS height
             |FROM h ORDER BY id""".stripMargin)),

    QuerySpec("m2b_multimodal_decode_real",
      "REAL image decode (javax.imageio, JDK-native): per doc a " +
        "deterministic (doc_id % 64 + 16) x (doc_id % 48 + 16) PNG is " +
        "sniffed and pixel-decoded back — the oracle states the " +
        "dimensions as arithmetic, so a decode that lied about " +
        "width/height or validity hash-fails; the per-row DECODE is " +
        "the operator under test, so the fixture ENCODE is memoized " +
        "per partition over the lcm(64,48)=192 distinct dimension " +
        "pairs; both run in the narrow mapPartitions stage, no shuffle",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            val memo = scala.collection.mutable.HashMap
              .empty[(Int, Int), Array[Byte]]
            it.map { id =>
              val dims = ((id % 64 + 16).toInt, (id % 48 + 16).toInt)
              val bytes = memo.getOrElseUpdate(dims,
                graft.operators.Multimodal.synthPng(dims._1, dims._2))
              graft.operators.Multimodal.MediaRecord(id, bytes,
                graft.operators.Multimodal.sniffMime(bytes))
            }
          }
        graft.operators.Multimodal.decodeFeatures(media).toDF()
          .select(col("id"), col("width"), col("height"), col("is_valid"))
          .orderBy(col("id"))
      },
      Some("""SELECT doc_id AS id,
             |  CAST(doc_id % 64 + 16 AS BIGINT) AS width,
             |  CAST(doc_id % 48 + 16 AS BIGINT) AS height,
             |  TRUE AS is_valid
             |FROM documents ORDER BY id""".stripMargin)),

    QuerySpec("m2c_multimodal_audio_real",
      "REAL audio decode (javax.sound.sampled, JDK-native): per doc a " +
        "deterministic PCM-16 WAV — rate 8000 + (doc_id % 5) * 2000, " +
        "channels 1 + doc_id % 2, frames 1000 + (doc_id % 7) * 500 — " +
        "is sniffed and container-parsed back; the oracle states " +
        "rate/channels/frames/duration as arithmetic, so a parse " +
        "that misread the fmt or data chunk hash-fails; the per-row " +
        "PARSE is the operator under test, so the fixture encode is " +
        "memoized per partition over the 5*2*7=70 distinct container " +
        "shapes; both run in the narrow mapPartitions stage, no shuffle",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            val memo = scala.collection.mutable.HashMap
              .empty[(Int, Int, Int), Array[Byte]]
            it.map { id =>
              val shape = ((8000 + (id % 5) * 2000).toInt,
                (1 + id % 2).toInt, (1000 + (id % 7) * 500).toInt)
              val bytes = memo.getOrElseUpdate(shape,
                graft.operators.Multimodal.synthWav(
                  shape._1, shape._2, shape._3))
              graft.operators.Multimodal.MediaRecord(id, bytes,
                graft.operators.Multimodal.sniffMime(bytes))
            }
          }
        graft.operators.Multimodal.decodeAudioFeatures(media).toDF()
          .select(col("id"), col("sample_rate"), col("channels"),
            col("n_frames"), col("duration_ms"), col("is_valid"))
          .orderBy(col("id"))
      },
      Some("""SELECT doc_id AS id,
             |  CAST(8000 + (doc_id % 5) * 2000 AS BIGINT) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             |  CAST(1000 + (doc_id % 7) * 500 AS BIGINT) AS n_frames,
             |  CAST((1000 + (doc_id % 7) * 500) * 1000
             |    // (8000 + (doc_id % 5) * 2000) AS BIGINT) AS duration_ms,
             |  TRUE AS is_valid
             |FROM documents ORDER BY id""".stripMargin)),

    QuerySpec("m2d_multimodal_video_real",
      "REAL video container metadata (no codec): per doc a " +
        "deterministic MP4 (even doc_id: ISO BMFF ftyp+moov/mvhd/" +
        "tkhd) or WebM (odd doc_id: EBML Segment/Info/Tracks) " +
        "container — dims (320 + id%8*16) x (180 + id%6*30), " +
        "duration 1000 + id%10*500 ms — is sniffed and header-walked " +
        "back; the oracle states container/dims/duration as " +
        "arithmetic, so a walk that misread a box size, a 16.16 " +
        "fixed-point dimension, or an EBML vint hash-fails; encode " +
        "memoized per partition over the bounded shape set; narrow " +
        "mapPartitions stage, no shuffle",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            val memo = scala.collection.mutable.HashMap
              .empty[(Boolean, Int, Int, Long), Array[Byte]]
            it.map { id =>
              val shape = (id % 2 == 0, (320 + (id % 8) * 16).toInt,
                (180 + (id % 6) * 30).toInt, 1000L + (id % 10) * 500L)
              val bytes = memo.getOrElseUpdate(shape,
                if (shape._1)
                  graft.operators.Multimodal.synthMp4(
                    shape._2, shape._3, shape._4)
                else
                  graft.operators.Multimodal.synthWebm(
                    shape._2, shape._3, shape._4))
              graft.operators.Multimodal.MediaRecord(id, bytes,
                graft.operators.Multimodal.sniffMime(bytes))
            }
          }
        graft.operators.Multimodal.decodeVideoFeatures(media).toDF()
          .select(col("id"), col("container"), col("width"),
            col("height"), col("duration_ms"), col("is_valid"))
          .orderBy(col("id"))
      },
      Some("""SELECT doc_id AS id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END
             |    AS container,
             |  CAST(320 + (doc_id % 8) * 16 AS BIGINT) AS width,
             |  CAST(180 + (doc_id % 6) * 30 AS BIGINT) AS height,
             |  CAST(1000 + (doc_id % 10) * 500 AS BIGINT) AS duration_ms,
             |  TRUE AS is_valid
             |FROM documents ORDER BY id""".stripMargin)),

    QuerySpec("m3_multimodal_transform",
      "resize + frame-sample plumbing: aspect-fit dims and evenly " +
        "spaced frame offsets over the stub duration (arithmetic " +
        "bit-identical cross-engine)",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val media = graft.operators.Multimodal.fromBinaryColumn(
          s, docs, "doc_id", "text")
        val feats = graft.operators.Multimodal.decodeFeatures(media)
        graft.operators.Multimodal.transformStage(feats, 64, 64, 3).toDF()
          .orderBy(col("id"), col("frame_idx"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id AS id,
             |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv
             |  FROM documents),
             |dims AS (
             |  SELECT id,
             |    CAST(hv % 640 + 16 AS BIGINT) AS width,
             |    CAST((hv // 640) % 480 + 16 AS BIGINT) AS height,
             |    CAST(hv % 120000 AS BIGINT) AS dur
             |  FROM h),
             |resized AS (
             |  SELECT *,
             |    CAST(floor(width * least(1.0, 64.0 / width, 64.0 / height))
             |      AS BIGINT) AS resized_w,
             |    CAST(floor(height * least(1.0, 64.0 / width, 64.0 / height))
             |      AS BIGINT) AS resized_h
             |  FROM dims),
             |frames AS (
             |  SELECT id, width, height, resized_w, resized_h, dur,
             |         unnest([0, 1, 2]) AS frame_idx
             |  FROM resized)
             |SELECT id, width, height, resized_w, resized_h, frame_idx,
             |  CAST(frame_idx * dur // 3 AS BIGINT) AS frame_offset_ms
             |FROM frames ORDER BY id, frame_idx""".stripMargin)),

    QuerySpec("x35_exact_substring_dedup",
      "exact duplicated-SPAN removal (Lee et al. 2022 ExactSubstr " +
        "re-expressed as keyed dataflow): every 8-token window hashed " +
        "in-row, occurrences past the global first removed token-wise, " +
        "survivors reassembled — one window-hash shuffle + one per-doc " +
        "groupBy; never pairwise, no suffix array, no task ever holds " +
        "more than one document",
      (s, dir) => Dedup.exactSubstringDedup(t(s, dir, "documents"),
          "doc_id", "text", l = 8)
        .orderBy(col("doc_id")),
      Some(Dedup.exactSubstringOracleSql("documents", "doc_id", "text", 8))),

    QuerySpec("x35b_duplicate_spans",
      "MAXIMAL duplicated spans — the multi-length span report behind " +
        "x35's removal (Lee et al. 2022 suffix-array semantics as " +
        "dataflow): duplicated 8-token seed windows are extended and " +
        "merged gaps-and-islands style into maximal spans, so a " +
        "100-token copied paragraph is ONE span row at full length, " +
        "not 93 window hits; same shuffle budget as x35 (one window-" +
        "hash exchange + one per-doc exchange whose state is a single " +
        "document's seed starts)",
      (s, dir) => Dedup.duplicateSpans(t(s, dir, "documents"),
          "doc_id", "text", l = 8)
        .orderBy(col("doc_id"), col("span_start")),
      Some(Dedup.duplicateSpansOracleSql("documents", "doc_id",
        "text", 8))),

    QuerySpec("x36_bm25_retrieval",
      "BM25 top-20 lexical retrieval (Robertson & Zaragoza 2009) for " +
        "a 3-term query: ln-idf BM25, per-doc term scores folded in " +
        "sorted order, score rounded to 6dp before ranking so both " +
        "engines cut the same top-k; terms filtered AT THE SCAN so the " +
        "corpus text is never shuffled, top-k is TakeOrdered not a " +
        "global sort",
      (s, dir) => Retrieval.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "window", "merge"), k = 20),
      Some(Retrieval.bm25OracleSql("documents", "doc_id", "text",
        Seq("spark", "window", "merge"), k = 20))),

    QuerySpec("x36b_hybrid_rrf",
      "hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. " +
        "2009): x36's BM25 lexical top-20 and the exact-cosine dense " +
        "top-20 (query vector 0) fused by sum(1/(60+rank)) — rank " +
        "positions only, never the incomparable raw scores, so no " +
        "calibration step; fusion touches 40 rows total, the cost " +
        "stays in the two retriever legs",
      (s, dir) => {
        val lex = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
            "text", Seq("spark", "window", "merge"), k = 20)
          .select(col("doc_id").as("id"), col("score_r"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score_r").desc, col("id"))))
          .select(col("id"), col("rank"))
        val emb = t(s, dir, "embeddings")
        val vec = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") === 0), "vec_id", "embedding", 20)
          .select(col("did").as("id"), col("rn").as("rank"))
        Retrieval.rrfFuse(Seq("lex" -> lex, "vec" -> vec), k0 = 60, k = 10)
          .select(col("id").as("doc_id"), col("rn"), col("rrf_r"),
            col("lex_rn"), col("vec_rn"))
          .orderBy(col("rn"))
      },
      Some(s"""WITH lexraw AS (
              |  ${Retrieval.bm25OracleSql("documents", "doc_id", "text",
                   Seq("spark", "window", "merge"), k = 20)
                   .replace("\n", "\n  ")}),
              |lex AS (
              |  SELECT doc_id AS id, CAST(row_number() OVER
              |    (ORDER BY score_r DESC, doc_id) AS BIGINT) AS lex_rn
              |  FROM lexraw),
              |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
              |      FROM embeddings WHERE vec_id = 0),
              |c AS (SELECT vec_id AS did, embedding::DOUBLE[] AS dvec
              |      FROM embeddings),
              |scored AS (
              |  SELECT did,
              |    CASE WHEN sqrt(list_dot_product(qvec, qvec)) *
              |              sqrt(list_dot_product(dvec, dvec)) > 0
              |      THEN list_dot_product(qvec, dvec) /
              |           (sqrt(list_dot_product(qvec, qvec)) *
              |            sqrt(list_dot_product(dvec, dvec)))
              |      ELSE 0.0 END AS cos
              |  FROM c JOIN q ON qid <> did),
              |vec AS (
              |  SELECT did AS id, CAST(row_number() OVER
              |    (ORDER BY cos DESC, did) AS BIGINT) AS vec_rn
              |  FROM scored QUALIFY vec_rn <= 20),
              |fused AS (
              |  SELECT coalesce(l.id, v.id) AS doc_id, l.lex_rn, v.vec_rn,
              |    round(coalesce(1.0/(60 + l.lex_rn), 0.0) +
              |          coalesce(1.0/(60 + v.vec_rn), 0.0), 6) AS rrf_r
              |  FROM lex l FULL OUTER JOIN vec v ON l.id = v.id)
              |SELECT doc_id, CAST(row_number() OVER
              |    (ORDER BY rrf_r DESC, doc_id) AS BIGINT) AS rn,
              |  rrf_r, lex_rn, vec_rn
              |FROM fused
              |QUALIFY rn <= 10
              |ORDER BY rn""".stripMargin)),

    QuerySpec("x37_bloom_join_prefilter",
      "bloom-sketch join prefilter: Spark's native bloom aggregate " +
        "over high-value order keys (driver-collected KB-scale binary " +
        "riding the plan as a literal — InjectRuntimeFilter's own " +
        "materialization shape), pruning lineitem codegen'd at the " +
        "scan with zero shuffle; the exact join re-verifies survivors " +
        "so bloom false positives never reach the result",
      (s, dir) => {
        val hot = t(s, dir, "orders")
          .filter(col("o_totalprice") > 150000)
          .select(col("o_orderkey"), col("o_orderpriority"))
        val sketch = hot.agg(SketchFunctions.bloomFilterAgg(
            col("o_orderkey"), 100000L).as("bf"))
          .head.getAs[Array[Byte]]("bf")
        t(s, dir, "lineitem")
          .filter(SketchFunctions.mightContain(sketch, col("l_orderkey")))
          .join(hot, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(dec2(col("l_extendedprice")) *
              (lit(1) - dec2(col("l_discount"))))
              .cast("double").as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |       (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             |    AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 150000
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QuerySpec("x38_perplexity_buckets",
      "CCNet-style LM quality filter (Wenzek et al. 2020): per-doc " +
        "unigram cross-entropy under a model trained on the trusted " +
        "English slice, add-one smoothing, then head/middle/tail " +
        "terciles PER LANGUAGE via ntile over a total order — the " +
        "perplexity-bucketing stage of a web-scale pretraining " +
        "pipeline; token-sorted left fold + 6dp rounding make the ln " +
        "arithmetic hash-stable across engines",
      (s, dir) => LanguageModel.crossEntropyBuckets(
        t(s, dir, "documents"), "doc_id", "text", "lang", "lang = 'en'"),
      Some(LanguageModel.crossEntropyOracleSql(
        "documents", "doc_id", "text", "lang", "lang = 'en'"))),

    QuerySpec.lateBound("x39_pq_adc_topk",
      "product-quantization ANN, IVFADC shape (Jégou et al. 2011): " +
        "corpus compressed to 8 one-byte PQ codes by a deterministic " +
        "per-subspace Lloyd trainer (ONE fused shuffle per iteration " +
        "for all subspaces), IVF cell pruning, per-query LUTs, " +
        "asymmetric inner-product scoring that never re-reads the raw " +
        "vectors; late-bound oracle embeds the trained codebooks AND " +
        "coarse centroids as literals and hash-matches " +
        "bit-for-bit") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val (books, cents) = (memoBooks(s, dir), memoCentroids(s, dir))
      (Similarity.adcTopKWith(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5, books, cents, nProbes = 2,
          residual = false)
        .select(col("qid"), col("rn"), col("did"),
          round(col("score"), 6).as("adc_r"))
        .orderBy(col("qid"), col("rn")),
      () => Similarity.adcOracleSql("embeddings", "vec_id", "embedding",
        5, books, cents, nProbes = 2, queryPred = "vec_id < 8",
        residual = false))
    },

    QuerySpec("s14_zorder_clustered_scan",
      "Z-order (Morton) clustered layout + two-column box query: " +
        "lineitem rewritten z-clustered on (l_partkey, l_suppkey) — " +
        "one range exchange + in-partition sort, same cost as a " +
        "single-column sort — so every file covers a tight box in " +
        "BOTH dimensions and min/max stats prune filters on either; " +
        "the scan is asserted in-query to push both predicates down, " +
        "and LayoutSpec proves the per-file box tightness against a " +
        "linear-sort baseline",
      (s, dir) => {
        // bits auto-derived from the key domain: a hardcoded width
        // (21 formerly) silently collides z-cells once partkey grows
        // past 2^21 at SF >= ~10
        val path = Layout.saveZOrdered(t(s, dir, "lineitem"),
          "lineitem_zorder", "l_partkey", "l_suppkey", bits = 0,
          nFiles = 8)
        val q = Tables.readParquet(s, path)
          .filter(col("l_partkey").between(100, 300) &&
            col("l_suppkey").between(10, 40))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
          .orderBy(col("l_returnflag"))
        // plan contract: both cluster-column predicates must reach the
        // parquet scan (PushedFilters) — that is what turns the
        // z-layout's per-file min/max boxes into skipped IO
        val scans = q.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        require(scans.nonEmpty, "expected a parquet file scan")
        val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
        require(pushed.contains("l_partkey") && pushed.contains("l_suppkey"),
          s"both box predicates must be pushed to the scan; got: $pushed")
        q
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_price
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 300
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QuerySpec("s14b_bloom_point_lookup",
      "parquet bloom-filter layout + point lookup — the standard " +
        "needle-in-100 TB access path for a HIGH-CARDINALITY key the " +
        "layout is NOT sorted by (min/max stats can't prune a " +
        "hash-distributed key): lineitem rewritten hash-distributed " +
        "on l_orderkey with split-block bloom filters per row group " +
        "and a bounded block size so files hold several row groups; " +
        "the builder walks the WRITTEN footers and REQUIRES every " +
        "row group carries a filter AND the probe key's candidate " +
        "row groups are a strict minority (the skipped majority is " +
        "the saved IO), plus the equality predicate reaching the " +
        "scan as a pushed filter; the lookup result itself is " +
        "hash-gated against DuckDB over the original table",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_partkey").cast("long").as("l_partkey"),
          dec2(col("l_quantity")).as("qty"),
          col("l_returnflag"))
        val path = Layout.saveBloomFiltered(li, "lineitem_bloom",
          "l_orderkey", nFiles = 4, expectedNdv = 20000L,
          blockBytes = 256L << 10)
        // deterministic probe both engines can name: the max key
        val probe = li.agg(max(col("l_orderkey"))).head().getLong(0)
        val (total, withBloom, cand) =
          Layout.bloomPointLookupStats(s, path, "l_orderkey", probe)
        require(total > 0 && withBloom == total,
          s"every row group must carry a bloom filter on l_orderkey; " +
            s"got $withBloom of $total")
        require(cand < total,
          s"bloom filters must rule out row groups for the probe: " +
            s"$cand candidates of $total row groups — no skip, no point")
        // boundary convention: decimal never crosses to the
        // comparator (representational divergence vs DuckDB), and the
        // ORDER BY must be a total order — the synthetic fixture has
        // duplicate (l_orderkey, l_linenumber) pairs (see
        // ParityQueries note on the fixture trap), so l_partkey and
        // qty complete the key.
        val q = Tables.readParquet(s, path)
          .filter(col("l_orderkey") === probe)
          .withColumn("qty", col("qty").cast("double"))
          .orderBy(col("l_linenumber"), col("l_partkey"), col("qty"),
            col("l_returnflag"))
        val scans = q.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        require(scans.nonEmpty, "expected a parquet file scan")
        val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
        require(pushed.contains("l_orderkey"),
          s"point predicate must be pushed to the scan; got: $pushed")
        q
      },
      Some("""SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
             |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |  CAST(l_partkey AS BIGINT) AS l_partkey,
             |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty,
             |  l_returnflag
             |FROM lineitem
             |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
             |ORDER BY l_linenumber, l_partkey, qty, l_returnflag"""
        .stripMargin)),

    QuerySpec("x40_heavy_hitters_two_phase",
      "scalable heavy-hitter tokens, sample-then-verify: phase 1 " +
        "counts a deterministic 20% hash-sample of docs and keeps a " +
        "candidate pool (total-order top-N), phase 2 recounts ONLY " +
        "candidate tokens over the full corpus — the wide shuffle " +
        "carries candidate rows instead of every token occurrence, " +
        "the at-scale shape for vocabulary/stopword mining; exact " +
        "counts in the output, candidates broadcast",
      (s, dir) => TextAnalysis.heavyHitters(t(s, dir, "documents"),
        "doc_id", "text", k = 25, candPool = 100, samplePct = 20),
      Some(TextAnalysis.heavyHittersOracleSql("documents", "doc_id",
        "text", k = 25, candPool = 100, samplePct = 20))
    ),

    QuerySpec.lateBound("x41_incremental_ivf_append",
      "ANN index maintenance, append path: centroids frozen from a " +
        "Lloyd train over the base slice (vec_id < 400), the arriving " +
        "batch (vec_id >= 400) assigned by a narrow projection — no " +
        "retrain, no shuffle, no driver state beyond K codewords; the " +
        "per-row rounded best-dot score is the drift signal that " +
        "schedules the next full retrain") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val centroids = Similarity.ivfTrain(
        emb.filter(col("vec_id") < 400), "vec_id", "embedding",
        nCells = 8, iters = 2)
      (Similarity.ivfAssign(emb.filter(col("vec_id") >= 400),
          "vec_id", "embedding", centroids)
        .orderBy(col("vec_id")),
      () => Similarity.ivfAssignOracleSql("embeddings",
        "vec_id", "embedding", centroids, newPred = "vec_id >= 400"))
    },

    QuerySpec.lateBound("x42_pq_residual_topk",
      "FULL IVF-PQ with residual encoding (Jégou et al. 2011 §III): " +
        "codebooks quantize v - centroid(cell), recovering the " +
        "reconstruction error a cell-agnostic codebook wastes; " +
        "residuals are NEVER materialized — encode is argmax(dot(v, " +
        "cw) - bias[cell][j]) with driver-computed bias literals, and " +
        "a candidate's score is its probe's own dot(q, centroid) plus " +
        "m residual-LUT lookups, so both engines run identical " +
        "arithmetic; late-bound oracle embeds centroids + residual " +
        "codebooks + biases") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val (books, cents) = (memoResBooks(s, dir), memoCentroids(s, dir))
      (Similarity.adcTopKWith(emb,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5,
          books, cents, nProbes = 2, residual = true)
        .select(col("qid"), col("rn"), col("did"),
          round(col("score"), 6).as("score_r"))
        .orderBy(col("qid"), col("rn")),
      () => Similarity.adcOracleSql("embeddings", "vec_id",
        "embedding", 5, books, cents, nProbes = 2,
        queryPred = "vec_id < 8", residual = true))
    },

    QuerySpec.lateBound("x42b_pq_recall_eval",
      "PQ governance: per-query recall@5 of BOTH compressed paths " +
        "(plain IVFADC and residual IVF-PQ) against the exact " +
        "brute-force top-k — the gate that picks m/ksub/nProbes and " +
        "decides whether residual encoding pays for a corpus before " +
        "scaling out; hash-gated through the same late-bound " +
        "codebook+centroid oracles (x6c's pattern)") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id",
        "embedding", 5)
      val (plainBooks, cents) = (memoBooks(s, dir), memoCentroids(s, dir))
      val resBooks = memoResBooks(s, dir)
      val plain = Similarity.adcTopKWith(emb, q, "vec_id",
        "embedding", 5, plainBooks, cents, nProbes = 2, residual = false)
      val res = Similarity.adcTopKWith(emb, q, "vec_id",
        "embedding", 5, resBooks, cents, nProbes = 2, residual = true)
      (Similarity.recallAtK(plain, exact)
        .withColumnRenamed("recall_at_k", "recall_pq")
        .join(Similarity.recallAtK(res, exact)
          .withColumnRenamed("recall_at_k", "recall_respq"), Seq("qid"))
        .orderBy(col("qid")),
      () => {
        def adc(books: Array[Array[Array[Double]]], residual: Boolean) =
          Similarity.adcOracleSql("embeddings", "vec_id", "embedding", 5,
            books, cents, nProbes = 2, queryPred = "vec_id < 8", residual)
        s"""SELECT pr.qid, pr.recall_pq, rr.recall_respq
           |FROM (${Similarity.recallOracleSql(
             adc(plainBooks, residual = false), annTopkOracle, "recall_pq")}) pr
           |JOIN (${Similarity.recallOracleSql(
             adc(resBooks, residual = true), annTopkOracle, "recall_respq")}) rr
           |  ON pr.qid = rr.qid ORDER BY pr.qid""".stripMargin
      })
    },

    QuerySpec("x43_token_budget_selection",
      "token-budget data selection: keep the highest-margin documents " +
        "(x34's classifier) until a 10k-token budget is spent — the " +
        "greedy 'train on the best N tokens' curation fill; the " +
        "cumulative sum is the r15 range-bucketed two-level prefix " +
        "sum keyed on (quality desc, id) — safe even for near-unique " +
        "raw float margins, no corpus-wide window task and no " +
        "quality-cardinality precondition — bit-identical to the " +
        "one-line running-window oracle (integer masses, associative " +
        "regrouping); losers are emitted with their cum_tok so the " +
        "budget boundary is auditable",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            wsTokens(col("text")).as("__tk"))
          .select(col("doc_id"),
            round(TextAnalysis.classifierMargin(col("text"), col("__tk")),
              6).as("margin_r"),
            size(col("__tk")).cast("long").as("n_tok"))
        graft.operators.Corpus.budgetSelect(d, "doc_id", "margin_r",
          "n_tok", budgetTokens = 10000L)
      },
      Some {
        val margin =
          s"-1.2 + (CAST($duckSwCount AS DOUBLE) / $duckNTok) * 2.0 + " +
            s"($duckAlpha) * 1.5 + " +
            s"(CASE WHEN $duckMeanLen >= 3 AND $duckMeanLen <= 10 " +
            "THEN 0.8 ELSE 0.0 END) + " +
            s"CAST(least($duckNTok, 400) AS DOUBLE) / 400.0 * 0.5"
        graft.operators.Corpus.budgetSelectOracleSql(
          s"(SELECT doc_id, text, round($margin, 6) AS margin_r " +
            "FROM documents) src",
          "doc_id", "margin_r", duckNTok, budgetTokens = 10000L)
      }),

    QuerySpec("s15_compaction",
      "small-file compaction: documents deliberately fragmented into " +
        "64 KB-scale files, rewritten into row-sized files clustered " +
        "on doc_id (one range exchange + in-partition sort — the " +
        "maintenance job every micro-batch ingest needs); file-count " +
        "reduction REQUIREd in-query, content identity hash-gated " +
        "against the original table",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // fragmentation and the expected compacted count both scale
        // with the corpus, so the REQUIRE holds at every SF
        val expected = ((docs.count() + 199) / 200).toInt
        val frag = Warehouse.saveFormat(
          docs.repartition(4 * expected), "docs_frag", "parquet")
        val before = Layout.parquetFileCount(s, frag)
        val compacted = Layout.compact(s, frag, "docs_compact",
          targetRowsPerFile = 200L, sortCol = "doc_id")
        val after = Layout.parquetFileCount(s, compacted)
        require(after < before && after == expected,
          s"compaction must hit ceil(n/target) files " +
            s"($before -> $after, expected $expected)")
        Tables.readParquet(s, compacted)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QuerySpec("x44_bigram_perplexity",
      "bigram LM cross-entropy with interpolation backoff (the n-gram " +
        "step toward CCNet's 5-gram KenLM): p(w2|w1) = 0.7*ML-bigram " +
        "+ 0.3*add-one unigram, trained on the English slice; backoff " +
        "keeps ln defined on fully-OOV bigrams, per-doc fold sorted " +
        "by (w1,w2), 6dp-rounded; three token-keyed model joins, " +
        "corpus text never shuffled",
      (s, dir) => LanguageModel.bigramCrossEntropy(
        t(s, dir, "documents"), "doc_id", "text", "lang", "lang = 'en'"),
      Some(LanguageModel.bigramCrossEntropyOracleSql(
        "documents", "doc_id", "text", "lang", "lang = 'en'"))),

    QuerySpec("x51_trigram_perplexity",
      "trigram LM cross-entropy with recursive interpolation backoff " +
        "(one order up the x44 ladder, CCNet's KenLM is order 5): " +
        "p(w3|w1 w2) = 0.6*ML-trigram + 0.4*(0.7*ML-bigram + " +
        "0.3*add-one unigram), trained on the English slice; five " +
        "token-keyed model joins, corpus text never shuffled, " +
        "per-doc fold sorted by (w1,w2,w3), 6dp-rounded",
      (s, dir) => LanguageModel.trigramCrossEntropy(
        t(s, dir, "documents"), "doc_id", "text", "lang", "lang = 'en'"),
      Some(LanguageModel.trigramCrossEntropyOracleSql(
        "documents", "doc_id", "text", "lang", "lang = 'en'"))),

    QuerySpec("g9b_global_exact_quantiles",
      "GLOBAL exact discrete quantiles over a high-cardinality " +
        "column: cumulative counts via the two-level distributed " +
        "prefix sum (Packing.exclusiveRunningSum) over the value " +
        "histogram — no window ever sees more than a range-partition " +
        "of distinct values, closing g9's single-task caveat for the " +
        "ungrouped case; integer-exact ranks, histogram-mirrored " +
        "oracle",
      (s, dir) => graft.operators.Stats.globalExactQuantiles(
        t(s, dir, "lineitem"), "l_extendedprice", Seq(25, 50, 75)),
      Some(graft.operators.Stats.globalExactQuantilesOracleSql(
        "lineitem", "l_extendedprice", Seq(25, 50, 75)))),

    QuerySpec("s14b_zvalue_parity",
      "Morton z-value bit parity: the interleave expression computed " +
        "per row in both engines and hash-compared directly — the " +
        "arithmetic a z-range predicate pushdown would rely on, " +
        "verified bit-for-bit rather than assumed",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber").cast("long"),
          Layout.zValue(col("l_partkey"), col("l_suppkey"), 21).as("zval"))
        // zval completes the total order: the fixture has duplicate
        // (l_orderkey, l_linenumber) pairs whose tied rows carry
        // DIFFERENT zvals, so the pair alone leaves both engines free
        // to flip them. With zval in the key any remaining tie is a
        // fully identical row — hash-safe in either order.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("zval")),
      Some(s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT)
             |    AS l_linenumber,
             |  ${Layout.zValueSql("l_partkey", "l_suppkey", 21)} AS zval
             |FROM lineitem WHERE l_orderkey <= 200
             |ORDER BY l_orderkey, l_linenumber, zval""".stripMargin)),

    QuerySpec.lateBound("x45_hard_negative_mining",
      "contrastive-pair mining for embedding training: per anchor, " +
        "the best candidate at/above the positive band and the best " +
        "strictly below the negative band (the in-between excluded as " +
        "likely near-dup noise) — hard negatives are what make " +
        "contrastive batches informative; candidates from the bounded " +
        "IVF cell join, rankings on the rounded cosine so both " +
        "engines mine the identical set") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = memoCentroids(s, dir)
      (Similarity.minePairsWith(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", cents, nProbes = 2,
        posBand = 0.10, negBand = 0.0),
      () => Similarity.minePairsOracleSql("embeddings",
        "vec_id", "embedding", cents, nProbes = 2, posBand = 0.10,
        negBand = 0.0, queryPred = "vec_id < 8"))
    },

    QuerySpec.lateBound("x46_cell_balanced_sample",
      "cluster-balanced diversity sampling: at most 12 rows per IVF " +
        "cell in deterministic hash order — after near-dups are gone " +
        "corpora stay density-skewed, and uniform sampling keeps the " +
        "head's redundancy while cell-balanced keeps the tail's " +
        "coverage; the only wide op is a cell-keyed " +
        "window") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = memoCentroids(s, dir)
      (Similarity.cellBalancedSample(emb, "vec_id", "embedding",
          cents, perCell = 12)
        .orderBy(col("vec_id")),
      () => Similarity.cellBalancedSampleOracleSql(
        "embeddings", "vec_id", "embedding", cents, perCell = 12))
    },

    QuerySpec.lateBound("x42c_pq_recall_sweep",
      "the recall-vs-compression knob turned: same corpus as x42b " +
        "but ksub=16 codewords (one more bit per code) and 4 probes " +
        "(half the cells) — the parameter sweep a deployment runs " +
        "before freezing an index config; x42b's 8-codeword recall " +
        "is the baseline this variant must beat") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id",
        "embedding", 5)
      // the ksub=16 codebook IS the sweep (trains eagerly); the
      // coarse quantizer is identical across the family — shared
      val books = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8,
        ksub = 16, iters = 2)
      val cents = memoCentroids(s, dir)
      val wide = Similarity.adcTopKWith(emb, q, "vec_id", "embedding",
        5, books, cents, nProbes = 4, residual = false)
      (Similarity.recallAtK(wide, exact)
        .withColumnRenamed("recall_at_k", "recall_k16p4")
        .orderBy(col("qid")),
      () => {
        val wideSql = Similarity.adcOracleSql("embeddings", "vec_id",
          "embedding", 5, books, cents, nProbes = 4,
          queryPred = "vec_id < 8", residual = false)
        s"SELECT * FROM (${Similarity.recallOracleSql(wideSql,
          annTopkOracle, "recall_k16p4")}) ORDER BY qid"
      })
    },

    QuerySpec.lateBound("x42d_pq_rerank_recall",
      "the RE-RANK refinement that makes compressed ANN deployable " +
        "(Jégou et al. 2011 §V): raw ADC recall@5 is ~0.30 (x42b) — " +
        "unusable alone; here the ADC top-C shortlist is re-scored " +
        "with EXACT cosine (only C×queries vector fetches, never a " +
        "corpus scan) and recall@5 is measured per query at C=10 and " +
        "C=50 against the brute-force truth — the curve that picks " +
        "the shortlist size before freezing an index config; at C=50 " +
        "re-ranking recovers the IVF probe ceiling (~0.9, x6c's " +
        "uncompressed recall)") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id",
        "embedding", 5)
      // ONE shortlist at the widest C; narrower C is a filter on its
      // rank — one training pass, one candidate join for all points
      val (books, cents) = (memoBooks(s, dir), memoCentroids(s, dir))
      val short100 = Similarity.adcTopKWith(emb, q, "vec_id",
        "embedding", 100, books, cents, nProbes = 2, residual = false)
      def reAt(c: Int) = Similarity.exactRerank(emb, q, "vec_id",
        "embedding",
        short100.filter(col("rn") <= c)
          .select(col("qid"), col("did")), 5)
      (Similarity.recallAtK(reAt(10), exact)
        .withColumnRenamed("recall_at_k", "recall_c10")
        .join(Similarity.recallAtK(reAt(50), exact)
          .withColumnRenamed("recall_at_k", "recall_c50"), Seq("qid"))
        .join(Similarity.recallAtK(reAt(100), exact)
          .withColumnRenamed("recall_at_k", "recall_c100"), Seq("qid"))
        .orderBy(col("qid")),
      () => {
        def re(c: Int): String = Similarity.recallOracleSql(
          Similarity.adcRerankOracleSql("embeddings", "vec_id",
            "embedding", 5, c, books, cents, nProbes = 2,
            queryPred = "vec_id < 8"), annTopkOracle, s"recall_c$c")
        s"""SELECT r10.qid, r10.recall_c10, r50.recall_c50,
           |  r100.recall_c100
           |FROM (${re(10)}) r10
           |JOIN (${re(50)}) r50 ON r10.qid = r50.qid
           |JOIN (${re(100)}) r100 ON r10.qid = r100.qid
           |ORDER BY r10.qid""".stripMargin
      })
    },

  )
}
