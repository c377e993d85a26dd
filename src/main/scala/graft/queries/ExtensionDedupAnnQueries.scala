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
import graft.operators.{Caps, Corpus, Dedup, LanguageModel, Layout, Relational, Retrieval, Sampling, Similarity, TextAnalysis}
import graft.sources.Tables

/** exact/near-dup dedup, ANN serving, text analysis, temporal joins, corpus hygiene, packing/mixing (x1-x34 era) — a CONTIGUOUS, ORDER-PRESERVING slice of the
  * extension catalog (r15 split of the 6.2k-line ExtensionQueries;
  * entry text unchanged, aggregation order unchanged in
  * ExtensionQueries.specs). */
private[queries] object ExtensionDedupAnnQueries {
  import ExtensionSupport._

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("x1_dedup_exact",
      "exact dedup: keep lowest doc_id per identical text, report group sizes",
      (s, dir) => t(s, dir, "documents")
        // single-pass form of Dedup.exactKeepFirst + group sizes:
        // one shuffle on the key, no window, no re-join
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id")),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    QuerySpec("x1b_incremental_dedup",
      "incremental ingestion dedup: anti-join the new batch's " +
        "fingerprints against the historical set (no history recompute)",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val historical = docs.filter(col("doc_id") < 250)
          .select(md5Fingerprint(col("text")).as("md5_fp"))
        val batch = docs.filter(col("doc_id") >= 250)
        Dedup.incrementalExactNew(batch, "text", historical)
          .select(col("doc_id"))
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

    QuerySpec("x1c_incremental_near_screen",
      "incremental LSH band screen: batch rows whose text lands in any " +
        "historical bucket drop (every copy — screen keys by text " +
        "digest), vs a DuckDB re-derivation of both band sets",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val seen = Dedup.bandInventory(docs.filter(col("doc_id") < 250),
          "doc_id", "text")
        Dedup.incrementalNearNew(docs.filter(col("doc_id") >= 250),
            "doc_id", "text", seen)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH hist AS (
              |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 250),
              |${Dedup.bandsSqlCtes("hist", "h")},
              |batch AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id >= 250),
              |btexts AS (
              |  SELECT DISTINCT md5(text) AS id, text FROM batch),
              |${Dedup.bandsSqlCtes("btexts", "q")},
              |hits AS (
              |  SELECT DISTINCT q.id FROM q_bands q
              |  JOIN h_bands h USING (band, band_key))
              |SELECT d.doc_id FROM batch d
              |WHERE NOT EXISTS (SELECT 1 FROM hits WHERE hits.id = md5(d.text))
              |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x1d_incremental_adjudicated",
      "two-stage incremental near-dup: LSH band screen generates " +
        "candidates, each bucket hit is adjudicated by the MinHash " +
        "estimate against historical signatures (>= 0.75 drops) — " +
        "strictly higher precision than x1c's shared-bucket-drops rule",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val seen = Dedup.signatureInventory(docs.filter(col("doc_id") < 250),
          "doc_id", "text", x1dParams)
        Dedup.incrementalNearAdjudicated(docs.filter(col("doc_id") >= 250),
            "doc_id", "text", seen, x1dParams, x1dMinEst)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH hist AS (
              |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 250),
              |${Dedup.bandsSqlCtes("hist", "h", x1dParams)},
              |batch AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id >= 250),
              |btexts AS (
              |  SELECT DISTINCT md5(text) AS id, text FROM batch),
              |${Dedup.bandsSqlCtes("btexts", "q", x1dParams)},
              |cand AS (
              |  SELECT DISTINCT q.id AS qid, h.id AS hid
              |  FROM q_bands q JOIN h_bands h USING (band, band_key)),
              |hits AS (
              |  SELECT DISTINCT c.qid AS id
              |  FROM cand c
              |  JOIN q_sigs sq ON sq.id = c.qid
              |  JOIN h_sigs sh ON sh.id = c.hid
              |  WHERE ${Dedup.estSql("sq", "sh", x1dParams)} >= $x1dMinEst)
              |SELECT d.doc_id FROM batch d
              |WHERE NOT EXISTS (SELECT 1 FROM hits WHERE hits.id = md5(d.text))
              |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x2_dedup_ngram_jaccard",
      "exact 3-gram Jaccard similarity on adjacent-id candidate pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ids = docs.select(col("doc_id"))
        val pairs = ids.select(col("doc_id").as("id_a"))
          .join(ids.select(col("doc_id").as("id_b")),
            col("id_a") + 1 === col("id_b"))
        Dedup.ngramJaccard(docs, pairs, "doc_id", "text", 3)
          .orderBy(col("id_a"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(1, greatest(length(text) - 2, 1) + 1),
             |    i -> substr(text, i::INT, 3))) AS grams
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
             |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
             |    AS jaccard
             |FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id
             |ORDER BY id_a""".stripMargin)),

    QuerySpec("x3_dedup_minhash_lsh",
      "MinHash(12)+LSH(2 bands of 6) near-dup pairs with Jaccard " +
        "estimate; exact-dedup prefilter + capped buckets guard the " +
        "hot-bucket quadratic blowup",
      (s, dir) => Dedup.minHashNearDupPairs(t(s, dir, "documents"),
          "doc_id", "text").orderBy(col("id_a"), col("id_b")),
      Some(Dedup.minHashOracleSql("documents", "doc_id", "text"))),

    QuerySpec("x32_cross_corpus_neardup",
      "cross-corpus near-dup LINKS (src0 docs vs the rest): band-" +
        "bucket candidates across the two sides, MinHash-adjudicated, " +
        "partner ids named — the shard-vs-shard / train-vs-crawl " +
        "linker; same capped-bucket machinery as x3, never all-pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.crossCorpusNearDupPairs(
            docs.filter(col("source") === "src0"),
            docs.filter(col("source") =!= "src0"),
            "doc_id", "text")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val p = Dedup.MinHashParams()
        def capped(side: String): String =
          s"""${side}_capped AS (
             |  ${Caps.cappedSql(s"${side}_bands", Seq("band", "band_key"),
                    "id", 1000)})""".stripMargin
        s"""WITH a_src AS (
           |  SELECT min(doc_id) AS id, text FROM documents
           |  WHERE source = 'src0' GROUP BY text),
           |${Dedup.bandsSqlCtes("a_src", "a", p)},
           |b_src AS (
           |  SELECT min(doc_id) AS id, text FROM documents
           |  WHERE source <> 'src0' GROUP BY text),
           |${Dedup.bandsSqlCtes("b_src", "b", p)},
           |${capped("a")},
           |${capped("b")},
           |cand AS (
           |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM a_capped x JOIN b_capped y USING (band, band_key)),
           |est AS (
           |  SELECT c.id_a, c.id_b,
           |    ${Dedup.estSql("sa", "sb", p)} AS est_jaccard
           |  FROM cand c
           |  JOIN a_sigs sa ON sa.id = c.id_a
           |  JOIN b_sigs sb ON sb.id = c.id_b)
           |SELECT id_a, id_b, est_jaccard FROM est
           |WHERE est_jaccard >= 0.75
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QuerySpec("x4_dedup_simhash",
      "64-bit SimHash signatures over distinct tokens (one md5 per " +
        "token feeds all 64 bit-sums)",
      (s, dir) => Dedup.simHash64(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(Dedup.simHashOracleSql("documents", "doc_id", "text"))),

    QuerySpec("x2b_dedup_levenshtein",
      "edit-distance ADJUDICATION over LSH candidate pairs (permissive " +
        "6-band/2-row MinHash for recall): Levenshtein on 64-char " +
        "prefixes scores only bucket-colocated pairs — the " +
        "candidates-then-adjudicate pipeline shape, never all-pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text",
          x2bParams)
        val d = docs.select(col("doc_id"),
          substring(col("text"), 1, 64).as("p"))
        pairs
          .join(d.select(col("doc_id").as("id_a"), col("p").as("pa")), "id_a")
          .join(d.select(col("doc_id").as("id_b"), col("p").as("pb")), "id_b")
          .select(col("id_a"), col("id_b"),
            levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH ${Dedup.lshCandSqlCtes("documents", "doc_id", "text",
                  x2bParams)},
              |d AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents)
              |SELECT c.id_a, c.id_b,
              |       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
              |FROM cand c
              |JOIN d a ON a.doc_id = c.id_a
              |JOIN d b ON b.doc_id = c.id_b
              |ORDER BY id_a, id_b""".stripMargin)),

    QuerySpec("x4b_simhash_hamming_pairs",
      "SimHash near-dup pairs: 64-bit signature, 4 bands of 16 bits " +
        "(exact recall for Hamming <= 3 by pigeonhole, 65536 buckets " +
        "per band), capped buckets + exact Hamming filter",
      (s, dir) => Dedup.simHashNearDupPairs(t(s, dir, "documents"),
          "doc_id", "text").orderBy(col("id_a"), col("id_b")),
      Some(Dedup.simHashPairsOracleSql("documents", "doc_id", "text"))),

    QuerySpec("x5_ann_cosine_topk",
      "brute-force cosine top-5 neighbors for query vectors (vec_id < 8)",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 5)
          .select(col("qid"), col("rn"), col("did"),
            round(col("cos"), 6).as("cos_r"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(annTopkOracle)),

    QuerySpec("x5b_ann_topk_heap_agg",
      "same brute-force ANN via the native bounded-heap aggregate " +
        "(TopKPairs TypedImperativeAggregate): map-side partial top-k " +
        "shrinks the shuffle corpus/k-fold; results identical to the " +
        "window form and the same DuckDB oracle",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopKAgg(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 5)
          .select(col("qid"), col("rn"), col("did"),
            round(col("cos"), 6).as("cos_r"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(annTopkOracle)),

    QuerySpec("x6_ann_lsh_bucketed",
      "sign-LSH bucketed ANN: approximate by design but fully " +
        "deterministic (md5-derived Rademacher planes), so the oracle " +
        "embeds the plane weights as literals and hash-matches",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", 5, nPlanes = 4, dim = 64)
          .select(col("qid"), col("rn"), col("did"),
            round(col("cos"), 6).as("cos_r"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(Similarity.lshOracleSql("embeddings", "vec_id", "embedding",
        5, nPlanes = 4, dim = 64, queryPred = "vec_id < 8"))),

    QuerySpec.lateBound("x6b_ann_ivf",
      "IVF-cell ANN: deterministic Lloyd-trained inverted file, 2-probe " +
        "search; the late-bound oracle embeds the trained centroids " +
        "as literals and hash-matches") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = memoCentroids(s, dir)
      (Similarity.ivfTopKWith(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5, cents, nProbes = 2)
        .select(col("qid"), col("rn"), col("did"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy(col("qid"), col("rn")),
      () => Similarity.ivfOracleSql("embeddings", "vec_id", "embedding", 5,
        cents, nProbes = 2, queryPred = "vec_id < 8"))
    },

    QuerySpec.lateBound("x6c_ann_recall_eval",
      "ANN governance: per-query recall@5 of the IVF path against the " +
        "exact brute-force top-k — the metric that picks nProbes before " +
        "scaling out; hash-gated via the same late-bound centroid " +
        "oracle") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val cents = memoCentroids(s, dir)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      val approx = Similarity.ivfTopKWith(emb, q, "vec_id",
        "embedding", 5, cents, nProbes = 2)
      (Similarity.recallAtK(approx, exact).orderBy(col("qid")), () => {
        val approxSql = Similarity.ivfOracleSql("embeddings", "vec_id",
          "embedding", 5, cents, nProbes = 2, queryPred = "vec_id < 8")
        s"SELECT * FROM (${Similarity.recallOracleSql(approxSql,
          annTopkOracle, "recall_at_k")}) ORDER BY qid"
      })
    },

    QuerySpec.lateBound("x6d_ivf_capped_serving",
      "IVF serving with a PER-CELL candidate cap — the drift " +
        "rehearsal's actual remedy (TUNING.md \"ANN drift\": a tight " +
        "appended mode collapses effective cells, and a blind retrain " +
        "does NOT rebalance it because one direction is one argmax " +
        "cell by geometry; per-cell caps are what hold candidate " +
        "volume flat): at most 12 corpus rows survive per cell, kept " +
        "in deterministic md5-hash order, so candidates/query ≤ " +
        "nProbes × cap REGARDLESS of how skewed assignment gets under " +
        "drift. Builder REQUIREs the cap actually bites at this SF " +
        "(the largest cell is over it — a vacuous cap would gate " +
        "nothing); the hash gate re-derives cells, the capped keep, " +
        "probe selection, and ranking in DuckDB via the late-bound " +
        "centroid oracle") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cap = 12
      val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
        nCells = 8, iters = 2)
      val maxCell = emb
        .select(Similarity.cellExpr(col("embedding"), cents).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head.getLong(0)
      require(maxCell > cap,
        s"cap must bite at this SF: max cell $maxCell <= cap $cap")
      (Similarity.ivfTopKWithCapped(emb,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5,
          cents, nProbes = 2, perCellCap = cap)
        .select(col("qid"), col("rn"), col("did"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy(col("qid"), col("rn")),
      () => Similarity.ivfCappedOracleSql("embeddings",
        "vec_id", "embedding", 5, cents, nProbes = 2,
        queryPred = "vec_id < 8", perCellCap = cap))
    },

    QuerySpec("x7_dedup_embedding_cosine",
      "embedding-cosine near-dup ADJUDICATION over sign-LSH bucket " +
        "candidates (6 md5-derived planes, 64 buckets): exact cosine + " +
        "threshold flag on bucket-colocated pairs only — candidate " +
        "volume shrinks ~2^planes-fold vs all-pairs",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val b = e.select(col("vec_id"), col("embedding"),
          Similarity.bucketExpr(col("embedding"), 6, 64).as("bucket"))
        val a = b.select(col("bucket"), col("vec_id").as("id_a"),
          col("embedding").as("va"))
        val c = b.select(col("bucket"), col("vec_id").as("id_b"),
          col("embedding").as("vb"))
        a.join(c, Seq("bucket")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(cosine(col("va"), col("vb")), 6).as("cos_r"))
          .withColumn("is_near_dup", col("cos_r") >= 0.3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val cosSql = Similarity.cosSql("x.v", "y.v",
          Similarity.normSql("x.v"), Similarity.normSql("y.v"))
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |b AS (SELECT vec_id, v,
           |        ${Similarity.bucketSqlExpr("v", 6, 64)} AS bucket
           |      FROM e)
           |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |  round($cosSql, 6) AS cos_r,
           |  (round($cosSql, 6) >= 0.3) AS is_near_dup
           |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QuerySpec.lateBound("x31_semantic_dedup",
      "SemDeDup-style semantic dedup: deterministic IVF cells (16), " +
        "exact cosine only against lower-id cell-mates, keep-lowest-id " +
        "dominance at tau=0.9 — cell-keyed equi-join with a hard " +
        "1000-row cap per cell (overflow reported, never silent), so " +
        "a dense cell can never go quadratic; hash-gated via the " +
        "late-bound trained-centroid oracle, cap included in the " +
        "SQL") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
        nCells = 16, iters = 2)
      (Similarity.semanticDedup(emb, "vec_id", "embedding", cents,
          tau = 0.9, maxCell = 1000)
        .orderBy(col("vec_id")),
      () => Similarity.semanticDedupOracleSql("embeddings", "vec_id",
        "embedding", cents, 0.9, maxCell = 1000))
    },

    QuerySpec("x8_text_langid",
      "language ID via stopword-marker scoring, distribution by language",
      (s, dir) => t(s, dir, "documents")
        .select(wsTokens(col("text")).as("toks"))
        .select(TextAnalysis.langIdFromTokens(col("toks")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred")),
      Some(s"""WITH ${duckLangCtes("documents", "lp")}
              |SELECT lang_pred, count(*) AS n FROM lp
              |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)),

    QuerySpec("x9_text_quality",
      "per-document quality metrics: stopword/alpha ratios, mean token length, score",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("text"), wsTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextAnalysis.stopwordRatioFromTokens(col("toks")).as("stopword_ratio"),
          TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
          TextAnalysis.meanTokenLenFromTokens(col("toks")).as("mean_token_len"),
          TextAnalysis.qualityScoreFromTokens(col("text"), col("toks"))
            .as("quality"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CAST($duckSwCount AS DOUBLE) / $duckNTok AS stopword_ratio,
              |  $duckAlpha AS alpha_ratio,
              |  $duckMeanLen AS mean_token_len,
              |  $duckQuality AS quality
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("x34_quality_classifier",
      "embedded-weights linear quality classifier: logistic-regression " +
        "decision margin over exact count-ratio features (no sigmoid — " +
        "exp() is not bit-reproducible across libms and the verdict " +
        "only needs the sign); per-doc margin + keep flag, bit-exact",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("text"), wsTokens(col("text")).as("toks"))
        .withColumn("margin_r",
          round(TextAnalysis.classifierMargin(col("text"), col("toks")), 6))
        .select(col("doc_id"), col("margin_r"),
          (col("margin_r") >= 0).as("keep"))
        .orderBy(col("doc_id")),
      Some {
        val margin =
          s"-1.2 + (CAST($duckSwCount AS DOUBLE) / $duckNTok) * 2.0 + " +
            s"($duckAlpha) * 1.5 + " +
            s"(CASE WHEN $duckMeanLen >= 3 AND $duckMeanLen <= 10 " +
            "THEN 0.8 ELSE 0.0 END) + " +
            s"CAST(least($duckNTok, 400) AS DOUBLE) / 400.0 * 0.5"
        s"""SELECT doc_id, round($margin, 6) AS margin_r,
           |  (round($margin, 6) >= 0) AS keep
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("x10_text_tokens",
      "token statistics: whitespace, BPE-ish regex, distinct counts",
      (s, dir) => TextAnalysis.tokenStats(t(s, dir, "documents"),
        "doc_id", "text").orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CAST(len($duckWsTokens) AS BIGINT) AS n_ws_tokens,
              |  CAST(len(regexp_extract_all(text,
              |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
              |  CAST(len(list_distinct($duckWsTokens)) AS BIGINT) AS n_uniq_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("x11_fingerprint",
      "document fingerprints: md5-normalized + custom rolling-hash Expression",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), md5Fingerprint(col("text")).as("md5_fp"),
          expr("rolling_hash(substr(text, 1, 64))").as("rh64"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS md5_fp,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
             |    range(1, length(substr(text, 1, 64)) + 1),
             |    i -> ascii(substr(substr(text, 1, 64), i::INT, 1)))),
             |    (a, b) -> (a * 131 + b) % 2147483647) AS BIGINT) AS rh64
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("x12_json_extract",
      "JSON property extraction from the events.props column",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, event_type,
             |       CAST(props ->> 'k' AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    QuerySpec("x13_stream_tumbling_window",
      "streaming-equivalent tumbling 1h window aggregation (batch semantics " +
        "identical to the Structured Streaming plan in graft.streaming)",
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy(col("ws"), col("event_type")),
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    QuerySpec("x13b_time_spine_gapfill",
      "calendar-spine gap filling: generated hourly sequence " +
        "left-joined to hourly aggregates, empty buckets zero-filled",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val bounds = ev.agg(
          date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        val spine = bounds.select(explode(
          sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
        val hourly = ev
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n_raw"),
            sum(dec2(col("value"))).cast("double").as("sum_raw"))
        spine.join(hourly, Seq("hr"), "left")
          .select(col("hr"), coalesce(col("n_raw"), lit(0L)).as("n"),
            coalesce(col("sum_raw"), lit(0.0)).as("sum_value"))
          .orderBy(col("hr"))
      },
      Some("""WITH bounds AS (
             |  SELECT date_trunc('hour', min(ts)) AS h0,
             |         date_trunc('hour', max(ts)) AS h1 FROM events),
             |spine AS (
             |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
             |  FROM bounds),
             |hourly AS (
             |  SELECT date_trunc('hour', ts) AS hr, count(*) AS n_raw,
             |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw
             |  FROM events GROUP BY 1)
             |SELECT s.hr AS hr, CAST(coalesce(n_raw, 0) AS BIGINT) AS n,
             |       coalesce(sum_raw, 0.0) AS sum_value
             |FROM spine s LEFT JOIN hourly h ON s.hr = h.hr
             |ORDER BY s.hr""".stripMargin)),

    QuerySpec("x15_asof_join",
      "as-of join (composed: union-tag + keyed carry-forward window) vs " +
        "DuckDB's native ASOF LEFT JOIN — each event picks the user's " +
        "most recent signup at-or-before its timestamp",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val left = ev.select(col("event_id"), col("ts"), col("user_id"),
          col("value"))
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.operators.Temporal.asOfJoinLeft(left, signups,
            keyCol = "user_id", tsCol = "ts", rightOrder = "event_id",
            payload = Seq("event_id", "ts"))
          .orderBy(col("event_id"))
      },
      Some("""WITH signups AS (
             |  SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'signup')
             |SELECT e.event_id, e.ts, e.user_id, e.value,
             |       s.event_id AS asof_event_id, s.ts AS asof_ts
             |FROM events e ASOF LEFT JOIN signups s
             |  ON e.user_id = s.user_id AND e.ts >= s.ts
             |ORDER BY e.event_id""".stripMargin)),

    QuerySpec("x15b_asof_join_sharded",
      "as-of join via the SEGMENTED carry (in-bucket last-non-null + " +
        "per-key seam pass over hourly bucket summaries + " +
        "AQE-splittable join-back) — bit-identical to x15 but no task " +
        "holds more than one (key, hour) slice of the merged " +
        "timeline; DuckDB's native ASOF LEFT JOIN cross-derives it",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val left = ev.select(col("event_id"), col("ts"), col("user_id"),
          col("value"))
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.operators.Temporal.asOfJoinLeftSharded(left, signups,
            keyCol = "user_id", tsCol = "ts", rightOrder = "event_id",
            payload = Seq("event_id", "ts"), bucketSeconds = 3600L)
          .orderBy(col("event_id"))
      },
      Some("""WITH signups AS (
             |  SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'signup')
             |SELECT e.event_id, e.ts, e.user_id, e.value,
             |       s.event_id AS asof_event_id, s.ts AS asof_ts
             |FROM events e ASOF LEFT JOIN signups s
             |  ON e.user_id = s.user_id AND e.ts >= s.ts
             |ORDER BY e.event_id""".stripMargin)),

    QuerySpec("x16_range_join",
      "bounded range self-join (grid-bucketed equi-join composition) vs " +
        "DuckDB's native interval theta-join: same-user event pairs " +
        "within 10 minutes",
      (s, dir) => graft.operators.Temporal.rangeJoinWithin(
          t(s, dir, "events"), keyCol = "user_id", idCol = "event_id",
          tsCol = "ts", toleranceSec = 600)
        .orderBy(col("id_a"), col("id_b")),
      Some("""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND a.event_id < b.event_id
             | AND b.ts >= a.ts - INTERVAL 10 MINUTE
             | AND b.ts <= a.ts + INTERVAL 10 MINUTE
             |ORDER BY id_a, id_b""".stripMargin)),

    QuerySpec("x14_sessionize",
      "gap-based user sessionization (batch twin of the stateful " +
        "flatMapGroupsWithState streaming operator)",
      (s, dir) => graft.streaming.Sessionize
        .batchSessions(t(s, dir, "events"), 1800L)
        .orderBy(col("user_id"), col("sess_id"))
        .select(col("user_id"), col("sess_id"), col("session_start"),
          col("session_end"), col("n_events"), col("sum_value")),
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS sess_id
             |  FROM flagged)
             |SELECT user_id, sess_id, min(ts) AS session_start,
             |       max(ts) AS session_end, count(*) AS n_events,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM sess GROUP BY user_id, sess_id
             |ORDER BY user_id, sess_id""".stripMargin)),

    QuerySpec("x14c_sessionize_sharded",
      "gap sessionization via the SEGMENTED two-level form " +
        "(in-bucket lag + per-user seam pass over hourly bucket " +
        "summaries + AQE-splittable join-back) — bit-identical to " +
        "x14 but no task holds more than one (user, hour) slice; " +
        "the DuckDB twin re-derives it through the plain per-user " +
        "window, so the seam decomposition is cross-checked, not " +
        "self-twinned",
      (s, dir) => graft.streaming.Sessionize
        .batchSessionsSharded(t(s, dir, "events"), 1800L,
          bucketSeconds = 3600L)
        .orderBy(col("user_id"), col("sess_id"))
        .select(col("user_id"), col("sess_id"), col("session_start"),
          col("session_end"), col("n_events"), col("sum_value")),
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS sess_id
             |  FROM flagged)
             |SELECT user_id, sess_id, min(ts) AS session_start,
             |       max(ts) AS session_end, count(*) AS n_events,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM sess GROUP BY user_id, sess_id
             |ORDER BY user_id, sess_id""".stripMargin)),

    QuerySpec("x17_token_freq",
      "corpus term frequencies: explode tokens, count, total-order top-50",
      (s, dir) => t(s, dir, "documents")
        .select(explode(wsTokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
      Some(s"""SELECT t AS token, CAST(count(*) AS BIGINT) AS n
              |FROM (SELECT unnest($duckWsTokens) AS t FROM documents)
              |GROUP BY t ORDER BY n DESC, token LIMIT 50""".stripMargin)),

    QuerySpec("x18_hash_split",
      "deterministic train/val/test split: md5-derived bucket per doc " +
        "(stable across runs/engines/cluster layouts; no rand())",
      (s, dir) => graft.operators.Sampling
        .assignSplit(t(s, dir, "documents").select(col("doc_id")),
          "doc_id", trainPct = 80, valPct = 10)
        .orderBy(col("doc_id")),
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |      % 100 AS bucket
             |  FROM documents)
             |SELECT doc_id, bucket,
             |  CASE WHEN bucket < 80 THEN 'train'
             |       WHEN bucket < 90 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM h ORDER BY doc_id""".stripMargin)),

    QuerySpec("x19_dedup_clusters",
      "near-dup clustering: exact-dup + MinHash-LSH pair edges -> " +
        "connected components (min-id canonical label per doc) vs a " +
        "DuckDB recursive-CTE closure",
      (s, dir) => nearDupClusterLabels(s, dir).orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $clusterCtes
              |$clusterSelect
              |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x18b_leakage_safe_split",
      "cluster-aware train/val/test split: the md5 split bucket is " +
        "drawn on the near-dup CLUSTER label (x19's exact+MinHash " +
        "connected components), not the doc id, so a test document " +
        "can never have a near-duplicate sitting in train — the " +
        "eval-leakage guard a pretraining pipeline runs after dedup " +
        "clustering; past the labels the split itself stays a narrow " +
        "md5 projection, zero extra shuffles",
      (s, dir) => Sampling.assignSplit(nearDupClusterLabels(s, dir),
          "cluster_id", trainPct = 80, valPct = 10)
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $clusterCtes,
              |cl AS (
              |  ${clusterSelect.replace("\n", "\n  ")}),
              |h AS (
              |  SELECT doc_id, cluster_id,
              |    ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT
              |      % 100 AS bucket
              |  FROM cl)
              |SELECT doc_id, cluster_id, bucket,
              |  CASE WHEN bucket < 80 THEN 'train'
              |       WHEN bucket < 90 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM h ORDER BY doc_id""".stripMargin)),

    QuerySpec("x20_keywords_tfidf",
      "per-document keyword extraction: top-3 tokens by tf x (N/df) " +
        "rarity weight (log-free so both engines produce identical bits)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val tok = docs.select(col("doc_id"),
          explode(wsTokens(col("text"))).as("token"))
        val tf = tok.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tok.groupBy(col("token"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
          .select(col("doc_id"), col("token"),
            (col("tf").cast("double") * col("n_docs") / col("df"))
              .as("score"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("token"))
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("token"), col("score"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, unnest($duckWsTokens) AS token FROM documents),
              |tf AS (
              |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              |  FROM tok GROUP BY doc_id, token),
              |df AS (
              |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              |  FROM tok GROUP BY token),
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              |scored AS (
              |  SELECT t.doc_id, t.token,
              |         CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS score
              |  FROM tf t JOIN df d USING (token) CROSS JOIN n),
              |ranked AS (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, token) AS BIGINT) AS rk
              |  FROM scored)
              |SELECT doc_id, rk, token, score FROM ranked
              |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    QuerySpec("x21_corpus_clean_pipeline",
      "end-to-end corpus hygiene (Corpus.clean): quality floor + " +
        "language allowlist + exact dedup + near-dup cluster keep-one, " +
        "composed from the individually verified operators and " +
        "verified END-TO-END against a DuckDB re-derivation",
      (s, dir) => graft.operators.Corpus.clean(t(s, dir, "documents"),
          "doc_id", "text", minQuality = 0.55, langs = Seq("en"))
        .select(col("doc_id"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $hygieneOracleChain
              |SELECT k.doc_id FROM kept k
              |LEFT JOIN labels l ON l.u = k.doc_id
              |WHERE least(k.doc_id, coalesce(l.mv, k.doc_id)) = k.doc_id
              |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x21b_corpus_clean_keep_best",
      "hygiene with QUALITY-RANKED cluster representatives " +
        "(Corpus.cleanKeepBest): each near-dup cluster keeps its " +
        "highest-quality member, ties to lowest id — what a real " +
        "ingest keeps (near-dups differ by boilerplate/truncation; " +
        "min-id keeps the first copy, not the best one)",
      (s, dir) => graft.operators.Corpus.cleanKeepBest(
          t(s, dir, "documents"),
          "doc_id", "text", minQuality = 0.55, langs = Seq("en"))
        .select(col("doc_id"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $hygieneOracleChain,
              |clustered AS (
              |  SELECT k.doc_id, k.text,
              |    least(k.doc_id, coalesce(l.mv, k.doc_id)) AS cluster
              |  FROM kept k LEFT JOIN labels l ON l.u = k.doc_id),
              |qscored AS (
              |  SELECT doc_id, cluster, ($duckQuality) AS q FROM clustered),
              |reps AS (
              |  SELECT doc_id FROM (
              |    SELECT doc_id, row_number() OVER
              |      (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn
              |    FROM qscored) r
              |  WHERE rn = 1)
              |SELECT doc_id FROM reps ORDER BY doc_id""".stripMargin)),

    QuerySpec("x22_embedding_quantize",
      "symmetric int8 embedding quantization: per-vector scale + " +
        "quantized-array aggregates (floor(x+0.5) rounding is " +
        "bit-identical cross-engine; round()'s half-modes are not)",
      (s, dir) => {
        val q = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            int8Scale(col("embedding")).as("scale"))
          .select(col("vec_id"), col("scale"),
            quantizeInt8(col("embedding"), col("scale")).as("q"))
        q.select(col("vec_id"), col("scale"),
            aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
            array_max(transform(col("q"), x => abs(x))).as("max_abs_q"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |s AS (SELECT vec_id, v,
             |        coalesce(list_max(list_transform(v, x -> abs(x))) / 127,
             |                 0.0) AS scale
             |      FROM e),
             |q AS (SELECT vec_id, scale,
             |        CASE WHEN scale > 0
             |          THEN list_transform(v, x -> CAST(least(127, greatest(-127,
             |                 floor(x / scale + 0.5))) AS BIGINT))
             |          ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
             |      FROM s)
             |SELECT vec_id, scale,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
             |    (a, b) -> a + b) AS BIGINT) AS sum_q,
             |  CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT)
             |    AS max_abs_q
             |FROM q ORDER BY vec_id""".stripMargin)),

    QuerySpec("x23_sequence_packing",
      "LLM sequence packing: docs -> fixed token-budget packs via a " +
        "distributed two-level prefix sum (bit-identical to the " +
        "textbook global-cumsum oracle; no global window over docs)",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), wsTokenCount(col("text")).as("n_tokens"))
        graft.operators.Packing
          .assignPacks(docs, "doc_id", "n_tokens", budget = 256L)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, $duckNTok AS n_tokens
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, n_tokens,
              |    sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      - n_tokens AS excl
              |  FROM d)
              |SELECT doc_id, n_tokens,
              |       CAST(excl // 256 AS BIGINT) AS pack_id
              |FROM c ORDER BY doc_id""".stripMargin)),

    QuerySpec("x23b_pack_manifest",
      "pack manifest for the shard writer: per-pack doc count, token " +
        "total, id range",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), wsTokenCount(col("text")).as("n_tokens"))
        val assigned = graft.operators.Packing
          .assignPacks(docs, "doc_id", "n_tokens", budget = 256L)
        graft.operators.Packing.packManifest(assigned, "doc_id", "n_tokens")
          .orderBy(col("pack_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, $duckNTok AS n_tokens
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, n_tokens,
              |    sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      - n_tokens AS excl
              |  FROM d),
              |a AS (SELECT doc_id, n_tokens,
              |             CAST(excl // 256 AS BIGINT) AS pack_id FROM c)
              |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              |       min(doc_id) AS first_id, max(doc_id) AS last_id
              |FROM a GROUP BY pack_id ORDER BY pack_id""".stripMargin)),

    QuerySpec("x24_corpus_mixing",
      "weighted deterministic corpus mixing: stride-interleave two " +
        "sources at a 2:1 ratio via per-source distributed ranks — " +
        "no RNG, stable under re-runs and appends",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"))
        val even = docs.filter(col("doc_id") % 2 === 0)
        val odd = docs.filter(col("doc_id") % 2 === 1)
        graft.operators.Mixing.weightedInterleave(
            Seq(("even", even, 2.0), ("odd", odd, 1.0)), "doc_id")
          .orderBy(col("mix_key"), col("source"), col("doc_id"))
      },
      Some("""WITH ev AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
             |od AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
             |r_ev AS (SELECT doc_id,
             |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS DOUBLE) AS r
             |  FROM ev),
             |r_od AS (SELECT doc_id,
             |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS DOUBLE) AS r
             |  FROM od),
             |u AS (
             |  SELECT 'even' AS source, doc_id, (r + 0.5) / 2.0 AS mix_key
             |  FROM r_ev
             |  UNION ALL
             |  SELECT 'odd', doc_id, (r + 0.5) / 1.0 FROM r_od)
             |SELECT source, doc_id, mix_key FROM u
             |ORDER BY mix_key, source, doc_id""".stripMargin)),

    QuerySpec("x24b_temperature_mixing",
      "temperature-based language rebalancing (XLM / mC4, alpha=0.7): " +
        "shares follow n^alpha instead of the natural skew — closed-" +
        "form max-utilization downsampling keeps (n_min/n_lang)^(1-" +
        "alpha) of each language (the smallest keeps 100%) via the " +
        "deterministic md5 keep filter; one #langs-cardinality count " +
        "shuffle + a broadcast of the keep-rate frame, nothing else " +
        "is wide",
      (s, dir) => Sampling.temperatureSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", "doc_id", alpha = 0.7)
        .select(col("doc_id"), col("lang"), col("keep_rate_r"))
        .orderBy(col("doc_id")),
      Some("""WITH counts AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY lang),
             |mn AS (SELECT min(n) AS nmin FROM counts),
             |rates AS (
             |  SELECT lang,
             |    round(pow(CAST(nmin AS DOUBLE) / n, 1.0 - 0.7), 6)
             |      AS keep_rate_r
             |  FROM counts, mn)
             |SELECT d.doc_id, d.lang, r.keep_rate_r
             |FROM documents d JOIN rates r USING (lang)
             |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |    % 10000 < floor(keep_rate_r * 10000)
             |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x25_boilerplate_removal",
      "C4-style boilerplate stripping: lines repeated across >= 2 " +
        "distinct docs are removed, documents rebuilt in original " +
        "line order (single-line corpora degenerate to cross-doc " +
        "text dedup, which is the honest semantic here)",
      (s, dir) => Dedup.stripBoilerplate(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("cleaned_md5"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id")),
      Some("""WITH lines AS (
             |  SELECT doc_id,
             |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
             |    unnest(string_split(text, chr(10))) AS line
             |  FROM documents),
             |bp AS (
             |  SELECT line FROM lines WHERE trim(line) <> ''
             |  GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
             |kept AS (
             |  SELECT l.doc_id, l.pos, l.line FROM lines l
             |  WHERE NOT EXISTS (SELECT 1 FROM bp WHERE bp.line = l.line)),
             |rebuilt AS (
             |  SELECT doc_id,
             |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
             |  FROM kept GROUP BY doc_id)
             |SELECT d.doc_id,
             |  md5(coalesce(r.cleaned, '')) AS cleaned_md5,
             |  CAST(length(coalesce(r.cleaned, '')) AS BIGINT) AS n_chars
             |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x26_repetition_stats",
      "Gopher-style within-doc repetition: duplicate-line fraction + " +
        "top-bigram fraction — the degenerate-text signals per-token " +
        "quality scores miss",
      (s, dir) => TextAnalysis.repetitionStats(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""WITH base AS (
              |  SELECT doc_id,
              |    list_filter(string_split(text, chr(10)),
              |                x -> trim(x) <> '') AS ls,
              |    $duckWsTokens AS tk
              |  FROM documents),
             |line_stats AS (
             |  SELECT doc_id,
             |    CASE WHEN len(ls) > 0
             |      THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
             |      ELSE 0.0 END AS dup_line_frac
             |  FROM base),
             |bg AS (
             |  SELECT doc_id, unnest(list_transform(
             |    range(1, len(tk) - 1 + 1),
             |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
             |  FROM base WHERE len(tk) >= 2),
             |counts AS (
             |  SELECT doc_id, bigram, count(*) AS n
             |  FROM bg GROUP BY doc_id, bigram),
             |top AS (
             |  SELECT doc_id, CAST(max(n) AS DOUBLE) / sum(n)
             |           AS top_bigram_frac
             |  FROM counts GROUP BY doc_id)
             |SELECT l.doc_id, l.dup_line_frac,
             |       coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac
             |FROM line_stats l LEFT JOIN top t USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QuerySpec("x26b_gopher_repetition",
      "full Gopher repetition rule set: top-3-gram / top-4-gram " +
        "fractions and duplicate-5-gram mass, each computed in-row by " +
        "the native NgramRepetition expression (one counting pass per " +
        "n; zero shuffles) — the composed explode/groupBy form would " +
        "re-key every gram string in the corpus twice per n",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), wsTokens(col("text")).as("tk"))
        .select(col("doc_id"),
          ngramRepetition(col("tk"), 3).as("r3"),
          ngramRepetition(col("tk"), 4).as("r4"),
          ngramRepetition(col("tk"), 5).as("r5"))
        .select(col("doc_id"),
          col("r3.top_frac").as("top_3gram_frac"),
          col("r4.top_frac").as("top_4gram_frac"),
          col("r5.dup_frac").as("dup_5gram_frac"))
        .orderBy(col("doc_id")),
      Some {
        def ngramCtes(n: Int): String = {
          val gram = (0 until n).map(k => s"tk[i + $k]")
            .mkString(" || ' ' || ")
          s"""g$n AS (
             |  SELECT doc_id, unnest(list_transform(
             |    range(1, len(tk) - $n + 2), i -> $gram)) AS g
             |  FROM base WHERE len(tk) >= $n),
             |c$n AS (SELECT doc_id, g, count(*) AS n
             |        FROM g$n GROUP BY doc_id, g),
             |s$n AS (
             |  SELECT doc_id,
             |    CAST(max(n) AS DOUBLE) / sum(n) AS topf,
             |    CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0)
             |      AS DOUBLE) / sum(n) AS dupf
             |  FROM c$n GROUP BY doc_id)""".stripMargin
        }
        s"""WITH base AS (
           |  SELECT doc_id, $duckWsTokens AS tk FROM documents),
           |${ngramCtes(3)},
           |${ngramCtes(4)},
           |${ngramCtes(5)}
           |SELECT b.doc_id,
           |  coalesce(s3.topf, 0.0) AS top_3gram_frac,
           |  coalesce(s4.topf, 0.0) AS top_4gram_frac,
           |  coalesce(s5.dupf, 0.0) AS dup_5gram_frac
           |FROM base b
           |LEFT JOIN s3 USING (doc_id)
           |LEFT JOIN s4 USING (doc_id)
           |LEFT JOIN s5 USING (doc_id)
           |ORDER BY b.doc_id""".stripMargin
      }),

    QuerySpec("x27_decontaminate",
      "benchmark decontamination: per-training-doc fraction of distinct " +
        "word trigrams appearing anywhere in the held-out eval slice " +
        "(doc_id % 10 = 7); contaminated = overlap >= 0.5. Eval gram " +
        "set broadcast — corpus text never shuffles",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ev = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        Dedup.contaminationScores(train, ev, "doc_id", "text", n = 3)
          .withColumn("contaminated", col("overlap_frac") >= lit(0.5))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH train AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
              |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
              |${decontamGramCtes("train", "tg")},
              |${decontamGramCtes("ev", "eg")},
              |eh AS (SELECT DISTINCT gram_h FROM eg_hashes),
              |scored AS (
              |  SELECT t.doc_id, count(*) AS n_grams,
              |    CAST(coalesce(sum(CASE WHEN e.gram_h IS NOT NULL
              |                            THEN 1 END), 0) AS BIGINT)
              |      AS n_matched
              |  FROM tg_hashes t LEFT JOIN eh e USING (gram_h)
              |  GROUP BY t.doc_id)
              |SELECT doc_id, n_grams, n_matched,
              |  CAST(n_matched AS DOUBLE) / n_grams AS overlap_frac,
              |  (CAST(n_matched AS DOUBLE) / n_grams >= 0.5) AS contaminated
              |FROM scored ORDER BY doc_id""".stripMargin)),

    QuerySpec("x27b_decontamination_report",
      "which eval items were hit: per eval doc, the number of training " +
        "docs sharing >= 3 distinct trigram hashes with it, and the " +
        "deepest overlap — the audit trail for every dropped doc",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ev = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
        val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        Dedup.contaminationReport(train, ev, "doc_id", "text",
            n = 3, minShared = 3)
          .orderBy(col("eval_id"))
      },
      Some(s"""WITH train AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
              |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
              |${decontamGramCtes("train", "tg")},
              |${decontamGramCtes("ev", "eg")},
              |pairs AS (
              |  SELECT e.doc_id AS eval_id, t.doc_id, count(*) AS n_shared
              |  FROM tg_hashes t
              |  JOIN eg_hashes e ON t.gram_h = e.gram_h
              |  GROUP BY e.doc_id, t.doc_id
              |  HAVING count(*) >= 3)
              |SELECT eval_id, count(*) AS n_train_hits,
              |       max(n_shared) AS max_shared
              |FROM pairs GROUP BY eval_id ORDER BY eval_id""".stripMargin)),

    QuerySpec("x28_pii_scrub",
      "PII scrubbing: emails / credit cards / IPv4s / phone numbers " +
        "redacted by the shared Corpus.piiPatterns table (documents " +
        "augmented with deterministic synthetic PII so the gate " +
        "exercises every class; both engines build and scrub the same " +
        "bytes)",
      (s, dir) => {
        val idS = col("doc_id").cast("string")
        val aug = t(s, dir, "documents").select(col("doc_id"), concat(
          col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" reach me at user"), idS, lit("@mail.example.org")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" from host 10.1."),
              pmod(col("doc_id"), lit(200)).cast("string"), lit(".77")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0, lit(" call 555-867-5309"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit(" card 4111 1111 1111 1111 on file")).otherwise(lit("")))
          .as("ptext"))
        val counted = graft.operators.Corpus.piiPatterns
          .foldLeft(aug) { case (df, (pat, tok)) =>
            df.withColumn(piiCountCol(tok),
              regexp_count(col("ptext"), lit(pat)).cast("long"))
          }
        counted
          .withColumn("scrubbed_md5",
            md5(graft.operators.Corpus.scrubPii(col("ptext"))))
          .select(col("doc_id") +: col("scrubbed_md5") +:
            graft.operators.Corpus.piiPatterns.map { case (_, tok) =>
              col(piiCountCol(tok)) }: _*)
          .orderBy(col("doc_id"))
      },
      Some {
        val countCols = graft.operators.Corpus.piiPatterns
          .map { case (pat, tok) =>
            s"CAST(len(regexp_extract_all(ptext, '$pat')) AS BIGINT) " +
              s"AS ${piiCountCol(tok)}"
          }.mkString(",\n  ")
        s"""WITH aug AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 2 = 0 THEN ' reach me at user' ||
           |      CAST(doc_id AS VARCHAR) || '@mail.example.org'
           |      ELSE '' END ||
           |    CASE WHEN doc_id % 3 = 0 THEN ' from host 10.1.' ||
           |      CAST(doc_id % 200 AS VARCHAR) || '.77' ELSE '' END ||
           |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309'
           |      ELSE '' END ||
           |    CASE WHEN doc_id % 7 = 0 THEN ' card 4111 1111 1111 1111 on file'
           |      ELSE '' END AS ptext
           |  FROM documents)
           |SELECT doc_id,
           |  md5(${graft.operators.Corpus.scrubPiiSql("ptext")})
           |    AS scrubbed_md5,
           |  $countCols
           |FROM aug ORDER BY doc_id""".stripMargin
      }),

    QuerySpec("x29_bpe_tokenize",
      "merges-table BPE encode (Sennrich rank-order passes over " +
        "wrapped-token strings): per-doc word and BPE-token counts " +
        "under the embedded 15-merge table — the real-token-budget " +
        "counter behind packing",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
        words
          .select(col("doc_id"),
            size(bpeTokens(col("w"), bpeMerges)).cast("long").as("n_tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_tok")).as("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH words AS (
              |  SELECT doc_id,
              |    unnest(string_split_regex(trim(text), '\\s+')) AS w
              |  FROM documents)
              |SELECT doc_id, count(*) AS n_words,
              |  CAST(sum(${bpeTokenCountSql("w", bpeMerges)}) AS BIGINT)
              |    AS n_bpe_tokens
              |FROM words GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QuerySpec("x29b_bpe_fertility",
      "tokenizer-fit governance over the x29 merges table: per-doc " +
        "fertility (BPE tokens per word), single-char fallback mass " +
        "(the OOV proxy — chars no merge covered) and chars-per-token " +
        "compression — the metrics that pick a vocab before a " +
        "100 TB tokenization run",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
        .select(col("doc_id"), length(col("w")).cast("long").as("n_chars"),
          bpeTokens(col("w"), bpeMerges).as("bt"))
        .select(col("doc_id"), col("n_chars"),
          size(col("bt")).cast("long").as("n_tok"),
          size(filter(col("bt"), t => length(t) === 1)).cast("long")
            .as("n_single"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          (sum(col("n_tok")).cast("double") /
            count(lit(1)).cast("double")).as("fertility"),
          (sum(col("n_single")).cast("double") /
            sum(col("n_tok")).cast("double")).as("singleton_frac"),
          (sum(col("n_chars")).cast("double") /
            sum(col("n_tok")).cast("double")).as("chars_per_tok"))
        .orderBy(col("doc_id")),
      Some(s"""WITH words AS (
              |  SELECT doc_id,
              |    unnest(string_split_regex(trim(text), '\\s+')) AS w
              |  FROM documents),
              |pw AS (
              |  SELECT doc_id, CAST(length(w) AS BIGINT) AS n_chars,
              |    ${bpeTokensSql("w", bpeMerges)} AS bt
              |  FROM words),
              |pw2 AS (
              |  SELECT doc_id, n_chars, CAST(len(bt) AS BIGINT) AS n_tok,
              |    CAST(len(list_filter(bt, t -> length(t) = 1)) AS BIGINT)
              |      AS n_single
              |  FROM pw)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              |    AS fertility,
              |  CAST(sum(n_single) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
              |    AS singleton_frac,
              |  CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
              |    AS chars_per_tok
              |FROM pw2 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QuerySpec("x14b_session_window_builtin",
      "sessionization via Spark's NATIVE session_window aggregate " +
        "(merge-on-overlap; end = last event + gap) — one aggregation, " +
        "no custom state; DuckDB oracle derives the same boundaries",
      (s, dir) => t(s, dir, "events")
        .groupBy(session_window(col("ts"), "1800 seconds").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"),
          col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
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

  )
}
