package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graph, Similarity}

/** Degenerate-input robustness: at 100 TB every operator regularly
  * sees empty partitions and empty filtered subsets — none of the
  * heavy operators may throw on them (ANSI mode makes e.g. bad
  * sequence() bounds fatal, so this is worth pinning). */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  private val emptyVecs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))

  test("minhash near-dup pairs on empty input is empty, not an error") {
    assert(Dedup.minHashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    // the shared capped-bucket stage behind the candidate, cross-corpus
    // and overflow paths
    assert(Dedup.lshCandidatePairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minHashBucketOverflow(emptyDocs, "doc_id", "text",
      maxBucket = 0).count() == 0)
    val docs = Seq((1L, "one two three four")).toDF("doc_id", "text")
    for ((a, b) <- Seq((emptyDocs, docs), (docs, emptyDocs)))
      assert(Dedup.crossCorpusNearDupPairs(a, b, "doc_id", "text")
        .count() == 0)
  }

  test("simhash on empty input is empty") {
    assert(Dedup.simHash64(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simHashBucketOverflow(emptyDocs, "doc_id", "text",
      Dedup.SimHashParams(maxBucket = 0)).count() == 0)
  }

  test("brute-force ANN with empty queries or corpus is empty") {
    val vecs = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(vecs, emptyVecs, "vec_id", "embedding", 3)
      .count() == 0)
    assert(Similarity.bruteForceTopK(emptyVecs, vecs, "vec_id", "embedding", 3)
      .count() == 0)
  }

  test("round-2 operators tolerate empty inputs") {
    import graft.operators.{Multimodal, Sampling}
    // simhash hamming pairs
    assert(Dedup.simHashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    // connected components over empty ids and empty edges
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Graph.connectedComponents(
      emptyDocs.select(col("doc_id")), "doc_id", noPairs).count() == 0)
    // sampling / splits
    assert(Sampling.hashSample(emptyDocs, "doc_id", 50).count() == 0)
    assert(Sampling.assignSplit(emptyDocs, "doc_id", 80, 10).count() == 0)
    // heap top-k aggregate over an empty scored set
    assert(Similarity.bruteForceTopKAgg(emptyVecs,
      emptyVecs, "vec_id", "embedding", 3).count() == 0)
    // IVF and ADC serving against frozen, non-empty artifacts (cellExpr
    // needs at least one centroid): empty corpus, then empty queries
    val vecs = Seq((0L, Seq(1f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val books = Array.tabulate(2, 2, 2)((s, j, d) => (s + j + d).toDouble)
    for ((corpus, queries) <- Seq((emptyVecs, vecs), (vecs, emptyVecs))) {
      assert(Similarity.ivfTopKWith(corpus, queries, "vec_id", "embedding",
        3, cents, nProbes = 2).count() == 0)
      for (residual <- Seq(false, true))
        assert(Similarity.adcTopKWith(corpus, queries, "vec_id",
          "embedding", 3, books, cents, nProbes = 2, residual).count() == 0)
    }
    // multimodal transform over an empty dataset
    val media = Multimodal.fromBinaryColumn(spark, emptyDocs, "doc_id", "text")
    assert(Multimodal.transformStage(
      Multimodal.decodeFeatures(media), 64, 64, 3).count() == 0)
  }

  test("round-3 operators tolerate empty inputs") {
    import graft.functions.VectorFunctions._
    import graft.operators.Corpus
    // full hygiene pipeline over an empty corpus
    assert(Corpus.clean(emptyDocs, "doc_id", "text", 0.0, Seq("en", "und"))
      .count() == 0)
    // adjudicated incremental dedup with empty batch AND empty inventory
    val inv = Dedup.signatureInventory(emptyDocs, "doc_id", "text")
    assert(Dedup.incrementalNearAdjudicated(emptyDocs, "doc_id", "text", inv)
      .count() == 0)
    // ExactSubstr window pipeline: removal and span report
    assert(Dedup.exactSubstringDedup(emptyDocs, "doc_id", "text")
      .count() == 0)
    assert(Dedup.duplicateSpans(emptyDocs, "doc_id", "text").count() == 0)
    // recall over empty frames
    val noPairs = Seq.empty[(Long, Long)].toDF("qid", "did")
    assert(Similarity.recallAtK(noPairs, noPairs).count() == 0)
    // quantization of empty vector set
    assert(emptyVecs.withColumn("s", int8Scale(col("embedding")))
      .withColumn("q", quantizeInt8(col("embedding"), col("s")))
      .count() == 0)
  }

  test("short documents (below shingle width) still shingle safely") {
    val tiny = Seq((1L, "ab"), (2L, "a b")).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(tiny, "doc_id", "text",
      Dedup.MinHashParams())
    assert(sigs.count() == 2) // whole-text fallback shingle
  }

  test("round-7 operators tolerate empty inputs") {
    import graft.operators.{LanguageModel, Stats, TextAnalysis}
    val emptyLangDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType))))
    // perplexity bucketing over an empty corpus (and so an empty LM)
    assert(LanguageModel.crossEntropyBuckets(emptyLangDocs, "doc_id",
      "text", "lang", "lang = 'en'").count() == 0)
    // heavy hitters over an empty corpus
    assert(TextAnalysis.heavyHitters(emptyDocs, "doc_id", "text",
      k = 5, candPool = 10, samplePct = 50).count() == 0)
    // exact quantiles over an empty frame: no groups, no rows
    assert(Stats.exactQuantiles(
      emptyDocs.withColumnRenamed("text", "g")
        .withColumn("v", col("doc_id").cast("double")),
      "g", "v", Seq(50)).count() == 0)
    // the GLOBAL form must agree (not emit one all-null aggregate row)
    assert(Stats.globalExactQuantiles(
      emptyDocs.withColumn("v", col("doc_id").cast("double")),
      "v", Seq(50)).count() == 0)
    // incremental IVF assignment of an empty batch
    assert(Similarity.ivfAssign(emptyVecs, "vec_id", "embedding",
      Array(Array(1.0, 0.0))).count() == 0)
  }

  test("round-12 operators tolerate empty and degenerate inputs") {
    import graft.operators.{Sampling, TextAnalysis, Web}
    // weighted sampling of an empty frame
    assert(Sampling.weightedSample(
      emptyDocs.withColumn("w", lit(1.0)).withColumnRenamed("text", "cls"),
      "cls", "doc_id", col("w"), k = 5).count() == 0)
    // prefix-filter pipeline end-to-end on an empty corpus
    val sets = Dedup.prefixFilterSets(emptyDocs, "doc_id", "text", 3)
    assert(sets.count() == 0)
    val cands = Dedup.prefixFilterCandidates(sets, "doc_id", 0.7)
    assert(cands.count() == 0)
    assert(Dedup.prefixFilterVerify(sets, cands, "doc_id", 0.7)
      .count() == 0)
    // html/anchor extraction on empty frames and empty/plain strings
    val shapes = Seq("", "plain text no markup", "<p>", "&amp;")
      .toDF("h")
    val cleaned = shapes.select(Web.htmlToText(col("h")).as("t"),
      Web.extractLinks(col("h")).as("l"),
      Web.extractAnchors(col("h")).as("a")).collect()
    assert(cleaned.length == 4)
    assert(cleaned.forall(_.getSeq[String](1).isEmpty))
    assert(shapes.limit(0)
      .select(Web.extractAnchors(col("h"))).count() == 0)
    // entropy of empty string / empty frame
    assert(shapes.select(TextAnalysis.charEntropy(col("h")).as("e"))
      .as[Double].collect().head == 0.0)
    assert(emptyDocs
      .select(TextAnalysis.charEntropy(col("text"))).count() == 0)
    // empty quantile sketch aggregate: zero groups, zero rows
    assert(emptyDocs.groupBy(col("text"))
      .agg(graft.functions.SketchFunctions.kllAgg(
        col("doc_id").cast("double"), 16)).count() == 0)
  }

  test("round-14 operators tolerate empty and degenerate inputs") {
    import graft.operators.{Corpus, Graph, Mixing, Packing, Sampling,
      Similarity, Stats}
    // paragraph dedup: empty frame; single empty-text doc keeps its row
    assert(Corpus.paragraphDedup(emptyDocs, "doc_id", "text").count() == 0)
    val oneEmpty = Seq((1L, "")).toDF("doc_id", "text")
    assert(Corpus.paragraphDedup(oneEmpty, "doc_id", "text")
      .as[(Long, String, Long, Long)].head() == ((1L, "", 1L, 1L)))
    // invisible scrub / sentence split on empty strings and frames
    assert(oneEmpty.select(Corpus.scrubInvisible(col("text")))
      .as[String].head() == "")
    assert(emptyDocs.select(
      graft.operators.TextAnalysis.splitSentences(col("text")))
      .count() == 0)
    // DSIR on an empty corpus is empty (no features, no histograms)
    assert(Sampling.dsirSelect(emptyDocs, "doc_id", "text", "1 = 1",
      buckets = 16, k = 5).count() == 0)
    // UniMax over zero domains / apply over an empty corpus
    val emptyDom = emptyDocs.select(col("text").as("domain"),
      col("doc_id").as("n_tok"))
    val alloc = Mixing.unimaxAllocate(emptyDom, "domain", "n_tok", 100L, 2.0)
    assert(alloc.count() == 0)
    assert(Mixing.unimaxApply(
      emptyDocs.withColumnRenamed("text", "domain"), "doc_id", "domain",
      alloc).count() == 0)
    // HITS and PageRank on an empty edge list: no nodes, no rows
    val emptyEdges = emptyDocs.select(col("doc_id").as("src"),
      col("doc_id").as("dst"))
    assert(Graph.hits(emptyEdges, iters = 2).count() == 0)
    assert(Graph.pageRank(emptyEdges, iters = 2).count() == 0)
    // bitext mining with an empty side
    assert(Similarity.bitextMarginMine(emptyVecs, emptyVecs,
      "vec_id", "embedding", k = 2).count() == 0)
    // FIM / span corruption: empty frames; 1-char doc is mode 'none'
    assert(Packing.fimTransform(emptyDocs, "doc_id", "text").count() == 0)
    assert(Packing.fimTransform(Seq((1L, "x")).toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, String, Long, Long, String)].head()
      == ((1L, "none", -1L, -1L, "x")))
    assert(Packing.spanCorrupt(emptyDocs, "doc_id", "text").count() == 0)
    // calibration of an empty score frame: zero bins
    assert(Stats.calibrationBins(
      emptyDocs.select(col("doc_id").cast("double").as("p"),
        lit(true).as("lab")), "p", "lab").count() == 0)
  }

  test("round-15 operators tolerate empty and degenerate inputs") {
    import graft.operators.{Corpus, Graph, Similarity}
    // converged HITS on an empty edge list: zero rows, zero rounds of
    // delta (the Observation on an empty frame reads null -> 0.0, so
    // the loop stops after one round with delta 0)
    val emptyEdges = emptyDocs.select(col("doc_id").as("src"),
      col("doc_id").as("dst"))
    val run = Graph.hitsConverged(emptyEdges, maxIters = 3, tol = 1e-6)
    assert(run.scores.count() == 0 && run.l1Delta == 0.0)
    // converged PageRank likewise: one round, null delta read as 0.0
    val pr = Graph.pageRankConverged(emptyEdges, maxIters = 3, tol = 1e-6)
    assert(pr.ranks.count() == 0 && pr.iters == 1 && pr.l1Delta == 0.0)
    // composed bitext mining with empty candidate frames (the shape
    // an empty retrieval produces: qid/did/cos columns, no rows)
    val emptyCand = emptyDocs.select(col("doc_id").as("qid"),
      col("doc_id").as("did"), col("doc_id").cast("double").as("cos"))
    assert(Similarity.bitextMarginMineWith(emptyCand, emptyCand, k = 2)
      .count() == 0)
    // budgetSelect (post-r15 two-phase prefix sum): empty corpus and
    // zero budget both behave — zero budget keeps nothing but still
    // emits every doc with its cum_tok
    assert(Corpus.budgetSelect(
      emptyDocs.select(col("doc_id"), col("doc_id").cast("double")
        .as("q"), col("doc_id").as("n_tok")),
      "doc_id", "q", "n_tok", 100L).count() == 0)
    val two = Seq((1L, 0.5, 3L), (2L, 0.9, 4L)).toDF("doc_id", "q", "n_tok")
    val zeroBudget = Corpus.budgetSelect(two, "doc_id", "q", "n_tok", 0L)
      .as[(Long, Double, Long, Long, Boolean)].collect()
    assert(zeroBudget.length == 2 && zeroBudget.forall(!_._5))
  }
}
