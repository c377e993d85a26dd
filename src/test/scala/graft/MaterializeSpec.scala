package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Dedup, LanguageModel, Sampling, Similarity}
import graft.sources.Tables

/** The materialization policy (`graft.operators.Materialize`): an
  * operator whose returned plan forks materializes the fork point
  * itself, and an eager loop releases what it persisted. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private val spans = Seq(
    (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    (21L, "one two alpha beta gamma delta epsilon three four five", "fr"),
    (22L, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en"),
    (23L, "six seven eight nine ten one two alpha beta gamma", "de")
  ).toDF("doc_id", "text", "lang")

  /** Candidate frames of the two IVF retrieval directions, as x80b
    * builds them. */
  private def bitextCandidates(emb: DataFrame): (DataFrame, DataFrame) = {
    val src = emb.filter($"vec_id" % 2 === 0)
    val tgt = emb.filter($"vec_id" % 2 === 1)
    val srcCents = Similarity.ivfTrain(src, "vec_id", "embedding",
      nCells = 4)
    val tgtCents = Similarity.ivfTrain(tgt, "vec_id", "embedding",
      nCells = 4)
    (Similarity.ivfTopKWithCapped(tgt, src, "vec_id", "embedding", k = 8,
        tgtCents, nProbes = 2, perCellCap = 64),
      Similarity.ivfTopKWithCapped(src, tgt, "vec_id", "embedding", k = 8,
        srcCents, nProbes = 2, perCellCap = 64))
  }

  test("operators with a forked returned plan read the fork point from " +
      "a materialized relation, never re-planning the source beside it") {
    val (fwd, bwd) = bitextCandidates(Tables.load(spark, sf(), "embeddings"))
    val outs = Seq(
      "exactSubstringDedup" ->
        Dedup.exactSubstringDedup(spans, "doc_id", "text", l = 4),
      "duplicateSpans" -> Dedup.duplicateSpans(spans, "doc_id", "text", l = 4),
      "cooccurrencePmi" -> LanguageModel.cooccurrencePmi(spans, "text", 3),
      "dsirSelect" -> Sampling.dsirSelect(spans, "doc_id", "text",
        "lang = 'en'", k = 2),
      "bitextMarginMineWith" -> Similarity.bitextMarginMineWith(fwd, bwd, 4))
    outs.foreach { case (name, out) =>
      val leaves = out.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
        s"$name must read only materialized relations: $leaves")
      assert(out.count() > 0, s"$name must return rows")
    }
  }

  test("the Lloyd trainers release the projection they persist") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", nCells = 4)
    assert(cache.isEmpty, "ivfTrain left a cached frame")
    Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 4)
    assert(cache.isEmpty, "pqTrain left a cached frame")
    Similarity.pqTrainResidual(emb, "vec_id", "embedding", cents, m = 8,
      ksub = 4)
    assert(cache.isEmpty, "pqTrainResidual left a cached frame")
  }

  test("the materializing operators and the Lloyd trainers ignore " +
      "physical layout: 1 and 64 shuffle partitions (AQE off) return " +
      "identical rows and codebooks") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val docs = Tables.load(spark, sf(), "documents")
    def runAll(): Seq[Seq[String]] = {
      val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
        nCells = 8)
      val books = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8,
        ksub = 8)
      val resBooks = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
        cents, m = 8, ksub = 8)
      val (fwd, bwd) = bitextCandidates(emb)
      Seq(cents.map(_.toSeq).toSeq, books.map(_.map(_.toSeq).toSeq).toSeq,
          resBooks.map(_.map(_.toSeq).toSeq).toSeq).map(b => Seq(b.toString)) ++
        Seq(
          LanguageModel.cooccurrencePmi(docs, "text", 3),
          Sampling.dsirSelect(docs, "doc_id", "text", "lang = 'en'", k = 20),
          Similarity.bitextMarginMineWith(fwd, bwd, 4)
        ).map(_.collect().toSeq.map(_.toString).sorted)
    }
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def at(partitions: Int): Seq[Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
      spark.conf.set("spark.sql.adaptive.enabled", false)
      runAll()
    }
    try {
      val (one, many) = (at(1), at(64))
      assert(one.forall(_.nonEmpty), s"every path must return rows: $one")
      assert(one == many)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
