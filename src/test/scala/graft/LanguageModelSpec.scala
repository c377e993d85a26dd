package graft

import org.apache.spark.sql.functions._

import graft.operators.LanguageModel

class LanguageModelSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "aa bb cc dd", "en", "ref"),
    (2L, "aa bb cc dd", "en", "web"),
    (3L, "aa bb xx yy", "en", "web"),
    (4L, "xx yy zz ww", "en", "web"),
    (5L, "aa qq", "fr", "web")
  ).toDF("doc_id", "text", "lang", "src")

  private lazy val rows = LanguageModel
    .crossEntropyBuckets(docs, "doc_id", "text", "lang", "src = 'ref'")
    .select($"doc_id", $"h_r", $"bucket")
    .as[(Long, Double, String)].collect()
    .map(r => r._1 -> (r._2, r._3)).toMap

  test("add-one smoothed cross-entropy: exact values for in-vocab, " +
    "mixed, and fully-OOV docs") {
    // ref slice = doc 1: N = 4 token instances, V = 4 vocab
    // in-vocab p = (1+1)/8, OOV p = 1/8
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(rows(2L)._1 == r6(math.log(4)))
    assert(rows(3L)._1 == r6((2 * math.log(4) + 2 * math.log(8)) / 4))
    assert(rows(4L)._1 == r6(math.log(8)))
  }

  test("terciles are per-language over (h_r, id): ties keep id order, " +
    "a single-doc language is its own head") {
    // en ascending h: 1 (tie with 2, lower id), 2, 3, 4 -> ntile(3)
    // over 4 rows = sizes 2,1,1
    assert(rows(1L)._2 == "head" && rows(2L)._2 == "head")
    assert(rows(3L)._2 == "middle")
    assert(rows(4L)._2 == "tail")
    assert(rows(5L)._2 == "head")
  }

  test("OOV-heavier documents score strictly higher cross-entropy") {
    assert(rows(2L)._1 < rows(3L)._1 && rows(3L)._1 < rows(4L)._1)
  }

  test("bigram LM: exact interpolated values; seen bigrams beat " +
      "unseen; single-token docs excluded") {
    val d = Seq(
      (1L, "aa bb aa bb", "en", "ref"),
      (2L, "aa bb", "en", "web"),     // seen bigram
      (3L, "bb aa", "en", "web"),     // seen bigram (aa bb aa window)
      (4L, "zz qq", "en", "web"),     // fully OOV bigram: backoff only
      (5L, "aa", "en", "web")         // single token: excluded
    ).toDF("doc_id", "text", "lang", "src")
    val got = LanguageModel.bigramCrossEntropy(d, "doc_id", "text",
        "lang", "src = 'ref'")
      .select($"doc_id", $"n_bigrams", $"h2_r")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // ref "aa bb aa bb": bigrams (aa,bb)x2, (bb,aa)x1; ctx(aa)=2,
    // ctx(bb)=1; unigrams aa:2 bb:2, N=4, V=2 -> p1 = (c+1)/6
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val pAaBb = 0.7 * (2.0 / 2.0) + 0.3 * (3.0 / 6.0)
    val pBbAa = 0.7 * (1.0 / 1.0) + 0.3 * (3.0 / 6.0)
    val pZzQq = 0.7 * 0.0 + 0.3 * (1.0 / 6.0)
    assert(got(2L) == ((2L, 1L, r6(-math.log(pAaBb)))))
    assert(got(3L) == ((3L, 1L, r6(-math.log(pBbAa)))))
    assert(got(4L) == ((4L, 1L, r6(-math.log(pZzQq)))))
    assert(!got.contains(5L), "single-token docs have no bigram slots")
    assert(got(2L)._3 < got(4L)._3, "seen bigrams must score lower")
  }

  test("trigram LM: exact recursive-backoff values for seen, " +
      "backoff-only, and fully-OOV trigrams; <3-token docs excluded") {
    val d = Seq(
      (1L, "aa bb cc aa bb cc", "en", "ref"),
      (2L, "aa bb cc", "en", "web"), // seen trigram
      (3L, "cc bb cc", "en", "web"), // trigram unseen, bigram (bb,cc) seen
      (4L, "zz qq rr", "en", "web"), // fully OOV: unigram floor only
      (5L, "aa bb", "en", "web")     // two tokens: no trigram slot
    ).toDF("doc_id", "text", "lang", "src")
    val got = LanguageModel.trigramCrossEntropy(d, "doc_id", "text",
        "lang", "src = 'ref'")
      .select($"doc_id", $"n_trigrams", $"h3_r")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // ref "aa bb cc aa bb cc": trigrams (aa,bb,cc)x2 (bb,cc,aa)x1
    // (cc,aa,bb)x1; ctx3(aa,bb)=2 (bb,cc)=1 (cc,aa)=1; bigrams
    // (aa,bb)x2 (bb,cc)x2 (cc,aa)x1; ctx2(aa)=2 (bb)=2 (cc)=1;
    // unigrams aa:2 bb:2 cc:2, N=6, V=3 -> p1 = (c+1)/9
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val pSeen = 0.6 * (2.0 / 2.0) + 0.4 * (0.7 * (2.0 / 2.0) + 0.3 * (3.0 / 9.0))
    val pBack = 0.6 * 0.0 + 0.4 * (0.7 * (2.0 / 2.0) + 0.3 * (3.0 / 9.0))
    val pOov = 0.6 * 0.0 + 0.4 * (0.7 * 0.0 + 0.3 * (1.0 / 9.0))
    assert(got(2L) == ((2L, 1L, r6(-math.log(pSeen)))))
    assert(got(3L) == ((3L, 1L, r6(-math.log(pBack)))))
    assert(got(4L) == ((4L, 1L, r6(-math.log(pOov)))))
    assert(!got.contains(5L), "two-token docs have no trigram slots")
    assert(got(2L)._3 < got(3L)._3 && got(3L)._3 < got(4L)._3,
      "each backoff level must score strictly higher")
  }

  test("cooccurrencePmi emits directional forward-window pairs with " +
      "hand-checked marginals and pmi values") {
    val d = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = LanguageModel.cooccurrencePmi(d, "text", window = 2)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // pairs: (a,b) (a,c) (b,c) (b,d) (c,d); T=5
    // c(a,·)=2 c(b,·)=2 c(c,·)=1; c(·,b)=1 c(·,c)=2 c(·,d)=2
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.size == 5, s"expected 5 directional pairs: ${got.keySet}")
    assert(got(("a", "b")) == ((1L, r6(math.log(5.0 / 2.0)))))
    assert(got(("a", "c")) == ((1L, r6(math.log(5.0 / 4.0)))))
    assert(got(("b", "c")) == ((1L, r6(math.log(5.0 / 4.0)))))
    assert(got(("b", "d")) == ((1L, r6(math.log(5.0 / 4.0)))))
    assert(got(("c", "d")) == ((1L, r6(math.log(5.0 / 2.0)))))
    assert(!got.contains(("b", "a")), "pairs are directional")
    assert(!got.contains(("a", "d")), "window 2 cannot reach 3 ahead")
  }

  test("cooccurrencePmi: pmi is invariant under corpus duplication " +
      "(counts double, the ratio does not), the window tapers at " +
      "document end without a guard, and sub-window docs contribute " +
      "nothing") {
    val once = Seq((1L, "a b c d"), (2L, "x y"), (3L, "z"))
      .toDF("doc_id", "text")
    val twice = once.unionAll(once)
    val p1 = LanguageModel.cooccurrencePmi(once, "text", window = 3)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val p2 = LanguageModel.cooccurrencePmi(twice, "text", window = 3)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(p1.contains(("x", "y")), "2-token doc yields its one pair")
    assert(p1.keys.forall(_._1 != "z"), "1-token doc yields nothing")
    assert(p1.keySet == p2.keySet)
    p1.foreach { case (k, (n, pmi)) =>
      assert(p2(k)._1 == 2 * n, s"$k: support must double")
      assert(p2(k)._2 == pmi, s"$k: pmi must be duplication-invariant")
    }
  }

  test("cooccurrencePmi reads the pair counts of every consumer from " +
      "one materialized (a, b, c_ab) relation") {
    val d = Seq((1L, "a b c d"), (2L, "b c d a")).toDF("doc_id", "text")
    val out = LanguageModel.cooccurrencePmi(d, "text", window = 2)
    val leaves = out.queryExecution.optimizedPlan.collectLeaves()
    val rdds = leaves.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l }
    assert(rdds.nonEmpty && rdds.size == leaves.size,
      s"every leaf must be the materialized pair counts: $leaves")
    assert(rdds.map(_.rdd.id).distinct.size == 1,
      "the marginals, the total and the join read one relation")
    assert(rdds.head.output.map(_.name) == Seq("a", "b", "c_ab"))
    // forward window of 2: doc 1 gives a b, a c, b c, b d, c d; doc 2
    // gives b c, b d, c d, c a, d a — 10 pairs, 7 distinct
    val got = out.as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.size == 7 && got.values.sum == 10L)
    assert(Seq(("b", "c"), ("b", "d"), ("c", "d")).forall(got(_) == 2L))
  }

  test("tokenKlContributions: hand-computed smoothed probabilities " +
      "and contributions; distributions normalize; KL non-negative " +
      "and zero for identical slices") {
    val docs = Seq((1L, "a a b", true), (2L, "a b b b", false))
      .toDF("doc_id", "text", "f")
    val got = LanguageModel.tokenKlContributions(docs, "text", "f")
      .orderBy($"token")
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a: ca 2, cb 1 -> p 2.5/4, q 1.5/5; b: ca 1, cb 3 -> p 1.5/4, q 3.5/5
    assert(got(0) == (("a", 2L, 1L, 0.625, 0.3,
      r9(0.625 * math.log(0.625 / 0.3)))))
    assert(got(1) == (("b", 1L, 3L, 0.375, 0.7,
      r9(0.375 * math.log(0.375 / 0.7)))))
    assert(got.map(_._6).sum > 0) // genuinely shifted slices
    // identical slices: every contribution is exactly 0
    val same = Seq((1L, "x y z", true), (2L, "x y z", false))
      .toDF("doc_id", "text", "f")
    val zero = LanguageModel.tokenKlContributions(same, "text", "f")
      .select($"contrib_r").as[Double].collect()
    assert(zero.length == 3 && zero.forall(_ == 0.0))
  }
}
