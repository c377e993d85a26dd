package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: parallel=1, orthogonal=0, antiparallel=-1, zero-guarded") {
    val df = Seq(
      (Seq(1f, 0f), Seq(2f, 0f)),
      (Seq(1f, 0f), Seq(0f, 3f)),
      (Seq(1f, 0f), Seq(-1f, 0f)),
      (Seq(0f, 0f), Seq(1f, 1f))
    ).toDF("a", "b")
    val got = df.select(cosine(col("a"), col("b"))).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, -1.0, 0.0))
  }

  test("ArrayDotProduct is element-type adaptive: double, long, int, " +
      "and mixed-type arrays give identical doubles (fixture-drift arm)") {
    // FIXTURES.md claims a list<double> regeneration of the embeddings
    // table would change no hashes — pin the expression-level half of
    // that claim across the element types the codegen dispatches on
    import graft.functions.VectorFunctions.dotProduct
    val f = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
      .select(dotProduct(col("a"), col("b"))).as[Double].head()
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(dotProduct(col("a"), col("b"))).as[Double].head()
    val l = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
      .select(dotProduct(col("a"), col("b"))).as[Double].head()
    val m = Seq((Seq(1, 2, 3), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(dotProduct(col("a"), col("b"))).as[Double].head()
    assert(Seq(f, d, l, m).forall(_ == 32.0))
  }

  test("int8 quantization: exact scale, rounding, clamp, zero-vector") {
    val df = Seq(
      (1L, Seq(0f, 1f, -2f, 4f)),
      (2L, Seq(0f, 0f, 0f, 0f))
    ).toDF("id", "v")
      .withColumn("scale", int8Scale(col("v")))
      .withColumn("q", quantizeInt8(col("v"), col("scale")))
    val rows = df.select(col("id"), col("scale"), col("q"))
      .as[(Long, Double, Seq[Long])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val (s1, q1) = (rows(1L)._1, rows(1L)._2)
    assert(s1 == 4.0 / 127)
    // floor(v/scale + 0.5): 0 -> 0, 1 -> floor(32.25)=32,
    // -2 -> floor(-63.0)=-63, 4 -> 127 (the scale-defining element)
    assert(q1 == Seq(0L, 32L, -63L, 127L))
    val (s2, q2) = (rows(2L)._1, rows(2L)._2)
    assert(s2 == 0.0 && q2 == Seq(0L, 0L, 0L, 0L))
  }

  test("recallAtK: perfect approx = 1.0; disjoint approx = 0.0") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("qid", "did")
    val perfect = Similarity.recallAtK(exact, exact)
      .as[(Long, Double)].collect().toMap
    assert(perfect == Map(1L -> 1.0, 2L -> 1.0))
    val disjoint = Seq((1L, 99L), (2L, 98L)).toDF("qid", "did")
    val none = Similarity.recallAtK(disjoint, exact)
      .as[(Long, Double)].collect().toMap
    assert(none == Map(1L -> 0.0, 2L -> 0.0))
  }

  test("bruteForceTopK ranks by cosine, excludes self, respects k") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", 2)
      .select("qid", "rn", "did").as[(Long, Long, Long)].collect().toSeq
    assert(top == Seq((0L, 1L, 1L), (0L, 2L, 2L)))
  }

  test("bruteForceTopKAgg (bounded heap) equals the window form exactly") {
    val emb = graft.sources.Tables.load(spark, sf(), "embeddings")
    val q = emb.filter($"vec_id" < 8)
    val viaWindow = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "rn", "did", "cos").orderBy("qid", "rn").collect().toSeq
    val viaHeap = Similarity.bruteForceTopKAgg(emb, q, "vec_id", "embedding", 5)
      .select("qid", "rn", "did", "cos").orderBy("qid", "rn").collect().toSeq
    assert(viaHeap.nonEmpty)
    assert(viaHeap == viaWindow) // identical doubles, ranks, tie-breaks
  }

  test("TopKPairs keeps ties ordered by id and handles k > group size") {
    val scored = Seq((1L, 0.5, 10L), (1L, 0.5, 9L), (1L, 0.9, 11L))
      .toDF("qid", "cos", "did")
    import org.apache.spark.sql.GraftBridge
    val topk = GraftBridge.column(graft.plans.TopKPairs(
      GraftBridge.expression(col("cos")),
      GraftBridge.expression(col("did")), 5).toAggregateExpression())
    val got = scored.groupBy($"qid").agg(topk.as("top"))
      .select(posexplode($"top")).select("col.score", "col.id")
      .as[(Double, Long)].collect().toSeq
    assert(got == Seq((0.9, 11L), (0.5, 9L), (0.5, 10L)))
  }

  test("top_k_pairs as a running window keeps earlier candidates " +
      "(eval must not drain the shared buffer)") {
    Seq((1, 0.9, 1L), (1, 0.5, 2L), (1, 0.7, 3L)).toDF("g", "score", "id")
      .createOrReplaceTempView("topk_w_t")
    val got = spark.sql(
      """SELECT id, transform(top_k_pairs(score, id, 2) OVER (
        |  PARTITION BY g ORDER BY id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  p -> p.id) AS ids
        |FROM topk_w_t ORDER BY id""".stripMargin)
      .as[(Long, Seq[Long])].collect().toSeq
    assert(got == Seq((1L, Seq(1L)), (2L, Seq(1L, 2L)), (3L, Seq(1L, 3L))))
  }

  test("lshBuckets: identical vectors land in the same bucket") {
    val vecs = Seq(
      (0L, Seq.fill(8)(0.5f)),
      (1L, Seq.fill(8)(0.5f)),
      (2L, Seq.tabulate(8)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val buckets = vecs.select(col("vec_id"),
        Similarity.bucketExpr(col("embedding"), 4, 8).as("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(buckets(0L) == buckets(1L))
    assert(buckets.values.forall(b => b >= 0 && b < 16))
  }

  test("ivfTopK finds the identical twin (same-cell guarantee)") {
    val vecs = (0L until 20L).map { i =>
      (i, Seq.tabulate(8)(d => if (d == (i % 4).toInt) 1f else 0.1f))
    }.toDF("vec_id", "embedding")
    // vec 16 is an exact twin of vec 0's pattern (16 % 4 == 0)
    val cents = Similarity.ivfTrain(vecs, "vec_id", "embedding", nCells = 4)
    val top = Similarity.ivfTopKWith(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", 1, cents, nProbes = 1)
      .select("qid", "did", "cos").as[(Long, Long, Double)].collect()
    assert(top.length == 1)
    assert(top.head._2 % 4 == 0)   // nearest is a same-pattern vector
    assert(top.head._3 > 0.99)
  }

  test("ivfTopKWithCapped: candidate volume per query is HARD-bounded " +
      "by nProbes × cap however skewed the cells are, and a cap above " +
      "the largest cell is a no-op (identical to uncapped serving)") {
    // all 30 vectors share one direction: ONE cell holds everything —
    // the drift rehearsal's tight-mode geometry, worst-case skew
    val vecs = (0L until 30L).map(i =>
      (i, Seq.tabulate(8)(d => 1f + 0.001f * (i * 8 + d))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfTrain(vecs, "vec_id", "embedding",
      nCells = 4, iters = 2)
    val q = vecs.filter($"vec_id" < 3)
    val capped = Similarity.ivfTopKWithCapped(vecs, q, "vec_id",
      "embedding", k = 30, cents, nProbes = 1, perCellCap = 5)
    // k deliberately huge: the row count per query IS the candidate
    // count, and it must not exceed nProbes × cap (minus self-match)
    val perQuery = capped.groupBy($"qid").count()
      .as[(Long, Long)].collect().toMap
    assert(perQuery.values.forall(_ <= 5L),
      s"cap must bound candidates: $perQuery")
    val uncapped = Similarity.ivfTopKWith(vecs, q, "vec_id",
        "embedding", k = 5, cents, nProbes = 1)
      .select($"qid", $"rn", $"did").as[(Long, Long, Long)]
      .collect().toSet
    val bigCap = Similarity.ivfTopKWithCapped(vecs, q, "vec_id",
        "embedding", k = 5, cents, nProbes = 1, perCellCap = 1000)
      .select($"qid", $"rn", $"did").as[(Long, Long, Long)]
      .collect().toSet
    assert(bigCap == uncapped, "a non-biting cap must be a no-op")
  }

  test("the shared candidate → score → top-k skeleton ignores physical " +
      "layout: 1 and 64 shuffle partitions (AQE off) return identical " +
      "rows for every serving path") {
    val emb = graft.sources.Tables.load(spark, sf(), "embeddings")
    val q = emb.filter($"vec_id" < 8)
    // frozen artifacts, trained once: only the serving plans re-run
    val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nCells = 8)
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8,
      ksub = 8)
    val resBooks = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
      cents, m = 8, ksub = 8)
    val dedupCells = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nCells = 4)
    def serveAll(): Seq[Seq[String]] = Seq(
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
      Similarity.lshTopK(emb, q, "vec_id", "embedding", 5, nPlanes = 4,
        dim = 64),
      Similarity.ivfTopKWithCapped(emb, q, "vec_id", "embedding", 5, cents,
        nProbes = 2, perCellCap = 12),
      Similarity.adcTopKWith(emb, q, "vec_id", "embedding", 5, books, cents,
        nProbes = 2, residual = false),
      Similarity.adcTopKWith(emb, q, "vec_id", "embedding", 5, resBooks,
        cents, nProbes = 2, residual = true),
      Similarity.minePairsWith(emb, q, "vec_id", "embedding", cents,
        nProbes = 2, posBand = 0.10, negBand = 0.0),
      // the capped cell self-join shared with the dedup family; a cap
      // of 40 binds on this corpus's 4 cells
      Similarity.semanticDedup(emb, "vec_id", "embedding", dedupCells,
        tau = 0.9, maxCell = 40)
    ).map(_.collect().toSeq.map(_.toString).sorted)
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def at(partitions: Int): Seq[Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
      spark.conf.set("spark.sql.adaptive.enabled", false)
      serveAll()
    }
    try {
      val (one, many) = (at(1), at(64))
      assert(one.forall(_.nonEmpty), s"every path must return rows: $one")
      assert(one == many)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("ivfTrain is deterministic across invocations") {
    val vecs = (0L until 12L).map(i =>
      (i, Seq.tabulate(4)(d => (i * 7 % 5 + d).toFloat))).toDF("vec_id", "embedding")
    val c1 = Similarity.ivfTrain(vecs, "vec_id", "embedding", 3)
    val c2 = Similarity.ivfTrain(vecs, "vec_id", "embedding", 3)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("lshTopK finds the identical twin (same-bucket guarantee)") {
    val vecs = Seq(
      (0L, Seq.fill(8)(0.5f)),
      (1L, Seq.fill(8)(0.5f)),
      (2L, Seq.tabulate(8)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", 1, nPlanes = 4, dim = 8)
      .select("qid", "did").as[(Long, Long)].collect().toSeq
    assert(top == Seq((0L, 1L)))
  }

  test("semanticDedup drops exact twins, keeps the lowest id, " +
      "spares dissimilar cell-mates") {
    // 0 and 5 are identical; 9 is a scaled copy of 0 (cos = 1); 2 is
    // orthogonal-ish noise that must survive regardless of its cell.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (5L, Seq(1f, 0f, 0f, 0f)),
      (9L, Seq(3f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        Similarity.ivfTrain(vecs, "vec_id", "embedding", nCells = 2),
        tau = 0.95)
      .select($"vec_id", $"kept").as[(Long, Boolean)].collect().toMap
    assert(got(0L), "lowest id of the twin group must be kept")
    assert(!got(5L) && !got(9L), "twins of a lower id must drop")
    assert(got(2L), "a dissimilar vector must be kept")
    assert(got.size == 4)
  }

  test("semanticDedup: a deliberately dense cell is capped — rows " +
      "past the cap get no verdict and the overflow reporter names " +
      "the cell") {
    // 50 identical vectors -> one cell holds everything: the skewed
    // embedding-distribution worst case the cap exists for
    val vecs = (0L until 50L).map(i => (i, Seq(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val oneCell = Similarity.ivfTrain(vecs, "vec_id", "embedding",
      nCells = 1)
    val got = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        oneCell, tau = 0.9, maxCell = 10)
      .select($"vec_id", $"max_lower_cos_r", $"kept")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 50, "every row must still get a verdict row")
    assert(got(0L) == ((-1.0, true)), "lowest id has no lower cell-mate")
    (1L until 10L).foreach(i =>
      assert(got(i) == ((1.0, false)), s"capped row $i must drop"))
    (10L until 50L).foreach(i =>
      assert(got(i) == ((-1.0, true)),
        s"row $i beyond the cap must pass through un-judged"))
    val overflow = Similarity.semanticCellOverflow(vecs, "vec_id",
        "embedding", oneCell, maxCell = 10)
      .as[(Int, Long)].collect().toSeq
    assert(overflow.map(_._2) == Seq(50L),
      "the dense cell must be reported, not silently truncated")
  }

  test("semanticDedup verdicts use the rounded cosine against tau") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(1f, 0f))
    ).toDF("vec_id", "embedding")
    val row = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        Similarity.ivfTrain(vecs, "vec_id", "embedding", nCells = 1),
        tau = 1.0)
      .filter($"vec_id" === 2)
      .select($"max_lower_cos_r", $"kept").as[(Double, Boolean)].head()
    assert(row._1 == 1.0 && !row._2)
  }

  // Two tight clusters on orthogonal axes in dim 4 — PQ with m=2
  // subspaces of 2 dims each separates them perfectly.
  private def pqCorpus = Seq(
    (0L, Seq(1f, 0f, 0f, 0f)),
    (1L, Seq(0.99f, 0.01f, 0f, 0f)),
    (2L, Seq(0.98f, 0.02f, 0f, 0f)),
    (3L, Seq(0f, 0f, 1f, 0f)),
    (4L, Seq(0f, 0f, 0.99f, 0.01f)),
    (5L, Seq(0f, 0f, 0.98f, 0.02f))
  ).toDF("vec_id", "embedding")

  test("pqTrain: m codebooks of ksub codewords, dim/m wide, " +
      "deterministic across runs") {
    val b1 = Similarity.pqTrain(pqCorpus, "vec_id", "embedding",
      m = 2, ksub = 2)
    val b2 = Similarity.pqTrain(pqCorpus, "vec_id", "embedding",
      m = 2, ksub = 2)
    assert(b1.length == 2 && b1.forall(_.length == 2) &&
      b1.forall(_.forall(_.length == 2)))
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq ==
      b2.map(_.map(_.toSeq).toSeq).toSeq, "RNG-free training must be " +
      "bit-reproducible")
  }

  // the trained artifacts of the PQ specs: m = 2 codebooks of
  // ksub = 2 codewords (plain or residual) over 2 coarse cells
  private def pqBooks() = Similarity.pqTrain(pqCorpus, "vec_id",
    "embedding", m = 2, ksub = 2)
  private def pqCells() = Similarity.ivfTrain(pqCorpus, "vec_id",
    "embedding", nCells = 2)

  test("adcTopK: nearest cluster-mate ranks first, self excluded, " +
      "k respected") {
    val top = Similarity.adcTopKWith(pqCorpus,
        pqCorpus.filter($"vec_id" === 0), "vec_id", "embedding",
        k = 2, pqBooks(), pqCells(), nProbes = 2, residual = false)
      .select($"qid", $"rn", $"did").as[(Long, Long, Long)]
      .collect().sortBy(_._2).toSeq
    assert(top.length == 2)
    assert(top.forall(_._3 != 0L), "self must be excluded")
    assert(top.map(_._3).toSet.subsetOf(Set(1L, 2L)),
      "ADC over PQ codes must keep the query inside its own cluster")
  }

  test("adcTopK scores are LUT sums over the candidate's codes — " +
      "identical codes score identically") {
    // ids 1 and 2 quantize to the same codewords as id 0's cluster;
    // with ksub=2 both land on the SAME code per subspace, so their
    // ADC scores against any query tie exactly and rank by did
    val top = Similarity.adcTopKWith(pqCorpus,
        pqCorpus.filter($"vec_id" === 3), "vec_id", "embedding",
        k = 2, pqBooks(), pqCells(), nProbes = 2, residual = false)
      .select($"rn", $"did", $"score").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(top.map(_._2) == Seq(4L, 5L),
      "equal-code candidates tie on adc and order by did")
    assert(top(0)._3 == top(1)._3)
  }

  test("ivfAssign lands new rows in the same cells a fresh " +
      "assignment would, and returns the drift score") {
    val base = pqCorpus.filter($"vec_id" < 4)
    val cents = Similarity.ivfTrain(base, "vec_id", "embedding",
      nCells = 2)
    val got = Similarity.ivfAssign(pqCorpus.filter($"vec_id" >= 4),
        "vec_id", "embedding", cents)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._2).toMap
    // fresh assignment of the same rows via cellExpr must agree
    val fresh = pqCorpus.filter($"vec_id" >= 4)
      .select($"vec_id", Similarity.cellExpr($"embedding", cents).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(got == fresh)
    // vectors 4 and 5 sit on the second cluster's axis: both must
    // land in the same cell with a near-1 score
    assert(got(4L) == got(5L))
  }

  test("adcResidualTopK: residual codes keep the query in its own " +
      "cluster; training is deterministic") {
    val cells = pqCells()
    val top = Similarity.adcTopKWith(pqCorpus,
        pqCorpus.filter($"vec_id" === 0), "vec_id", "embedding", k = 2,
        Similarity.pqTrainResidual(pqCorpus, "vec_id", "embedding", cells,
          m = 2, ksub = 2), cells, nProbes = 2, residual = true)
      .select($"qid", $"rn", $"did").as[(Long, Long, Long)]
      .collect().sortBy(_._2).toSeq
    assert(top.length == 2)
    assert(top.forall(_._3 != 0L), "self must be excluded")
    assert(top.map(_._3).toSet.subsetOf(Set(1L, 2L)),
      "residual ADC must keep the query inside its own cluster")
    val b1 = Similarity.pqTrainResidual(pqCorpus, "vec_id", "embedding",
      cells, m = 2, ksub = 2)
    val b2 = Similarity.pqTrainResidual(pqCorpus, "vec_id", "embedding",
      cells, m = 2, ksub = 2)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq ==
      b2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("residual reconstruction beats cell-agnostic PQ on mean " +
      "quantization error (the reason residual encoding exists)") {
    // clusters far from the origin: a cell-agnostic codebook must
    // spend its codewords spanning both cluster OFFSETS; residual
    // codebooks only encode within-cluster spread
    val vecs = Seq(
      (0L, Seq(10f, 0f, 0f, 0f)), (1L, Seq(10.5f, 0.5f, 0f, 0f)),
      (2L, Seq(11f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 10f, 0f)),
      (4L, Seq(0f, 0f, 10.5f, 0.5f)), (5L, Seq(0f, 0f, 11f, 1f))
    ).toDF("vec_id", "embedding")
    // exact self-similarity: query the corpus against itself with
    // k=1 — the reconstruction that ranks SELF first more often has
    // the lower quantization error; with identical coarse cells the
    // comparison isolates the codebooks. Use score of the true self
    // pair (qid==did allowed via a fresh join) as the proxy instead:
    // residual score of (v, v) must be closer to ||v||^2 than plain.
    val centsR = Similarity.ivfTrain(vecs, "vec_id", "embedding",
      nCells = 2)
    val plainBooks = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = 2, ksub = 2)
    val resBooks = Similarity.pqTrainResidual(vecs, "vec_id", "embedding",
      centsR, m = 2, ksub = 2)
    def reconError(v: Array[Double], approx: Array[Double]): Double =
      v.zip(approx).map { case (a, b) => (a - b) * (a - b) }.sum
    def encodePlain(v: Array[Double], s: Int): Array[Double] = {
      val sub = v.slice(s * 2, s * 2 + 2)
      plainBooks(s).minBy(cw => reconError(sub, cw))
    }
    def cellOf(v: Array[Double]): Int =
      centsR.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map(p => p._1 * p._2).sum, i) }.maxBy(identity)._2
    def encodeRes(v: Array[Double], s: Int): Array[Double] = {
      val c = centsR(cellOf(v))
      val sub = v.indices.slice(s * 2, s * 2 + 2)
        .map(d => v(d) - c(d)).toArray
      val cw = resBooks(s).minBy(w => reconError(sub, w))
      v.indices.slice(s * 2, s * 2 + 2).zipWithIndex
        .map { case (d, di) => c(d) + cw(di) }.toArray
    }
    val raw = vecs.select($"embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray)
    val plainErr = raw.map(v =>
      reconError(v, encodePlain(v, 0) ++ encodePlain(v, 1))).sum
    val resErr = raw.map(v =>
      reconError(v, encodeRes(v, 0) ++ encodeRes(v, 1))).sum
    assert(resErr < plainErr,
      s"residual encoding must reduce reconstruction error " +
        s"(res=$resErr plain=$plainErr)")
  }

  test("minePairs: positive from its own cluster, hard negative " +
      "below the band, anchors lacking either side dropped") {
    // anchor cluster on x-axis; a mild cross-cluster candidate gives
    // the hard negative; probing both cells sees all candidates
    val got = Similarity.minePairsWith(pqCorpus,
        pqCorpus.filter($"vec_id" === 0), "vec_id", "embedding",
        pqCells(), nProbes = 2, posBand = 0.5, negBand = 0.5)
      .select($"qid", $"pos_id", $"hneg_id", $"pos_cos_r", $"hneg_cos_r")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.length == 1)
    val r = got.head
    assert(r._2 == 1L, s"positive must be the nearest cluster-mate: $r")
    assert(Set(3L, 4L, 5L).contains(r._3),
      s"hard negative must come from the other cluster: $r")
    assert(r._4 >= 0.5 && r._5 < 0.5)
    // a band nothing satisfies yields no pair rows, not nulls
    val none = Similarity.minePairsWith(pqCorpus,
      pqCorpus.filter($"vec_id" === 0), "vec_id", "embedding",
      pqCells(), nProbes = 2, posBand = 1.1, negBand = 1.0)
    assert(none.count() == 0)
  }

  test("exactRerank scores ONLY the candidate pairs, with exact " +
      "cosine order") {
    // candidates deliberately exclude the true nearest (1) — the
    // re-rank must respect the shortlist, not sneak in corpus rows
    val cands = Seq((0L, 2L), (0L, 3L)).toDF("qid", "did")
    val got = Similarity.exactRerank(pqCorpus,
        pqCorpus.filter($"vec_id" === 0), "vec_id", "embedding",
        cands, k = 2)
      .select($"rn", $"did", $"cos").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got.map(_._2) == Seq(2L, 3L),
      s"cluster-mate 2 must out-rank cross-cluster 3: $got")
    assert(got(0)._3 > 0.9 && got(1)._3 < 0.1)
  }

  test("exactRerank over an adcTopKWith shortlist restores exact " +
      "order, caps at k") {
    val q = pqCorpus.filter($"vec_id" === 0)
    def rerank(shortlistC: Int, k: Int) = Similarity.exactRerank(pqCorpus,
        q, "vec_id", "embedding",
        Similarity.adcTopKWith(pqCorpus, q, "vec_id", "embedding",
            shortlistC, pqBooks(), pqCells(), nProbes = 2, residual = false)
          .select($"qid", $"did"), k)
      .select($"rn", $"did").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    val got = rerank(shortlistC = 4, k = 2)
    assert(got.length == 2)
    assert(got.map(_._2) == Seq(1L, 2L),
      s"exact re-rank must order cluster-mates by true cosine: $got")
    // a shortlist narrower than k bounds the output: the re-rank
    // scores only the candidates it is given
    assert(rerank(shortlistC = 2, k = 5).length == 2)
  }

  test("cellBalancedSample caps every cell and is deterministic " +
      "across runs") {
    val cents = Similarity.ivfTrain(pqCorpus, "vec_id", "embedding",
      nCells = 2)
    def run() = Similarity.cellBalancedSample(pqCorpus, "vec_id",
        "embedding", cents, perCell = 2)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSeq
      .sortBy(_._1)
    val a = run()
    assert(a == run(), "hash-ordered sampling must be reproducible")
    assert(a.groupBy(_._2).values.forall(_.size <= 2),
      s"no cell may exceed the cap: $a")
    assert(a.map(_._2).distinct.size == 2,
      "both clusters must stay represented")
  }

  test("IVF index persistence: save/load round-trips centroids " +
      "bit-exactly with a validated manifest; search via the loaded " +
      "index equals search via the original") {
    val cents = Similarity.ivfTrain(pqCorpus, "vec_id", "embedding",
      nCells = 2)
    Similarity.saveIvfIndex(spark, "spec_ivf", cents,
      Map("snapshot" -> "spec-fixture"))
    val (loaded, man) = Similarity.loadIvfIndex(spark, "spec_ivf")
    assert(loaded.length == cents.length &&
      loaded.zip(cents).forall { case (a, b) => a.sameElements(b) },
      "parquet round-trip must be bit-exact")
    assert(man("kind") == "ivf" && man("n_cells") == "2" &&
      man("snapshot") == "spec-fixture")
    val orig = Similarity.ivfTopKWith(pqCorpus,
        pqCorpus.filter($"vec_id" === 0), "vec_id", "embedding",
        k = 2, cents, nProbes = 1)
      .select($"rn", $"did").as[(Long, Long)].collect().toSeq.sorted
    val viaLoaded = Similarity.ivfTopKWith(pqCorpus,
        pqCorpus.filter($"vec_id" === 0), "vec_id", "embedding",
        k = 2, loaded, nProbes = 1)
      .select($"rn", $"did").as[(Long, Long)].collect().toSeq.sorted
    assert(orig == viaLoaded)
  }

  test("PQ index persistence round-trips codebooks; loaders REJECT a " +
      "kind mismatch and a manifest/table disagreement") {
    val books = Similarity.pqTrain(pqCorpus, "vec_id", "embedding",
      m = 2, ksub = 2)
    Similarity.savePqIndex(spark, "spec_pq", books,
      Map("snapshot" -> "spec-fixture"))
    val (loaded, man) = Similarity.loadPqIndex(spark, "spec_pq")
    assert(man("m") == "2" && man("ksub") == "2")
    assert(loaded.length == books.length &&
      loaded.flatten[Array[Double]].zip(books.flatten[Array[Double]])
        .forall { case (a, b) => a.sameElements(b) })
    // kind mismatch fails loudly, both directions
    intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(spark, "spec_pq")
    }
    intercept[IllegalArgumentException] {
      Similarity.loadPqIndex(spark, "spec_ivf")
    }
  }

  test("jlWeights: deterministic Rademacher, namespaced apart from " +
    "the sign-LSH planes") {
    val w1 = Similarity.jlWeights(4, 8)
    val w2 = Similarity.jlWeights(4, 8)
    assert(w1.map(_.toSeq).toSeq == w2.map(_.toSeq).toSeq)
    assert(w1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(w1.map(_.toSeq).toSeq !=
      Similarity.planeWeights(4, 8).map(_.toSeq).toSeq)
  }

  test("jlProject: basis vector e_d maps to column d of the weight " +
    "matrix scaled by 1/sqrt(dOut) — pins the projection arithmetic") {
    val dOut = 4; val dim = 8; val d = 3
    val w = Similarity.jlWeights(dOut, dim)
    val e = Seq(Seq.tabulate(dim)(i => if (i == d) 1f else 0f)).toDF("v")
    val got = e.select(Similarity.jlProject(col("v"), dOut, dim).as("p"))
      .as[Seq[Double]].head
    val want = (0 until dOut).map(j => w(j)(d) / math.sqrt(dOut.toDouble))
    assert(got == want)
  }

  test("jlProject preserves the cosine of a near-dup pair far more " +
    "tightly than that of an independent pair (distortion scales " +
    "with pair distance — the margin x62 rests on)") {
    val dim = 64
    val base = Seq.tabulate(dim)(i => math.sin(i + 1.0).toFloat)
    val twin = base.map(v => (v + 0.05f))
    val other = Seq.tabulate(dim)(i => math.cos(2.0 * i).toFloat)
    val df = Seq((base, twin, other)).toDF("a", "b", "c")
      .select(Similarity.jlProject(col("a"), 32, dim).as("ja"),
        Similarity.jlProject(col("b"), 32, dim).as("jb"),
        Similarity.jlProject(col("c"), 32, dim).as("jc"),
        cosine(col("a"), col("b")).as("cab"),
        cosine(col("a"), col("c")).as("cac"))
    val r = df.select(col("cab"), col("cac"),
      cosine(col("ja"), col("jb")).as("jab"),
      cosine(col("ja"), col("jc")).as("jac")).head
    val (cab, cac, jab, jac) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(math.abs(cab - jab) < 0.02,
      s"near pair drifted: full $cab vs JL $jab")
    assert(jab > jac + 0.2, "near pair must stay separated from the " +
      s"independent pair in JL space: $jab vs $jac")
  }

  test("bitextMarginMine: true translations pair up mutually; the " +
      "margin demotes the hub vector that raw cosine would over-mine") {
    import spark.implicits._
    // axis-aligned 4-d toy: src 1/2/3 translate to tgt 11/12/13; tgt 14
    // is a deliberate HUB (diagonal — moderately close to EVERYTHING)
    def v(a: Double, b: Double, c: Double, d: Double) =
      Array(a.toFloat, b.toFloat, c.toFloat, d.toFloat)
    val src = Seq(
      (1L, v(1, 0.1, 0, 0)), (2L, v(0, 1, 0.1, 0)), (3L, v(0, 0, 1, 0.1))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (11L, v(1, 0, 0.1, 0)), (12L, v(0.1, 1, 0, 0)),
      (13L, v(0, 0.1, 1, 0)), (14L, v(0.6, 0.6, 0.6, 0.6))
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .bitextMarginMine(src, tgt, "vec_id", "embedding", k = 2)
      .select($"src_id", $"tgt_id", $"mutual")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got.size == 3)
    // every source mines its true translation, mutually — never the hub
    assert(got(1L) == ((1L, 11L, true)))
    assert(got(2L) == ((2L, 12L, true)))
    assert(got(3L) == ((3L, 13L, true)))
  }

  test("bitextMarginMineWith over COMPLETE candidate sets equals the " +
      "exact all-pairs miner, and the candidate union deduplicates " +
      "pairs retrieved from both directions") {
    import spark.implicits._
    def v(a: Double, b: Double, c: Double, d: Double) =
      Array(a.toFloat, b.toFloat, c.toFloat, d.toFloat)
    val src = Seq(
      (1L, v(1, 0.1, 0, 0)), (2L, v(0, 1, 0.1, 0)), (3L, v(0, 0, 1, 0.1))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (11L, v(1, 0, 0.1, 0)), (12L, v(0.1, 1, 0, 0)),
      (13L, v(0, 0.1, 1, 0)), (14L, v(0.6, 0.6, 0.6, 0.6))
    ).toDF("vec_id", "embedding")
    // one cell, one probe: IVF retrieval degenerates to brute force,
    // so candidates are complete in both directions (and every pair
    // arrives TWICE — once per direction — exercising the dedup)
    val oneCell = Array(Array(0.0, 0.0, 0.0, 0.0))
    val fwd = graft.operators.Similarity.ivfTopKWith(
      tgt, src, "vec_id", "embedding", k = 4, oneCell, nProbes = 1)
    val bwd = graft.operators.Similarity.ivfTopKWith(
      src, tgt, "vec_id", "embedding", k = 3, oneCell, nProbes = 1)
    val composed = graft.operators.Similarity
      .bitextMarginMineWith(fwd, bwd, k = 2)
      .orderBy($"src_id")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSeq
    val exact = graft.operators.Similarity
      .bitextMarginMine(src, tgt, "vec_id", "embedding", k = 2)
      .orderBy($"src_id")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(composed == exact,
      s"complete candidates must reproduce the exact miner:\n" +
        s"composed=$composed\nexact=$exact")
  }
}
