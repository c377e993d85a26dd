package graft

import org.apache.spark.TestJobs
import org.apache.spark.sql.functions._

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-double reference model of the same fixed-iteration
    * PageRank (unordered sums — the operator's ordered folds must
    * agree to well under the 6-dp publish rounding). */
  private def model(edges: Seq[(Long, Long)], iters: Int,
      damping: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      val in = edges.groupBy(_._2)
      r = nodes.map { v =>
        val s = in.getOrElse(v, Seq.empty)
          .map { case (u, _) => r(u) / deg(u) }.sum
        v -> ((1.0 - damping) / n + damping * s)
      }.toMap
    }
    r
  }

  /** Bits of the size estimate Spark plans `df` with. */
  private def estimateBits(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength

  test("two-node cycle holds rank 0.5/0.5 at any iteration count") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    for (iters <- Seq(1, 3, 5)) {
      val got = Graph.pageRank(e, iters).as[(Long, Double)].collect().toMap
      assert(got == Map(1L -> 0.5, 2L -> 0.5), s"iters=$iters")
    }
  }

  test("ranks agree with a plain-double reference model and are " +
      "invariant to the shard count of the two-phase fold") {
    // small web: a hub (1) pointed at by everyone, a cycle, a chain
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L), (6L, 1L), (1L, 6L))
    val e = edges.toDF("src", "dst")
    // the operator publishes 6-dp-rounded ranks — round the model the
    // same way before comparing
    val want = model(edges, 3).view.mapValues(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble).toMap
    for (shards <- Seq(1, 4, 64)) {
      val got = Graph.pageRank(e, 3, shards = shards)
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (id, r) =>
        assert(math.abs(r - want(id)) < 1e-9,
          s"shards=$shards node $id: $r vs model ${want(id)}") }
      // the hub must outrank every spoke
      assert(got(1L) == got.values.max)
    }
  }

  test("ranks sum to ~1 on a graph with no dangling nodes, and " +
      "parameters are validated") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val total = Graph.pageRank(e, 3).as[(Long, Double)]
      .collect().map(_._2).sum
    assert(math.abs(total - 1.0) < 1e-5, s"mass leaked: $total")
    intercept[IllegalArgumentException] { Graph.pageRank(e, 0) }
    intercept[IllegalArgumentException] { Graph.pageRank(e, 1, damping = 1.0) }
    intercept[IllegalArgumentException] { Graph.pageRank(e, 1, shards = 0) }
  }

  test("pageRankConverged stops at tolerance with the L1-delta probe " +
      "and equals the fixed-iteration ranks at the rounds it ran") {
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L), (6L, 1L), (1L, 6L))
    val e = edges.toDF("src", "dst")
    val run = Graph.pageRankConverged(e, maxIters = 50, tol = 1e-6)
    assert(run.iters < 50,
      s"expected convergence well before the cap, ran ${run.iters}")
    assert(run.l1Delta <= 1e-6, s"returned delta ${run.l1Delta} > tol")
    // each round joins its truncated state twice; uncapped, the size
    // estimate it carries would square per round (2^iters digits)
    assert(estimateBits(run.ranks) < 128)
    val got = run.ranks.as[(Long, Double)].collect().toMap
    val fixed = Graph.pageRank(e, run.iters).as[(Long, Double)]
      .collect().toMap
    assert(got == fixed,
      "converged ranks must equal the fixed-iteration operator at " +
        s"iters=${run.iters}")
    // a looser tolerance must stop earlier (the probe is monotone
    // on this contraction)
    val loose = Graph.pageRankConverged(e, maxIters = 50, tol = 1e-2)
    assert(loose.iters < run.iters,
      s"tol=1e-2 ran ${loose.iters}, tol=1e-6 ran ${run.iters}")
    intercept[IllegalArgumentException] {
      Graph.pageRankConverged(e, maxIters = 0, tol = 1e-6)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankConverged(e, maxIters = 5, tol = 0.0)
    }
  }

  test("pageRankConverged on a two-node cycle converges in one round " +
      "(the initial vector is already the fixpoint)") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val run = Graph.pageRankConverged(e, maxIters = 10, tol = 1e-9)
    assert(run.iters == 1 && run.l1Delta <= 1e-9)
    assert(run.ranks.as[(Long, Double)].collect().toMap ==
      Map(1L -> 0.5, 2L -> 0.5))
  }

  test("hits: hand-computed two-round max-normalized scores on a " +
      "3-node graph") {
    // 1 -> 3, 2 -> 3, 3 -> 1: h0 = 1 everywhere
    // a1 raw (1, 0, 2) -> /2 -> (0.5, 0, 1)
    // h1 raw (1, 1, 0.5) -> /1 -> (1, 1, 0.5)
    // a2 raw (0.5, 0, 2) -> /2 -> (0.25, 0, 1)
    // h2 raw (1, 1, 0.25) -> /1 -> (1, 1, 0.25)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.hits(e, iters = 2)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 0.25, 1.0)))
    assert(got(2L) == ((2L, 0.0, 1.0)))
    assert(got(3L) == ((3L, 1.0, 0.25)))
  }

  test("hitsConverged stops at tolerance with the combined L1 probe " +
      "and equals fixed-iteration hits at the rounds it ran") {
    // 1 -> 3, 2 -> 3, 3 -> 1: deltas halve per round (0.5, 0.25, ...)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val run = Graph.hitsConverged(e, maxIters = 30, tol = 1e-3)
    assert(run.iters < 30,
      s"expected convergence well before the cap, ran ${run.iters}")
    assert(run.l1Delta <= 1e-3, s"returned delta ${run.l1Delta} > tol")
    assert(estimateBits(run.scores) < 128)
    val got = run.scores.as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val fixed = Graph.hits(e, iters = run.iters)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == fixed,
      s"converged scores must equal hits at iters=${run.iters}")
    // a looser tolerance stops earlier on this halving contraction
    val loose = Graph.hitsConverged(e, maxIters = 30, tol = 0.3)
    assert(loose.iters < run.iters,
      s"tol=0.3 ran ${loose.iters}, tol=1e-3 ran ${run.iters}")
    intercept[IllegalArgumentException] {
      Graph.hitsConverged(e, maxIters = 0, tol = 1e-3)
    }
    intercept[IllegalArgumentException] {
      Graph.hitsConverged(e, maxIters = 5, tol = 0.0)
    }
  }

  test("hits: a pure-source node has zero authority, a pure-sink node " +
      "zero hub score; scores are deterministic across runs") {
    val e = Seq((1L, 10L), (2L, 10L), (1L, 11L), (11L, 2L))
      .toDF("src", "dst")
    val a = Graph.hits(e, iters = 3)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val byId = a.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == 0.0)  // nothing points at 1
    assert(byId(10L)._3 == 0.0) // 10 points at nothing
    val b = Graph.hits(e, iters = 3)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("connectedComponents runs one Spark job per label-propagation " +
      "round: the changed-label count rides the round's truncation") {
    // the same 9-node path labelled two ways: min id at an end takes 8
    // propagating rounds + 1 quiet round; min id in the middle 4 + 1.
    // Both share every setup job (same edge endpoints, same ids), so
    // the job difference is the per-round cost times 9 - 5 rounds.
    // AQE and broadcast joins off: a query is then exactly one job
    // (AQE runs each shuffle stage as a job of its own, a broadcast
    // collects its side in one more).
    def pathJobs(order: Seq[Long]): Int = {
      val ids = order.sorted.toDF("doc_id")
      val pairs = order.zip(order.tail).toDF("id_a", "id_b")
      val (labels, jobs) = TestJobs.during(spark.sparkContext)(
        Graph.connectedComponents(ids, "doc_id", pairs))
      assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
      jobs
    }
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", false)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1L)
    try {
      val end = pathJobs(1L to 9L)
      val middle = pathJobs(Seq(2L, 3L, 4L, 5L, 1L, 6L, 7L, 8L, 9L))
      assert(end - middle == 9 - 5,
        s"min-at-end path ran $end jobs, min-in-middle path $middle")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("the shared round loop ignores physical layout: 1 and 64 shuffle " +
      "partitions (AQE off) give identical rows, rounds and deltas for " +
      "every graph operator") {
    val e = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L), (6L, 1L), (1L, 6L))
      .toDF("src", "dst")
    val ids = (1L to 8L).toDF("doc_id")
    val pairs = Seq((3L, 2L), (4L, 3L), (8L, 7L)).toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString).sorted
    def runAll(): Seq[Any] = {
      val pr = Graph.pageRankConverged(e, maxIters = 50, tol = 1e-6)
      val hc = Graph.hitsConverged(e, maxIters = 30, tol = 1e-3)
      Seq(rows(Graph.pageRank(e, 3)), rows(pr.ranks), pr.iters, pr.l1Delta,
        rows(Graph.hits(e, iters = 3)), rows(hc.scores), hc.iters,
        hc.l1Delta, rows(Graph.connectedComponents(ids, "doc_id", pairs)))
    }
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def at(partitions: Int): Seq[Any] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
      spark.conf.set("spark.sql.adaptive.enabled", false)
      runAll()
    }
    try {
      val (one, many) = (at(1), at(64))
      assert(one == many)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
