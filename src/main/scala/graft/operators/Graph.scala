package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.Folds.{orderedSum, orderedSumSql}

/** Graph operators for crawl/corpus curation: link centrality
  * (PageRank, Page et al. 1999; HITS, Kleinberg 1999 — Common Crawl
  * ranks hosts by centrality to prioritize its frontier, and domain
  * rank is a standard quality prior in pretraining-data weighting) and
  * near-dup clustering (connected components over dedup pair edges).
  *
  * Centrality is a power method expressed as keyed dataflow, with
  * every floating-point reduction ORDER-PINNED so the DuckDB oracle
  * reproduces the scores bit-for-bit:
  *
  *  - per-round contributions are summed per target in a TWO-PHASE
  *    sorted fold ([[twoPhaseSum]]): phase 1 folds each
  *    (target, source-hash-shard) group in source order, phase 2 folds
  *    the shard partials in shard order. An unordered SUM() would
  *    differ between engines/partitionings by ULPs that the power
  *    iteration then amplifies; the two-phase shape simultaneously
  *    bounds aggregation state under IN-DEGREE SKEW — a hot page with
  *    10^7 in-links folds as `shards` bounded lists, never one giant
  *    one (the same decomposition as the g9b/x40 two-phase entries).
  *  - every round's scores are rounded to 12 dp; the published score
  *    is rounded once more to 6 dp, the catalog's cross-engine
  *    contract.
  *
  * Every Spark operator here runs on ONE round loop ([[rounds]]): the
  * iteration budget and the stop rule, the cluster checkpoint-dir
  * guard, the convergence probe riding each round's truncation job,
  * and the release of the previous round live there once. The fixed-
  * count forms are that loop without a probe.
  *
  * Scale shape per round: keyed joins of edges with the previous
  * round's scores and keyed aggregations; nothing is ever all-pairs
  * and no task holds more than one shard of one node's in-links.
  */
object Graph {

  // ---- the round loop -------------------------------------------------

  /** (final state, rounds run, last probed metric). */
  private type Run = (DataFrame, Int, Double)

  /** `df` projected to `keep` and truncated
    * ([[Materialize.actioned]]) by ONE action that also observes
    * `metric` over its rows (observed under the
    * projection the truncation materializes, so the metric completes
    * with the truncation's own job — no second pass, no extra count
    * Exchange). Returns the truncated frame and the metric, None when
    * it is NULL (no rows observed). An EMPTY metric map fails loudly:
    * it means the truncation's action did not complete the observed
    * metrics, and a caller continuing on a made-up value would mis-stop
    * its loop or mis-normalize its scores. */
  private def observed(what: String, df: DataFrame, metric: Column,
      keep: Seq[String]): (DataFrame, Option[Double]) = {
    val obs = new Observation()
    val t = Materialize.actioned(
      df.observe(obs, metric.as("m")).select(keep.map(col): _*))
    val m = org.apache.spark.sql.GraftBridge.observedOrEmpty(obs)
    if (m.isEmpty) throw new IllegalStateException(
      s"$what: the observed metric did not materialize with its " +
        "truncation job")
    (t, m.get("m").collect { case v: Number => v.doubleValue })
  }

  /** THE round loop. Runs `step` from `start` for at most `budget`
    * rounds; each round's state (the columns of `start`) is
    * LINEAGE-TRUNCATED by [[Materialize.actioned]] unless `truncated`
    * is false, and the previous truncated round is released as its
    * successor lands.
    *
    * With a `probe`, the metric is observed under the round's
    * truncation ([[observed]]) and the loop stops at the first round
    * whose metric is `<= tol`; `step` then also emits whatever columns
    * the probe reads. A NULL metric (no rows) counts as converged.
    *
    * Why truncation: under plain persist round k's logical plan still
    * nests all k-1 predecessors (cache substitution is physical), so
    * analysis cost grows every round — and where a round's state feeds
    * the next round TWICE (the step and the probe's join against the
    * previous round) the un-truncated plan DOUBLES per round, an
    * analysis-time OOM by round ~30. On a cluster without a checkpoint
    * dir truncation degrades to persist, so `budget > failAbove`
    * throws there and `budget > warnAbove` warns. */
  private def rounds(name: String, budget: Int, start: DataFrame,
      probe: Option[Column] = None, tol: Double = 0.0,
      truncated: Boolean = true, failAbove: Int = Int.MaxValue,
      warnAbove: Int = Int.MaxValue)(step: DataFrame => DataFrame): Run = {
    if (!Materialize.truncatable(start)) {
      val why = s"$name: no checkpoint dir, so per-round plan " +
        s"truncation degrades to persist at budget=$budget"
      if (budget > failAbove) throw new IllegalArgumentException(
        s"$why — the per-round plan would nest every predecessor and " +
          "analysis OOMs by ~30 rounds; on a cluster call " +
          "sparkContext.setCheckpointDir first")
      if (budget > warnAbove) org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"$why; set sparkContext.setCheckpointDir before raising it")
    }
    val keep = start.columns.toSeq
    var state = start
    var done = 0
    var metric = Double.MaxValue
    while (done < budget && metric > tol) {
      val stepped = step(state)
      val next = probe match {
        case Some(p) =>
          val (t, m) = observed(name, stepped, p, keep)
          metric = m.getOrElse(0.0)
          t
        case None =>
          val s = stepped.select(keep.map(col): _*)
          if (truncated) Materialize.actioned(s) else s
      }
      if (truncated) state.unpersist()
      state = next
      done += 1
    }
    (state, done, metric)
  }

  /** The two-phase sorted fold: (id, s) where `s` sums each id's `c`
    * values — phase 1 per (id, `from` % shards) slice in `from` order,
    * phase 2 the slice partials in shard order. */
  private def twoPhaseSum(contribs: DataFrame, from: String,
      shards: Int): DataFrame =
    contribs.groupBy(col("id"), (col(from) % shards).as("__shard"))
      .agg(orderedSum(Seq(col(from)), col("c")).as("ps"))
      .groupBy(col("id"))
      .agg(orderedSum(Seq(col("__shard")), col("ps")).as("s"))

  /** Static setup shared by PageRank and HITS, truncated once for all
    * rounds: the long-typed (src, dst) edge list (hash-partitioned on
    * src when `bySrc`) and its node set (id). */
  private def prepare(edges: DataFrame, shards: Int,
      bySrc: Boolean): (DataFrame, DataFrame) = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val typed = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val e = Materialize.once(
      if (bySrc) typed.repartition(col("src")) else typed)
    val nodes = Materialize.once(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    (e, nodes)
  }

  // ---- PageRank -------------------------------------------------------

  /** Fixed-iteration PageRank over a directed edge list (`src`,
    * `dst`), both BIGINT-like. Dangling nodes (no out-edges) simply
    * contribute nothing (their mass leaks — standard simplification
    * for fixed-iteration ranking; callers wanting strict stochastic
    * PageRank add back-edges, as x55 does by symmetrizing).
    * Returns (id, rank_r) for every node, rank_r rounded to 6 dp.
    *
    * The static inputs (edges, degrees, nodes) are truncated once and
    * every round's rank vector is truncated too: flat plans at any
    * depth, measured linear in rounds at 118M edges. The lazy
    * single-DAG alternative and its crossover are in SCALE.md. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      shards: Int = 64): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    pageRankRounds(edges, iters, None, damping, shards)._1
  }

  /** One [[pageRank]] run's convergence outcome. */
  final case class PageRankRun(ranks: DataFrame, iters: Int,
      l1Delta: Double)

  /** PageRank with an L1-delta convergence probe instead of a fixed
    * iteration count: iterates until `sum |r_i - r_{i-1}| <= tol` or
    * `maxIters`, whichever first. The delta rides each round's
    * truncation job ([[rounds]]): one action per round. `ranks` feeds
    * the next round twice (contributions and the delta join), so the
    * per-round truncation is what keeps the plan from doubling; on a
    * cluster without a checkpoint dir a budget above 10 rounds throws
    * and a smaller one warns. Returns the final ranks (6 dp), rounds
    * run, and the last observed delta. */
  def pageRankConverged(edges: DataFrame, maxIters: Int, tol: Double,
      damping: Double = 0.85, shards: Int = 64): PageRankRun = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(tol > 0, s"tol must be positive, got $tol")
    val (ranks, iters, delta) =
      pageRankRounds(edges, maxIters, Some(tol), damping, shards)
    PageRankRun(ranks, iters, delta)
  }

  /** PageRank on [[rounds]]: one power iteration per round, the
    * contributions `round(rank/out_deg, 12)` summed by [[twoPhaseSum]],
    * new ranks `round((1-d)/n + d*sum, 12)`. */
  private def pageRankRounds(edges: DataFrame, budget: Int,
      tol: Option[Double], damping: Double, shards: Int): Run = {
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val (e, nodes) = prepare(edges, shards, bySrc = true)
    val n = nodes.count().toDouble
    // e is already partitioned on src, so this aggregate is
    // exchange-free and stays co-partitioned with the join below
    val deg = Materialize.once(
      e.groupBy(col("src")).agg(count(lit(1)).as("__deg")))
    def step(ranks: DataFrame): DataFrame = {
      val contribs = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("id"), col("src"),
          round(col("r") / col("__deg"), 12).as("c"))
      nodes.join(twoPhaseSum(contribs, "src", shards), Seq("id"), "left_outer")
        .select(col("id"), round(lit((1.0 - damping) / n) +
          lit(damping) * coalesce(col("s"), lit(0.0)), 12).as("r"))
    }
    val start = nodes.select(col("id"), lit(1.0 / n).as("r"))
    val (ranks, iters, delta) = tol match {
      case None => rounds("pageRank", budget, start)(step)
      case Some(t) => rounds("pageRankConverged", budget, start,
          Some(sum(abs(col("r") - col("__prev")))), t, failAbove = 10,
          warnAbove = 0) { r =>
        step(r).join(r.select(col("id"), col("r").as("__prev")), Seq("id"))
      }
    }
    (ranks.select(col("id"), round(col("r"), 6).as("rank_r")), iters, delta)
  }

  /** Base CTEs of both centrality twins: `e` (src, dst) and `nodes`. */
  private def baseCtes(edgesSql: String): String =
    s"""e AS (
       |  ${edgesSql.replace("\n", "\n  ")}),
       |nodes AS (
       |  SELECT DISTINCT src AS id FROM e
       |  UNION SELECT DISTINCT dst FROM e)""".stripMargin

  /** DuckDB twin of [[twoPhaseSum]] for round `i`: CTE `<out>c<i>`
    * holds each edge's contribution `c` (the `e` rows joined by
    * `joins`, source column `from`, target `to`), `<out>p<i>` the
    * phase-1 partials and `<out>s<i>` the per-id sums (id, s). */
  private def foldCtes(out: String, i: Int, from: String, to: String,
      c: String, joins: String, shards: Int): String =
    s"""${out}c$i AS (
       |  SELECT e.$to AS id, e.$from AS f, e.$from % $shards AS shard,
       |    $c AS c
       |  FROM e $joins),
       |${out}p$i AS (
       |  SELECT id, shard, ${orderedSumSql("c", "f")} AS ps
       |  FROM ${out}c$i GROUP BY id, shard),
       |${out}s$i AS (
       |  SELECT id, ${orderedSumSql("ps", "shard")} AS s
       |  FROM ${out}p$i GROUP BY id)""".stripMargin

  /** Shared CTE scaffolding for the PageRank twins: base tables plus
    * `iters` unrolled power-iteration rounds r1..rN, each the same
    * fold and rounding sequence as [[pageRankRounds]]. DuckDB inlines
    * plain CTEs; when a round is referenced more than once (next round
    * + delta + final pick, the converged twin) the recursive inlining
    * is EXPONENTIAL in rounds — r_i must be MATERIALIZED there (values
    * unchanged; a planner directive only). */
  private def pageRankCtes(edgesSql: String, iters: Int,
      damping: Double, shards: Int,
      materializedRounds: Boolean = false): String = {
    val d = java.lang.Double.toString(damping)
    val mat = if (materializedRounds) "MATERIALIZED " else ""
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""${foldCtes("", i, "src", "dst", s"round($p.r / deg.d, 12)",
           s"JOIN $p ON e.src = $p.id JOIN deg ON e.src = deg.src", shards)},
         |r$i AS $mat(
         |  SELECT nodes.id,
         |    round((1.0 - $d) / nn.n +
         |      $d * coalesce(s$i.s, 0.0), 12) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN s$i ON nodes.id = s$i.id)""".stripMargin
    }
    s"""${baseCtes(edgesSql)},
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
       |r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
       |${iterCtes.mkString(",\n")}""".stripMargin
  }

  /** DuckDB twin of [[pageRank]]: same fixed iterations unrolled as
    * CTEs, same two-phase src-then-shard sorted folds, same rounding
    * sequence. `edgesSql` must yield columns (src, dst). */
  def pageRankOracleSql(edgesSql: String, iters: Int,
      damping: Double = 0.85, shards: Int = 64): String =
    s"""WITH ${pageRankCtes(edgesSql, iters, damping, shards)}
       |SELECT id, round(r, 6) AS rank_r FROM r$iters""".stripMargin

  /** The converged twins' shared tail: `deltas` RE-DERIVES each
    * round's L1 delta (`delta(i)`, a scalar subquery), `stop` picks the
    * FIRST round whose delta is <= tol (else maxIters), and the final
    * select takes that round's rows of `pick(i)` (it, id, ...) as
    * `cols` plus `iters_run` — so a wrong Spark-side stop round
    * diverges the hash both through the emitted `iters_run` and
    * through the scores themselves.
    *
    * The delta sums are unordered double folds on BOTH engines
    * (Spark's Observation metric is an unordered partial-agg sum), so
    * the comparison is exact only up to ULP noise (~1e-15 relative);
    * callers must pick `tol` with a margin to the nearest achievable
    * delta that dwarfs that — x73 sits >= 2e-4 away on a tol of 2e-3.
    * The values inside each round stay bit-exact (sorted folds, 12-dp
    * rounds), so the gate's precision is the stop ROUND, which the
    * margin pins. */
  private def stopRoundSql(maxIters: Int, tol: Double,
      delta: Int => String, pick: Int => String, cols: String): String = {
    def all(f: Int => String) =
      (1 to maxIters).map(f).mkString("\n  UNION ALL\n")
    s"""deltas AS (
       |${all(i => s"  SELECT $i AS it, (${delta(i)}) AS dlt")}),
       |stop AS (
       |  SELECT coalesce(min(it), $maxIters) AS it FROM deltas
       |  WHERE dlt <= CAST(${java.lang.Double.toString(tol)} AS DOUBLE)),
       |picked AS (
       |${all(i => s"  ${pick(i)}")})
       |SELECT picked.id, $cols, CAST(stop.it AS BIGINT) AS iters_run
       |FROM picked JOIN stop ON picked.it = stop.it
       |ORDER BY id""".stripMargin
  }

  /** DuckDB twin of [[pageRankConverged]]: unrolls `maxIters` rounds
    * and picks the stop round exactly as the Spark loop
    * ([[stopRoundSql]], whose tol-margin caveat applies). */
  def pageRankConvergedOracleSql(edgesSql: String, maxIters: Int,
      tol: Double, damping: Double = 0.85, shards: Int = 64): String = {
    val tail = stopRoundSql(maxIters, tol,
      i => s"SELECT sum(abs(a.r - b.r)) FROM r$i a JOIN r${i - 1} b ON a.id = b.id",
      i => s"SELECT $i AS it, id, r FROM r$i",
      "round(picked.r, 6) AS rank_r")
    s"""WITH ${pageRankCtes(edgesSql, maxIters, damping, shards,
         materializedRounds = true)},
       |$tail""".stripMargin
  }

  // ---- HITS (hubs & authorities) -------------------------------------

  /** One HITS half-step: fold `vals` (keyed `fromCol` -> value `v`)
    * into per-`toCol` sums over the edge list with [[twoPhaseSum]] —
    * order-pinned cross-engine and bounded under degree skew — then
    * MAX-normalize: the raw per-node sums divide by their global max
    * BEFORE the 12-dp round, keeping every score in [0,1] where the
    * round is faithful (12 fractional digits on a degree-scale sum
    * overflow a double's 53-bit significand and round differently per
    * engine — measured: a 6.19e9 hub score split the engines by 1e-6).
    * max() is the one corpus-wide reduction that IS order-independent
    * in floating point, so the normalizer adds no determinism debt —
    * and it is scale-safe (map-side partial max). The result is `onto`
    * plus column `out`; nodes with no incoming contribution get 0.
    *
    * The sums feed TWO consumers (the normalizer max and the node
    * join), so they are always truncated — un-truncated, each
    * half-step's whole predecessor DAG evaluates twice and the doubling
    * compounds across 2·iters half-steps (SCALE.md). The max RIDES that
    * truncation job ([[observed]]) and lands in the plan as a literal:
    * one job per half-step. */
  private def foldOver(e: DataFrame, onto: DataFrame, vals: DataFrame,
      fromCol: String, toCol: String, out: String, shards: Int): DataFrame = {
    val contribs = e
      .join(vals.withColumnRenamed("id", fromCol), Seq(fromCol))
      .select(col(toCol).as("id"), col(fromCol), col("v").as("c"))
    val (sums, m) = observed("hits half-step normalizer",
      twoPhaseSum(contribs, fromCol, shards), max(col("s")), Seq("id", "s"))
    // a NULL max (no edges) keeps the null-division semantics
    val norm = m.fold(lit(null).cast("double"))(lit(_))
    onto.join(sums, Seq("id"), "left_outer")
      .select(onto.columns.map(col) :+
        round(coalesce(col("s"), lit(0.0)) / norm, 12).as(out): _*)
  }

  /** Fixed-iteration HITS (Kleinberg 1999): authority(v) sums the hub
    * scores of v's in-neighbors, hub(u) then sums the fresh authority
    * scores of u's out-neighbors; `iters` such rounds from h_0 = 1,
    * each half-step MAX-normalized (top score = 1.0; ranking-
    * equivalent to Kleinberg's L2 normalization, whose norm would be
    * a corpus-wide order-SENSITIVE floating-point sum — max is the
    * normalizer that stays bit-deterministic at any scale, see
    * [[foldOver]]). Same determinism contract as [[pageRank]]: every
    * reduction a two-phase sorted fold, 12-dp per round, 6-dp
    * published. The round frame itself is not truncated: each
    * half-step already truncates its sums, and the round is one thin
    * join over those (truncating it too cost one job per round). On a
    * cluster without a checkpoint dir a budget above 10 rounds warns.
    *
    * Scale shape per round: two keyed joins + two two-phase
    * aggregations (one per direction) + one map-side-partial max;
    * nothing all-pairs, no global window, no task holds more than one
    * shard of one node's edges. Returns (id, auth_r, hub_r) for every
    * node. */
  def hits(edges: DataFrame, iters: Int, shards: Int = 64): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    hitsRounds(edges, iters, None, shards)._1
  }

  /** One [[hitsConverged]] run's outcome. */
  final case class HitsRun(scores: DataFrame, iters: Int,
      l1Delta: Double)

  /** HITS with an L1-delta convergence probe instead of a fixed
    * iteration count — the same closure [[pageRankConverged]] gave
    * [[pageRank]]: iterates full rounds (authority half-step, then
    * hub half-step) until
    * `sum |a_i - a_{i-1}| + sum |h_i - h_{i-1}| <= tol` or
    * `maxIters`, whichever first. Both vectors feed the next round
    * twice (the opposite half-step and the delta join), so each
    * round's (id, a, h) frame is truncated once, with the delta riding
    * that job; on a cluster without a checkpoint dir a budget above 10
    * rounds throws and a smaller one warns. Max-normalization keeps
    * every score in [0,1], so the delta is a sum of ≤1 terms — `tol`
    * scales with |nodes| like pageRankConverged's. Same ULP caveat as
    * [[pageRankConvergedOracleSql]]. Returns final (id, auth_r, hub_r)
    * at 6 dp, rounds run, and the last observed delta. */
  def hitsConverged(edges: DataFrame, maxIters: Int, tol: Double,
      shards: Int = 64): HitsRun = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(tol > 0, s"tol must be positive, got $tol")
    val (scores, iters, delta) = hitsRounds(edges, maxIters, Some(tol), shards)
    HitsRun(scores, iters, delta)
  }

  /** HITS on [[rounds]]: one authority then one hub half-step per
    * round. The converged form's state is the (id, a, h) frame the
    * probe reads and truncates. The fixed form's rounds are not
    * truncated, so each half-step reads the other's vector alone (one
    * join over its checkpointed sums): read out of a joined (id, a, h)
    * frame it would plan one more join, a job per round. */
  private def hitsRounds(edges: DataFrame, budget: Int,
      tol: Option[Double], shards: Int): Run = {
    val (e, nodes) = prepare(edges, shards, bySrc = false)
    def auth(hubs: DataFrame): DataFrame = foldOver(e, nodes,
      hubs.select(col("id"), col("h").as("v")), "src", "dst", "a", shards)
    def hub(onto: DataFrame, auths: DataFrame): DataFrame = foldOver(e, onto,
      auths.select(col("id"), col("a").as("v")), "dst", "src", "h", shards)
    val (scores, iters, delta) = tol match {
      case None =>
        var auths = nodes.select(col("id"), lit(0.0).as("a"))
        val (hubs, iters, delta) = rounds("hits", budget,
            nodes.select(col("id"), lit(1.0).as("h")), truncated = false,
            warnAbove = 10) { h => auths = auth(h); hub(nodes, auths) }
        (nodes.join(auths, Seq("id")).join(hubs, Seq("id")), iters, delta)
      case Some(t) => rounds("hitsConverged", budget,
          nodes.select(col("id"), lit(0.0).as("a"), lit(1.0).as("h")),
          Some(sum(abs(col("a") - col("__pa")) + abs(col("h") - col("__ph")))),
          t, failAbove = 10, warnAbove = 0) { s =>
        val a = auth(s)
        hub(a, a).join(s.select(col("id"), col("a").as("__pa"),
          col("h").as("__ph")), Seq("id"))
      }
    }
    (scores.select(col("id"), round(col("a"), 6).as("auth_r"),
      round(col("h"), 6).as("hub_r")), iters, delta)
  }

  /** Shared CTE scaffolding for the HITS twins: base tables plus
    * `iters` unrolled rounds, each direction the same fold,
    * max-normalization and rounding sequence as [[foldOver]]. Every
    * `a$i`/`h$i` round CTE is referenced more than once (the other
    * half-step, the final pick — and in the converged twin the delta
    * re-derivation), so they are MATERIALIZED (the [[pageRankCtes]]
    * rule). */
  private def hitsCtes(edgesSql: String, iters: Int,
      shards: Int): String = {
    def half(i: Int, out: String, from: String, to: String,
        src: String): String =
      s"""${foldCtes(out, i, from, to, s"$src.v",
           s"JOIN $src ON e.$from = $src.id", shards)},
         |${out}m$i AS (SELECT max(s) AS m FROM ${out}s$i),
         |$out$i AS MATERIALIZED (
         |  SELECT nodes.id,
         |    round(coalesce(${out}s$i.s, 0.0) / ${out}m$i.m, 12) AS v
         |  FROM nodes LEFT JOIN ${out}s$i ON nodes.id = ${out}s$i.id
         |  CROSS JOIN ${out}m$i)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""${half(i, "a", "src", "dst", s"h${i - 1}")},
         |${half(i, "h", "dst", "src", s"a$i")}""".stripMargin
    }.mkString(",\n")
    s"""${baseCtes(edgesSql)},
       |h0 AS (SELECT id, 1.0 AS v FROM nodes),
       |a0 AS (SELECT id, 0.0 AS v FROM nodes),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[hits]]: `iters` unrolled rounds, each direction
    * the same two-phase from-then-shard sorted fold and rounding
    * sequence. `edgesSql` must yield columns (src, dst). */
  def hitsOracleSql(edgesSql: String, iters: Int,
      shards: Int = 64): String =
    s"""WITH ${hitsCtes(edgesSql, iters, shards)},
       |fin AS (
       |  SELECT nodes.id AS id, round(a$iters.v, 6) AS auth_r,
       |    round(h$iters.v, 6) AS hub_r
       |  FROM nodes JOIN a$iters ON nodes.id = a$iters.id
       |  JOIN h$iters ON nodes.id = h$iters.id)
       |SELECT id, auth_r, hub_r FROM fin""".stripMargin

  /** DuckDB twin of [[hitsConverged]]: unrolls `maxIters` rounds and
    * picks the stop round exactly as the Spark loop ([[stopRoundSql]]),
    * round 1 measured against the h_0 = 1 / a_0 = 0 start vectors. The
    * delta is ONE fold over per-node (|Δa| + |Δh|) terms — the same
    * structural form as the Spark side's single Observation sum (two
    * separate sums added afterward would round differently in FP). */
  def hitsConvergedOracleSql(edgesSql: String, maxIters: Int,
      tol: Double, shards: Int = 64): String = {
    val tail = stopRoundSql(maxIters, tol,
      i => s"""SELECT sum(abs(a.v - pa.v) + abs(h.v - ph.v))
              |     FROM a$i a JOIN a${i - 1} pa ON a.id = pa.id
              |     JOIN h$i h ON a.id = h.id
              |     JOIN h${i - 1} ph ON a.id = ph.id""".stripMargin,
      i => s"""SELECT $i AS it, a$i.id, a$i.v AS av, h$i.v AS hv
              |  FROM a$i JOIN h$i ON a$i.id = h$i.id""".stripMargin,
      "round(picked.av, 6) AS auth_r, round(picked.hv, 6) AS hub_r")
    s"""WITH ${hitsCtes(edgesSql, maxIters, shards)},
       |$tail""".stripMargin
  }

  // ---- near-dup clustering --------------------------------------------

  /** Connected components over dedup pair edges: every id gets the
    * smallest id reachable through the pair graph — the canonical
    * cluster label that turns pairwise near-dup evidence into
    * per-document keep/drop decisions (keep = id == cluster_id).
    *
    * Iterative min-label propagation on [[rounds]]: each round takes,
    * per node, the minimum of its own label and its neighbors' labels;
    * converges in O(component diameter) rounds (near-dup clusters are
    * short-diameter in practice). Each round is one equi-join + one
    * groupBy — both shuffle on node id — and its labels are truncated,
    * so the next round reads them instead of recomputing the chain.
    * The changed-label count rides that truncation job (zero changes =
    * fixpoint): one job per round, for ANY id type — numeric, string,
    * or otherwise. The fixpoint (min id per component) is unique, so
    * the result is deterministic regardless of iteration schedule.
    *
    * `maxIters` is a safety valve, not a truncation: if the fixpoint
    * is not reached within it (a component whose min-label distance
    * exceeds it, e.g. a 100+-doc drift chain), the call THROWS rather
    * than silently returning non-minimal labels. Raise `maxIters` (or
    * pre-bridge long chains) in that case; labels always converge in
    * at most the largest component diameter rounds. */
  def connectedComponents(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 50): DataFrame = {
    // The edge list is re-joined every round, always on v: one explicit
    // repartition here means every round's edge side reuses this single
    // exchange (truncation preserves outputPartitioning) instead of
    // re-shuffling the — at corpus scale, huge — edge list per round.
    val edges = Materialize.once(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .distinct()
        .repartition(col("v")))
    val start = Materialize.once(
      ids.select(col(idCol).as("u"), col(idCol).as("label")))
    val (labels, _, changed) =
      if (edges.isEmpty) (start, 0, 0.0)
      else rounds("connectedComponents", maxIters, start, Some(
          sum(when(col("label") =!= col("__prev"), 1L).otherwise(0L)))) { l =>
        val nbrMin = edges
          .join(l.select(col("u").as("v"), col("label").as("nl")), "v")
          .groupBy(col("u")).agg(min(col("nl")).as("nbr"))
        l.join(nbrMin, Seq("u"), "left")
          .select(col("u"), col("label").as("__prev"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
      }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds; " +
          "raise maxIters (labels converge in <= component diameter rounds)")
    edges.unpersist()
    labels.select(col("u").as(idCol), col("label").as("cluster_id"))
  }

  /** DuckDB twin of [[connectedComponents]] over a pair relation
    * `pairs(id_a, id_b)`: CTEs `edges(u, v)` (both directions), the
    * recursive closure `reach(u, v)` and `labels(u, mv)`, the minimum
    * id reachable from each node that has an edge (an id without edges
    * labels itself, so callers left-join and coalesce). Needs a
    * `WITH RECURSIVE` head. */
  def componentsSqlCtes(pairs: String): String =
    s"""edges AS (
       |  SELECT id_a AS u, id_b AS v FROM $pairs
       |  UNION SELECT id_b, id_a FROM $pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |labels AS (SELECT u, min(v) AS mv FROM reach GROUP BY u)""".stripMargin
}
