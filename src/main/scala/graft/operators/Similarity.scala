package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.{Locations, Tables}

/** Similarity search over an `array<float>` embedding column.
  *
  * Every exact-cosine path is one skeleton: a CANDIDATE step joins the
  * corpus side to the broadcast query side on a key — none for brute
  * force, a sign-LSH bucket, or an IVF cell (the query side carrying
  * one row per probed cell) — then ONE cosine over norms computed once
  * per row (not once per pair; the dot product is the native codegen'd
  * ArrayDotProduct expression, so per-pair work is a single tight
  * loop), then ONE per-query window top-k keyed by qid only. The
  * compressed (PQ/ADC) path swaps the cosine for LUT sums over codes
  * and keeps the candidate step and the tail. The DuckDB twins are
  * built from the same pieces ([[cosSql]], [[rankedTailSql]], the
  * probe and cell struct lists), so the two engines cannot drift one
  * copy at a time. The model is AnalyticDB-V's one plan shape with
  * interchangeable vector access paths.
  *
  * Scale path: random-hyperplane (sign-LSH) bucketing. Plane weights
  * are md5-derived Rademacher (±1) vectors materialized driver-side as
  * literal arrays, so bucketing is a narrow projection — zero shuffles,
  * zero joins — and buckets are deterministic across runs and engines.
  * Queries then probe only their own bucket: candidate count drops
  * ~2^nPlanes-fold, trading recall for throughput. At 100 TB the
  * corpus side stays fully distributed; only the query set broadcasts.
  */
object Similarity {

  private type Books = Array[Array[Array[Double]]]

  // ---- the shared candidate → score → top-k skeleton ----------------

  /** Corpus side `(did, dvec, dn, extra...)`: the norm once per row. */
  private def corpusSide(corpus: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    corpus.select(Seq(col(idCol).as("did"), col(vecCol).as("dvec"),
      l2Norm(col(vecCol)).as("dn")) ++ extra: _*)

  /** Query side `(qid, qvec, qn, extra...)`: the norm once per row. */
  private def querySide(queries: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    queries.select(Seq(col(idCol).as("qid"), col(vecCol).as("qvec"),
      l2Norm(col(vecCol)).as("qn")) ++ extra: _*)

  /** Exact cosine from norms already computed; 0.0 when either norm is
    * zero (guards the ANSI divide rather than returning NULL/Inf).
    * [[cosSql]] is the DuckDB twin. */
  private def cosineOf(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, dotProduct(a, b) / (na * nb)).otherwise(lit(0.0))

  /** The query-vs-corpus cosine over [[querySide]]/[[corpusSide]]. */
  private def qdCosine: Column =
    cosineOf(col("qvec"), col("dvec"), col("qn"), col("dn")).as("cos")

  /** The candidate step: the corpus side joined to the broadcast query
    * side on `keys` (none: every pair), self-matches dropped. */
  private def candidates(c: DataFrame, q: DataFrame,
      keys: Seq[String]): DataFrame =
    c.join(broadcast(q), keys).filter(col("qid") =!= col("did"))

  /** [[candidates]] scored by exact cosine: `(qid, did, cos)`. */
  private def cosineScored(c: DataFrame, q: DataFrame,
      keys: Seq[String]): DataFrame =
    candidates(c, q, keys).select(col("qid"), col("did"), qdCosine)

  /** The window top-k tail: per query, rank `(score DESC, did)` and keep
    * `rn <= k`. A window rather than [[graft.plans.TopKPairs]], whose
    * heap drops NULL scores, ranks -0.0 below 0.0 and needs Long ids —
    * moving these paths onto it would change what they return. */
  private def topKTail(scored: DataFrame, score: String, k: Int): DataFrame =
    scored.withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col(score).desc, col("did"))).cast("long"))
      .filter(col("rn") <= k)

  /** Each centroid's `(s = dot(vec, centroid), i = index)` struct — the
    * shared building block of probe selection and [[ivfAssign]]. */
  private def centroidScores(vecCol: String,
      centroids: Array[Array[Double]]): Seq[Column] =
    centroids.toSeq.zipWithIndex.map { case (cent, i) =>
      struct(dotProduct(col(vecCol), array(cent.map(lit): _*)).as("s"),
        lit(i).as("i"))
    }

  /** One row of `q` per probed cell: the `nProbes` centroids with the
    * largest dot product against `vecCol` (ties to the larger index —
    * Spark's struct ordering; [[probeSql]] is the twin), appended as
    * `cell` with that dot product as `qc`. */
  private def probeCells(q: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], nProbes: Int): DataFrame =
    q.select(col("*"), explode(slice(reverse(array_sort(
        array(centroidScores(vecCol, centroids): _*))), 1, nProbes))
        .as("probe"))
      .select(col("*"), col("probe.i").as("cell"), col("probe.s").as("qc"))
      .drop("probe")

  /** Exact top-k cosine neighbors for each query row (excluding self).
    * `queries` must be small enough to broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    topKTail(bruteForceScored(corpus, queries, idCol, vecCol), "cos", k)

  /** Every (query, corpus) pair but self, scored: `(qid, did, cos)`. */
  private def bruteForceScored(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    cosineScored(corpusSide(corpus, idCol, vecCol),
      querySide(queries, idCol, vecCol), Nil)

  /** Brute-force top-k via the native bounded-heap aggregate
    * (graft.plans.TopKPairs) instead of a window: the same scoring as
    * [[bruteForceTopK]] and identical results, but each map task
    * reduces its candidate slice to k pairs before the exchange, so the
    * shuffle carries k×queries rows instead of corpus×queries — the
    * shape that survives a 100 TB corpus. */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val topk = GraftBridge.column(graft.plans.TopKPairs(
      GraftBridge.expression(col("cos")),
      GraftBridge.expression(col("did")), k).toAggregateExpression())
    bruteForceScored(corpus, queries, idCol, vecCol)
      .groupBy(col("qid")).agg(topk.as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rn"),
        col("p.id").as("did"), col("p.score").as("cos"))
  }

  /** Deterministic Rademacher ±1 matrix: entry (p, d) is +1 when bit 0
    * of md5("<ns>-<p>-<d>") is set — same derivation as
    * HashFunctions.md5Hash60, computed driver-side. */
  private def rademacher(ns: String, rows: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(rows, dim) { (p, d) =>
      val md = MessageDigest.getInstance("MD5")
        .digest(s"$ns-$p-$d".getBytes("UTF-8"))
      val hex = md.map(b => f"$b%02x").mkString
      if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 1L) 1.0
      else -1.0
    }

  /** The sign-LSH plane weights (md5 namespace `plane-…`). */
  def planeWeights(nPlanes: Int, dim: Int): Array[Array[Double]] =
    rademacher("plane", nPlanes, dim)

  /** The JL weights — namespaced (`jl-…`) so the projection is
    * independent of the sign-LSH planes. */
  def jlWeights(dOut: Int, dim: Int): Array[Array[Double]] =
    rademacher("jl", dOut, dim)

  /** Johnson–Lindenstrauss random projection (Johnson & Lindenstrauss
    * 1984; ±1 "database-friendly" form, Achlioptas 2003): out_j =
    * ⟨v, w_j⟩ / √dOut over the deterministic [[jlWeights]] matrix.
    * Preserves inner products in expectation with per-coordinate
    * variance 1/dOut, so cosine survives a 4× dimension cut within a
    * governed error band — the standard CHEAP-PREFILTER step before
    * semantic dedup or ANN at 100 TB: bucket/shortlist in the reduced
    * space (4× less shuffle bytes, 4× faster dot products), re-verify
    * survivors at full dimension (same candidates-then-adjudicate
    * shape as the LSH families). Pure projection: narrow, codegen'd
    * dot products against literal planes, zero shuffle, input
    * partitioning preserved. */
  def jlProject(vecCol: Column, dOut: Int, dim: Int): Column = {
    val w = jlWeights(dOut, dim)
    val scale = math.sqrt(dOut.toDouble)
    array((0 until dOut).map { j =>
      dotProduct(vecCol, array(w(j).map(lit): _*)) / scale
    }: _*)
  }

  /** Sign-LSH bucket id (0..2^nPlanes-1) as a pure projection: bit p is
    * the sign of the dot product with literal plane p. Narrow — no
    * shuffle, no join; partitioning of the input is preserved. */
  def bucketExpr(vecCol: Column, nPlanes: Int, dim: Int): Column = {
    val w = planeWeights(nPlanes, dim)
    (0 until nPlanes).map { p =>
      val plane = array(w(p).map(lit): _*)
      when(dotProduct(vecCol, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  // ---- IVF (inverted-file) ANN -------------------------------------

  /** The deterministic Lloyd loop [[ivfTrain]], [[pqTrain]] and
    * [[pqTrainResidual]] share. No RNG anywhere, so codebooks are
    * reproducible across runs and cluster layouts: they start from the
    * `n` lowest-id rows (`seed` turns those vectors into
    * `books(sub)(codeword)`), then each of the `iters` passes is ONE
    * groupBy(`__sub`, `__cell`) over the trainer's `assign`ed frame,
    * aggregating the trainer's `means` (built for the codeword width).
    * The aggregate combines map-side, so per task the partial state is
    * the codebook size whatever the data volume, and the driver
    * collects one row per codeword. A NULL mean (ragged vectors shorter
    * than the codeword in every row of its group) keeps that
    * dimension's previous value.
    *
    * Every pass re-reads the corpus's (id, vec) projection (1 init
    * scan + `iters` iteration scans), so the loop persists it
    * (MEMORY_AND_DISK: computed once, spills instead of OOMing, keeps
    * lineage) and releases it before returning: training is eager and
    * nothing it returns reads the projection. */
  private def lloyd(corpus: DataFrame, idCol: String, vecCol: String,
      n: Int, iters: Int)(
      seed: Array[Array[Double]] => Books, means: Int => Seq[Column],
      assign: (DataFrame, Books) => DataFrame): Books = {
    val base = corpus.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = base.orderBy(col(idCol)).limit(n).select(col(vecCol))
        .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
      var books = seed(init)
      if (init.nonEmpty && init(0).nonEmpty) {
        val meanCols = means(books(0)(0).length)
        (0 until iters).foreach { _ =>
          assign(base, books).groupBy(col("__sub"), col("__cell"))
            .agg(meanCols.head, meanCols.tail: _*).collect().foreach { row =>
              val (s, j) = (row.getInt(0), row.getInt(1))
              books = books.updated(s, books(s).updated(j,
                Array.tabulate(meanCols.length)(d =>
                  if (row.isNullAt(d + 2)) books(s)(j)(d)
                  else row.getDouble(d + 2))))
            }
        }
      }
      books
    } finally base.unpersist(false)
  }

  /** Deterministic IVF training: centroids initialized from the K
    * lowest-id rows, refined with `iters` Lloyd iterations computed as
    * DataFrame aggregations (assign = argmax dot against the literal
    * centroids; update = per-cell mean) — see [[lloyd]].
    *
    * Each iteration is ONE narrow-projection + groupBy pass: the
    * per-dimension means are `dim` aggregate expressions over
    * element_at — no posexplode (which multiplied the shuffle by
    * `dim`) and a single collect of K rows (K×dim doubles, tiny). At
    * 100 TB each iteration is exactly one map-side-combined shuffle of
    * K×dim partial sums per task. */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 2): Array[Array[Double]] =
    lloyd(corpus, idCol, vecCol, nCells, iters)(
      init => Array(init),
      // try_element_at: NULL (not an ANSI error) past a ragged vector's
      // end, so short vectors simply don't contribute to that dimension
      dim => (0 until dim).map(d =>
        avg(try_element_at(col(vecCol), lit(d + 1)).cast("double")).as(s"m$d")),
      (base, b) => base.select(lit(0).as("__sub"),
        cellExpr(col(vecCol), b(0)).as("__cell"), col(vecCol)))(0)

  /** Nearest-centroid cell id as a pure projection: a single
    * [[graft.plans.ArgmaxDot]] node carrying the centroid matrix as a
    * reference object — bit-identical to the former unrolled
    * greatest-over-(score, idx)-structs tree (same sequential dots,
    * same larger-index tie-break; the coalesce reproduces that tree's
    * NULL-vector → last-index result), but O(1) plan size instead of
    * O(nCells·dim) literal nodes: the unrolled form's 100 KB+ plans
    * were pure driver analysis/codegen cost re-paid per job
    * (guide §7.3), and the serve/train family pays it per Lloyd
    * iteration. */
  def cellExpr(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.GraftBridge
    if (centroids.length == 1) lit(0)
    else coalesce(GraftBridge.column(graft.plans.ArgmaxDot(
        GraftBridge.expression(vecCol), centroids,
        new Array[Double](centroids.length), 0, Int.MaxValue)),
      lit(centroids.length - 1))
  }

  /** IVF ANN against FROZEN centroids (a loaded/persisted index or an
    * earlier [[ivfTrain]]): corpus rows live in their nearest-centroid
    * cell; each query probes its `nProbes` nearest cells and ranks
    * exact cosine inside them. Cell assignment is a narrow projection;
    * the probe join is an equi-join on cell id — candidate volume
    * shrinks ~nCells/nProbes-fold vs brute force. The serving shape of
    * the index lifecycle — train once, assign and search many corpus
    * versions, retrain when the drift rehearsal says recall decayed
    * (TUNING.md "ANN drift"). */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      nProbes: Int): DataFrame =
    topKTail(ivfScored(corpusSide(corpus, idCol, vecCol,
      cellExpr(col(vecCol), centroids).as("cell")),
      queries, idCol, vecCol, centroids, nProbes), "cos", k)

  /** [[ivfTopKWith]] with a PER-CELL CAP on the corpus side — the
    * serving-path guard the drift rehearsal concluded actually holds
    * candidate volume flat under a tight drift mode (TUNING.md "ANN
    * drift": a blind retrain does NOT rebalance a one-direction blob;
    * caps do). At most `perCellCap` corpus rows survive per cell, in
    * deterministic md5-hash order (unbiased w.r.t. ingestion order,
    * reproducible across engines — [[cellBalancedSample]]'s
    * ordering), then the usual probe join + exact ranking. Crowded-
    * cell recall trades for a HARD bound: candidates/query ≤
    * nProbes × perCellCap no matter how skewed assignment gets under
    * drift. Production shape: apply the cap when writing the
    * cell-partitioned index table (one window at build, not one per
    * query batch) — here it composes with serving so the bound is
    * visible in one plan. */
  def ivfTopKWithCapped(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Double]], nProbes: Int,
      perCellCap: Int): DataFrame = {
    require(perCellCap >= 1, s"perCellCap must be >= 1, got $perCellCap")
    val c = corpusSide(corpus, idCol, vecCol,
      cellExpr(col(vecCol), centroids).as("cell"))
    val capped = perCellHashKeep(c, "did", "cell", perCellCap).drop("rk")
    topKTail(ivfScored(capped, queries, idCol, vecCol, centroids, nProbes),
      "cos", k)
  }

  /** The IVF candidate step scored over an assigned (and possibly
    * capped) corpus frame `c(did, dvec, dn, cell)`: each query row
    * against the corpus rows of its probed cells, `(qid, did, cos)`. */
  private def ivfScored(c: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      nProbes: Int): DataFrame =
    cosineScored(c, probeCells(querySide(queries, idCol, vecCol), "qvec",
      centroids, nProbes), Seq("cell"))

  // ---- DuckDB oracles ----------------------------------------------
  // Both LSH and IVF are deterministic end-to-end (md5-derived planes,
  // RNG-free Lloyd), so their "approximate" output is still exactly
  // reproducible: the generators below embed the plane weights /
  // trained centroids as SQL literals (Double.toString round-trips
  // through DuckDB's correctly-rounded parse bit-for-bit).

  private def dlit(d: Double): String = java.lang.Double.toString(d)

  private def arrLit(a: Array[Double]): String =
    a.map(dlit).mkString("[", ", ", "]")

  /** DuckDB twin of [[l2Norm]] over SQL vector expression `v`. */
  def normSql(v: String): String = s"sqrt(list_dot_product($v, $v))"

  /** DuckDB twin of the shared cosine ([[cosineOf]]; VectorFunctions
    * `cosine` when the norms are [[normSql]]): `a`, `b` are SQL vector
    * expressions, `na`, `nb` their norms. */
  def cosSql(a: String, b: String, na: String, nb: String): String =
    s"CASE WHEN $na * $nb > 0 THEN list_dot_product($a, $b) / ($na * $nb) " +
      "ELSE 0.0 END"

  /** The two inputs every ANN twin starts from: `<p>q0(qid, qvec)` over
    * the rows `queryPred` selects and `<p>c0(did, dvec)` over the corpus
    * (`corpusWhere`: "" or " WHERE …"). */
  private def sidesSql(p: String, table: String, idCol: String,
      vecCol: String, queryPred: String, corpusWhere: String): String =
    s"""${p}q0 AS (SELECT $idCol AS qid, $vecCol::DOUBLE[] AS qvec
       |           FROM $table WHERE $queryPred),
       |${p}c0 AS (SELECT $idCol AS did, $vecCol::DOUBLE[] AS dvec FROM $table$corpusWhere)"""
      .stripMargin

  /** Twin of [[topKTail]]'s ranking over relation `from`:
    * `(qid, did, <score>, rn)`, rn by (score DESC, did) per query. */
  private def rankSql(from: String, score: String): String =
    s"""SELECT qid, did, $score, CAST(row_number() OVER
       |    (PARTITION BY qid ORDER BY $score DESC, did) AS BIGINT) AS rn
       |  FROM $from""".stripMargin

  /** Shared ranked-top-k tail over a `scored(qid, did, <score>)` CTE:
    * `(qid, rn, did, round(score, 6) AS <name>)` for rn <= k. */
  private def rankedTailSql(k: Int, score: String, name: String): String =
    s"""ranked AS (
       |  ${rankSql("scored", score)})
       |SELECT qid, rn, did, round($score, 6) AS $name
       |FROM ranked WHERE rn <= $k ORDER BY qid, rn""".stripMargin

  /** DuckDB twin of [[bruteForceTopK]] over the rows `queryPred`
    * selects from `table`. */
  def bruteForceOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, queryPred: String): String =
    s"""WITH ${sidesSql("", table, idCol, vecCol, queryPred, "")},
       |scored AS (
       |  SELECT qid, did,
       |    ${cosSql("qvec", "dvec", normSql("qvec"), normSql("dvec"))} AS cos
       |  FROM c0 JOIN q0 ON qid <> did),
       |${rankedTailSql(k, "cos", "cos_r")}""".stripMargin

  /** DuckDB twin of [[bucketExpr]] over SQL vector expression `v`:
    * the md5-derived plane weights embedded as literal arrays. */
  def bucketSqlExpr(v: String, nPlanes: Int, dim: Int): String = {
    val w = planeWeights(nPlanes, dim)
    (0 until nPlanes).map { p =>
      s"(CASE WHEN list_dot_product($v, ${arrLit(w(p))}) >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** DuckDB oracle mirroring lshTopK: the md5-derived Rademacher plane
    * weights are embedded as literal arrays, so the bucket expression
    * is the same arithmetic both engines run. `queryPred` selects the
    * query rows (e.g. "vec_id < 8"). */
  def lshOracleSql(table: String, idCol: String, vecCol: String, k: Int,
      nPlanes: Int, dim: Int, queryPred: String): String = {
    def bucketSql(v: String): String = bucketSqlExpr(v, nPlanes, dim)
    s"""WITH ${sidesSql("", table, idCol, vecCol, queryPred, "")},
       |q AS (SELECT qid, qvec, ${normSql("qvec")} AS qn,
       |             ${bucketSql("qvec")} AS bucket
       |      FROM q0),
       |c AS (SELECT did, dvec, ${normSql("dvec")} AS dn,
       |             ${bucketSql("dvec")} AS bucket
       |      FROM c0),
       |scored AS (
       |  SELECT qid, did, ${cosSql("qvec", "dvec", "qn", "dn")} AS cos
       |  FROM c JOIN q USING (bucket) WHERE qid <> did),
       |${rankedTailSql(k, "cos", "cos_r")}""".stripMargin
  }

  /** DuckDB list of (score, idx) structs against literal centroids —
    * the shared building block of [[cellSqlExpr]] and [[probeSql]]
    * (the twin of [[centroidScores]]). */
  def cellStructsSql(v: String, centroids: Array[Array[Double]]): String =
    centroids.zipWithIndex.map { case (c, i) =>
      s"{'s': list_dot_product($v, ${arrLit(c)}), 'i': $i}"
    }.mkString("[", ", ", "]")

  /** DuckDB twin of [[cellExpr]]: list_sort DESC [1].i == greatest over
    * (score, idx) structs — max score, ties to the larger index. */
  def cellSqlExpr(v: String, centroids: Array[Array[Double]]): String =
    s"list_sort(${cellStructsSql(v, centroids)}, 'DESC')[1].i"

  /** DuckDB twin of [[probeCells]]: the `nProbes` best (score, idx)
    * structs unnested, one row per probe — list_sort DESC replicates
    * the reverse(array_sort(...)) slice. */
  private def probeSql(v: String, centroids: Array[Array[Double]],
      nProbes: Int): String =
    s"unnest(list_sort(${cellStructsSql(v, centroids)}, 'DESC')[1:$nProbes])"

  /** Shared CTE chain ending in `scored(qid, did, cos)` — the IVF
    * probe-join candidate generator behind [[ivfOracleSql]],
    * [[minePairsOracleSql]] and the bitext twin. */
  private def ivfScoredCte(table: String, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], nProbes: Int,
      queryPred: String, perCellCap: Option[Int] = None,
      prefix: String = "", corpusPred: Option[String] = None): String = {
    val p = prefix
    val cWhere = corpusPred.map(pr => s" WHERE $pr").getOrElse("")
    val dnCell = s"${normSql("dvec")} AS dn, " +
      s"${cellSqlExpr("dvec", centroids)} AS cell"
    // optional per-cell cap, mirroring ivfTopKWithCapped's
    // deterministic md5-order keep (the cellBalancedSample ordering)
    val cCte = perCellCap match {
      case None =>
        s"${p}c AS (SELECT did, dvec, $dnCell FROM ${p}c0),"
      case Some(cap) =>
        s"""${p}c1 AS (SELECT did, dvec, $dnCell FROM ${p}c0),
           |${p}cr AS (SELECT did, dvec, dn, cell, row_number() OVER (
           |         PARTITION BY cell
           |         ORDER BY ${cellCapOrderSql("did")}) AS ccr
           |       FROM ${p}c1),
           |${p}c AS (SELECT did, dvec, dn, cell FROM ${p}cr WHERE ccr <= $cap),"""
          .stripMargin
    }
    s"""${sidesSql(p, table, idCol, vecCol, queryPred, cWhere)},
       |$cCte
       |${p}q1 AS (SELECT qid, qvec, ${normSql("qvec")} AS qn,
       |              ${probeSql("qvec", centroids, nProbes)} AS probe
       |       FROM ${p}q0),
       |${p}q AS (SELECT qid, qvec, qn, probe.i AS cell FROM ${p}q1),
       |${p}scored AS (
       |  SELECT qid, did, ${cosSql("qvec", "dvec", "qn", "dn")} AS cos
       |  FROM ${p}c JOIN ${p}q USING (cell) WHERE qid <> did)""".stripMargin
  }

  def ivfOracleSql(table: String, idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Double]], nProbes: Int,
      queryPred: String): String =
    s"""WITH ${ivfScoredCte(table, idCol, vecCol, centroids, nProbes,
         queryPred)},
       |${rankedTailSql(k, "cos", "cos_r")}""".stripMargin

  /** DuckDB twin of [[ivfTopKWithCapped]] (late-bound centroids). */
  def ivfCappedOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, centroids: Array[Array[Double]], nProbes: Int,
      queryPred: String, perCellCap: Int): String =
    s"""WITH ${ivfScoredCte(table, idCol, vecCol, centroids, nProbes,
         queryPred, Some(perCellCap))},
       |${rankedTailSql(k, "cos", "cos_r")}""".stripMargin

  /** Recall@k of an approximate ANN result against the exact one:
    * per query, the fraction of true top-k neighbors the approximate
    * path returned. Both inputs are (qid, did, ...) topk frames. The
    * denominator is the query's ACTUAL exact-neighbor count (= k
    * except on corpora smaller than k, where dividing by k would
    * misreport a perfect path). The governance metric every
    * production ANN deployment needs next to its throughput number —
    * run it on a sampled query set to decide nProbes/nPlanes, then
    * scale out with the chosen setting. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("qid"), col("did"))
      .join(approx.select(col("qid"), col("did"), lit(1).as("__hit")),
        Seq("qid", "did"), "left")
      .groupBy(col("qid"))
      .agg((sum(coalesce(col("__hit"), lit(0))).cast("double") /
        count(lit(1))).as("recall_at_k"))

  /** DuckDB twin of [[recallAtK]] over two top-k queries (each yielding
    * `(qid, did, ...)`): `(qid, <name>)`, one row per exact query, no
    * ORDER BY — callers order or join it. */
  def recallOracleSql(approx: String, exact: String, name: String): String = {
    def sub(sql: String): String = sql.replace("\n", "\n    ")
    s"""SELECT e.qid, CAST(count(a.did) AS DOUBLE) / count(*) AS $name
       |FROM (SELECT qid, did FROM (
       |    ${sub(exact)})) e
       |LEFT JOIN (SELECT qid, did FROM (
       |    ${sub(approx)})) a
       |  ON e.qid = a.qid AND e.did = a.did
       |GROUP BY e.qid""".stripMargin
  }

  /** Approximate top-k: exact cosine ranking restricted to the query's
    * own LSH bucket. Recall < 1 by design; deterministic output. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val bucket = bucketExpr(col(vecCol), nPlanes, dim).as("bucket")
    topKTail(cosineScored(corpusSide(corpus, idCol, vecCol, bucket),
      querySide(queries, idCol, vecCol, bucket), Seq("bucket")), "cos", k)
  }

  // ---- Semantic dedup (SemDeDup-style) -----------------------------

  /** Semantic dedup over an embedding column, SemDeDup-shaped (Abbas
    * et al. 2023, arXiv:2303.09540): place the corpus in the cells of
    * trained `centroids` (an [[ivfTrain]] result, frozen like every
    * other ANN serve path's), then look for near-duplicate pairs
    * ONLY within a cell — candidate volume shrinks ~nCells-fold vs
    * all-pairs, and the pair search is a cell-keyed equi-join, never a
    * cartesian. A row is dropped when some LOWER-id row in its cell
    * has cosine ≥ tau against it (deterministic keep-lowest-id
    * dominance — unlike the paper's random keeper, reproducible across
    * runs and engines; cosines are rounded to 6 dp before the
    * threshold so both engines decide identical boundary cases).
    *
    * Returns every corpus row with its cell, the max (rounded) cosine
    * against any lower-id cell-mate (-1.0 when none), and the verdict,
    * so the caller can either filter `kept` or audit the margin.
    *
    * 100 TB shape: cell assignment is a narrow projection against
    * literal centroids (zero shuffle); the only wide ops are the
    * cell-keyed self-join and a per-id max. Within-cell pair volume
    * is HARD-bounded, not assumed: each cell is capped at its
    * `maxCell` lowest ids (a two-phase sharded rank, so a skewed cell
    * never funnels through one window task) and only capped
    * rows enter the pair join — ≤ maxCell²/2 pairs per cell no matter
    * how skewed the embedding distribution. Rows beyond the cap get
    * no verdict (kept=true, max_lower_cos_r=-1.0) — the same
    * recall-for-boundedness trade as the MinHash/SimHash bucket caps,
    * and like them it is never silent: [[semanticCellOverflow]] names
    * every capped cell. At scale train more cells so each stays O(10^4)
    * rows (the paper uses tens of thousands of clusters for billions
    * of docs); the cap is the backstop for the skewed tail, not the
    * primary sizing tool. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], tau: Double,
      maxCell: Int = 1000): DataFrame = {
    require(maxCell >= 2, s"maxCell must be >= 2, got $maxCell")
    val c = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      l2Norm(col(vecCol)).as("__n"),
      cellExpr(col(vecCol), centroids).as("cell"))
    // Each cell capped at its maxCell lowest ids by Caps.capBuckets —
    // the shared two-phase cap of the MinHash/SimHash band buckets: the
    // cap binds exactly when ONE cell holds most of the corpus, and a
    // plain cell-keyed window would pull that whole cell through a
    // single task. MERGE-hinted by the rule Dedup's bucket self-joins
    // follow (the MERGE-hint paragraph of Dedup.minHashNearDupPairs'
    // scaladoc): left to the planner, the capped side broadcasts at
    // gate SF and the whole cell pipeline (scan, ArgmaxDot cell
    // assignment, two-phase cap) is planned once per side with no
    // exchange reuse; as an SMJ both sides are the identical (cell)
    // exchange phase 2 establishes and it computes once. At corpus
    // scale SMJ is the planner's own pick.
    val capped = Caps.capBuckets(c, Seq("cell"), "__id", maxCell).hint("merge")
    val lo = capped.select(col("cell"), col("__id").as("id_a"),
      col("__v").as("va"), col("__n").as("na"))
    val hi = capped.select(col("cell"), col("__id").as("id_b"),
      col("__v").as("vb"), col("__n").as("nb"))
    val pairCos = lo.join(hi, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b").as("__id"), round(cosineOf(col("va"), col("vb"),
        col("na"), col("nb")), 6).as("cos_r"))
    val maxLower = pairCos.groupBy(col("__id"))
      .agg(max(col("cos_r")).as("max_lower_cos_r"))
    c.select(col("__id"), col("cell"))
      .join(maxLower, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cell"),
        coalesce(col("max_lower_cos_r"), lit(-1.0)).as("max_lower_cos_r"),
        (coalesce(col("max_lower_cos_r"), lit(-1.0)) < tau).as("kept"))
  }

  /** Per-cell membership counts for every cell that [[semanticDedup]]
    * would cap at `maxCell` — the overflow reporter
    * (`Caps.bucketOverflow`) that keeps the cap from being a silent
    * truncation. Output: (cell, n_rows), only
    * cells with n_rows > maxCell. Given the dedup's `centroids`, the
    * reported cells are exactly the capped ones. */
  def semanticCellOverflow(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      maxCell: Int = 1000): DataFrame =
    Caps.bucketOverflow(
      corpus.select(cellExpr(col(vecCol), centroids).as("cell")),
      Seq("cell"), maxCell, "n_rows")

  /** DuckDB oracle mirroring [[semanticDedup]], given the trained
    * centroids the run used — including the
    * per-cell cap, which is part of the operator's semantics, not an
    * engine-side shortcut. */
  def semanticDedupOracleSql(table: String, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], tau: Double,
      maxCell: Int = 1000): String =
    s"""WITH e AS (SELECT $idCol AS id, $vecCol::DOUBLE[] AS v FROM $table),
       |c AS (SELECT id, v, ${normSql("v")} AS n,
       |             ${cellSqlExpr("v", centroids)} AS cell
       |      FROM e),
       |k AS (${Caps.cappedSql("c", Seq("cell"), "id", maxCell)}),
       |p AS (SELECT y.id AS id,
       |        round(${cosSql("x.v", "y.v", "x.n", "y.n")}, 6) AS cos_r
       |      FROM k x JOIN k y ON x.cell = y.cell AND x.id < y.id),
       |m AS (SELECT id, max(cos_r) AS mc FROM p GROUP BY id)
       |SELECT c.id AS $idCol, c.cell,
       |  coalesce(m.mc, -1.0) AS max_lower_cos_r,
       |  (coalesce(m.mc, -1.0) < ${java.lang.Double.toString(tau)}) AS kept
       |FROM c LEFT JOIN m ON c.id = m.id
       |ORDER BY $idCol""".stripMargin

  // ---- Product quantization (IVFADC) -------------------------------

  private def halfNormSq(c: Array[Double]): Double =
    0.5 * c.foldLeft(0.0)((a, x) => a + x * x)

  /** Codeword id of subspace `sub` for a vector, as a pure projection:
    * argmin squared-L2 against the subspace's codewords. Computed as
    * argmax of (dot(sub, cw) - ||cw||²/2) — the ||sub||² term is
    * constant across codewords so it cannot change the argmin, and
    * dropping it lets the hot loop reuse the codegen'd dot product
    * instead of materializing a per-codeword difference vector. The
    * half-norm bias is a driver-computed literal (sequential fold), so
    * the oracle embeds the identical double. Ties go to the larger
    * codeword index (greatest over (s, i) structs — same semantics as
    * [[cellExpr]] and its list_sort DESC mirror). */
  def subCellExpr(vecCol: Column, sub: Int, codewords: Array[Array[Double]],
      subDim: Int): Column = {
    // one ArgmaxDot node per subspace (codebook as a reference
    // object) instead of ksub unrolled dot+literal subtrees — same
    // plan-size/driver-time rationale as [[cellExpr]], bit-identical
    // (sequential dots over the same slice window, same half-norm
    // subtraction, same larger-index tie-break, same NULL-vector →
    // last-index result via the coalesce)
    import org.apache.spark.sql.GraftBridge
    if (codewords.length == 1) lit(0)
    else coalesce(GraftBridge.column(graft.plans.ArgmaxDot(
        GraftBridge.expression(vecCol), codewords,
        codewords.map(halfNormSq), sub * subDim, subDim)),
      lit(codewords.length - 1))
  }

  /** Subspace width, after checking the `ksub` lowest-id rows exist and
    * their dimension splits into `m` subspaces. */
  private def subDimOf(init: Array[Array[Double]], m: Int, ksub: Int,
      trainer: String): Int = {
    require(init.length == ksub,
      s"$trainer needs >= ksub=$ksub rows, got ${init.length}")
    val dim = init(0).length
    require(dim > 0 && dim % m == 0,
      s"embedding dim $dim must be a positive multiple of m=$m")
    dim / m
  }

  /** A PQ trainer's assignment: `keep` plus one row per subspace with
    * its id as `__sub` and the subspace's codeword from `code(s)` as
    * `__cell` — m small rows, not m vector copies, since the
    * per-dimension means index the ORIGINAL vector column through
    * `sub * subDim + d`. */
  private def subspaceRows(df: DataFrame, keep: Seq[Column], m: Int,
      code: Int => Column): DataFrame =
    df.select(keep :+ explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), code(s).as("cell"))): _*)).as("sc"): _*)
      .select(keep ++ Seq(col("sc.sub").as("__sub"),
        col("sc.cell").as("__cell")): _*)

  /** Deterministic product-quantization trainer (Jégou, Douze, Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    * the vector is split into `m` contiguous subspaces of dim/m and
    * each subspace gets its own `ksub`-codeword Lloyd-trained codebook.
    * Initialization is the ksub lowest-id rows' sub-vectors (RNG-free,
    * like [[ivfTrain]]; see [[lloyd]]).
    *
    * Each iteration is ONE fused shuffle for ALL m subspaces: rows
    * explode to (subspace, codeword) assignment pairs
    * ([[subspaceRows]]) and a single groupBy(sub, cell) computes every
    * subspace's means with map-side combine. Per task the partial
    * state is m×ksub×subDim = dim×ksub doubles regardless of data
    * volume; the driver collects m×ksub rows per iteration. At 100 TB:
    * iters full scans, each one map-combined shuffle, no per-subspace
    * re-reads. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 2): Array[Array[Array[Double]]] =
    lloyd(corpus, idCol, vecCol, ksub, iters)(
      init => {
        val subDim = subDimOf(init, m, ksub, "pqTrain")
        Array.tabulate(m)(s =>
          init.map(v => v.slice(s * subDim, (s + 1) * subDim)))
      },
      subDim => (0 until subDim).map(d =>
        avg(try_element_at(col(vecCol),
          (col("__sub") * subDim + (d + 1)).cast("int")).cast("double"))
          .as(s"m$d")),
      (base, books) => subspaceRows(base, Seq(col(vecCol)), m, s =>
        subCellExpr(col(vecCol), s, books(s), books(0)(0).length)))

  /** IVFADC-shaped ANN against FROZEN trained artifacts (a loaded index
    * or a training memo shared across governance siblings — encode +
    * probe + LUT rank with ZERO training scans, the serving shape of
    * the x57 index lifecycle, and what lets the recall family
    * (x39/x42b/x42d...) train once per corpus instead of once per
    * entry): corpus rows are (a) assigned an IVF cell by the coarse
    * quantizer and (b) compressed to m PQ codeword ids — a pure
    * projection, after which ranking never touches the raw vectors
    * again (at scale the scan reads dim/m/subDim-fold less: m bytes of
    * codes instead of dim floats). Queries probe their nProbes nearest
    * cells and carry m look-up tables (LUT_s[j] = dot(q_sub_s,
    * codebook_s[j]), a per-query projection); a candidate's `score` is
    * the left-to-right sum of its m LUT lookups — the ADC
    * inner-product variant (faiss IVFPQ with METRIC_INNER_PRODUCT).
    * Candidate volume is bounded by the cell equi-join exactly as in
    * [[ivfTopKWith]] — never a cartesian. Scores are bit-exact across
    * engines (sequential dots, explicit sum chain), so ranking needs
    * no rounding guard.
    *
    * `residual`: the books are [[pqTrainResidual]]'s (full IVF-PQ,
    * Jégou et al. 2011 §III) — codes are encoded against the row's
    * coarse cell ([[subCellResidualExpr]]), and the sum starts from the
    * probe's own dot(q, centroid[cell]) (already computed for probe
    * selection), so v̂ = centroid + residual-codeword is scored without
    * ever reconstructing it; the residual-encode bias is re-derived
    * from the (centroids, books) pair, a driver-side fold over
    * K×m×ksub doubles. Plain ADC sums the LUT terms alone — no `0.0 +`
    * start — so its doubles are the plain left-to-right LUT sum. */
  def adcTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, books: Array[Array[Array[Double]]],
      centroids: Array[Array[Double]], nProbes: Int,
      residual: Boolean): DataFrame = {
    val m = books.length
    val subDim = books(0)(0).length
    lazy val bias = residualEncodeBias(centroids, books)
    val codeCols = (0 until m).map(s => (
      if (residual) subCellResidualExpr(col(vecCol), col("cell"), s,
        books(s), bias(s), subDim)
      else subCellExpr(col(vecCol), s, books(s), subDim)).as(s"code_$s"))
    val c = corpus
      .select(col(idCol).as("did"), col(vecCol),
        cellExpr(col(vecCol), centroids).as("cell"))
      .select(col("did") +: col("cell") +: codeCols: _*)
    val lutCols = (0 until m).map { s =>
      val sv = slice(col(vecCol), s * subDim + 1, subDim)
      array(books(s).map(cw =>
        dotProduct(sv, array(cw.map(lit): _*))).toSeq: _*).as(s"lut_$s")
    }
    val q = probeCells(queries.select(col(idCol).as("qid") +: col(vecCol) +:
      lutCols: _*), vecCol, centroids, nProbes)
    val terms = (0 until m)
      .map(s => element_at(col(s"lut_$s"), col(s"code_$s") + 1))
    val score =
      if (residual) terms.foldLeft(col("qc"))(_ + _) else terms.reduceLeft(_ + _)
    topKTail(candidates(c, q, Seq("cell"))
      .select(col("qid"), col("did"), score.as("score")), "score", k)
  }

  /** DuckDB oracle mirroring [[adcTopKWith]], given the trained codebooks
    * and coarse centroids (late-bound): same encode arithmetic (dot
    * minus an embedded bias literal — the half-norm, or with `residual`
    * the per-cell residual bias indexed by the row's cell — with
    * list_sort DESC tie semantics), same per-query LUTs, same explicit
    * left-to-right sum (from the probe score when `residual`). The
    * ranked score is named as its catalog entries name it: `adc_r`
    * plain, `score_r` residual. */
  def adcOracleSql(table: String, idCol: String, vecCol: String, k: Int,
      books: Array[Array[Array[Double]]], centroids: Array[Array[Double]],
      nProbes: Int, queryPred: String, residual: Boolean): String = {
    val m = books.length
    val subDim = books(0)(0).length
    lazy val bias = residualEncodeBias(centroids, books)
    def sliceSql(v: String, s: Int): String =
      s"list_slice($v, ${s * subDim + 1}, ${(s + 1) * subDim})"
    def biasSql(s: Int, j: Int): String =
      if (residual) bias(s).map(row => dlit(row(j)))
        .mkString("([", ", ", "])[cell + 1]")
      else dlit(halfNormSq(books(s)(j)))
    def codeSql(s: Int): String = books(s).zipWithIndex.map { case (cw, j) =>
      s"{'s': list_dot_product(${sliceSql("dvec", s)}, ${arrLit(cw)}) - " +
        s"${biasSql(s, j)}, 'i': $j}"
    }.mkString("list_sort([", ", ", "], 'DESC')[1].i")
    def lutSql(s: Int): String = books(s).map(cw =>
      s"list_dot_product(${sliceSql("qvec", s)}, ${arrLit(cw)})")
      .mkString("[", ", ", "]")
    val codeSel = (0 until m)
      .map(s => s"${codeSql(s)} AS code_$s").mkString(",\n        ")
    val lutSel = (0 until m)
      .map(s => s"${lutSql(s)} AS lut_$s").mkString(",\n        ")
    val terms = (0 until m).map(s => s"lut_$s[code_$s + 1]").mkString(" + ")
    val (score, name) =
      if (residual) (s"qc + $terms", "score_r") else (terms, "adc_r")
    s"""WITH ${sidesSql("", table, idCol, vecCol, queryPred, "")},
       |c1 AS (SELECT did, dvec, ${cellSqlExpr("dvec", centroids)} AS cell
       |       FROM c0),
       |c AS (SELECT did, cell,
       |        $codeSel
       |      FROM c1),
       |q1 AS (SELECT qid, qvec, ${probeSql("qvec", centroids, nProbes)} AS probe
       |       FROM q0),
       |q AS (SELECT qid, probe.i AS cell, probe.s AS qc,
       |        $lutSel
       |      FROM q1),
       |scored AS (
       |  SELECT qid, did, $score AS score
       |  FROM c JOIN q USING (cell) WHERE qid <> did),
       |${rankedTailSql(k, "score", name)}""".stripMargin
  }

  // ---- ADC shortlist re-rank ---------------------------------------

  /** Exact-cosine re-rank of a CANDIDATE list: fetch raw vectors for
    * the candidate (qid, did) pairs only — never a corpus scan — and
    * rank each query's candidates by exact cosine. This is the
    * refinement stage of a production IVF-PQ deployment (Jégou et al.
    * 2011 §V: re-rank the top-C ADC candidates with exact distances):
    * PQ recall at deployable code sizes is unusable alone
    * (~0.30-0.33 on the fixture, TUNING.md), and re-ranking buys it
    * back for the price of C exact dot products per query.
    *
    * 100 TB shape: `candidates` is C×|queries| id pairs — broadcast —
    * so the vector fetch is a broadcast-hash semi-join against the
    * corpus scan (the corpus never shuffles, and column pruning reads
    * only id+vector); scoring touches C×|queries| rows. Same cosine
    * arithmetic and (cos DESC, did) tie order as [[bruteForceTopK]],
    * so results are bit-exact across engines. */
  def exactRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, candidates: DataFrame, k: Int): DataFrame =
    topKTail(corpusSide(corpus, idCol, vecCol)
      .join(broadcast(candidates.select(col("qid"), col("did"))), Seq("did"))
      .join(broadcast(querySide(queries, idCol, vecCol)), Seq("qid"))
      .select(col("qid"), col("did"), qdCosine), "cos", k)

  /** DuckDB oracle mirroring [[exactRerank]] over an [[adcOracleSql]]
    * shortlist: same exact-cosine arithmetic and tie order as the
    * brute-force oracle, restricted to the ADC top-C candidate CTE. */
  def adcRerankOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, shortlistC: Int, books: Array[Array[Array[Double]]],
      centroids: Array[Array[Double]], nProbes: Int,
      queryPred: String): String = {
    val short = adcOracleSql(table, idCol, vecCol, shortlistC, books,
      centroids, nProbes, queryPred, residual = false)
      .replace("\n", "\n    ")
    s"""WITH short AS (SELECT qid, did FROM (
       |    $short)),
       |${sidesSql("", table, idCol, vecCol, queryPred, "")},
       |scored AS (
       |  SELECT s.qid, s.did,
       |    ${cosSql("qvec", "dvec", normSql("qvec"), normSql("dvec"))} AS cos
       |  FROM short s JOIN c0 USING (did) JOIN q0 USING (qid)),
       |${rankedTailSql(k, "cos", "cos_r")}""".stripMargin
  }

  // ---- Incremental index maintenance -------------------------------

  /** Assign a batch of NEW rows to an EXISTING index's cells — the
    * append path of a production ANN/SemDeDup index. Retraining a
    * 100 TB index for every arriving batch is a full-corpus job;
    * appending is this narrow projection against the frozen centroid
    * literals (zero shuffles, zero driver state beyond the K
    * codewords already held). The returned (id, cell, score_r) is
    * what gets unioned into the inverted file.
    *
    * Governance: the rounded best-dot score is returned per row so
    * the caller can monitor assignment-quality DRIFT — a falling
    * score distribution on new batches means the frozen centroids no
    * longer describe the data and a retrain (x6b's trainer) is due;
    * the same signal drives SemDeDup cell re-sizing. Same argmax and
    * tie semantics as [[cellExpr]], so the incremental path lands
    * rows in exactly the cells a fresh assignment would. */
  def ivfAssign(newRows: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val scored = centroidScores(vecCol, centroids)
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    newRows.select(col(idCol), best.as("__b"))
      .select(col(idCol), col("__b.i").as("cell"),
        round(col("__b.s"), 6).as("score_r"))
  }

  /** DuckDB oracle mirroring [[ivfAssign]] over rows selected by
    * `newPred`, given the frozen centroids (late-bound). */
  def ivfAssignOracleSql(table: String, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], newPred: String): String =
    s"""WITH n0 AS (SELECT $idCol AS id, $vecCol::DOUBLE[] AS v
       |           FROM $table WHERE $newPred),
       |best AS (SELECT id,
       |           list_sort(${cellStructsSql("v", centroids)}, 'DESC')[1]
       |             AS b
       |         FROM n0)
       |SELECT id AS $idCol, b.i AS cell, round(b.s, 6) AS score_r
       |FROM best ORDER BY $idCol""".stripMargin

  /** Cluster-balanced diversity sampling: keep at most `perCell` rows
    * from each IVF cell, chosen by a deterministic hash order — the
    * diversity-preserving down-sampler (SemDeDup-adjacent: after
    * near-dups are gone, corpora are still density-skewed; uniform
    * sampling keeps the head's redundancy, cell-balanced sampling
    * keeps the tail's coverage). Hash order, not id order, so the
    * kept set is unbiased w.r.t. ingestion order yet reproducible
    * across runs/engines.
    *
    * Scale shape: cell assignment is the usual narrow projection; the
    * only wide op is a window keyed by cell (distributes across
    * cells). Output: (id, cell, rk) for kept rows. */
  def cellBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], perCell: Int): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    perCellHashKeep(
      corpus.select(col(idCol), cellExpr(col(vecCol), centroids)
        .as("cell")),
      idCol, "cell", perCell)
  }

  /** Deterministic per-cell hash-order keep: at most `cap` rows per
    * `cellCol`, ranked by (60-bit md5 of the id, id) — the ONE
    * ordering convention [[cellBalancedSample]] and
    * [[ivfTopKWithCapped]] share with their DuckDB twins
    * ([[cellCapOrderSql]]); a second hand-maintained copy of this
    * window is how the engines drift. Two-phase shard-then-merge
    * shape (the domainQuota/weightedSample pattern), because the cap
    * matters exactly when ONE cell holds most of the corpus (the
    * tight drift mode) and a plain cell-keyed window would pull that
    * whole cell through one task: phase 1 ranks within (cell,
    * id-hash shard) and keeps ≤ cap per shard — lossless, a row with
    * cap lower-hash rows in its OWN shard cannot be in the cell's
    * overall lowest cap — phase 2 ranks the ≤ shards×cap survivors.
    * Appends `rk`, the final per-cell rank (BIGINT). */
  private def perCellHashKeep(df: DataFrame, idCol: String,
      cellCol: String, cap: Int, shards: Int = 64): DataFrame = {
    val id = col(idCol)
    val hash = graft.functions.HashFunctions.md5Hash60(id.cast("string"))
    Caps.twoPhaseRank(df, Seq(col(cellCol)), Seq(hash, id),
      graft.functions.HashFunctions.md5Hash60b(id.cast("string")),
      cap, shards, rankCol = Some("rk"))
  }

  /** DuckDB twin of [[perCellHashKeep]]'s ordering key (the one-phase
    * window gives the same result as the two-phase Spark shape, whose
    * split is scaling, not semantics). */
  private def cellCapOrderSql(idExpr: String): String =
    s"('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 15))::BIGINT, " +
      idExpr

  /** DuckDB twin of [[cellBalancedSample]] (late-bound centroids). */
  def cellBalancedSampleOracleSql(table: String, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      perCell: Int): String =
    s"""WITH c AS (SELECT $idCol AS id,
       |             ${cellSqlExpr(s"$vecCol::DOUBLE[]", centroids)} AS cell
       |           FROM $table),
       |r AS (SELECT id, cell, CAST(row_number() OVER (
       |        PARTITION BY cell ORDER BY ${cellCapOrderSql("id")})
       |        AS BIGINT) AS rk
       |      FROM c)
       |SELECT id AS $idCol, cell, rk FROM r WHERE rk <= $perCell
       |ORDER BY $idCol""".stripMargin

  /** Contrastive-pair mining over the IVF candidate structure, against
    * FROZEN centroids (see [[adcTopKWith]]): for each anchor, its
    * POSITIVE = the highest-cosine candidate with rounded cosine ≥
    * `posBand`, and its HARD NEGATIVE = the highest-cosine candidate
    * strictly below `negBand` — the in-between band is excluded on
    * purpose (likely near-dups / label noise, the standard
    * contrastive-mining hygiene). Hard negatives — maximally-similar
    * non-matches — are what make embedding-model training batches
    * informative; random negatives are trivially separable.
    *
    * Anchors missing either side (no candidate in the band within
    * the probed cells) are dropped — a mined TRAINING PAIR needs
    * both. Candidates come from the same bounded cell equi-join as
    * [[ivfTopKWith]] (never a cartesian); both selections rank on the
    * ROUNDED cosine with id tie-breaks, so the mined set is
    * identical across engines. */
  def minePairsWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]], nProbes: Int,
      posBand: Double, negBand: Double): DataFrame = {
    require(posBand >= negBand,
      s"posBand=$posBand must be >= negBand=$negBand " +
        "(equal bands = no excluded middle)")
    val scored = ivfScored(corpusSide(corpus, idCol, vecCol,
        cellExpr(col(vecCol), centroids).as("cell")),
        queries, idCol, vecCol, centroids, nProbes)
      .select(col("qid"), col("did"), round(col("cos"), 6).as("cos_r"))
    def top1(df: DataFrame, idName: String, cosName: String): DataFrame =
      topKTail(df, "cos_r", 1).select(col("qid"), col("did").as(idName),
        col("cos_r").as(cosName))
    top1(scored.filter(col("cos_r") >= posBand), "pos_id", "pos_cos_r")
      .join(top1(scored.filter(col("cos_r") < negBand),
        "hneg_id", "hneg_cos_r"), Seq("qid"))
      .orderBy(col("qid"))
  }

  /** DuckDB twin of [[minePairsWith]] (late-bound centroids). */
  def minePairsOracleSql(table: String, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], nProbes: Int, posBand: Double,
      negBand: Double, queryPred: String): String =
    s"""WITH ${ivfScoredCte(table, idCol, vecCol, centroids, nProbes,
         queryPred)},
       |sr AS (SELECT qid, did, round(cos, 6) AS cos_r FROM scored),
       |pos AS (${rankSql(s"sr WHERE cos_r >= ${dlit(posBand)}", "cos_r")}),
       |neg AS (${rankSql(s"sr WHERE cos_r < ${dlit(negBand)}", "cos_r")})
       |SELECT p.qid, p.did AS pos_id, p.cos_r AS pos_cos_r,
       |  n.did AS hneg_id, n.cos_r AS hneg_cos_r
       |FROM pos p JOIN neg n ON p.qid = n.qid
       |WHERE p.rn = 1 AND n.rn = 1
       |ORDER BY p.qid""".stripMargin

  // ---- Residual product quantization (full IVF-PQ) -----------------

  /** Driver-side sequential dot, bit-identical to [[ArrayDotProduct]]
    * / DuckDB's list_dot_product (left-to-right double accumulation) —
    * used to fold residual terms into literal biases. */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Encode-side bias literals for residual PQ, bias(s)(cell)(j) =
    * dot(centroid_cell restricted to subspace s, codeword j) +
    * ‖codeword j‖²/2. With them, the residual argmin
    * `argmin_j ‖(v − c)_s − cw_j‖²` becomes
    * `argmax_j (dot(v_s, cw_j) − bias(s)(cell)(j))` — the residual is
    * NEVER materialized, the hot loop stays one codegen'd dot against
    * the original vector, and both engines evaluate the identical
    * arithmetic (the bias is one driver-computed double). */
  private def residualEncodeBias(centroids: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    val m = books.length
    val subDim = books(0)(0).length
    Array.tabulate(m) { s =>
      centroids.map { c =>
        val cSub = c.slice(s * subDim, (s + 1) * subDim)
        books(s).map(cw => dotSeq(cSub, cw) + halfNormSq(cw))
      }
    }
  }

  /** Residual codeword id of subspace `sub` given the row's coarse
    * cell (a Column): argmax of (dot(v_sub, cw_j) − bias[cell][j]),
    * ties to the larger j as everywhere else. */
  private def subCellResidualExpr(vecCol: Column, cellCol: Column,
      sub: Int, codewords: Array[Array[Double]],
      biasSub: Array[Array[Double]], subDim: Int): Column = {
    val sv = slice(vecCol, sub * subDim + 1, subDim)
    val scored = codewords.zipWithIndex.map { case (cw, j) =>
      val biasByCell = array(biasSub.map(cellRow => lit(cellRow(j))): _*)
      struct((dotProduct(sv, array(cw.map(lit): _*)) -
        element_at(biasByCell, cellCol + 1)).as("s"), lit(j).as("i"))
    }
    if (scored.length == 1) lit(0)
    else greatest(scored.toSeq: _*).getField("i")
  }

  /** Residual-PQ trainer (full IVF-PQ, Jégou et al. 2011 §III): the
    * codebooks quantize v − centroid(cell) instead of v, recovering
    * the reconstruction error a cell-agnostic codebook wastes on
    * encoding WHICH cell a vector sits in. Same fused
    * one-shuffle-per-iteration shape as [[pqTrain]]: the coarse cell
    * is a narrow projection carried through the explode, assignment
    * uses the bias decomposition (residuals never materialized in the
    * assignment expression), and the per-dimension residual means
    * subtract the cell centroid's element inside the aggregate.
    * Init: residuals of the ksub lowest-id rows (driver-computed with
    * the same argmax-tie rule the engine uses). */
  def pqTrainResidual(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int = 2): Array[Array[Array[Double]]] = {
    // driver-side cell assignment of the init rows: argmax by (score,
    // index) tuple — lexicographic tuple order matches greatest's
    // ties-to-larger-index semantics
    def cellOf(v: Array[Double]): Int =
      centroids.zipWithIndex.map { case (c, i) => (dotSeq(v, c), i) }
        .maxBy(identity)._2
    // full centroid matrix as a 2-D literal, indexed by (cell, dim)
    // inside the residual-mean aggregate
    val centsLit = array(centroids.map(c => array(c.map(lit): _*)): _*)
    lloyd(corpus, idCol, vecCol, ksub, iters)(
      init => {
        val subDim = subDimOf(init, m, ksub, "pqTrainResidual")
        Array.tabulate(m) { s =>
          init.map { v =>
            val c = centroids(cellOf(v))
            Array.tabulate(subDim)(d => v(s * subDim + d) - c(s * subDim + d))
          }
        }
      },
      subDim => (0 until subDim).map { d =>
        val idx = (col("__sub") * subDim + (d + 1)).cast("int")
        avg(try_element_at(col(vecCol), idx).cast("double") -
          try_element_at(element_at(centsLit, col("__coarse") + 1), idx))
          .as(s"m$d")
      },
      (base, books) => {
        val bias = residualEncodeBias(centroids, books)
        subspaceRows(base.select(col(vecCol),
            cellExpr(col(vecCol), centroids).as("__coarse")),
          Seq(col(vecCol), col("__coarse")), m, s =>
            subCellResidualExpr(col(vecCol), col("__coarse"), s, books(s),
              bias(s), books(0)(0).length))
      })
  }

  // ---- index persistence (lifecycle) --------------------------------
  // Trained centroids/codebooks otherwise live only inside query
  // closures: un-reusable across sessions, un-auditable, retrained on
  // every run. Persisting them as parquet tables plus a key-value
  // MANIFEST (params + caller metadata such as the trained-on snapshot
  // id) makes the index a first-class artifact: train once on a 100 TB
  // snapshot, serve assignment/search from the saved tables, and
  // retrain on the TUNING.md "ANN drift" schedule instead of per job. All
  // driver traffic here is the same O(K·dim) / O(m·ksub·subDim) bound
  // as the trainers themselves.

  private def indexRoot(spark: org.apache.spark.sql.SparkSession,
      name: String): String =
    s"${Locations.warehouseRoot(spark)}/${indexName(name)}"

  private def indexName(name: String): String = s"ann_index/$name"

  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
      root: String,
      entries: Map[String, String]): Unit = {
    import spark.implicits._
    entries.toSeq.sortBy(_._1).toDF("key", "value")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$root/manifest")
  }

  private def readManifest(spark: org.apache.spark.sql.SparkSession,
      root: String): Map[String, String] =
    Tables.readParquet(spark, s"$root/manifest").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Persist IVF centroids under `<warehouse>/ann_index/<name>`:
    * a `centroids(cell, vec)` table plus the manifest. Structural
    * params (`kind`, `n_cells`, `dim`) are stamped by the writer so
    * the loader can validate; pass training provenance (snapshot id,
    * iters, corpus predicate) in `manifest`. Returns the root path. */
  def saveIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String,
      centroids: Array[Array[Double]],
      manifest: Map[String, String] = Map.empty): String = {
    import spark.implicits._
    require(centroids.nonEmpty, "cannot persist an empty index")
    val root = Locations.warehouse(spark, indexName(name))
    centroids.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "vec").repartition(1)
      .write.mode("overwrite").parquet(s"$root/centroids")
    writeManifest(spark, root, manifest ++ Map(
      "kind" -> "ivf",
      "n_cells" -> centroids.length.toString,
      "dim" -> centroids.head.length.toString))
    root
  }

  /** Load a [[saveIvfIndex]] index: (centroids, manifest), validated
    * against the manifest's structural params — a partial write or a
    * mixed-up directory fails loudly here, not as silent recall loss
    * downstream. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): (Array[Array[Double]], Map[String, String]) = {
    val root = indexRoot(spark, name)
    val man = readManifest(spark, root)
    require(man.get("kind").contains("ivf"),
      s"index $name is kind=${man.getOrElse("kind", "?")}, expected ivf")
    val cents = Tables.readParquet(spark, s"$root/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.map(_._1).toSeq == cents.indices.toSeq,
      s"index $name cell ids must be contiguous 0..K-1")
    require(cents.length == man("n_cells").toInt &&
      cents.forall(_._2.length == man("dim").toInt),
      s"index $name tables disagree with manifest " +
        s"(n_cells=${man("n_cells")}, dim=${man("dim")})")
    (cents.map(_._2), man)
  }

  /** Persist PQ codebooks under `<warehouse>/ann_index/<name>`:
    * a `codebooks(sub, code, vec)` table plus the manifest (`kind`,
    * `m`, `ksub`, `sub_dim` stamped by the writer). */
  def savePqIndex(spark: org.apache.spark.sql.SparkSession, name: String,
      books: Array[Array[Array[Double]]],
      manifest: Map[String, String] = Map.empty): String = {
    import spark.implicits._
    require(books.nonEmpty && books.head.nonEmpty,
      "cannot persist an empty codebook")
    val root = Locations.warehouse(spark, indexName(name))
    (for {
      s <- books.indices
      j <- books(s).indices
    } yield (s, j, books(s)(j).toSeq))
      .toDF("sub", "code", "vec").repartition(1)
      .write.mode("overwrite").parquet(s"$root/codebooks")
    writeManifest(spark, root, manifest ++ Map(
      "kind" -> "pq",
      "m" -> books.length.toString,
      "ksub" -> books.head.length.toString,
      "sub_dim" -> books.head.head.length.toString))
    root
  }

  /** Load a [[savePqIndex]] index: (codebooks, manifest), validated. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): (Array[Array[Array[Double]]], Map[String, String]) = {
    val root = indexRoot(spark, name)
    val man = readManifest(spark, root)
    require(man.get("kind").contains("pq"),
      s"index $name is kind=${man.getOrElse("kind", "?")}, expected pq")
    val (m, ksub, subDim) =
      (man("m").toInt, man("ksub").toInt, man("sub_dim").toInt)
    val rows = Tables.readParquet(spark, s"$root/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    require(rows.size == m * ksub &&
      rows.values.forall(_.length == subDim),
      s"index $name tables disagree with manifest (m=$m, ksub=$ksub, " +
        s"sub_dim=$subDim)")
    (Array.tabulate(m, ksub)((s, j) => rows((s, j))), man)
  }

  // ---- margin-based bitext mining ------------------------------------

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019 — the
    * method behind CCMatrix/CCAligned-scale bitext construction):
    * score every (src, tgt) embedding pair by the RATIO margin
    * cos(x,y) / ((avgF(x) + avgB(y)) / 2), where avgF/avgB are each
    * side's mean top-`k` cosine into the other side — the
    * hubness-corrected score that raw cosine mining lacks. Each
    * source row emits its best-margin target plus a `mutual` flag
    * (the pair is also the target's best-margin source — the
    * intersection strategy, the paper's highest-precision variant;
    * callers filter on it).
    *
    * This form scores all pairs via a broadcast of the smaller side
    * (exact — the gate-SF baseline); at corpus scale, swap the
    * all-pairs `scored` frame for IVF candidates (ivfTopKWith) — the
    * margin/mutual logic downstream is identical and stays keyed by
    * (src id, tgt id).
    *
    * Determinism: cosines are the same codegen'd dot products the ANN
    * family hash-gates; the top-k means fold in RANK order and divide
    * by the ACTUAL neighbor count least(k, |candidates|) — Artetxe &
    * Schwenk's mean over the realized k-NN list, not a fixed-k
    * divisor that would deflate averages when a side is smaller than
    * k; margins round to 9 dp with id tiebreaks before any ranking
    * (the weightedSample convention). Windows partition by one side's
    * id only — never global.
    *
    * Output: (src_id, tgt_id, cos_r, margin_r, mutual), one row per
    * source with at least one scored pair. */
  def bitextMarginMine(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val s = src.select(col(idCol).as("sid"), col(vecCol).as("svec"),
      l2Norm(col(vecCol)).as("sn"))
    val t = tgt.select(col(idCol).as("tid"), col(vecCol).as("tvec"),
      l2Norm(col(vecCol)).as("tn"))
    val scored = t.join(broadcast(s), lit(true))
      .select(col("sid"), col("tid"),
        cosineOf(col("svec"), col("tvec"), col("sn"), col("tn")).as("cos"))
    marginMineTail(scored, k, materialized = false)
  }

  /** The margin/mutual tail shared by [[bitextMarginMine]] (exact
    * all-pairs scoring) and [[bitextMarginMineWith]] (IVF-candidate
    * scoring): rank a `scored(sid, tid, cos)` pair frame (UNIQUE pair
    * keys — both callers guarantee it) both directions, fold each
    * side's top-`k` cosines in rank order into avgF/avgB (divided by
    * the ACTUAL neighbor count — least(k, n)), 9-dp ratio margins,
    * then each source's best-margin target with the mutual-best flag.
    *
    * Every per-side computation runs through the bounded-heap
    * aggregate ([[graft.plans.TopKPairs]]), not a per-side window:
    * values and tie-breaks are identical (the heap's score-DESC,
    * id-ASC ordering IS the window idiom's, and the top-k fold sums
    * in the same best-first order), but the aggregate participates
    * in map-side partial aggregation — so a HUB id (one target
    * retrieved into a large fraction of all sources' candidate
    * lists, the skew the capped retrieval cannot bound because its
    * cap is per QUERY) costs a k-element heap merge per task instead
    * of funneling |sources| rows into one window-sort task. Measured
    * at 1M×1M with a universal hub (SCALE.md "Margin-tail hub
    * skew").
    *
    * `scored` feeds three consumers (both topMeans and the margins
    * join) and `margins` two (both elections). With `materialized`
    * each is computed once ([[Materialize.once]]) — the composed form,
    * whose scored pairs come from two IVF retrievals. The exact form
    * keeps its tail lazy: one plan, no job at build time, and each
    * consumer rescored from the cross join. */
  private def marginMineTail(scored0: DataFrame, k: Int,
      materialized: Boolean): DataFrame = {
    val scored = if (materialized) Materialize.once(scored0) else scored0
    import org.apache.spark.sql.GraftBridge
    def topK(other: String, score: Column, kk: Int): Column =
      GraftBridge.column(graft.plans.TopKPairs(
        GraftBridge.expression(score),
        GraftBridge.expression(col(other)), kk).toAggregateExpression())
    // mean of each side's top-k cosines, summed best-first (rank
    // order — the exact FP order of the verified window formulation)
    // over the ACTUAL neighbor count
    def topMean(key: String, other: String): DataFrame = scored
      .groupBy(col(key))
      .agg(topK(other, col("cos"), k).as("__top"))
      .select(col(key),
        (aggregate(transform(col("__top"), x => x.getField("score")),
          lit(0.0), (acc, x) => acc + x) /
          size(col("__top")).cast("double")).as(s"avg_$key"))
    val margins0 = scored
      .join(topMean("sid", "tid"), Seq("sid"))
      .join(topMean("tid", "sid"), Seq("tid"))
      .select(col("sid"), col("tid"), col("cos"),
        round(col("cos") / ((col("avg_sid") + col("avg_tid")) / 2.0), 9)
          .as("margin_r"))
    val margins = if (materialized) Materialize.once(margins0) else margins0
    // per-side best-pair elections via max_by over the composite
    // ordering key (margin DESC, id ASC — ids are non-negative, so
    // max of -id is min id): row_number()==1 under the same ordering,
    // but a codegen'd declarative aggregate with map-side partials.
    // The elected struct carries its own cosine, so no join-back —
    // margins feeds exactly two consumers
    val fBest = margins.groupBy(col("sid"))
      .agg(max_by(struct(col("tid"), col("cos"), col("margin_r")),
        struct(col("margin_r"), -col("tid"))).as("__b"))
      .select(col("sid"), col("__b.tid").as("tid"),
        col("__b.cos").as("cos"), col("__b.margin_r").as("margin_r"))
    val bBest = margins.groupBy(col("tid"))
      .agg(max_by(col("sid"),
        struct(col("margin_r"), -col("sid"))).as("__bsid"))
    fBest
      .join(bBest, Seq("tid"))
      .select(col("sid").as("src_id"), col("tid").as("tgt_id"),
        round(col("cos"), 6).as("cos_r"), col("margin_r"),
        (col("__bsid") === col("sid")).as("mutual"))
  }

  /** The AT-SCALE composed form of [[bitextMarginMine]] — the
    * CCMatrix-scale shape the exact operator's doc promises: instead
    * of scoring all pairs, take the two DIRECTIONAL IVF candidate
    * frames an [[ivfTopKWith]] / [[ivfTopKWithCapped]] run produces
    * (`fwd`: src rows querying the tgt corpus, `bwd`: tgt rows
    * querying the src corpus — both `(qid, did, cos, ...)`), union
    * them into one deduplicated `(sid, tid, cos)` candidate pair set,
    * and run the IDENTICAL margin/mutual tail. Margins and best-pair
    * election are over the CANDIDATE set (the paper's practical form:
    * avgF/avgB are means over each side's retrieved k-NN list); the
    * union makes each side's neighbor list the better of the two
    * retrievals, so the approximation is symmetric.
    *
    * Scale shape: candidate volume is bounded by the upstream
    * retrieval (≤ nProbes × perCellCap per query with the capped
    * server — never |src|×|tgt|); the union dedup is one
    * groupBy(sid, tid) on pair keys (cosines for a duplicated pair
    * are the same codegen'd expression on identical inputs, hence
    * bitwise equal — max() is a tie-pick, not an average); the tail's
    * windows/joins are per-side-id keyed exactly as in the exact
    * form. Rows whose source never entered a candidate pair simply
    * don't appear — the retrieval's recall contract (x42-family)
    * governs that, not this operator.
    *
    * NOTE: upstream [[candidates]] drops qid = did pairs (ANN
    * self-match hygiene), so src and tgt must not share ids — true
    * for any real bilingual corpus and for the x80b parity fixture.
    *
    * RECALL vs the retrieval's parameters is MEASURED, not assumed
    * (the nCells, nProbes and cap sweeps are in SCALE.md "Composed
    * bitext-miner RECALL vs the cap"; one point is hash-gated as x80c).
    * Operating rule: grow nCells until cap/occupancy reaches ~1-2 and
    * STOP — past that point more cells cost recall at any probe
    * budget; the cap exists to bound pathological cells.
    *
    * The candidate pairs and their margins each feed several tail
    * consumers and are materialized once ([[marginMineTail]]). */
  def bitextMarginMineWith(fwd: DataFrame, bwd: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = fwd.select(col("qid").as("sid"), col("did").as("tid"),
        col("cos"))
      .unionByName(bwd.select(col("did").as("sid"), col("qid").as("tid"),
        col("cos")))
      .groupBy(col("sid"), col("tid")).agg(max(col("cos")).as("cos"))
    marginMineTail(pairs, k, materialized = true)
  }

  /** DuckDB twin of [[bitextMarginMine]] — same cosines, rank-ordered
    * top-k folds, 9-dp margins and mutual-best logic. `srcPred` /
    * `tgtPred` split `table` into the two sides. */
  def bitextMarginOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, srcPred: String, tgtPred: String): String =
    s"""WITH s AS (
       |  SELECT $idCol AS sid, $vecCol::DOUBLE[] AS svec
       |  FROM $table WHERE $srcPred),
       |t AS (
       |  SELECT $idCol AS tid, $vecCol::DOUBLE[] AS tvec
       |  FROM $table WHERE $tgtPred),
       |scored AS (
       |  SELECT sid, tid,
       |    ${cosSql("svec", "tvec", normSql("svec"), normSql("tvec"))} AS cos
       |  FROM t CROSS JOIN s),
       |${marginTailSql(k)}""".stripMargin

  /** DuckDB twin of [[marginMineTail]] over a preceding
    * `scored(sid, tid, cos)` CTE — rank-ordered top-k folds divided
    * by the ACTUAL per-side neighbor count, 9-dp margins, mutual-best
    * pick. Shared by [[bitextMarginOracleSql]] (exact all-pairs
    * scored) and [[bitextMarginMineWithOracleSql]] (IVF-candidate
    * scored). */
  private def marginTailSql(k: Int): String =
    s"""ranked AS (
       |  SELECT sid, tid, cos,
       |    row_number() OVER (PARTITION BY sid ORDER BY cos DESC, tid)
       |      AS fr,
       |    row_number() OVER (PARTITION BY tid ORDER BY cos DESC, sid)
       |      AS br
       |  FROM scored),
       |af AS (
       |  SELECT sid,
       |    ${Folds.orderedSumSql("cos", "fr")} /
       |      CAST(count(*) AS DOUBLE) AS avg_sid
       |  FROM ranked WHERE fr <= $k GROUP BY sid),
       |ab AS (
       |  SELECT tid,
       |    ${Folds.orderedSumSql("cos", "br")} /
       |      CAST(count(*) AS DOUBLE) AS avg_tid
       |  FROM ranked WHERE br <= $k GROUP BY tid),
       |margins AS (
       |  SELECT r.sid, r.tid, r.cos,
       |    round(r.cos / ((af.avg_sid + ab.avg_tid) / 2.0), 9)
       |      AS margin_r
       |  FROM ranked r JOIN af ON r.sid = af.sid
       |  JOIN ab ON r.tid = ab.tid),
       |best AS (
       |  SELECT sid, tid, cos, margin_r,
       |    row_number() OVER (PARTITION BY sid
       |      ORDER BY margin_r DESC, tid) AS fb,
       |    row_number() OVER (PARTITION BY tid
       |      ORDER BY margin_r DESC, sid) AS bb
       |  FROM margins)
       |SELECT sid AS src_id, tid AS tgt_id, round(cos, 6) AS cos_r,
       |  margin_r, (bb = 1) AS mutual
       |FROM best WHERE fb = 1""".stripMargin

  /** DuckDB twin of [[bitextMarginMineWith]] composed with its two
    * [[ivfTopKWithCapped]] retrievals: BOTH directional candidate
    * sets are re-derived inside the SQL from the embedded trained
    * centroids (forward: `srcPred` rows querying the `tgtPred` corpus
    * under `tgtCentroids`; backward: the reverse under
    * `srcCentroids`), rank-filtered to each query's top-`kCand`,
    * unioned and deduplicated on the pair key, then the same
    * margin/mutual tail as the exact twin. The twin therefore gates
    * the RETRIEVAL composition, not just the tail. */
  def bitextMarginMineWithOracleSql(table: String, idCol: String,
      vecCol: String, k: Int, kCand: Int,
      srcPred: String, tgtPred: String,
      srcCentroids: Array[Array[Double]],
      tgtCentroids: Array[Array[Double]],
      nProbes: Int, perCellCap: Int): String = {
    def cand(prefix: String, queryPred: String, corpusPred: String,
        cents: Array[Array[Double]]): String =
      s"""${ivfScoredCte(table, idCol, vecCol, cents, nProbes,
           queryPred, Some(perCellCap), prefix = prefix,
           corpusPred = Some(corpusPred))},
         |${prefix}ranked AS (
         |  ${rankSql(s"${prefix}scored", "cos")}),
         |${prefix}cand AS (
         |  SELECT qid, did, cos FROM ${prefix}ranked
         |  WHERE rn <= $kCand)""".stripMargin
    s"""WITH ${cand("f", srcPred, tgtPred, tgtCentroids)},
       |${cand("b", tgtPred, srcPred, srcCentroids)},
       |scored AS (
       |  SELECT sid, tid, max(cos) AS cos FROM (
       |    SELECT qid AS sid, did AS tid, cos FROM fcand
       |    UNION ALL
       |    SELECT did AS sid, qid AS tid, cos FROM bcand)
       |  GROUP BY sid, tid),
       |${marginTailSql(k)}""".stripMargin
  }
}
