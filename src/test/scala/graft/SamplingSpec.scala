package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val ids = (1L to 1000L).toDF("id")

  test("hashSample is deterministic and roughly proportional") {
    val a = Sampling.hashSample(ids, "id", 10).as[Long].collect().toSet
    val b = Sampling.hashSample(ids, "id", 10).as[Long].collect().toSet
    assert(a == b)
    assert(a.size > 50 && a.size < 200, s"10% of 1000 ~ 100, got ${a.size}")
    // a pct-20 sample is a superset of the pct-10 sample (nested samples)
    val wider = Sampling.hashSample(ids, "id", 20).as[Long].collect().toSet
    assert(a.subsetOf(wider))
  }

  test("assignSplit covers every row, stable as the corpus grows") {
    val split = Sampling.assignSplit(ids, "id", 80, 10)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(split.size == 1000)
    val counts = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // same ids get the same split in a smaller corpus (no rand())
    val sub = Sampling.assignSplit(ids.filter(col("id") <= 100), "id", 80, 10)
      .select("id", "split").as[(Long, String)].collect().toMap
    sub.foreach { case (id, s) => assert(split(id) == s) }
  }

  test("domainQuota keeps each domain's quota lowest ids, identical to " +
      "the single-window model, for any shard count") {
    val rows = (for {
      d <- Seq("a.com", "b.org", "hot.net")
      i <- 1L to (if (d == "hot.net") 200L else 7L)
    } yield (d, d.hashCode.toLong * 1000 + i)).toDF("domain", "id")
    val naive = rows.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain")).orderBy(col("id"))))
      .filter(col("rn") <= 5).drop("rn")
      .as[(String, Long)].collect().toSet
    for (shards <- Seq(1, 4, 64)) {
      val got = Sampling.domainQuota(rows, "domain", "id", 5, shards)
        .as[(String, Long)].collect().toSet
      assert(got == naive, s"shards=$shards")
    }
    // quota larger than any domain keeps everything
    assert(Sampling.domainQuota(rows, "domain", "id", 1000).count()
      == rows.count())
  }

  test("temperatureSample keeps (n_min/n_c)^(1-alpha) of each class: " +
      "smallest class whole, realized rates near the closed form, " +
      "alpha=1 a no-op, deterministic") {
    // classes: a=100 rows, b=400, c=1600 (16:4:1 natural skew)
    val rows = (Seq.fill(1)(("a", 100L)) ++ Seq.fill(4)(("b", 400L)) ++
      Seq.fill(16)(("c", 1600L))).zipWithIndex
      .flatMap { case ((cls, n), i) =>
        (0L until n / (if (cls == "a") 1 else if (cls == "b") 4 else 16))
          .map(j => (cls, i * 10000L + j)) }
      .toDF("cls", "id")
    assert(rows.groupBy($"cls").count().as[(String, Long)].collect()
      .toMap == Map("a" -> 100L, "b" -> 400L, "c" -> 1600L))
    val kept = Sampling.temperatureSample(rows, "cls", "id", alpha = 0.5)
      .groupBy($"cls").count().as[(String, Long)].collect().toMap
    // closed form at alpha=0.5: a keeps 1.0, b keeps (100/400)^0.5 =
    // 0.5, c keeps (100/1600)^0.5 = 0.25 — md5 buckets are uniform
    // but not exact, so assert within a tolerant band
    assert(kept("a") == 100L, "smallest class must be kept whole")
    assert(kept("b") > 150 && kept("b") < 250, s"b ~ 200, got ${kept("b")}")
    assert(kept("c") > 320 && kept("c") < 480, s"c ~ 400, got ${kept("c")}")
    // alpha=1: natural distribution, keep everything
    assert(Sampling.temperatureSample(rows, "cls", "id", 1.0).count() == 2100)
    // deterministic: same kept set on re-run
    val k1 = Sampling.temperatureSample(rows, "cls", "id", 0.5)
      .select($"id").as[Long].collect().toSet
    val k2 = Sampling.temperatureSample(rows, "cls", "id", 0.5)
      .select($"id").as[Long].collect().toSet
    assert(k1 == k2)
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(rows, "cls", "id", 0.0) }
  }

  test("cluster-keyed assignSplit is leakage-safe: every near-dup " +
      "cluster lands whole in ONE split, where the per-doc split " +
      "tears clusters across train/test") {
    // 40 clusters of 5 near-dups each (ids 5c..5c+4 share cluster 5c)
    val docs = (0L until 200L).toDF("doc_id")
    val edges = (0L until 200L).filter(_ % 5 != 0)
      .map(i => (i - i % 5, i)).toDF("id_a", "id_b")
    val labels = graft.operators.Graph.connectedComponents(
      docs, "doc_id", edges)
    val safe = Sampling.assignSplit(labels, "cluster_id", 80, 10)
      .select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect().toSeq
    assert(safe.length == 200)
    // the leakage-safety invariant: one split per cluster
    safe.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"cluster $c torn across splits: $rows") }
    // the per-doc split does tear clusters (this is WHY x18b exists) —
    // with 40 5-doc clusters and an 80/10/10 doc-level draw, the odds
    // every cluster stays whole are astronomically small
    val naive = Sampling.assignSplit(labels, "doc_id", 80, 10)
      .select("cluster_id", "split")
      .as[(Long, String)].collect().toSeq
    val torn = naive.groupBy(_._1).count(_._2.map(_._2).distinct.length > 1)
    assert(torn > 0, "doc-keyed split should tear at least one cluster")
  }

  // driver-side replica of the md5-derived 60-bit hash (chars 1..15
  // of the hex digest), for brute-force agreement checks
  private def md5Hash60Local(s: String): Long =
    java.lang.Long.parseLong(java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15), 16)

  test("weightedSample matches a brute-force one-phase Efraimidis-" +
      "Spirakis draw exactly for any shard count (the two-phase " +
      "shard discard is lossless) and is deterministic") {
    val rows = (1L to 500L).map(i =>
      (if (i % 2 == 0) "en" else "de", i, 1.0 + (i % 17).toDouble))
      .toDF("cls", "id", "wt")
    val brute = rows.as[(String, Long, Double)].collect()
      .map { case (cls, id, wt) =>
        val u = (md5Hash60Local(id.toString) + 1).toDouble / math.pow(2, 60)
        val pri = BigDecimal(math.log(u) / wt)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (cls, id, pri) }
      .groupBy(_._1).toSeq.flatMap { case (_, g) =>
        g.sortBy(r => (-r._3, r._2)).take(7) }
      .map(r => (r._1, r._2)).toSet
    for (shards <- Seq(1, 4, 64)) {
      val got = Sampling.weightedSample(rows, "cls", "id", col("wt"),
          k = 7, shards = shards)
        .select($"cls", $"id").as[(String, Long)].collect().toSet
      assert(got == brute, s"shards=$shards diverged from brute force")
    }
  }

  test("weightedSample is weight-biased: heavy rows dominate the " +
      "sample far beyond their population share") {
    // 500 rows of weight 1, 50 rows of weight 100 (9% of the
    // population, ~91% of the mass)
    val rows = ((1L to 500L).map(i => ("c", i, 1.0)) ++
      (1001L to 1050L).map(i => ("c", i, 100.0))).toDF("cls", "id", "wt")
    val got = Sampling.weightedSample(rows, "cls", "id", col("wt"), k = 20)
      .select($"id").as[Long].collect().toSet
    val heavy = got.count(_ > 1000L)
    assert(heavy >= 15,
      s"expected heavy rows to dominate the top-20, got $heavy/20")
    // rank column is a correct 1..k per class
    val rks = Sampling.weightedSample(rows, "cls", "id", col("wt"), k = 20)
      .select($"rk").as[Int].collect().sorted.toSeq
    assert(rks == (1 to 20), s"ranks must be 1..20, got $rks")
  }

  test("weightedSample never draws rows with invalid weights: " +
      "negative (which would flip ln(u)/w positive and ALWAYS win), " +
      "zero, and NaN (which Spark sorts above every double) are all " +
      "excluded while valid rows draw exactly as before") {
    val clean = (1L to 50L).map(i => ("c", i, 2.0)).toDF("cls", "id", "wt")
    val expected = Sampling.weightedSample(clean, "cls", "id", col("wt"), 5)
      .select($"id").as[Long].collect().toSet
    val dirty = ((1L to 50L).map(i => ("c", i, 2.0)) ++ Seq(
      ("c", 101L, -5.0), ("c", 102L, 0.0), ("c", 103L, Double.NaN)))
      .toDF("cls", "id", "wt")
    val got = Sampling.weightedSample(dirty, "cls", "id", col("wt"), 5)
      .select($"id").as[Long].collect().toSet
    assert(got == expected,
      s"invalid-weight rows changed the draw: $got vs $expected")
  }

  test("weightedSample with FEWER valid rows than k still excludes " +
      "invalid-weight rows (the desc_nulls_last-only form leaked " +
      "them through both <= k filters when valid rows ran short)") {
    val rows = (Seq(("c", 1L, 2.0), ("c", 2L, 3.0)) ++ Seq(
      ("c", 101L, -5.0), ("c", 102L, 0.0), ("c", 103L, Double.NaN),
      ("d", 201L, Double.NaN)))
      .toDF("cls", "id", "wt")
    val got = Sampling.weightedSample(rows, "cls", "id", col("wt"), 5)
      .select($"cls", $"id").as[(String, Long)].collect().toSet
    assert(got == Set(("c", 1L), ("c", 2L)),
      s"expected only the two valid rows (and no 'd' row), got $got")
  }

  test("dsirSelect enriches the target distribution: a bimodal corpus " +
      "with a small science target selects science-vocab docs first") {
    val sci = "atoms orbit nuclei while electrons form chemical bonds"
    val chat = "lol gonna grab food later u coming or nah idk maybe"
    val docs = (1L to 200L).map { i =>
      // ids 1-20 are the labelled target; 21-110 science-like raw,
      // 111-200 chat-like raw — selection should prefer 21-110
      val (lab, txt) =
        if (i <= 20) ("tgt", s"$sci sample $i")
        else if (i <= 110) ("raw", s"$sci variant $i")
        else ("raw", s"$chat variant $i")
      (i, lab, txt)
    }.toDF("doc_id", "lab", "text")
    val sel = Sampling.dsirSelect(docs, "doc_id", "text",
        "lab = 'tgt'", buckets = 256, k = 50)
      .select($"doc_id").as[Long].collect().toSet
    assert(sel.size == 50)
    val sciPicked = sel.count(i => i <= 110)
    assert(sciPicked >= 45,
      s"expected science-vocab docs to dominate the draw, got $sciPicked/50")
  }

  test("dsirSelect target histogram: the r17-opt semi-join derivation " +
      "equals re-tokenizing the target slice (the removed second pass)") {
    import graft.functions.TextFunctions.{adjacentBigrams, wsTokens}
    import graft.functions.HashFunctions.md5Hash60
    val docs = (1L to 60L)
      .map(i => (i, if (i % 4 == 0) "en" else "xx",
        s"tok$i shared words ${"x " * (i % 5).toInt}tail"))
      .toDF("doc_id", "lang", "text")
    val buckets = 64
    def slice(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__tk", wsTokens($"text"))
      .filter(size($"__tk") >= 1)
      .select($"doc_id",
        explode(concat($"__tk", adjacentBigrams($"__tk"))).as("feat"))
      .select($"doc_id", (md5Hash60($"feat") % buckets).as("bucket"))
    // the removed form: tokenize the target slice directly
    val direct = slice(docs.filter($"lang" === "en"))
      .groupBy($"bucket").agg(count(lit(1)).as("ct"))
    // the shipped form: per-doc counts semi-joined to target ids
    val derived = slice(docs).groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("n"))
      .join(docs.filter($"lang" === "en").select($"doc_id"),
        Seq("doc_id"), "left_semi")
      .groupBy($"bucket").agg(sum($"n").cast("long").as("ct"))
    val d1 = direct.orderBy($"bucket").as[(Long, Long)].collect().toSeq
    val d2 = derived.orderBy($"bucket").as[(Long, Long)].collect().toSeq
    assert(d1 == d2, s"direct $d1 != derived $d2")
  }

  test("dsirSelect is deterministic, honors k, and returns the whole " +
      "corpus when k exceeds it") {
    val docs = (1L to 30L)
      .map(i => (i, if (i % 3 == 0) "en" else "xx", s"word$i common text"))
      .toDF("doc_id", "lang", "text")
    val a = Sampling.dsirSelect(docs, "doc_id", "text", "lang = 'en'",
      buckets = 64, k = 10).collect().toSeq
    val b = Sampling.dsirSelect(docs, "doc_id", "text", "lang = 'en'",
      buckets = 64, k = 10).collect().toSeq
    assert(a == b && a.size == 10)
    val all = Sampling.dsirSelect(docs, "doc_id", "text", "lang = 'en'",
      buckets = 64, k = 1000)
    assert(all.count() == 30)
    // best-key-first emission: keys are non-increasing
    val keys = all.select($"gkey_r").as[Double].collect()
    assert(keys.zip(keys.tail).forall { case (x, y) => x >= y })
  }

  test("dsirSelect reads the target predicate from the source columns: " +
      "a column named __tk selects as it does under another name") {
    val rows = (1L to 40L).map { i =>
      val tgt = i % 4 == 0
      (i, if (tgt) "tgt" else "raw",
        s"word$i common text ${if (tgt) "alpha beta" else "gamma delta"}")
    }
    def pick(cls: String): Seq[org.apache.spark.sql.Row] =
      Sampling.dsirSelect(rows.toDF("doc_id", cls, "text"), "doc_id", "text",
        s"$cls = 'tgt'", buckets = 64, k = 10).collect().toSeq
    val named = pick("lab")
    assert(named.size == 10)
    assert(pick("__tk") == named)
  }
}
