package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions._
import graft.operators.Relational

/** Property-based invariants (SURVEY.md §5.2): surrogate-key density,
  * diagonal-union column algebra, unpivot→pivot round trip,
  * replace-first semantics, rolling-hash model equivalence.
  * (ScalaCheck generators driven directly with fixed seeds — the
  * scalatest/scalacheck bridge artifact is not on the offline
  * classpath.) */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Run `f` over `n` deterministic samples of `gen`. */
  private def forAllSamples[A](gen: Gen[A], n: Int = 10)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def minSuccessful(n: Int): Int = n // kept for call-site symmetry

  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    forAllSamples(gen, n)(f)

  private val word: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  /** Micro-precision timestamp at `halfSecs` half-second steps past a
    * fixed epoch — shared by the sharded-equals-plain properties so
    * exact-gap seams and tied timestamps stay reachable. */
  private def halfSecTs(halfSecs: Long): java.sql.Timestamp = {
    val us = 1700000000000000L + halfSecs * 500000L
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  test("exactKeepFirst's aggregate election equals the window model " +
      "on random skewed key distributions") {
    // the r17 de-windowing's semantics contract: for unique ids, the
    // min-struct aggregate must keep EXACTLY the rows the removed
    // min(id)-over-key window kept — checked on corpora where a few
    // hot keys absorb most rows (the distribution the rewrite exists
    // for)
    val rows: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(5, 60)
      nKeys <- Gen.choose(1, 5)
      keys <- Gen.listOfN(n, Gen.choose(0, nKeys - 1).map(k => s"key$k"))
    } yield keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
    forAll(rows, minSuccessful(10)) { (rs: List[(Long, String)]) =>
      val df = rs.toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .exactKeepFirst(df, col("text"), col("doc_id"))
        .as[(Long, String)].collect().toSet
      val expect = rs.groupBy(_._2).values.map(_.minBy(_._1)).toSet
      assert(got == expect)
    }
  }

  test("cleanKeepBest's min-struct election equals the " +
      "(quality desc, id asc) rank-1 window model") {
    // the election in isolation (the full pipeline is gate-covered):
    // min(struct(-q, id)) over random clusters with duplicate quality
    // values must pick the row the removed row_number window picked
    val rows: Gen[List[(Long, Long, Double)]] = for {
      n <- Gen.choose(4, 50)
      cl <- Gen.listOfN(n, Gen.choose(0L, 2L))
      qs <- Gen.listOfN(n, Gen.choose(0, 5).map(_ / 5.0))
    } yield cl.zip(qs).zipWithIndex.map { case ((c, q), i) =>
      (i.toLong, c, q)
    }
    forAll(rows, minSuccessful(10)) { (rs: List[(Long, Long, Double)]) =>
      val df = rs.toDF("id", "cluster_id", "__q")
      val got = df.groupBy(col("cluster_id"))
        .agg(min(struct(negate(col("__q")).as("__nq"),
          col("id").as("__id"))).as("__w"))
        .select(col("__w").getField("__id").as("id"))
        .as[Long].collect().toSet
      val expect = rs.groupBy(_._2).values
        .map(_.minBy(r => (-r._3, r._1))).map(_._1).toSet
      assert(got == expect)
    }
  }

  test("surrogate keys are contiguous 1..n over any distinct value set") {
    forAll(Gen.nonEmptyListOf(word), minSuccessful(10)) { (xs: List[String]) =>
      val df = xs.distinct.toDF("v")
      val keyed = Relational.surrogateKey(df, "K-", "sk", Seq(col("v")))
      val ns = keyed.select("sk_n").as[Long].collect().sorted
      assert(ns.toSeq == (1L to xs.distinct.length).toSeq)
    }
  }

  test("unionDiagonal: rows add, columns union in first-seen order") {
    forAll(Gen.zip(Gen.choose(0, 5), Gen.choose(0, 5)), minSuccessful(10)) { case (n1: Int, n2: Int) =>
      val a = (0 until n1).map(i => (i.toLong, s"a$i")).toDF("id", "x")
      val b = (0 until n2).map(i => (i.toLong, i * 1.5)).toDF("id", "y")
      val u = Relational.unionDiagonal(Seq(a, b))
      assert(u.count() == n1 + n2)
      assert(u.columns.toSeq == Seq("id", "x", "y"))
    }
  }

  test("unpivot then pivot round-trips one-hot flag frames") {
    forAll(Gen.listOfN(4, Gen.oneOf(0, 1)), minSuccessful(10)) { (flags: List[Int]) =>
      val df = Seq((1L, flags(0), flags(1)), (2L, flags(2), flags(3)))
        .toDF("id", "f_a", "f_b")
      val long = Relational.unpivotFlags(df, Seq("id"), Seq("f_a", "f_b"))
      val back = long.groupBy("id").pivot("variable", Seq("f_a", "f_b"))
        .agg(first("value")).orderBy("id")
      val orig = df.orderBy("id").collect().toSeq
      assert(back.collect().toSeq == orig)
    }
  }

  test("replaceFirst: identity without match; removes exactly one occurrence") {
    forAll(word, minSuccessful(20)) { (s: String) =>
      val df = Seq(s).toDF("s")
      val noMatch = df.select(replaceFirst(col("s"), "@", "#")).as[String].head()
      assert(noMatch == s)
      val withPrefix = Seq(s"@$s@").toDF("s")
        .select(replaceFirst(col("s"), "@", "")).as[String].head()
      assert(withPrefix == s"$s@")
    }
  }

  test("CorpusKeep equals the composed quality/language filter on " +
      "arbitrary text (incl. whitespace edges)") {
    import graft.operators.TextAnalysis
    // texts of random words joined by random whitespace runs, plus
    // leading/trailing space sometimes — the alias-substitution twin
    // must agree with the composed expressions on every one
    val sep = Gen.oneOf(" ", "  ", "\t", " \t ")
    val text: Gen[String] = for {
      words <- Gen.listOf(Gen.oneOf(word, Gen.const("the"),
        Gen.const("und3r_score"), Gen.const("la")))
      seps <- Gen.listOfN(math.max(words.length - 1, 0), sep)
      pre <- Gen.oneOf("", " ", "  ")
      post <- Gen.oneOf("", " ")
    } yield pre + words.zipAll(seps, "", "").map(t => t._1 + t._2).mkString + post
    forAll(Gen.listOfN(12, text), minSuccessful(5)) { (texts: List[String]) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val minQ = 0.3
      val langs = Seq("en", "und")
      val gotNative = df
        .filter(TextAnalysis.corpusKeep(col("text"), minQ, langs))
        .select("doc_id")
        .as[Long].collect().toSet
      val toks = df.select(col("doc_id"), col("text"),
        wsTokens(col("text")).as("tk"))
      val gotComposed = toks.filter(
          TextAnalysis.qualityScoreFromTokens(col("text"), col("tk")) >= minQ &&
          TextAnalysis.langIdFromTokens(col("tk")).isin(langs: _*))
        .select("doc_id").as[Long].collect().toSet
      assert(gotNative == gotComposed, s"texts=$texts")
    }
  }

  test("int8 quantization error is bounded by scale/2 for every element") {
    import graft.functions.VectorFunctions._
    val vec: Gen[Seq[Float]] = Gen.nonEmptyListOf(
      Gen.chooseNum(-100f, 100f)).map(_.toSeq)
    forAll(Gen.listOfN(8, vec), minSuccessful(5)) { (vs: List[Seq[Float]]) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
        .withColumn("scale", int8Scale(col("v")))
        .withColumn("q", quantizeInt8(col("v"), col("scale")))
      df.select(col("v"), col("scale"), col("q"))
        .as[(Seq[Float], Double, Seq[Long])].collect().foreach {
          case (v, scale, q) =>
            assert(q.forall(x => x >= -127 && x <= 127))
            if (scale > 0) v.zip(q).foreach { case (orig, qi) =>
              val err = math.abs(orig.toDouble - qi * scale)
              assert(err <= scale / 2 + 1e-9,
                s"v=$orig q=$qi scale=$scale err=$err")
            } else assert(q.forall(_ == 0L))
        }
    }
  }

  test("rolling_hash equals the scala fold model for arbitrary ASCII") {
    def model(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 131 + (b & 0xff)) % 2147483647L)
    forAll(Gen.listOf(Gen.asciiPrintableChar).map(_.mkString), minSuccessful(20)) {
      (s: String) =>
        val got = Seq(s).toDF("s").select(expr("rolling_hash(s)")).as[Long].head()
        assert(got == model(s))
    }
  }

  test("zValue equals the bit-interleave model and is injective on " +
      "the key domain") {
    import graft.operators.Layout
    def model(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val pair = Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L))
    forAll(Gen.listOfN(40, pair), minSuccessful(5)) { (ps: List[(Long, Long)]) =>
      val got = ps.toDF("x", "y")
        .select(Layout.zValue(col("x"), col("y"), 8).as("z"))
        .as[Long].collect().toSeq
      assert(got == ps.map { case (x, y) => model(x, y, 8) })
      // injectivity: distinct (x, y) pairs never share a z-value
      assert(ps.distinct.length == got.distinct.length)
    }
  }

  test("exactQuantiles matches the sort-based rank model on random " +
      "multisets") {
    import graft.operators.Stats
    val values = Gen.nonEmptyListOf(Gen.choose(0, 20).map(_.toDouble))
    forAll(values, minSuccessful(8)) { (vs: List[Double]) =>
      val df = vs.map(("g", _)).toDF("g", "v")
      val got = Stats.exactQuantiles(df, "g", "v", Seq(25, 50, 75))
        .as[(String, Double, Double, Double, Long)].head()
      val sorted = vs.sorted
      def kth(p: Int): Double =
        sorted((p * vs.length + 99) / 100 - 1) // type-1: ceil(p*n/100)th
      assert((got._2, got._3, got._4, got._5) ==
        ((kth(25), kth(50), kth(75), vs.length.toLong)),
        s"values=$vs got=$got")
    }
  }

  test("budgetSelect keep-set is exactly the maximal prefix of the " +
      "(quality desc, id) order within budget") {
    import graft.operators.Corpus
    val row = Gen.zip(Gen.choose(0.0, 1.0).map(q =>
      math.rint(q * 10) / 10), Gen.choose(1L, 50L))
    forAll(Gen.nonEmptyListOf(row), minSuccessful(8)) {
      (rows: List[(Double, Long)]) =>
        val withIds = rows.zipWithIndex.map { case ((q, t), i) =>
          (i.toLong, q, t) }
        val budget = rows.map(_._2).sum / 2
        val got = Corpus.budgetSelect(withIds.toDF("id", "q", "n_tok"),
            "id", "q", "n_tok", budget)
          .filter(col("keep")).select(col("id")).as[Long]
          .collect().toSet
        val model = withIds.sortBy { case (id, q, _) => (-q, id) }
          .scanLeft(((-1L, 0.0, 0L), 0L)) { case ((_, acc), r) =>
            (r, acc + r._3) }
          .drop(1).takeWhile(_._2 <= budget).map(_._1._1).toSet
        assert(got == model, s"rows=$withIds budget=$budget")
    }
  }

  test("rangeJoinWithin matches the naive all-pairs model: bucket " +
      "replication loses no pair, tolerance boundary is inclusive") {
    import graft.operators.Temporal
    // ts offsets cluster near multiples of the tolerance so pairs
    // straddle bucket boundaries; ids unique per row
    val row = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 3600L))
    forAll(Gen.listOfN(12, row), minSuccessful(10)) {
      (rs: List[(Long, Long)]) =>
        val rows = rs.zipWithIndex.map { case ((k, off), i) =>
          (k, i.toLong + 100L,
            new java.sql.Timestamp((1700000000L + off) * 1000L), off)
        }
        val df = rows.map { case (k, id, ts, _) => (k, id, ts) }
          .toDF("user_id", "event_id", "ts")
        val got = Temporal
          .rangeJoinWithin(df, "user_id", "event_id", "ts", 600)
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
        val model = (for {
          a <- rows; b <- rows
          if a._1 == b._1 && a._2 < b._2 &&
            math.abs(a._4 - b._4) <= 600
        } yield (a._2, b._2)).toSet
        assert(got == model, s"rows=$rows")
    }
  }

  test("streamingSessionize (batch form) matches the naive gap-merge " +
      "model: counts, sums, and session boundaries") {
    import graft.streaming.Streams
    val row = Gen.zip(Gen.choose(1L, 2L), Gen.choose(0L, 7200L))
    forAll(Gen.nonEmptyListOf(row).map(_.take(10)), minSuccessful(10)) {
      (rs: List[(Long, Long)]) =>
        val rows = rs.map { case (k, off) =>
          (k, new java.sql.Timestamp((1700000000L + off) * 1000L), 1.0)
        }
        val got = Streams.streamingSessionize(
            rows.toDF("user_id", "ts", "value"),
            "user_id", "ts", "value", "1800 seconds")
          .select($"user_id", $"session_start", $"session_end",
            $"n_events")
          .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
          .collect().toSeq.sortBy(r => (r._1, r._2.getTime))
        // naive model: sort per key, split where gap > 1800s — an
        // event at EXACTLY prev + gap MERGES (Spark merges a window
        // whose start equals the session end; SessionizeSpec pins
        // this empirically); end = last event + gap. The generator's
        // integer-second offsets hit exact-gap spacings, so the
        // boundary here is load-bearing, not theoretical.
        val model = rows.groupBy(_._1).toSeq.flatMap { case (k, es) =>
          val ts = es.map(_._2.getTime).sorted
          val sessions = ts.foldLeft(List.empty[List[Long]]) {
            case (acc, t) => acc match {
              case cur :: rest if t - cur.head <= 1800000L =>
                (t :: cur) :: rest
              case _ => List(t) :: acc
            }
          }.map(_.reverse).reverse
          sessions.map(sess => (k, new java.sql.Timestamp(sess.head),
            new java.sql.Timestamp(sess.last + 1800000L),
            sess.length.toLong))
        }.sortBy(r => (r._1, r._2.getTime))
        assert(got == model, s"rows=$rows")
    }
  }

  test("batchSessionsSharded equals batchSessions for random event " +
      "streams, microsecond offsets, and random bucket widths") {
    // the segmented form's contract: whatever (gap, bucket) pair the
    // generator draws — including buckets much smaller than the gap,
    // which maximizes seam decisions and empty-bucket skips — the
    // two-level seam pass must reproduce the per-user window form
    // bit-for-bit. Micro offsets make exact-gap seam pairs and tied
    // timestamps reachable.
    import graft.streaming.Sessionize
    val row = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 400L))
    val cases = for {
      rs <- Gen.nonEmptyListOf(row).map(_.take(24))
      bucketSecs <- Gen.oneOf(1L, 2L, 7L, 30L, 86400L)
    } yield (rs, bucketSecs)
    forAll(cases, minSuccessful(10)) {
      case (rs: List[(Long, Long)], bucketSecs: Long) =>
        val rows = rs.zipWithIndex.map { case ((k, halfSecs), i) =>
          (i.toLong, halfSecTs(halfSecs), k, i * 0.25)
        }
        val df = rows.toDF("event_id", "ts", "user_id", "value")
        def canon(d: org.apache.spark.sql.DataFrame) =
          d.select($"user_id", $"sess_id", $"session_start",
              $"session_end", $"n_events", $"sum_value")
            .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp,
              Long, Double)].collect().toSeq.sorted
        val plain = canon(Sessionize.batchSessions(df, gapSeconds = 7))
        val sharded = canon(
          Sessionize.batchSessionsSharded(df, gapSeconds = 7, bucketSecs))
        assert(sharded == plain,
          s"bucketSeconds=$bucketSecs rows=$rows\nsharded=$sharded\nplain=$plain")
    }
  }

  test("asOfJoinLeft matches the naive per-left-row model: latest " +
      "right at-or-before, ties toward largest order, NULL payload " +
      "fields survive verbatim") {
    import graft.operators.Temporal
    // small domains force key collisions, ts ties (left==right and
    // right==right), and no-match lefts; (k, t, ord) deduped so the
    // tie-break order is total
    val rightRow = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 10L),
      Gen.choose(0L, 3L), Gen.option(Gen.choose(0, 9)),
      Gen.option(Gen.oneOf("p", "q")))
    val leftRow = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 10L))
    val frames = Gen.zip(
      Gen.listOfN(8, rightRow).map(
        _.distinctBy { case (k, t, o, _, _) => (k, t, o) }),
      Gen.nonEmptyListOf(leftRow).map(_.take(8)))
    forAll(frames, minSuccessful(10)) {
      case (rs: List[(Long, Long, Long, Option[Int], Option[String])],
            ls: List[(Long, Long)]) =>
        val lsTagged = ls.zipWithIndex.map { case ((k, t), i) =>
          (k, t, s"L$i") }
        val right = rs.toDF("k", "ts", "ord", "v", "w")
        val left = lsTagged.toDF("k", "ts", "tag")
        val got = Temporal
          .asOfJoinLeft(left, right, "k", "ts", "ord", Seq("v", "w"))
          .as[(Long, Long, String, Option[Int], Option[String])]
          .collect().toSeq.sortBy(_._3)
        val model = lsTagged.map { case (k, t, tag) =>
          val cand = rs.filter(r => r._1 == k && r._2 <= t)
          if (cand.isEmpty) (k, t, tag, None, None)
          else {
            val best = cand.maxBy(r => (r._2, r._3))
            (k, t, tag, best._4, best._5)
          }
        }.sortBy(_._3)
        assert(got == model, s"right=$rs left=$lsTagged")
    }
  }

  test("asOfJoinLeftSharded equals asOfJoinLeft for random frames, " +
      "micro-timed ties, NULL payload fields, and random bucket widths") {
    import graft.operators.Temporal
    // same collision-heavy domains as the naive-model case above, but
    // with real timestamps (the sharded form buckets on unix_micros)
    // at half-second steps so exact-edge and tied-ts seams occur
    val rightRow = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 40L),
      Gen.choose(0L, 3L), Gen.option(Gen.choose(0, 9)),
      Gen.option(Gen.oneOf("p", "q")))
    val leftRow = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 40L))
    val frames = for {
      rs <- Gen.listOfN(8, rightRow).map(
        _.distinctBy { case (k, t, o, _, _) => (k, t, o) })
      ls <- Gen.nonEmptyListOf(leftRow).map(_.take(8))
      bucketSecs <- Gen.oneOf(1L, 2L, 5L, 30L, 86400L)
    } yield (rs, ls, bucketSecs)
    forAll(frames, minSuccessful(10)) {
      case (rs: List[(Long, Long, Long, Option[Int], Option[String])],
            ls: List[(Long, Long)], bucketSecs: Long) =>
        val right = rs.map { case (k, t, o, v, w) =>
            (k, halfSecTs(t), o, v, w) }
          .toDF("k", "ts", "ord", "v", "w")
        val left = ls.zipWithIndex
          .map { case ((k, t), i) => (k, halfSecTs(t), s"L$i") }
          .toDF("k", "ts", "tag")
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.as[(Long, java.sql.Timestamp, String, Option[Int],
            Option[String])].collect().toSeq.sortBy(_._3)
        val plain = canon(Temporal
          .asOfJoinLeft(left, right, "k", "ts", "ord", Seq("v", "w")))
        val sharded = canon(Temporal.asOfJoinLeftSharded(left, right,
          "k", "ts", "ord", Seq("v", "w"), bucketSeconds = bucketSecs))
        assert(sharded == plain,
          s"bucketSeconds=$bucketSecs right=$rs left=$ls")
    }
  }

  test("temperature samples are NESTED in alpha: a lower temperature " +
      "exponent keeps a subset of a higher one, for any class skew") {
    import graft.operators.Sampling
    val classSizes: Gen[List[Int]] = Gen.choose(2, 4)
      .flatMap(k => Gen.listOfN(k, Gen.choose(5, 120)))
    forAll(classSizes, minSuccessful(6)) { (sizes: List[Int]) =>
      val rows = sizes.zipWithIndex.flatMap { case (n, c) =>
        (0 until n).map(j => (s"c$c", c * 100000L + j)) }.toDF("cls", "id")
      def kept(alpha: Double): Set[Long] =
        Sampling.temperatureSample(rows, "cls", "id", alpha)
          .select($"id").as[Long].collect().toSet
      val (lo, mid, hi) = (kept(0.3), kept(0.7), kept(1.0))
      assert(lo.subsetOf(mid), s"alpha=0.3 not nested in 0.7 for $sizes")
      assert(mid.subsetOf(hi), s"alpha=0.7 not nested in 1.0 for $sizes")
      assert(hi.size == sizes.sum, "alpha=1 must keep everything")
    }
  }

  test("rrfFuse is invariant to list ORDER (scores modulo 6-dp " +
      "rounding, membership exactly)") {
    import graft.operators.Retrieval
    val ranked: Gen[List[(Long, Long)]] = Gen.choose(1, 8).flatMap(n =>
      Gen.pick(n, 1L to 20L).map(_.toList.zipWithIndex
        .map { case (id, i) => (id, i + 1L) }))
    forAll(Gen.zip(ranked, ranked, ranked), minSuccessful(6)) {
      case (l1, l2, l3) =>
        def fuse(ls: Seq[(String, List[(Long, Long)])]): Map[Long, Double] =
          Retrieval.rrfFuse(
              ls.map { case (t, l) => t -> l.toDF("id", "rank") }, 60, 50)
            .select($"id", $"rrf_r").as[(Long, Double)].collect().toMap
        val a = fuse(Seq("x" -> l1, "y" -> l2, "z" -> l3))
        val b = fuse(Seq("z" -> l3, "x" -> l1, "y" -> l2))
        assert(a.keySet == b.keySet)
        a.foreach { case (id, s) =>
          assert(math.abs(s - b(id)) < 2e-6,
            s"doc $id fused to $s vs ${b(id)} under reordered lists") }
    }
  }

  test("snapshotDiff of a table against itself is empty; against an " +
      "arbitrary other snapshot, classes partition the key union") {
    import graft.operators.Relational
    val snap: Gen[List[(Long, String)]] = Gen.choose(1, 15).flatMap(n =>
      Gen.pick(n, 1L to 25L).flatMap(ids =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(vs =>
          ids.toList.zip(vs))))
    forAll(Gen.zip(snap, snap), minSuccessful(6)) { case (o, n) =>
      val od = o.toDF("k", "v")
      val nd = n.toDF("k", "v")
      assert(Relational.snapshotDiff(od, od, "k", Seq("v")).count() == 0)
      val diff = Relational.snapshotDiff(od, nd, "k", Seq("v"))
        .as[(Long, String)].collect().toMap
      val om = o.toMap; val nm = n.toMap
      (om.keySet ++ nm.keySet).foreach { k =>
        val expect =
          if (!om.contains(k)) Some("added")
          else if (!nm.contains(k)) Some("removed")
          else if (om(k) != nm(k)) Some("changed")
          else None
        assert(diff.get(k) == expect, s"key $k: got ${diff.get(k)}")
      }
    }
  }

  test("QuantileSketch invariants hold for arbitrary double streams: " +
      "mass conservation, rank-error bound, monotone quantiles, " +
      "merge-vs-direct equivalence of n and mass") {
    val stream: Gen[List[Double]] = Gen.choose(50, 2000).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1e6, 1e6)))
    forAll(stream, minSuccessful(10)) { (xs: List[Double]) =>
      val sk = new graft.plans.QuantileSketch(32)
      xs.foreach(sk.update)
      assert(sk.n == xs.length && sk.totalWeight == xs.length)
      val sorted = xs.sorted
      // sketch rank of the estimate within a generous k=32 envelope
      for (p <- Seq(0.1, 0.5, 0.9)) {
        val est = sk.quantile(p)
        val rank = sorted.count(_ <= est).toDouble / xs.length
        assert(math.abs(rank - p) <= 0.25,
          s"p=$p rank=$rank for n=${xs.length}")
      }
      val qs = (0 to 20).map(i => sk.quantile(i / 20.0))
      assert(qs.sliding(2).forall(w => w(0) <= w(1)))
      // split-merge preserves n and mass exactly
      val (l, r) = xs.splitAt(xs.length / 2)
      val a = new graft.plans.QuantileSketch(32)
      val b = new graft.plans.QuantileSketch(32)
      l.foreach(a.update); r.foreach(b.update)
      a.merge(b)
      assert(a.n == xs.length && a.totalWeight == xs.length)
    }
  }

  test("weightedSample inclusion is monotone in weight for arbitrary " +
      "weight maps: raising one excluded row's weight high enough " +
      "pulls it in, and the rest of the draw stays deterministic") {
    val weights: Gen[List[Double]] = Gen.choose(30, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1.0, 20.0)))
    forAll(weights, minSuccessful(5)) { (ws: List[Double]) =>
      val rows = ws.zipWithIndex
        .map { case (w, i) => ("c", i.toLong, w) }.toDF("cls", "id", "wt")
      val k = 5
      val got = graft.operators.Sampling
        .weightedSample(rows, "cls", "id", col("wt"), k)
        .select($"id").as[Long].collect().toSet
      assert(got.size == k)
      val out = ws.indices.map(_.toLong).toSet -- got
      assert(out.nonEmpty)
      // boost one excluded row far beyond the pool: E-S priority
      // ln(u)/w -> 0 as w -> inf, the maximum possible, so it enters
      val boosted = out.head
      val rows2 = ws.zipWithIndex.map { case (w, i) =>
        ("c", i.toLong, if (i.toLong == boosted) 1e9 else w)
      }.toDF("cls", "id", "wt")
      val got2 = graft.operators.Sampling
        .weightedSample(rows2, "cls", "id", col("wt"), k)
        .select($"id").as[Long].collect().toSet
      assert(got2.contains(boosted),
        s"boosting $boosted to 1e9 must pull it into the sample")
    }
  }

  test("prefix-filter candidates are complete for arbitrary corpora " +
      "and thresholds (the prefix theorem fuzzed, not just the " +
      "DedupSpec fixture)") {
    val doc: Gen[String] = Gen.choose(4, 15)
      .flatMap(n => Gen.listOfN(n,
        Gen.oneOf((0 until 25).map(i => s"t$i"))).map(_.mkString(" ")))
    val corpus: Gen[List[String]] = Gen.choose(15, 40)
      .flatMap(n => Gen.listOfN(n, doc))
    forAll(Gen.zip(corpus, Gen.oneOf(0.4, 0.6, 0.8)), minSuccessful(5)) {
      case (texts: List[String], t: Double) =>
        val df = texts.zipWithIndex.map { case (x, i) => (i.toLong, x) }
          .toDF("doc_id", "text")
        val sets = graft.operators.Dedup
          .prefixFilterSets(df, "doc_id", "text", 3)
        val collected = sets.select($"doc_id", $"toks")
          .as[(Long, Seq[String])].collect()
          .map(r => (r._1, r._2.toSet))
        val truth = (for {
          a <- collected; b <- collected if a._1 < b._1
          i = (a._2 & b._2).size
          j = i.toDouble / (a._2.size + b._2.size - i)
          if j >= t
        } yield (a._1, b._1)).toSet
        val cands = graft.operators.Dedup
          .prefixFilterCandidates(sets, "doc_id", t)
          .as[(Long, Long)].collect().toSet
        assert((truth -- cands).isEmpty,
          s"t=$t: missed ${(truth -- cands).size} true pairs")
    }
  }

  test("paragraphDedup invariants on random corpora: idempotent, " +
      "doc-count preserving, kept text is a subsequence of the " +
      "original, first occurrence always survives") {
    import graft.operators.Corpus
    val para: Gen[String] = Gen.oneOf(
      Gen.const(""),                               // blank separator
      Gen.const("123 !!"),                         // empty-key row
      Gen.choose(1, 5).flatMap(n =>                // word paragraphs
        Gen.listOfN(n, word).map(_.mkString(" "))))
    val doc: Gen[String] =
      Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, para).map(_.mkString("\n")))
    val corpus: Gen[List[String]] = Gen.choose(2, 8)
      .flatMap(n => Gen.listOfN(n, doc))
    forAll(corpus, minSuccessful(8)) { (docsList: List[String]) =>
      val df = docsList.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = Corpus.paragraphDedup(df, "doc_id", "text")
      val rows = once.orderBy($"doc_id")
        .as[(Long, String, Long, Long)].collect()
      // every doc survives; n_kept <= n_paras
      assert(rows.length == docsList.length)
      rows.foreach { case (id, kept, np, nk) =>
        assert(nk <= np)
        // kept paragraphs are a subsequence of the original's
        val orig = docsList(id.toInt).split("\n", -1)
        val keptPs = if (kept.isEmpty && nk == 0) Array.empty[String]
          else kept.split("\n", -1)
        var j = 0
        keptPs.foreach { p =>
          val found = orig.indexOf(p, j)
          assert(found >= 0, s"'$p' not in order in doc $id")
          j = found + 1
        }
      }
      // idempotence: re-deduping the output changes nothing
      val again = Corpus.paragraphDedup(
          once.select($"doc_id", $"text_dedup".as("text")),
          "doc_id", "text")
        .orderBy($"doc_id").as[(Long, String, Long, Long)].collect()
      rows.zip(again).foreach { case ((id, t1, _, k1), (_, t2, _, k2)) =>
        assert(t1 == t2, s"doc $id text not idempotent")
        // a fully-eliminated doc (k1 == 0, text_dedup == "") re-splits
        // into ONE empty-key paragraph that is kept unconditionally,
        // so its count legitimately reads 1 on the second pass — the
        // invariant is text stability plus count stability for any
        // doc that kept something
        if (k1 > 0) assert(k1 == k2, s"doc $id count not idempotent")
        else assert(k2 <= 1, s"doc $id empty re-split kept $k2 paras")
      }
    }
  }

  test("WET in-payload WARC/1.0 markers quarantine as frame_ok=false " +
      "without corrupting well-framed neighbors") {
    import graft.sources.Warc
    // Warc.scala's framing caveat, proven rather than design-argued:
    // the lineSep scan TEARS a record whose payload contains the
    // version line, and the claim is that every torn fragment
    // surfaces frame_ok=false (Content-Length can no longer land on
    // CRLF padding) while every well-framed record in the same file
    // parses exactly as if the torn one were absent. Generator
    // plants the marker in prose positions — start / middle / end,
    // bare or CRLF-wrapped (the worst case: the marker then looks
    // byte-identical to a real record boundary). Out of scope by
    // design: a payload embedding a COMPLETE well-formed record
    // (version line + headers + matching Content-Length) is
    // indistinguishable from a real record without length-honoring
    // framing — Warc.scala documents that escape hatch.
    def rec(uri: String, text: String): String = {
      val n = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      "WARC/1.0\r\n" +
        "WARC-Type: conversion\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: $n\r\n" +
        "\r\n" + text + "\r\n\r\n"
    }
    val line: Gen[String] = Gen.choose(1, 4)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val cleanText: Gen[String] = for {
      ls <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, line))
      sep <- Gen.oneOf("\n", "\r\n")
    } yield ls.mkString(sep)
    val marker: Gen[String] = Gen.oneOf(
      "\r\nWARC/1.0\r\n", " WARC/1.0 ", "WARC/1.0",
      "\r\nWARC/1.0", "WARC/1.0\r\n")
    val markedText: Gen[String] = for {
      base <- cleanText
      m <- marker
      pos <- Gen.oneOf(0, 1, 2) // start / middle / end
    } yield pos match {
      case 0 => m + base
      case 1 =>
        val cut = base.length / 2
        base.substring(0, cut) + m + base.substring(cut)
      case 2 => base + m
    }
    val docs: Gen[List[(String, Boolean)]] = for {
      n <- Gen.choose(3, 8)
      flags <- Gen.listOfN(n, Gen.oneOf(true, false, false))
      texts <- Gen.sequence[List[String], String](
        flags.map(m => if (m) markedText else cleanText))
    } yield texts.zip(flags)
    forAll(docs, minSuccessful(8)) { (ds: List[(String, Boolean)]) =>
      val dirPath = java.nio.file.Files.createTempDirectory("wetmark")
      val dir = dirPath.toString
      try {
      // hand-concatenated records (the WarcSpec idiom): Content-Length
      // is the FULL payload's byte count, marker included — exactly
      // what a writer that never inspects payloads would emit
      val recs = ds.zipWithIndex.map { case ((text, _), i) =>
        rec(s"https://m$i.example.test/", text)
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "part-0.warc.wet"), recs.mkString)
      val back = Warc.readWet(spark, dir)
        .select("uri", "text", "frame_ok")
        .as[(Option[String], Option[String], Boolean)].collect()
      val okByUri = back.collect { case (Some(u), t, ok) => u -> (t, ok) }
        .groupBy(_._1)
      ds.zipWithIndex.foreach { case ((text, marked), i) =>
        val uri = s"https://m$i.example.test/"
        val rows = okByUri.getOrElse(uri, Array.empty).map(_._2)
        assert(rows.length == 1, s"uri $uri must surface exactly once")
        val (got, ok) = rows.head
        if (marked)
          assert(!ok, s"torn record $uri must be frame_ok=false " +
            s"(payload='$text', parsed='$got')")
        else {
          assert(ok, s"clean neighbor $uri must stay frame_ok=true")
          assert(got.contains(text), s"clean neighbor $uri text drifted")
        }
      }
      // every extra chunk the tear produced (headerless payload
      // remainders) must ALSO be quarantined — nothing frame_ok=true
      // beyond the clean records
      val nTrue = back.count(_._3)
      val nClean = ds.count(!_._2)
      assert(nTrue == nClean,
        s"frame_ok=true rows ($nTrue) must equal clean records ($nClean)")
      } finally {
        // per-iteration fixture dir — delete it (deepest-first) or the
        // suite leaks a temp tree on every forAll iteration; the walk
        // stream itself must close or it leaks directory handles
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(dirPath)
        try walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }
  }
}
