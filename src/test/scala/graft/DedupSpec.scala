package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
    (4L, "completely different content about spark query engines at scale"),
    (5L, "the quick brown fox jumps over the lazy dog again and again ")
    // ^ trailing space: NOT an exact dup of 1, but tokenizes identically
  ).toDF("doc_id", "text")

  test("exactKeepFirst keeps lowest id per identical text") {
    val kept = Dedup.exactKeepFirst(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("exactKeepFirst carries unorderable payload columns and skips " +
      "NULL ids, like the removed min(id)-over-key window did") {
    // map payload: min(struct(all cols)) would throw AnalysisException
    // (maps are unorderable); min_by only orders on the id
    val withMap = docs.withColumn("meta",
      map(lit("k"), col("doc_id").cast("string")))
    val kept = Dedup.exactKeepFirst(withMap, col("text"), col("doc_id"))
    assert(kept.columns.toSeq == Seq("doc_id", "text", "meta"))
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L))
    // NULL ids: skipped within a group; an all-NULL-id group drops
    // entirely (the window form's id === min(id) filter did both)
    val nullIds = Seq(
      (Some(7L), "a"), (None, "a"),  // NULL loses to 7
      (None, "b")                    // all-NULL group drops
    ).toDF("doc_id", "text")
    val keptIds = Dedup.exactKeepFirst(nullIds, col("text"), col("doc_id"))
      .select("doc_id", "text").as[(Option[Long], String)].collect().toSet
    assert(keptIds == Set((Some(7L), "a")))
  }

  test("minhash signatures are equal for identical docs") {
    val p = Dedup.MinHashParams()
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", p)
      .orderBy("doc_id").collect()
    val s1 = sigs(0).toSeq.drop(1)
    val s2 = sigs(1).toSeq.drop(1)
    assert(s1 == s2)
  }

  test("minHashNearDupPairs finds token-identical near-dups, not exact dups") {
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    // doc 5 tokenizes identically to doc 1 -> signatures match exactly
    assert(pairs.exists { case (a, b, est) => a == 1L && b == 5L && est == 1.0 })
    // doc 2 is an EXACT dup of 1: collapsed by the prefilter, not reported
    assert(!pairs.exists { case (a, b, _) => a == 2L || b == 2L })
    // unrelated doc 4 pairs with nothing
    assert(!pairs.exists { case (a, b, _) => a == 4L || b == 4L })
  }

  test("bucket cap bounds pair volume and overflow is reported") {
    // 8 token-identical (whitespace-variant) docs -> one hot bucket
    val hot = (1L to 8L).map(i => (i, "same tokens here" + (" " * i.toInt)))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashNearDupPairs(hot, "doc_id", "text",
      maxBucket = 3)
    // only the 3 lowest ids survive per bucket -> C(3,2) pairs
    assert(capped.count() == 3)
    val overflow = Dedup.minHashBucketOverflow(hot, "doc_id", "text",
      maxBucket = 3)
    assert(overflow.count() > 0)
  }

  test("connectedComponents: min label reaches across chains; " +
      "singletons label themselves") {
    val ids = (1L to 7L).toDF("doc_id")
    // chain 1-2-3 (via transitive edges), pair 5-6, singletons 4 and 7
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(ids, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents converges on a 20-link chain and throws " +
      "when maxIters is below the chain length") {
    // a 20-link chain needs 20 rounds to carry label 0 to its far end
    val n = 20L
    val ids = (0L to n).toDF("doc_id")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Graph.connectedComponents(ids, "doc_id", pairs,
      maxIters = 25).as[(Long, Long)].collect().toMap
    assert(labels.size == n + 1 && labels.values.toSet == Set(0L))
    // a short budget throws instead of returning non-minimal labels
    intercept[IllegalStateException] {
      Graph.connectedComponents(ids, "doc_id", pairs, maxIters = 8)
        .collect()
    }
  }

  test("connectedComponents converges on string ids (non-numeric labels)") {
    val ids = Seq("apple", "banana", "cherry", "date", "elder")
      .toDF("doc_id")
    val pairs = Seq(("banana", "cherry"), ("apple", "banana"))
      .toDF("id_a", "id_b")
    val got = Graph.connectedComponents(ids, "doc_id", pairs)
      .as[(String, String)].collect().toMap
    assert(got == Map("apple" -> "apple", "banana" -> "apple",
      "cherry" -> "apple", "date" -> "date", "elder" -> "elder"))
  }

  test("connectedComponents with no edges labels every id itself") {
    val ids = Seq(10L, 20L).toDF("doc_id")
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Graph.connectedComponents(ids, "doc_id", none)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 20L -> 20L))
  }

  test("simHash64 identical docs share signatures; near-dups are close") {
    val sigs = Dedup.simHash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
  }

  test("simHash banding recall is exact for Hamming <= maxHamming " +
      "(vs brute-force all-pairs)") {
    // 40 docs drawn from two clusters plus noise: enough band
    // collisions to exercise the bucket join, small enough to
    // brute-force the ground truth
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val many = (1L to 40L).map { i =>
      val words = base.split(" ").toSeq ++ Seq(s"w${i % 7}", s"v${i % 3}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val p = Dedup.SimHashParams()
    val sigs = Dedup.simHash64(many, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val truth = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= p.maxHamming
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simHashNearDupPairs(many, "doc_id", "text", p)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == truth) // pigeonhole: no pair within the ball is missed
  }

  test("simHash bucket cap bounds pair volume and overflow is reported") {
    // token-identical docs -> identical signatures -> one hot bucket
    val hot = (1L to 8L).map(i => (i, "same tokens here" + (" " * i.toInt)))
      .toDF("doc_id", "text")
    val p = Dedup.SimHashParams(maxBucket = 3)
    val capped = Dedup.simHashNearDupPairs(hot, "doc_id", "text", p)
    assert(capped.count() == 3) // C(3,2) pairs from the 3 lowest ids
    assert(Dedup.simHashBucketOverflow(hot, "doc_id", "text", p).count() > 0)
    // recall-guarantee precondition is enforced
    intercept[IllegalArgumentException] {
      Dedup.SimHashParams(bands = 4, maxHamming = 4)
    }
  }

  test("incremental dedup: exact filter and band screen drop known docs") {
    import graft.functions.TextFunctions.md5Fingerprint
    val history = docs.filter(col("doc_id") <= 2)
    val batch = docs.filter(col("doc_id") >= 3)
      .union(Seq((9L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text")) // exact dup of historical doc 1
    val seenFp = history.select(md5Fingerprint(col("text")).as("md5_fp"))
    val keptExact = Dedup.incrementalExactNew(batch, "text", seenFp)
      .select("doc_id").as[Long].collect().sorted
    // 9 (byte-identical) AND 5 (whitespace variant — fingerprints are
    // whitespace-normalized) drop against historical doc 1
    assert(keptExact.toSeq == Seq(3L, 4L))
    val seenBands = Dedup.bandInventory(history, "doc_id", "text")
    // add a SECOND copy of doc 9's text: both copies must drop (the
    // screen keys by text digest, not by the min-id representative)
    val batchWithCopies = batch.union(
      Seq((10L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val keptNear = Dedup.incrementalNearNew(batchWithCopies, "doc_id",
        "text", seenBands)
      .select("doc_id").as[Long].collect().sorted
    // token-identical docs 5, 9, 10 share every band with doc 1 -> drop;
    // unrelated doc 4 must survive
    assert(!keptNear.contains(5L) && !keptNear.contains(9L) &&
      !keptNear.contains(10L))
    assert(keptNear.contains(4L))
    // parameter drift between inventory and screen must be loud
    intercept[IllegalStateException] {
      Dedup.incrementalNearNew(batchWithCopies, "doc_id", "text",
        seenBands, Dedup.MinHashParams(k = 12, bands = 4))
    }
  }

  test("incrementalNearAdjudicated: adjudicated drops are a subset of " +
      "screen drops; guard still throws on params drift") {
    val history = docs.filter(col("doc_id") <= 2)
    val batch = docs.filter(col("doc_id") >= 3)
      .union(Seq((9L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val sigInv = Dedup.signatureInventory(history, "doc_id", "text")
    val keptAdj = Dedup.incrementalNearAdjudicated(batch, "doc_id", "text",
        sigInv)
      .select("doc_id").as[Long].collect().toSet
    // token-identical docs 5, 9 adjudicate at est 1.0 -> drop;
    // unrelated doc 4 survives
    assert(!keptAdj.contains(5L) && !keptAdj.contains(9L))
    assert(keptAdj.contains(4L))
    // precision only ever KEEPS more than the shared-bucket screen
    val keptScreen = Dedup.incrementalNearNew(batch, "doc_id", "text",
        Dedup.bandInventory(history, "doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(keptScreen.subsetOf(keptAdj))
    intercept[IllegalStateException] {
      Dedup.incrementalNearAdjudicated(batch, "doc_id", "text", sigInv,
        Dedup.MinHashParams(k = 12, bands = 4))
    }
  }

  test("simHashNearDupPairs finds identical-signature pairs at hamming 0") {
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    // (64-bit signatures: exact and token-identical dups still collide)
    // docs 1, 2 (exact) and 5 (token-identical) share a signature
    assert(pairs.contains((1L, 2L, 0L)))
    assert(pairs.contains((1L, 5L, 0L)))
    // unrelated doc 4 is far in hamming space
    assert(!pairs.exists { case (a, b, _) => a == 4L || b == 4L })
  }

  test("stripBoilerplate removes cross-doc repeated lines, keeps order, " +
      "empties fully-boilerplate docs") {
    val pages = Seq(
      (1L, "COOKIE NOTICE\nunique alpha prose\n\nCOPYRIGHT FOOTER"),
      (2L, "COOKIE NOTICE\nother beta content\n\nmore beta\nCOPYRIGHT FOOTER"),
      (3L, "COOKIE NOTICE\nCOPYRIGHT FOOTER"), // nothing but boilerplate
      (4L, "standalone gamma page")
    ).toDF("doc_id", "text")
    val bp = Dedup.boilerplateLines(pages, "doc_id", "text")
      .select("line").as[String].collect().toSet
    // blank separator lines shared by docs 1 and 2 are NOT boilerplate
    assert(bp == Set("COOKIE NOTICE", "COPYRIGHT FOOTER"))
    val cleaned = Dedup.stripBoilerplate(pages, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "unique alpha prose\n") // blank line survives
    assert(cleaned(2L) == "other beta content\n\nmore beta") // order kept
    assert(cleaned(3L) == "")
    assert(cleaned(4L) == "standalone gamma page")
  }

  test("ngramJaccard: identical pair scores 1.0, near-dup scores high") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, pairs, "doc_id", "text", 3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.7 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) < 0.3)
  }

  test("contaminationScores: copied doc scores 1.0, unrelated near 0, " +
      "decontaminate drops only the contaminated doc") {
    val ev = Seq(
      (100L, "what is the capital of france paris is the answer here"),
      (101L, "solve two plus two equals four in this benchmark item")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "what is the capital of france paris is the answer here"), // copy
      (2L, "totally unrelated training prose about distributed shuffles"),
      (3L, "solve two plus two equals four in this benchmark item " +
        "padded with lots of extra novel training words beyond the item")
    ).toDF("doc_id", "text")
    val scores = Dedup.contaminationScores(train, ev, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, ng, nm, f) => id -> ((ng, nm, f)) }.toMap
    assert(scores(1L)._3 == 1.0) // verbatim eval copy
    assert(scores(2L)._3 == 0.0) // disjoint vocab
    // doc 3 contains eval item 101 verbatim plus novel padding:
    // partially contaminated, strictly between
    assert(scores(3L)._3 > 0.3 && scores(3L)._3 < 1.0)
    val kept = Dedup.decontaminate(train, ev, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    val report = Dedup.contaminationReport(train, ev, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
      .map { case (e, n, m) => e -> ((n, m)) }.toMap
    // both eval items are hit by exactly one training doc each
    assert(report(100L)._1 == 1L && report(101L)._1 == 1L)
  }

  test("crossCorpusNearDupPairs links twins across corpora only") {
    val a = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val b = Seq(
      // token-identical to a's doc 1 (trailing whitespace variant)
      (10L, "alpha beta gamma delta epsilon zeta  "),
      (11L, "seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val links = Dedup.crossCorpusNearDupPairs(a, b, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    assert(links.exists { case (x, y, est) =>
      x == 1L && y == 10L && est == 1.0 })
    assert(!links.exists { case (x, y, _) => x == 2L || y == 11L })
  }

  test("crossCorpusNearDupPairs: a hot band on BOTH sides stays " +
      "capped — candidate volume is maxBucket², not n_a × n_b") {
    // whitespace variants tokenize identically but survive the
    // exact-dedup prefilter (distinct raw texts) -> every doc of a
    // side lands in the same buckets: the skewed-corpus worst case
    def side(ids: Range) = ids.map(i =>
      (i.toLong, "hot shard skew test tokens" + (" " * (i % 7 + 1))))
      .toDF("doc_id", "text")
    val links = Dedup.crossCorpusNearDupPairs(
      side(1 to 20), side(100 to 119), "doc_id", "text", maxBucket = 3)
    // each side capped at its 3 lowest ids per bucket -> <= 9 pairs
    assert(links.count() <= 9 && links.count() > 0)
    val ids = links.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(ids.forall { case (x, y) => x <= 3L && y <= 102L })
  }

  // ---- exactSubstringDedup (Lee et al. ExactSubstr) ----------------

  test("exactSubstringDedup: short docs pass through unchanged") {
    val docs = Seq((1L, "tiny doc"), (2L, "seven tokens is not enough here no"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringDedup(docs, "doc_id", "text", l = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 0L, "tiny doc"),
      (2L, 7L, 0L, "seven tokens is not enough here no")))
  }

  test("exactSubstringDedup removes a cross-doc duplicated span from " +
      "the later doc only") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x x2 a b c d e f g h y z")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringDedup(docs, "doc_id", "text", l = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    // doc 1 holds the global-first occurrence of "a b c d e f g h":
    // untouched; doc 2 loses exactly that 8-token span
    assert(got == Seq(
      (1L, 10L, 0L, "a b c d e f g h i j"),
      (2L, 12L, 8L, "x x2 y z")))
  }

  test("exactSubstringDedup removes within-doc repetition, keeping " +
      "the first occurrence") {
    val docs = Seq(
      (1L, "p q r s t u v w p q r s t u v w end")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringDedup(docs, "doc_id", "text", l = 8)
      .as[(Long, Long, Long, String)].head()
    assert(got == ((1L, 17L, 8L, "p q r s t u v w end")))
  }

  // ---- duplicateSpans (maximal multi-length spans) -------------------

  test("duplicateSpans merges OVERLAPPING seed windows into one " +
      "maximal span at full length") {
    // a 12-token span shared verbatim: 5 overlapping 8-token seed
    // windows per occurrence must merge to ONE span of 12 tokens
    val shared = "a b c d e f g h i j k l"
    val docs = Seq(
      (1L, s"$shared tail1 tail2"),
      (2L, s"pre1 pre2 pre3 $shared")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", l = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 12L, 12L, 5L),
      (2L, 4L, 15L, 12L, 5L)))
  }

  test("duplicateSpans keeps DISJOINT duplicated spans as separate " +
      "rows and merges back-to-back ones") {
    val s1 = "a b c d e f g h" // 8 tokens
    val s2 = "q r s t u v w x" // 8 tokens
    val docs = Seq(
      (1L, s"$s1 GAP1 GAP2 $s2"),      // spans at 1-8 and 11-18
      (2L, s"$s1 $s2"),                 // back-to-back: merges to 1-16
      (3L, s"$s1 other tokens here"),
      (4L, s"$s2 more filler words")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", l = 8)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.filter(_._1 == 1L) ==
      Seq((1L, 1L, 8L, 8L), (1L, 11L, 18L, 8L)),
      s"doc 1 must report two disjoint spans: $got")
    assert(got.filter(_._1 == 2L) == Seq((2L, 1L, 16L, 16L)),
      s"doc 2's adjacent spans must merge: $got")
  }

  test("duplicateSpans firstOnly=true reproduces the removal view: " +
      "the globally-first occurrence is not a span") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f g h")
    ).toDF("doc_id", "text")
    val audit = Dedup.duplicateSpans(docs, "doc_id", "text", l = 8)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(audit == Seq(1L, 2L), "audit view reports BOTH occurrences")
    val removal = Dedup.duplicateSpans(docs, "doc_id", "text", l = 8,
        firstOnly = true)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(removal == Seq((2L, 3L, 10L, 8L, 1L)),
      s"removal view reports only the non-first occurrence: $removal")
  }

  test("prefixFilterCandidates is COMPLETE against brute force at " +
      "every threshold (the prefix theorem, checked not assumed) and " +
      "prefixFilterVerify agrees with brute-force Jaccard exactly") {
    import org.apache.spark.sql.functions._
    // 60 docs over a seeded pool: doc i draws 12 words starting at a
    // deterministic offset with stride, so neighbors overlap heavily
    // and distant docs barely — a full spread of true Jaccards
    val pool = (0 until 40).map(w => s"w$w")
    val corpus = (0L until 60L).map { i =>
      val words = (0 until 12).map(j => pool(((i * 3 + j * (1 + (i % 2))) % 40).toInt))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = graft.operators.Dedup
      .prefixFilterSets(corpus, "doc_id", "text", 3)
    val collected = sets
      .select($"doc_id", $"toks", $"sz").as[(Long, Seq[String], Long)]
      .collect().map(r => (r._1, r._2.toSet)).sortBy(_._1)
    def bruteAt(t: Double): Map[(Long, Long), Double] = (for {
      a <- collected; b <- collected if a._1 < b._1
      i = (a._2 & b._2).size
      j = i.toDouble / (a._2.size + b._2.size - i)
      if j >= t
    } yield ((a._1, b._1), j)).toMap
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val truth = bruteAt(t)
      val cands = graft.operators.Dedup
        .prefixFilterCandidates(sets, "doc_id", t)
        .as[(Long, Long)].collect().toSet
      val missedCand = truth.keySet -- cands
      assert(missedCand.isEmpty,
        s"t=$t: candidates missed true pairs $missedCand")
      val got = graft.operators.Dedup
        .prefixFilterVerify(sets, graft.operators.Dedup
          .prefixFilterCandidates(sets, "doc_id", t), "doc_id", t)
        .select($"id_a", $"id_b", $"jac")
        .as[(Long, Long, Double)].collect()
        .map(r => ((r._1, r._2), r._3)).toMap
      assert(got.keySet == truth.keySet,
        s"t=$t: verified pairs diverge from brute force")
      got.foreach { case (k, j) =>
        assert(math.abs(j - truth(k)) < 1e-12, s"t=$t $k: $j vs ${truth(k)}")
      }
      // the filter must filter: fewer candidates than all-pairs
      assert(cands.size < 60 * 59 / 2, s"t=$t: candidate set degenerate")
    }
  }

  test("the shared capped-bucket skeleton ignores physical layout: 1 and " +
      "64 shuffle partitions (AQE off) return identical rows for every " +
      "dedup path, with the bucket cap binding") {
    // ids 1-8 tokenize identically (whitespace variants survive the
    // exact-dedup prefilter) -> one hot bucket per band; 20-23 share
    // token spans for the ExactSubstr window paths
    val hot = (1L to 8L).map(i => (i, "same tokens here" + (" " * i.toInt)))
    val spans = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (21L, "one two alpha beta gamma delta epsilon three four five"),
      (22L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (23L, "six seven eight nine ten one two alpha beta gamma"))
    val fixture = (hot ++ spans).toDF("doc_id", "text")
    val (a, b) = (fixture.filter($"doc_id" % 2 === 0),
      fixture.filter($"doc_id" % 2 === 1))
    val sp = Dedup.SimHashParams(maxBucket = 3)
    assert(Dedup.minHashBucketOverflow(fixture, "doc_id", "text",
      maxBucket = 3).count() > 0)
    assert(Dedup.simHashBucketOverflow(fixture, "doc_id", "text", sp)
      .count() > 0)
    def runAll(): Seq[Seq[String]] = Seq(
      Dedup.minHashNearDupPairs(fixture, "doc_id", "text", maxBucket = 3),
      Dedup.lshCandidatePairs(fixture, "doc_id", "text", maxBucket = 3),
      Dedup.crossCorpusNearDupPairs(a, b, "doc_id", "text", maxBucket = 3),
      Dedup.simHashNearDupPairs(fixture, "doc_id", "text", sp),
      Dedup.exactSubstringDedup(fixture, "doc_id", "text", l = 4),
      Dedup.duplicateSpans(fixture, "doc_id", "text", l = 4)
    ).map(_.collect().toSeq.map(_.toString).sorted)
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
