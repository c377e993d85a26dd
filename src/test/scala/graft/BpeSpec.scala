package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Reference greedy left-to-right merge fold (the Sennrich et al.
    * semantics the Column fold must match). */
  private def refApply(syms: Seq[String], l: String, r: String): Seq[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == l && x == r)
        acc.init :+ (l + r)
      else acc :+ x
    }

  private def sparkApply(syms: Seq[String], l: String,
      r: String): Seq[String] =
    Seq(Tuple1(syms)).toDF("syms")
      .select(Bpe.applyMergeExpr(col("syms"), l, r).as("m"))
      .as[Seq[String]].head()

  test("charSymbols splits to single characters with no empty symbols " +
    "(split keeps trailing empties under limit -1 — regression)") {
    val out = Seq("abc", "xy", "q").toDF("w")
      .select(Bpe.charSymbols(col("w")).as("s")).as[Seq[String]]
      .collect().toSeq
    assert(out == Seq(Seq("a", "b", "c"), Seq("x", "y"), Seq("q")))
  }

  test("applyMergeExpr is greedy left-to-right: odd runs merge " +
    "floor(n/2) times leftmost-first, merged symbols never re-pair") {
    val cases = Seq(
      (Seq("a", "a", "a", "a"), "a", "a"), // even run
      (Seq("a", "a", "a"), "a", "a"), // odd run
      (Seq("a", "a", "b"), "a", "b"), // merge right of a non-merge
      (Seq("b", "a", "a", "b"), "a", "b"), // one of two candidates
      (Seq("a", "b", "a", "b"), "a", "b"), // alternating
      (Seq("x", "y"), "a", "b")) // no occurrence
    cases.foreach { case (syms, l, r) =>
      assert(sparkApply(syms, l, r) == refApply(syms, l, r),
        s"mismatch on $syms merge ($l,$r)")
    }
    assert(sparkApply(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
  }

  test("learnMerges recovers a hand-computed trajectory with " +
    "lexicographic tie-break") {
    // corpus: 'abab' x3, 'cd' x3 -> pairs: (a,b)=6, (b,a)=3, (c,d)=3
    // merge1 = (a,b) 6. after: abab -> [ab, ab]; pairs (ab,ab)=3,
    // (c,d)=3 -> tie broken lexicographically: (ab,ab) < (c,d)
    val words = Seq(("abab", 3L), ("cd", 3L)).toDF("word", "cnt")
    val merges = Bpe.learnMerges(words, 3)
    assert(merges == Seq(("a", "b", 6L), ("ab", "ab", 3L),
      ("c", "d", 3L)))
  }

  test("wordFrequencies lowercases, strips non-letters, drops " +
    "single-char words") {
    val docs = Seq("The THE the x1x a b2", "cat, CAT!").toDF("text")
    val wf = Bpe.wordFrequencies(docs, "text")
      .orderBy(col("word")).as[(String, Long)].collect().toSeq
    assert(wf == Seq(("cat", 2L), ("the", 3L), ("xx", 1L)))
  }

  test("trajectoryOracleSql embeds each stashed merge exactly once " +
    "per level and re-derives argmax per level") {
    val sql = Bpe.trajectoryOracleSql("documents", "text",
      Seq(("e", "r", 10L), ("i", "n", 5L)))
    assert(sql.contains("';e;r;'") && sql.contains("';i;n;'"))
    assert(sql.contains("m1") && sql.contains("m2") && !sql.contains("m3 "))
    // the learned merges' counts must NOT appear: the oracle recomputes them
    assert(!sql.contains("10") && !sql.contains(" 5"))
  }
}
