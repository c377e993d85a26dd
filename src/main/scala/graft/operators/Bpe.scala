package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions.wsTokens

/** Distributed BPE merge learning — tokenizer vocabulary induction
  * (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
  * Rare Words with Subword Units"): iteratively find the most
  * frequent adjacent symbol pair in the corpus and merge it, starting
  * from characters. The x29 family APPLIES a BPE-ish tokenizer; this
  * is the step that LEARNS one from the corpus itself — the op every
  * from-scratch pretraining pipeline runs before anything tokenizes.
  *
  * Scale shape (the classic BPE factorization): the corpus is scanned
  * ONCE to build the word-frequency table; every learning iteration
  * runs over that vocabulary, which is orders of magnitude smaller
  * than the corpus (100 TB of text is maybe 10^8 distinct normalized
  * words — one executor-friendly table). Per iteration: one
  * pair-explode + keyed sum (shuffle rows bounded by the number of
  * DISTINCT pairs, not corpus size), one single-row `limit(1)`
  * collect for the argmax (the only driver traffic), and a narrow
  * per-row greedy fold applying the merge. The vocabulary is
  * persisted per round and the previous round's frame is consumed by
  * exactly one successor, so lineage grows linearly in the merge
  * count (contrast Graph.pageRank's two-consumer rounds, which need
  * localCheckpoint truncation).
  *
  * Determinism contract: ties on the pair count break lexicographically
  * on (left, right) — same total order the DuckDB oracle's
  * `ORDER BY n DESC, l, r LIMIT 1` applies, so the learned trajectory
  * is engine-independent. The greedy left-to-right fold of
  * [[applyMergeExpr]] is equivalent to the oracle's
  * replace-to-fixpoint on the `;`-delimited representation: each
  * replace pass merges a non-overlapping prefix-greedy subset and the
  * fixpoint reaches exactly the fold's result (BpeSpec pins the
  * equivalence against a reference fold on adversarial shapes).
  */
object Bpe {

  /** Normalized word-frequency table from a document frame: whitespace
    * tokens, lowercased, stripped to [a-z], length >= 2 (a one-char
    * word has no pair to count). Columns: word, cnt. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(wsTokens(col(textCol))).as("tok"))
      .select(regexp_replace(lower(col("tok")), "[^a-z]", "").as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("cnt"))

  /** Character split that never emits empty symbols: the break point
    * must have a character on BOTH sides (Spark's `split` runs Java
    * split with limit -1, so `""` or `(?!^)` would KEEP the trailing
    * empty string — measured as a phantom `('e','')` merge 2). */
  def charSymbols(wordCol: Column): Column =
    split(wordCol, "(?<=.)(?=.)")

  /** Greedy left-to-right application of one merge (l, r) -> l+r over
    * a symbol array, as a pure fold: merging consumes the pair, and
    * the merged symbol never re-pairs with the element that produced
    * it in the same pass — exactly reference BPE's single-scan
    * semantics. */
  def applyMergeExpr(symsCol: Column, l: String, r: String): Column =
    aggregate(symsCol,
      array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Learn `nMerges` merges over a (word, cnt) vocabulary. Returns the
    * trajectory: (left, right, pairCount) in rank order. */
  def learnMerges(words: DataFrame, nMerges: Int): Seq[(String, String, Long)] = {
    var cur = words
      .select(col("cnt"), charSymbols(col("word")).as("syms"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = Seq.newBuilder[(String, String, Long)]
    try {
      (1 to nMerges).foreach { _ =>
        val top = cur
          // fully-merged words (one symbol) have no pairs — and MUST
          // be filtered before the sequence() below, whose start>stop
          // form would count descending [1,0] indices, not nothing
          .filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r")))).as("p"))
          .select(col("p.l"), col("p.r"), col("cnt"))
          .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1)
          .collect()
        require(top.nonEmpty, "vocabulary has no adjacent pairs left")
        val (l, r, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((l, r, n))
        val next = cur
          .select(col("cnt"), applyMergeExpr(col("syms"), l, r).as("syms"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before releasing the parent
        cur.unpersist()
        cur = next
      }
      out.result()
    } finally cur.unpersist()
  }

  /** DuckDB twin of [[wordFrequencies]] + char split + pair counting +
    * merge application, as chained CTEs: level j recomputes the pair
    * argmax over the vocabulary with merges 1..j-1 applied (each
    * application a recursive-CTE replace-to-fixpoint over the
    * `;`-delimited symbol string), so the oracle RE-DERIVES the whole
    * trajectory — the learned merges only drive the applications, and
    * a wrong learned merge at any level diverges that level's argmax.
    */
  def trajectoryOracleSql(table: String, textExpr: String,
      merges: Seq[(String, String, Long)]): String = {
    val base =
      s"""WITH RECURSIVE w0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT regexp_replace(lower(t), '[^a-z]', '', 'g') AS word
         |    FROM (SELECT unnest(string_split_regex(trim($textExpr), '\\s+')) AS t
         |          FROM $table))
         |  WHERE len(word) >= 2 GROUP BY word),
         |f0 AS (
         |  SELECT word, ';' || regexp_replace(word, '(.)', '\\1;', 'g') AS w
         |  FROM w0)""".stripMargin
    val levels = merges.zipWithIndex.map { case ((l, r, _), i) =>
      val j = i + 1
      val pat = s";$l;$r;"
      val rep = s";$l$r;"
      s"""p$j AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (
         |    SELECT w0.cnt, string_split(trim(f${j - 1}.w, ';'), ';') AS syms
         |    FROM f${j - 1} JOIN w0 USING (word)) s,
         |    unnest(range(1, len(syms))) AS u(i)
         |  GROUP BY 1, 2),
         |m$j AS (SELECT l, r, n FROM p$j ORDER BY n DESC, l, r LIMIT 1),
         |a$j AS (
         |  SELECT word, w FROM f${j - 1}
         |  UNION
         |  SELECT word, replace(w, '$pat', '$rep') FROM a$j
         |  WHERE replace(w, '$pat', '$rep') <> w),
         |f$j AS (
         |  SELECT word, w FROM a$j
         |  WHERE replace(w, '$pat', '$rep') = w)""".stripMargin
    }
    val selects = merges.indices.map { i =>
      val j = i + 1
      s"SELECT CAST($j AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"l || r AS merged, n AS pair_count FROM m$j"
    }
    (base +: levels).mkString(",\n") + "\n" +
      selects.mkString("\nUNION ALL ") + "\nORDER BY merge_rank"
  }
}
