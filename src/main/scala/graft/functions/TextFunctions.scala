package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

import graft.plans.TopBigramFraction

/** Scalar string functions re-expressing the reference's string surface
  * (SURVEY.md §2.5) plus the text-analysis extensions, all as
  * codegen-friendly built-in compositions — no UDFs anywhere.
  *
  * Oracle-parity notes: each helper has an exact DuckDB-SQL twin built
  * from the same primitives, so results hash-match bit-for-bit.
  */
object TextFunctions {

  /** 'hello world' -> 'Hello world'. Reference F6: Python
    * `lambda s: s[0].upper() + s[1:]` (`scripts/build_db.py:581,766`).
    * NOT `initcap` (which also lowercases the tail). */
  def capitalizeFirst(c: Column): Column =
    concat(upper(c.substr(lit(1), lit(1))), c.substr(lit(2), length(c)))

  /** 'stages' -> 'Stage' — capitalize first, drop last char. Reference F6
    * de-pluralizing variant `s[0].upper() + s[1:-1]`
    * (`scripts/build_db.py:770,969`). */
  def dePluralizeCapitalize(c: Column): Column =
    concat(upper(c.substr(lit(1), lit(1))),
      c.substr(lit(2), greatest(length(c) - 2, lit(0))))

  /** Replace only the FIRST occurrence of `find` — Polars `str.replace`
    * semantics (`scripts/build_db.py:232`), which Spark's regexp_replace
    * (replace-all) does not provide. Built from locate/substr so the
    * DuckDB oracle can mirror it exactly. */
  def replaceFirst(c: Column, find: String, repl: String): Column = {
    val pos = instr(c, find)
    when(pos > 0,
      concat(c.substr(lit(1), pos - 1), lit(repl),
        c.substr(pos + find.length, length(c))))
      .otherwise(c)
  }

  /** Whitespace word tokens (leading/trailing space trimmed first). */
  def wsTokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count as BIGINT. */
  def wsTokenCount(c: Column): Column = size(wsTokens(c)).cast("long")

  /** Adjacent-token bigram strings ("w1 w2") from a token-array
    * column — one in-row zip of the array with its own tail (narrow,
    * codegen'd, no join); empty for arrays shorter than 2. Shared by
    * the CMS frequency key (x63), the vocabulary-coverage unit (x71),
    * and any future n-gram-keyed governance, so the pairing
    * convention lives in exactly one place. */
  def adjacentBigrams(tokens: Column): Column =
    when(size(tokens) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(tokens, lit(1), size(tokens) - 1),
        slice(tokens, lit(2), size(tokens) - 1),
        (a, b) => concat(a, lit(" "), b)))

  /** Most-frequent-adjacent-bigram fraction of a token array, computed
    * in-row by the native `graft.plans.TopBigramFraction` expression —
    * zero shuffles vs the explode/groupBy composition. */
  def topBigramFrac(tokens: Column): Column =
    GraftBridge.column(TopBigramFraction(GraftBridge.expression(tokens)))

  /** In-row n-gram repetition signals (struct of `top_frac`,
    * `dup_frac`) via the native `graft.plans.NgramRepetition`
    * expression — the full Gopher repetition rule set without
    * re-shuffling the corpus' gram strings. */
  def ngramRepetition(tokens: Column, n: Int): Column =
    GraftBridge.column(
      graft.plans.NgramRepetition(GraftBridge.expression(tokens), n))

  /** BPE-ish token count: runs of letters, runs of digits, and single
    * other non-space chars each count as one token — the classic
    * pre-tokenizer regex shape. */
  def bpeishTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Number of tokens of `c` that appear in `words`. */
  def tokensIn(c: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(wsTokens(c), t => array_contains(arr, t))).cast("long")
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * Identical in DuckDB: md5(regexp_replace(lower(trim(t)),'\s+',' ','g')). */
  def md5Fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Character n-gram shingles (distinct), positions 1..len-n+1.
    * Matches DuckDB `list_distinct(list_transform(range(1, length(t)-n+2),
    * i -> substr(t,i,n)))` on sizes (element order differs; only set
    * semantics are relied on). */
  def charShingles(c: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => c.substr(i, lit(n))))

  /** Sennrich-style BPE encode of a single word against an ordered
    * merges table: start from characters, then apply each merge rank
    * in order as ONE exhaustive left-to-right pass (the original BPE
    * algorithm). Token state is a wrapped string — every token is
    * `|tok|`, adjacent tokens abut as `||` — so merging pair (a, b) is
    * the literal replacement `|a||b|` → `|ab|`: the pipes delimit
    * complete tokens (a pair can never match inside a longer token),
    * and because each match consumes BOTH wrappers, consecutive
    * occurrences never share a boundary character — left-to-right
    * non-overlapping `replace` (identical in Java and DuckDB) IS the
    * exhaustive merge pass, including runs like `lll` → `ll,l`.
    *
    * Returns the token ARRAY. Precondition: the word must not contain
    * `|` (strip or remap it upstream); merges apply in the given order
    * and each pair's parts must be tokens producible by earlier ranks
    * (chars or prior merges), as in any BPE merges file. */
  def bpeTokens(word: Column, merges: Seq[(String, String)]): Column = {
    val wrapped = regexp_replace(word, "(.)", "|$1|")
    val merged = merges.foldLeft(wrapped) { case (s, (a, b)) =>
      replace(s, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    split(btrim(merged, lit("|")), "\\|\\|")
  }

  /** DuckDB twin of [[bpeTokens]] COUNT over SQL expression `w`,
    * generated from the same merges table so the chain cannot drift:
    * `len(string_split(trim(<chain>, '|'), '||'))`. */
  def bpeTokenCountSql(w: String, merges: Seq[(String, String)]): String =
    s"len(${bpeTokensSql(w, merges)})"

  /** DuckDB twin of [[bpeTokens]] (the token LIST) over SQL expression
    * `w`, generated from the same merges table so the chain cannot
    * drift. */
  def bpeTokensSql(w: String, merges: Seq[(String, String)]): String = {
    val init = s"regexp_replace($w, '(.)', '|\\1|', 'g')"
    val chain = merges.foldLeft(init) { case (s, (a, b)) =>
      s"replace($s, '|$a||$b|', '|$a$b|')"
    }
    s"string_split(trim($chain, '|'), '||')"
  }

  /** Word n-gram shingles (distinct) over an ALREADY-MATERIALIZED
    * whitespace-token array column — the standard unit for text
    * near-dup MinHash (~5x fewer rows than char shingles after
    * explode). Documents shorter than n tokens shingle to `fallback`
    * (the whole trimmed text). DuckDB twin:
    * `CASE WHEN len(tk) >= n THEN list_transform(range(1, len(tk)-n+2),
    *  i -> tk[i] || ' ' || ... ) ELSE [trim(t)] END`.
    * Performance-critical: if `tk` is an inline `split(...)` expression,
    * every `element_at` inside the transform lambda re-evaluates the
    * split per element (quadratic recompute — measured 8.9s vs 0.5s on
    * 5k docs). Callers on hot paths must project the token array into a
    * column first and pass the bound attribute. */
  def wordShinglesFromTokens(tk: Column, fallback: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(tk) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(tk, i + k)): _*))
    array_distinct(when(size(tk) >= n, grams).otherwise(array(fallback)))
  }
}
