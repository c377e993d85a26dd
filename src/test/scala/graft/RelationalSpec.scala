package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("surrogateKey is deterministic, contiguous and ordered by natural key") {
    val df = Seq("c", "a", "b").toDF("name")
    val keyed = Relational.surrogateKey(df, "K-", "sk", Seq(col("name")))
      .orderBy("sk_n")
      .select("sk", "name", "sk_n").as[(String, String, Long)].collect()
    assert(keyed.toSeq == Seq(("K-1", "a", 1L), ("K-2", "b", 2L), ("K-3", "c", 3L)))
  }

  test("unionDiagonal null-fills missing columns, keeps first frame's order") {
    val a = Seq((1L, "x")).toDF("id", "s")
    val b = Seq((2L, 3.5)).toDF("id", "d")
    val u = Relational.unionDiagonal(Seq(a, b)).orderBy("id")
    assert(u.columns.toSeq == Seq("id", "s", "d"))
    val rows = u.as[(Long, Option[String], Option[Double])].collect()
    assert(rows.toSeq == Seq((1L, Some("x"), None), (2L, None, Some(3.5))))
  }

  test("unpivotFlags melts wide one-hot columns to long form") {
    val wide = Seq((10L, 1, 0)).toDF("id", "f_a", "f_b")
    val long = Relational.unpivotFlags(wide, Seq("id"), Seq("f_a", "f_b"))
      .orderBy("variable").as[(Long, String, Int)].collect()
    assert(long.toSeq == Seq((10L, "f_a", 1), (10L, "f_b", 0)))
  }

  test("pkViolations finds duplicate keys and nothing else") {
    val df = Seq(1, 1, 2).toDF("k")
    val v = Relational.pkViolations(df, Seq("k")).as[(Int, Long)].collect()
    assert(v.toSeq == Seq((1, 2L)))
  }

  test("fkOrphans returns dangling child rows only") {
    val child = Seq((1, "a"), (99, "b")).toDF("fk", "payload")
    val parent = Seq(1, 2).toDF("pk")
    val orphans = Relational.fkOrphans(child, parent, Seq("fk" -> "pk"))
      .as[(Int, String)].collect()
    assert(orphans.toSeq == Seq((99, "b")))
  }

  test("saltedJoin equals a plain inner join on skewed keys") {
    val large = (1 to 100).map(i => (if (i <= 90) 1 else 2, s"row$i"))
      .toDF("k", "payload") // 90% of rows share key 1
    val small = Seq((1, "dim-one"), (2, "dim-two")).toDF("k", "label")
    val plain = large.join(small, "k")
    val salted = Relational.saltedJoin(large, small, "k", saltFactor = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "payload", "label").except(
      plain.select("k", "payload", "label")).isEmpty)
  }

  test("array_dot is SQL-callable after registration") {
    val got = spark.sql("SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) v")
      .as[Double].head()
    assert(got == 11.0)
  }

  test("top_k_pairs is SQL-callable as an aggregate") {
    Seq((0.1, 1L), (0.9, 2L), (0.5, 3L)).toDF("score", "id")
      .createOrReplaceTempView("scored_t")
    val got = spark.sql(
      "SELECT top_k_pairs(score, id, 2) AS top FROM scored_t")
      .selectExpr("transform(top, p -> p.id) AS ids")
      .as[Seq[Long]].head()
    assert(got == Seq(2L, 3L))
  }

  test("approx_count_distinct stays within 5% of exact on test data") {
    val li = graft.sources.Tables.load(spark, sf("sf0.01"), "lineitem")
    val row = li.agg(
      approx_count_distinct(col("l_orderkey")).as("a"),
      countDistinct(col("l_orderkey")).as("e")).head()
    val (a, e) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx=$a exact=$e")
  }

  test("when without otherwise yields NULL (reference P12 semantics)") {
    val df = Seq(0, 10).toDF("x")
      .select(when($"x" > 5, "big").as("label"))
    assert(df.as[Option[String]].collect().toSeq == Seq(None, Some("big")))
  }

  test("scd2Merge: closes changed rows, appends new versions, passes " +
      "history and unchanged/resent rows through") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dim = Seq(
      // key 1: has closed history + a current row that the batch changes
      (1L, "old", d("1990-01-01"), Option(d("1995-01-01")), false),
      (1L, "mid", d("1995-01-01"), None, true),
      // key 2: current row resent UNCHANGED in the batch
      (2L, "keep", d("1995-01-01"), None, true),
      // key 3: current row absent from the batch
      (3L, "stay", d("1995-01-01"), None, true)
    ).toDF("k", "seg", "valid_from", "valid_to", "is_current")
    val updates = Seq((1L, "new"), (2L, "keep"), (9L, "fresh"))
      .toDF("k", "seg")
    val got = Relational.scd2Merge(dim, updates, "k", Seq("seg"),
        to_date(lit("2000-06-01")))
      .orderBy($"k", $"valid_from")
      .as[(Long, String, java.sql.Date, Option[java.sql.Date], Boolean)]
      .collect().toSeq
    assert(got == Seq(
      (1L, "old", d("1990-01-01"), Some(d("1995-01-01")), false),
      (1L, "mid", d("1995-01-01"), Some(d("2000-06-01")), false),
      (1L, "new", d("2000-06-01"), None, true),
      (2L, "keep", d("1995-01-01"), None, true),
      (3L, "stay", d("1995-01-01"), None, true),
      (9L, "fresh", d("2000-06-01"), None, true)))
  }

  test("snapshotDiff classifies added/removed/changed, null-safely, " +
      "and drops the unchanged bulk") {
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (5L, Option.empty[String])).toDF("k", "v")
    val cur = Seq((2L, Some("b")), (3L, Some("x")), (4L, Some("d")),
      (5L, Option.empty[String])).toDF("k", "v")
    val got = Relational.snapshotDiff(old, cur, "k", Seq("v"))
      .orderBy($"k").as[(Long, String)].collect().toSeq
    // 2 unchanged and 5 (null == null, null-safe) do NOT appear
    assert(got == Seq((1L, "removed"), (3L, "changed"), (4L, "added")))
    // null -> value IS a change
    val g2 = Relational.snapshotDiff(
      Seq((7L, Option.empty[String])).toDF("k", "v"),
      Seq((7L, Some("now"))).toDF("k", "v"), "k", Seq("v"))
      .as[(Long, String)].collect().toSeq
    assert(g2 == Seq((7L, "changed")))
    intercept[IllegalArgumentException] {
      Relational.snapshotDiff(old, cur, "k", Seq.empty) }
  }

  test("scd2Merge rejects an empty tracked-column list") {
    val dim = Seq((1L, "a", java.sql.Date.valueOf("1995-01-01"),
      Option.empty[java.sql.Date], true))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    intercept[IllegalArgumentException] {
      Relational.scd2Merge(dim, Seq((1L, "b")).toDF("k", "seg"), "k",
        Seq.empty, to_date(lit("2000-06-01")))
    }
  }
}
