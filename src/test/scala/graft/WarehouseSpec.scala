package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.TestJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.catalog.Warehouse
import graft.catalog.Warehouse.{ConstraintViolation, FkEdge, TableMeta}
import graft.operators.Relational
import graft.sources.Tables

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def loadStar(): Unit = {
    Warehouse.clear()
    val dir = sf()
    assert(Warehouse.load(spark, Tables.load(spark, dir, "orders"),
      TableMeta("orders", pk = Seq("o_orderkey"))).isEmpty)
    // note: synthetic lineitem has NO unique (orderkey, linenumber) pair,
    // so it registers FK-only — the PK validator catching that is
    // covered by the bad-data test below
    assert(Warehouse.load(spark, Tables.load(spark, dir, "lineitem"),
      TableMeta("lineitem",
        fks = Seq(FkEdge(Seq("l_orderkey"), "orders", Seq("o_orderkey")))))
      .isEmpty)
  }

  test("load registers tables and validates PK/FK cleanly on valid data") {
    loadStar()
    assert(spark.table("lineitem").count() > 0)
  }

  test("load reports violations on bad data") {
    loadStar()
    val dupes = Seq((1L, "x"), (1L, "y"), (999999L, "z")).toDF("l_orderkey", "v")
    val viol = Warehouse.load(spark, dupes,
      TableMeta("bad_child", pk = Seq("l_orderkey"),
        fks = Seq(FkEdge(Seq("l_orderkey"), "orders", Seq("o_orderkey")))))
    assert(viol.exists(v => v.kind == "PRIMARY KEY" && v.count == 1))
    assert(viol.exists(v => v.kind == "FOREIGN KEY" && v.count >= 1))
  }

  /** The checks as separate counts, one job set per check: the form
    * the fused check in `load` replaced. */
  private def perCheck(df: DataFrame, m: TableMeta): Seq[ConstraintViolation] = {
    val pk =
      if (m.pk.isEmpty) Nil
      else Seq(("PRIMARY KEY", m.pk.mkString(","),
        Relational.pkViolations(df, m.pk).count()))
    val fks = m.fks.map(fk => ("FOREIGN KEY",
      s"${fk.cols.mkString(",")} -> ${fk.refTable}",
      Relational.fkOrphans(df, spark.table(fk.refTable),
        fk.cols.zip(fk.refCols)).count()))
    (pk ++ fks).collect { case (kind, detail, n) if n > 0 =>
      ConstraintViolation(m.name, kind, detail, n)
    }
  }

  test("the fused check returns exactly the per-check violations") {
    Warehouse.clear()
    Warehouse.load(spark, Seq(1L, 2L, 3L).toDF("id"),
      TableMeta("fc_one", pk = Seq("id")))
    Warehouse.load(spark, Seq((1L, 1), (1L, 2), (2L, 1)).toDF("a", "b"),
      TableMeta("fc_two", pk = Seq("a", "b")))
    // composite PK (k, v) with two duplicate groups; orphans in the
    // single-column FK (9, 8) and the composite FK ((3,5), (2,2));
    // NULL-FK rows exempt from each FK; one FK with no orphans
    val child = Seq[(Long, String, Option[Long], Option[Long], Option[Int])](
      (1L, "x", Some(1L), Some(1L), Some(1)),
      (1L, "x", Some(2L), Some(1L), Some(2)),
      (2L, "y", Some(3L), Some(2L), Some(1)),
      (2L, "y", Some(3L), Some(2L), Some(1)),
      (2L, "y", Some(1L), Some(1L), Some(1)),
      (3L, "z", Some(9L), Some(3L), Some(5)),
      (4L, "w", Some(8L), Some(1L), None),
      (5L, "u", None, Some(2L), Some(2)),
      (6L, "t", None, None, None)
    ).toDF("k", "v", "one_id", "two_a", "two_b")
    val m = TableMeta("fc_child", pk = Seq("k", "v"), fks = Seq(
      FkEdge(Seq("one_id"), "fc_one", Seq("id")),
      FkEdge(Seq("two_a", "two_b"), "fc_two", Seq("a", "b")),
      FkEdge(Seq("two_a"), "fc_one", Seq("id"))))
    val expected = Seq(
      ConstraintViolation("fc_child", "PRIMARY KEY", "k,v", 2),
      ConstraintViolation("fc_child", "FOREIGN KEY", "one_id -> fc_one", 2),
      ConstraintViolation("fc_child", "FOREIGN KEY", "two_a,two_b -> fc_two", 2))
    assert(perCheck(child, m) == expected)
    assert(Warehouse.load(spark, child, m) == expected)
    Warehouse.clear()
  }

  test("a table with no PK and no FK launches no check job") {
    Warehouse.clear()
    val df = Seq((1L, "a"), (1L, "a")).toDF("id", "v")
    val (viol, jobs) = TestJobs.during(spark.sparkContext)(
      Warehouse.load(spark, df, TableMeta("unconstrained_t")))
    assert(viol.isEmpty)
    assert(jobs == 0)
    Warehouse.clear()
  }

  test("load owns what it persisted: a re-load and clear() drop it, " +
      "a frame the caller persisted stays") {
    Warehouse.clear()
    val cache = spark.sharedState.cacheManager
    def cached(df: DataFrame) = cache.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty
    val first = Seq(1L, 2L).toDF("id")
    Warehouse.load(spark, first, TableMeta("own_t", pk = Seq("id")))
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val second = Seq(3L, 4L, 5L).toDF("id")
    Warehouse.load(spark, second, TableMeta("own_t", pk = Seq("id")))
    assert(!cached(first))
    assert(spark.table("own_t").count() == 3)
    // every stored frame is planned in one session, not a clone per persist
    def plannedIn(df: DataFrame) = cache.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .get.cachedRepresentation.cacheBuilder.cachedPlan.session
    val other = Seq(6L).toDF("id")
    Warehouse.load(spark, other, TableMeta("own_u", pk = Seq("id")))
    assert(plannedIn(other) eq plannedIn(second))
    val callers = Seq(7L, 8L).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    Warehouse.load(spark, callers, TableMeta("callers_t", pk = Seq("id")))
    assert(callers.storageLevel == StorageLevel.MEMORY_ONLY)
    assert(cached(second))
    Warehouse.clear()
    assert(!cached(first))
    assert(!cached(second))
    assert(!cached(other))
    assert(callers.storageLevel == StorageLevel.MEMORY_ONLY)
    callers.unpersist()
  }

  test("re-loading a table whose source CSV was rewritten reads the new rows") {
    Warehouse.clear()
    val csv = Files.createTempDirectory("graft-reload").resolve("t.csv")
    def reload(): Seq[ConstraintViolation] = Warehouse.load(spark,
      spark.read.option("header", "true").schema("id BIGINT")
        .csv(csv.toString),
      TableMeta("reload_t", pk = Seq("id")))
    Files.writeString(csv, "id\n1\n2\n")
    assert(reload().isEmpty)
    assert(spark.table("reload_t").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    Files.writeString(csv, "id\n1\n1\n3\n")
    assert(reload() ==
      Seq(ConstraintViolation("reload_t", "PRIMARY KEY", "id", 1)))
    assert(spark.table("reload_t").as[Long].collect().sorted.toSeq ==
      Seq(1L, 1L, 3L))
    Warehouse.clear()
  }

  test("preview returns LIMIT n rows") {
    loadStar()
    assert(Warehouse.preview(spark, "orders", 5).count() == 5)
  }

  test("schemaReport matches information_schema.columns shape") {
    loadStar()
    val rep = Warehouse.schemaReport(spark, "orders")
      .as[(String, Int, String, String)].collect()
    assert(rep.head == ("orders", 1, "o_orderkey", "BIGINT"))
    assert(rep.map(_._3).contains("o_orderdate"))
  }

  test("schemaDoc classifies PK/FK columns") {
    loadStar()
    val doc = Warehouse.schemaDoc(spark)
      .as[(String, Int, String, String, String)].collect()
    assert(doc.exists(r => r._1 == "orders" && r._3 == "o_orderkey" && r._5 == "PK"))
    assert(doc.exists(r => r._1 == "lineitem" && r._3 == "l_orderkey" && r._5 == "FK"))
  }

  test("ddl renders constraints") {
    loadStar()
    val composite = Seq((1L, 1, "x")).toDF("a", "b", "v")
    Warehouse.load(spark, composite,
      TableMeta("composite_t", pk = Seq("a", "b")))
    val d = Warehouse.ddl(spark, "composite_t")
    assert(d.contains("PRIMARY KEY (a, b)"))
    val dl = Warehouse.ddl(spark, "lineitem")
    assert(dl.contains("CREATE OR REPLACE TABLE lineitem"))
    assert(dl.contains("FOREIGN KEY (l_orderkey) REFERENCES orders(o_orderkey)"))
  }

  test("information_schema_columns is SQL-queryable after load") {
    loadStar()
    val got = spark.sql(
      """SELECT column_name FROM information_schema_columns
        |WHERE table_name = 'orders' AND `constraint` = 'PK'""".stripMargin)
      .as[String].collect().toSeq
    assert(got == Seq("o_orderkey"))
  }

  test("export -> import round-trips data, constraints, and schema doc") {
    loadStar()
    val composite = Seq((1L, 1, "x")).toDF("a", "b", "v")
    Warehouse.load(spark, composite,
      TableMeta("composite_t", pk = Seq("a", "b")))
    val before = Warehouse.schemaDoc(spark).collect().toSeq
    val nOrders = spark.table("orders").count()
    val out = java.nio.file.Files.createTempDirectory("graft-rt").toString
    Warehouse.exportDatabase(spark, out)
    Warehouse.clear()
    val imported = Warehouse.importDatabase(spark, out)
    assert(imported.toSet == Set("orders", "lineitem", "composite_t"))
    assert(spark.table("orders").count() == nOrders)
    assert(Warehouse.schemaDoc(spark).collect().toSeq == before)
    assert(Warehouse.meta("composite_t").get.pk == Seq("a", "b"))
    assert(Warehouse.meta("lineitem").get.fks ==
      Seq(FkEdge(Seq("l_orderkey"), "orders", Seq("o_orderkey"))))
  }

  test("import fails when a file's column is missing or has another type") {
    Warehouse.clear()
    Warehouse.load(spark, Seq((1L, "a", 2.5)).toDF("id", "name", "score"),
      TableMeta("mismatch_t", pk = Seq("id")))
    val out = Files.createTempDirectory("graft-mismatch").toString
    Warehouse.exportDatabase(spark, out)
    def rewrite(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/mismatch_t.parquet")
    rewrite(Seq((1, "a", 2.5)).toDF("id", "name", "score"))
    val retyped = intercept[IllegalArgumentException](
      Warehouse.importDatabase(spark, out))
    assert(retyped.getMessage.contains("id BIGINT"))
    rewrite(Seq((1L, "a")).toDF("id", "name"))
    val missing = intercept[IllegalArgumentException](
      Warehouse.importDatabase(spark, out))
    assert(missing.getMessage.contains("no such column"))
    Warehouse.clear()
  }

  test("exportDatabase writes parquet per table plus schema.sql") {
    loadStar()
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    Warehouse.exportDatabase(spark, out)
    assert(spark.read.parquet(s"$out/orders.parquet").count() ==
      spark.table("orders").count())
    val sql = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/schema.sql"))
    assert(sql.contains("CREATE OR REPLACE TABLE orders"))
  }

  test("savePartitioned lays out value directories and prunes reads") {
    val df = Seq(
      (1L, "click", 10L), (2L, "view", 20L), (3L, "click", 30L)
    ).toDF("id", "etype", "v")
    val path = Warehouse.savePartitioned(df, "wspec_part", Seq("etype"))
    val root = new java.io.File(new java.net.URI(path))
    assert(root.listFiles().map(_.getName).toSet
      .filter(_.startsWith("etype=")) == Set("etype=click", "etype=view"))
    val pruned = spark.read.parquet(path).filter($"etype" === "click")
    assert(pruned.select("id").as[Long].collect().toSet == Set(1L, 3L))
    val scan = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty)
  }

  test("profileQuantiles: histogram-rank envelope brackets the sketch, " +
      "exact min/max per column") {
    // 1..1000 in col a; constant 5.0 in col b (degenerate histogram)
    val df = (1 to 1000).map(i => (i.toDouble, 5.0)).toDF("a", "b")
    val got = Warehouse.profileQuantiles(df, Seq("a", "b"), Seq(0.5, 0.95))
      .orderBy("column_name")
      .as[(String, Double, Double, Boolean, Boolean)].collect().toSeq
    assert(got == Seq(
      ("a", 1.0, 1000.0, true, true),
      ("b", 5.0, 5.0, true, true)))
  }

  test("profileQuantiles: all-null and empty inputs yield no rows") {
    val df = Seq((Option.empty[Double], 1.0), (None, 2.0)).toDF("a", "b")
    val got = Warehouse.profileQuantiles(df, Seq("a", "b"), Seq(0.5))
      .orderBy("column_name")
      .as[(String, Double, Double, Boolean)].collect().toSeq
    // the all-null column has no histogram mass -> omitted
    assert(got == Seq(("b", 1.0, 2.0, true)))
    assert(Warehouse.profileQuantiles(df.limit(0), Seq("a", "b"), Seq(0.5))
      .count() == 0)
  }

  test("profile: per-column rows/nulls/exact-distinct in one pass") {
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, None, Some(1.5)),
      (3L, Some("a"), None)
    ).toDF("id", "s", "v")
    val got = Warehouse.profile(df).orderBy("column_name")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("id", "bigint", 3L, 0L, 3L),
      ("s", "string", 3L, 1L, 1L),   // countDistinct ignores NULL
      ("v", "double", 3L, 1L, 1L)))
  }
}
