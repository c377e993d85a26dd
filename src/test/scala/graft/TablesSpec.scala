package graft

import org.apache.spark.TestJobs

import graft.sources.Tables

class TablesSpec extends SparkSpec {

  test("the local session sizes Spark's codegen class cache and keeps " +
      "stage ids out of class names") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
    assert(spark.sessionState.conf.codegenCacheMaxEntries == 1024)
    assert(!spark.sessionState.conf.wholeStageUseIdInClassName)
  }

  test("registerAll, load and loadStream launch no Spark job") {
    val sc = spark.sparkContext
    assert(TestJobs.during(sc)(Tables.registerAll(spark, sf()))._2 == 0)
    Tables.all.foreach { n =>
      assert(TestJobs.during(sc)(Tables.load(spark, sf(), n))._2 == 0, n)
    }
    Seq("events", "documents").foreach { n =>
      val (stream, jobs) = TestJobs.during(sc)(Tables.loadStream(spark, sf(), n))
      assert(jobs == 0 && stream.isStreaming, n)
    }
  }

  test("the footer schema equals the schema spark.read.parquet infers, " +
      "for every fixture and for a directory of part files") {
    Tables.all.foreach { n =>
      val p = Tables.path(sf(), n)
      val inferred = spark.read.parquet(p).schema
      assert(Tables.footer(spark, Tables.parquetFiles(spark, p).head)._1 ==
        inferred, n)
      assert(Tables.readParquet(spark, p).schema == inferred, n)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-parts")
      .resolve("t").toString
    Tables.load(spark, sf(), "embeddings").repartition(3).write.parquet(dir)
    assert(Tables.parquetFiles(spark, dir).size == 3)
    val (read, jobs) = TestJobs.during(spark.sparkContext)(
      Tables.readParquet(spark, dir))
    assert(jobs == 0)
    assert(read.schema == spark.read.parquet(dir).schema)
    assert(read.count() == spark.read.parquet(dir).count())
  }

  test("readParquet of a k=v partitioned directory launches no job and " +
      "reads what spark.read.parquet reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kv")
      .resolve("t").toString
    Tables.load(spark, sf(), "events").write.partitionBy("event_type")
      .parquet(dir)
    val (read, jobs) = TestJobs.during(spark.sparkContext)(
      Tables.readParquet(spark, dir))
    assert(jobs == 0)
    val inferred = spark.read.parquet(dir)
    assert(read.schema == inferred.schema)
    assert(read.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq)
  }

  test("readParquet of a path with no data file fails as " +
      "spark.read.parquet does") {
    val base = java.nio.file.Files.createTempDirectory("graft-none")
    val empty = java.nio.file.Files.createDirectory(base.resolve("empty"))
    Seq(base.resolve("missing").toString, empty.toString).foreach { p =>
      val want = intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(p))
      val got = intercept[org.apache.spark.sql.AnalysisException](
        Tables.readParquet(spark, p))
      assert(got.getCondition == want.getCondition, p)
    }
  }
}
