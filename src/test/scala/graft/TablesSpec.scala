package graft

import org.apache.spark.TestJobs

import graft.sources.Tables

class TablesSpec extends SparkSpec {

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
}
