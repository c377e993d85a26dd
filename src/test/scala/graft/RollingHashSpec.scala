package graft

import org.apache.spark.sql.functions._

class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  private def reference(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 131 + (b & 0xff)) % 2147483647L)

  test("rolling_hash matches the reference fold (interpreted + codegen)") {
    val inputs = Seq("", "a", "abc", "the quick brown fox", "x" * 500)
    val got = inputs.toDF("s").select(expr("rolling_hash(s)")).as[Long].collect()
    assert(got.toSeq == inputs.map(reference))
  }

  test("rolling_hash propagates NULL") {
    val got = Seq(Option.empty[String], Some("a")).toDF("s")
      .select(expr("rolling_hash(s)")).as[Option[Long]].collect()
    assert(got(0).isEmpty && got(1).contains(reference("a")))
  }

  test("rolling_hash participates in whole-stage codegen") {
    // a literal Seq collapses to LocalTableScan (no codegen stage), so
    // drive the expression from a range source
    val df = spark.range(3)
      .selectExpr("rolling_hash(cast(id as string)) as h")
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(df.as[Long].collect().toSeq == Seq("0", "1", "2").map(reference))
  }
}
