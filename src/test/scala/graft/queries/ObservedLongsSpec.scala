package graft.queries

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Audit scalars read off an Observation must never invent a value:
  * an aggregate over no rows is NULL, and only a sum may read it as 0,
  * where it is observed. */
class ObservedLongsSpec extends SparkSpec {

  private def observeEmpty(metrics: org.apache.spark.sql.Column*): Observation = {
    val obs = new Observation()
    spark.range(0).observe(obs, metrics.head, metrics.tail: _*)
      .write.format("noop").mode("overwrite").save()
    obs
  }

  test("observedLongs fails on a NULL metric and names its key") {
    val obs = observeEmpty(count(lit(1)).as("n"), max(col("id")).as("idMax"))
    val e = intercept[IllegalStateException](
      ExtensionSupport.observedLongs(obs, "n", "idMax"))
    assert(e.getMessage.contains("idMax"))
  }

  test("sum0 reads 0 over no rows and the sum over some") {
    val empty = observeEmpty(ExtensionSupport.sum0(col("id")).as("s"))
    assert(ExtensionSupport.observedLongs(empty, "s") == Seq(0L))
    val obs = new Observation()
    spark.range(5).observe(obs, ExtensionSupport.sum0(col("id")).as("s"))
      .write.format("noop").mode("overwrite").save()
    assert(ExtensionSupport.observedLongs(obs, "s") == Seq(10L))
  }
}
