package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.TestJobs

/** The fixture-memo contract behind the benched WET entries
  * (x81/x90): exactly ONE write per (application, name), and no caller may
  * proceed before that write has fully completed — a check-then-act
  * race here would hand a concurrent caller a half-written dump. */
class ExtensionSupportSpec extends graft.SparkSpec {

  test("wetFixtureOnce: 8 concurrent callers on one path produce " +
      "exactly one write, and every caller observes it complete") {
    val writes = new AtomicInteger(0)
    @volatile var completed = false
    val name = s"memo-test-${System.nanoTime()}"
    val callers = (1 to 8).map { _ =>
      Future {
        val path = ExtensionSupport.wetFixtureOnce(spark, name) { _ =>
          writes.incrementAndGet()
          Thread.sleep(100) // widen the window a naive race would hit
          completed = true
        }
        // duplicate callers await the winner's per-name future — so
        // by the time ANY caller gets here the write must be complete
        assert(completed, "caller proceeded before the write finished")
        path
      }
    }
    val paths = Await.result(Future.sequence(callers), 1.minute)
    assert(writes.get() == 1, s"expected exactly one write, got ${writes.get()}")
    assert(paths.toSet == Set(s"${graft.sources.Locations.runRoot(spark)}/$name"))
    // a later caller on the same name still skips
    ExtensionSupport.wetFixtureOnce(spark, name) { _ => writes.incrementAndGet() }
    assert(writes.get() == 1)
    // a DIFFERENT name writes independently
    var other = 0
    ExtensionSupport.wetFixtureOnce(spark, name + "-b") { _ => other += 1 }
    assert(other == 1)
  }

  test("wetFixtureOnce: a failed write retracts its claim — the next " +
      "caller retries instead of memoizing the failure") {
    val name = s"memo-fail-${System.nanoTime()}"
    val writes = new AtomicInteger(0)
    val boom = intercept[RuntimeException] {
      ExtensionSupport.wetFixtureOnce(spark, name) { _ =>
        writes.incrementAndGet()
        throw new RuntimeException("disk full")
      }
    }
    assert(boom.getMessage == "disk full")
    ExtensionSupport.wetFixtureOnce(spark, name) { _ => writes.incrementAndGet() }
    assert(writes.get() == 2, "second caller must re-run the write")
    // and the successful retry is memoized as usual
    ExtensionSupport.wetFixtureOnce(spark, name) { _ => writes.incrementAndGet() }
    assert(writes.get() == 2)
  }

  test("scratch launches only its write's jobs: the read-back infers " +
      "no schema") {
    val df = spark.range(0, 100, 1, 4).selectExpr("id", "array(id, id) AS a")
    val tmp = java.nio.file.Files.createTempDirectory("graft-scratch")
      .resolve("plain").toString
    val (_, writeJobs) = TestJobs.during(spark.sparkContext)(
      df.write.parquet(tmp))
    val (back, jobs) = TestJobs.during(spark.sparkContext)(
      ExtensionSupport.scratch(df, "scratch_jobs_test"))
    assert(jobs == writeJobs)
    assert(back.schema == spark.read.parquet(tmp).schema)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }
}
