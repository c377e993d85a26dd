package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import graft.queries.Catalog

/** Multi-tenant correctness: a deployment shares ONE SparkSession
  * across many concurrently-submitted queries (thread-per-query over
  * the session's FIFO/FAIR scheduler). The catalog's pure queries
  * must return results under concurrency identical to their
  * sequential runs — no hidden shared mutable state, no sensitivity
  * to interleaved scheduling. Entries that mutate session state by
  * design (Warehouse registry, layout writers, persisted indexes) are
  * driver-sequenced and excluded here.
  */
class ConcurrencySpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def run(n: String): Seq[org.apache.spark.sql.Row] =
    Catalog.byName(n).run(spark, dir).collect().toSeq

  test("eight pure catalog queries run concurrently on the shared " +
      "session return results identical to their sequential runs") {
    val names = Seq("x1_dedup_exact", "g1_agg_pricing_summary",
      "j1_join_inner_agg", "w1_window_rank", "x8_text_langid",
      "x17_token_freq", "x5_ann_cosine_topk", "x11_fingerprint")
    val sequential = names.map(n => n -> run(n)).toMap
    val concurrent = Await.result(
      Future.sequence(names.map(n => Future(n -> run(n)))),
      5.minutes).toMap
    names.foreach { n =>
      assert(concurrent(n) == sequential(n),
        s"$n diverged under concurrent execution")
    }
  }

  test("the same query submitted 8x concurrently returns 8 identical " +
      "results") {
    val expected = run("x36b_hybrid_rrf")
    val results = Await.result(
      Future.sequence(Seq.fill(8)(Future(run("x36b_hybrid_rrf")))),
      5.minutes)
    results.zipWithIndex.foreach { case (r, i) =>
      assert(r == expected, s"concurrent submission $i diverged")
    }
  }
}
