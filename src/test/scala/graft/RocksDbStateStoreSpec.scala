package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Streams

/** The RocksDB state store provider is the deployment-grade backend
  * for 100 TB streaming state (state lives in native memory + local
  * disk instead of executor heap); these tests pin that every stateful
  * operator family produces IDENTICAL results under it — provider
  * choice is an operational knob, never a semantic one. The heap
  * provider stays the fixture-scale default (RocksDB's per-store
  * commit overhead is pure cost while state fits in heap — measured
  * in SCALE.md's RocksDB rehearsal); a deployment picks RocksDB with
  * Spark's own `spark.sql.streaming.stateStore.providerClass` session
  * conf, which these tests set around the gate runner. */
class RocksDbStateStoreSpec extends SparkSpec {

  private val provKey = "spark.sql.streaming.stateStore.providerClass"

  private def underRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body
    finally prev.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("streaming dedup under RocksDB equals batch distinct") {
    val dir = sf("sf0.001")
    val stream = Tables.loadStream(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val got = underRocksDb {
      rows(Streams.runAvailableNowToDir(spark,
        Streams.streamingDedup(stream, Seq("user_id", "event_type"),
          "ts", "365 days").select(col("user_id"), col("event_type")),
        "rocks_dedup_out"))
    }
    val want = rows(Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type")).distinct())
    assert(got == want)
  }

  test("streaming session_window under RocksDB equals heap provider") {
    val dir = sf("sf0.001")
    def sessions() = Streams.streamingSessionize(
      Tables.loadStream(spark, dir, "events")
        .select(col("user_id"), col("ts"),
          col("value").cast("decimal(18,2)").as("value2")),
      keyCol = "user_id", tsCol = "ts", valueCol = "value2",
      gap = "1800 seconds")
    val rocks = underRocksDb {
      rows(Streams.runAvailableNowToDir(spark, sessions(), "rocks_sess_out",
        complete = true))
    }
    val heap = rows(Streams.runAvailableNowToDir(spark, sessions(),
      "heap_sess_out", complete = true))
    assert(rocks.nonEmpty && rocks == heap)
  }

  test("stream-stream interval join under RocksDB equals heap provider") {
    val dir = sf("sf0.001")
    def joined() = Streams.streamingIntervalSelfJoin(
      Tables.loadStream(spark, dir, "events"), keyCol = "user_id",
      idCol = "event_id", tsCol = "ts", delay = "1 hour",
      withinSec = 600L)
    val rocks = underRocksDb {
      rows(Streams.runAvailableNowToDir(spark, joined(),
        "rocks_join_out"))
    }
    val heap = rows(Streams.runAvailableNowToDir(spark, joined(),
      "heap_join_out"))
    assert(rocks.nonEmpty && rocks == heap)
  }
}
