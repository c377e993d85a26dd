package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.Sessionize
import graft.streaming.Sessionize.Event

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("batchSessions splits on the inactivity gap per user") {
    val events = Seq(
      Event(1, ts(0), 7, 1.0), Event(2, ts(10), 7, 2.0), // session 1
      Event(3, ts(50), 7, 4.0),                          // session 2 (40min gap)
      Event(4, ts(5), 8, 8.0)                            // other user
    ).toDF()
    val sessions = Sessionize.batchSessions(events, gapSeconds = 1800)
      .orderBy("user_id", "sess_id")
      .select("user_id", "sess_id", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(sessions == Seq((7L, 1L, 2L, 3.0), (7L, 2L, 1L, 4.0),
      (8L, 1L, 1L, 8.0)))
  }

  test("batchSessions splits sub-second gaps at microsecond precision") {
    // 1800.000001s gap -> new session; exactly 1800s -> same session
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val tExact = Timestamp.valueOf("2024-01-01 10:30:00")
    val tOver = Timestamp.valueOf("2024-01-01 11:00:00.000001")
    val events = Seq(
      Event(1, t0, 7, 1.0), Event(2, tExact, 7, 1.0), Event(3, tOver, 7, 1.0)
    ).toDF()
    val n = Sessionize.batchSessions(events, gapSeconds = 1800)
      .select("sess_id").as[Long].collect().toSet
    assert(n == Set(1L, 2L)) // tExact merged, tOver split by 1 microsecond
  }

  test("exact-gap boundary agrees across batchSessions and the native " +
    "session_window aggregate (batch AND streaming): equality is " +
    "INSIDE — the pair merges") {
    // ADVICE r9 flagged the x52/x14b oracles' `> gap` as disagreeing
    // with a presumed half-open session_window. Empirically Spark
    // MERGES a window whose start equals the current session's end
    // (this test is the evidence), so `> gap` is the correct oracle
    // boundary and every form here must agree: (t0, t0 + exactly
    // 1800s) is ONE session of two events.
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val tGap = Timestamp.valueOf("2024-01-01 10:30:00")
    val events = Seq(Event(1, t0, 7, 1.0), Event(2, tGap, 7, 2.0)).toDF()

    val batchSess = Sessionize.batchSessions(events, gapSeconds = 1800)
      .select("n_events").as[Long].collect().toSeq
    assert(batchSess == Seq(2L),
      s"batchSessions: expected one merged session, got $batchSess")

    val nativeSess = events
      .groupBy(session_window(col("ts"), "1800 seconds"), col("user_id"))
      .count().select("count").as[Long].collect().toSeq
    assert(nativeSess == Seq(2L),
      s"batch session_window: expected one merged session, got $nativeSess")

    // streaming NATIVE session_window (the x52 shape) must agree with
    // its batch twin at the boundary — state-store merge path
    val tmp = java.nio.file.Files.createTempDirectory("graft-gap").toString
    val plain = events.select($"user_id", $"ts", $"value")
    plain.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(plain.schema).parquet(tmp)
    val streamSess = graft.streaming.Streams.runAvailableNowToDir(spark,
        graft.streaming.Streams.streamingSessionize(
          stream, "user_id", "ts", "value", "1800 seconds"),
        "sess_gap_native", complete = true)
      .select("n_events").as[Long].collect().toSeq
    assert(streamSess == Seq(2L),
      s"streaming session_window: expected one merged session, got $streamSess")
  }

  private def collectSessions(df: org.apache.spark.sql.DataFrame) =
    df.select("user_id", "sess_id", "session_start", "session_end",
        "n_events", "sum_value")
      .as[(Long, Long, Timestamp, Timestamp, Long, Double)]
      .collect().toSeq.sorted

  test("batchSessionsSharded is bit-identical to batchSessions across " +
    "every seam shape: exact-gap seam merges, gap+1us seam splits, " +
    "empty buckets between events, gap longer than the bucket, ties") {
    // bucketSeconds = 600 -> bucket edges at :00/:10/:20... All the
    // decisive pairs STRADDLE a bucket seam, so the seam pass (not
    // the in-bucket lag) decides them.
    val events = Seq(
      // user 7: (09:55, 10:25) is exactly gap=1800s apart across 3
      // seams -> merge; 11:00.000001 is 2100.000001s after 10:25 ->
      // split (also across seams, with 2 empty buckets between)
      Event(1, Timestamp.valueOf("2024-01-01 09:55:00"), 7, 1.0),
      Event(2, Timestamp.valueOf("2024-01-01 10:25:00"), 7, 2.0),
      Event(3, Timestamp.valueOf("2024-01-01 11:00:00.000001"), 7, 4.0),
      // user 8: gap (1800s) is 3x the bucket (600s); consecutive
      // events 1799s apart chain one session across many buckets
      Event(4, Timestamp.valueOf("2024-01-01 08:00:00"), 8, 1.0),
      Event(5, Timestamp.valueOf("2024-01-01 08:29:59"), 8, 1.0),
      Event(6, Timestamp.valueOf("2024-01-01 08:59:58"), 8, 1.0),
      // user 9: tied timestamps ON a bucket edge (event_id breaks the
      // tie inside one bucket — edges can't separate equal ts)
      Event(8, Timestamp.valueOf("2024-01-01 10:10:00"), 9, 1.0),
      Event(7, Timestamp.valueOf("2024-01-01 10:10:00"), 9, 2.0)
    ).toDF()
    val plain = collectSessions(Sessionize.batchSessions(events, 1800))
    val sharded = collectSessions(
      Sessionize.batchSessionsSharded(events, 1800, bucketSeconds = 600))
    assert(sharded == plain, s"sharded=$sharded plain=$plain")
    // sanity on the fixture's intent, not just self-consistency
    assert(plain.filter(_._1 == 7).map(_._2) == Seq(1L, 2L))
    assert(plain.filter(_._1 == 8).map(_._5) == Seq(3L))
  }

  test("batchSessionsSharded is invariant in bucketSeconds, including " +
    "one-event-per-bucket and all-events-one-bucket extremes") {
    val events = (0 until 200).map { i =>
      // uneven spacing: bursts with occasional > gap (60s) silences
      val us = i.toLong * 13000000L + (i % 7) * 9000000L
      Event(i.toLong, new Timestamp(us / 1000L), i % 3L, i * 0.5)
    }.toDF()
    val plain = collectSessions(Sessionize.batchSessions(events, 60))
    for (b <- Seq(1L, 7L, 60L, 3600L, 1000000000L)) {
      val sharded = collectSessions(
        Sessionize.batchSessionsSharded(events, 60, bucketSeconds = b))
      assert(sharded == plain, s"bucketSeconds=$b diverged")
    }
  }

  test("batchSessionsSharded buckets pre-epoch timestamps correctly " +
    "(floor division, not truncation toward zero)") {
    // 1969-12-31 23:59:30 and 1970-01-01 00:00:29 are 59s apart
    // straddling the epoch: truncating div would put both negative
    // and positive micros in bucket 0 and still work, so ALSO pin a
    // pre-epoch seam pair 61s apart (split) vs 59s apart (merge)
    val events = Seq(
      Event(1, new Timestamp(-120500L), 7, 1.0),  // 23:57:59.5
      Event(2, new Timestamp(-61000L), 7, 1.0),   // 23:58:59 (59.5s, merge)
      Event(3, new Timestamp(500L), 7, 1.0),      // 00:00:00.5 (61.5s, split)
      Event(4, new Timestamp(59000L), 7, 1.0)     // 00:00:59 (58.5s, merge)
    ).toDF()
    val plain = collectSessions(Sessionize.batchSessions(events, 60))
    val sharded = collectSessions(
      Sessionize.batchSessionsSharded(events, 60, bucketSeconds = 60))
    assert(sharded == plain, s"sharded=$sharded plain=$plain")
    assert(plain.map(_._5) == Seq(2L, 2L))
  }
}
