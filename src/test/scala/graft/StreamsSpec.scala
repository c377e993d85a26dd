package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Streams

class StreamsSpec extends SparkSpec {

  test("stream-stream interval self-join equals the batch range join") {
    val batchEvents = Tables.load(spark, sf(), "events")
      .select("user_id", "event_id", "ts")
      .filter(col("user_id") < 20) // keep the pair volume test-sized
    val expected = graft.operators.Temporal
      .rangeJoinWithin(batchEvents, "user_id", "event_id", "ts", 600)
      .orderBy("id_a", "id_b").collect().toSeq

    val tmp = java.nio.file.Files.createTempDirectory("graft-ssj").toString
    batchEvents.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(batchEvents.schema).parquet(tmp)
    val joined = Streams.streamingIntervalSelfJoin(stream, "user_id",
      "event_id", "ts", delay = "1 hour", withinSec = 600)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_test").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_test")
      .orderBy("id_a", "id_b").collect().toSeq

    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("stream-stream interval self-join on hand-built fixtures: " +
      "boundary, same-instant, and cross-user pairs (no testdata)") {
    import spark.implicits._
    // seconds offsets from a fixed epoch; pairs designed to probe the
    // within=600s band edges: (1,2) exactly 600 apart (inclusive),
    // (2,3) 601 apart via 1201-600 (excluded from (1,3)? 1201-0 no),
    // (4,5) same instant, user 9 isolated
    val base = 1700000000L
    val rows = Seq(
      (1L, 101L, 0L), (1L, 102L, 600L), (1L, 103L, 1201L),
      (2L, 201L, 50L), (2L, 202L, 50L),
      (9L, 901L, 0L)
    ).map { case (u, id, off) =>
      (u, id, new java.sql.Timestamp((base + off) * 1000L))
    }.toDF("user_id", "event_id", "ts")

    val expected = graft.operators.Temporal
      .rangeJoinWithin(rows, "user_id", "event_id", "ts", 600)
      .orderBy("id_a", "id_b").collect().toSeq
    // the fixture must actually exercise each edge
    // rangeJoinWithin output is (user_id, id_a, id_b)
    val pairs = expected.map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((101L, 102L)), "inclusive 600s boundary pair")
    assert(!pairs.contains((102L, 103L)), "601s gap must be excluded")
    assert(pairs.contains((201L, 202L)), "same-instant pair")
    assert(!pairs.exists { case (a, b) => a / 100 != b / 100 },
      "no cross-user pairs")

    val tmp = java.nio.file.Files.createTempDirectory("graft-ssj-fx").toString
    rows.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(rows.schema).parquet(tmp)
    val joined = Streams.streamingIntervalSelfJoin(stream, "user_id",
      "event_id", "ts", delay = "1 hour", withinSec = 600)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_fx_test").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_fx_test")
      .orderBy("id_a", "id_b").collect().toSeq
    assert(got == expected)
  }

  test("streaming tumbling window equals batch result (memory sink)") {
    // batch oracle over the same events table
    val batchEvents = Tables.load(spark, sf(), "events")
    val expected = Streams.tumblingCounts(batchEvents, "1 hour")
      .orderBy("ws", "event_type").collect().toSeq

    // stream the SAME (nanos-normalized) frame through a temp parquet dir
    // so the file source sees micros timestamps
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(tmp)
    val streaming = Streams.streamingTumblingCounts(spark, tmp,
      batchEvents.schema, "1 hour", "2 hours")
    val got = Streams.runToMemorySink(spark, streaming, "stream_test")
      .orderBy("ws", "event_type").collect().toSeq

    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streaming sessionization on hand-built fixtures: gap-boundary " +
      "merge semantics equal the batch session_window (no testdata)") {
    import spark.implicits._
    val base = 1700000000L
    // user 1: events at 0, 1799 (inside the gap -> chains), then 4000
    // (past the gap -> new session); user 2: single event. The exact-
    // gap boundary itself (equality MERGES — Spark joins a window
    // whose start equals the session end) is pinned by
    // SessionizeSpec's cross-form exact-gap test.
    val rows = Seq(
      (1L, 0L, 1.0), (1L, 1799L, 2.0), (1L, 4000L, 3.0),
      (2L, 100L, 5.0)
    ).map { case (u, off, v) =>
      (u, new java.sql.Timestamp((base + off) * 1000L), v)
    }.toDF("user_id", "ts", "value")

    val batch = Streams.streamingSessionize(rows, "user_id", "ts",
        "value", "1800 seconds")
      .orderBy("user_id", "session_start").collect().toSeq
    // expected: user 1 has [0,1799] merged (1799 < 0+1800) and a
    // separate [4000]; user 2 one singleton
    assert(batch.map(r => (r.getLong(0), r.getLong(3))) ==
      Seq((1L, 2L), (1L, 1L), (2L, 1L)))

    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    rows.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(rows.schema).parquet(tmp)
    val got = Streams.runAvailableNow(spark,
        Streams.streamingSessionize(stream, "user_id", "ts", "value",
          "1800 seconds"),
        "sess_fx_test", outputMode = "complete")
      .orderBy("user_id", "session_start").collect().toSeq
    assert(got == batch)
  }

  test("streaming sessionization append mode: a session finalizes " +
      "(emits) only once the watermark passes its end + gap") {
    import spark.implicits._
    val base = 1700000000L
    def write(dir: String, name: String, offs: Seq[Long]): Unit = {
      val stage = s"$dir/_stage_$name"
      offs.map(off => (1L,
          new java.sql.Timestamp((base + off) * 1000L), 1.0))
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.parquet(stage)
      val it = java.nio.file.Files.list(
        java.nio.file.Paths.get(stage)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.move(p,
            java.nio.file.Paths.get(s"$dir/$name.parquet"))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-wm")
      .toString
    // batch 1: session A (events at 0 and 100, ends 100+1800=1900);
    // batch 2: a lone event far in the future advances the watermark
    // past session A's end + gap, forcing A to finalize and its state
    // to evict; the future session itself never finalizes (no later
    // data) and must NOT emit
    write(dir, "b1", Seq(0L, 100L))
    write(dir, "b2", Seq(10000L))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/b2.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 60000L))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val sessions = Streams.streamingSessionize(stream, "user_id", "ts",
      "value", "1800 seconds", watermark = Some("1 second"))
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sess_wm_test").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_wm_test")
      .select($"user_id", $"session_start", $"n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
    assert(got == Seq((1L, new java.sql.Timestamp(base * 1000L), 2L)),
      s"only the watermark-passed session may emit, got $got")
  }

  test("transitive-oracle catalog entries: AvailableNow streaming run " +
      "equals the batch twin (x47 dedup, x49 enrichment)") {
    import graft.queries.Catalog
    // x47: streaming watermarked dedup projected to keys == batch DISTINCT
    val dedupGot = Catalog.byName("x47_streaming_dedup")
      .run(spark, sf()).collect().toSeq
    val dedupExp = Tables.load(spark, sf(), "events")
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect().toSeq
    assert(dedupGot.nonEmpty && dedupGot == dedupExp)

    // x49: stream-static broadcast enrichment == batch left join
    val enrichGot = Catalog.byName("x49_streaming_enrich")
      .run(spark, sf()).collect().toSeq
    val cust = Tables.load(spark, sf(), "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enrichExp = Tables.load(spark, sf(), "events")
      .select("event_id", "user_id")
      .join(broadcast(cust), Seq("user_id"), "left")
      .orderBy("event_id").collect().toSeq
    assert(enrichGot.nonEmpty && enrichGot == enrichExp)

    // x53: streaming ingest screen == batch incremental exact dedup
    import graft.functions.TextFunctions.md5Fingerprint
    val docs = Tables.load(spark, sf(), "documents")
    val screenGot = Catalog.byName("x53_streaming_ingest_screen")
      .run(spark, sf()).collect().toSeq
    val screenTwin = graft.operators.Dedup.incrementalExactNew(
        docs.filter(col("doc_id") >= 250), "text",
        docs.filter(col("doc_id") < 250)
          .select(md5Fingerprint(col("text")).as("md5_fp")))
      .select(col("doc_id")).orderBy("doc_id")
    val screenExp = screenTwin.collect().toSeq
    assert(screenGot.nonEmpty && screenGot == screenExp)
    // the zero-shuffle claim, hard-gated on the STREAMING micro-batch
    // plan itself (not the batch twin, whose planner path can differ):
    // the history side must broadcast, and NO shuffle exchange may
    // appear anywhere in the micro-batch — the screen is stateless and
    // projection-only, so any Exchange means a fallback to a shuffled
    // join shape
    val sPlan = Streams.lastExecutedPlan("x53_out").getOrElse(
      fail("x53 run recorded no micro-batch execution plan"))
    val sStr = sPlan.toString
    assert(sStr.contains("BroadcastHashJoin") && sStr.contains("LeftAnti"),
      s"expected broadcast anti-join in the micro-batch plan:\n$sStr")
    val shuffles = sPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      s"streaming ingest screen must be shuffle-free; found:\n" +
        shuffles.mkString("\n") + s"\nfull plan:\n$sStr")
    // and the batch twin keeps the same shape
    val plan = screenTwin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), s"expected broadcast anti-join:\n$plan")
  }

  test("stream-stream interval join EVICTS buffered state once the " +
      "watermark passes (the unbounded-stream survival property)") {
    // The micro-batch logs show StreamingJoinHelper warning it cannot
    // extract a state constraint from the non-time conjunct
    // (id_a < id_b); this pins that the TIME conjuncts still yield
    // eviction predicates — without them, join state grows with the
    // stream's full history and no 100 TB deployment survives.
    import spark.implicits._
    val base = 1700000000L
    def write(dir: String, name: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = s"$dir/_stage_$name"
      rows.map { case (id, off) =>
          (1L, id, new java.sql.Timestamp((base + off) * 1000L)) }
        .toDF("user_id", "event_id", "ts")
        .coalesce(1).write.parquet(stage)
      val it = java.nio.file.Files.list(
        java.nio.file.Paths.get(stage)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.move(p,
            java.nio.file.Paths.get(s"$dir/$name.parquet"))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj-wm")
      .toString
    // batch 1: ids 1,2 100s apart -> the one in-band pair; batch 2: a
    // far-future id 3 advances the watermark miles past batch 1's
    // rows + the 600s tolerance, so both sides' buffered batch-1 rows
    // MUST be removed from the state store
    write(dir, "b1", Seq((1L, 0L), (2L, 100L)))
    write(dir, "b2", Seq((3L, 100000L)))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/b2.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 60000L))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val joined = Streams.streamingIntervalSelfJoin(stream, "user_id",
      "event_id", "ts", delay = "1 second", withinSec = 600)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_wm_test").start()
    q.processAllAvailable()
    val progress = q.recentProgress.toSeq
    q.stop()

    val got = spark.table("ssj_wm_test")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)), s"expected the one in-band pair, got $got")

    val removed = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsRemoved).sum
    assert(removed >= 2L,
      s"batch-1 rows (both join sides) must evict once the watermark " +
        s"passes; state rows removed = $removed")
    val finalRows = progress.flatMap(_.stateOperators.toSeq)
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)
    assert(finalRows >= 0L && finalRows <= 2L,
      s"terminal state must hold at most batch-2's lone row per side, " +
        s"got $finalRows")
  }

  /** The commands of the processes the JVM starts while `body` runs.
    * jdk.ProcessStart is JVM-wide; the suites run one at a time, and
    * the `true` launched inside the recording shows that it records. */
  private def spawned[A](dir: java.nio.file.Path)(body: => A): (A, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val got = try {
      val a = body
      new ProcessBuilder("true").start().waitFor()
      a
    } finally rec.stop()
    val dump = dir.resolve("spawns.jfr")
    rec.dump(dump)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
      .asScala.filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    assert(commands.contains("true"),
      s"the recording missed the probe process: $commands")
    (got, commands)
  }

  /** Five events of two users, with the pairs a 600 s interval join
    * finds, written as a parquet directory under `dir`. */
  private def pairFixture(dir: java.nio.file.Path) = {
    import spark.implicits._
    val base = 1700000000L
    val rows = Seq((1L, 101L, 0L), (1L, 102L, 300L), (1L, 103L, 1000L),
        (2L, 201L, 50L), (2L, 202L, 60L))
      .map { case (u, id, off) =>
        (u, id, new java.sql.Timestamp((base + off) * 1000L)) }
      .toDF("user_id", "event_id", "ts")
    val expected = graft.operators.Temporal
      .rangeJoinWithin(rows, "user_id", "event_id", "ts", 600)
      .orderBy("id_a", "id_b").collect().toSeq
    val src = dir.resolve("events").toString
    rows.write.parquet(src)
    (spark.readStream.schema(rows.schema).parquet(src), expected)
  }

  test("streaming checkpoints rename files without forking readlink " +
      "(the session's FileSystem-based checkpoint manager)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-spawn")
    val (stream, expected) = pairFixture(dir)
    val (got, commands) = spawned(dir) {
      Streams.runAvailableNowToDir(spark,
        Streams.streamingIntervalSelfJoin(stream, "user_id", "event_id",
          "ts", delay = "1 hour", withinSec = 600),
        "ckpt_spawn_test", statePartitions = Some(2))
        .orderBy("id_a", "id_b").collect().toSeq
    }
    assert(got.nonEmpty && got == expected)
    val readlinks = commands.filter(_.startsWith("readlink"))
    assert(readlinks.size == 0, "readlink processes forked by one " +
      s"streaming run, e.g. ${readlinks.take(1).mkString}")
    assert(CheckpointFileManager.create(new Path(dir.toString),
        spark.sessionState.newHadoopConf())
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("streaming runs and parquet writes set file permissions without " +
      "forking chmod (the session's file: file system)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chmod-spawn")
    val (stream, expected) = pairFixture(dir)
    val (got, commands) = spawned(dir) {
      val out = Streams.runAvailableNowToDir(spark,
        Streams.streamingIntervalSelfJoin(stream, "user_id", "event_id",
          "ts", delay = "1 hour", withinSec = 600),
        "chmod_spawn_test", statePartitions = Some(2))
      out.write.parquet(dir.resolve("written").toString)
      out.orderBy("id_a", "id_b").collect().toSeq
    }
    assert(got.nonEmpty && got == expected)
    assert(spark.read.parquet(dir.resolve("written").toString).count() ==
      expected.size)
    val chmods = commands.filter(_.startsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod processes forked by " +
      s"one streaming run and one write, e.g. ${chmods.take(1).mkString}")
    // Hadoop caches the file: file system per JVM, whatever conf asks
    assert(org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        new org.apache.hadoop.conf.Configuration())
      .isInstanceOf[graft.sources.ForklessLocalFileSystem])
  }

  test("the forkless file system sets the same rwx bits as chmod") {
    import java.nio.file.attribute.PosixFilePermissions
    val dir = java.nio.file.Files.createTempDirectory("graft-perm")
    val fs = new Path(dir.toString).getFileSystem(
      spark.sessionState.newHadoopConf())
    val f = new Path(dir.toString, "f")
    fs.create(f).close()
    Seq("rwxr-x---", "rw-r--r--", "r--------", "rwxrwxrwx", "---------",
        "-w--wx--x").foreach { mode =>
      fs.setPermission(f,
        org.apache.hadoop.fs.permission.FsPermission.valueOf("-" + mode))
      assert(PosixFilePermissions.toString(java.nio.file.Files
        .getPosixFilePermissions(dir.resolve("f"))) == mode)
      assert(fs.getFileStatus(f).getPermission.toString == mode)
    }
    // chmod would also set a sticky bit; the nine rwx bits leave it out
    fs.setPermission(f, new org.apache.hadoop.fs.permission.FsPermission(
      Integer.parseInt("1750", 8).toShort))
    assert(PosixFilePermissions.toString(java.nio.file.Files
      .getPosixFilePermissions(dir.resolve("f"))) == "rwxr-x---")
  }

  test("x47 and x48 gate runs take one micro-batch and keep the rows " +
      "of their batch twins") {
    import graft.queries.Catalog
    def commits(query: String): Long = java.nio.file.Files.list(
        java.nio.file.Paths.get(Streams.gateCheckpoint(spark, query),
          "commits"))
      .filter(p => !p.getFileName.toString.startsWith(".")).count()
    val events = Tables.load(spark, sf(), "events")

    val x48 = Catalog.byName("x48_streaming_interval_join")
      .run(spark, sf()).collect().toSeq
    assert(commits("x48_out") == 1)
    val x48Twin = graft.operators.Temporal
      .rangeJoinWithin(events, "user_id", "event_id", "ts", 600)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(x48.nonEmpty && x48 == x48Twin)

    val x47 = Catalog.byName("x47_streaming_dedup")
      .run(spark, sf()).collect().toSeq
    assert(commits("x47_out") == 1)
    val x47Twin = events.select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect().toSeq
    assert(x47.nonEmpty && x47 == x47Twin)
  }

  test("plans whose last batch releases rows keep it: a left-outer " +
      "stream-stream join and a windowed append aggregation emit their " +
      "watermark-released rows, equal to the batch result") {
    import spark.implicits._
    val base = 1700000000L
    // the far-future user 9 event moves the watermark past every other
    // row; only the batch after the data batch can release those rows
    val rows = Seq((1L, 101L, 0L), (1L, 102L, 100L), (1L, 103L, 5000L),
        (2L, 201L, 50L), (9L, 901L, 100000L))
      .map { case (u, id, off) =>
        (u, id, new java.sql.Timestamp((base + off) * 1000L), "view", 1.5) }
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft-released")
    val src = dir.resolve("events").toString
    rows.write.parquet(src)
    val stream = spark.readStream.schema(rows.schema).parquet(src)
    def commits(query: String): Long = java.nio.file.Files.list(
        java.nio.file.Paths.get(Streams.gateCheckpoint(spark, query),
          "commits"))
      .filter(p => !p.getFileName.toString.startsWith(".")).count()

    def leftOuterPairs(events: DataFrame): DataFrame = {
      val w = events.withWatermark("ts", "1 second")
      val a = w.select($"user_id", $"event_id".as("id_a"), $"ts".as("ts_a"))
      val b = w.select($"user_id".as("__k"), $"event_id".as("id_b"),
        $"ts".as("ts_b"))
      a.join(b, $"user_id" === $"__k" && $"id_a" < $"id_b" &&
          $"ts_b" >= $"ts_a" - expr("INTERVAL 600 SECONDS") &&
          $"ts_b" <= $"ts_a" + expr("INTERVAL 600 SECONDS"), "left_outer")
        .select($"user_id", $"id_a", $"id_b")
    }
    def windowed(events: DataFrame): DataFrame =
      Streams.tumblingCounts(events.withWatermark("ts", "1 second"), "1 hour")
    val released = rows.filter($"user_id" =!= 9L)

    val pairs = leftOuterPairs(stream)
    assert(!Streams.lastBatchOnlyEvicts(pairs.queryExecution.analyzed))
    val gotPairs = Streams.runAvailableNowToDir(spark, pairs,
        "released_outer", statePartitions = Some(2))
      .orderBy("id_a", "id_b").collect().toSeq
    assert(commits("released_outer") == 2)
    val expPairs = leftOuterPairs(released).orderBy("id_a", "id_b")
      .collect().toSeq
    assert(expPairs.count(_.isNullAt(2)) == 3, "unmatched left rows")
    assert(gotPairs == expPairs)

    val counts = windowed(stream)
    assert(!Streams.lastBatchOnlyEvicts(counts.queryExecution.analyzed))
    val gotCounts = Streams.runAvailableNowToDir(spark, counts,
        "released_windows", statePartitions = Some(2))
      .orderBy("ws", "event_type").collect().toSeq
    assert(commits("released_windows") == 2)
    val expCounts = windowed(released).orderBy("ws", "event_type")
      .collect().toSeq
    assert(expCounts.size == 2 && gotCounts == expCounts)

    // and the plans that skip it: an inner interval join, a dedup
    assert(Streams.lastBatchOnlyEvicts(Streams.streamingIntervalSelfJoin(
      stream, "user_id", "event_id", "ts", "1 hour", 600)
      .queryExecution.analyzed))
    assert(Streams.lastBatchOnlyEvicts(Streams.streamingDedup(stream,
      Seq("user_id"), "ts", "1 hour").queryExecution.analyzed))
    assert(Streams.lastBatchOnlyEvicts(stream.distinct()
      .queryExecution.analyzed))
    assert(!Streams.lastBatchOnlyEvicts(stream.groupBy("user_id").count()
      .queryExecution.analyzed))
  }

  test("the session's checkpoint manager writes atomically: no " +
      "overwrite unless asked, and cancel leaves no file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-atomic")
    val fm = CheckpointFileManager.create(new Path(dir.toString),
      spark.sessionState.newHadoopConf())
    val target = new Path(dir.toString, "0")
    def write(text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(target, overwriteIfPossible = overwrite)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    def read(): String = new String(java.nio.file.Files.readAllBytes(
      dir.resolve("0")), "UTF-8")
    def names(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).toSet
    }

    // the offset and commit logs write each batch file this way: a
    // second writer of the same batch must fail, not replace it
    write("old", overwrite = false)
    assert(read() == "old")
    intercept[java.io.IOException](write("new", overwrite = false))
    assert(read() == "old", "a refused rename must keep the old bytes")
    // state stores write deltas and snapshots with overwriteIfPossible,
    // which Spark defines as best effort and never an error. The
    // session's file: file system renames onto an existing file, so
    // the new version replaces the old one whole, .crc sidecar included
    write("newer", overwrite = true)
    assert(read() == "newer")
    assert(fm.open(target).readAllBytes().sameElements("newer".getBytes("UTF-8")),
      "the checksummed read must verify the replaced file")

    val cancelled = new Path(dir.toString, "1")
    val out = fm.createAtomic(cancelled, overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(!fm.exists(cancelled))
    assert(!names().exists(n => n == "1" || n.startsWith(".1")),
      s"cancel left a file behind: ${names()}")
  }
}
