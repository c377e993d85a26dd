package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate,
  DeduplicateWithinWatermark, EventTimeWatermark, Filter, Join, LeafNode,
  LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.sources.Locations

/** Structured Streaming surface over the `events` table shape.
  *
  * The reference has no streaming (SURVEY.md §2.7); this is the
  * driver-mandated extension. The transformation is shared between the
  * batch catalog entry (x13_stream_tumbling_window) and the streaming
  * plan below, so batch output is the oracle for streaming output —
  * the standard Structured Streaming testing idiom.
  */
object Streams {

  /** Tumbling-window aggregation, identical logical shape for batch and
    * streaming inputs. With a watermark the state store evicts windows
    * older than `ts - delay` — bounded state at 100 TB/day rates. */
  def tumblingCounts(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

  /** File-source streaming read of an events directory with the given
    * schema; watermarked so aggregation state is bounded. */
  def streamingTumblingCounts(spark: SparkSession, dir: String,
      schema: StructType, windowLen: String, watermark: String): DataFrame =
    tumblingCounts(
      spark.readStream.schema(schema).parquet(dir)
        .withWatermark("ts", watermark),
      windowLen)

  /** Streaming exact dedup: drop rows whose key was already seen within
    * the watermark horizon — the ingestion-time half of the batch dedup
    * operators (Dedup.exactKeepFirst). State is bounded by the
    * watermark: keys older than `delay` are evicted, so state size
    * tracks the duplicate-arrival window, not the stream's history. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String, delay: String): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming sessionization via the NATIVE session_window aggregate
    * — the ingestion-time twin of the batch x14b form (merge-on-
    * overlap; session end = last event + gap). With `watermark`
    * (append mode) a session finalizes — and its state evicts — once
    * the watermark passes session end + gap, so state tracks OPEN
    * sessions only, not stream history: the unbounded-stream shape.
    * With `watermark = None` the aggregation runs un-watermarked for
    * complete-mode runs over a BOUNDED fixture (the transitive-oracle
    * gate), where every session is final by construction once the
    * files are drained. Same schema as the batch twin either way. */
  def streamingSessionize(events: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, gap: String,
      watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(events)(events.withWatermark(tsCol, _))
    in.groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))
      .select(col(keyCol), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"),
        col("sum_value"))
  }

  /** Stream-stream interval self-join: pairs of same-key events whose
    * timestamps lie within `withinSec` of each other (id_a < id_b) —
    * the streaming twin of Temporal.rangeJoinWithin (hash-verified as
    * x16). Both sides are watermarked and the join condition bounds
    * the event-time range, so each side's buffered state evicts rows
    * older than watermark + tolerance — the canonical bounded-state
    * stream-stream join. */
  def streamingIntervalSelfJoin(events: DataFrame, keyCol: String,
      idCol: String, tsCol: String, delay: String,
      withinSec: Long): DataFrame = {
    val a = events.withWatermark(tsCol, delay)
      .select(col(keyCol), col(idCol).as("id_a"), col(tsCol).as("ts_a"))
    val b = events.withWatermark(tsCol, delay)
      .select(col(keyCol).as("__k"), col(idCol).as("id_b"),
        col(tsCol).as("ts_b"))
    a.join(b,
        col(keyCol) === col("__k") && col("id_a") < col("id_b") &&
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $withinSec SECONDS") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $withinSec SECONDS"))
      .select(col(keyCol), col("id_a"), col("id_b"))
  }

  /** Stream-static enrichment: join each micro-batch against a
    * static dimension, broadcast so the stream side never shuffles
    * (the canonical "decorate events with reference data" pattern —
    * Spark re-plans the static side per micro-batch, so a re-read
    * dimension table picks up updates between batches). Left join:
    * an event must never be DROPPED because its dimension row is
    * missing — downstream filters decide, not the enrichment. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      keyCols: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keyCols, "left")

  /** Exactly-once parquet sink via foreachBatch: each micro-batch
    * lands in its own `batch_id=<n>` directory with mode overwrite,
    * so a replayed batch (failure between sink write and checkpoint
    * commit — the at-least-once window every foreachBatch sink has)
    * OVERWRITES its own directory instead of duplicating rows.
    * Deterministic-target + overwrite is the standard idempotence
    * recipe when the sink is not transactional; the checkpoint dir
    * carries the stream's progress. Readers see the union via
    * hive-partition discovery on batch_id. */
  def idempotentParquetSink(streaming: DataFrame, dir: String,
      checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    val w = streaming.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, dir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
    trigger.fold(w)(w.trigger).start()
  }

  /** Await a query's termination AND its deregistration from the
    * session's StreamingQueryManager. `awaitTermination` alone returns
    * when the stream's state flips to TERMINATED, but the manager
    * unregisters the run asynchronously — a restart on the SAME
    * checkpoint racing that window fails with "multiple streaming
    * queries are concurrently using <checkpoint>". Restart-based
    * flows (the forced-replay verification) must use this. */
  def awaitTerminationAndUnregister(spark: SparkSession,
      q: StreamingQuery): Unit = {
    q.awaitTermination()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.runId == q.runId) &&
        System.nanoTime() < deadline)
      Thread.sleep(20)
    require(!spark.streams.active.exists(_.runId == q.runId),
      s"query ${q.runId} still registered 30s after termination")
  }

  /** Force the at-least-once replay window on a FINISHED
    * [[idempotentParquetSink]] run: delete the newest entry in the
    * checkpoint's commits/ log, so the next restart finds its offsets
    * log one batch ahead of its commits log and RE-EXECUTES that
    * batch through foreachBatch — exactly the crash-between-sink-
    * write-and-checkpoint-commit window the idempotent sink exists
    * for. Returns the replayed batch id. Test/verification surface:
    * production failures produce this state on their own. */
  def forceLastBatchReplay(checkpointDir: String): Long = {
    val commits = new java.io.File(s"$checkpointDir/commits")
    val entries = Option(commits.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit))
    require(entries.nonEmpty, s"no commits under $checkpointDir to replay")
    val last = entries.maxBy(_.getName.toLong)
    require(last.delete(), s"could not delete commit ${last.getName}")
    // the local checkpoint FS is checksummed: a stale .N.crc sibling
    // would fail the re-commit's rename with FileAlreadyExists —
    // remove it with the data file, like FileSystem.delete would
    new java.io.File(commits, s".${last.getName}.crc").delete()
    last.getName.toLong
  }

  /** The sink body of [[idempotentParquetSink]], exposed so replay
    * idempotence is directly testable: same (batch, id) written twice
    * must leave exactly one copy.
    *
    * Reader-isolation caveat: mode-overwrite of `batch_id=<n>` is not
    * atomic — a concurrent reader doing partition discovery DURING a
    * replay can observe a partially-deleted/partially-committed batch
    * directory. The exactly-once claim is about the sink's EVENTUAL
    * state (no duplicates once the rewrite completes), not snapshot
    * isolation for concurrent readers; a deployment needing reader
    * isolation should layer a table format with atomic commit
    * (staging-dir + rename, or a transactional table format) over
    * this directory contract. */
  def writeBatchIdempotent(batch: DataFrame, dir: String,
      batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** Executed physical plan of the LAST micro-batch each
    * [[runAvailableNow]] query ran, keyed by query name. Lets tests
    * hard-gate the STREAMING plan shape directly (e.g. "no shuffle
    * below the stream-side anti-join") instead of inferring it from a
    * batch twin whose planner path can differ. Holds only the most
    * recent plan per name; test/diagnostic surface, not a public API. */
  private val lastPlans =
    new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()

  def lastExecutedPlan(queryName: String): Option[SparkPlan] =
    Option(lastPlans.get(queryName))

  /** State-partition override from the environment — the
    * scale-rehearsal knob: catalog entries pin the fixture-scale value
    * (8), and a deep-scale run (SCALE.md) resizes state without
    * editing every entry. Unset in normal operation. The value is
    * VALIDATED (a malformed export fails with an actionable message,
    * not a NumberFormatException mid-harness) and its activation is
    * LOGGED, because it silently changes every gate run's state sizing
    * otherwise. The variable is `SPARK_GRAFT_STATE_PARTITIONS` (the
    * SPARK_GRAFT_ prefix every other rehearsal knob uses). */
  private[graft] def statePartitionsOverride(): Option[Int] =
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").map { v =>
      val parsed = v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_STATE_PARTITIONS must be a positive integer, " +
            s"got '$v'"))
      Console.err.println(s"[graft] SPARK_GRAFT_STATE_PARTITIONS=$parsed " +
        "overrides statePartitions for this run")
      parsed
    }

  /** Spark's bundled RocksDB state store provider — the scale-safe
    * alternative to the default heap-backed provider: state lives in
    * native memory + local disk instead of competing with task memory
    * in executor heap, which is what a 100 TB/day in-band key set
    * (dedup digests, join buffers, open sessions) needs. One conf,
    * same checkpoints-per-partition layout, same results (rehearsed:
    * SCALE.md "RocksDB state store rehearsal"). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** The default heap-backed provider. */
  val HeapProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"

  /** Shape of a streaming operator's keyed state, the axis the
    * measured provider costs split on (SCALE.md "RocksDB state store
    * rehearsal"): aggregation-shaped state (dedup digests, windowed
    * aggs, sessions — one store access per key per batch) runs at
    * parity or better under RocksDB, while join-shaped state (the
    * symmetric-hash stream-stream join — 4 stores touched per input
    * row, point lookups both sides) pays ~4× through JNI. */
  sealed trait StateShape
  case object AggregationState extends StateShape
  case object JoinState extends StateShape

  /** The provider-choice rule, mechanized from the sf10 A/B
    * measurements (SCALE.md r11/r12; prose in TUNING.md "Streaming
    * state"): heap while the projected state comfortably fits the
    * executor heap, RocksDB once it rivals task memory — with the
    * switch point per state SHAPE:
    *
    *   - aggregation: switch at 2% of heap. RocksDB is wall-parity
    *     here (sf10: 17.6 s vs heap's 20.7 s), so the insurance is
    *     ~free and the threshold only guards against paying RocksDB's
    *     fixed overhead on trivially small state (x48-scale gates:
    *     5.4 s vs 3.4 s).
    *   - join: switch at 10% of heap. The ~4× JNI wall is real and
    *     tuning does not remove it, so heap is kept until the state
    *     actually threatens executor survival — the same arithmetic
    *     that OOMed x19 at sf10/32g (state ≥ ~13% of heap shared
    *     with 32 concurrent tasks).
    *
    * `projectedStateBytes` is the caller's estimate for THIS query
    * (peak `stateOperators.memoryUsedBytes` from a rehearsal, or
    * rows × bytes/row arithmetic); `executorHeapBytes` defaults to
    * this JVM's -Xmx. */
  def chooseStateStoreProvider(shape: StateShape,
      projectedStateBytes: Long,
      executorHeapBytes: Long = Runtime.getRuntime.maxMemory): String = {
    require(projectedStateBytes >= 0 && executorHeapBytes > 0,
      "state and heap sizes must be non-negative / positive")
    val threshold = shape match {
      case AggregationState => 0.02
      case JoinState        => 0.10
    }
    if (projectedStateBytes > executorHeapBytes * threshold)
      RocksDbProvider
    else HeapProvider
  }

  /** Apply [[chooseStateStoreProvider]] to the session (logged), for
    * stream queries planned after this call. Returns the chosen
    * class. An explicit SPARK_GRAFT_STATE_STORE override still wins
    * at gate-run time ([[withStreamConfs]] applies it last). */
  def applyStateStore(spark: SparkSession, shape: StateShape,
      projectedStateBytes: Long,
      executorHeapBytes: Long = Runtime.getRuntime.maxMemory): String = {
    val cls = chooseStateStoreProvider(shape, projectedStateBytes,
      executorHeapBytes)
    Console.err.println(s"[graft] applyStateStore($shape, " +
      s"state=${projectedStateBytes / (1024 * 1024)}MB, " +
      s"heap=${executorHeapBytes / (1024 * 1024)}MB) -> $cls")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
    cls
  }

  /** Bounded-memory + changelog-checkpoint RocksDB settings (the r12
    * tuning rehearsal, SCALE.md): caps the TOTAL RocksDB native
    * footprint per executor (block cache + memtables share one
    * budget — unbounded, each of the join's 4 stores × partitions
    * sizes itself independently), and replaces full-snapshot uploads
    * with changelog files at commit (the snapshot moves to the
    * background maintenance thread). Session-level confs: set before
    * the stream starts. */
  def rocksDbTuningConfs(maxMemoryMB: Long,
      writeBufferRatio: Double = 0.5,
      highPriorityPoolRatio: Double = 0.1,
      changelogCheckpointing: Boolean = true): Map[String, String] = {
    require(maxMemoryMB > 0, s"maxMemoryMB must be positive")
    val p = "spark.sql.streaming.stateStore.rocksdb."
    Map(
      s"${p}boundedMemoryUsage" -> "true",
      s"${p}maxMemoryUsageMB" -> maxMemoryMB.toString,
      s"${p}writeBufferCacheRatio" -> writeBufferRatio.toString,
      s"${p}highPriorityPoolRatio" -> highPriorityPoolRatio.toString,
      s"${p}changelogCheckpointing.enabled" ->
        changelogCheckpointing.toString)
  }

  /** State-store provider override from the environment:
    * SPARK_GRAFT_STATE_STORE=rocksdb routes every [[runAvailableNow]] /
    * [[runAvailableNowToDir]] gate run through [[RocksDbProvider]];
    * =hdfs pins the default heap-backed provider; unset inherits the
    * session. Validated + logged like [[statePartitionsOverride]]. */
  private[graft] def stateStoreProviderOverride(): Option[String] =
    sys.env.get("SPARK_GRAFT_STATE_STORE").map { v =>
      val cls = v.trim.toLowerCase match {
        case "rocksdb" => RocksDbProvider
        case "hdfs" | "heap" | "default" => HeapProvider
        case other => throw new IllegalArgumentException(
          "SPARK_GRAFT_STATE_STORE must be rocksdb|hdfs, got " +
            s"'$other'")
      }
      Console.err.println(
        s"[graft] SPARK_GRAFT_STATE_STORE=$v selects $cls")
      cls
    }

  /** Set the streaming-scoped confs for the duration of `body`,
    * restoring the previous values after: shuffle partitions (= state
    * store count), the state store provider, and no no-data micro-batch
    * where [[lastBatchOnlyEvicts]] holds for `streaming`. All three are
    * read when the query starts, so the temporary setting cannot affect
    * batch plans in flight. */
  private def withStreamConfs[A](spark: SparkSession, streaming: DataFrame,
      statePartitions: Option[Int])(body: => A): A = {
    val confs = Seq(
      statePartitionsOverride().orElse(statePartitions)
        .map("spark.sql.shuffle.partitions" -> _.toString),
      stateStoreProviderOverride()
        .map("spark.sql.streaming.stateStore.providerClass" -> _),
      Some("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
        .filter(_ => lastBatchOnlyEvicts(streaming.queryExecution.analyzed))
    ).flatten
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Whether a bounded run of `plan` may skip the no-data micro-batch
    * that Spark runs after the last data batch to advance the
    * watermark. It holds when every stateful node of the plan is an
    * inner stream-stream join or a deduplication: those emit nothing
    * when the watermark moves, they only evict state, and a gate run's
    * state is deleted with its checkpoint. An aggregation (a session
    * window is one), an outer or semi stream-stream join,
    * `(flat)MapGroupsWithState`, `transformWithState` or any node not
    * known to be stateless may release rows in that batch, so such a
    * plan keeps it. */
  private[graft] def lastBatchOnlyEvicts(plan: LogicalPlan): Boolean =
    plan.collect { case n if n.isStreaming => n }.forall {
      case j: Join if j.left.isStreaming && j.right.isStreaming =>
        j.joinType == Inner
      case _: Join | _: Deduplicate | _: DeduplicateWithinWatermark |
          _: Project | _: Filter | _: EventTimeWatermark | _: Union |
          _: SubqueryAlias | _: LeafNode => true
      case _ => false
    }

  /** Run a streaming DataFrame over currently-available input with
    * `Trigger.AvailableNow` and an APPEND-mode memory sink; returns the
    * materialized result as a batch DataFrame once the query
    * self-terminates. This is the transitive-oracle harness: a
    * streaming plan run this way over a static fixture must equal its
    * batch twin, and the batch twin has a DuckDB oracle — so the
    * streaming operators get hash-gated without DuckDB ever needing to
    * understand a stream. Append mode is what the stateful operators
    * (dedup, stream-stream join) require; a fresh implicit temp
    * checkpoint per call means every invocation reprocesses the full
    * fixture (deterministic, re-runnable under the bench).
    *
    * `statePartitions` sizes the stateful operators' shuffle — and
    * therefore the number of state store instances, which is STICKY
    * for the checkpoint's lifetime and is pure fixed overhead when
    * oversized: at the fixture scale, 32 stores made the
    * stream-stream join ~2.5× slower than 8 (r9 measurement, ~9 s vs
    * ~4 s) with identical output. Size it to stream volume on a real
    * deployment; None inherits the session setting.
    *
    * A plan whose stateful nodes are all inner stream-stream joins or
    * deduplications (x47, x48) runs without the no-data micro-batch
    * that would follow its last data batch: that batch would only
    * evict state the next run discards. Every other stateful plan (an
    * aggregation, a session window, an outer or semi join, a
    * `(flat)MapGroupsWithState`) keeps it, because it releases the
    * rows the final watermark closes ([[lastBatchOnlyEvicts]]). The
    * same holds for [[runAvailableNowToDir]] and
    * [[runAvailableNowToDirComplete]]. */
  def runAvailableNow(spark: SparkSession, streaming: DataFrame,
      queryName: String, statePartitions: Option[Int] = None,
      outputMode: String = "append"): DataFrame = {
    spark.catalog.dropTempView(queryName)
    withStreamConfs(spark, streaming, statePartitions) {
      val q: StreamingQuery = streaming.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(queryName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      stashLastPlan(queryName, q)
      spark.table(queryName)
    }
  }

  /** The checkpoint of the latest gate run named `queryName`
    * ([[runAvailableNowToDir]], [[runAvailableNowToDirComplete]]). */
  def gateCheckpoint(spark: SparkSession, queryName: String): String =
    s"${Locations.runRoot(spark)}/${gate(queryName)}/ckpt"

  private def gate(queryName: String): String = s"stream_gate/$queryName"

  /** The sink and checkpoint dirs of gate run `queryName`, under its
    * run location, emptied so every invocation reprocesses the full
    * fixture, like the memory-sink form. */
  private def freshGate(spark: SparkSession,
      queryName: String): (String, String) =
    (s"${Locations.run(spark, gate(queryName))}/out",
      gateCheckpoint(spark, queryName))

  /** Append-mode gate run with a PARQUET sink + read-back instead of
    * the memory sink: the emitted rows land in the gate's run location
    * ([[freshGate]]) and the returned frame READS that directory — so
    * no emitted row ever crosses the driver, retiring the
    * spark.driver.maxResultSize ceiling the memory sink hits at sf10
    * (SCALE.md, ~9.5M rows ≈ >1 GiB serialized). Use this for every
    * append-mode gate; the memory sink remains only where COMPLETE
    * mode is semantically required (the file sink is append-only by
    * contract — complete-mode re-emission would duplicate rows in the
    * directory). */
  def runAvailableNowToDir(spark: SparkSession, streaming: DataFrame,
      queryName: String, statePartitions: Option[Int] = None)
      : DataFrame = {
    val (out, ckpt) = freshGate(spark, queryName)
    withStreamConfs(spark, streaming, statePartitions) {
      val q: StreamingQuery = streaming.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      stashLastPlan(queryName, q)
      // the streamed schema, not inference: an all-rows-filtered run
      // must still return an EMPTY frame with the right columns
      spark.read.schema(streaming.schema).parquet(out)
    }
  }

  /** COMPLETE-mode gate run with a foreachBatch parquet sink instead
    * of the memory sink: complete mode re-emits the FULL result every
    * micro-batch, which an append-only file sink cannot express — but
    * a whole-directory OVERWRITE per batch can, and under
    * Trigger.AvailableNow the final directory state is exactly the
    * final batch's full result. No emitted row crosses the driver, so
    * the complete-mode gates survive result sets past
    * spark.driver.maxResultSize (the sf10 sessionize ceiling,
    * SCALE.md). Deployment note: this sink shape is for BOUNDED gate
    * runs; an unbounded complete-mode stream rewrites its whole result
    * every batch by definition — that cost is the mode's, not the
    * sink's. */
  def runAvailableNowToDirComplete(spark: SparkSession,
      streaming: DataFrame, queryName: String,
      statePartitions: Option[Int] = None): DataFrame = {
    val (out, ckpt) = freshGate(spark, queryName)
    withStreamConfs(spark, streaming, statePartitions) {
      val q: StreamingQuery = streaming.writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      stashLastPlan(queryName, q)
      // an empty source runs ZERO micro-batches, so foreachBatch never
      // fires and `out` is never created — mirror the append sink's
      // contract (empty frame, right columns) instead of throwing
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          streaming.schema).write.parquet(out)
      spark.read.schema(streaming.schema).parquet(out)
    }
  }

  private def stashLastPlan(queryName: String, q: StreamingQuery): Unit =
    q match {
      case w: StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution)
          .foreach(e => lastPlans.put(queryName, e.executedPlan))
      case _ => ()
    }

  /** Run a streaming DataFrame to completion against currently-available
    * files via the in-memory sink; returns the materialized result. */
  def runToMemorySink(spark: SparkSession, streaming: DataFrame,
      queryName: String): DataFrame = {
    val q: StreamingQuery = streaming.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
