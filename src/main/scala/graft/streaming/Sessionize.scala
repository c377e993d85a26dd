package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** User sessionization with an inactivity gap, batch forms. The
  * streaming form is the native `session_window` aggregate,
  * [[Streams.streamingSessionize]], hash-gated against these (x52).
  *
  * Two window passes (lag → boundary flags → running sum), one shuffle
  * on user_id; the per-user window never materializes the whole user's
  * history beyond the sort — scales to arbitrary users since
  * partitioning is by user_id, not global.
  */
object Sessionize {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      value: Double)

  /** Batch sessionization; deterministic total order (ts, event_id)
    * inside each user. `gapSeconds` of inactivity closes a session.
    * Gaps compare at microsecond precision (the storage precision of
    * the event data) — NOT via second-truncating unix_timestamp — so
    * batch and streaming split sub-second data identically.
    *
    * Boundary semantics match Spark's native `session_window`: an
    * event EXACTLY `gap` after the previous one MERGES into the same
    * session (Spark merges a window whose start equals the current
    * session's end — equality is INSIDE; verified empirically against
    * both the batch and streaming session_window paths by
    * `SessionizeSpec`'s exact-gap test, since the two forms must
    * stay interchangeable). A new session requires a gap STRICTLY
    * longer than `gapSeconds`.
    *
    * Scale note: the lag/cumsum pass is per-user windows, so one task
    * buffers ONE user's events — the right bound for human-scale
    * users. A bot-grade key with a corpus-share event history funnels
    * that user through one task; for that shape use
    * [[batchSessionsSharded]], which bounds per-task work to one
    * (user, time-bucket) slice and is bit-identical to this form. */
  def batchSessions(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    val flagged = events.withColumn("is_new",
      when(prev.isNull ||
        (unix_micros(col("ts")) - unix_micros(prev)) > gapSeconds * 1000000L, 1)
        .otherwise(0))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessionAgg(flagged
      .withColumn("sess_id", sum(col("is_new")).over(cum).cast("long")))
  }

  /** The shared closing aggregation — both batch forms end here, so
    * their outputs are bit-identical by construction (min/max/count
    * and a DECIMAL(18,2) sum are input-order-independent). */
  private def sessionAgg(withSessId: DataFrame): DataFrame =
    withSessId
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))

  /** [[batchSessions]] with the per-user window SEGMENTED by fixed
    * time buckets — same output bit-for-bit, but no task ever holds
    * more than one (user, time-bucket) slice of the timeline.
    *
    * The r17 election rewrites looked at this operator and (briefly)
    * called the per-pair gap dependency irreducible. It is not: gap
    * sessionization is a SEGMENTED computation, the same two-level
    * shape as `Packing.groupedInclusiveRunningSum` —
    *
    *  1. in-bucket pass: lag + boundary flags + a running flag count
    *     over (user_id, bucket) — a window whose partition is bounded
    *     by the user's event density × `bucketSeconds`, the knob the
    *     caller controls, NOT by the user's total history;
    *  2. bucket summaries: one groupBy (user_id, bucket) row each —
    *     first/last event micros and the in-bucket new-session count;
    *  3. per-user seam pass over SUMMARIES ONLY: lag(last_us) across
    *     buckets decides whether each bucket's FIRST event opens a
    *     session (the one consecutive pair the in-bucket pass cannot
    *     see — buckets partition the timeline, so every (prev, cur)
    *     pair is either in-bucket or a bucket seam; sparse/empty
    *     buckets need no care since lag skips to the previous
    *     NON-EMPTY bucket), and a running sum of per-bucket session
    *     counts gives each bucket's session-id offset. This window's
    *     partition is ≤ timespan/bucketSeconds rows per user —
    *     independent of event volume;
    *  4. join the summaries back on (user_id, bucket) — an
    *     AQE-skew-splittable equi-join, unlike a window — and
    *     sess_id = offset + first-event flag + in-bucket running
    *     count. The session-id cumsum is associative, which is
    *     exactly why the offset decomposition is exact.
    *
    * Bucket assignment floor-divides event micros (pmod keeps
    * pre-epoch timestamps correct), so equal timestamps always share
    * a bucket and in-bucket (ts, event_id) order concatenated by
    * bucket equals the global per-user order — the determinism
    * [[batchSessions]] pins.
    *
    * Cost: two extra exchanges (summary groupBy + join-back) over the
    * plain form's one — the same priced trade as every r17 election
    * rewrite. Default `bucketSeconds` of one day keeps seam summaries
    * tiny for human users while capping a bot key's per-task slice at
    * one day of its events.
    *
    * The flagged frame feeds TWO arms (the join-back and the bucket
    * summaries); the summaries arm recomputes the scan + in-bucket
    * window — column-pruned to the lag pass only, and recompute keeps
    * full lineage, same contract as `Packing.inclusiveRunningSum`. */
  def batchSessionsSharded(events: DataFrame, gapSeconds: Long,
      bucketSeconds: Long = 86400L): DataFrame = {
    val gapUs = gapSeconds * 1000000L
    val bucketUs = Math.multiplyExact(bucketSeconds, 1000000L)

    val ev = events
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__bkt",
        graft.functions.TimeFunctions.floorDivLong(col("__us"), bucketUs))

    // 1. in-bucket: flags for every consecutive pair INSIDE a bucket;
    //    a bucket's first event is flagged at the seam pass instead
    val wIn = Window.partitionBy(col("user_id"), col("__bkt"))
      .orderBy(col("ts"), col("event_id"))
    val prevUs = lag(col("__us"), 1).over(wIn)
    val flagged = ev
      .withColumn("__new_in",
        when(prevUs.isNotNull && col("__us") - prevUs > gapUs, 1).otherwise(0))
      .withColumn("__cum_in", sum(col("__new_in"))
        .over(wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // 2. + 3. bucket summaries, then the per-user seam pass over them
    val summaries = flagged.groupBy(col("user_id"), col("__bkt"))
      .agg(min(col("__us")).as("__first_us"), max(col("__us")).as("__last_us"),
        sum(col("__new_in")).as("__n_in"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("__bkt"))
    val prevLast = lag(col("__last_us"), 1).over(wU)
    val seamed = summaries
      .withColumn("__first_new",
        when(prevLast.isNull || col("__first_us") - prevLast > gapUs, 1)
          .otherwise(0))
      .withColumn("__off", sum(col("__first_new") + col("__n_in"))
        .over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - (col("__first_new") + col("__n_in")))
      .select(col("user_id"), col("__bkt"), col("__first_new"), col("__off"))

    // 4. join back; global cumsum = prior-bucket offset + this
    //    bucket's first-event flag + the in-bucket running count
    sessionAgg(flagged.join(seamed, Seq("user_id", "__bkt"))
      .withColumn("sess_id",
        (col("__off") + col("__first_new") + col("__cum_in")).cast("long")))
  }
}
