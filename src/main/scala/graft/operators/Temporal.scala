package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively.
  *
  * The as-of join (`left` row ⟵ most recent `right` row with
  * right.ts <= left.ts per key) is composed from built-ins — the
  * union-tag-and-carry-forward technique — rather than a custom
  * SparkPlan: one union, one window keyed by the join key, one filter.
  * The window partitions by key only, so state per partition is one
  * key's timeline — no range-explosion, no cross product, but a
  * hot key (90%+ of both sides on one id) funnels its merged
  * timeline through one task; [[asOfJoinLeftSharded]] is the
  * bit-identical segmented form with a per-task bound of one
  * (key, time-bucket) slice. DuckDB's native `ASOF LEFT JOIN` is
  * the oracle for both.
  */
object Temporal {

  /** Left as-of join: every left row picks the latest right row with
    * `rightTs <= leftTs` for the same key (ties on ts resolved toward
    * the largest `rightOrder` value, deterministically).
    *
    * @param left       probe side (all columns preserved)
    * @param right      reference side; its payload columns are carried
    * @param keyCol     equi-key name present on both sides
    * @param tsCol      event-time column name present on both sides
    * @param rightOrder tie-break column on the right side
    * @param payload    right-side columns to carry (each becomes
    *                   `asof_<name>`, NULL when no match exists)
    */
  def asOfJoinLeft(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightOrder: String, payload: Seq[String]): DataFrame = {
    val (union, leftCols) =
      asOfUnion(left, right, keyCol, tsCol, rightOrder, payload)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__tag"), col("__ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = union
      .select((Seq(col(keyCol), col(tsCol), col("__tag")) ++
        leftCols.filterNot(Seq(keyCol, tsCol).contains).map(col) :+
        last(col("__p"), ignoreNulls = true).over(w).as("__p")): _*)
    asOfProject(carried.filter(col("__tag") === 1), leftCols, payload)
  }

  /** The tagged union both as-of forms run over.
    *
    * The payload travels as ONE struct carried by a single
    * last(ignoreNulls) — the struct is non-null for every right row
    * (even when all its FIELDS are null), so the whole payload always
    * comes from the one matched right row and row-level NULL payload
    * values survive verbatim, exactly like a native ASOF LEFT JOIN.
    * (Carrying each column separately would backfill a NULL field
    * from an OLDER right row — the per-column lasts could even source
    * different rows.) Tag 0 sorts before tag 1 at equal ts: a right
    * row AT the probe timestamp is eligible (<= semantics). */
  private def asOfUnion(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightOrder: String,
      payload: Seq[String]): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns.toSeq
    val payloadType = StructType(
      payload.map(c => StructField(c, right.schema(c).dataType)))
    val taggedRight = right.select(
      (Seq(col(keyCol), col(tsCol), lit(0).as("__tag"),
        col(rightOrder).as("__ord"),
        struct(payload.map(col): _*).as("__p")) ++
        leftCols.filterNot(Seq(keyCol, tsCol).contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val taggedLeft = left.select(
      (Seq(col(keyCol), col(tsCol), lit(1).as("__tag"),
        lit(null).cast(right.schema(rightOrder).dataType).as("__ord"),
        lit(null).cast(payloadType).as("__p")) ++
        leftCols.filterNot(Seq(keyCol, tsCol).contains).map(col)): _*)
    (taggedRight.unionByName(taggedLeft), leftCols)
  }

  private def asOfProject(matched: DataFrame, leftCols: Seq[String],
      payload: Seq[String]): DataFrame =
    matched.select(leftCols.map(col) ++
      payload.map(c => col("__p").getField(c).as(s"asof_$c")): _*)

  /** [[asOfJoinLeft]] with the per-key carry SEGMENTED by fixed time
    * buckets — same output bit-for-bit, but no task ever holds more
    * than one (key, time-bucket) slice of the merged timeline (the
    * plain form funnels a hot key's entire left+right history through
    * one WindowExec task).
    *
    * Why it decomposes: the carry is a running last-non-null, an
    * associative combine (x ⊕ y = if y≠null then y else x), so — like
    * `Sessionize.batchSessionsSharded`'s session-id cumsum — it
    * splits into an in-bucket scan plus a per-key pass over BUCKET
    * SUMMARIES:
    *
    *  1. in-bucket: the same ordered last-non-null carry, keyed
    *     (key, bucket) — partition bounded by the key's event density
    *     × `bucketSeconds`, the caller's knob;
    *  2. summaries: each bucket's carry at its LAST row (elected via
    *     max(struct(row_number, carry)) — the running carry is
    *     monotone in non-nullness, so the last row holds the bucket's
    *     last non-null payload or null if none);
    *  3. per-key seam pass over summaries (≤ timespan/bucketSeconds
    *     rows per key): the strictly-previous-buckets last-non-null,
    *     again a tiny last(ignoreNulls) window;
    *  4. join back on (key, bucket) — AQE-skew-splittable, unlike a
    *     window — and the global carry is
    *     coalesce(in-bucket carry, previous-buckets carry).
    *
    * The carried frame feeds TWO arms (summaries and the join-back);
    * the summaries arm recomputes the union + in-bucket window,
    * column-pruned — same contract as `Packing.inclusiveRunningSum`.
    *
    * Unlike the plain form (which orders by any comparable `tsCol`),
    * this form requires `tsCol` to be a TIMESTAMP — `bucketSeconds`
    * is a wall-clock width and bucketing floor-divides event
    * microseconds. */
  def asOfJoinLeftSharded(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, rightOrder: String,
      payload: Seq[String], bucketSeconds: Long = 86400L): DataFrame = {
    val (union, leftCols) =
      asOfUnion(left, right, keyCol, tsCol, rightOrder, payload)
    // equal timestamps share a bucket, so per-bucket (ts, tag, ord)
    // order concatenated by bucket equals the plain form's per-key
    // order
    val bucketed = union.withColumn("__bkt",
      graft.functions.TimeFunctions.timeBucketUs(col(tsCol), bucketSeconds))
    val wIn = Window.partitionBy(col(keyCol), col("__bkt"))
      .orderBy(col(tsCol), col("__tag"), col("__ord"))
    val carried = bucketed
      .withColumn("__p_in", last(col("__p"), ignoreNulls = true)
        .over(wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wIn))
    // __rn is unique per (key, bucket), so the struct max is the
    // bucket's last row — no null-ordering subtleties from __ord
    val summaries = carried.groupBy(col(keyCol), col("__bkt"))
      .agg(max(struct(col("__rn").as("rn"), col("__p_in").as("p")))
        .getField("p").as("__p_last"))
    val wK = Window.partitionBy(col(keyCol)).orderBy(col("__bkt"))
    val seamed = summaries
      .withColumn("__p_prev", last(col("__p_last"), ignoreNulls = true)
        .over(wK.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col(keyCol), col("__bkt"), col("__p_prev"))
    asOfProject(carried.join(seamed, Seq(keyCol, "__bkt"))
      .withColumn("__p", coalesce(col("__p_in"), col("__p_prev")))
      .filter(col("__tag") === 1), leftCols, payload)
  }

  /** Bounded range self-join: all pairs of rows sharing `keyCol` whose
    * timestamps lie within `toleranceSec` of each other (id_a < id_b).
    *
    * A naive theta-join is O(n²) per key; this composition buckets each
    * row onto a `toleranceSec` grid, replicates one side onto its
    * adjacent buckets (x3), equi-joins on (key, bucket), and applies
    * the exact interval filter — every qualifying pair meets in exactly
    * one bucket, so no dedup pass is needed and the join stays an
    * equi-join (shuffle keyed by (key, bucket), skew-splittable by
    * AQE). The standard interval-join shape for 100 TB event logs. */
  def rangeJoinWithin(events: DataFrame, keyCol: String, idCol: String,
      tsCol: String, toleranceSec: Long): DataFrame = {
    val tolMicros = toleranceSec * 1000000L
    val a = events.select(col(keyCol), col(idCol).as("id_a"),
      unix_micros(col(tsCol)).as("us_a"),
      floor(unix_micros(col(tsCol)) / tolMicros).as("__bucket"))
    val b = events.select(col(keyCol), col(idCol).as("id_b"),
        unix_micros(col(tsCol)).as("us_b"),
        explode(sequence(
          floor(unix_micros(col(tsCol)) / tolMicros) - 1,
          floor(unix_micros(col(tsCol)) / tolMicros) + 1)).as("__bucket"))
    a.join(b, Seq(keyCol, "__bucket"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("us_b") - col("us_a")) <= tolMicros)
      .select(col(keyCol), col("id_a"), col("id_b"))
  }
}
