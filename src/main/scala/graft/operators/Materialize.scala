package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one materialization policy of the operators. An operator whose
  * subtree feeds several consumers of the plan it RETURNS (a fork
  * point) or of its next loop round calls [[once]] on it; the caller
  * has no say, as in the reference, where each lazy frame is built
  * once and collected once.
  *
  * Why truncation and not a plain persist: under persist, a plan built
  * on the frame still nests the frame's whole lineage (cache
  * substitution is physical), so a loop's analysis cost grows every
  * round (measured 2x on x19 at sf0.1), and a returned plan re-plans
  * the source beside the cached relation. The safe way to truncate
  * depends on where the session runs:
  *
  *  - local master: eager `localCheckpoint` — flat lineage, and its
  *    one weakness (blocks pinned to executors, an executor loss kills
  *    the job) cannot occur in a single-JVM master, where any
  *    "executor" loss is already job loss;
  *  - cluster WITH a checkpoint dir: eager reliable `checkpoint` —
  *    same flat lineage, blocks in fault-tolerant storage (the
  *    GraphX/graphframes recipe for iterative passes);
  *  - cluster WITHOUT a checkpoint dir: persist MEMORY_AND_DISK —
  *    keeps full lineage (safe), computed once, spills instead of
  *    OOMing; accepts the growing-plan analysis cost. Set a checkpoint
  *    dir for long iterative runs.
  *
  * Eager loops that re-read a frame only inside the operator (the
  * Lloyd trainers, the BPE merge loop) persist and release it
  * themselves: nothing they return reads it.
  */
object Materialize {

  /** Where truncation is possible without a caveat: a local master
    * (localCheckpoint) or a cluster with a checkpoint dir. */
  def truncatable(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    sc.isLocal || sc.getCheckpointDir.isDefined
  }

  /** `df` computed once for every consumer, under the policy above. */
  def once(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // MEMORY_AND_DISK_SER, not the default deserialized level: the
    // local checkpoint's unroll buffer is then serialized bytes (the
    // ~5x smaller Tungsten row form) and evicts to disk under
    // pressure, so label propagation DEGRADES TO SPILL instead of
    // dying — at sf10 the deserialized form OOMed a 32 GiB single JVM
    // (32 concurrent tasks unrolling ~550 MiB blocks, SCALE.md); the
    // serialized form completes there with headroom. The extra
    // deser cost per round is noise next to the round's join+agg.
    if (sc.isLocal) df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    else if (sc.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** [[once]] whose result is guaranteed to have been MATERIALIZED BY
    * AN ACTION before this returns — required by every site that rides
    * an `observe()` metric on the materialization job: an Observation
    * only completes when a query execution actually RUNS over the
    * observed plan. The local and checkpoint-dir paths already run one
    * (eager localCheckpoint / reliable checkpoint); on the
    * cluster-without-checkpoint-dir fallback the frame is persisted and
    * then drained through one noop-sink write (touches every partition,
    * so the cache is fully populated AND the observation completes).
    * The checkpoint's size estimate is capped
    * (`GraftBridge.capSizeEstimate`): a loop round that joins its state
    * twice would otherwise square it. */
  def actioned(df: DataFrame): DataFrame =
    if (truncatable(df))
      org.apache.spark.sql.GraftBridge.capSizeEstimate(once(df))
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      p
    }
}
