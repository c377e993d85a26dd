package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Spark internals: wrapping a raw
  * `Expression` as a user-facing `Column` and back, a bounded wait on an
  * Observation, wrapping an analyzed plan as a DataFrame, capping a
  * checkpoint's carried size estimate, the cache manager's session, and
  * a nullable copy of a schema.
  */
object GraftBridge {

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Bounded-wait read of an Observation's metrics — used by
    * iterative loops that ride their convergence probe on a
    * materialization job and must FAIL LOUDLY if that job ever stops
    * completing the observed metrics, rather than park forever like
    * the public `get`.
    *
    * `private[sql]` `getOrEmpty` alone waits only 100 ms, and an
    * Observation is completed by a QueryExecutionListener on the
    * ASYNC ExecutionListenerBus — the SQLExecutionEnd event can
    * legitimately land later than that under listener-bus backlog or
    * a GC pause, even though the materializing action already
    * succeeded. So poll it in a bounded retry loop (default 10 s,
    * two orders of magnitude past observed listener latencies but
    * still a loud, finite failure if the metric genuinely never
    * completes) instead of treating one 100 ms miss as "empty". */
  def observedOrEmpty(obs: Observation,
      timeoutMs: Long = 10000L): Map[String, Any] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var m = obs.getOrEmpty
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50L)
      m = obs.getOrEmpty
    }
    m
  }

  /** Wrap an analyzed logical plan as a DataFrame — used by the
    * catalog's total-order checker to re-execute the PRE-limit input
    * of a top-k entry's Sort (a non-total key above a LIMIT picks
    * engine-dependent boundary rows, invisible in the post-limit
    * output). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` unchanged unless it is a checkpointed frame (one
    * `LogicalRDD`) whose carried size estimate exceeds
    * `spark.sql.defaultSizeInBytes`; then the same frame with the
    * estimate capped there. A checkpoint carries the size estimate of
    * the plan it cut, but not that plan's distinct keys, and Spark
    * sizes a join without a distinct side as the product of its sides:
    * a loop whose round joins its checkpointed state twice squares the
    * estimate every round, a BigInt whose digits double per round and
    * whose arithmetic stalls planning by round ~20. Above the cap no
    * planning decision reads the exact value (nothing that large is
    * broadcast or hashed locally), so capping changes no plan. */
  def capSizeEstimate(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val session = ds.sparkSession
    val cap = BigInt(session.sessionState.conf.defaultSizeInBytes)
    ds.logicalPlan match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.stats.sizeInBytes > cap =>
        org.apache.spark.sql.classic.Dataset.ofRows(session, l.copy()(session,
          Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(cap)),
          Some(l.constraints)))
      case _ => df
    }
  }

  /** `spark` if the cache manager would plan a persisted frame in it
    * as is, else a clone with the configurations off that the cache
    * manager turns off for every plan it stores (the rule of
    * `CacheManager.getOrCloneSessionWithConfigsOff`). Persisting through
    * one such session spares the cache manager its own clone per
    * persist. */
  def cachingSession(spark: SparkSession): SparkSession = {
    import org.apache.spark.sql.internal.SQLConf
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val off = SQLConf.AUTO_BUCKETED_SCAN_ENABLED +:
      (if (s.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
       else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    org.apache.spark.sql.classic.SparkSession.getOrCloneSessionWithConfigsOff(s, off)
  }

  /** `schema` with every field, element and value nullable: the schema
    * a file source reports for the file schema it is given or infers. */
  def asNullable(schema: types.StructType): types.StructType =
    schema.asNullable
}
