package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for `private[sql]` Spark internals that extension libraries
  * conventionally reach through a same-package shim:
  *
  *  - registering custom Catalyst expressions as Columns
  *    (`classic.ExpressionUtils` is `private[sql]` in Spark 4.x)
  *  - cloning a session so an iterative driver loop can pin SQL confs
  *    (AQE, join-strategy preference) without mutating — and racing on —
  *    the user's shared session conf
  *  - materializing loop state, its local checkpoint and its observed
  *    metrics in one job, as a flat `LogicalRDD` leaf — the one state
  *    leaf of every loop, star CC's rounds included.
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A child session sharing the SparkContext, cache and catalog of
    * `parent` but with an isolated SQL conf overridden by `confs` —
    * runtime conf changes here are invisible to `parent`.
    */
  def sessionWithConfs(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val s = parent.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Re-bind a DataFrame's plan to `session` so physical planning and
    * execution run under that session's SQL conf.
    */
  def bind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** Materialize UNPERSISTED loop state `df` as a locally-checkpointed
    * row RDD with ONE job, and return (flat-leaf view, release, observed
    * metrics, row count of each partition). This fuses everything the
    * superstep loop needs into the single materializing job:
    *
    *  - the plan executes once (its `toRdd` iterators are consumed under a
    *    SQL execution id by a counting function — no `count()` Aggregate,
    *    no extra single-task stage); rows are defensively copied ONCE
    *    (`map(_.copy())` — the same contract `Dataset.checkpoint` uses) and
    *    stored as deserialized MEMORY_AND_DISK blocks — no columnar encode
    *    at materialization and no per-scan decode afterwards (the state is
    *    scanned twice per superstep);
    *  - `localCheckpoint()` is marked BEFORE the job, so the job's own
    *    cached blocks become the checkpoint — RDD lineage is truncated
    *    every superstep at zero extra cost, with no separate checkpoint
    *    job and no plan/closure growth between truncations;
    *  - every `observe()` CollectMetrics accumulator fires in the same
    *    job and is read SYNCHRONOUSLY (merged driver-side before the job
    *    returns — no [[org.apache.spark.sql.Observation]] listener-bus
    *    round-trip); the per-partition row counts are the job's results.
    *
    * The returned view is a flat `LogicalRDD` over the checkpointed rows
    * (stable objects — served without a per-scan copy). With
    * `keepPartitioning` it carries the plan's outputPartitioning so
    * co-partitioned loop joins stay exchange-free. Without, it claims none:
    * `RDDScanExec`'s canonical form keeps its partitioning's raw attributes,
    * so the self-join-renamed copies of a partitioned leaf never reuse each
    * other's exchanges (star CC's rounds: 11 exchanges and 12 stages
    * instead of 6 + 3 reused and 7). `release` drops the blocks; the view is
    * unrecomputable afterwards (lineage was truncated), matching the
    * loop's retire-previous-state discipline. It goes through
    * `SparkContext.unpersistRDD`: `RDD.unpersist` on a locally checkpointed
    * RDD logs a "cannot be recomputed" WARN, one per superstep.
    */
  def materializeLocalCheckpointed(
      df: DataFrame,
      keepPartitioning: Boolean)
      : (DataFrame, () => Unit, Map[String, Row], Array[Long]) = {
    val cdf = df.asInstanceOf[classic.DataFrame]
    val qe = cdf.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val partitionRows = execution.SQLExecution.withNewExecutionId(qe) {
      rdd.sparkContext.runJob(rdd, (it: Iterator[_]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
    }
    val logical =
      if (keepPartitioning) execution.LogicalRDD.fromDataset(rdd, cdf, isStreaming = false)
      else execution.LogicalRDD(cdf.logicalPlan.output, rdd)(cdf.sparkSession)
    (classic.Dataset.ofRows(cdf.sparkSession, logical),
      () => rdd.sparkContext.unpersistRDD(rdd.id, blocking = false),
      execution.CollectMetricsExec.collect(qe.executedPlan),
      partitionRows)
  }

  /** Block until the listener bus has delivered all posted events. Loop
    * phase attribution drains the listener right after the superstep job;
    * delivery is async, so without this barrier a slow bus could leave the
    * job's last stage out of its window.
    */
  def waitListenerBus(session: SparkSession): Unit =
    // best-effort: a bus that stays busy for 10s (another loop posting
    // continuously) must not crash the loop — the drain then just races,
    // which is the pre-barrier behavior
    try session.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
