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
  *  - truncating a materialized DataFrame's logical plan to a flat
  *    `LogicalRDD` without the extra materialization job that
  *    `localCheckpoint(eager = true)` costs
  *  - materializing superstep state, its local checkpoint and its
  *    observed metrics in one job.
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

  /** A DataFrame with the same rows as `df` but a flat `LogicalRDD` plan
    * over `df`'s executed RDD. When `df` is persisted and materialized the
    * RDD scans its cache, so this truncates the *logical* lineage (whose
    * analysis cost would otherwise double per superstep — a step references
    * its input twice) at zero execution cost. The RDD-level DAG still grows
    * and is truncated separately with a periodic `localCheckpoint`.
    *
    * Rows are defensively copied (`InternalRow`s coming out of columnar
    * cache scans are reused buffers; `LogicalRDD`'s contract expects owned
    * rows — same as `Dataset.checkpoint`'s internal implementation).
    */
  def truncatedView(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.DataFrame]
    // LogicalRDD.fromDataset carries the physical plan's outputPartitioning
    // and ordering into the wrapper (same path Dataset.checkpoint uses), so
    // downstream co-partitioned joins stay exchange-free.
    val logical = execution.LogicalRDD.fromDataset(
      cdf.queryExecution.toRdd.map(_.copy()), cdf, isStreaming = false)
    classic.Dataset.ofRows(cdf.sparkSession, logical)
  }

  /** A DataFrame whose logical plan is the flat `InMemoryRelation` backing
    * a persisted `df` — the same node `CacheManager.useCachedData` would
    * substitute, so execution scans the cache directly.
    *
    * The star-CC round state's leaf: every round references its state
    * ~12 times, and a `LogicalRDD` leaf breaks `ReuseExchange` for such
    * plans (self-join deduplication renames the leaf's exprIds, and
    * `RDDScanExec`'s canonicalization does not normalize its
    * partitioning/ordering fields, so the renamed twins never compare
    * equal). An `InMemoryRelation` leaf canonicalizes correctly, keeps the
    * cached plan's partitioning, and costs no materialization job. Falls
    * back to [[truncatedView]] when `df` is not registered in the cache
    * manager.
    */
  def cachedView(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.DataFrame]
    val analyzed = cdf.queryExecution.analyzed
    cdf.sparkSession.sharedState.cacheManager.lookupCachedData(cdf) match {
      // use the relation as-is (not withOutput — our own freshly-persisted
      // entry always has exprId-identical output); anything else (a
      // canonically-equal foreign entry) falls back to the RDD view
      case Some(cd) if cd.cachedRepresentation.output == analyzed.output =>
        classic.Dataset.ofRows(cdf.sparkSession,
          stripOrdering(cd.cachedRepresentation))
      case _ => truncatedView(df)
    }
  }

  /** Materialize UNPERSISTED loop state `df` as a locally-checkpointed
    * row RDD with ONE job, and return (flat-leaf view, release, observed
    * metrics). This fuses everything the superstep loop needs into the
    * single materializing job:
    *
    *  - the plan executes once (its `toRdd` iterators are consumed under a
    *    SQL execution id — no `count()` Aggregate, no extra single-task
    *    stage); rows are defensively copied ONCE (`map(_.copy())` — the
    *    same contract `Dataset.checkpoint` uses) and stored as
    *    deserialized MEMORY_AND_DISK blocks — no columnar encode at
    *    materialization and no per-scan decode afterwards (the state is
    *    scanned twice per superstep);
    *  - `localCheckpoint()` is marked BEFORE the job, so the job's own
    *    cached blocks become the checkpoint — RDD lineage is truncated
    *    every superstep at zero extra cost, with no separate checkpoint
    *    job and no plan/closure growth between truncations;
    *  - every `observe()` CollectMetrics accumulator fires in the same
    *    job and is read SYNCHRONOUSLY (merged driver-side before the job
    *    returns — no [[org.apache.spark.sql.Observation]] listener-bus
    *    round-trip).
    *
    * The returned view is a flat `LogicalRDD` over the checkpointed rows
    * (stable objects — served without the per-scan copy
    * [[truncatedView]] must pay on reused-buffer scan output), carrying
    * the plan's outputPartitioning so co-partitioned loop joins stay
    * exchange-free. `release` drops the blocks; the view is
    * unrecomputable afterwards (lineage was truncated), matching the
    * loop's retire-previous-state discipline.
    */
  def materializeLocalCheckpointed(
      df: DataFrame): (DataFrame, () => Unit, Map[String, Row]) = {
    val cdf = df.asInstanceOf[classic.DataFrame]
    val qe = guardedQueryExecution(cdf)
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    execution.SQLExecution.withNewExecutionId(qe) {
      rdd.foreachPartition { it: Iterator[_] =>
        while (it.hasNext) it.next()
      }
    }
    val logical = execution.LogicalRDD.fromDataset(rdd, cdf, isStreaming = false)
    (classic.Dataset.ofRows(cdf.sparkSession, logical),
      () => { rdd.unpersist(blocking = false); () },
      execution.CollectMetricsExec.collect(qe.executedPlan))
  }

  private def guardedQueryExecution(
      cdf: classic.DataFrame): execution.QueryExecution = {
    var qe = cdf.queryExecution
    // Session-transition guard: `SparkPlan.session` is captured from
    // getActiveSession at node CONSTRUCTION, and getActiveSession filters
    // out sessions whose SparkContext is stopped — so a plan built in the
    // window where the owning context reports stopped silently carries
    // session = null and dies at execute() with an opaque NPE ("SparkPlan
    // .session() is null"; observed exactly once, mid-PageRank in the
    // SECOND SparkContext of one ScalingBench JVM, Spark 4.1.2). Detect it
    // BEFORE executing: replan once on the dataset's own session if that
    // session is alive (construction is deterministic from the logical
    // plan), else fail with the real story instead of the NPE.
    if (qe.executedPlan.exists(p => p.session eq null)) {
      val s = cdf.sparkSession
      if (!s.isUsable) throw new IllegalStateException(
        "superstep state's SparkContext was stopped mid-loop (its physical " +
        "plan was constructed against a stopped session)")
      System.err.println(
        "[graft] WARN: superstep plan captured a null session (active session " +
        "was unusable at plan construction); replanning once on " +
        s"${s.sparkContext.applicationId}")
      qe = s.sessionState.executePlan(qe.logical)
      // If the race fires AGAIN during the replan, executing would still
      // die with the opaque NPE this guard exists to avoid — fail with the
      // real story instead of retrying forever.
      if (qe.executedPlan.exists(p => p.session eq null)) throw new IllegalStateException(
        "superstep plan still captured a null session after replanning on " +
        s"${s.sparkContext.applicationId} — the session-transition race fired " +
        "twice; the owning SparkContext is likely being stopped concurrently")
    }
    qe
  }

  /** Block until the listener bus has delivered all posted events. Loop
    * phase attribution discards stages of side jobs (init, localCheckpoint,
    * checkpoint writes) by draining the listener right after the action —
    * delivery is async, so without this barrier a slow bus could leak a
    * side-job stage into the NEXT superstep's window.
    */
  def waitListenerBus(session: SparkSession): Unit =
    // best-effort: a bus that stays busy for 10s (another loop posting
    // continuously) must not crash the loop — the drain then just races,
    // which is the pre-barrier behavior
    try session.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Return the relation with `outputOrdering = Nil`. Two Spark 4.1.2 warts
    * make a non-empty ordering on a self-joined cached relation fatal:
    * `InMemoryRelation.newInstance` (applied to one branch by
    * DeduplicateRelations) remints the output exprIds but passes
    * outputOrdering through UNCHANGED, and `doCanonicalize`/`withOutput`
    * then remap ordering attributes through an AttributeMap keyed by the
    * (new) output only — the stale attribute throws NoSuchElementException.
    * Star-CC round state is self-joined every round, so its leaf must carry
    * no ordering. The cost is at most an in-stage Sort where an ordering is
    * required — exactly what the LogicalRDD view paid too (its
    * canonicalization never exposed ordering).
    */
  private def stripOrdering(
      imr: execution.columnar.InMemoryRelation): execution.columnar.InMemoryRelation = {
    if (imr.outputOrdering.isEmpty) imr
    else {
      val c = imr.copy(outputOrdering = Seq.empty)
      c.statsOfPlanToCache = imr.statsOfPlanToCache
      c
    }
  }
}
