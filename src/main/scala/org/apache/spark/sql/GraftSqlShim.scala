package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for `private[sql]` Spark internals that extension libraries
  * conventionally reach through a same-package shim:
  *
  *  - registering custom Catalyst expressions as Columns
  *    (`classic.ExpressionUtils` is `private[sql]` in Spark 4.x)
  *  - a child session per parent and conf set ([[sessionWithConfs]]), so
  *    an iterative driver loop or a cache fill can pin SQL confs (AQE,
  *    join-strategy preference) without mutating — and racing on — the
  *    user's shared session conf; the child is created once and reused, so
  *    the classes its plans generate compile once per JVM
  *    ([[CodegenCacheEntries]])
  *  - [[runJob]], the one path for one-shot jobs: `Superstep.fill` (every
  *    result and setup cache), fingerprints, the edge gates, and
  *  - materializing loop state, its local checkpoint and its observed
  *    metrics in one job, as a flat `LogicalRDD` leaf — the one state
  *    leaf of every loop, star CC's rounds included, each algorithm's
  *    vertex set (`Superstep.vertexSet`), and the pinned sorted url set
  *    of `Dictionary.build`.
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Entries of the JVM's generated-code cache, the static
    * `spark.sql.codegen.cache.maxEntries` that every session builder of the
    * engine sets when it creates its session. Spark's default of 100 is a
    * Guava LRU of 4 segments of 25 entries; a `graph_loops` pass (LP, CC,
    * TC, a 10-superstep PageRank and the front end over the same session)
    * generates about 100 distinct classes, hashed unevenly over the
    * segments, so each pass would evict classes the next pass needs again,
    * recompile them and run them cold. 1000 keeps a pipeline's classes
    * with room for the uneven 4-way split. The conf is static: a caller who
    * brings their own session sets it when the session is created (a
    * running session cannot change it; the first compilation in the JVM
    * fixes it).
    */
  val CodegenCacheEntries: Int = 1000

  // parent → (effective conf → child), for sessionWithConfs
  private val children = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[Map[String, String], java.lang.ref.SoftReference[SparkSession]]]()

  /** A child session sharing the SparkContext, cache and catalog of
    * `parent` but with an isolated SQL conf overridden by `confs` —
    * runtime conf changes here are invisible to `parent`.
    *
    * The child is created once per parent and EFFECTIVE conf (the parent's
    * SQL conf with `confs` applied) and returned on every later call with
    * the same parent and effective conf, so a loop or a fill of each pass
    * plans under one session, with one artifact classloader on the driver
    * and one isolated session state on the executors. Spark keys its
    * generated-code cache by the thread's context classloader, so a fresh
    * clone per call would compile every class again and run it cold. A change
    * to the parent's conf changes the key, and the next call creates a
    * child that sees it, as a fresh clone would.
    *
    * The child is read-only: nothing may set a conf on it after this
    * returns, since concurrent callers with equal confs share it. It sees
    * the parent's temporary views and functions as of its creation (the
    * engine binds analyzed plans into it, which resolve nothing).
    *
    * The memo holds each parent weakly and each child softly. A child
    * keeps its parent's session state reachable, so a strongly held child
    * would pin every parent for the life of the JVM; a softly held one
    * lets the collector clear the child, and with it the dead parent,
    * under memory pressure, after which the next call clones again.
    */
  def sessionWithConfs(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val p = parent.asInstanceOf[classic.SparkSession]
    val effective = p.sessionState.conf.getAllConfs ++ confs
    children.synchronized {
      val byConf = children.computeIfAbsent(parent, _ => new java.util.HashMap())
      Option(byConf.get(effective)).flatMap(c => Option(c.get)).getOrElse {
        byConf.values.removeIf(_.get == null)
        val s = p.cloneSession()
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        byConf.put(effective, new java.lang.ref.SoftReference(s))
        s
      }
    }
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
    *  - the plan executes once, through [[runJob]] (the observed metrics and
    *    row counts are that job's); rows are copied ONCE (`map(_.copy())`,
    *    the contract `Dataset.checkpoint` uses) and
    *    stored as deserialized MEMORY_AND_DISK blocks — no columnar encode
    *    at materialization and no per-scan decode afterwards (the state is
    *    scanned twice per superstep);
    *  - `localCheckpoint()` is marked BEFORE the job, so the job's own
    *    cached blocks become the checkpoint — RDD lineage is truncated
    *    every superstep at zero extra cost, with no separate checkpoint
    *    job and no plan/closure growth between truncations.
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
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val (observed, partitionRows) = runJob(cdf, Some(rdd))
    val logical =
      if (keepPartitioning) execution.LogicalRDD.fromDataset(rdd, cdf, isStreaming = false)
      else execution.LogicalRDD(cdf.logicalPlan.output, rdd)(cdf.sparkSession)
    (classic.Dataset.ofRows(cdf.sparkSession, logical),
      () => rdd.sparkContext.unpersistRDD(rdd.id, blocking = false), observed, partitionRows)
  }

  /** Run `df`'s plan as ONE job under a SQL execution id and return
    * (observed metrics, row count of each partition): a counting function
    * consumes its `toRdd` (or `pinned`, derived from it), with no `count()`
    * Aggregate, and every `observe()` accumulator is read synchronously, with
    * no listener-bus round-trip. Under AQE each exchange is a map-stage job.
    */
  def runJob(df: DataFrame, pinned: Option[org.apache.spark.rdd.RDD[_]] = None)
      : (Map[String, Row], Array[Long]) = {
    val qe = df.asInstanceOf[classic.DataFrame].queryExecution
    val rows = pinned.getOrElse(qe.toRdd)
    val partitionRows = execution.SQLExecution.withNewExecutionId(qe)(
      rows.sparkContext.runJob(rows, org.apache.spark.util.Utils.getIteratorSize _))
    (execution.CollectMetricsExec.collect(qe.executedPlan), partitionRows)
  }

  /** Block until the listener bus has delivered all posted events, for a
    * listener drained right after the jobs it counts (delivery is async).
    * The bus is polled in 10 ms steps; a loop's superstep waits for its
    * own job's end instead (`Superstep.PhaseListener.awaitJobEnds`).
    */
  def waitListenerBus(session: SparkSession): Unit =
    // best-effort: a bus that stays busy for 10s (another loop posting
    // continuously) must not crash the loop — the drain then just races,
    // which is the pre-barrier behavior
    try session.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
