package graft.algo

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.hadoop.fs.Path
import graft.graph.SkewJoin
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.charset.StandardCharsets
import scala.collection.immutable.ListMap
import scala.util.Using

/** Generic bulk-synchronous superstep driver shared by every iterative
  * vertex program (LP / PageRank / CC / BFS / SSSP).
  *
  * Replaces the reference's hand-rolled reduce+broadcast loop
  * (`ow-lp/src/lib.rs:501-630`) and the GraphX shell's Pregel loop
  * (`labelpropagation_graphx_shell.scala:107-138`) with a driver-side loop
  * over declarative Dataset plans. The GraphX-shell mistake of one extra
  * `count()` join per superstep (SURVEY.md §7.6) is avoided by folding the
  * changed-count into the single materializing aggregation via `observe()`.
  *
  * Per-superstep cost model (this loop is the engine's hot path — every
  * avoidable fixed cost here divides directly into scaling efficiency):
  *  - exactly ONE job per superstep, and the cheapest possible one
  *    ([[org.apache.spark.sql.GraftSqlShim.materializeLocalCheckpointed]],
  *    the "ckpt" state leaf): the step plan executes once, rows are
  *    defensively copied once and stored as deserialized MEMORY_AND_DISK
  *    blocks, `localCheckpoint` is marked BEFORE the job so the job's own
  *    blocks become the checkpoint — plan-lineage AND RDD-lineage are
  *    truncated every superstep at zero extra cost, the state is re-rooted
  *    on a flat `LogicalRDD` over stable rows (no columnar encode at
  *    materialization, no decode on the two per-superstep scans), and
  *    the step's CollectMetrics accumulator fires in the same job and is
  *    read SYNCHRONOUSLY. Measured vs the r4 columnar-IMR flow (BENCH.md
  *    §13): per-superstep medians 114-145 vs 166-186 ms at the
  *    2K-vertex / 600K-edge derived graph, PR 411-469 vs 499-525 ms at
  *    100K vertices, LP pairwise faster in both drift windows at 1M-4M;
  *  - loop-specific SQL confs (AQE off — its runtime coalescing breaks the
  *    hash-partitioning match between the persisted edge side and the
  *    evolving state side; shuffled-hash over sort-merge — per-superstep
  *    re-sorts are pure waste against a hash-partitioned cached state) are
  *    scoped to a cloned child session, NOT mutated on the caller's session,
  *    so concurrent loops / relational queries never race on global conf
  *    ([[drive]], the one round driver, shared with star CC's rounds);
  *  - the edge side is partitioned, sized, salted and persisted ONCE per
  *    run ([[edgeSide]]), and every algorithm's gather is its one join
  *    ([[EdgeSide.gather]]).
  *
  * Per-iteration phase windows (reference evidence style,
  * `runtime_metrics.py:48-118`): a SparkListener attributes the superstep
  * job's stages to gather / apply windows with wall time, summed
  * task time and shuffle bytes; they land in [[IterStats.phases]] and the
  * checkpoint manifest.
  *
  * Durable checkpointing (the north rule's "resumable mid-convergence"):
  * every `checkpointEvery` iterations the state parquet is written under
  * `dir/iter=K/state` followed by `dir/iter=K/manifest.json` (manifest
  * written last = commit marker, so a torn write is never resumed from).
  * [[resumeOrInit]] restarts the loop from the newest committed manifest
  * and refuses to resume a checkpoint written by a different algorithm.
  * The reference has no equivalent (a failed worker fails the run).
  */
object Superstep {

  /** One stage of the superstep job, attributed to a loop phase. */
  final case class PhaseWindow(
      phase: String,
      wallMs: Long,
      taskTimeMs: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long)

  /** Per-iteration phase metrics (reference style: `runtime_metrics.py:81-183`):
    * `changed`/`rows` come from the superstep's own observation, `computeMs`
    * is its job's wall time, `checkpointMs` its durable-checkpoint write.
    */
  final case class IterStats(
      iteration: Int,
      changed: Long,
      rows: Long,
      computeMs: Long,
      checkpointMs: Long,
      phases: List[PhaseWindow] = Nil)

  final case class LoopResult(
      state: DataFrame,
      iterations: Int,
      converged: Boolean,
      stats: List[IterStats],
      // frees the persisted/localCheckpointed blocks backing `state`; call
      // once the result has been consumed (benchmark reps otherwise
      // accumulate one retired state per run). After release() the state
      // may be unrecomputable (localCheckpoint truncates lineage).
      release: () => Unit = () => ())

  /** One superstep: previous state → new state carrying a boolean `_chg`
    * column (true on every row whose vertex value changed this step). The
    * previous state still carries its own `_chg` (absent on iteration 0) so
    * frontier-based algorithms can restrict work to changed vertices; the
    * driver aggregates the new `_chg` to decide convergence. A step without
    * `_chg` (star CC's edge set) converges at its fixpoint (see [[drive]]).
    */
  type Step = (DataFrame, Int) => DataFrame

  /** Mark `df` as the BUILD side of a shuffled-hash join (loop hot paths
    * only). The loop session prefers shuffled-hash over sort-merge, but
    * Spark's JoinSelection only *considers* SHJ when `canBuildLocalHashMap`
    * holds — a check against `autoBroadcastJoinThreshold`, which the loop
    * pins to -1 to ban frontier re-broadcasts. With the threshold negative
    * the check is always false, so every loop join silently degraded to
    * SortMergeJoin: each superstep re-SORTED the persisted multi-million-row
    * adjacency, the state, and the vote/message stream (caught in the r5
    * plan audit; measured on LP at 1.1-2.0× per-superstep across
    * drift-paired probe runs, PR within drift noise — BENCH.md §12). The
    * explicit hint forces SHJ with this side as the build map regardless of
    * size estimates while keeping broadcasts banned. The build side is
    * always the per-partition vertex state / message slice — bounded by
    * |V|/shuffle-partitions, the same per-worker-memory assumption the
    * reference's dense label arrays make globally; size partitions
    * accordingly at scale.
    */
  def shj(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** The thread-local SparkContext property that tags a loop's superstep
    * jobs with its owning loop's id (local properties are inherited by the
    * submitting thread's jobs only, so concurrent loops on different driver
    * threads tag disjoint job sets).
    */
  private[graft] val LoopIdProperty = "graft.loop.id"

  /** Collects the stage windows of the jobs tagged with `loopId` under
    * [[LoopIdProperty]]; drained once per superstep. A SparkListener is
    * SparkContext-global, so the scope keeps two concurrent loops in one
    * session from cross-polluting each other's phase windows, and untagged
    * jobs (a loop's init and durable-checkpoint jobs) never enter them.
    * Stage events for the tagged job are flushed by an explicit
    * listener-bus barrier (waitListenerBus) before the drain, so the drain
    * is race-free for the job it attributes.
    */
  private[graft] final class PhaseListener(loopId: String) extends SparkListener {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, PhaseWindow)]
    // stage ids owned by this loop's tagged jobs
    private val owned = scala.collection.mutable.HashSet.empty[Int]
    override def onJobStart(ev: SparkListenerJobStart): Unit =
      if (Option(ev.properties).exists(p => p.getProperty(LoopIdProperty) == loopId))
        owned.synchronized { ev.stageInfos.foreach(owned += _.stageId) }
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      if (!owned.synchronized(owned.contains(si.stageId)))
        return
      val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
        .getOrElse(0L)
      val m = si.taskMetrics
      val w = PhaseWindow("", wall, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
      buf.synchronized { buf += ((si.stageId, w)) }
    }
    /** Stages completed since the last drain, in stage order, phase-named.
      * The canonical superstep job is gather (map-side scatter + partial
      * agg) then apply (final agg + apply join + state materialization —
      * the toRdd consume rides this stage; there is no separate
      * count/collect stage). Any other shape (star CC's rounds) falls back
      * to positional stage names.
      */
    def drain(): List[PhaseWindow] = {
      val raw = buf.synchronized { val r = buf.sortBy(_._1).toList; buf.clear(); r }
      val names =
        if (raw.size == 2) List("gather", "apply")
        else raw.indices.map(i => s"stage$i").toList
      raw.zip(names).map { case ((_, w), n) => w.copy(phase = n) }
    }
  }

  /** A loop's edge side, placed once by [[edgeSide]]: the persisted
    * adjacency partitioned by its join `key` (and by a salt column when hub
    * keys are hot), the loop's shuffle `width`, and the one gather join
    * every superstep runs against it.
    */
  final class EdgeSide private[Superstep] (
      persisted: DataFrame,
      key: String,
      salt: Option[SkewJoin.SaltPlan],
      val width: Int) {

    /** The persisted adjacency without its salt column. */
    val edges: DataFrame = if (salt.isDefined) persisted.drop("_salt") else persisted

    /** Join the edge side with the vertex `state` on `key == state.id`;
      * output = edge columns ++ state columns minus `id`. Unsalted, the
      * state is shuffled to the edge partitioning and hash-joined (the edge
      * side never moves); salted, hot state rows are replicated across the
      * salted hub partitions ([[SkewJoin.joinState]]). Every downstream
      * vote/min/sum aggregation is associative, hence salt-oblivious.
      */
    def gather(state: DataFrame): DataFrame = salt match {
      case Some(p) => SkewJoin.joinState(p, state, "id")
      case None =>
        persisted.join(shj(state), persisted(key) === state("id")).drop(state("id"))
    }

    def release(): Unit = {
      persisted.unpersist(blocking = false)
      salt.foreach(_.hotKeys.unpersist(blocking = false))
    }
  }

  /** Place a loop's edge side: partition `raw` by `key` (the endpoint the
    * gather joins the vertex state on), persist and materialize it once.
    * Keys with more than `cfg.hubDegreeThreshold` rows are salted across
    * [[SkewJoin.AutoK]] partitions, keyed by a hash of the opposite
    * endpoint; uniform graphs pay only the one degree scan over the
    * persisted table, which needs no exchange.
    *
    * Loop shuffle width: measured (interleaved same-JVM, BENCH.md §9) at 2K
    * vertices an 8-way loop runs the whole 75-superstep PageRank 2.3×
    * faster than the 32-way session width (median superstep 180 ms vs
    * 510 ms — task scheduling dominates tiny states), while at 100K
    * vertices 32-way is ~1.17× faster than 8-way and at ≥4M the session
    * width wins outright. So states of ≤ 16,384 vertices under a wider
    * session narrow to 8-way, and the edge side is re-partitioned at that
    * width so the gather stays co-partitioned and exchange-free. The
    * `vertexCount` thunk is only forced when the session is wider than 8
    * and the edge side itself is small (≤ 2^20 rows), so no extra job
    * appears at scale. Otherwise, and for a salted (hub-skewed, hence big)
    * graph, the loop runs at the session width.
    */
  def edgeSide(raw: DataFrame, key: String, cfg: graft.model.RunConfig)(
      vertexCount: => Long): EdgeSide = {
    val byKey = raw.repartition(col(key)).persist(StorageLevel.MEMORY_AND_DISK)
    val rows = byKey.count()
    val spread = if (key == "src") "dst" else "src"
    val sessionWidth = raw.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    SkewJoin.plan(byKey, key, spread, SkewJoin.AutoK, cfg.hubDegreeThreshold) match {
      case Some(p) =>
        byKey.unpersist(blocking = false)
        new EdgeSide(p.salted, key, Some(p), sessionWidth)
      case None
          if sessionWidth > NarrowWidth && rows <= (1L << 20) && vertexCount <= 16384L =>
        val narrow = byKey.repartition(NarrowWidth, col(key))
          .persist(StorageLevel.MEMORY_AND_DISK)
        narrow.count()
        byKey.unpersist(blocking = false)
        new EdgeSide(narrow, key, None, NarrowWidth)
      case None => new EdgeSide(byKey, key, None, sessionWidth)
    }
  }

  private val NarrowWidth = 8

  /** Run `step` over the edge side `side` until the number of changed rows
    * is ≤ `cfg.convergenceThreshold` (or the change ratio is ≤
    * `cfg.convergenceRatio`) or `cfg.maxIter` supersteps have completed.
    * The initial state enters the loop hash-partitioned by `id` at the
    * edge side's width (Spark plans the placement away when `init` already
    * has it). A state at another width would propagate its partitioning
    * through every apply join and re-exchange the edge side every
    * superstep. `init` must not project an alias of `id` (`id AS comp`):
    * the checkpointed state records only the first of its equivalent
    * partitionings, the alias's, so superstep 1 would re-exchange it.
    *
    * Convergence mirrors `should_continue` (`ow-lp/src/lib.rs:424-426`):
    * iterate while iterations < maxIter and changed > threshold.
    *
    * Automatic resume: when `cfg.checkpointDir` holds a committed manifest,
    * the loop restarts from that state and iteration (skipping the loop
    * entirely if the manifest says converged); otherwise it starts from
    * `init`. `cfg.maxIter` counts TOTAL supersteps including the pre-crash
    * ones, matching the reference's iteration cap semantics.
    * `inputFingerprint` is recorded in every checkpoint manifest; resume
    * refuses a manifest whose fingerprint differs (see [[resumeOrInit]]).
    */
  def loopResumable(
      init: => DataFrame,
      side: EdgeSide,
      step: Step,
      cfg: graft.model.RunConfig,
      algo: String,
      inputFingerprint: Option[Long] = None): LoopResult =
    drive(init, Some(side.width), step, cfg, algo, inputFingerprint)

  /** The one round driver: resume, loop scope, one materializing job per
    * round, convergence, checkpoint gate, stats and release, for the
    * vertex loops ([[loopResumable]]) and star CC's edge-set rounds alike.
    *
    * `width`: the vertex loops place the state by `id` at their edge
    * side's width and run at that shuffle width; `None` (star's edge set,
    * which has no vertex key) places nothing, runs at the session width,
    * and its state leaf claims no partitioning (see
    * [[GraftSqlShim.materializeLocalCheckpointed]]).
    *
    * A step whose output carries `_chg` converges by its changed count
    * (see [[loopResumable]]). A step without it converges when the round's
    * row count and order-insensitive fingerprint (`bit_xor(xxhash64(row))`)
    * repeat the previous state's: the state is its own fixpoint test. Both
    * come from the round's one materializing job (the counts are its
    * results, the measure its observation), and the initial (or resumed)
    * state's pair from the init job, so a resumed run converges at the
    * same round as an uninterrupted one. Such a step reports `changed` =
    * its row count, 0 at the fixpoint.
    *
    * Only the superstep jobs carry the loop's [[LoopIdProperty]] and a
    * `"<algo> superstep N"` job description, so they alone feed the phase
    * windows; Spark posts each one's physical plan in its
    * `SparkListenerSQLExecutionStart` event under that description.
    */
  private[algo] def drive(
      init: => DataFrame,
      width: Option[Int],
      step: Step,
      cfg: graft.model.RunConfig,
      algo: String,
      inputFingerprint: Option[Long]): LoopResult = {
    require(cfg.checkpointEvery > 0,
      s"checkpointEvery must be positive, got ${cfg.checkpointEvery}")
    val session = SparkSession.active
    val (start, startIter) = cfg.checkpointDir match {
      case Some(dir) =>
        val (state, doneIter, converged) =
          resumeOrInit(session, dir, init, algo, inputFingerprint)
        if (converged) return LoopResult(state.drop("_chg"), 0, converged = true, Nil)
        (state, doneIter)
      case None => (init, 0)
    }
    val loopSession = GraftSqlShim.sessionWithConfs(session,
      Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      // NO broadcast joins inside the loop: with a sub-threshold state the
      // planner would otherwise collect + re-broadcast the evolving frontier
      // EVERY superstep (serial driver cost growing with |V| — measured as
      // the dominant per-superstep fixed cost at 100K vertices, fatal to
      // scaling at 4M, and ~4.8 s/round on star CC's 1M-edge path graph).
      // The co-partitioned shuffled-hash gather join needs zero exchanges
      // and builds only |partition|-sized hash maps.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") ++
      width.map(w => "spark.sql.shuffle.partitions" -> w.toString): _*)
    // the superstep jobs are tagged via a thread-local SparkContext
    // property, and the listener collects only those jobs' stages —
    // concurrent loops in one session keep disjoint phase windows
    val loopId = java.util.UUID.randomUUID().toString
    val listener = new PhaseListener(loopId)
    session.sparkContext.addSparkListener(listener)
    try {
      val placed = width.fold(start)(w => start.repartition(w, col("id")))
      // initial state: materialized once, lineage truncated; its observed
      // pair is the first fixpoint test's "previous state"
      val (initView, initRelease, initRows, initMeasure, _) = materializeRound(
        observeRound(GraftSqlShim.bind(loopSession, placed), "init"), "init", width)
      var state = initView
      var releaseBacking = initRelease // frees the blocks backing `state`
      var previous = (initRows, initMeasure)
      var iter = startIter
      var converged = false
      var stats = List.empty[IterStats]

      while (iter < cfg.maxIter && !converged) {
        val t0 = System.nanoTime()
        // changed count (or fingerprint) rides the materializing job via
        // observe() (accumulator-backed, pass-through: partitioning/ordering
        // preserved, no stage break) — no separate aggregation job per
        // superstep, which at converged-frontier sizes costs as much as the
        // superstep
        val obsName = s"superstep_${iter + 1}"
        val next = observeRound(GraftSqlShim.bind(loopSession, step(state, iter)), obsName)
        // tag the materializing job: its stages are this superstep's phases,
        // and driver logs / the UI / SQL execution events name its superstep
        session.sparkContext.setLocalProperty(LoopIdProperty, loopId)
        session.sparkContext.setJobDescription(s"$algo superstep ${iter + 1}")
        // THE one job: materializes + localCheckpoints the state, counts its
        // rows per partition, fires the CollectMetrics accumulator and reads
        // it synchronously — no count() Aggregate plan, no extra single-task
        // final stage, no Observation listener-bus round-trip (measured
        // ~0.1 s/superstep of job scaffolding at converged-frontier sizes,
        // BENCH.md §9)
        val (view, newRelease, rows, measure, partitionRows) =
          try materializeRound(next, obsName, width)
          finally {
            session.sparkContext.setJobDescription(null)
            session.sparkContext.setLocalProperty(LoopIdProperty, null)
          }
        val byChanged = next.columns.contains("_chg")
        GraftSqlShim.waitListenerBus(session)
        val phases = listener.drain()
        val computeMs = (System.nanoTime() - t0) / 1000000L
        iter += 1

        // the FULL convergence decision (absolute count, `ow-lp/src/lib.rs:
        // 424-426`, OR the lpst class-API change-ratio rule, `lpst/src/lib
        // .rs:484-496`; or the fixpoint test) drives loop exit, the
        // checkpoint-write gate and the manifest's converged field alike
        converged =
          if (byChanged) measure <= cfg.convergenceThreshold ||
            cfg.convergenceRatio.exists(r => rows > 0 && measure.toDouble / rows <= r)
          else (rows, measure) == previous
        val changed = if (byChanged) measure else if (converged) 0L else rows
        previous = (rows, measure)

        val t1 = System.nanoTime()
        cfg.checkpointDir.foreach { dir =>
          // state is checkpointed WITH its _chg column: frontier algorithms
          // need it to resume with the correct active set
          if (converged || iter % cfg.checkpointEvery == 0 || iter >= cfg.maxIter) {
            writeCheckpoint(dir, algo, iter, changed, partitionRows, view, converged,
              cfg.convergenceThreshold, phases, inputFingerprint)
          }
        }
        val checkpointMs = (System.nanoTime() - t1) / 1000000L

        releaseBacking()
        state = view
        releaseBacking = newRelease
        stats ::= IterStats(iter, changed, rows, computeMs, checkpointMs, phases)
      }
      // rebind the final state to the CALLER's session: downstream one-shot
      // queries (result aggregations, orderBys, sinks) must plan under the
      // caller's confs, not the loop-pinned ones (AQE off, broadcast ban)
      LoopResult(GraftSqlShim.bind(session, state.drop("_chg")),
        iter - startIter, converged, stats.reverse,
        release = releaseBacking)
    } finally session.sparkContext.removeSparkListener(listener)
  }

  /** Observe a round's changed count when it carries `_chg`, else its
    * order-insensitive fingerprint (see [[drive]]).
    */
  private def observeRound(df: DataFrame, name: String): DataFrame =
    df.observe(name,
      (if (df.columns.contains("_chg")) sum(when(col("_chg"), 1L).otherwise(0L))
       else bit_xor(xxhash64(df.columns.map(col): _*))).as("measure"))

  /** The round's one job: (view, release, rows, measure, row count of each
    * partition), with the measure of [[observeRound]]'s observation `name`;
    * a null sum or fold reads 0.
    */
  private def materializeRound(df: DataFrame, name: String, width: Option[Int]) = {
    val (view, release, observed, partitionRows) =
      GraftSqlShim.materializeLocalCheckpointed(df, keepPartitioning = width.isDefined)
    val m = observed.getOrElse(name, throw new IllegalStateException(
      s"observed metrics for $name missing from the materializing job"))
    (view, release, partitionRows.sum, if (m.isNullAt(0)) 0L else m.getLong(0), partitionRows)
  }

  /** Resume state from the newest committed checkpoint under `dir`, or fall
    * back to `init`. Returns (state, iterationAlreadyCompleted, converged).
    * A manifest written by a different algorithm (or a pre-`algo` layout)
    * fails loudly instead of silently returning the other run's state; so
    * does a manifest whose recorded input fingerprint differs from
    * `inputFingerprint` — resuming an old run against a mutated edge table
    * would silently continue from stale state (SURVEY §7.5's
    * `inputFingerprint` contract).
    */
  def resumeOrInit(
      spark: SparkSession,
      dir: String,
      init: => DataFrame,
      expectedAlgo: String,
      inputFingerprint: Option[Long] = None): (DataFrame, Int, Boolean) = {
    latestManifest(spark, dir) match {
      case Some((iterDone, json)) =>
        val manifest = ManifestJson.readTree(json)
        val found = Option(manifest.get("algo")).map(_.asText)
        if (!found.contains(expectedAlgo))
          throw new IllegalStateException(
            s"checkpoint at $dir was written by algo '${found.getOrElse("<unknown>")}', " +
            s"not '$expectedAlgo' — refusing to resume from another run's state")
        val foundFp = Option(manifest.get("input_fp")).map(_.asLong)
        (inputFingerprint, foundFp) match {
          case (Some(now), Some(then_)) if now != then_ =>
            throw new IllegalStateException(
              s"checkpoint at $dir was written for input fingerprint $then_, " +
              s"but the current input fingerprints to $now — refusing to resume " +
              "a run against a different input table")
          case _ => ()
        }
        val state = spark.read.parquet(s"$dir/iter=$iterDone/state")
        val converged = manifest.path("converged").asBoolean(false)
        (state, iterDone, converged)
      case None => (init, 0, false)
    }
  }

  /** Newest iteration number with a committed manifest, plus its JSON. */
  def latestManifest(spark: SparkSession, dir: String): Option[(Int, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val iters = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("iter=") => n.drop(5).toInt }
      .sorted(Ordering[Int].reverse)
    iters.iterator.flatMap { k =>
      val mf = new Path(s"$dir/iter=$k/manifest.json")
      if (fs.exists(mf)) Some(k -> Using.resource(fs.open(mf))(in =>
        new String(in.readAllBytes(), StandardCharsets.UTF_8)))
      else None
    }.nextOption()
  }

  /** Write `state` and then its manifest, the commit marker. `partitionRows`
    * are the state's per-partition row counts, taken from the job that
    * materialized it; `rows` is their sum.
    */
  private[graft] def writeCheckpoint(
      dir: String, algo: String, iteration: Int,
      changed: Long, partitionRows: Array[Long], state: DataFrame,
      converged: Boolean, threshold: Long, phases: List[PhaseWindow],
      inputFingerprint: Option[Long] = None): Unit = {
    val spark = state.sparkSession
    state.write.mode("overwrite").parquet(s"$dir/iter=$iteration/state")
    val manifest = ListMap[String, Any](
      "algo" -> algo, "iteration" -> iteration, "changed" -> changed,
      "rows" -> partitionRows.sum,
      "converged" -> converged, "convergence_threshold" -> threshold) ++
      inputFingerprint.map("input_fp" -> _) ++
      ListMap("perPartitionRows" -> partitionRows,
        "phases" -> phases.map(w => ListMap(
          "phase" -> w.phase, "wall_ms" -> w.wallMs, "task_time_ms" -> w.taskTimeMs,
          "shuffle_read_bytes" -> w.shuffleReadBytes,
          "shuffle_write_bytes" -> w.shuffleWriteBytes)))
    val conf = spark.sparkContext.hadoopConfiguration
    val mf = new Path(s"$dir/iter=$iteration/manifest.json")
    val fs = mf.getFileSystem(conf)
    val out = fs.create(mf, true)
    try out.write(ManifestJson.writeValueAsBytes(manifest)) finally out.close()
  }

  /** Reads and writes checkpoint manifests (insertion-ordered keys) and
    * ScalingBench's level lines.
    */
  private[graft] val ManifestJson = new ObjectMapper().registerModule(DefaultScalaModule)
}
