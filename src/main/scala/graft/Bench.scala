package graft

import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo._
import graft.gen.SyntheticGraph
import graft.model._
import graft.text.{Dedup, TextAnalysis}

/** Headline benchmark — one JSON line on stdout for the driver.
  *
  * Times the engine's flagship workloads at `SPARK_GRAFT_SF_DIR`:
  *  - LP + PageRank + CC + triangles on the lineitem-derived graph
  *  - LP + PageRank to convergence on the reference-topology synthetic
  *    random graph (n = SPARK_GRAFT_BENCH_NODES, default 100K, density 10 —
  *    the reference campaign's smallest point, `run_spark_graph_benchmarks
  *    .py:464`), reporting edges·iterations/sec — the north-rule metric
  *  - dedup + text-analysis sweep over `documents`
  *
  * Cores come from SPARK_GRAFT_CPUS (default 32); shuffle partitions track
  * cores so the identical job rescales with parallelism (the two-level
  * scaling evidence is produced by ScalingBench).
  */
object Bench {

  final case class Timed[T](value: T, sec: Double)
  def timed[T](f: => T): Timed[T] = {
    val t0 = System.nanoTime()
    val v = f
    Timed(v, (System.nanoTime() - t0) / 1e9)
  }

  /** Best-of-`reps` timing (default 2, `SPARK_GRAFT_BENCH_REPS`): a single
    * sample per query lets one host-noise spike (CPU steal, a stray GC)
    * invert a whole round's verdict; the min of two runs of identical work
    * is the standard noise-robust estimator. Returns the fastest run's
    * value + time.
    */
  val reps: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
  /** `cleanup` releases a LOSING rep's result (unpersist its cached
    * datasets) so reps don't accumulate retired cache entries that skew
    * later measurements; the winning rep's value is returned live.
    */
  def timedBest[T](f: => T, cleanup: T => Unit = (_: T) => ()): Timed[T] = {
    val runs = (1 to math.max(1, reps)).map(_ => timed(f))
    val best = runs.minBy(_.sec)
    runs.foreach(r => if (r ne best) cleanup(r.value))
    best
  }

  def session(cpus: Int, app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // iterative loops retire one persisted/localCheckpointed state per
      // superstep; their blocks are reclaimed by ContextCleaner only after
      // a JVM GC, which a large mostly-idle heap may not run for minutes —
      // storage then fills with dead blocks and later supersteps crawl.
      // Frequent periodic GC keeps block reclamation prompt.
      .config("spark.cleaner.periodicGC.interval", "45s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One LP + PR convergence run on the synthetic reference graph.
    * `medIterSec` is the median per-superstep wall time — the noise-robust
    * cost estimator on a host with CPU-steal spikes (each superstep is an
    * independent sample of the same work; the reference's own evidence
    * style is per-iteration phase windows, `runtime_metrics.py:81-183`).
    */
  final case class GraphRun(
      lpWallSec: Double, lpIters: Int, lpMedIterSec: Double,
      prWallSec: Double, prIters: Int, prMedIterSec: Double,
      edges: Long, lpFp: Long, prFp: Long)

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2).toDouble
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def graphBench(spark: SparkSession, n: Long, density: Int): GraphRun = {
    val edges = SyntheticGraph.randomEdges(spark, n, density)
    val seeds = SyntheticGraph.seeds(spark, n)
    val lp = timedBest(LabelPropagation.run(edges, seeds),
      (r: LabelPropagation.LpResult) => r.release())
    val lpFp = ConnectedComponents.fingerprint64(lp.value.labels.toDF())
    lp.value.release()
    val pr = timedBest(PageRank.run(edges),
      (r: PageRank.PrResult) => r.release())
    val prFp = ConnectedComponents.fingerprint64(
      pr.value.ranks.toDF().select(col("id"), round(col("rank"), 6).as("r")))
    pr.value.release()
    // IterStats.computeMs is one superstep's job wall time
    def medIter(stats: List[Superstep.IterStats]): Double =
      median(stats.map(_.computeMs)) / 1e3
    GraphRun(
      lp.sec, lp.value.iterations, medIter(lp.value.stats),
      pr.sec, pr.value.iterations, medIter(pr.value.stats),
      n * density, lpFp, prFp)
  }

  def main(args: Array[String]): Unit = {
    // the one-line JSON protocol is machine-parsed: pin the JVM default
    // locale so every f"%.3f" in this file emits dot decimals even on a
    // comma-decimal host locale
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val benchNodes = sys.env.getOrElse("SPARK_GRAFT_BENCH_NODES", "100000").toLong
    val spark = session(cpus, "graft-bench")
    import spark.implicits._

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var extras = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // lineitem-derived graph workloads
    val e = Tables.edges(spark, sfDir).cache()
    val nEdges = e.count()
    val sd = Tables.seeds(spark, sfDir)
    val lp = timedBest(LabelPropagation.run(e, sd),
      (r: LabelPropagation.LpResult) => r.release())
    results += "lp_derived" -> lp.sec
    val pr = timedBest(PageRank.run(e), (r: PageRank.PrResult) => r.release())
    results += "pagerank_derived" -> pr.sec
    val cc = timedBest(ConnectedComponents.run(e),
      (r: ConnectedComponents.CcResult) => r.release())
    results += "cc_derived" -> cc.sec
    cc.value.release()
    val tc = timedBest(TriangleCount.run(e),
      (r: TriangleCount.TcResult) => r.release())
    results += "triangles_derived" -> tc.sec
    tc.value.release()

    // synthetic reference-topology graph, north-rule metric
    val g = graphBench(spark, benchNodes, 10)
    results += "lp_synth" -> g.lpWallSec
    results += "pagerank_synth" -> g.prWallSec
    extras += "bench_reps" -> reps.toString
    extras += "lp_synth_iters" -> g.lpIters.toString
    extras += "pr_synth_iters" -> g.prIters.toString
    extras += "synth_edges" -> g.edges.toString
    extras += "lp_edges_iters_per_sec" ->
      f"${g.edges.toDouble * g.lpIters / g.lpWallSec}%.0f"
    extras += "pr_edges_iters_per_sec" ->
      f"${g.edges.toDouble * g.prIters / g.prWallSec}%.0f"
    extras += "lp_edges_per_sec_per_superstep_median" ->
      f"${g.edges.toDouble / g.lpMedIterSec}%.0f"
    extras += "pr_edges_per_sec_per_superstep_median" ->
      f"${g.edges.toDouble / g.prMedIterSec}%.0f"

    // high-diameter CC: alternating large-star/small-star on a 1M-node
    // path graph (diameter 10^6 — plain min-propagation would need 10^6
    // rounds; star contraction lands in ~log² rounds)
    val pathEdges = spark.range(999999L)
      .select($"id".as("src"), ($"id" + 1L).as("dst")).as[Edge]
    val ccStar = timedBest(ConnectedComponents.runStar(pathEdges),
      (r: ConnectedComponents.CcResult) => r.release())
    results += "cc_star_path1m" -> ccStar.sec
    extras += "cc_star_path1m_rounds" -> ccStar.value.iterations.toString
    extras += "cc_star_path1m_components" -> ccStar.value.componentCount.toString
    // star rounds carry phase windows (stage0..stageN per round)
    val starStats = ccStar.value.stats
    extras += "cc_star_med_round_ms" ->
      f"${median(starStats.map(_.computeMs))}%.0f"
    extras += "cc_star_shuffle_write_mb" ->
      f"${starStats.flatMap(_.phases.map(_.shuffleWriteBytes)).sum / 1e6}%.1f"
    extras += "cc_star_stages_per_round_med" ->
      f"${median(starStats.map(_.phases.size.toLong))}%.0f"

    // per-superstep phase windows (reference evidence style,
    // runtime_metrics.py:81-183): median wall ms of the gather and apply
    // stages across the synthetic PR run
    def medPhase(stats: List[Superstep.IterStats], phase: String): Double =
      median(stats.flatMap(_.phases.filter(_.phase == phase).map(_.wallMs)))
    val prStats = pr.value.stats
    extras += "pr_derived_gather_med_ms" -> f"${medPhase(prStats, "gather")}%.0f"
    extras += "pr_derived_apply_med_ms" -> f"${medPhase(prStats, "apply")}%.0f"
    val lpStats = lp.value.stats
    extras += "lp_derived_gather_med_ms" -> f"${medPhase(lpStats, "gather")}%.0f"
    extras += "lp_derived_apply_med_ms" -> f"${medPhase(lpStats, "apply")}%.0f"
    // all remaining reads were driver-side stats — free the cached results
    lp.value.release(); pr.value.release(); ccStar.value.release()

    // documents pipeline sweep
    val docs = Tables.table(spark, sfDir, "documents").cache()
    docs.count()
    results += "text_analyze" ->
      timedBest(TextAnalysis.analyze(docs).agg(sum($"n_tokens")).head()).sec
    results += "minhash_neardups" ->
      timedBest(Dedup.minhashNearDups(docs, threshold = 0.7).count()).sec
    results += "simhash_neardups" ->
      timedBest(Dedup.simhashNearDups(docs).count()).sec

    // embedding near-dup LSH, with its total shuffle-write volume as the
    // evidence for the id-only candidate reshape (vectors no longer ride
    // the tables× bucket explode or the pair-distinct)
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec")).cache()
    val embDim = emb.select(size($"vec")).head().getInt(0)
    emb.count()
    // tagged like a loop's superstep jobs: only the timed runs' stages count
    val lshId = java.util.UUID.randomUUID().toString
    val lshListener = new Superstep.PhaseListener(lshId)
    spark.sparkContext.addSparkListener(lshListener)
    spark.sparkContext.setLocalProperty(Superstep.LoopIdProperty, lshId)
    val embLsh = try {
      val t = timedBest(Dedup.embeddingNearDupsLsh(emb, embDim, 0.40).count())
      GraftSqlShim.waitListenerBus(spark)
      val bytes = lshListener.drain().map(_.shuffleWriteBytes).sum
      extras += "embedding_lsh_shuffle_write_mb" ->
        f"${bytes / 1e6 / math.max(1, reps)}%.1f"
      t
    } finally {
      spark.sparkContext.setLocalProperty(Superstep.LoopIdProperty, null)
      spark.sparkContext.removeSparkListener(lshListener)
    }
    results += "embedding_neardups_lsh" -> embLsh.sec
    extras += "embedding_lsh_pairs" -> embLsh.value.toString

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val ex = extras.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.values.sum
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","cpus":$cpus,"derived_edges":$nEdges,"extras":$ex}""")
    spark.stop()
  }
}
