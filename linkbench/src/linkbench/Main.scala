package linkbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.Locale
import scala.collection.mutable

/** Link-graph benchmark: one workload, one seed, one JSON result line.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR --state DIR
  *      [--small] [--corrupt]
  * }}}
  *
  * Set-up (JVM start to session ready, the input table written three times,
  * and the workload's untimed warm-up passes over it) is timed separately.
  * Then as many passes from the input table to the sinks as fit in S
  * seconds at the workload's nominal pass time; each pass is followed,
  * outside its timed window, by the workload's correctness checks.
  * Untraced (`--trace 0`), the result carries the end-to-end metrics,
  * medians over the passes. Traced, passes alternate between traced and
  * untraced, and the result carries the per-layer metrics; the spans go to
  * `<state>/traces/` as JSONL.
  *
  * `--small` runs the small input; `--corrupt` alters one output before it
  * is checked, which must count as a failure (the checker's self-check).
  */
object Main {

  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"), Metric("total_s", "s"), Metric("heap_retained_mb", "MB"))

  private val Algos = Seq("lp", "pr", "cc")

  val PerLayer: Seq[Metric] = Seq(
    Metric("io.pages_scan_s", "s"), Metric("io.pages_scan_mb", "MB"),
    Metric("io.tsv_parse_s", "s"), Metric("io.sink_s", "s"), Metric("io.sink_mb", "MB"),
    Metric("extract.links_s", "s"), Metric("extract.link_rows", "count"),
    Metric("extract.text_s", "s"), Metric("extract.text_mb", "MB"),
    Metric("graph.degrees_s", "s")) ++
    Algos.flatMap(a => Seq(
      Metric(s"$a.wall_s", "s"), Metric(s"$a.setup_s", "s"), Metric(s"$a.supersteps", "count"),
      Metric(s"$a.superstep_med_ms", "ms"), Metric(s"$a.gather_med_ms", "ms"),
      Metric(s"$a.apply_med_ms", "ms"), Metric(s"$a.task_ms_per_superstep", "ms"),
      Metric(s"$a.shuffle_bytes_per_edge_superstep", "B"),
      Metric(s"$a.model_bytes_per_edge_superstep", "B"), Metric(s"$a.ckpt_s", "s"))) ++
    Seq(
      Metric("loop.idle_share", "ratio"), Metric("superstep_edges_per_s", "1/s"),
      Metric("checkpoint_disk_mb", "MB"),
      Metric("tc.wall_s", "s"), Metric("tc.shuffle_mb", "MB"), Metric("tc.spill_mb", "MB"),
      Metric("heap_peak_mb", "MB"), Metric("spark.gc_s", "s"), Metric("spark.spill_mb", "MB"),
      Metric("spark.jobs", "count"), Metric("spark.stages", "count"), Metric("spark.tasks", "count"),
      Metric("failed_frac", "ratio"), Metric("trace.overhead_s", "s"))

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One timed pass and what was measured around it. */
  final case class Pass(
      traced: Boolean, totalS: Double, heapPeakBytes: Long, heapRetainedBytes: Long, gcS: Double,
      out: Option[PassOut], spans: Seq[Span])

  def main(args: Array[String]): Unit = {
    // every printed number is machine-parsed: dot decimals on any host
    Locale.setDefault(Locale.ROOT)
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(a => a == "--small" || a == "--corrupt").toSet
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val state = new File(opts("state")).getAbsoluteFile
    val small = flags("--small")
    val corrupt = flags("--corrupt")
    require(Workloads.names.contains(name), s"unknown workload $name")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.Bench.session(cpus, "linkbench")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark)

    val wl = Workloads(spark, name, seed, small)
    val input = s"$work/input"
    val genS = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); wl.writeInput(input); secSince(t0)
    }
    // warm-up: untimed passes over the measured input load and JIT-compile
    // the code every measured pass runs. After a warm-up on a smaller input
    // the first full-size pass still ran 10% (graph_loops) to 100%
    // (crawl_extract) slower than the passes after it. A traced run warms up
    // once more: its first pass is traced, and passes still speed up a
    // little after the first warm-up.
    val tw = System.nanoTime()
    val warmups = wl.warmupPasses + (if (trace) 1 else 0)
    for (_ <- 1 to warmups) wl.run(input, s"$work/warm-pass", tracer).release()
    val warmS = secSince(tw)
    val setupS = sessionS + warmS + median(genS)
    println(f"setup: session $sessionS%.3f s, input ${genS.mkString(" ")} s, warm-up $warmS%.3f s")

    wl.prepare(new File(state, "oracle"))

    // The pass count follows --seconds through the workload's nominal pass
    // time, not the clock: a slower host then measures the same passes.
    // A traced run alternates traced and untraced passes.
    val fit = math.max(1, (seconds / wl.passSeconds).toInt)
    val count = if (trace) math.max(2, fit) else fit
    val passes = mutable.ArrayBuffer.empty[Pass]
    var attempted = 0L
    var failed = 0L
    for (r <- 0 until count) {
      val c0 = System.nanoTime()
      val traced = trace && r % 2 == 0
      // a pass that threw leaves its checkpoints, which the next would resume
      Workloads.deleteTree(s"$work/pass")
      val live0 = Heap.reset()
      val gc0 = Heap.gcMs
      tracer.record(r, traced)
      val p0 = System.nanoTime()
      val out = try Right(tracer.span("pass") {
        wl.run(input, s"$work/pass", tracer)
      }) catch { case e: Exception => Left(e) }
      val totalS = secSince(p0)
      tracer.record(r, traced = false)
      val gcS = (Heap.gcMs - gc0) / 1e3
      val (heapPeak, heapLive) = Heap.measure()
      attempted += wl.checks.size
      out match {
        case Right(o) =>
          val results = try o.check(corrupt) catch {
            case e: Exception => wl.checks.map(_ -> Some(s"check threw $e"))
          }
          results.foreach { case (c, bad) =>
            bad.foreach { msg => failed += 1; println(s"FAILED pass $r $c: $msg") }
          }
          o.release()
        case Left(e) =>
          failed += wl.checks.size
          println(s"FAILED pass $r: $e")
          e.printStackTrace()
      }
      passes += Pass(traced, totalS, heapPeak, heapLive - live0, gcS, out.toOption,
        tracer.spans.filter(_.rep == r).toSeq)
      println(f"pass $r${if (traced) " traced" else ""}: total $totalS%.3f s, " +
        f"heap retained ${(heapLive - live0) / 1e6}%.1f MB, peak ${heapPeak / 1e6}%.1f MB, " +
        f"cycle ${secSince(c0)}%.3f s" +
        out.toOption.toSeq.flatMap(_.loops).map(l => s", ${l.algo} ${l.iterations} supersteps").mkString)
    }
    tracer.close()

    val ok = passes.filter(_.out.isDefined)
    require(ok.nonEmpty, "every measured pass failed")
    val metrics: Seq[(Metric, Double)] =
      if (!trace) {
        Seq(setupS, median(ok.map(_.totalS)), median(ok.map(_.heapRetainedBytes / 1e6)))
          .zip(EndToEnd).map(_.swap)
      } else {
        val traced = ok.filter(_.traced)
        val untraced = ok.filterNot(_.traced)
        require(traced.nonEmpty, "no traced pass succeeded")
        val perPass = traced.map(p => layerMetrics(p, tracer, cpus))
        val runLevel = Map(
          "failed_frac" -> failed.toDouble / attempted,
          "trace.overhead_s" ->
            (if (untraced.isEmpty) 0.0 else median(traced.map(_.totalS)) - median(untraced.map(_.totalS))))
        PerLayer.map(m => m -> runLevel.getOrElse(m.name, median(perPass.map(_(m.name)))))
      }
    if (trace) {
      val f = new File(state, s"traces/$name-seed$seed.jsonl").toPath
      tracer.writeJsonl(f)
      println(s"spans: $f")
    }
    metrics.foreach { case (m, v) => println(s"metric ${m.name} ${Json.num(v)} ${m.unit}") }
    val body = metrics.map { case (m, v) =>
      s""""${m.name}":{"value":${Json.num(v)},"unit":"${m.unit}"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$body}""")
    spark.stop()
  }

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(p: Pass, tracer: Tracer, cpus: Int): Map[String, Double] = {
    val out = p.out.get
    def spans(name: String) = p.spans.filter(_.name == name)
    def sec(name: String) = spans(name).map(_.sec).sum
    def work(pred: String => Boolean) =
      p.spans.filter(s => pred(s.name) && s.name != "pass").map(_.work).foldLeft(Work())(_ + _)
    def cnt(name: String, key: String) = spans(name).flatMap(_.counts.get(key)).sum
    val all = p.spans.find(_.name == "pass").map(tracer.inclusive).getOrElse(Work())
    val m = mutable.LinkedHashMap[String, Double](
      "io.pages_scan_s" -> sec("io.pages_scan"),
      "io.pages_scan_mb" -> work(_ == "io.pages_scan").inputBytes / 1e6,
      "io.tsv_parse_s" -> sec("io.tsv_parse"),
      "io.sink_s" -> sec("io.sink"),
      "io.sink_mb" -> out.sinkBytes / 1e6,
      "extract.links_s" -> sec("extract.links"),
      "extract.link_rows" -> cnt("extract.links", "rows"),
      "extract.text_s" -> sec("extract.text"),
      "extract.text_mb" -> cnt("extract.text", "bytes") / 1e6,
      "graph.degrees_s" -> sec("graph.degrees"))
    for (a <- Algos) {
      val loop = out.loops.find(_.algo == a)
      val st = loop.map(_.stats).getOrElse(Nil)
      val steps = loop.map(_.iterations).getOrElse(0).toDouble
      val edges = loop.map(_.edges).getOrElse(0L).toDouble
      val computeS = st.map(_.computeMs).sum / 1e3
      val ckptS = st.map(_.checkpointMs).sum / 1e3
      val phases = st.flatMap(_.phases)
      def med(xs: Seq[Double]) = median(xs)
      def perStep(v: Double) = if (steps > 0) v / steps else 0.0
      def perEdgeStep(v: Double) = if (steps > 0 && edges > 0) v / (edges * steps) else 0.0
      // BASELINE.md's LP model: 2(W-1)(n+1)·4 bytes per iteration, W workers
      val model = loop.map(l => 2.0 * (cpus - 1) * (l.vertices + 1) * 4 / l.edges).getOrElse(0.0)
      val wall = sec(s"algo.$a")
      m ++= Seq(
        s"$a.wall_s" -> wall,
        s"$a.setup_s" -> (if (loop.isDefined) wall - computeS - ckptS else 0.0),
        s"$a.supersteps" -> steps,
        s"$a.superstep_med_ms" -> med(st.map(_.computeMs.toDouble)),
        s"$a.gather_med_ms" -> med(phases.filter(_.phase == "gather").map(_.wallMs.toDouble)),
        s"$a.apply_med_ms" -> med(phases.filter(_.phase == "apply").map(_.wallMs.toDouble)),
        s"$a.task_ms_per_superstep" -> perStep(phases.map(_.taskTimeMs).sum.toDouble),
        s"$a.shuffle_bytes_per_edge_superstep" -> perEdgeStep(phases.map(_.shuffleWriteBytes).sum.toDouble),
        s"$a.model_bytes_per_edge_superstep" -> model,
        s"$a.ckpt_s" -> ckptS)
    }
    val loopStats = out.loops.flatMap(_.stats)
    val loopWallS = loopStats.map(_.computeMs).sum / 1e3
    val loopTaskS = loopStats.flatMap(_.phases).map(_.taskTimeMs).sum / 1e3
    val edgeSteps = out.loops.map(l => l.edges.toDouble * l.iterations).sum
    val tc = work(_ == "algo.tc")
    m ++= Seq(
      "loop.idle_share" -> (if (loopWallS > 0) 1 - loopTaskS / (cpus * loopWallS) else 0.0),
      "superstep_edges_per_s" -> (if (loopWallS > 0) edgeSteps / loopWallS else 0.0),
      "checkpoint_disk_mb" -> out.checkpointBytes / 1e6,
      "tc.wall_s" -> sec("algo.tc"),
      "tc.shuffle_mb" -> tc.shuffleWriteBytes / 1e6,
      "tc.spill_mb" -> tc.spillBytes / 1e6,
      "heap_peak_mb" -> p.heapPeakBytes / 1e6,
      "spark.gc_s" -> p.gcS,
      "spark.spill_mb" -> all.spillBytes / 1e6,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble)
    m.toMap
  }
}
