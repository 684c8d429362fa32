package graft

import graft.model._
import graft.algo.LabelPropagation
import graft.oracle.SerialOracles
import graft.gen.SyntheticGraph

/** Distributed Dataset LP vs the serial oracle: golden fixtures plus
  * differential tests on deterministic random graphs (sizes, densities and
  * seed rates swept; the reference ships no property tests — this is our
  * §5/4-level-equivalent differential layer).
  */
class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  private def runBoth(
      n: Int,
      edges: Seq[(Long, Long)],
      seeds: Map[Long, Long],
      maxIter: Int = DefaultMaxIter): (Map[Long, Long], Map[Long, Long]) = {
    val ds = spark.createDataset(edges.map { case (s, d) => Edge(s, d) })
    val sd = spark.createDataset(seeds.toSeq.map { case (k, v) => Seed(k, v) })
    val res = LabelPropagation.run(ds, sd, RunConfig(maxIter = maxIter))
    val dist = res.labels.collect().map(v => v.id -> v.label).toMap
    (dist, lpOracle(n, edges, seeds, maxIter))
  }

  /** Serial-oracle labels over ids [0, n). The oracle emits rows for
    * isolated ids too; the Dataset engine only sees vertices present in the
    * edge table or the seeds — restricted to those.
    */
  private def lpOracle(
      n: Int,
      edges: Seq[(Long, Long)],
      seeds: Map[Long, Long],
      maxIter: Int = DefaultMaxIter): Map[Long, Long] = {
    val present = edges.flatMap { case (s, d) => Seq(s, d) }.toSet ++ seeds.keySet
    SerialOracles.labelPropagation(n, edges, seeds, maxIter)
      .zipWithIndex
      .collect { case (Some(l), i) if present(i.toLong) => i.toLong -> l }
      .toMap
  }

  /** LP over `edges`/`seeds` with every id shifted by `idOff` and every seed
    * label by `labelOff`; returns the labels shifted back, the iteration
    * count and the converged flag.
    */
  private def lpShifted(
      edges: Seq[(Long, Long)],
      seeds: Map[Long, Long],
      idOff: Long = 0L,
      labelOff: Long = 0L,
      cfg: RunConfig = RunConfig()): (Map[Long, Long], Int, Boolean) = {
    val res = LabelPropagation.run(
      spark.createDataset(edges.map { case (s, d) => Edge(s + idOff, d + idOff) }),
      spark.createDataset(seeds.toSeq.map { case (k, v) => Seed(k + idOff, v + labelOff) }),
      cfg)
    val m = res.labels.collect().map(v => (v.id - idOff) -> (v.label - labelOff)).toMap
    res.release()
    (m, res.iterations, res.converged)
  }

  // Threshold 1 salts every gather key with more than one edge row, so the
  // salted gather runs on graphs far below real hub sizes.
  private val saltCfg = RunConfig(hubDegreeThreshold = 1L)

  private val triangle = Seq[(Long, Long)]((0, 1), (0, 2), (2, 0), (2, 1), (1, 0), (1, 2))

  test("F1 distributed: triangle seed 0→100") {
    val (d, o) = runBoth(3, triangle, Map(0L -> 100L))
    d shouldBe o
    d shouldBe Map(0L -> 100L, 1L -> 100L, 2L -> 100L)
  }

  test("F2 distributed unsupervised: all 0") {
    val (d, o) = runBoth(3, triangle, Map.empty)
    d shouldBe o
    d.values.toSet shouldBe Set(0L)
  }

  test("F3 distributed: conflicting duplicate seeds min-deduped in-engine") {
    val ds = spark.createDataset(triangle.map { case (s, dd) => Edge(s, dd) })
    val sd = spark.createDataset(Seq(Seed(0L, 50L), Seed(0L, 30L)))
    val res = LabelPropagation.run(ds, sd)
    res.labels.collect().map(v => v.id -> v.label).toMap shouldBe
      Map(0L -> 30L, 1L -> 30L, 2L -> 30L)
  }

  test("F4 distributed direction probe") {
    val (d, o) = runBoth(2, Seq((0L, 1L)), Map(1L -> 7L))
    d shouldBe o
    d shouldBe Map(0L -> 7L, 1L -> 7L)
  }

  test("F5 distributed tie-break to smallest") {
    val (d, o) = runBoth(3, Seq((0L, 2L), (1L, 2L), (2L, 0L), (2L, 1L)),
      Map(0L -> 50L, 1L -> 30L))
    d shouldBe o
    d(2L) shouldBe 30L
  }

  test("F6 distributed two components") {
    val k3a = Seq[(Long, Long)]((0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0))
    val k3b = Seq[(Long, Long)]((3, 4), (4, 3), (4, 5), (5, 4), (3, 5), (5, 3))
    val (d, o) = runBoth(6, k3a ++ k3b, Map(0L -> 10L, 3L -> 20L))
    d shouldBe o
  }

  test("F9 distributed: converged flag and immediate stop") {
    val ds = spark.createDataset(Seq(Edge(0L, 1L), Edge(1L, 0L)))
    val sd = spark.createDataset(Seq(Seed(0L, 100L), Seed(1L, 200L)))
    val res = LabelPropagation.run(ds, sd)
    res.converged shouldBe true
    res.iterations shouldBe 1
    res.labels.collect().map(v => v.id -> v.label).toMap shouldBe
      Map(0L -> 100L, 1L -> 200L)
  }

  test("duplicate edges weight the vote") {
    // node 2 sees label(0) twice via duplicate edge, label(1) once
    val edges = Seq[(Long, Long)]((2, 0), (2, 0), (2, 1))
    val (d, o) = runBoth(3, edges, Map(0L -> 200L, 1L -> 100L))
    d shouldBe o
    d(2L) shouldBe 200L
    // every 4th ring edge tripled: Σw = 1.5 × rows, far outside the 1%
    // near-unit gate, so the vote carries w; the extra copies reorder
    // majorities that the plain ring would tie (converged or capped at
    // maxIter, the oracle runs the same supersteps)
    val ring = (0L until 400L).flatMap(i =>
      Seq(1L, 2L, 5L).map(o => (i, (i + o) % 400)))
    val heavy = ring ++ ring.zipWithIndex.collect { case (e, i) if i % 4 == 0 => Seq(e, e) }.flatten
    val (dh, oh) = runBoth(400, heavy, Map(0L -> 100L, 133L -> 200L, 266L -> 300L))
    dh shouldBe oh
  }

  test("differential: random graphs across sizes, densities, seed rates") {
    val cases = for {
      n <- Seq(7, 23, 60)
      density <- Seq(1, 3, 6)
      seedMod <- Seq(0, 10, 3) // 0 = unsupervised
    } yield (n, density, seedMod)
    cases.foreach { case (n, density, seedMod) =>
      val edges = SyntheticGraph.randomEdgesLocal(n, density, seed = 42L + n + density)
      val seeds =
        if (seedMod == 0) Map.empty[Long, Long]
        else (0L until n by seedMod).map(i => i -> (i % 4) * 100).toMap
      val (d, o) = runBoth(n, edges, seeds)
      withClue(s"n=$n density=$density seedMod=$seedMod: ") { d shouldBe o }
    }
  }

  test("differential: maxIter-capped run matches oracle mid-convergence") {
    val edges = SyntheticGraph.randomEdgesLocal(40, 2, seed = 7L)
    val seeds = Map(0L -> 100L, 20L -> 300L)
    Seq(1, 2, 3).foreach { cap =>
      val (d, o) = runBoth(40, edges, seeds, maxIter = cap)
      withClue(s"maxIter=$cap: ") { d shouldBe o }
    }
  }

  test("differential: community-structured graph (the LP-native topology)") {
    // exact per-vertex equality with the serial oracle, seeded and
    // unsupervised, with inter-community links present
    val n = 120
    val edges = SyntheticGraph.communityEdgesLocal(n, 4, 0.3, 0.02)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) } // undirected voting
    val seeds = Map(0L -> 100L, 35L -> 200L, 65L -> 300L, 95L -> 400L)
    val (d, o) = runBoth(n, edges, seeds)
    d shouldBe o
    val (du, ou) = runBoth(n, edges, Map.empty)
    du shouldBe ou
  }

  test("isolated communities: each dominated by its own seed's label") {
    // interProb low enough that the expected inter-degree rounds to zero →
    // four disconnected dense communities; each seed must own its community
    val n = 120
    val edges = SyntheticGraph.communityEdgesLocal(n, 4, 0.4, 0.0)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    edges.exists { case (a, b) => a / 30 != b / 30 } shouldBe false
    val seeds = Map(0L -> 100L, 35L -> 200L, 65L -> 300L, 95L -> 400L)
    val (d, o) = runBoth(n, edges, seeds)
    d shouldBe o
    val dominant = (0 until 4).map { c =>
      val members = (c * 30 until (c + 1) * 30).map(_.toLong)
      val labels = members.flatMap(d.get)
      labels.groupBy(identity).maxBy(_._2.size)._1
    }
    dominant shouldBe Seq(100L, 200L, 300L, 400L)
  }

  test("unsupervised with declared numNodes covers isolated vertices") {
    // edges touch only 0..2; numNodes=6 declares 3,4,5 as isolated —
    // they keep label=id (lpst init_labels over [0, num_nodes))
    val ds = spark.createDataset(triangle.map { case (s, d) => Edge(s, d) })
    val res = LabelPropagation.run(ds, spark.emptyDataset[Seed],
      RunConfig(), numNodes = Some(6L))
    val got = res.labels.collect().map(v => v.id -> v.label).toMap
    val oracle = SerialOracles.labelPropagation(6, triangle, Map.empty)
      .zipWithIndex.collect { case (Some(l), i) => i.toLong -> l }.toMap
    got shouldBe oracle // NO masking of isolated ids here
    got(3L) shouldBe 3L
    got(4L) shouldBe 4L
    got(5L) shouldBe 5L
  }

  test("convergence-ratio stop rule (lpst class API variant)") {
    val edges = SyntheticGraph.randomEdgesLocal(50, 3, seed = 13L)
    val ds = spark.createDataset(edges.map { case (s, d) => Edge(s, d) })
    val sd = spark.createDataset(Seq(Seed(0L, 100L), Seed(25L, 300L)))
    // ratio 1.0: any change fraction satisfies the rule → stops after 1 step
    val loose = LabelPropagation.run(ds, sd, RunConfig(convergenceRatio = Some(1.0)))
    loose.iterations shouldBe 1
    loose.converged shouldBe true
    // ratio None: identical to the absolute-count default
    val strict = LabelPropagation.run(ds, sd)
    val strictRatio = LabelPropagation.run(ds, sd,
      RunConfig(convergenceRatio = Some(0.0)))
    strictRatio.iterations shouldBe strict.iterations
    strictRatio.labels.collect().map(v => v.id -> v.label).toMap shouldBe
      strict.labels.collect().map(v => v.id -> v.label).toMap
  }

  test("declared numNodes: reference tolerance for out-of-range inputs") {
    // reference contract (lpst): edges with src >= n are silently dropped
    // (build_csr_from_edges, lib.rs:49-71), seeds with node >= n are
    // silently ignored (init_labels, lib.rs:158-172); ONLY dst >= n is a
    // hard error — the reference gather indexes labels[dst] and panics.
    val ds = spark.createDataset(Seq(Edge(0L, 1L), Edge(1L, 9L)))
    val sd = spark.createDataset(Seq(Seed(0L, 100L)))
    // dst 9 >= 5 → fail fast (the reference would panic at gather)
    val ex = intercept[IllegalArgumentException] {
      LabelPropagation.run(ds, sd, numNodes = Some(5L))
    }
    ex.getMessage should include("out-of-range")
    // seed node 99 >= 10 → silently ignored; the run stays SEEDED (the raw
    // seed map is non-empty) with zero effective seeds → no label ever set
    LabelPropagation.run(ds, spark.createDataset(Seq(Seed(99L, 100L))),
      numNodes = Some(10L)).labels.count() shouldBe 0L
    // src 9 >= 8 with dst 5 < 8 → the edge is silently dropped, the run
    // succeeds, and the dropped edge contributes no vote: seed 5's label
    // never reaches 9 (nor anything else over that edge)
    val dsSrcHigh = spark.createDataset(Seq(Edge(0L, 5L), Edge(9L, 5L)))
    val got = LabelPropagation.run(dsSrcHigh,
        spark.createDataset(Seq(Seed(5L, 70L))), numNodes = Some(8L))
      .labels.collect().map(v => v.id -> v.label).toMap
    got shouldBe Map(0L -> 70L, 5L -> 70L)
    // exact cover is fine; labels flow dst→src here, so only the seed at 0
    // (whose out-neighbour chain never carries a label back) stays labeled
    LabelPropagation.run(ds, sd, numNodes = Some(10L))
      .labels.count() shouldBe 1L
  }

  test("near-unit expansion: narrow vote == weighted vote, dups still weighted") {
    // ring edges are distinct by construction → the narrow (w-less) vote
    // path engages; appending one duplicated edge (multiplicity 2, 0.07%
    // of rows — inside the 1% near-unit gate) must still weight that vote
    // twice via the setup-time row expansion. Tripling every edge (Σw =
    // 3 × rows) takes the weighted vote and scales every vote uniformly, so
    // each majority and tie is unchanged. The salted gather takes the
    // narrow vote on the same multigraph.
    val ring = (0L until 500L).flatMap(i =>
      Seq(1L, 2L, 3L).map(o => (i, (i + o) % 500)))
    val withDup = ring ++ Seq((7L, 9L))
    val seeds = Map(0L -> 100L, 250L -> 300L)
    val narrow = lpShifted(withDup, seeds)
    val weighted = lpShifted(Seq.fill(3)(withDup).flatten, seeds)
    narrow shouldBe weighted
    lpShifted(withDup, seeds, cfg = saltCfg) shouldBe narrow
    narrow._1 shouldBe lpOracle(500, withDup, seeds)
  }

  test("checkpoint fingerprints interchange between vote representations") {
    val dir = java.nio.file.Files.createTempDirectory("lp-vw-chk").toString
    val pairs = (0L until 120L).flatMap(i => Seq((i, (i + 1) % 120), (i, (i + 7) % 120)))
    val edges = spark.createDataset(pairs.map { case (s, d) => Edge(s, d) })
    val seedMap = Map(0L -> 100L, 60L -> 200L)
    val seeds = spark.createDataset(seedMap.toSeq.map { case (k, v) => Seed(k, v) })
    val cfg = model.RunConfig(
      checkpointDir = Some(dir), checkpointEvery = 1, maxIter = 2)
    // write checkpoints under the narrow (expanded-row) representation,
    // stop unconverged
    val first = LabelPropagation.run(edges, seeds, cfg)
    first.converged shouldBe false
    first.release()
    // resume under the salted edge side: the manifest fingerprint is
    // computed over the re-grouped logical (src,dst,w) multigraph without
    // the salt column, so both physical layouts must accept each other's
    // checkpoints
    val resumed = LabelPropagation.run(edges, seeds,
      saltCfg.copy(checkpointDir = Some(dir), checkpointEvery = 1))
    resumed.converged shouldBe true
    resumed.labels.collect().map(v => v.id -> v.label).toMap shouldBe lpOracle(120, pairs, seedMap)
    resumed.release()
  }

  test("label histogram reports 20 smallest labels with counts") {
    val ds = spark.createDataset(triangle.map { case (s, d) => Edge(s, d) })
    val res = LabelPropagation.run(ds, spark.emptyDataset[Seed])
    val hist = LabelPropagation.labelHistogram(res.labels).collect()
    hist.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 3L))
  }

  // Tie-heavy topology: a bipartite-ish graph where most vertices see an
  // exact vote tie every superstep, so the argmax's min-label tie-break is
  // on the critical path of every assignment. Exercised at id and label
  // offsets that select each vote representation.
  private def tieHeavy: (Seq[(Long, Long)], Map[Long, Long]) = {
    // each right-side vertex r in [100,160) gets edges from exactly two
    // left-side seeds chosen so their labels differ → every vote is 1-vs-1
    val edges = (0L until 60L).flatMap { i =>
      val r = 100L + i
      Seq((2 * (i % 7), r), (2 * ((i + 3) % 7) + 1, r),
          (r, 2 * (i % 7)), (r, 2 * ((i + 3) % 7) + 1))
    }
    val seeds = (0L until 14L).map(i => i -> (500L + i * 3)).toMap
    (edges, seeds)
  }

  test("packed-long argmax == struct argmax on a tie-heavy graph") {
    // labels < 2^32 pack the vote's argmax into (cnt<<32)|(2^32-1-label),
    // which hash-aggregates; labels ≥ 2^32 cannot, and take the
    // max(struct(cnt,-label)) shape. Same ties, same labels as the oracle.
    val (edges, seeds) = tieHeavy
    val oracle = lpOracle(160, edges, seeds)
    val packed = lpShifted(edges, seeds)
    val structv = lpShifted(edges, seeds, labelOff = 1L << 32)
    packed._1 shouldBe oracle
    structv shouldBe packed
  }

  test("packed vote exchange == pair exchange, incl. src ids above 2^31") {
    // src ids and labels < 2^32 ship one long pk=(src<<32)|label on the
    // per-superstep exchange; ids in [2^31, 2^32) make that long NEGATIVE,
    // pinning the shiftrightunsigned unpack (a signed shiftright
    // sign-extends there); ids ≥ 2^32 take the (src,label) pair row. Every
    // offset must reproduce the oracle, ties included.
    val (edges, seeds) = tieHeavy
    val oracle = lpOracle(160, edges, seeds)
    val runs = Seq(0L, 1L << 31, 1L << 32).map { off =>
      val r = lpShifted(edges, seeds, idOff = off)
      withClue(s"id offset $off: ") { r._1 shouldBe oracle }
      r
    }
    runs.map(_._2).distinct should have size 1
  }

  test("packed exchange under forced salting (weighted vote row)") {
    // every edge doubled (Σw = 2 × rows) takes the weighted vote and
    // scales every vote uniformly; salted, the packed exchange ships
    // (pk, w) for ids < 2^32 and the (src, label, w) pair row above; both
    // agree with the unsalted run of the single edges
    val (edges, seeds) = tieHeavy
    val plain = lpShifted(edges, seeds)
    plain._1 shouldBe lpOracle(160, edges, seeds)
    for (off <- Seq(0L, 1L << 31, 1L << 32))
      withClue(s"id offset $off: ") {
        lpShifted(edges ++ edges, seeds, idOff = off, cfg = saltCfg) shouldBe plain
      }
  }

  test("an LP run logs no 'locally checkpointed' WARN when it releases its state") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("lp-rdd-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = messages.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark.rdd"
    val logger = new LoggerConfig(name, Level.WARN, false)
    logger.addAppender(capture, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    def warns = messages.toArray.count(_.toString.contains("locally checkpointed"))
    try {
      // the capture sees the WARN that RDD.unpersist logs for such an RDD
      val probe = spark.sparkContext.parallelize(1 to 10).map(_ + 1)
      probe.localCheckpoint()
      probe.count()
      probe.unpersist()
      warns shouldBe 1
      messages.clear()
      val edges = SyntheticGraph.communityEdgesLocal(120, 4, 0.3, 0.02)
      val res = LabelPropagation.run(
        spark.createDataset(edges.map { case (s, d) => Edge(s, d) }),
        spark.createDataset(Seq(Seed(0, 100), Seed(65, 300))))
      res.labels.count()
      res.release()
      res.iterations should be > 1
      warns shouldBe 0
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      capture.stop()
    }
  }
}
