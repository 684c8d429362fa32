package graft

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Paths, Superstep, TriangleCount}
import graft.gen.SyntheticGraph
import graft.model._
import org.apache.spark.ExceptionFailure
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, GraftSqlShim, classic}
import org.apache.spark.sql.functions._

/** An algorithm's setup: one vertex pass gives the vertex set, its size and
  * its bounds, and one job places each edge side; its result is one
  * columnar cache, filled in the job that observes its summary. Pins what
  * setup and result tail submit, and checks the degenerate empty graph end
  * to end.
  */
class AlgoSetupSpec extends SparkSpec {
  import spark.implicits._

  private def edgeDs(edges: Seq[(Long, Long)]) =
    spark.createDataset(edges.map { case (s, d) => Edge(s, d) })

  test("the vertex pass's count and bounds equal distinct, min and max") {
    val edges = edgeDs(Seq((3L, 4L), (4L, 7L), (7L, 3L), (4L, 3L)))
    // a seed-only id (900) and a source no edge touches (-5)
    val seeds = Seq(900L, 4L).toDF("id")
    val source = spark.range(1).select(lit(-5L).as("id"))
    val ids = edges.select($"src".as("id")).union(edges.select($"dst".as("id")))
      .union(seeds).union(source)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val pass = Superstep.vertexSet(edges, seeds, source)
    try {
      pass.count shouldBe ids.distinct().count()
      val r = ids.agg(min($"id"), max($"id")).head()
      pass.bounds shouldBe Some((r.getLong(0), r.getLong(1)))
      pass.fitsU32 shouldBe false
      pass.ids.as[Long].collect().sorted shouldBe ids.distinct().as[Long].collect().sorted
      (spark.sparkContext.getPersistentRDDs.keySet -- pinned) should have size 1
    } finally pass.release()
    (spark.sparkContext.getPersistentRDDs.keySet -- pinned) shouldBe empty

    val noIds = Superstep.vertexSet(edges.filter(lit(false)))
    try {
      (noIds.count, noIds.bounds, noIds.fitsU32) shouldBe ((0L, None, true))
    } finally noIds.release()
  }

  test("LP, PR, CC, star CC, BFS and TC run on an empty edge table and leave nothing cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a task that throws (e.g. reading a block released under it) is a
    // fault even when the job's result is right
    val taskErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = ev.reason match {
        case f: ExceptionFailure => taskErrors.add(s"stage ${ev.stageId}: ${f.description}")
        case _ =>
      }
    }
    GraftSqlShim.waitListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      val e = edgeDs(Nil)
      val lp = LabelPropagation.run(e, spark.emptyDataset[Seed])
      val pr = PageRank.run(e)
      val cc = ConnectedComponents.run(e)
      val star = ConnectedComponents.runStar(e)
      val bfs = Paths.bfs(e, 0L)
      val tc = TriangleCount.run(e)
      lp.labels.count() shouldBe 0L
      pr.ranks.count() shouldBe 0L
      (pr.numVertices, pr.maxRank, pr.sumRank) shouldBe ((0L, 0.0, 0.0))
      cc.components.count() shouldBe 0L
      star.components.count() shouldBe 0L
      bfs.dists.collect() shouldBe Array(VertexDist(0L, 0.0))
      (tc.counts.count(), tc.totalTriangles) shouldBe ((0L, 0L))
      Seq(lp.release, pr.release, cc.release, star.release, bfs.release, tc.release)
        .foreach(_())
      // only the RDDs the runs added: the context cleaner may drop older ones
      (sc.getPersistentRDDs.keySet -- before) shouldBe empty
      // a stage a job left behind may still be running its tasks
      val deadline = System.nanoTime() + 10000000000L
      while (sc.statusTracker.getActiveStageIds.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      GraftSqlShim.waitListenerBus(spark)
      taskErrors.toArray.toSeq shouldBe empty
    } finally sc.removeSparkListener(listener)
  }

  test("LP, PR, CC, BFS, star CC and TC submit a pinned number of setup jobs") {
    val edges = edgeDs(SyntheticGraph.randomEdgesLocal(2000, 5, seed = 11L))
    val seeds = spark.createDataset(SyntheticGraph.seedsLocal(2000).toSeq
      .map { case (n, l) => Seed(n, l) })
    val group = "algo-setup-jobs"
    // each counted job by its innermost engine frame and the first frame
    // outside Superstep, else by its result stage's call site (an AQE map
    // stage's is a thread pool's); a job over no partitions has no stage
    val setupJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (Option(ev.properties).exists(p => p.getProperty("spark.jobGroup.id") == group &&
            p.getProperty(Superstep.LoopIdProperty) == null))
          setupJobs.add(ev.stageInfos.sortBy(_.stageId).lastOption.fold("(no stages)") { stage =>
            val frames = stage.details.linesIterator.map(_.trim)
              .filter(f => f.startsWith("graft.") && !f.startsWith("graft.AlgoSetupSpec")).toSeq
            val sites = (frames.headOption ++ frames.find(!_.startsWith("graft.algo.Superstep")))
              .toSeq.distinct
            if (sites.isEmpty) stage.name else sites.mkString(" < ")
          })
    }
    // jobs outside the supersteps of one run: its setup, its init and its
    // result tail
    def setup(run: => (() => Unit)): Seq[String] = {
      GraftSqlShim.waitListenerBus(spark)
      setupJobs.clear()
      spark.sparkContext.setJobGroup(group, "algorithm setup")
      val release = try run finally spark.sparkContext.clearJobGroup()
      GraftSqlShim.waitListenerBus(spark)
      release()
      setupJobs.toArray(Array.empty[String]).toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      // in a fresh context the listener can miss the first job it should
      // see, so an uncounted job goes first
      spark.range(1).count()
      Seq(
        "lp" -> setup(LabelPropagation.run(edges, seeds).release),
        "lp unsupervised" -> setup(LabelPropagation.run(edges, spark.emptyDataset[Seed]).release),
        "pr" -> setup(PageRank.run(edges).release),
        "cc" -> setup(ConnectedComponents.run(edges).release),
        "bfs" -> setup(Paths.bfs(edges, 0L).release),
        "star cc" -> setup(ConnectedComponents.runStar(edges).release),
        "tc" -> setup(TriangleCount.run(edges).release))
    } finally spark.sparkContext.removeSparkListener(listener)
    // one job pins each vertex set, each edge side counts its rows and
    // finds its largest key in the aggregation over its cache (under AQE the
    // cache fills in a job of its own), and each result and setup cache is
    // filled in the one job that observes its summary; under the test
    // session's AQE each exchange's map stage is a job of its own
    withClue(got.map { case (algo, jobs) => s"$algo: ${jobs.mkString("; ")}" }
        .mkString("jobs per run:\n", "\n\n", "\n")) {
      got.map { case (algo, jobs) => algo -> jobs.size } shouldBe Seq("lp" -> 10,
        "lp unsupervised" -> 9, "pr" -> 9, "cc" -> 7, "bfs" -> 7, "star cc" -> 7, "tc" -> 14)
    }
  }

  test("a second identical run of LP, PR and CC compiles a pinned number of classes") {
    val edges = edgeDs(SyntheticGraph.randomEdgesLocal(2000, 5, seed = 11L))
    val seeds = spark.createDataset(SyntheticGraph.seedsLocal(2000).toSeq
      .map { case (n, l) => Seed(n, l) })
    def compilations(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Seq(LabelPropagation.run(edges, seeds).release, PageRank.run(edges).release,
        ConnectedComponents.run(edges).release).foreach(_())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compilations()
    // the same plans again: each loop and fill plans under the child session
    // of the first run, whose classes the codegen cache still holds. What
    // still compiles (7 classes) runs in the tasks of AQE map stages under
    // the caller's session: the edge sides' hash-partitioning projections
    // and a partial aggregation over the local edge rows. A fresh child per
    // loop and fill compiles 119.
    val second = compilations()
    withClue(s"classes compiled: first run $first, second run $second: ") {
      second should be <= 7L
    }
  }

  /** A small graph with several components: a triangle with a tail, a
    * second triangle, two isolated pairs and an id with only a self-loop.
    */
  private def components = edgeDs(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L), (30L, 31L), (40L, 40L)))

  test("observed result summaries equal the plain aggregations") {
    val e = components
    val cc = ConnectedComponents.run(e)
    val star = ConnectedComponents.runStar(e)
    val bfs = Paths.bfs(e, 1L)
    val tc = TriangleCount.run(e)
    val pr = PageRank.run(e)
    try {
      for ((algo, r) <- Seq("cc" -> cc, "star cc" -> star)) withClue(s"$algo: ") {
        r.componentCount shouldBe r.components.agg(countDistinct($"component")).head().getLong(0)
        r.componentCount shouldBe 5L
      }
      val d = bfs.dists.agg(count(lit(1)), max($"dist")).head()
      (bfs.reachable, bfs.maxDist) shouldBe ((d.getLong(0), d.getDouble(1)))
      (bfs.reachable, bfs.maxDist) shouldBe ((4L, 3.0))
      tc.totalTriangles shouldBe tc.counts.agg(sum($"triangles")).head().getLong(0) / 3
      tc.totalTriangles shouldBe 2L
      pr.maxRank shouldBe pr.ranks.agg(max($"rank")).head().getDouble(0)
    } finally Seq(cc.release, star.release, bfs.release, tc.release, pr.release).foreach(_())
  }

  test("each result owns exactly one columnar cache, and its release frees it") {
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val e = components
    val seeds = spark.createDataset(Seq(Seed(1L, 7L), Seed(10L, 8L)))
    Seq[(String, () => (Dataset[_], () => Unit))](
      "lp" -> { () => val r = LabelPropagation.run(e, seeds); (r.labels, r.release) },
      "pr" -> { () => val r = PageRank.run(e); (r.ranks, r.release) },
      "cc" -> { () => val r = ConnectedComponents.run(e); (r.components, r.release) },
      "star cc" -> { () => val r = ConnectedComponents.runStar(e); (r.components, r.release) },
      "bfs" -> { () => val r = Paths.bfs(e, 1L); (r.dists, r.release) },
      "tc" -> { () => val r = TriangleCount.run(e); (r.counts, r.release) }
    ).foreach { case (algo, run) => withClue(s"$algo: ") {
      // only the RDDs the run added: the context cleaner may drop older ones
      val before = sc.getPersistentRDDs.keySet
      val (result, release) = run()
      val cache = cacheManager.lookupCachedData(result.asInstanceOf[classic.Dataset[_]])
        .map(_.cachedRepresentation.cacheBuilder)
      cache shouldBe defined
      cache.get.isCachedColumnBuffersLoaded shouldBe true
      (sc.getPersistentRDDs.keySet -- before) shouldBe Set(cache.get.cachedColumnBuffers.id)
      release()
      (sc.getPersistentRDDs.keySet -- before) shouldBe empty
    }}
  }
}
