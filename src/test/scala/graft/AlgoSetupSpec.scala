package graft

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Paths, Superstep, TriangleCount}
import graft.gen.SyntheticGraph
import graft.model._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.functions._

/** An algorithm's setup: one vertex pass gives the vertex set, its size and
  * its bounds, and one job places each edge side. Pins what the setup
  * submits, and checks the degenerate empty graph end to end.
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
  }

  test("LP, PR, CC, BFS, star CC and TC submit a pinned number of setup jobs") {
    val edges = edgeDs(SyntheticGraph.randomEdgesLocal(2000, 5, seed = 11L))
    val seeds = spark.createDataset(SyntheticGraph.seedsLocal(2000).toSeq
      .map { case (n, l) => Seed(n, l) })
    val group = "algo-setup-jobs"
    val setupJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (Option(ev.properties).exists(p => p.getProperty("spark.jobGroup.id") == group &&
            p.getProperty(Superstep.LoopIdProperty) == null))
          setupJobs.incrementAndGet()
    }
    // jobs outside the supersteps of one run: its setup, its init and its
    // result tail
    def setup(run: => (() => Unit)): Int = {
      GraftSqlShim.waitListenerBus(spark)
      setupJobs.set(0)
      spark.sparkContext.setJobGroup(group, "algorithm setup")
      val release = try run finally spark.sparkContext.clearJobGroup()
      GraftSqlShim.waitListenerBus(spark)
      release()
      setupJobs.get
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
    // one job pins each vertex set, and each edge side counts its rows
    // and finds its largest key in the aggregation that fills its cache;
    // under the test session's AQE each exchange's map stage and each scan
    // of an unfilled cache (TC's canonical edges in its orientation job)
    // are jobs of their own
    got shouldBe Seq("lp" -> 14, "lp unsupervised" -> 10, "pr" -> 16, "cc" -> 12, "bfs" -> 11,
      "star cc" -> 10, "tc" -> 22)
  }
}
