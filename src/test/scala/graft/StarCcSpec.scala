package graft

import graft.algo.ConnectedComponents
import graft.gen.SyntheticGraph
import graft.model._
import graft.oracle.SerialOracles

/** Alternating large-star/small-star CC: output equivalence with the
  * min-propagation engine + serial oracle, and the round bound that
  * motivates it — convergence independent of graph diameter (a path graph
  * needs diameter-many rounds under plain min-propagation but O(log² n)
  * under star contraction).
  */
class StarCcSpec extends SparkSpec {
  import spark.implicits._

  private def starComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val ds = spark.createDataset(edges.map { case (s, d) => Edge(s, d) })
    val res = ConnectedComponents.runStar(ds)
    res.components.collect().map(c => c.id -> c.component).toMap
  }

  test("star CC == min-propagation CC == serial oracle on random graphs") {
    Seq((40, 1), (60, 2), (100, 3)).foreach { case (n, density) =>
      val edges = SyntheticGraph.randomEdgesLocal(n, density, seed = 11L + n)
      val ds = spark.createDataset(edges.map { case (s, d) => Edge(s, d) })
      val star = starComponents(edges)
      val minProp = ConnectedComponents.run(ds)
        .components.collect().map(c => c.id -> c.component).toMap
      val vertices = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
      val oracle = SerialOracles.connectedComponents(vertices, edges)
      withClue(s"n=$n density=$density: ") {
        star shouldBe minProp
        star shouldBe oracle
      }
    }
  }

  test("star CC on two components and singletons-in-edge-set") {
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (5, 6), (7, 7))
    val got = starComponents(edges)
    got(0L) shouldBe 0L
    got(1L) shouldBe 0L
    got(2L) shouldBe 0L
    got(5L) shouldBe 5L
    got(6L) shouldBe 5L
    got(7L) shouldBe 7L // self-loop only → own component
  }

  test("diameter stress: path graph converges in O(log n) rounds, not O(n)") {
    val n = 20000L
    val path = (0L until n - 1).map(i => (i, i + 1))
    val ds = spark.createDataset(path.map { case (s, d) => Edge(s, d) })
    val res = ConnectedComponents.runStar(ds)
    res.componentCount shouldBe 1L
    res.components.filter($"component" =!= 0L).count() shouldBe 0L
    // diameter is n-1 = 19999; star contraction must land well under 2·log2(n)+5
    res.iterations should be <= 24
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  test("star CC resumes from a mid-run checkpoint to the identical result") {
    val dir = java.nio.file.Files.createTempDirectory("star-chk").toString
    val n = 3000L
    val path = (0L until n - 1).map(i => (i, i + 1))
    val ds = spark.createDataset(path.map { case (s, d) => Edge(s, d) })
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 2)
    val full = ConnectedComponents.runStar(ds, cfg = cfg)
    full.iterations should be > 2
    val expected = full.components.collect().map(c => c.id -> c.component).toMap

    // crash simulation: drop every checkpoint but the earliest
    val iters = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("iter=")).map(_.drop(5).toInt).sorted
    iters.filter(_ > iters.min).foreach(k => rm(new java.io.File(s"$dir/iter=$k")))

    val resumed = ConnectedComponents.runStar(ds, cfg = cfg)
    resumed.iterations should be < full.iterations // only the remaining rounds
    resumed.componentCount shouldBe 1L
    resumed.components.collect().map(c => c.id -> c.component).toMap shouldBe expected

    // a converged manifest short-circuits the loop entirely
    val again = ConnectedComponents.runStar(ds, cfg = cfg)
    again.iterations shouldBe 0
    again.components.collect().map(c => c.id -> c.component).toMap shouldBe expected
  }

  test("star CC resumed from any round converges at the uninterrupted run's round") {
    val dir = java.nio.file.Files.createTempDirectory("star-chk3").toString
    val n = 3000L
    val ds = spark.createDataset((0L until n - 1).map(i => Edge(i, i + 1)))
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 1)
    val full = ConnectedComponents.runStar(ds, cfg = cfg)
    val expected = full.components.collect().map(c => c.id -> c.component).toMap
    val Some((last, _)) = graft.algo.Superstep.latestManifest(spark, dir)
    last shouldBe full.iterations
    // from the round before the fixpoint the resumed run must stop after
    // ONE round: it compares against the resumed state's own fingerprint;
    // from round 1 it must replay every remaining round
    Seq(last - 1, 1).foreach { kept =>
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("iter="))
        .filter(_.getName.drop(5).toInt > kept).foreach(rm)
      val resumed = ConnectedComponents.runStar(ds, cfg = cfg)
      withClue(s"resumed from round $kept: ") {
        resumed.iterations shouldBe full.iterations - kept
        val Some((resumedLast, json)) = graft.algo.Superstep.latestManifest(spark, dir)
        resumedLast shouldBe last
        json should include(s"\"iteration\":$last,")
        json should include("\"converged\":true")
        resumed.components.collect().map(c => c.id -> c.component).toMap shouldBe expected
      }
    }
  }

  test("packed distinct exchange == pair distinct, incl. ids above 2^31") {
    // u32 ids ship each round's two distinct() exchanges as one long
    // pk=(u<<32)|v; ids in [2^31, 2^32) make that long NEGATIVE, pinning
    // the shiftrightunsigned unpack; ids ≥ 2^32 take the (u,v) pair rows.
    // Every offset must reproduce the oracle, in the same round count.
    val base = SyntheticGraph.randomEdgesLocal(120, 2, seed = 77L)
    val vertices = base.flatMap { case (s, d) => Seq(s, d) }.distinct
    val oracle = SerialOracles.connectedComponents(vertices, base)
    val runs = Seq(0L, 1L << 31, 1L << 32).map { off =>
      val res = ConnectedComponents.runStar(spark.createDataset(
        base.map { case (s, d) => Edge(s + off, d + off) }))
      val got = res.components.collect()
        .map(c => (c.id - off) -> (c.component - off)).toMap
      withClue(s"id offset $off: ") { got shouldBe oracle }
      val out = (res.iterations, res.componentCount)
      res.release()
      out
    }
    runs.distinct should have size 1
  }

  test("star CC resume refuses a checkpoint from a different input graph") {
    val dir = java.nio.file.Files.createTempDirectory("star-chk2").toString
    val cfg = RunConfig(checkpointDir = Some(dir), checkpointEvery = 1)
    val a = spark.createDataset((0L until 200L).sliding(2).toSeq
      .map(w => Edge(w.head, w.last)))
    ConnectedComponents.runStar(a, cfg = cfg)
    val b = spark.createDataset((0L until 200L).sliding(2).toSeq
      .map(w => Edge(w.last * 2, w.head * 2))) // different canonical edge set
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.runStar(b, cfg = cfg)
    }
    ex.getMessage should include("fingerprint")
  }
}
