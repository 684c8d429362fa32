package graft

import graft.model._
import graft.algo.PageRank
import graft.oracle.SerialOracles
import graft.gen.SyntheticGraph
import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}

/** PageRank differential tests. The engine itself is GraphX-free; GraphX
  * (shipped in /opt/spark/jars) is used here purely as the reference oracle,
  * since the reference's published semantics ARE GraphX
  * `pageRank(tol, 0.85).runUntilConvergence` (`pagerank_graphx_shell.scala:62`).
  * Contract: per-vertex scores allclose 1e-6 (north rule).
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def graphxRanks(edges: Seq[(Long, Long)], tol: Double): Map[Long, Double] = {
    val sc = spark.sparkContext
    val edgeRdd = sc.parallelize(edges.map { case (s, d) => GxEdge(s, d, 1.0) })
    val vertexRdd = sc.parallelize(
      edges.flatMap { case (s, d) => Seq(s, d) }.distinct.map(id => (id, 1.0)))
    GxGraph(vertexRdd, edgeRdd).pageRank(tol).vertices.collect().toMap
  }

  private def engineRanks(edges: Seq[(Long, Long)], tol: Double): Map[Long, Double] = {
    val ds = spark.createDataset(edges.map { case (s, d) => Edge(s, d) })
    PageRank.run(ds, tol).ranks.collect().map(r => r.id -> r.rank).toMap
  }

  private def assertAllClose(a: Map[Long, Double], b: Map[Long, Double],
                             atol: Double = 1e-6): Unit = {
    a.keySet shouldBe b.keySet
    a.foreach { case (id, v) =>
      withClue(s"vertex $id: ") { v shouldBe b(id) +- atol }
    }
  }

  test("F11: symmetric triangle → equal ranks, sum = n") {
    val triangle = Seq[(Long, Long)]((0, 1), (0, 2), (2, 0), (2, 1), (1, 0), (1, 2))
    val r = engineRanks(triangle, 1e-6)
    r.values.sum shouldBe 3.0 +- 1e-9
    assertAllClose(r, Map(0L -> 1.0, 1L -> 1.0, 2L -> 1.0))
  }

  test("engine == GraphX on a chain with a dangling sink") {
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (2, 3), (0, 3))
    assertAllClose(engineRanks(edges, 1e-6), graphxRanks(edges, 1e-6))
  }

  test("engine == GraphX == serial oracle on random graphs") {
    Seq((20, 2, 11L), (50, 4, 5L), (30, 1, 99L)).foreach { case (n, d, seed) =>
      val edges = SyntheticGraph.randomEdgesLocal(n, d, seed)
      val eng = engineRanks(edges, 1e-6)
      val gx = graphxRanks(edges, 1e-6)
      withClue(s"n=$n d=$d vs graphx: ") { assertAllClose(eng, gx, 1e-5) }
      val vertices = edges.flatMap { case (s, dd) => Seq(s, dd) }.distinct
      val oracle = SerialOracles.pageRank(vertices, edges, 1e-6)
      withClue(s"n=$n d=$d vs oracle: ") { assertAllClose(eng, oracle, 1e-9) }
    }
  }

  test("duplicate edges weight contributions like GraphX parallel edges") {
    val edges = Seq[(Long, Long)]((0, 1), (0, 1), (0, 2), (1, 0), (2, 0))
    assertAllClose(engineRanks(edges, 1e-6), graphxRanks(edges, 1e-6))
  }

  test("repeated runs give bit-identical ranks") {
    // every superstep sums its messages in the edge side's row order, so
    // nothing decided at run time (a join's build side) may reorder it
    val ds = spark.createDataset(SyntheticGraph.randomEdgesLocal(2000, 5, seed = 11L)
      .map { case (s, d) => Edge(s, d) })
    def bits(): Map[Long, Long] = {
      val res = PageRank.run(ds)
      try res.ranks.collect().map(r => r.id -> java.lang.Double.doubleToRawLongBits(r.rank)).toMap
      finally res.release()
    }
    val first = bits()
    first should have size 2000
    (2 to 8).foreach(run => withClue(s"run $run: ") { bits() shouldBe first })
  }

  test("reports num_vertices / max_rank / sum_rank like the reference sink") {
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (2, 0))
    val ds = spark.createDataset(edges.map { case (s, d) => Edge(s, d) })
    val res = PageRank.run(ds)
    res.numVertices shouldBe 3
    res.sumRank shouldBe 3.0 +- 1e-9
    res.maxRank shouldBe 1.0 +- 1e-6
  }
}
