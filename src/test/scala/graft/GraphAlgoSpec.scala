package graft

import graft.model._
import graft.algo.{ConnectedComponents, PageRank, Paths, TriangleCount}
import graft.oracle.SerialOracles
import graft.gen.SyntheticGraph
import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** Connected components, triangle count, BFS and SSSP: golden fixtures +
  * differential tests vs the serial oracle, plus a GraphX cross-check for
  * CC and triangles (GraphX used as oracle only — the engine is GraphX-free).
  */
class GraphAlgoSpec extends SparkSpec {
  import spark.implicits._

  private def edgeDs(edges: Seq[(Long, Long)]) =
    spark.createDataset(edges.map { case (s, d) => Edge(s, d) })

  test("F10: two K3 components, count and FNV hash match the oracle") {
    val k3s = Seq[(Long, Long)]((0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5))
    val res = ConnectedComponents.run(edgeDs(k3s))
    val got = res.components.collect().map(c => c.id -> c.component).toMap
    val oracle = SerialOracles.connectedComponents(0L to 5L, k3s)
    got shouldBe oracle
    res.componentCount shouldBe 2
    ConnectedComponents.fnvHash(res.components) shouldBe
      SerialOracles.fnvComponentHash(oracle)
  }

  test("CC treats direction as irrelevant (weak components)") {
    val chain = Seq[(Long, Long)]((5, 4), (3, 4), (3, 2), (9, 8))
    val res = ConnectedComponents.run(edgeDs(chain))
    val got = res.components.collect().map(c => c.id -> c.component).toMap
    got shouldBe Map(5L -> 2L, 4L -> 2L, 3L -> 2L, 2L -> 2L, 9L -> 8L, 8L -> 8L)
  }

  test("CC differential on random graphs incl. GraphX cross-check") {
    Seq((30, 1, 3L), (60, 2, 17L)).foreach { case (n, d, seed) =>
      val edges = SyntheticGraph.randomEdgesLocal(n, d, seed)
      val got = ConnectedComponents.run(edgeDs(edges))
        .components.collect().map(c => c.id -> c.component).toMap
      val vertices = edges.flatMap { case (s, dd) => Seq(s, dd) }.distinct
      got shouldBe SerialOracles.connectedComponents(vertices, edges)
      val sc = spark.sparkContext
      val gx = GxGraph(
        sc.parallelize(vertices.map(id => (id, 0))),
        sc.parallelize(edges.flatMap { case (s, dd) =>
          Seq(GxEdge(s, dd, 1), GxEdge(dd, s, 1))
        })).connectedComponents().vertices.collect().toMap
      withClue(s"n=$n vs graphx: ") { got shouldBe gx }
    }
  }

  test("F12: K3 + pendant per-vertex triangle counts") {
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (0, 2), (2, 3))
    val res = TriangleCount.run(edgeDs(edges))
    res.totalTriangles shouldBe 1
    res.counts.collect().map(t => t.id -> t.triangles).toMap shouldBe
      Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 0L)
  }

  test("triangles: direction/self-loop/duplicate insensitivity") {
    // same undirected K4 expressed with noise: dups, reversals, self loops
    val k4 = Seq[(Long, Long)]((0, 1), (1, 0), (0, 2), (0, 3), (1, 2), (1, 2),
      (3, 1), (2, 3), (2, 2))
    val res = TriangleCount.run(edgeDs(k4))
    res.totalTriangles shouldBe 4
    res.counts.collect().map(t => t.id -> t.triangles).toMap shouldBe
      Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)
  }

  test("triangle differential on random graphs incl. GraphX cross-check") {
    Seq((25, 3, 8L), (50, 4, 21L)).foreach { case (n, d, seed) =>
      val edges = SyntheticGraph.randomEdgesLocal(n, d, seed)
      val got = TriangleCount.run(edgeDs(edges))
        .counts.collect().map(t => t.id -> t.triangles).toMap
      val vertices = edges.flatMap { case (s, dd) => Seq(s, dd) }.distinct
      got shouldBe SerialOracles.triangleCounts(vertices, edges)
      val sc = spark.sparkContext
      val gx = GxGraph(
        sc.parallelize(vertices.map(id => (id, 0))),
        sc.parallelize(edges.map { case (s, dd) => GxEdge(s, dd, 1) }))
        .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
        .triangleCount().vertices.collect().toMap
      withClue(s"n=$n vs graphx: ") {
        got.view.mapValues(_.toInt).toMap shouldBe gx
      }
    }
  }

  test("triangle close build: broadcast == shuffled-hash, ids at the top of u32") {
    // ids in [2^32-80, 2^32): the packed pk = id(v1)·2^32 + id(v2) goes
    // negative as a signed Long and the (degree,id) key's low lane has the
    // sign bit set — any signed shift or widening in the pack/unpack chain
    // would silently corrupt the join keys at exactly these ids
    val offset = 0xFFFFFFFFL - 80
    val edges = SyntheticGraph.randomEdgesLocal(60, 4, 33L)
      .map { case (s, d) => (s + offset, d + offset) }
    def run(closeBuildMaxRows: Long) = {
      val r = TriangleCount.run(edgeDs(edges), closeBuildMaxRows)
      val out = (r.counts.collect().map(t => t.id -> t.triangles).toMap,
        r.totalTriangles)
      r.release()
      out
    }
    val packedBroadcast = run(TriangleCount.DefaultCloseBuildMaxRows)
    val packedShuffled = run(1L) // force the web-scale SHJ build
    val vertices = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
    packedBroadcast._1 shouldBe SerialOracles.triangleCounts(vertices, edges)
    packedShuffled shouldBe packedBroadcast
  }

  test("triangle count fails fast on ids outside the u32 domain") {
    val tooBig = Seq[(Long, Long)]((1L << 32, 1L), (1L, 2L))
    val ex = intercept[IllegalArgumentException] {
      TriangleCount.run(edgeDs(tooBig))
    }
    ex.getMessage should include("2^32")
    // the bounds cover every vertex: an id that only a self-loop names is
    // refused too
    val selfLoopOnly = Seq[(Long, Long)]((1L << 32, 1L << 32), (0L, 1L), (1L, 2L), (0L, 2L))
    intercept[IllegalArgumentException] {
      TriangleCount.run(edgeDs(selfLoopOnly))
    }.getMessage should include(s"[0, ${1L << 32}]")
    // a negative id would set the packed keys' high bits: also rejected
    val negative = Seq[(Long, Long)]((-1L, 1L), (1L, 2L), (2L, -1L))
    val neg = intercept[IllegalArgumentException] {
      TriangleCount.run(edgeDs(negative))
    }
    neg.getMessage should include("[-1, 2]")
  }

  test("BFS levels match the oracle; unreachable vertices absent") {
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (2, 3), (0, 2), (7, 8))
    val res = Paths.bfs(edgeDs(edges), 0L)
    val got = res.dists.collect().map(v => v.id -> v.dist.toLong).toMap
    val vertices = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
    val oracle = SerialOracles.bfs(vertices, edges, 0L)
      .collect { case (k, Some(v)) => k -> v }
    got shouldBe oracle
    res.reachable shouldBe 4
    res.maxDist shouldBe 2.0
  }

  test("BFS maxLevels caps expansion") {
    val chain = (0L until 10L).map(i => (i, i + 1))
    val res = Paths.bfs(edgeDs(chain), 0L, maxLevels = 3)
    res.dists.collect().map(_.dist).max shouldBe 3.0
  }

  test("SSSP matches the oracle on weighted random graphs") {
    Seq((30, 3, 13L)).foreach { case (n, d, seed) =>
      val raw = SyntheticGraph.randomEdgesLocal(n, d, seed)
      val weighted = raw.zipWithIndex.map { case ((s, dd), i) =>
        (s, dd, 1.0 + (SyntheticGraph.splitmix64(i) & 0xff).toDouble / 16.0)
      }
      val ds = spark.createDataset(weighted.map { case (s, dd, w) => WEdge(s, dd, w) })
      val got = Paths.sssp(ds, 0L).dists.collect().map(v => v.id -> v.dist).toMap
      val vertices = raw.flatMap { case (s, dd) => Seq(s, dd) }.distinct
      val oracle = SerialOracles.sssp(vertices, weighted, 0L)
        .collect { case (k, Some(v)) => k -> v }
      got.keySet shouldBe oracle.keySet
      got.foreach { case (k, v) => v shouldBe oracle(k) +- 1e-12 }
    }
  }

  test("release() unpersists the result dataset of BFS, SSSP, CC, star CC, PR and TC") {
    val e = edgeDs(SyntheticGraph.randomEdgesLocal(80, 2, seed = 21L))
    val weighted = e.select($"src", $"dst", lit(2.0).as("weight")).as[WEdge]
    val bfs = Paths.bfs(e, 0L)
    val sssp = Paths.sssp(weighted, 0L)
    val cc = ConnectedComponents.run(e)
    val star = ConnectedComponents.runStar(e)
    val pr = PageRank.run(e)
    val tc = TriangleCount.run(e)
    Seq[(String, org.apache.spark.sql.Dataset[_], () => Unit)](
      ("bfs", bfs.dists, bfs.release), ("sssp", sssp.dists, sssp.release),
      ("cc", cc.components, cc.release), ("star cc", star.components, star.release),
      ("pr", pr.ranks, pr.release), ("tc", tc.counts, tc.release)).foreach {
      case (algo, result, release) => withClue(s"$algo: ") {
        result.storageLevel should not be StorageLevel.NONE
        release()
        result.storageLevel shouldBe StorageLevel.NONE
      }
    }
  }
}
