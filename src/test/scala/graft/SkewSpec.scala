package graft

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Paths}
import graft.gen.SyntheticGraph
import graft.model._
import graft.oracle.SerialOracles

/** Hub-skew salting: salted plans must produce identical results to the
  * unsalted ones (labels exact; PageRank within FP-reassociation noise) on
  * a graph with a hot hub key. Salting is always automatic; the
  * package-private `hubDegreeThreshold` reaches it on these small graphs.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // hub graph: every node links to node 0 (hot gather key), node 0 links
  // back to a few, plus random background edges
  private val hubEdges: Seq[(Long, Long)] = {
    val toHub = (1L to 300L).map(i => (i, 0L))
    val fromHub = (1L to 10L).map(i => (0L, i))
    val background = SyntheticGraph.randomEdgesLocal(300, 2, seed = 31L)
      .map { case (s, d) => (s + 1, d + 1) }
    toHub ++ fromHub ++ background
  }

  private def ds(edges: Seq[(Long, Long)]) =
    spark.createDataset(edges.map { case (s, d) => Edge(s, d) })

  test("LP: salted == unsalted on a hub graph") {
    val seeds = spark.createDataset(Seq(Seed(0L, 100L), Seed(7L, 300L)))
    val plain = LabelPropagation.run(ds(hubEdges), seeds)
      .labels.collect().map(v => v.id -> v.label).toMap
    val salted = LabelPropagation.run(ds(hubEdges), seeds,
      RunConfig(hubDegreeThreshold = 20))
      .labels.collect().map(v => v.id -> v.label).toMap
    salted shouldBe plain
  }

  test("PR: salted == unsalted on a hub graph (1e-9)") {
    val plain = PageRank.run(ds(hubEdges))
      .ranks.collect().map(r => r.id -> r.rank).toMap
    val salted = PageRank.run(ds(hubEdges),
      cfg = RunConfig(hubDegreeThreshold = 20))
      .ranks.collect().map(r => r.id -> r.rank).toMap
    salted.keySet shouldBe plain.keySet
    salted.foreach { case (k, v) => v shouldBe plain(k) +- 1e-9 }
  }

  test("auto mode engages on a hub graph and stays identical to unsalted") {
    import graft.graph.SkewJoin
    import org.apache.spark.sql.functions._
    val packed = ds(hubEdges).groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    // detection: the hub's 300-row dst key is hot at threshold 20...
    val p = SkewJoin.plan(packed, "dst", "src", SkewJoin.AutoK, 20)
    p.isDefined shouldBe true
    p.get.nHot shouldBe 1L
    // ...and a uniform graph yields no plan at all (zero loop overhead)
    val uniform = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(100, 3, seed = 17L)
        .map { case (s, d) => Edge(s, d) })
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    SkewJoin.plan(uniform, "dst", "src", SkewJoin.AutoK, 1000) shouldBe None
    // end-to-end: a low threshold (hub salted) == the default one (no
    // key reaches 2M rows, nothing salted)
    val seeds = spark.createDataset(Seq(Seed(0L, 100L), Seed(7L, 300L)))
    val auto = LabelPropagation.run(ds(hubEdges), seeds,
      RunConfig(hubDegreeThreshold = 20))
      .labels.collect().map(v => v.id -> v.label).toMap
    val off = LabelPropagation.run(ds(hubEdges), seeds)
      .labels.collect().map(v => v.id -> v.label).toMap
    auto shouldBe off
  }

  test("salting ignores graphs with no hot keys (same results, plan built)") {
    val edges = SyntheticGraph.randomEdgesLocal(100, 3, seed = 3L)
    val seeds = spark.createDataset(
      SyntheticGraph.seedsLocal(100).toSeq.map { case (n, l) => Seed(n, l) })
    val plain = LabelPropagation.run(ds(edges), seeds)
      .labels.collect().map(v => v.id -> v.label).toMap
    val salted = LabelPropagation.run(ds(edges), seeds,
      RunConfig(hubDegreeThreshold = 1000))
      .labels.collect().map(v => v.id -> v.label).toMap
    salted shouldBe plain
  }

  test("CC and SSSP: salted == SerialOracles on a hub graph") {
    val vertices = hubEdges.flatMap { case (s, d) => Seq(s, d) }.distinct
    // CC's doubled edge side is keyed by src: the hub holds 310+ rows
    val cc = ConnectedComponents.run(ds(hubEdges), RunConfig(
      maxIter = Int.MaxValue, hubDegreeThreshold = 20))
    cc.components.collect().map(c => c.id -> c.component).toMap shouldBe
      SerialOracles.connectedComponents(vertices, hubEdges)
    cc.release()
    // SSSP's edge side is keyed by src too: the hub's 10 out-edges (plus
    // background) exceed threshold 5
    val weighted = hubEdges.map { case (s, d) => (s, d, ((s + d) % 5 + 1).toDouble) }
    val sssp = Paths.sssp(
      spark.createDataset(weighted.map { case (s, d, w) => WEdge(s, d, w) }), 0L,
      RunConfig(maxIter = Int.MaxValue, hubDegreeThreshold = 5))
    sssp.dists.collect().map(v => v.id -> v.dist).toMap shouldBe
      SerialOracles.sssp(vertices, weighted, 0L).collect { case (v, Some(d)) => v -> d }
    sssp.release()
  }
}
