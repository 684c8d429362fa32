package graft

import graft.model._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Paths}
import graft.gen.SyntheticGraph

/** Plan shape of the loop: on an unsalted graph every superstep is ONE job
  * of exactly two stages — gather (edge side ⋈ state, partial aggregation,
  * the one exchange) and apply (final aggregation, apply join, state
  * materialization). A third stage means a side was re-exchanged.
  */
class LoopPhasesSpec extends SparkSpec {
  import spark.implicits._

  test("every superstep of LP, PR, CC, BFS and SSSP runs gather then apply") {
    val e = spark.createDataset(SyntheticGraph.randomEdgesLocal(300, 3, seed = 11L)
      .map { case (s, d) => Edge(s, d) })
    val seeds = spark.createDataset(Seq(Seed(1L, 10L), Seed(150L, 20L)))
    val weighted = e.select($"src", $"dst",
      (($"src" + $"dst") % 5 + 1).cast("double").as("weight")).as[WEdge]
    val lp = LabelPropagation.run(e, seeds)
    val lpu = LabelPropagation.run(e, spark.emptyDataset[Seed]) // unsupervised
    val pr = PageRank.run(e)
    val cc = ConnectedComponents.run(e)
    val bfs = Paths.bfs(e, 0L)
    val sssp = Paths.sssp(weighted, 0L)
    Seq("lp" -> lp.stats, "lp unsupervised" -> lpu.stats, "pr" -> pr.stats,
        "cc" -> cc.stats, "bfs" -> bfs.stats, "sssp" -> sssp.stats).foreach {
      case (algo, stats) =>
        stats should not be empty
        stats.foreach(st => withClue(s"$algo superstep ${st.iteration}: ") {
          st.phases.map(_.phase) shouldBe List("gather", "apply")
        })
    }
    Seq(lp.release, lpu.release, pr.release, cc.release, bfs.release, sssp.release).foreach(_())
  }
}
