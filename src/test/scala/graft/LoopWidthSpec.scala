package graft

import graft.model._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Paths, Superstep}
import graft.gen.SyntheticGraph
import graft.oracle.SerialOracles
import org.apache.spark.sql.functions.round

/** The tiny-state narrow shuffle width (chosen by Superstep.edgeSide) must
  * produce results identical to the session-width loop — it is a
  * performance choice, never a semantic one.
  */
class LoopWidthSpec extends SparkSpec {
  import spark.implicits._

  private def edgeDs(edges: Seq[(Long, Long)]) =
    spark.createDataset(edges.map { case (s, d) => Edge(s, d) })

  test("edgeSide: tiny states narrow to 8-way only under a wider session") {
    val path = edgeDs((0L until 40L).map(i => (i, i + 1))).toDF()
    def width(cfg: RunConfig, vertices: Long): (Int, Int) = {
      val side = Superstep.edgeSide(path, "src", cfg, vertices)
      try (side.width, side.edges.rdd.getNumPartitions) finally side.release()
    }
    // the test session is 8-way: a tiny state keeps the session width
    width(RunConfig(), 2000L) shouldBe (8, 8)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      width(RunConfig(), 2000L) shouldBe (8, 8)
      width(RunConfig(), 16384L) shouldBe (8, 8)
      width(RunConfig(), 16385L) shouldBe (32, 32) // big state: session width
      // hot keys are salted at the session width
      width(RunConfig(hubDegreeThreshold = 0L), 41L) shouldBe (32, 32)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "8")
  }

  test("tiny-state loop width: LP/PR/CC/SSSP identical under a 32-way session") {
    val n = 200
    val edges = SyntheticGraph.randomEdgesLocal(n, 3, seed = 7L)
    val vertices = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
    val seeds = Seq(1L -> 10L, 5L -> 20L, 9L -> 30L)
    val e = edgeDs(edges)
    val s = spark.createDataset(seeds.map { case (node, l) => Seed(node, l) })

    def fps(): Seq[Long] = {
      val lp = LabelPropagation.run(e, s)
      val pr = PageRank.run(e)
      val cc = ConnectedComponents.run(e)
      val ss = Paths.sssp(e.select($"src", $"dst",
        (($"src" + $"dst") % 5 + 1).cast("double").as("weight")).as[WEdge],
        source = vertices.min)
      val out = Seq(
        Superstep.fingerprint64(lp.labels.toDF()),
        Superstep.fingerprint64(
          pr.ranks.toDF().select($"id", round($"rank", 9).as("r"))),
        Superstep.fingerprint64(cc.components.toDF()),
        Superstep.fingerprint64(ss.dists.toDF()))
      Seq(lp.release, pr.release, cc.release, ss.release).foreach(_())
      out
    }

    val at8 = fps() // session width 8: edgeSide keeps it, loop runs 8-way anyway
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    val at32 =
      try fps() // tiny state: edgeSide narrows the whole loop back to 8-way
      finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    at32 shouldBe at8
    // and the narrowed CC still matches the serial oracle
    val got = ConnectedComponents.run(e)
    got.components.collect().map(c => c.id -> c.component).toMap shouldBe
      SerialOracles.connectedComponents(vertices, edges)
    got.release()
  }
}
