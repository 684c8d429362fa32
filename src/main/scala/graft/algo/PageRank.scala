package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model._

/** Dynamic (delta-based) PageRank to convergence, reproducing the exact
  * semantics of GraphX `PageRank.runUntilConvergence` — the formulation the
  * reference benchmarks (`pagerank_graphx_shell.scala:59-65`, tol 1e-6,
  * damping 0.85) — without any GraphX dependency:
  *
  *  - every vertex starts at rank 0 and receives the initial message
  *    resetProb/(1−resetProb), so after superstep 0: rank = resetProb,
  *    delta = resetProb
  *  - a vertex that received a message applies
  *    rank += (1−resetProb)·msgSum, delta = (1−resetProb)·msgSum
  *  - messages flow only out of vertices that received one last round AND
  *    whose delta > tol (Pregel activeDirection = Out); each out-edge
  *    carries delta/outDegree, parallel edges counted in the degree and
  *    contributing multiplicity-many times (we fold multiplicity into a
  *    per-(src,dst) weight — identical arithmetic up to FP association,
  *    covered by the 1e-6 allclose contract)
  *  - terminate when no messages are in flight
  *  - finally normalize ranks to sum to the vertex count (SPARK-18847
  *    `normalizeRankSum`, confirmed present in the Spark 4.1.2 graphx jar).
  *
  * Differentially tested against GraphX itself in PageRankSpec.
  *
  * Physical shape per superstep: frontier ⋈ contribution-weighted edges
  * (edges pre-partitioned by src, persisted once) → groupBy(dst).sum →
  * left join back to rank state. Only active vertices shuffle; the frontier
  * collapses geometrically as deltas fall below tol.
  */
object PageRank {

  final case class PrResult(
      ranks: Dataset[VertexRank],
      iterations: Int,
      numVertices: Long,
      maxRank: Double,
      sumRank: Double,
      stats: List[Superstep.IterStats],
      // frees only the columnar cache of `ranks`; `run` freed the rest
      release: () => Unit = () => ())

  def run(
      edges: Dataset[Edge],
      tol: Double = 1e-6,
      resetProb: Double = 0.15,
      maxIter: Int = Int.MaxValue,
      cfg: RunConfig = RunConfig()): PrResult = {
    val spark = edges.sparkSession
    import spark.implicits._

    val packed = edges.groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outDeg = packed.groupBy($"src").agg(sum($"w").as("deg"))
    // contribution weight per distinct (src,dst): multiplicity / outDegree
    val contribRaw = packed.join(outDeg, "src")
      .select($"src", $"dst", ($"w".cast("double") * (lit(1.0) / $"deg")).as("cw"))

    val vertices = Superstep.vertexSet(edges)
    val numVertices = vertices.count
    // contributions scatter out of src: the edge side is keyed by src (a
    // src with 10^7 out-edges is salted across partitions)
    val side = Superstep.edgeSide(contribRaw, "src", cfg, numVertices)
    packed.unpersist(blocking = false)

    // after Pregel superstep 0 (initial message to every vertex): every
    // vertex received one, so every vertex is in the first frontier
    val init: DataFrame = vertices.ids.select(
      $"id", lit(resetProb).as("rank"), lit(resetProb).as("delta"), lit(true).as("_chg"))

    def step(state: DataFrame): DataFrame = {
      val frontier = state.filter($"_chg" && $"delta" > tol).select($"id", $"delta")
      val msgs = side.gather(frontier)
        .groupBy(col("dst").as("id"))
        .agg(sum($"delta" * $"cw").as("msg"))
      state.select($"id", $"rank", $"delta")
        .join(Superstep.shj(msgs), Seq("id"), "left_outer")
        .select(
          $"id",
          when($"msg".isNotNull, $"rank" + lit(1.0 - resetProb) * $"msg")
            .otherwise($"rank").as("rank"),
          when($"msg".isNotNull, lit(1.0 - resetProb) * $"msg")
            .otherwise($"delta").as("delta"),
          $"msg".isNotNull.as("_chg"))
    }

    val res = try Superstep.loop(init, Some(side), step, cfg.copy(maxIter = maxIter),
        algo = "pagerank", Superstep.fingerprint64(side.edges))
      finally vertices.release()

    // SPARK-18847: scale ranks to sum to the vertex count (none when empty)
    // by an ordered sum: ranks must be bit-reproducible (see Superstep.fill)
    val ranks = try {
      val factor =
        if (numVertices == 0) 0.0
        else numVertices.toDouble / res.state.agg(sum($"rank")).head().getDouble(0)
      Superstep.fill(res.state.select($"id", ($"rank" * factor).as("rank")).as[VertexRank],
        coalesce(max($"rank"), lit(0.0)), coalesce(sum($"rank"), lit(0.0)))
    } finally res.release()
    PrResult(ranks.ds, res.iterations, numVertices,
      ranks.summary.getDouble(0), ranks.summary.getDouble(1), res.stats,
      release = () => ranks.release())
  }
}
