package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
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
  *    carries delta/out-degree, parallel edges counted in the degree and
  *    each carrying its own share, like GraphX's one message per edge
  *  - terminate when no messages are in flight
  *  - finally normalize ranks to sum to the vertex count (SPARK-18847
  *    `normalizeRankSum`, confirmed present in the Spark 4.1.2 graphx jar).
  *
  * Differentially tested against GraphX itself in PageRankSpec.
  *
  * Physical shape per superstep: frontier (id, delta/out-degree) ⋈ edges
  * (pre-partitioned by src, persisted once) → groupBy(dst).sum → left
  * join back to rank state. Only active vertices shuffle; the frontier
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

    val vertices = Superstep.vertexSet(edges)
    val numVertices = vertices.count
    // contributions scatter out of src along the raw edge rows, a parallel
    // edge carrying its own share: the edge side is keyed by src (a src
    // with 10^7 out-edges is salted across partitions)
    val side = Superstep.edgeSide(edges.select($"src", $"dst"), "src", cfg, numVertices)

    // after Pregel superstep 0 (initial message to every vertex): every
    // vertex received one, so every vertex is in the first frontier; `inv`
    // = 1/out-degree (null for a sink), counted over the src-placed cache
    val degree = side.edges.groupBy($"src".as("id")).agg(count(lit(1)).as("deg"))
    val init: DataFrame = vertices.ids.join(degree, Seq("id"), "left_outer").select(
      $"id", lit(resetProb).as("rank"), lit(resetProb).as("delta"),
      (lit(1.0) / $"deg").as("inv"), lit(true).as("_chg"))

    def step(state: DataFrame): DataFrame = {
      val frontier = state.filter($"_chg" && $"delta" > tol)
        .select($"id", ($"delta" * $"inv").as("share"))
      val msgs = side.gather(frontier)
        .groupBy(col("dst").as("id"))
        .agg(sum($"share").as("msg"))
      state.select($"id", $"rank", $"delta", $"inv")
        .join(Superstep.shj(msgs), Seq("id"), "left_outer")
        .select(
          $"id",
          when($"msg".isNotNull, $"rank" + lit(1.0 - resetProb) * $"msg")
            .otherwise($"rank").as("rank"),
          when($"msg".isNotNull, lit(1.0 - resetProb) * $"msg")
            .otherwise($"delta").as("delta"),
          $"inv",
          $"msg".isNotNull.as("_chg"))
    }

    val res = try Superstep.loop(init, Some(side), step, cfg.copy(maxIter = maxIter),
        algo = "pagerank", Superstep.fingerprint64(
          side.edges.groupBy($"src", $"dst").agg(count(lit(1)).as("w"))))
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
