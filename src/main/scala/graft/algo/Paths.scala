package graft.algo

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.model._

/** Frontier-based shortest-path programs: BFS min-hop levels and SSSP
  * min-distance, matching the reference's Pregel formulations
  * (`bfs_graphx_shell.scala:82-92`, `sssp_graphx_shell.scala:87-98`).
  *
  * Both are one vertex program: a dense `dist` state (+∞ = unreached; the
  * result omits those rows, the reference's `Int.MaxValue` / `+∞`
  * sentinel rendered at the sink) whose first frontier is the source, and
  * the min step CC shares ([[Superstep.minStep]]) with message
  * `dist + weight`. Each superstep joins only the frontier (vertices
  * improved last round) against the edge table, so the shuffle volume per
  * round is proportional to the frontier's out-degree sum, not the whole
  * graph.
  *
  * Both run on [[Superstep.loop]]: with `cfg.checkpointDir` set, any
  * superstep is durably resumable mid-convergence — the checkpointed state
  * carries the `_chg` frontier column, so a resumed run relaxes exactly
  * the frontier the crashed run would have. The manifest records an input
  * fingerprint of (adjacency ⊕ source), and resume refuses a checkpoint
  * taken against a different edge table OR a different source vertex
  * (same-table/different-source checkpoints are distinct runs, not
  * resumable state).
  */
object Paths {

  final case class PathResult(
      dists: Dataset[VertexDist],
      iterations: Int,
      reachable: Long,
      maxDist: Double,
      stats: List[Superstep.IterStats],
      converged: Boolean = true,
      // frees only the columnar cache of `dists`; `run` freed the rest
      release: () => Unit = () => ())

  /** BFS levels from `source`; `maxLevels` caps rounds (reference default
    * 500). `cfg` supplies the durable-checkpoint / convergence knobs;
    * its `maxIter` is overridden by `maxLevels` (the reference's cap).
    */
  def bfs(edges: Dataset[Edge], source: Long, maxLevels: Int = 500,
          cfg: RunConfig = RunConfig()): PathResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select($"src", $"dst", lit(1.0).as("weight")).as[WEdge]
    run(e, source, cfg.copy(maxIter = maxLevels), algo = "bfs")
  }

  /** SSSP from `source` over weighted edges (missing weights already
    * defaulted to 1.0 by the caller/parser, `sssp_graphx_shell.scala:30-39`).
    */
  def sssp(edges: Dataset[WEdge], source: Long,
           maxIter: Int = Int.MaxValue): PathResult =
    run(edges, source, RunConfig(maxIter = maxIter), algo = "sssp")

  /** SSSP with the full run config (checkpointing, convergence knobs). */
  def sssp(edges: Dataset[WEdge], source: Long, cfg: RunConfig): PathResult =
    run(edges, source, cfg, algo = "sssp")

  private def run(edges: Dataset[WEdge], source: Long,
                  cfg: RunConfig, algo: String): PathResult = {
    val spark = edges.sparkSession
    import spark.implicits._

    val vertices = Superstep.vertexSet(edges,
      spark.range(1).select(lit(source).as("id"))) // isolated source
    val res = try {
      // parallel edges stay: min(dist + wᵢ) = dist + min(wᵢ), FP rounding
      // being monotone
      val side = Superstep.edgeSide(edges.select($"src", $"dst", $"weight"), "src", cfg,
        vertices.count)
      // DENSE state (one row per vertex, +∞ = unreached — the reference's
      // sentinel, `sssp_graphx_shell.scala:27`): keeps the apply join
      // left-outer so the state's partitioning survives each superstep (a
      // full-outer join on a grow-as-reached state would force two state
      // re-exchanges per superstep — see LabelPropagation).
      val init = vertices.ids.select($"id",
        when($"id" === source, 0.0).otherwise(Double.PositiveInfinity).as("dist"),
        ($"id" === source).as("_chg"))
      // input identity for checkpoint manifests: adjacency (least weight per
      // pair, so no duplicate row reaches the XOR fold) ⊕ mixed source id
      // (a different source is a different run over the same table — the
      // plain id would cancel against nothing, so it goes through splitmix64)
      Superstep.loop(init, Some(side),
        Superstep.minStep(side, "dist", $"dist" + $"weight"), cfg, algo,
        Superstep.fingerprint64(side.edges.groupBy($"src", $"dst")
          .agg(min($"weight").as("weight"))) ^ graft.functions.SplitMix64Expr.mix(source))
    } finally vertices.release()
    // absent-row output contract: unreachable vertices are not emitted; the
    // fill counts the reached ones and observes the largest distance
    val dists = try Superstep.fill(res.state.filter($"dist" < Double.PositiveInfinity)
        .select($"id", $"dist").as[VertexDist], coalesce(max($"dist"), lit(0.0)))
      finally res.release()
    PathResult(dists.ds, res.iterations, dists.rows, dists.summary.getDouble(0), res.stats,
      res.converged, release = () => dists.release())
  }
}
