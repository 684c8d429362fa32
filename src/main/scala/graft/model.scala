package graft

import java.sql.Timestamp

/** Core data model of the link-graph engine.
  *
  * Shapes mirror the reference's data plane (see SURVEY.md §1):
  *  - the directed edge table (`ow-lp/src/lib.rs:263`, TSV `src\tdst[\tlabel]`)
  *  - sparse seed pairs (`ow-lp/src/lib.rs:224-235`)
  *  - per-vertex result rows (labels / ranks / components / distances)
  *  - the Common-Crawl-style pages table from BASELINE.json `input_hint`.
  *
  * Node ids are `Long` (GraphX `VertexId` width); the reference's Rust side
  * uses `u32` with `UNKNOWN = u32::MAX` — we keep the sentinel only at the
  * TSV I/O boundary and use absent-row / null semantics internally.
  */
object model {

  /** Reference sentinel for "no label" (`ow-lp/src/lib.rs:54-56`). Only used
    * at the TSV boundary; inside the engine an unlabeled vertex simply has no
    * row in the label state.
    */
  val Unknown: Long = 0xffffffffL // u32::MAX

  /** Default iteration cap (`ow-lp/src/lib.rs:52` MAX_ITER = 50). */
  val DefaultMaxIter: Int = 50

  /** One directed edge. Duplicates are preserved — they weight the LP vote
    * (`ow-lp/src/lib.rs:282` pushes every parsed line).
    */
  final case class Edge(src: Long, dst: Long)

  /** One weighted directed edge (SSSP input; 3rd TSV column as Double). */
  final case class WEdge(src: Long, dst: Long, weight: Double)

  /** CSR-style per-source adjacency block: all out-neighbours of `src`,
    * sorted ascending, with parallel multiplicities. The Spark-native
    * equivalent of the reference CSR (`lpst/src/lib.rs:27-44`).
    */
  final case class AdjBlock(src: Long, neighbors: Array[Long], weights: Array[Long])

  /** A seed assignment (node, label) — 3rd TSV column attached to src. */
  final case class Seed(node: Long, label: Long)

  /** Per-vertex label result row. */
  final case class VertexLabel(id: Long, label: Long)

  /** Per-vertex PageRank row. */
  final case class VertexRank(id: Long, rank: Double)

  /** Per-vertex component row (component = min vertex id in the WCC). */
  final case class VertexComponent(id: Long, component: Long)

  /** Per-vertex distance row (BFS level / SSSP distance). */
  final case class VertexDist(id: Long, dist: Double)

  /** Per-vertex triangle count row. */
  final case class VertexTriangles(id: Long, triangles: Long)

  /** Common-Crawl-style page row (BASELINE.json input_hint schema). */
  final case class Page(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)

  /** A url-level directed link extracted from a page's html. */
  final case class UrlEdge(src_url: String, dst_url: String)

  /** url → dense Long id dictionary row (ids are the global sorted rank of
    * the url, hence deterministic across any parallelism level).
    */
  final case class UrlId(url: String, id: Long)

  /** Tuning knobs for one engine run. All defaults mirror the reference
    * (`ow-lp/src/lib.rs:52`, `run_spark_graph_benchmarks.py:446-451`).
    */
  final case class RunConfig(
      maxIter: Int = DefaultMaxIter,
      convergenceThreshold: Long = 0L,
      // lpst class-API variant (`lpst/src/lib.rs:484-496`): additionally
      // stop when changed / |state| ≤ ratio. None = absolute count only
      // (the reference benchmarks' rule).
      convergenceRatio: Option[Double] = None,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      // hub-skew salting of the superstep gather (Superstep.edgeSide) is
      // always automatic: keys with more edge rows than this are salted.
      // Package-private so specs can reach salting on small graphs.
      private[graft] val hubDegreeThreshold: Long = 2000000L)
}
