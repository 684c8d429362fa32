package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._

/** Weakly-connected components by iterative min-id propagation.
  *
  * Semantics: the reference doubles every directed edge and runs GraphX
  * `connectedComponents` (`connected_components_shell.scala:21-29,75`);
  * the fixpoint is "component id = min vertex id in the weak component" —
  * any correct algorithm yields identical output, so we use a
  * frontier-restricted min propagation ([[Superstep.minStep]], the step
  * BFS and SSSP share): only vertices whose component id dropped last
  * round resend. At cluster scale the round count is bounded
  * by graph diameter; web graphs have small effective diameter, and the
  * frontier shrinks geometrically after the giant component collapses.
  */
object ConnectedComponents {

  final case class CcResult(
      components: Dataset[VertexComponent],
      iterations: Int,
      componentCount: Long,
      stats: List[Superstep.IterStats],
      // frees only the columnar cache of `components`; `run` freed the rest
      release: () => Unit = () => ())

  def run(edges: Dataset[Edge], cfg: RunConfig = RunConfig(maxIter = Int.MaxValue)): CcResult = {
    val spark = edges.sparkSession
    import spark.implicits._

    val vertices = Superstep.vertexSet(edges)
    val res = try {
      // undirected doubling, deduped (duplicates are irrelevant for min),
      // keyed by src — every superstep's gather reuses its partitioning
      val side = Superstep.edgeSide(
        edges.select($"src", $"dst")
          .union(edges.select($"dst".as("src"), $"src".as("dst")))
          .filter($"src" =!= $"dst")
          .distinct(),
        "src", cfg, vertices.count)
      // every vertex starts as its own component and in the first frontier;
      // aggregated rather than projected as `id AS comp` (see Superstep.loop
      // on aliases)
      val init = vertices.ids.groupBy($"id").agg(min($"id").as("comp"))
        .select($"id", $"comp", lit(true).as("_chg"))
      Superstep.loop(init, Some(side), Superstep.minStep(side, "comp", $"comp"),
        cfg.copy(convergenceThreshold = 0L), algo = "cc", Superstep.fingerprint64(side.edges))
    } finally vertices.release()
    result(res.state.select($"id", $"comp".as("component")).as[VertexComponent], res)
  }

  /** Fill either algorithm's `comps`, freeing the loop state `res`; the count
    * is observed as the roots (`id == component`): a component's id is its
    * least member.
    */
  private def result(comps: Dataset[VertexComponent], res: Superstep.LoopResult): CcResult = {
    val filled = try Superstep.fill(comps, count(when(col("id") === col("component"), 1)))
      finally res.release()
    CcResult(filled.ds, res.iterations, filled.summary.getLong(0), res.stats,
      release = () => filled.release())
  }

  /** Weakly-connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), converging in O(log² n) rounds *independent of graph
    * diameter* — the scale path for high-diameter graphs (long chains,
    * crawl frontiers), where [[run]]'s min-propagation needs
    * diameter-many rounds. Identical output contract: component = min
    * vertex id in the weak component (equivalence-tested against [[run]],
    * and round-bounded on a path graph in DiameterSpec).
    *
    * Each round is two relational half-steps over the evolving edge list:
    *  - large-star: every node points its *larger* neighbours at the
    *    minimum of its neighbourhood (incl. itself)
    *  - small-star: every node and its smaller neighbours re-point at that
    *    minimum — after large-star all edges already point large→small.
    * Rounds run through [[Superstep.loop]], the vertex loops' entry: the
    * round's edge set carries no `_chg` column, so the loop ends when the
    * (distinct) edge set is a fixpoint — its order-insensitive xxhash64 XOR
    * fingerprint and row count, observed on the round's one materializing
    * job, repeat the previous round's.
    */
  def runStar(edges: Dataset[Edge], maxRounds: Int = 100,
      cfg: RunConfig = RunConfig()): CcResult = {
    val spark = edges.sparkSession
    import spark.implicits._

    val vertices = Superstep.vertexSet(edges)
    // u32-id graphs pack each round's two distinct() exchanges onto ONE
    // long pk=(u<<32)|v — 16 vs 24 B of UnsafeRow per edge on the two
    // biggest per-round exchanges (same recipe as LP's packExchange;
    // bijective for ids < 2^32, so the distinct sets are identical).
    val packStar = vertices.fitsU32
    def distinctEdges(df: DataFrame): DataFrame =
      if (!packStar) df.distinct()
      else df.select((shiftleft($"u", 32) + $"v").as("pk")).distinct()
        .select(shiftrightunsigned($"pk", 32).as("u"),
          $"pk".bitwiseAND(lit((1L << 32) - 1)).as("v"))

    val initial = edges.select(
      least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .filter($"u" =!= $"v").distinct()
      .select($"v".as("u"), $"u".as("v")) // point large→small like small-star input

    // `g` is the driver's flat checkpointed leaf: a round references it
    // ~12× (bidir twice, both star joins, the union), so a leaf over the
    // previous round's plan would nest 12^depth earlier rounds into every
    // plan string the driver renders (OOM after a handful of rounds)
    def round(g: DataFrame): DataFrame = {
      // large-star: Γ taken over both directions; m(u) = min(Γ(u) ∪ {u});
      // every neighbour v > u re-points to m(u)
      val bidir = g.select($"u", $"v").union(g.select($"v".as("u"), $"u".as("v")))
      // least AFTER the aggregation: u is the group key, so folding it
      // into the agg as least(min(v), first(u)) only added a first()
      // buffer (value + valueSet) to every partial-agg exchange row —
      // identical m, two fewer shuffled fields
      val minsL = bidir.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      val ls = distinctEdges(bidir.join(Superstep.shj(minsL), "u")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v"))
      // small-star: all edges now point large→small; m(u) = min(N(u) ∪ {u});
      // u and its neighbours except m re-point to m
      val minsS = ls.groupBy($"u").agg(min($"v").as("m"))
      distinctEdges(ls.join(Superstep.shj(minsS), "u")
        .filter($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(minsS.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v"))
    }

    // input identity = the canonical undirected distinct edge set (raw
    // `edges` would let duplicate rows cancel in the XOR fold)
    try {
      val res = Superstep.loop(initial, None, round,
        cfg.copy(maxIter = maxRounds, convergenceThreshold = 0L), "cc_star",
        Superstep.fingerprint64(initial))

      // final vertex mapping, filled under the CALLER's session/confs
      result(vertices.ids
        .join(res.state.select($"u".as("id"), $"v".as("c")), Seq("id"), "left_outer")
        .select($"id", coalesce($"c", $"id").as("component"))
        .as[VertexComponent], res)
    } finally vertices.release()
  }

  /** Order-sensitive FNV-64 fingerprint of the component column sorted by
    * vertex id — exact parity with `connected_components_shell.scala:34-37,
    * 77-83`. FNV chaining cannot be merged across partitions, so this runs
    * as a single ordered pass; use [[Superstep.fingerprint64]] for a
    * scalable, order-insensitive fingerprint at 100 TB.
    */
  def fnvHash(components: Dataset[VertexComponent]): Long = {
    val spark = components.sparkSession
    import spark.implicits._
    components.orderBy($"id").select($"component").as[Long]
      .coalesce(1)
      .mapPartitions { it =>
        var acc = 0xcbf29ce484222325L
        it.foreach(c => acc = (acc ^ c) * 0x100000001b3L)
        Iterator.single(acc)
      }.head()
  }
}
