package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model._

/** Exact per-vertex triangle counting with GraphX `TriangleCount` semantics
  * (the north rule's addition — the reference itself has no triangle code):
  * self-loops dropped, edges canonicalized to the undirected distinct set,
  * each triangle counted once per member vertex.
  *
  * Algorithm: degree-ordered edge orientation ("node-iterator++"). Every
  * undirected edge is oriented from its lower (degree, id) endpoint to the
  * higher; wedges are enumerated only at a triangle's lowest-ordered vertex,
  * so per-vertex enumeration work is bounded by O(m^1.5) total and hub
  * vertices never enumerate their full neighbour square — the skew-safe
  * formulation for power-law web graphs (standard technique, cf.
  * Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11).
  *
  * Wholly relational: two self-joins + one aggregation. Hot-path joins are
  * hinted shuffled-hash (the degree/closing sides build bounded per-partition
  * maps; unhinted, Catalyst sorts the O(m^1.5) wedge stream for SMJs — the
  * BENCH.md §12 hidden-sort shape) and the closing join's wedge rows pack
  * the (v1,v2) endpoint pair into one u32·2^32+u32 long (§16's recipe).
  * AQE skew-split capable.
  */
object TriangleCount {

  final case class TcResult(
      counts: Dataset[VertexTriangles],
      totalTriangles: Long,
      // frees the persisted per-vertex counts once the result is consumed
      release: () => Unit = () => ())

  /** Oriented-edge count up to which the closing side of the wedge join is
    * broadcast; above it the closing side builds a shuffled-hash map.
    * Heap assumption: each oriented edge is one packed long, but the
    * broadcast is collected to the driver and built into a long-keyed hash
    * relation of roughly 50 B per row, so at this cap it holds ~1 GB on the
    * driver and on every executor. The default assumes several GB of heap
    * on both (the bench sessions run 3-8 GB); lower it for smaller heaps.
    */
  private[graft] val DefaultCloseBuildMaxRows: Long = 20000000L

  /** Per-vertex triangle counts; includes zero rows for triangle-free
    * vertices. Vertex ids must fit in unsigned 32 bits (reference id domain,
    * `ow-lp/src/lib.rs:54`) — the (degree, id) order key is packed into one
    * Long for cheap comparisons.
    */
  def run(edges: Dataset[Edge]): TcResult = run(edges, DefaultCloseBuildMaxRows)

  /** [[run]] with an explicit broadcast cap for the closing build side. */
  private[graft] def run(edges: Dataset[Edge], closeBuildMaxRows: Long): TcResult = {
    val spark = edges.sparkSession
    import spark.implicits._

    val canon = edges.filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // fail fast outside the u32 id domain (reference guarantee): the
    // (degree,id) key and the packed closing key both lane ids into 32
    // bits — an id ≥ 2^32 would overflow into the degree/v1 lane and a
    // negative id would set the high bits, corrupting the orientation
    // SILENTLY. a = least and b = greatest, so min(a) and max(b) bound
    // every id: one cheap columnar agg over the already-cached canonical
    // edges (LP's numNodes guard discipline).
    val ids = canon.agg(coalesce(min($"a"), lit(0L)), coalesce(max($"b"), lit(0L))).head()
    val (minId, maxId) = (ids.getLong(0), ids.getLong(1))
    if (minId < 0L || maxId > 0xffffffffL) {
      canon.unpersist(blocking = false)
      throw new IllegalArgumentException(
        "TriangleCount requires vertex ids in [0, 2^32) (reference id domain); " +
        s"ids seen span [$minId, $maxId]")
    }

    // undirected degree per vertex → total-order key deg·2^32 + id
    val deg = canon.select($"a".as("id")).union(canon.select($"b".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
      .select($"id", (shiftleft($"deg", 32) + $"id").as("key"))

    val da = deg.withColumnRenamed("id", "a").withColumnRenamed("key", "ka")
    val db = deg.withColumnRenamed("id", "b").withColumnRenamed("key", "kb")
    // orient each edge from lower to higher (degree, id) key; the degree
    // side builds an O(|V|/partitions) hash map — without the hint the
    // planner sorts the m-row canonical edge stream twice for SMJs (the
    // BENCH.md §12 hidden-sort shape)
    val oriented = canon.join(da.hint("shuffle_hash"), "a")
      .join(db.hint("shuffle_hash"), "b")
      .select(
        when($"ka" < $"kb", $"ka").otherwise($"kb").as("u"),
        when($"ka" < $"kb", $"kb").otherwise($"ka").as("v"))
      .repartition($"u")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = oriented.count()
    canon.unpersist(blocking = false)

    // wedges at the lowest-ordered vertex, ordered v1 < v2 so each candidate
    // wedge is generated exactly once; closing edge must be (v1 → v2)
    val unpack = (c: org.apache.spark.sql.Column) => c.bitwiseAND(lit(0xffffffffL))
    val e1 = oriented.select($"u", $"v".as("v1"))
    val e2 = oriented.select($"u", $"v".as("v2"))
    val vertices = edges.select($"src".as("id"))
      .union(edges.select($"dst".as("id"))).distinct()

    // Three plan decisions, each sized for the 100 TB point:
    //  - a wedge row carries (uid, pk) with pk = id(v1)·2^32 + id(v2),
    //    both endpoints ordered by the SAME (degree,id) key as the closing
    //    orientation (BENCH.md §16's exchange-packing recipe on the query's
    //    largest stream — ids fit u32, the reference domain, so the pack is
    //    collision-free and the closing join probes ONE long);
    //  - the closing-side build is DATA-DRIVEN off the already-counted m:
    //    small oriented sets broadcast (the wedge stream then never leaves
    //    its u-partition — the whole enumerate-filter-count pipeline fuses
    //    into one codegen stage), large ones shuffle-hash (never sort the
    //    O(m^1.5) stream, never broadcast O(m) at web scale — §12's rule);
    //  - triangles are never materialized: members explode straight into
    //    the per-vertex aggregation (map-side partials bound the exchange
    //    at |V| rows/partition) and the total is Σ/3.
    val wedges = e1.join(e2.hint("shuffle_hash"), Seq("u"))
      .filter($"v1" < $"v2")
      .select(unpack($"u").as("uid"),
        (shiftleft(unpack($"v1"), 32) + unpack($"v2")).as("pk"))
    val closing = oriented
      .select((shiftleft(unpack($"u"), 32) + unpack($"v")).as("pk"))
    val closeSide =
      if (m <= closeBuildMaxRows) broadcast(closing) else closing.hint("shuffle_hash")
    val perVertex = wedges.join(closeSide, Seq("pk"))
      .select(explode(array($"uid",
        shiftrightunsigned($"pk", 32), unpack($"pk"))).as("id"))
      .groupBy($"id").agg(count(lit(1)).as("triangles"))
      // both sides of the final attach are |V|-sized at web scale:
      // build the aggregated side, don't sort two billion-row streams
      .hint("shuffle_hash")
    val counts = vertices.join(perVertex, Seq("id"), "left_outer")
      .select($"id", coalesce($"triangles", lit(0L)).as("triangles"))
      .as[VertexTriangles]
      .persist(StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val total = counts.agg(coalesce(sum($"triangles"), lit(0L)))
      .head().getLong(0) / 3
    oriented.unpersist(blocking = false)
    TcResult(counts, total, release = () => counts.unpersist(blocking = false))
  }
}
