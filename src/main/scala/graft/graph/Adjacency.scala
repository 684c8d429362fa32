package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._

/** Adjacency-shape builders: degrees and CSR-style packed per-source blocks.
  *
  * The engine's working representation for supersteps is the raw edge
  * rows, a duplicate edge kept as the rows it is (relational CSR: one
  * exchange places it, every join reuses its partitioning). [[blocks]]
  * additionally packs each source's neighbourhood into one row — sorted
  * neighbour array + multiplicities — mirroring the reference CSR
  * (`lpst/src/lib.rs:27-44`,
  * `ow-lp/src/lib.rs:244-248`): the export format for systems that want
  * O(1) adjacency slices, and the input shape for `mapPartitions` kernels
  * when an algorithm genuinely needs imperative per-vertex loops.
  * Hub caveat: a 10^7-degree vertex makes a 10^7-element array row —
  * for such graphs stay relational (SkewJoin) instead.
  */
object Adjacency {

  /** Out-degree per vertex, counting duplicate edges like the reference
    * (`graph.outDegrees` on the multigraph).
    */
  def outDegrees(edges: Dataset[Edge]): DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

  def inDegrees(edges: Dataset[Edge]): DataFrame =
    edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("degree"))

  /** Pre-aggregated multigraph edges: one row per distinct (src,dst) with
    * multiplicity, hash-partitioned by `partitionKey`.
    */
  def packed(edges: Dataset[Edge], partitionKey: String = "dst"): DataFrame =
    edges.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .repartition(col(partitionKey))

  /** CSR-style blocks: per source, neighbours sorted ascending with aligned
    * multiplicities. Sorting uses `sort_array` over (dst, w) structs so the
    * two arrays stay aligned; everything is codegen'd built-ins.
    */
  def blocks(edges: Dataset[Edge]): Dataset[AdjBlock] = {
    val spark = edges.sparkSession
    import spark.implicits._
    packed(edges, "src")
      .groupBy($"src")
      .agg(sort_array(collect_list(struct($"dst", $"w"))).as("nw"))
      .select($"src",
        transform($"nw", x => x.getField("dst")).as("neighbors"),
        transform($"nw", x => x.getField("w")).as("weights"))
      .as[AdjBlock]
  }
}
