package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TsvEdgeExpr
import graft.model._

/** Reference-native TSV edge-table reader/writer: lines `src \t dst [\t label]`.
  *
  * Parser semantics transcribed from the reference
  * (`ow-lp/src/lib.rs:258-294` `parse_partition_body`,
  * `lpst/src/main.rs:52-80`, `labelpropagation_graphx_shell.scala:23-32`):
  *  - blank lines, <2 fields, non-numeric / negative / >u32::MAX src or dst
  *    → line skipped
  *  - endpoint ≥ numNodes → line skipped (warned in the reference)
  *  - 3rd column parseable as integer in [0, u32::MAX] → seed (src, label);
  *    negative or overflowing label → edge kept, label dropped
  *  - duplicate edges preserved (they weight the LP vote)
  *  - duplicate seeds min-deduped per node (`ow-lp/src/lib.rs:224-235` —
  *    the canonical Rust rule; the GraphX shell's keep-first divergence is
  *    deliberately not followed, see SURVEY.md §7.8).
  *
  * Each line is parsed once, by the native [[graft.functions.TsvEdgeExpr]]
  * under `inline`: integers are strict (`^-?[0-9]{1,18}$`, so "1.5"/"1e3"
  * do not parse — Rust u32::parse rejects them), and a malformed field is
  * null, never an error.
  */
object EdgeTsv {

  /** Raw parsed lines → (src, dst, label?) DataFrame; label null when absent
    * or invalid. `numNodes` < 0 disables the range filter.
    */
  def parse(lines: DataFrame, numNodes: Long): DataFrame =
    lines.select(inline(TsvEdgeExpr.edges(col("value"), numNodes)))

  /** Read the edge table from a TSV path. */
  def readEdges(spark: SparkSession, path: String, numNodes: Long = -1L): Dataset[Edge] = {
    import spark.implicits._
    parse(spark.read.text(path), numNodes).select($"src", $"dst").as[Edge]
  }

  /** Read the min-deduped seed table from a TSV path. */
  def readSeeds(spark: SparkSession, path: String, numNodes: Long = -1L): Dataset[Seed] = {
    import spark.implicits._
    dedupSeeds(parse(spark.read.text(path), numNodes)
      .filter($"label".isNotNull)
      .select($"src".as("node"), $"label").as[Seed])
  }

  /** Canonical per-node min-label seed dedup (`ow-lp/src/lib.rs:224-235`). */
  def dedupSeeds(seeds: Dataset[Seed]): Dataset[Seed] = {
    val spark = seeds.sparkSession
    import spark.implicits._
    seeds.groupBy($"node").agg(min($"label").as("label")).as[Seed]
  }

  /** Write per-vertex results as the reference's `id \t value` sorted text
    * sink (`connected_components_shell.scala:87-92` etc.).
    */
  def writeVertexText(df: DataFrame, idCol: String, valCol: String, path: String): Unit =
    df.orderBy(col(idCol))
      .select(concat_ws("\t", col(idCol), col(valCol)).as("value"))
      .write.mode("overwrite").text(path)

  /** S4 — lpst JSON graph fixture loader (`lpst/README.md:92-116`):
    * `{"edges": [[0,1],...], "labeled_nodes": {"0": 1}, "num_nodes": N}`.
    * Explicit schema (no inference pass); labeled_nodes keys are node ids
    * as strings per the reference format. Returns (edges, seeds, numNodes).
    */
  def readJsonGraph(spark: SparkSession, path: String)
      : (Dataset[Edge], Dataset[Seed], Long) = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("edges", ArrayType(ArrayType(LongType))),
      StructField("labeled_nodes", MapType(StringType, LongType)),
      StructField("num_nodes", LongType)))
    val df = spark.read.schema(schema)
      .option("multiLine", "true").json(path)
    val edges = df.select(explode($"edges").as("e"))
      .select(element_at($"e", 1).as("src"), element_at($"e", 2).as("dst"))
      .as[Edge]
    val seeds = dedupSeeds(
      df.select(explode($"labeled_nodes").as(Seq("k", "label")))
        .select($"k".cast("long").as("node"), $"label").as[Seed])
    val n = df.select($"num_nodes").head().getLong(0)
    (edges, seeds, n)
  }

  /** S9 — sharded TSV writer (`setup_large_lp_data.py:98-107`): edges (+
    * optional seed label on src) written as `part-*` files sharded by
    * `src % numShards`, the layout the reference's workers consume
    * one-shard-per-worker. We keep the modulo layout for byte parity; at
    * engine scale the parquet/Iceberg path replaces this sink.
    */
  def writeShards(edges: Dataset[Edge], seeds: Dataset[Seed],
                  numShards: Int, path: String): Unit = {
    val spark = edges.sparkSession
    import spark.implicits._
    val s = seeds.groupBy($"node").agg(min($"label").as("label"))
    edges.join(s, edges("src") === s("node"), "left_outer")
      .select(
        when($"label".isNotNull,
          concat_ws("\t", $"src", $"dst", $"label"))
          .otherwise(concat_ws("\t", $"src", $"dst")).as("value"),
        pmod($"src", lit(numShards.toLong)).as("shard"))
      .repartition(numShards, col("shard"))
      .write.partitionBy("shard").mode("overwrite").text(path)
  }
}
