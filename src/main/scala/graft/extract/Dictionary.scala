package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShim}
import org.apache.spark.sql.functions._
import graft.model._

/** url → dense Long id dictionary encoding.
  *
  * id = global rank of the url in ascending sort order, which makes the
  * encoding fully deterministic at ANY parallelism (the reference sidesteps
  * this by generating integer ids; the north rule's two-cluster-size result
  * equality makes `monotonically_increasing_id` — partition-dependent — and
  * `row_number().over(Window.orderBy(...))` — a single-partition global
  * window — both unusable; SURVEY.md §7.2).
  *
  * Mechanics: range-repartition + in-partition sort on url, materialized
  * once with the loops' one-job materializer
  * ([[org.apache.spark.sql.GraftSqlShim.materializeLocalCheckpointed]]),
  * whose per-partition row counts give the cumulative offsets (one Long per
  * partition); a narrow map over the pinned rows assigns offset+position.
  * One pass over the url set, no global sort bottleneck, no driver
  * materialization. Partition boundaries may differ between runs, but
  * offset+position always equals the global sorted rank, so the ids don't.
  */
object Dictionary {

  /** Build the dictionary from any DataFrame with a `url` column (distinct
    * applied internally).
    */
  def build(urls: DataFrame): Dataset[UrlId] = {
    val spark = urls.sparkSession
    import spark.implicits._
    // pinned, not persisted: recomputing the sorted set would re-sample
    // the range bounds, so its partitions would no longer match `offsets`
    // and ids would come out duplicated and not dense
    val (sorted, _, _, partitionRows) = GraftSqlShim.materializeLocalCheckpointed(
      urls.select(col("url")).na.drop().distinct()
        .repartitionByRange(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("url"))
        .sortWithinPartitions("url"),
      keepPartitioning = false)
    val offsets = partitionRows.scanLeft(0L)(_ + _)
    spark.createDataset(sorted.as[String].rdd.mapPartitionsWithIndex { (p, it) =>
      it.zipWithIndex.map { case (url, i) => UrlId(url, offsets(p) + i) }
    })
  }

  /** Encode url-level edges into the reference's integer edge shape via two
    * dictionary joins. The dictionary must cover all urls on both sides
    * (build it from the union of endpoints — see [[buildFromEdges]]).
    */
  def encodeEdges(edges: Dataset[UrlEdge], dict: Dataset[UrlId]): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val d1 = dict.toDF("url", "src")
    val d2 = dict.toDF("url", "dst")
    edges
      .join(d1, edges("src_url") === d1("url")).drop("url")
      .join(d2, edges("dst_url") === d2("url")).drop("url")
      .select($"src", $"dst").as[Edge]
  }

  /** Dictionary over every url appearing as an edge endpoint. */
  def buildFromEdges(edges: Dataset[UrlEdge]): Dataset[UrlId] = {
    val spark = edges.sparkSession
    import spark.implicits._
    build(edges.select($"src_url".as("url"))
      .union(edges.select($"dst_url".as("url"))).toDF())
  }

  /** Decode per-vertex results back to urls. */
  def decode(result: DataFrame, idCol: String, dict: Dataset[UrlId]): DataFrame =
    result.join(dict, result(idCol) === dict("id")).drop(idCol, "id")
}
