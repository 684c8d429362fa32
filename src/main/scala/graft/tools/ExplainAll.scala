package graft.tools

import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import graft.SparkEntry

/** Dumps `explain("formatted")` for selected SparkEntry queries — used to
  * audit plan quality (pushed filters, pruned schemas, whole-stage codegen
  * spans, join strategies). Output → PLANS.md.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "p2_filter_project", "s2_edge_scan", "j1_dim_join", "a1_majority_vote",
      "q_exact_dedup", "q_doc_stats", "q_knn_brute")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.codegen.cache.maxEntries", GraftSqlShim.CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
