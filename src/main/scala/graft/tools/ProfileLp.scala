package graft.tools

import graft.algo.{LabelPropagation, PageRank}
import graft.gen.SyntheticGraph
import graft.Bench

/** Ad-hoc per-iteration phase profiler (engineering tool, not part of the
  * driver contract): prints IterStats for LP and PageRank on the synthetic
  * bench graph so superstep overhead can be attributed and tuned.
  */
object ProfileLp {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_NODES", "50000").toLong
    val spark = Bench.session(cpus, "graft-profile-lp")
    val edges = SyntheticGraph.randomEdges(spark, n, 10)
    val seeds = SyntheticGraph.seeds(spark, n)

    val t0 = System.nanoTime()
    val lp = LabelPropagation.run(edges, seeds)
    val lpSec = (System.nanoTime() - t0) / 1e9
    println(s"LP total ${f"$lpSec%.2f"}s iters=${lp.iterations}")
    lp.stats.foreach(s => println(
      s"  iter=${s.iteration} changed=${s.changed} rows=${s.rows} " +
      s"computeMs=${s.computeMs} checkpointMs=${s.checkpointMs} " +
      s"phases=${s.phases.map(p => s"${p.phase}:${p.wallMs}ms/task${p.taskTimeMs}ms/r${p.shuffleReadBytes}/w${p.shuffleWriteBytes}").mkString(",")}"))
    val t1 = System.nanoTime()
    val pr = PageRank.run(edges)
    val prSec = (System.nanoTime() - t1) / 1e9
    println(s"PR total ${f"$prSec%.2f"}s iters=${pr.iterations}")
    pr.stats.take(8).foreach(s => println(
      s"  iter=${s.iteration} changed=${s.changed} rows=${s.rows} " +
      s"computeMs=${s.computeMs} " +
      s"phases=${s.phases.map(p => s"${p.phase}:${p.wallMs}ms/task${p.taskTimeMs}ms/r${p.shuffleReadBytes}/w${p.shuffleWriteBytes}").mkString(",")}"))
    spark.stop()
  }
}
