package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Paths, Superstep}
import graft.gen.SyntheticGraph
import graft.model._

/** Plan shape of every superstep, read from the physical plan Spark posts
  * in each superstep job's `SparkListenerSQLExecutionStart` (the loop names
  * the job `"<algo> superstep N"`): no sort-merge join, no sort-based
  * aggregation and no broadcast inside a loop. The walk stops at an
  * `InMemoryTableScan`: the cached plan below it (the persisted edge side)
  * ran once, before the loop, under the caller's session.
  */
class LoopPlanSpec extends SparkSpec {
  import spark.implicits._

  private val Banned = Seq("SortMergeJoin", "SortAggregate", "BroadcastExchange")

  private def operators(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: (if (p.nodeName == "InMemoryTableScan") Nil else p.children.flatMap(operators))

  /** The stats and release of `run`, and the execution start event of
    * every superstep it submits.
    */
  private def superstepPlans(run: => (List[Superstep.IterStats], () => Unit))
      : (List[Superstep.IterStats], () => Unit, List[SparkListenerSQLExecutionStart]) = {
    val plans = ArrayBuffer.empty[SparkListenerSQLExecutionStart]
    val listener = new SparkListener {
      override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
        case s: SparkListenerSQLExecutionStart if s.description.contains(" superstep ") =>
          plans.synchronized { plans += s }
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (stats, release) = run
      GraftSqlShim.waitListenerBus(spark)
      (stats, release, plans.synchronized(plans.toList))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("no superstep of LP, PR, CC, BFS or SSSP sort-merge joins, sort-aggregates or broadcasts") {
    val e = spark.createDataset(SyntheticGraph.randomEdgesLocal(300, 3, seed = 11L)
      .map { case (s, d) => Edge(s, d) })
    val seeds = spark.createDataset(Seq(Seed(1L, 10L), Seed(150L, 20L)))
    val weighted = e.select($"src", $"dst",
      (($"src" + $"dst") % 5 + 1).cast("double").as("weight")).as[WEdge]
    Seq[(String, String, () => (List[Superstep.IterStats], () => Unit))](
      ("lp", "lp", () => { val r = LabelPropagation.run(e, seeds); (r.stats, r.release) }),
      ("lp unsupervised", "lp",
        () => { val r = LabelPropagation.run(e, spark.emptyDataset[Seed]); (r.stats, r.release) }),
      ("pr", "pagerank", () => { val r = PageRank.run(e); (r.stats, r.release) }),
      ("cc", "cc", () => { val r = ConnectedComponents.run(e); (r.stats, r.release) }),
      ("bfs", "bfs", () => { val r = Paths.bfs(e, 0L); (r.stats, r.release) }),
      ("sssp", "sssp", () => { val r = Paths.sssp(weighted, 0L); (r.stats, r.release) })
    ).foreach { case (name, algo, run) =>
      val (stats, release, plans) = superstepPlans(run())
      withClue(s"$name: ") {
        stats should not be empty
        plans.map(_.description) shouldBe stats.map(st => s"$algo superstep ${st.iteration}")
        plans.foreach(p => withClue(s"${p.description}:\n${p.physicalPlanDescription}\n") {
          operators(p.sparkPlanInfo).filter(Banned.contains) shouldBe empty
        })
      }
      release()
    }
  }
}
