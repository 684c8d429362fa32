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
  * aggregation and no broadcast inside a loop, and one steady plan from
  * superstep 1 on; LP's one vote exchange ships the packed key while ids
  * fit u32; star CC's rounds keep their exchange reuse. The walk
  * stops at an `InMemoryTableScan`: the cached plan below it (the persisted
  * edge side) ran once, before the loop, under the caller's session.
  */
class LoopPlanSpec extends SparkSpec {
  import spark.implicits._

  private val Banned = Seq("SortMergeJoin", "SortAggregate", "BroadcastExchange")

  /** A node's children; none below a cached scan or a `ReusedExchange`,
    * whose `SparkPlanInfo` repeats the subtree of the exchange it reuses.
    */
  private def children(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    if (Seq("InMemoryTableScan", "ReusedExchange").contains(p.nodeName)) Nil else p.children

  private def operators(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: children(p).flatMap(operators)

  /** The operator-name tree, without expressions or their ids. */
  private def nameTree(p: SparkPlanInfo): String =
    p.nodeName + children(p).map(nameTree).mkString("(", ", ", ")")

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

  private lazy val e = spark.createDataset(SyntheticGraph.randomEdgesLocal(300, 3, seed = 11L)
    .map { case (s, d) => Edge(s, d) })

  /** (name, algo tag, run) of every vertex loop: seeded and unsupervised
    * LP, PR, CC, BFS and SSSP.
    */
  private def vertexLoops: Seq[(String, String, () => (List[Superstep.IterStats], () => Unit))] = {
    val seeds = spark.createDataset(Seq(Seed(1L, 10L), Seed(150L, 20L)))
    val weighted = e.select($"src", $"dst",
      (($"src" + $"dst") % 5 + 1).cast("double").as("weight")).as[WEdge]
    Seq(
      ("lp", "lp", () => { val r = LabelPropagation.run(e, seeds); (r.stats, r.release) }),
      ("lp unsupervised", "lp",
        () => { val r = LabelPropagation.run(e, spark.emptyDataset[Seed]); (r.stats, r.release) }),
      ("pr", "pagerank", () => { val r = PageRank.run(e); (r.stats, r.release) }),
      ("cc", "cc", () => { val r = ConnectedComponents.run(e); (r.stats, r.release) }),
      ("bfs", "bfs", () => { val r = Paths.bfs(e, 0L); (r.stats, r.release) }),
      ("sssp", "sssp", () => { val r = Paths.sssp(weighted, 0L); (r.stats, r.release) }))
  }

  test("no superstep of LP, PR, CC, BFS or SSSP sort-merge joins, sort-aggregates or broadcasts") {
    vertexLoops.foreach { case (name, algo, run) =>
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

  test("every superstep of LP, PR, CC, BFS and SSSP runs superstep 1's operator tree") {
    vertexLoops.foreach { case (name, _, run) =>
      val (_, release, plans) = superstepPlans(run())
      withClue(s"$name: ") {
        plans.size should be > 1
        val first = nameTree(plans.head.sparkPlanInfo)
        plans.tail.foreach(p => withClue(s"${p.description}:\n${p.physicalPlanDescription}\n") {
          nameTree(p.sparkPlanInfo) shouldBe first
        })
      }
      release()
    }
  }

  /** The `simpleString` of every `Exchange` in a plan. */
  private def exchanges(p: SparkPlanInfo): Seq[String] =
    (if (p.nodeName == "Exchange") Seq(p.simpleString) else Nil) ++
      children(p).flatMap(exchanges)

  test("LP's one superstep exchange ships pk = (src<<32)|label exactly while ids fit u32") {
    // LP's setup scan reads the src bounds that gate the packed row: a
    // wrong bound would either widen every vote row to the (src, label)
    // pair or pack ids that do not fit
    val shift = 1L << 32
    val shifted = e.select(($"src" + shift).as("src"), ($"dst" + shift).as("dst")).as[Edge]
    for ((name, edges, off) <- Seq(("e", e, 0L), ("e + 2^32", shifted, shift));
         seeded <- Seq(true, false)) {
      val seeds =
        if (seeded) spark.createDataset(Seq(Seed(1L + off, 10L), Seed(150L + off, 20L)))
        else spark.emptyDataset[Seed]
      val (stats, release, plans) = superstepPlans {
        val r = LabelPropagation.run(edges, seeds); (r.stats, r.release)
      }
      withClue(s"$name, ${if (seeded) "seeded" else "unsupervised"}: ") {
        stats should not be empty
        plans.map(_.description) shouldBe stats.map(st => s"lp superstep ${st.iteration}")
        plans.foreach(p => withClue(s"${p.description}:\n${p.physicalPlanDescription}\n") {
          val ex = exchanges(p.sparkPlanInfo)
          if (off == 0L) {
            ex should have size 1
            ex.head should include("hashpartitioning(shiftrightunsigned(pk")
          } else ex.filter(_.contains("shiftrightunsigned(pk")) shouldBe empty
        })
      }
      release()
    }
  }

  test("every star CC round plans 6 exchanges and reuses 3 of them") {
    val (stats, release, plans) = superstepPlans {
      val r = ConnectedComponents.runStar(e); (r.stats, r.release)
    }
    stats.size should be > 1
    plans.map(_.description) shouldBe stats.map(st => s"cc_star superstep ${st.iteration}")
    plans.foreach(p => withClue(s"${p.description}:\n${p.physicalPlanDescription}\n") {
      val ops = operators(p.sparkPlanInfo)
      (ops.count(_ == "Exchange"), ops.count(_ == "ReusedExchange")) shouldBe ((6, 3))
    })
    release()
  }
}
