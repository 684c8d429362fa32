package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import graft.algo.{PageRank, Superstep}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlShim
import graft.gen.SyntheticGraph
import graft.model._

/** Two iterative loops running CONCURRENTLY in one SparkSession must keep
  * disjoint per-superstep phase windows: the PhaseListener is
  * SparkContext-global, so without the `graft.loop.id` job scoping each
  * loop's listener would also collect the other loop's stages and every
  * drained window would be mis-attributed (phase medians, shuffle-byte
  * receipts). The scoping rides a thread-local SparkContext property set
  * by the submitting loop's driver thread. Both loops share one child
  * session, the reused child of `GraftSqlShim.sessionWithConfs`.
  */
class ConcurrentLoopsSpec extends SparkSpec {
  import spark.implicits._

  test("two concurrent PageRank loops keep canonical disjoint phase windows") {
    def edges(seed: Long) = spark.createDataset(
      SyntheticGraph.randomEdgesLocal(300, 4, seed = seed)
        .map { case (s, d) => Edge(s, d) })

    // solo reference runs (sequential → no concurrency in phase capture)
    val soloA = PageRank.run(edges(7L), maxIter = 12)
    val soloB = PageRank.run(edges(8L), maxIter = 12)
    val fpA = Superstep.fingerprint64(
      soloA.ranks.toDF().select($"id", org.apache.spark.sql.functions.round($"rank", 9).as("r")))
    val fpB = Superstep.fingerprint64(
      soloB.ranks.toDF().select($"id", org.apache.spark.sql.functions.round($"rank", 9).as("r")))
    soloA.release(); soloB.release()

    // the session id in the tags Spark puts on each superstep job
    // ("spark-session-<uuid>", plus "...-execution-root-id-<n>" per query):
    // both loops plan under one reused child session, not a clone each
    val sessionIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tagListener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        Option(ev.properties).filter(_.getProperty(Superstep.LoopIdProperty) != null)
          .foreach(p => Option(p.getProperty("spark.job.tags")).toSeq
            .flatMap(_.split(",")).filter(_.startsWith("spark-session-"))
            .foreach(t => sessionIds.add(t.stripPrefix("spark-session-").take(36))))
    }
    spark.sparkContext.addSparkListener(tagListener)
    val fA = Future(PageRank.run(edges(7L), maxIter = 12))
    val fB = Future(PageRank.run(edges(8L), maxIter = 12))
    val (a, b) = try (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))
      finally {
        GraftSqlShim.waitListenerBus(spark)
        spark.sparkContext.removeSparkListener(tagListener)
      }
    sessionIds.toArray.toSet should have size 1

    // same results as solo (concurrency must not change the computation)
    Superstep.fingerprint64(
      a.ranks.toDF().select($"id", org.apache.spark.sql.functions.round($"rank", 9).as("r"))) shouldBe fpA
    Superstep.fingerprint64(
      b.ranks.toDF().select($"id", org.apache.spark.sql.functions.round($"rank", 9).as("r"))) shouldBe fpB

    // every superstep's drained window is the loop's own canonical
    // gather/apply job (2 stages since the r4 toRdd-consume action — no
    // trailing count stage) — a cross-polluted drain has extra stages and
    // falls back to positional stage0..stageN names
    for ((res, tag) <- Seq((a, "A"), (b, "B"))) {
      val canonical = Set("gather", "apply")
      res.stats.foreach { st =>
        withClue(s"loop $tag iter ${st.iteration}: ${st.phases.map(_.phase)}") {
          st.phases.map(_.phase).toSet.subsetOf(canonical) shouldBe true
          st.phases.size shouldBe 2
        }
      }
    }
    a.release(); b.release()
  }
}
