package linkbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span: summed over the executed stages of
  * the jobs submitted while that span was the innermost open one.
  */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    gcMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0, outputBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes)
}

/** One timed call into a layer. `work` is exclusive (jobs of child spans
  * are attributed to the children); see [[Tracer.inclusive]].
  */
final case class Span(
    rep: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    work: Work, counts: Map[String, Double]) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** Attributes stage metrics to the span whose job group submitted them. The
  * job group is a thread-local SparkContext property, so jobs of the loop
  * algorithms (which run on the calling thread) and of broadcast threads
  * (Spark SQL copies the caller's properties) land in the active span.
  */
private final class WorkListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val work = mutable.HashMap.empty[String, Work]

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    Option(ev.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        work(g) = work.getOrElse(g, Work()) + Work(jobs = 1)
        ev.stageInfos.foreach(si => stageGroup(si.stageId) = g)
      }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val si = ev.stageInfo
    stageGroup.get(si.stageId).foreach { g =>
      val m = si.taskMetrics
      work(g) = work.getOrElse(g, Work()) + Work(
        stages = 1, tasks = si.numTasks, taskMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead,
        outputBytes = m.outputMetrics.bytesWritten)
    }
  }

  def take(group: String): Work = synchronized {
    work.remove(group).getOrElse(Work())
  }
}

/** Spans around the benchmark's calls into each layer. Disabled, `span`
  * only runs its body: no listener, no job groups, no bus barriers.
  * Enabled, spans and their counts stay in memory until [[writeJsonl]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  // registered on the first traced pass, so untraced runs carry no listener
  private var listener: Option[WorkListener] = None
  private var on = false
  private var rep = 0
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val counts = mutable.HashMap.empty[Int, mutable.LinkedHashMap[String, Double]]
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Starts recording rep `r` (traced) or stops recording (untraced). */
  def record(r: Int, traced: Boolean): Unit = {
    rep = r
    on = traced
    if (traced && listener.isEmpty) {
      val l = new WorkListener
      sc.addSparkListener(l)
      listener = Some(l)
    }
  }

  private def group(id: Int) = s"linkbench-$id"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        // stage events arrive asynchronously: drain the bus before reading
        GraftSqlShim.waitListenerBus(spark)
        val w = listener.get.take(group(id))
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(rep, id, parent, name, t0 - origin, t1 - origin, w,
          counts.remove(id).map(_.toMap).getOrElse(Map.empty))
      }
    }

  /** Attaches a count to the innermost open span. */
  def count(key: String, value: Double): Unit =
    if (on) stack.headOption.foreach { id =>
      counts.getOrElseUpdate(id, mutable.LinkedHashMap.empty)(key) = value
    }

  def close(): Unit = listener.foreach { l =>
    GraftSqlShim.waitListenerBus(spark)
    sc.removeSparkListener(l)
  }

  private def children(s: Span): Seq[Span] =
    spans.filter(c => c.rep == s.rep && c.parent == s.id).toSeq

  /** Work of `s` and all its descendants. */
  def inclusive(s: Span): Work = children(s).foldLeft(s.work)((w, c) => w + inclusive(c))

  /** Span time not covered by its children (children never overlap). */
  def selfSec(s: Span): Double = s.sec - children(s).map(_.sec).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = inclusive(s)
      val cs = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
      s"""{"rep":${s.rep},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${Json.num(s.startNs / 1e6)},"end_ms":${Json.num(s.endNs / 1e6)},""" +
        s""""self_ms":${Json.num(selfSec(s) * 1e3)},"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""tasks":${w.tasks},"task_ms":${w.taskMs},"gc_ms":${w.gcMs},""" +
        s""""shuffle_read_bytes":${w.shuffleReadBytes},"shuffle_write_bytes":${w.shuffleWriteBytes},""" +
        s""""spill_bytes":${w.spillBytes},"input_bytes":${w.inputBytes},""" +
        s""""output_bytes":${w.outputBytes},"counts":$cs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** JVM heap after garbage collection, and GC time. */
object Heap {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val onGc = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (after > peak) peak = after }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ => ()
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def liveBytes(): Long = {
    // the first collection lets Spark's ContextCleaner drop state behind
    // unreachable RDDs, shuffles and broadcasts; the second collects it
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Full collection, then forget earlier peaks. Returns the live heap. */
  def reset(): Long = { val live = liveBytes(); synchronized { peak = 0L }; live }

  /** (largest heap any collection left behind since [[reset]], live heap
    * after a full collection now). The first counts garbage promoted between
    * young collections, so it moves with GC timing.
    */
  def measure(): (Long, Long) = {
    val live = liveBytes()
    synchronized { (math.max(peak, live), live) }
  }
}

object Json {
  /** Finite number with all its digits and no exponent. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.math.BigDecimal.valueOf(v).stripTrailingZeros().toPlainString
  }
}
