package linkbench

import java.io.{DataInputStream, DataOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Superstep, TriangleCount}
import graft.extract.LinkExtract
import graft.gen.SyntheticGraph
import graft.graph.Adjacency
import graft.io.{EdgeTsv, PagesSource}
import graft.model._
import graft.oracle.SerialOracles

/** One loop algorithm's run inside a pass, as its result reports it. */
final case class LoopRun(
    algo: String, vertices: Long, edges: Long, iterations: Int,
    stats: List[Superstep.IterStats])

/** What a timed pass leaves behind for the metrics and the checks. */
final case class PassOut(
    loops: Seq[LoopRun],
    checkpointBytes: Long,
    sinkBytes: Long,
    check: Boolean => Seq[(String, Option[String])],
    release: () => Unit)

/** A workload: its input table, its expectations and one timed pass from
  * the input table to the sinks. `checks` names the outputs each pass
  * verifies; a pass that throws fails all of them. `passSeconds` is the
  * nominal time of one pass on the 4-core reference host; `warmupPasses`
  * untimed passes come first, as many as it takes for pass times to level.
  */
trait Workload {
  def checks: Seq[String]
  def passSeconds: Double
  def warmupPasses: Int
  def writeInput(dir: String): Unit
  def prepare(cacheDir: File): Unit
  def run(dir: String, work: String, t: Tracer): PassOut
}

object Workloads {
  val names: Seq[String] = Seq("graph_loops", "crawl_extract")

  /** Input sizes per workload: the measured size, and the small size of
    * the checker's self-check.
    */
  def apply(spark: SparkSession, name: String, seed: Long, small: Boolean): Workload =
    name match {
      case "graph_loops" =>
        if (small) new GraphLoops(spark, seed, 400, 3) else new GraphLoops(spark, seed, 20000, 10)
      case "crawl_extract" => new CrawlExtract(spark, seed, if (small) 1600 else 8000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  // ---- helpers shared by the workloads ----

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** 64-bit fingerprint of a string's UTF-8 bytes (two Murmur3 seeds). */
  def fp(s: String): Long = {
    val b = s.getBytes(UTF_8)
    (scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c6ef372).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593).toLong & 0xffffffffL)
  }

  def pack(src: Long, dst: Long): Long = (src << 32) | dst

  def sameSorted(name: String, got: Array[Long], want: Array[Long]): Option[String] = {
    java.util.Arrays.sort(got)
    if (java.util.Arrays.equals(got, want)) None
    else Some(s"$name: ${got.length} rows, expected ${want.length}; first difference at " +
      got.indices.find(k => k >= want.length || got(k) != want(k)).getOrElse(want.length))
  }

  /** Compares per-id values; `None` entries must be absent from `got`. */
  def sameById[V](name: String, got: Map[Long, V], want: Long => Option[V], ids: Long,
                  eq: (V, V) => Boolean = (a: V, b: V) => a == b): Option[String] = {
    val bad = (0L until ids).iterator.filterNot(i => (got.get(i), want(i)) match {
      case (Some(g), Some(w)) => eq(g, w)
      case (None, None) => true
      case _ => false
    })
    val extra = got.keys.filter(k => k < 0 || k >= ids)
    if (bad.hasNext) { val i = bad.next(); Some(s"$name: id $i is ${got.get(i)}, expected ${want(i)}") }
    else if (extra.nonEmpty) Some(s"$name: unexpected id ${extra.head}")
    else None
  }

  /** Serial-oracle results, cached per (workload, seed, size) in `dir`. */
  def cachedLongs(dir: File, key: String)(compute: => Array[Long]): Array[Long] =
    cached(dir, key, compute, (o: DataOutputStream, a: Array[Long]) => { o.writeInt(a.length); a.foreach(o.writeLong) },
      (in: DataInputStream) => Array.fill(in.readInt())(in.readLong()))

  def cachedDoubles(dir: File, key: String)(compute: => Array[Double]): Array[Double] =
    cached(dir, key, compute, (o: DataOutputStream, a: Array[Double]) => { o.writeInt(a.length); a.foreach(o.writeDouble) },
      (in: DataInputStream) => Array.fill(in.readInt())(in.readDouble()))

  private def cached[A](dir: File, key: String, compute: => A,
                        write: (DataOutputStream, A) => Unit, read: DataInputStream => A): A = {
    val f = new File(dir, key + ".bin")
    if (f.isFile) {
      val in = new DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(f.toPath)))
      try return read(in) finally in.close()
    }
    val v = compute
    dir.mkdirs()
    val tmp = File.createTempFile(key, ".tmp", dir)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(tmp.toPath)))
    try write(out, v) finally out.close()
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    v
  }

  def labelsOf(a: Array[Option[Long]]): Array[Long] = a.map(_.getOrElse(-1L))
  def opt(l: Long): Option[Long] = if (l < 0) None else Some(l)
}

import Workloads._

/** Reference TSV edge table → in/out degrees → seeded LP, connected
  * components, triangle count and PageRank with durable checkpoints →
  * per-vertex parquet sinks. No front end: per-superstep work, checkpoint
  * writes and triangle work dominate.
  */
final class GraphLoops(spark: SparkSession, seed: Long, n: Long, prMaxIter: Int) extends Workload {
  import spark.implicits._
  private val density = 10
  val checks = Seq("edges", "out_degree", "in_degree", "lp", "cc", "tc", "pr")
  val passSeconds = 16.0
  val warmupPasses = 1

  private var expEdges: Array[Long] = _
  private var expOut: Map[Long, Long] = _
  private var expIn: Map[Long, Long] = _
  private var expLp: Array[Long] = _
  private var expCc: Array[Long] = _
  private var expTc: Array[Long] = _
  private var expPr: Map[Long, Double] = _

  def writeInput(dir: String): Unit = {
    val e = SyntheticGraph.randomEdges(spark, n, density, seed)
    val s = SyntheticGraph.seeds(spark, n)
    e.join(s, e("src") === s("node"), "left")
      .select(concat_ws("\t", $"src".cast("string"), $"dst".cast("string"), $"label".cast("string")))
      .write.mode("overwrite").text(s"$dir/edges.tsv")
  }

  def prepare(cacheDir: File): Unit = {
    val edges = SyntheticGraph.randomEdgesLocal(n, density, seed)
    expEdges = edges.map { case (s, d) => pack(s, d) }.toArray.sorted
    expOut = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    expIn = edges.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val vs = 0L until n
    val key = s"graph_loops-s$seed-n$n"
    expLp = cachedLongs(cacheDir, key + "-lp")(
      labelsOf(SerialOracles.labelPropagation(n.toInt, edges, SyntheticGraph.seedsLocal(n))))
    expCc = cachedLongs(cacheDir, key + "-cc") {
      val m = SerialOracles.connectedComponents(vs, edges); Array.tabulate(n.toInt)(i => m(i.toLong))
    }
    expTc = cachedLongs(cacheDir, key + "-tc") {
      val m = SerialOracles.triangleCounts(vs, edges); Array.tabulate(n.toInt)(i => m(i.toLong))
    }
    // PageRank ranks the vertices that appear in an edge; NaN marks the others
    val pr = cachedDoubles(cacheDir, key + s"-pr$prMaxIter") {
      val m = SerialOracles.pageRank(edges.flatMap { case (s, d) => Seq(s, d) }, edges, maxIter = prMaxIter)
      Array.tabulate(n.toInt)(i => m.getOrElse(i.toLong, Double.NaN))
    }
    expPr = pr.indices.collect { case i if !pr(i).isNaN => i.toLong -> pr(i) }.toMap
  }

  def run(dir: String, work: String, t: Tracer): PassOut = {
    val path = s"$dir/edges.tsv"
    val (edges, seeds, edgeCount) = t.span("io.tsv_parse") {
      val e = EdgeTsv.readEdges(spark, path).persist()
      val c = e.count()
      t.count("edges", c.toDouble)
      val s = EdgeTsv.readSeeds(spark, path).persist()
      t.count("seeds", s.count().toDouble)
      (e, s, c)
    }
    val (outDeg, inDeg) = t.span("graph.degrees") {
      val o = Adjacency.outDegrees(edges).persist()
      val i = Adjacency.inDegrees(edges).persist()
      t.count("sources", o.count().toDouble)
      t.count("targets", i.count().toDouble)
      (o, i)
    }
    val lp = t.span("algo.lp") { LabelPropagation.run(edges, seeds) }
    val cc = t.span("algo.cc") { ConnectedComponents.run(edges) }
    val tc = t.span("algo.tc") { TriangleCount.run(edges) }
    val pr = t.span("algo.pr") {
      PageRank.run(edges, maxIter = prMaxIter, cfg = RunConfig(checkpointDir = Some(s"$work/ckpt/pr")))
    }
    val sinks = Seq("out_degree", "in_degree", "labels", "components", "triangles", "ranks")
    t.span("io.sink") {
      Seq(outDeg, inDeg, lp.labels.toDF(), cc.components.toDF(), tc.counts.toDF(), pr.ranks.toDF())
        .zip(sinks).foreach { case (df, s) => df.write.mode("overwrite").parquet(s"$work/$s") }
    }

    val loops = Seq(
      LoopRun("lp", n, lp.edgeCount, lp.iterations, lp.stats),
      LoopRun("cc", n, edgeCount, cc.iterations, cc.stats),
      LoopRun("pr", pr.numVertices, edgeCount, pr.iterations, pr.stats))
    def check(corrupt: Boolean): Seq[(String, Option[String])] = {
      def sink(name: String) = spark.read.parquet(s"$work/$name").as[(Long, Long)].collect().toMap
      val tri = sink("triangles")
      val ranks = spark.read.parquet(s"$work/ranks").as[(Long, Double)].collect().toMap
      Seq(
        "edges" -> sameSorted("parsed edges", edges.collect().map(e => pack(e.src, e.dst)), expEdges),
        "out_degree" -> sameById("out-degree", sink("out_degree"), i => expOut.get(i), n),
        "in_degree" -> sameById("in-degree", sink("in_degree"), i => expIn.get(i), n),
        "lp" -> sameById("lp label", sink("labels"), i => opt(expLp(i.toInt)), n),
        "cc" -> sameById("component", sink("components"), i => Some(expCc(i.toInt)), n),
        "tc" -> sameById("triangles", if (corrupt) tri.updated(0L, tri(0L) + 1) else tri,
          i => Some(expTc(i.toInt)), n),
        "pr" -> sameById[Double]("pr rank", ranks, i => expPr.get(i), n,
          (a, b) => math.abs(a - b) <= 1e-6))
    }
    PassOut(loops, dirBytes(s"$work/ckpt"), sinks.map(s => dirBytes(s"$work/$s")).sum,
      check, () => {
        Seq[Dataset[_]](edges, seeds, outDeg, inDeg).foreach(_.unpersist(true))
        lp.release(); cc.release(); tc.release(); pr.release()
        deleteTree(work)
      })
  }
}

/** Web-shaped pages → links + text → parquet sinks of the url-level edges
  * and the per-url text. No iterative algorithm: the front end and the
  * sinks do all the work.
  */
final class CrawlExtract(spark: SparkSession, seed: Long, pages: Long) extends Workload {
  import spark.implicits._
  val checks = Seq("text", "links")
  val passSeconds = 3.0
  // after one warm-up pass the next ran 1.6x the later ones
  val warmupPasses = 2

  private var expText: Map[String, Long] = _
  private var expLinks: Array[Long] = _

  def writeInput(dir: String): Unit = {
    val (s, np) = (seed, pages)
    spark.range(pages).as[Long].map { i =>
      val p = WebGen.page(s, np, i)
      Page(p.url, new java.sql.Timestamp(1767225600000L + i * 1000L), p.html.getBytes(UTF_8), null, "en")
    }.write.mode("overwrite").parquet(s"$dir/pages")
  }

  private def link(src: String, dst: String): Long = fp(src + "\n" + dst)

  def prepare(cacheDir: File): Unit = {
    val specs = (0L until pages).map(i => WebGen.page(seed, pages, i))
    expText = specs.map(p => p.url -> fp(p.text)).toMap
    expLinks = specs.flatMap(p => p.targets.map(link(p.url, _))).toArray.sorted
  }

  def run(dir: String, work: String, t: Tracer): PassOut = {
    val pagesDf = t.span("io.pages_scan") {
      val p = PagesSource.load(spark, s"$dir/pages").persist()
      t.count("rows", p.count().toDouble); p
    }
    val urlEdges = t.span("extract.links") {
      val e = LinkExtract.urlEdges(pagesDf).persist()
      t.count("rows", e.count().toDouble); e
    }
    val text = t.span("extract.text") { CrawlExtract.extractText(pagesDf, t) }
    t.span("io.sink") {
      text.write.mode("overwrite").parquet(s"$work/text")
      urlEdges.write.mode("overwrite").parquet(s"$work/links")
    }

    def check(corrupt: Boolean): Seq[(String, Option[String])] = {
      def sink(name: String) = spark.read.parquet(s"$work/$name")
      val gotText = sink("text").as[(String, String)].collect()
        .map { case (u, x) => u -> fp(if (corrupt && u == WebGen.url(0)) x + " " else x) }.toMap
      val textBad = if (gotText.size != expText.size) Some(s"text: ${gotText.size} urls, expected ${expText.size}")
        else expText.collectFirst { case (u, f) if !gotText.get(u).contains(f) => s"text of $u differs" }
      val gotLinks = sink("links").select("src_url", "dst_url").as[(String, String)].collect()
        .map { case (s, d) => link(s, d) }
      Seq(
        "text" -> textBad,
        "links" -> sameSorted("url edges", gotLinks, expLinks))
    }
    PassOut(Nil, 0L, Seq("text", "links").map(s => dirBytes(s"$work/$s")).sum,
      check, () => {
        Seq[Dataset[_]](pagesDf, urlEdges, text).foreach(_.unpersist(true))
        deleteTree(work)
      })
  }
}

object CrawlExtract {
  /** Extracted (url, text), materialized, with its row and byte counts. */
  def extractText(pages: DataFrame, t: Tracer): DataFrame = {
    val x = LinkExtract.extractText(pages).persist()
    val r = x.agg(count(lit(1)), coalesce(sum(octet_length(col("text"))), lit(0L))).head()
    t.count("rows", r.getLong(0).toDouble)
    t.count("bytes", r.getLong(1).toDouble)
    x
  }
}
