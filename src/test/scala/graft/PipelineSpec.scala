package graft

import graft.extract.{Dictionary, LinkExtract}
import graft.gen.{SyntheticGraph, SyntheticPages}
import graft.algo.LabelPropagation
import graft.model._
import org.apache.spark.sql.functions._

/** Full front-end pipeline: pages → href extraction → dictionary encode →
  * integer edge table → LP. Verifies the extracted+encoded graph is
  * bit-identical to the directly-generated reference topology, and that
  * text extraction and ids are byte/value-stable across parallelism
  * (the determinism half of the scaling-efficiency evidence).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("href extraction: absolute/relative/protocol-relative/noise") {
    val html = """<html><body>
      |<a href="https://a.example/x">1</a>
      |<a class=z href='http://b.example/y'>2</a>
      |<a href="/local">3</a>
      |<a href="rel/path">4</a>
      |<a href="//c.example/z">5</a>
      |<a href="javascript:void(0)">6</a>
      |<a href="#frag">7</a>
      |<a href="mailto:x@y">8</a>
      |<a href="https://a.example/x">dup</a>
      |</body></html>""".stripMargin
    val pages = Seq(("https://site.example/p1", html.getBytes("UTF-8")))
      .toDF("url", "html")
    val got = LinkExtract.urlEdges(pages).collect().map(_.dst_url).toSeq
    got shouldBe Seq(
      "https://a.example/x",
      "http://b.example/y",
      "https://site.example/local",
      "https://site.example/rel/path",
      "https://c.example/z",
      "https://a.example/x")
  }

  test("text extraction golden bytes, stable across runs and parallelism") {
    val html = ("<html><head><title>T</title><style>p{color:red}</style>" +
      "<script>var x = '<p>sneaky</p>';</script></head>" +
      "<body><p>Hello &amp; welcome</p>\n<div>a &lt; b</div><!-- no --></body></html>")
      .getBytes("UTF-8")
    val pages = Seq(("u1", html)).toDF("url", "html")
    val golden = "T Hello & welcome a < b"
    LinkExtract.extractText(pages).head().getString(1) shouldBe golden
    val again = LinkExtract.extractText(pages.repartition(7)).head().getString(1)
    again shouldBe golden
  }

  test("dictionary: dense sorted-rank ids, bijective, parallelism-stable") {
    val urls = (0 until 500).map(i => s"https://x.example/${(i * 7919) % 500}")
      .toDF("url")
    val d1 = Dictionary.build(urls).collect().sortBy(_.id)
    d1.map(_.id).toSeq shouldBe (0L until 500L)
    d1.map(_.url).toSeq shouldBe d1.map(_.url).sorted.toSeq
    val d2 = Dictionary.build(urls.repartition(17)).collect().sortBy(_.id)
    d2.toSeq shouldBe d1.toSeq
  }

  test("dictionary: dense ranks where range sampling engages, encode agrees") {
    // 20K urls over 8 shuffle partitions: the range partitioner samples its
    // bounds, and a recomputed sample differs from the first one — the ids
    // must still be exactly the url ranks 0..n-1, and every later use of
    // the dictionary (collect, both encode joins) must see those same ids
    val n = 20000
    def url(i: Int) = f"https://x.example/$i%05d"
    val pairs = (0 until n).map(i => (url(i), url((i * 7919 + 13) % n)))
    val urlEdges = pairs.toDF("src_url", "dst_url").as[UrlEdge].repartition(8)
    val dict = Dictionary.buildFromEdges(urlEdges)
    val got = dict.collect().sortBy(_.id)
    got.map(_.id).toSeq shouldBe (0L until n.toLong)
    got.map(_.url).toSeq shouldBe (0 until n).map(url)
    // zero-padded urls sort numerically, so the local rank of url(i) is i
    val encoded = Dictionary.encodeEdges(urlEdges, dict)
      .collect().map(e => (e.src, e.dst)).sorted.toSeq
    encoded shouldBe pairs.indices.map(i => (i.toLong, ((i * 7919L + 13) % n))).sorted
  }

  test("dictionary build over 20K urls submits a pinned number of jobs") {
    def url(i: Int) = f"https://x.example/$i%05d"
    val urlEdges = (0 until 20000).map(i => (url(i), url((i * 7919 + 13) % 20000)))
      .toDF("src_url", "dst_url").as[UrlEdge].repartition(8)
    val group = "dictionary-build-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(ev.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // in a fresh context the listener can miss the first job it should
      // see, so an uncounted job goes first
      spark.range(1).count()
      org.apache.spark.sql.GraftSqlShim.waitListenerBus(spark)
      spark.sparkContext.setJobGroup(group, "Dictionary.build")
      try Dictionary.buildFromEdges(urlEdges) finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftSqlShim.waitListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    // under AQE each exchange's map stage is a job of its own; then the
    // range-bounds sampling and the one job that materializes, pins and
    // counts the sorted urls. No counting pass and no second copy of the
    // urls: those were 2 more jobs
    jobs.get shouldBe 6
  }

  test("pages → extract → encode reproduces the generated topology exactly") {
    val n = 120L
    val density = 5
    val pages = SyntheticPages.pages(spark, n, density)
    val urlEdges = LinkExtract.urlEdges(pages)
    val dict = Dictionary.buildFromEdges(urlEdges)
    val edges = Dictionary.encodeEdges(urlEdges, dict)
    // urls zero-padded → dictionary rank == node id (over linked nodes);
    // node ids are dense iff every node appears as an endpoint
    val got = edges.collect().map(e => (e.src, e.dst)).sorted.toSeq
    val expected = SyntheticGraph.randomEdgesLocal(n, density).sorted
    // map expected through the same dictionary semantics: rank over the
    // distinct endpoint set in url (== numeric) order
    val present = expected.flatMap { case (s, d) => Seq(s, d) }.distinct.sorted
    val rank = present.zipWithIndex.map { case (v, i) => v -> i.toLong }.toMap
    got shouldBe expected.map { case (s, d) => (rank(s), rank(d)) }.sorted
  }

  test("end-to-end §7.4 slice: 3-page triangle through the full stack") {
    // synthesize 3 pages linking in the reference triangle; seed node 0→100
    val urls = (0 to 2).map(i => SyntheticPages.urlOf(i.toLong))
    val tri = Map(0 -> Seq(1, 2), 1 -> Seq(0, 2), 2 -> Seq(0, 1))
    val pagesRows = (0 to 2).map { i =>
      val links = tri(i).map(j => s"""<a href="${urls(j)}">x</a>""").mkString
      (urls(i), s"<html><body>$links</body></html>".getBytes("UTF-8"))
    }
    val pages = pagesRows.toDF("url", "html")
    val urlEdges = LinkExtract.urlEdges(pages)
    val dict = Dictionary.buildFromEdges(urlEdges)
    val edges = Dictionary.encodeEdges(urlEdges, dict)
    val seeds = dict.filter($"url" === urls(0))
      .select($"id".as("node"), lit(100L).as("label")).as[Seed]
    val res = LabelPropagation.run(edges, seeds)
    res.converged shouldBe true
    res.iterations shouldBe 2
    val byUrl = Dictionary.decode(res.labels.toDF(), "id", dict)
      .collect().map(r => r.getAs[String]("url") -> r.getAs[Long]("label")).toMap
    byUrl shouldBe urls.map(_ -> 100L).toMap
  }
}
