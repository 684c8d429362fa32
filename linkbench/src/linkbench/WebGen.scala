package linkbench

import graft.gen.SyntheticGraph.splitmix64
import scala.collection.mutable

/** Web-shaped pages for the `crawl_extract` workload.
  *
  * Each page is built from a list of pieces (title, style and script
  * blocks, paragraphs, a comment, anchors). The same pieces render the html
  * and give the expected outputs: the visible text and the resolved link
  * targets. The expectation therefore never parses html, so it is
  * independent of the extractor it checks.
  *
  * Shape: ~4.5 KB of html per page with `LinksPerPage` anchors. Anchors mix
  * absolute, root-relative, path-relative and protocol-relative hrefs, noise
  * (`#frag`, `mailto:`, `javascript:`) and repeats of the previous href.
  * Most targets lie outside the crawl, so the link table names far more urls
  * than the page set, and `Hubs` site home pages draw ~20% of all links.
  */
object WebGen {
  val Hosts = 16
  val Hubs = 8
  val LinksPerPage = 40
  val Paragraphs = 8
  val WordsPerParagraph = 24

  /** (visible text, html-encoded form). */
  private val Vocab: Array[(String, String)] = (Seq(
    "crawl", "graph", "label", "rank", "vertex", "edge", "spark", "page",
    "link", "text", "index", "shard", "query", "table", "joins", "votes",
    "seeds", "hub", "node", "frontier", "superstep", "damping", "market",
    "river", "city", "season", "report", "archive", "policy", "garden",
    "signal", "number", "orbit", "harbor", "museum", "ticket", "winter",
    "velvet", "copper", "lantern").map(w => (w, w)) ++ Seq(
    ("R&D", "R&amp;D"), ("a<b", "a&lt;b"), ("b>a", "b&gt;a"),
    ("\"quoted\"", "&quot;quoted&quot;"), ("it's", "it&#39;s"),
    ("AT&T", "AT&amp;T"))).toArray

  final case class Anchor(href: String, target: Option[String], text: String)

  /** A page, its html, the text an extractor must return for it and its
    * link targets in document order (noise links have no target).
    */
  final case class PageSpec(url: String, html: String, text: String, targets: Seq[String])

  def url(i: Long): String = s"https://s${i % Hosts}.crawl.test/a/$i.html"
  private def origin(i: Long): String = s"https://s${i % Hosts}.crawl.test"

  private def h(seed: Long, i: Long, slot: Int): Long =
    splitmix64(splitmix64(seed) + i * 4096L + slot)

  private def pos(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)

  private def anchor(seed: Long, pages: Long, i: Long, j: Int, prev: Option[Anchor]): Anchor = {
    val r = h(seed, i, j)
    val a = r >>> 8
    val text = s"go$j"
    def abs(u: String) = Anchor(u, Some(u), text)
    pos(r, 100) match {
      case k if k < 4 => Anchor(s"#s${pos(a, 10)}", None, text)
      case k if k < 6 => Anchor("mailto:team@crawl.test", None, text)
      case k if k < 8 => Anchor("javascript:void(0)", None, text)
      case k if k < 28 => abs(s"https://s${pos(a, Hubs)}.crawl.test/")
      case k if k < 48 =>
        val t = pos(a, pages / Hosts) * Hosts + i % Hosts
        Anchor(s"/a/$t.html", Some(s"${origin(i)}/a/$t.html"), text)
      case k if k < 53 =>
        val href = s"b/${pos(a, 500)}.html"
        Anchor(href, Some(s"${origin(i)}/$href"), text)
      case k if k < 58 =>
        val href = s"//cdn${pos(a, 4)}.ext.test/r/${pos(a >>> 16, 1000)}"
        Anchor(href, Some("https:" + href), text)
      case k if k < 63 =>
        prev.map(_.copy(text = text)).getOrElse(abs("https://s0.crawl.test/"))
      case k if k < 73 => abs(url(pos(a, pages)))
      case _ => abs(s"https://w${pos(a, 20000)}.ext.test/p/${pos(a >>> 20, 20)}.html")
    }
  }

  private def markup(seed: Long, i: Long, j: Int, a: Anchor): String =
    pos(h(seed, i, 100 + j), 4) match {
      case 0 => s"""<a href="${a.href}">${a.text}</a>"""
      case 1 => s"""<a class="nav" href='${a.href}'>${a.text}</a>"""
      case 2 => s"""<A HREF="${a.href}" rel="nofollow">${a.text}</A>"""
      case _ => s"""<a title="go" href = "${a.href}" >${a.text}</a>"""
    }

  def page(seed: Long, pages: Long, i: Long): PageSpec = {
    require(pages % Hosts == 0, s"page count must be a multiple of $Hosts")
    def words(block: Int, n: Int) =
      (0 until n).map(w => Vocab(pos(h(seed, i, 1000 + block * 64 + w), Vocab.length).toInt))
    val title = words(0, 4)
    val html = new StringBuilder(5000)
    val text = mutable.ArrayBuffer.empty[String]
    html ++= "<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\"><title>"
    html ++= title.map(_._2).mkString(" ") ++= "</title>\n"
    text ++= title.map(_._1)
    html ++= "<style>\nbody{font:14px sans-serif} p.c{color:#333} li{margin:0}\n</style>\n"
    html ++= "<script type=\"text/javascript\">\nvar hidden = \"script words\"; " +
      "function f(a,b){return a<b && b>a;}\n</script>\n</head>\n<body>\n"
    var prev: Option[Anchor] = None
    val targets = mutable.ArrayBuffer.empty[String]
    val perParagraph = LinksPerPage / Paragraphs
    for (p <- 0 until Paragraphs) {
      val ws = words(1 + p, WordsPerParagraph)
      html ++= "<p class=\"c\">" ++= ws.map(_._2).mkString(" ") ++= "</p>\n<ul>"
      text ++= ws.map(_._1)
      for (q <- 0 until perParagraph) {
        val j = p * perParagraph + q
        val a = anchor(seed, pages, i, j, prev)
        html ++= "<li>" ++= markup(seed, i, j, a) ++= "</li>"
        text += a.text
        targets ++= a.target
        prev = Some(a)
      }
      html ++= "</ul>\n"
      if (p == 3) html ++= "<!-- generated block; <p>not text</p> &amp; -->\n"
    }
    html ++= "</body></html>\n"
    PageSpec(url(i), html.toString, text.mkString(" "), targets.toSeq)
  }
}
