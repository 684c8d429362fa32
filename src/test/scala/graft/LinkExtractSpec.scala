package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.LinkExtract
import graft.functions.{HrefsExpr, HtmlTextExpr}

/** Edge-case goldens of the native html scans behind [[LinkExtract]], and
  * a differential check against the `java.util.regex` SQL formulation they
  * replace. That formulation is kept HERE, as the oracle: every golden is
  * asserted for both, and seeded random documents must give equal text and
  * href arrays on every row.
  */
class LinkExtractSpec extends SparkSpec {
  import spark.implicits._

  /** Former `LinkExtract.hrefsCol`: regexp_extract_all, then an
    * interpreted lambda strips the quotes.
    */
  private def oracleHrefs(html: Column): Column = {
    val quoted = regexp_extract_all(html.cast("string"),
      lit("""(?i)<a\b[^>]*?\bhref\s*=\s*("([^"]*)"|'([^']*)')"""), lit(1))
    transform(quoted, h => regexp_replace(h, "^[\"']|[\"']$", ""))
  }

  /** Former `LinkExtract.textCol`: nine regexp_replace passes and a trim. */
  private def oracleText(html: Column): Column = {
    val s0 = html.cast("string")
    val noScript = regexp_replace(s0, "(?is)<(script|style)\\b.*?</\\1\\s*>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&amp;" -> "&").foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** (text, hrefs) of one document from the native expressions in
    * generated code, the same expressions evaluated interpreted, and the
    * regex oracle; all three must agree.
    */
  private def scan(html: Array[Byte]): (String, Seq[String]) = {
    // repartition keeps the optimizer from folding the projection over the
    // local relation, so the first two columns come from generated code
    val row = Seq(Tuple1(html)).toDF("html").repartition(1).select(
      LinkExtract.textCol(col("html")), LinkExtract.hrefsCol(col("html")),
      oracleText(col("html")), oracleHrefs(col("html"))).head()
    val text = row.getString(0)
    val hrefs = row.getSeq[String](1)
    (row.getString(2), row.getSeq[String](3)) shouldBe ((text, hrefs))
    val lit = Literal(html, BinaryType)
    HtmlTextExpr(lit).eval().toString shouldBe text
    HrefsExpr(lit).eval().asInstanceOf[ArrayData].toSeq[UTF8String](StringType)
      .map(_.toString) shouldBe hrefs
    (text, hrefs)
  }

  private def scan(html: String): (String, Seq[String]) = scan(html.getBytes(UTF_8))

  test("href: a quoted value may hold '>'") {
    scan("""<a href="/x>y">t</a>""") shouldBe (("y\">t", Seq("/x>y")))
  }

  test("href: a decoy href inside another attribute's value matches first") {
    scan("""<a title="see href='/decoy'" href="/real">t</a>""")._2 shouldBe Seq("/decoy")
  }

  test("href: case-folded tag and attribute, spaces around '='") {
    scan("""<A HREF="/up">x</A><a class=c href = '/sp'>y</a>""")._2 shouldBe Seq("/up", "/sp")
  }

  test("href: <abbr href> and <a\u00e9 href> are not links") {
    scan("<abbr href=\"/no\">x</abbr><a\u00e9 href=\"/no2\">y</a\u00e9>")._2 shouldBe empty
  }

  test("href: a word char or based combining mark before href, or a mark after <a, blocks \\b") {
    scan("<a \u00e9href=\"/no\">x</a>")._2 shouldBe empty
    scan("<a x\u0301href=\"/no\">x</a>")._2 shouldBe empty
    scan("<a\u0301 href=\"/no\">x</a>")._2 shouldBe empty
    // a mark with no letter or digit before its run is not a word char
    scan("<a \u0301href=\"/yes\">x</a>")._2 shouldBe Seq("/yes")
  }

  test("href: an unclosed quote does not match; the scan moves on") {
    scan("""<a href="/open>x</a><a href='/ok'>y</a>""")._2 shouldBe Seq("/ok")
  }

  test("text: an unclosed <script> is not a block") {
    scan("""<p>a</p><script>var x = "<b>";""")._1 shouldBe "a var x = \" \";"
  }

  test("text: </SCRIPT > closes <script>") {
    scan("a<script>x</SCRIPT >b<style>p{}</style\n>c")._1 shouldBe "a b c"
  }

  test("text: <scripts> is not a block") {
    scan("a<scripts>x</scripts>b")._1 shouldBe "a x b"
  }

  test("text: a comment holding a script is removed whole") {
    scan("a<!-- <script>x</script> -->b")._1 shouldBe "a b"
    // blocks go first: a closing tag inside a comment still closes the block
    scan("a<script>x<!--</script>-->b")._1 shouldBe "a -->b"
  }

  test("text: &amp;lt; unescapes once, to &lt;") {
    scan("x &amp;lt; y &lt;&gt;&quot;&#39;&amp;")._1 shouldBe "x &lt; y <>\"'&"
  }

  test("text and hrefs: invalid UTF-8 becomes U+FFFD") {
    val html = "<p>a".getBytes(UTF_8) ++ Array(0xff.toByte, 0xc3.toByte) ++
      "b</p><a href=\"/x".getBytes(UTF_8) ++ Array(0x80.toByte) ++ "\">".getBytes(UTF_8)
    scan(html) shouldBe (("a\ufffd\ufffdb", Seq("/x\ufffd")))
  }

  test("STRING input and null input") {
    val df = Seq(Some("<a href='/s'>t &amp; u</a>"), None).toDF("html")
    val rows = df.select(LinkExtract.textCol(col("html")), LinkExtract.hrefsCol(col("html")))
      .collect()
    rows(0).getString(0) shouldBe "t & u"
    rows(0).getSeq[String](1) shouldBe Seq("/s")
    rows(1).isNullAt(0) shouldBe true
    rows(1).isNullAt(1) shouldBe true
  }

  // ---- differential ---------------------------------------------------------

  /** Fragments that exercise every rule: tag, block, comment and entity
    * openers and closers in mixed case, quotes, the `\s` set and spaces
    * outside it, letters, digits, `_`, non-spacing marks (BMP and
    * supplementary), supplementary letters, and malformed UTF-8.
    */
  private val Fragments: Array[Array[Byte]] = (Seq(
    "<", ">", "</", "<a", "<A", "<a ", "<a\t", "<abbr", "<a\u00e9", "<a\u0301", "<a_",
    "a", "A", "x", "1", "_", "\u00e9", "\u00df", "\u5317", "\u212a", "\u017f", "\u0130",
    "\u0301", "\u0345", "\ud834\udd67", "\ud835\udc00", "\ud83d\ude00",
    "href", "HREF", "hReF", "href=", " href = ", "href\n=\n", "=", "\"", "'",
    "\"/x>y\"", "'/q'", "\"/p\"", " title=\"", "<a href=\"", "<a href='", "<a title='x href=\"",
    "<script>", "<SCRIPT", "<script ", "<Script", "</script>", "</SCRIPT >", "</script\n>",
    "</scriPT\u000b\f>", "<scripts>", "<style>", "<STYLE ", "</style>", "</StYlE\t>", "</styles>",
    "<!--", "-->", "<!-->", "<!", "--", "-",
    "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&amp;lt;", "&AMP;", "&", ";", "lt;", "amp;",
    "&#39", "&quot",
    " ", "  ", "\t", "\n", "\r", "\u000b", "\f", "\r\n", "\u00a0", "\u2003", "\u3000",
    "\u0085", "\u2028", "\u001c").map(_.getBytes(UTF_8)) ++ Seq(
    Array(0xff), Array(0xc3), Array(0x80), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80),
    Array(0xc0, 0x80), Array(0xe2, 0x82)).map(_.map(_.toByte))).toArray

  private def randomDocs(seed: Long, n: Int): Seq[(Int, Array[Byte])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val out = new java.io.ByteArrayOutputStream()
      val len = rng.nextInt(if (rng.nextInt(8) == 0) 120 else 24)
      (0 until len).foreach(_ => out.write(Fragments(rng.nextInt(Fragments.length))))
      i -> out.toByteArray
    }
  }

  /** Rows whose native text or hrefs differ from the oracle, for BINARY
    * and STRING input.
    */
  private def mismatches(docs: DataFrame): Array[String] = {
    val html = col("html")
    val str = html.cast("string")
    docs.repartition(4).select(col("id"), html,
        (HtmlTextExpr.text(html) <=> oracleText(html)).as("text_ok"),
        (HrefsExpr.hrefs(html) <=> oracleHrefs(html)).as("hrefs_ok"),
        (HtmlTextExpr.text(str) <=> oracleText(str)).as("str_text_ok"),
        (HrefsExpr.hrefs(str) <=> oracleHrefs(str)).as("str_hrefs_ok"))
      .filter(!($"text_ok" && $"hrefs_ok" && $"str_text_ok" && $"str_hrefs_ok"))
      .limit(5).collect()
      .map(r => s"doc ${r.getInt(0)}: ${new String(r.getAs[Array[Byte]](1), UTF_8)}")
  }

  test("differential: 120K seeded random documents, text and hrefs equal the regex formulation") {
    for (seed <- Seq(7101L, 7102L, 7103L)) {
      val docs = spark.createDataset(randomDocs(seed, 40000)).toDF("id", "html")
      withClue(s"seed $seed: ") { mismatches(docs) shouldBe empty }
    }
  }
}
