package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.{HrefsExpr, HtmlTextExpr}
import graft.model._

/** Deterministic link and text extraction from the pages table
  * (`pages(url, warc_ts, html, text, lang)` — BASELINE.json input_hint).
  *
  * This is the front-end the reference lacks (it starts from integer edge
  * TSVs): `pages → edges(src_url, dst_url)` via href extraction from the
  * html bytes, plus the byte-identical text extraction the north rule
  * requires ("per-url extracted text must be byte-identical ... across runs
  * and parallelism").
  *
  * Everything is a deterministic pure function of the html bytes:
  *  - hrefs: every `<a ... href="...">` / `href='...'` value, in document
  *    order, relative refs resolved against the page url's origin;
  *    fragment-only, `javascript:`, `mailto:` and empty refs dropped.
  *    Duplicate links are PRESERVED (a page linking twice votes twice,
  *    mirroring the reference's duplicate-edge semantics).
  *  - text: html with `<script>`/`<style>` blocks, comments and all tags
  *    removed, the five standard entities unescaped, whitespace runs
  *    collapsed to single spaces, trimmed. Simple by design: the contract
  *    is byte-stability, and goldens are pinned in LinkExtractSpec.
  *
  * Each page is scanned by two native codegen'd expressions,
  * [[graft.functions.HrefsExpr]] and [[graft.functions.HtmlTextExpr]]: one
  * UTF-8 decode and one hand loop per page instead of a `java.util.regex`
  * pass per rule, with the regex semantics they replace (LinkExtractSpec
  * checks them against that formulation on random documents). Resolution
  * stays relational, and the href pipeline is `explode`-shaped so a hub
  * page with 10^4 links fans out into rows, not driver memory.
  */
object LinkExtract {

  /** Raw href attribute values in document order (may be relative). */
  def hrefsCol(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    HrefsExpr.hrefs(html)

  /** Resolve an href against the page url: absolute http(s) kept as-is;
    * `//host/x` gets the page's scheme; `/x` joins the page origin; other
    * relative refs join origin + '/'. Fragments and query strings are kept
    * (byte-determinism beats cosmetic canonicalization); scheme-noise
    * (`javascript:`, `mailto:`, `#…`, empty) → null.
    */
  def resolveCol(pageUrl: org.apache.spark.sql.Column,
                 href: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scheme = regexp_extract(pageUrl, "^(https?)://", 1)
    val origin = regexp_extract(pageUrl, "^(https?://[^/]+)", 1)
    when(href.rlike("(?i)^(javascript|mailto|data|tel):") || href.rlike("^#") ||
         href === "", lit(null))
      .when(href.rlike("(?i)^https?://"), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("/"), concat(origin, href))
      .otherwise(concat(origin, lit("/"), href))
  }

  /** pages → url-level directed edge table (duplicates preserved). */
  def urlEdges(pages: DataFrame): Dataset[UrlEdge] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select($"url".as("src_url"), explode(hrefsCol($"html")).as("href"))
      .select($"src_url", resolveCol($"src_url", $"href").as("dst_url"))
      .filter($"dst_url".isNotNull)
      .as[UrlEdge]
  }

  /** Deterministic text extraction (byte-identical across runs/parallelism;
    * goldens pinned in LinkExtractSpec).
    */
  def textCol(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    HtmlTextExpr.text(html)

  /** pages → (url, text) with extracted text. */
  def extractText(pages: DataFrame): DataFrame =
    pages.select(col("url"), textCol(col("html")).as("text"))
}
