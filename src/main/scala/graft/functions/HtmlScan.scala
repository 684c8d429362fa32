package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Visible text of an html document (BINARY or STRING) as one native
  * codegen'd expression: script/style blocks, comments and tags become a
  * space, the five standard entities are unescaped, whitespace runs
  * collapse to one space, and the result is trimmed. See [[HtmlScan.text]].
  */
case class HtmlTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = HtmlScan.checkHtml(child, "html_text")

  override def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => HtmlTextExpr.compute(b)
    case s: UTF8String => HtmlTextExpr.compute(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HtmlTextExpr.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): HtmlTextExpr =
    copy(child = newChild)
}

object HtmlTextExpr {
  /** Shared by interpreted eval and generated code. */
  def compute(html: Array[Byte]): UTF8String =
    UTF8String.fromString(HtmlScan.text(HtmlScan.decode(html)))

  def compute(html: UTF8String): UTF8String =
    UTF8String.fromString(HtmlScan.text(html.toString))

  def text(html: Column): Column =
    GraftSqlShim.column(HtmlTextExpr(GraftSqlShim.expression(html)))
}

/** The quoted `href` values of an html document's `<a>` tags, unquoted, in
  * document order, as one native codegen'd expression returning
  * `ARRAY<STRING>`. See [[HtmlScan.hrefs]].
  */
case class HrefsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = HtmlScan.checkHtml(child, "hrefs")

  override def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => HrefsExpr.compute(b)
    case s: UTF8String => HrefsExpr.compute(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HrefsExpr.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): HrefsExpr =
    copy(child = newChild)
}

object HrefsExpr {
  /** Shared by interpreted eval and generated code. */
  def compute(html: Array[Byte]): ArrayData = toArray(HtmlScan.hrefs(HtmlScan.decode(html)))

  def compute(html: UTF8String): ArrayData = toArray(HtmlScan.hrefs(html.toString))

  private def toArray(values: java.util.ArrayList[String]): ArrayData = {
    val out = new Array[Any](values.size)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromString(values.get(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  def hrefs(html: Column): Column =
    GraftSqlShim.column(HrefsExpr(GraftSqlShim.expression(html)))
}

/** The html scans behind [[HtmlTextExpr]] and [[HrefsExpr]]: hand loops
  * over the decoded document, each a transcription of a `java.util.regex`
  * pass of the SQL formulation they replace (kept in LinkExtractSpec as the
  * differential oracle), with the JDK 17 matcher's semantics:
  *
  *  - leftmost match, lazy quantifiers take the shortest continuation, and
  *    scanning resumes after each match;
  *  - `(?i)` folds ASCII letters only (no UNICODE_CASE), the `\1`
  *    back-reference included;
  *  - `\s` is `[ \t\n\x0B\f\r]`;
  *  - `\b` is `Pattern.Bound`: a word char is `Character.isLetterOrDigit`
  *    or `_`, and a NON_SPACING_MARK counts as a word char when a letter or
  *    digit precedes its run of marks ([[isBoundary]]).
  *
  * The document is decoded once with `new String(bytes, UTF_8)` — what
  * `UTF8String.toString` does — so malformed bytes become U+FFFD exactly as
  * they did when each regex pass decoded its input.
  */
object HtmlScan {

  private[functions] def checkHtml(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case BinaryType | _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$name requires BINARY or STRING, got $other")
    }

  private[functions] def decode(bytes: Array[Byte]): String =
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)

  /** `\s` without UNICODE_CHARACTER_CLASS: space and `\t \n \x0B \f \r`. */
  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** `Pattern.Bound.check` at `i` of the whole input (region 0..length). */
  private def isBoundary(s: String, i: Int): Boolean = {
    val left = i > 0 && {
      val cp = Character.codePointBefore(s, i)
      isWord(cp) ||
        (Character.getType(cp) == Character.NON_SPACING_MARK && hasBaseCharacter(s, i - 1))
    }
    val right = i < s.length && {
      val cp = Character.codePointAt(s, i)
      isWord(cp) ||
        (Character.getType(cp) == Character.NON_SPACING_MARK && hasBaseCharacter(s, i))
    }
    left != right
  }

  private def isWord(cp: Int): Boolean = cp == '_' || Character.isLetterOrDigit(cp)

  /** `Pattern.hasBaseCharacter`: walking back char by char from `i` over
    * non-spacing marks, is the first other code point a letter or digit?
    */
  private def hasBaseCharacter(s: String, i: Int): Boolean = {
    var x = i
    while (x >= 0) {
      val cp = Character.codePointAt(s, x)
      if (Character.isLetterOrDigit(cp)) return true
      if (Character.getType(cp) != Character.NON_SPACING_MARK) return false
      x -= 1
    }
    false
  }

  /** `s[i, i + lower.length)` equals the ASCII-lowercase letters `lower`
    * under ASCII case folding.
    */
  private def lettersAt(s: String, i: Int, lower: String): Boolean = {
    if (i < 0 || i + lower.length > s.length) return false
    var j = 0
    while (j < lower.length) {
      if ((s.charAt(i + j) | 0x20) != lower.charAt(j)) return false
      j += 1
    }
    true
  }

  // ---- text -------------------------------------------------------------

  /** The text passes, in order:
    *  1. `(?is)<(script|style)\b.*?</\1\s*>` → " "
    *  2. `(?s)<!--.*?-->` → " "
    *  3. `(?s)<[^>]*>` → " "
    *  4. `&lt;` `&gt;` `&quot;` `&#39;` then `&amp;` → `< > " ' &`
    *  5. `\s+` → " "
    *  6. trim leading and trailing spaces
    *
    * Passes 3-6 run as one loop: tag matches and entities cannot overlap
    * (an entity holds no `<` or `>`), no replacement creates an entity or
    * a tag, and the whitespace runs are collapsed as they are emitted.
    * Passes 1 and 2 stay separate: fused, a comment would hide a closing
    * tag from pass 1, and a tag would hide a comment opener from pass 2.
    */
  def text(html: String): String = tagsEntitiesSpaces(removeComments(removeBlocks(html)))

  /** Pass 1. After a failed search for `</name\s*>` from `p`, every later
    * search for the same name fails too, so each name is searched for at
    * most once past its last hit.
    */
  private def removeBlocks(s: String): String = {
    var out: java.lang.StringBuilder = null
    var copied = 0
    var scriptMiss = Int.MaxValue
    var styleMiss = Int.MaxValue
    var i = s.indexOf('<')
    while (i >= 0) {
      var end = -1
      val name =
        if (lettersAt(s, i + 1, "script")) "script"
        else if (lettersAt(s, i + 1, "style")) "style"
        else null
      if (name != null) {
        val p = i + 1 + name.length
        val script = name == "script"
        if (p < (if (script) scriptMiss else styleMiss) && isBoundary(s, p)) {
          end = closeTag(s, p, name)
          if (end < 0) { if (script) scriptMiss = p else styleMiss = p }
        }
      }
      if (end >= 0) {
        if (out == null) out = new java.lang.StringBuilder(s.length)
        out.append(s, copied, i).append(' ')
        copied = end
        i = s.indexOf('<', end)
      } else {
        i = s.indexOf('<', i + 1)
      }
    }
    if (out == null) s else out.append(s, copied, s.length).toString
  }

  /** End of the first `</name\s*>` at or after `from`, or -1. */
  private def closeTag(s: String, from: Int, name: String): Int = {
    var k = s.indexOf("</", from)
    while (k >= 0) {
      if (lettersAt(s, k + 2, name)) {
        var q = k + 2 + name.length
        while (q < s.length && isSpace(s.charAt(q))) q += 1
        if (q < s.length && s.charAt(q) == '>') return q + 1
      }
      k = s.indexOf("</", k + 1)
    }
    -1
  }

  /** Pass 2. An opener with no `-->` after it ends the pass: no later
    * opener has one either.
    */
  private def removeComments(s: String): String = {
    var i = s.indexOf("<!--")
    if (i < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var copied = 0
    while (i >= 0) {
      val close = s.indexOf("-->", i + 4)
      if (close < 0) i = -1
      else {
        out.append(s, copied, i).append(' ')
        copied = close + 3
        i = s.indexOf("<!--", copied)
      }
    }
    out.append(s, copied, s.length).toString
  }

  /** Passes 3-6. A pending separator is written only before the next
    * visible char, and never first, which is the collapse plus the trim.
    */
  private def tagsEntitiesSpaces(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var gap = false
    var tags = true // false once no '>' follows: no later '<' opens a tag
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      var emit = c
      var next = i + 1
      if (c == '<' && tags) {
        val close = s.indexOf('>', next)
        if (close >= 0) {
          gap = true
          emit = ' '
          next = close + 1
        } else tags = false
      } else if (c == '&') {
        if (s.startsWith("&lt;", i)) { emit = '<'; next = i + 4 }
        else if (s.startsWith("&gt;", i)) { emit = '>'; next = i + 4 }
        else if (s.startsWith("&quot;", i)) { emit = '"'; next = i + 6 }
        else if (s.startsWith("&#39;", i)) { emit = '\''; next = i + 5 }
        else if (s.startsWith("&amp;", i)) next = i + 5
      } else if (isSpace(c)) {
        gap = true
        emit = ' '
      }
      if (emit != ' ') {
        if (gap) {
          if (out.length > 0) out.append(' ')
          gap = false
        }
        out.append(emit)
      }
      i = next
    }
    out.toString
  }

  // ---- hrefs ------------------------------------------------------------

  /** Every match of `(?i)<a\b[^>]*?\bhref\s*=\s*("([^"]*)"|'([^']*)')`, as
    * the content of group 2 or 3. A match may start inside another
    * attribute's quoted value (`<a title="x href='y'">` yields `y`), and a
    * quoted value may hold `>`.
    *
    * The lazy `[^>]*?` tries each position from just after `<a` up to the
    * first `>`. When no position there matches, no `<a` before that `>`
    * matches either (its positions are a subset), so the scan resumes at
    * the `>`.
    */
  def hrefs(s: String): java.util.ArrayList[String] = {
    val n = s.length
    val out = new java.util.ArrayList[String]()
    var doubleMiss = Int.MaxValue // no '"' at or after this index
    var singleMiss = Int.MaxValue // no '\'' at or after this index
    var i = s.indexOf('<')
    while (i >= 0 && i + 1 < n) {
      var resume = i + 1
      if ((s.charAt(i + 1) | 0x20) == 'a' && isBoundary(s, i + 2)) {
        var k = i + 2
        var searching = true
        while (searching) {
          // \bhref\s*=\s* then a quote at k
          var valueEnd = -1
          var p = k + 4
          if (lettersAt(s, k, "href") && isBoundary(s, k)) {
            while (p < n && isSpace(s.charAt(p))) p += 1
            if (p < n && s.charAt(p) == '=') {
              p += 1
              while (p < n && isSpace(s.charAt(p))) p += 1
              if (p < n) {
                val q = s.charAt(p)
                if (q == '"') {
                  if (p + 1 < doubleMiss) {
                    valueEnd = s.indexOf('"', p + 1)
                    if (valueEnd < 0) doubleMiss = p + 1
                  }
                } else if (q == '\'') {
                  if (p + 1 < singleMiss) {
                    valueEnd = s.indexOf('\'', p + 1)
                    if (valueEnd < 0) singleMiss = p + 1
                  }
                }
              }
            }
          }
          if (valueEnd >= 0) {
            out.add(s.substring(p + 1, valueEnd))
            resume = valueEnd + 1
            searching = false
          } else if (k >= n || s.charAt(k) == '>') {
            resume = k
            searching = false
          } else {
            k += Character.charCount(s.codePointAt(k))
          }
        }
      }
      i = s.indexOf('<', resume)
    }
    out
  }
}
