package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One edge-table TSV line `src \t dst [\t label]` parsed in one native
  * pass over its bytes: an array holding the line's
  * `struct(src, dst, label?)`, or empty when the line is skipped. Meant for
  * `inline(...)`, so each line is parsed once; a Filter over a Project of
  * the fields would re-evaluate them, because filter pushdown inlines the
  * aliases. The rules are [[graft.io.EdgeTsv]]'s; see [[TsvEdgeExpr.compute]].
  * `numNodes` < 0 disables the range check.
  */
case class TsvEdgeExpr(child: Expression, numNodes: Long) extends UnaryExpression {
  override def dataType: DataType = TsvEdgeExpr.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"tsv_edge requires STRING, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TsvEdgeExpr.compute(input.asInstanceOf[UTF8String], numNodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TsvEdgeExpr.compute($c, ${numNodes}L);")

  override protected def withNewChildInternal(newChild: Expression): TsvEdgeExpr =
    copy(child = newChild)
}

object TsvEdgeExpr {
  val schema: ArrayType = ArrayType(StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("label", LongType, nullable = true))), containsNull = false)

  private val U32Max = 0xffffffffL
  private val Invalid = Long.MinValue
  private val Skipped: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Fields are split at tab bytes. src and dst must be integers in
    * [0, u32::MAX] (and < `numNodes` when that is ≥ 0), else the line is
    * skipped; a third field that is an integer in [0, u32::MAX] is the
    * label, anything else leaves it null. Integers are 1-18 ASCII digits
    * (the label may carry a '-'), optionally followed by one `\n`, `\r` or
    * `\r\n`: the `^-?[0-9]{1,18}$` gate and string→long cast of the former
    * column formulation, with its ANSI-off null for any other trailing
    * line terminator.
    */
  def compute(line: UTF8String, numNodes: Long): ArrayData = {
    val n = line.numBytes
    val t1 = tab(line, 0, n)
    if (t1 < 0) return Skipped
    val t2 = tab(line, t1 + 1, n)
    val src = integer(line, 0, t1, signed = false)
    val dst = integer(line, t1 + 1, if (t2 < 0) n else t2, signed = false)
    if (src == Invalid || dst == Invalid || src > U32Max || dst > U32Max ||
        (numNodes >= 0 && (src >= numNodes || dst >= numNodes))) return Skipped
    val label =
      if (t2 < 0) Invalid
      else {
        val t3 = tab(line, t2 + 1, n)
        integer(line, t2 + 1, if (t3 < 0) n else t3, signed = true)
      }
    val row = new GenericInternalRow(3)
    row.setLong(0, src)
    row.setLong(1, dst)
    if (label >= 0 && label <= U32Max) row.setLong(2, label) else row.setNullAt(2)
    new GenericArrayData(Array[Any](row))
  }

  private def tab(line: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n && line.getByte(i) != '\t') i += 1
    if (i < n) i else -1
  }

  /** The integer in bytes [start, end), or [[Invalid]]. */
  private def integer(line: UTF8String, start: Int, end0: Int, signed: Boolean): Long = {
    var end = end0
    if (end - start >= 2 && line.getByte(end - 2) == '\r' && line.getByte(end - 1) == '\n') end -= 2
    else if (end > start && (line.getByte(end - 1) == '\n' || line.getByte(end - 1) == '\r')) end -= 1
    var p = start
    val negative = signed && p < end && line.getByte(p) == '-'
    if (negative) p += 1
    if (end - p < 1 || end - p > 18) return Invalid
    var v = 0L
    while (p < end) {
      val d = line.getByte(p) - '0'
      if (d < 0 || d > 9) return Invalid
      v = v * 10 + d
      p += 1
    }
    if (negative) -v else v
  }

  def edges(line: Column, numNodes: Long): Column =
    GraftSqlShim.column(TsvEdgeExpr(GraftSqlShim.expression(line), numNodes))
}
