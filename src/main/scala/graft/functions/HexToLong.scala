package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Loop kernel for [[HexToLong]]: parse ≤ 15 hex chars to a long. */
object HexToLongImpl {
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n > 15) throw new IllegalArgumentException(
      s"hex_to_long accepts at most 15 hex chars (60 bits), got $n: $s")
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val d =
        if (b >= '0' && b <= '9') b - '0'
        else if (b >= 'a' && b <= 'f') b - 'a' + 10
        else if (b >= 'A' && b <= 'F') b - 'A' + 10
        else throw new IllegalArgumentException(
          s"hex_to_long: invalid hex char '${b.toChar}' in $s")
      acc = (acc << 4) | d
      i += 1
    }
    acc
  }
}

/** Native codegen hex→long parse — the hot inner step of every
  * md5-lane-portable operator (MinHash/SimHash/HLL/CMS/sampling/multimodal
  * lanes all compute `parse_hex(substring(md5(x), a, b))`).
  *
  * Built-in `conv(s, 16, 10)` computes the same value but routes every row
  * through arbitrary-base string conversion and returns a STRING that then
  * needs a cast — measured ~8× the cost of the md5 itself at sf0.1
  * (0.24 s md5 vs 2.0 s conv per 600k rows, measured once). This is one
  * shift-or loop over the UTF8String bytes inside whole-stage codegen.
  * Capped at 15 chars (60 bits) so the result is always a non-negative
  * long — identical to `('0x' || s)::BIGINT` in DuckDB for those widths.
  */
case class HexToLong(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hex_to_long requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    HexToLongImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexToLongImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): HexToLong =
    copy(child = newChild)
}
