package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document token statistics of one document's words (in order):
  * (n_tokens, n_unk, head_toks) — the token count, the count of `?`
  * tokens, and the first 8 tokens space-joined — each word segmented by
  * [[graft.ops.Tokenizer.tokenizeWord]] against `vocab`. A null array (a
  * null text, or a row the caller masks) gives (0, 0, ""), never null.
  * It has no generated code of its own (`CodegenFallback`): the plan it
  * is in already measured faster than the driver-local tier it replaced
  * (see [[graft.ops.Tokenizer.tokenStats]]).
  */
case class TokenStats(child: Expression, vocab: Seq[String])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_stats requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = TokenStats.schema

  override def nullable: Boolean = false

  @transient private lazy val vs = vocab.toSet
  @transient private lazy val maxLen = vocab.map(_.length).max

  override def eval(input: InternalRow): Any = {
    val words = child.eval(input).asInstanceOf[ArrayData]
    var nTok = 0L
    var nUnk = 0L
    val head = new java.util.StringJoiner(" ")
    var nHead = 0
    var i = 0
    while (words != null && i < words.numElements()) {
      if (!words.isNullAt(i)) {
        val toks = graft.ops.Tokenizer.tokenizeWord(words.getUTF8String(i).toString, vs, maxLen)
        nTok += toks.size
        toks.foreach { t =>
          if (t == "?") nUnk += 1
          if (nHead < 8) { head.add(t); nHead += 1 }
        }
      }
      i += 1
    }
    InternalRow(nTok, nUnk, UTF8String.fromString(head.toString))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {
  private val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false),
    StructField("head_toks", StringType, nullable = false)))

  /** Column API: `words` an array<string> column. */
  def token_stats(words: Column, vocab: Seq[String]): Column =
    shims.columnOf(TokenStats(shims.expressionOf(words), vocab))
}
