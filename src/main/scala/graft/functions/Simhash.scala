package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row 60-bit SimHash (Manku/Jain/Sarma, WWW'07) of a text:
  * ONE loop over its UTF-8 bytes, per row, with no explode and no
  * aggregate — a signature is a per-document value, so computing it needs
  * neither a shuffle nor a group-by.
  *
  * Value contract (the DuckDB twin `Dedup.simhashSigsSql` computes the
  * same integer from the same rule):
  *  - tokens are exactly `split(text, ' ')`: every single space ends a
  *    token, so leading, trailing and doubled spaces yield empty tokens,
  *    and `""` is one empty token;
  *  - each token hashes to `hash60(token)` ([[Hash60Util]]'s slice hash
  *    over the token's bytes — 0x20 never occurs inside a multi-byte UTF-8
  *    sequence, so a byte split is the character split);
  *  - bit j is set iff MORE than half of the tokens, counted with
  *    repetition, have bit j set (the sign of the ±1 bit sum; a tie is 0).
  *
  * Null text is null. SimhashSpec pins the values against the
  * explode → hash → 60-sum aggregate formulation this replaced.
  */
case class Simhash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SimhashUtil.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashUtil.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash =
    copy(child = newChild)
}

object Simhash {

  /** Column builder: the 60-bit SimHash of a string column. No SQL name is
    * registered; nothing spells it in SQL text.
    */
  def simhashCol(text: Column): Column =
    ColumnShim.column(Simhash(ColumnShim.expression(text)))
}

object SimhashUtil {

  val Bits = 60

  def simhash(text: UTF8String): Long = {
    val bytes = text.getBytes
    val ones = new Array[Int](Bits)
    var tokens = 0
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        val h = Hash60Util.hash(bytes, start, i - start)
        var j = 0
        while (j < Bits) {
          ones(j) += ((h >>> j) & 1L).toInt
          j += 1
        }
        tokens += 1
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < Bits) {
      if (2 * ones(j) > tokens) sig |= 1L << j
      j += 1
    }
    sig
  }
}
