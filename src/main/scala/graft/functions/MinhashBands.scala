package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row MinHash LSH band hashes: `graft_minhash_bands(text)`
  * returns the [[graft.operators.TextDedup.Bands]] banded-signature hashes
  * of the document in ONE compiled pass over its character shingles — the
  * stateless signature stage of every near-dup operator
  * ([[graft.operators.TextDedup.minhashBands]]: d2, d12, d13, d14 and the
  * st9/st9b streams).
  *
  * Why native: the same computation as a higher-order-function fold
  * (`aggregate(transform(sequence...)) )` allocates a 16-field struct per
  * SHINGLE in interpreted lambdas — measured 7.1 s for the sf0.1 replay vs
  * ~2 s with this expression, which keeps the per-shingle work a primitive
  * long loop sharing [[Hash60Util]]'s digest. Against the shingle explode +
  * `doc_id` shuffle + 16-min aggregate formulation it emits no per-shingle
  * rows and needs no shuffle; StreamingNearDupSpec and OperatorApiSpec keep
  * that formulation as a test-only reference and pin the two bit-identical.
  *
  * Value contract (shared with the DuckDB oracle via the same constants):
  * shingle hashes `hash60(substring(text, i, K)) % P` for i in
  * 1..max(len-K+1, 1); signature j = min over shingles of
  * `(A_j*h + B_j) % P`; band b = hash60 of the band's 4 signatures as
  * comma-joined decimal strings — exactly `concat_ws(',', casts)`.
  */
case class MinhashBands(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinhashBandsUtil.bands(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.MinhashBandsUtil.bands($c))")

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object MinhashBands {

  /** Column builder: the band-hash array of a string column (SQL text
    * spells it `graft_minhash_bands`, via graft.GraftExtensions).
    */
  def bandsCol(text: Column): Column =
    ColumnShim.column(MinhashBands(ColumnShim.expression(text)))
}

object MinhashBandsUtil {
  import graft.operators.TextDedup.{Bands, NumPerms, ShingleK}

  private val A = TextHash.MinhashA.toArray
  private val B = TextHash.MinhashB.toArray
  private val P = TextHash.P
  private val RowsPerBand = NumPerms / Bands

  def bands(text: UTF8String): Array[Long] = {
    // One byte copy + one char->byte offset table per DOCUMENT, then every
    // shingle hashes a raw byte slice — zero per-shingle allocations
    // (substringSQL + UTF8String.getBytes would copy twice per shingle;
    // the digest writes into a reused 16-byte buffer). The hashed bytes
    // are exactly substring(text, i, K)'s UTF-8 bytes, so values match
    // hash60(substring(...)) bit-for-bit (spec-pinned vs the explode +
    // aggregate reference).
    val bytes = text.getBytes
    val nChars = text.numChars()
    val offs = new Array[Int](nChars + 1)
    var k = 0
    var bo = 0
    while (k < nChars) {
      offs(k) = bo
      bo += UTF8String.numBytesForFirstByte(bytes(bo))
      k += 1
    }
    offs(nChars) = bytes.length
    val last = math.max(nChars - (ShingleK - 1), 1)
    val sigs = Array.fill(NumPerms)(P)
    var i = 0 // 0-based shingle start; chars [i, i+K) end-clamped
    while (i < last) {
      val from = offs(i)
      val until = offs(math.min(i + ShingleK, nChars))
      val h = Hash60Util.hash(bytes, from, until - from) % P
      var j = 0
      while (j < NumPerms) {
        val v = (A(j) * h + B(j)) % P
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](Bands)
    val sb = new java.lang.StringBuilder(80)
    var b = 0
    while (b < Bands) {
      sb.setLength(0)
      var r = 0
      while (r < RowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(sigs(RowsPerBand * b + r))
        r += 1
      }
      out(b) = Hash60Util.hash(sb.toString)
      b += 1
    }
    out
  }
}
