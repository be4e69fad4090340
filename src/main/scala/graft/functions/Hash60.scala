package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit md5 hash: the value of
  * `conv(substring(md5(s), 1, 15), 16, 10)` computed straight from the
  * digest bytes — first 8 bytes big-endian, shifted right 4 bits (= the
  * first 15 hex digits) — skipping the 32-char hex string, the substring,
  * and the base-16 parse the built-in chain allocates PER CALL. This is the
  * hot function of the dedup/fingerprint family (one call per shingle ≈
  * per character of corpus text), so the string overhead is material.
  *
  * The DuckDB oracle twin (TextHash.hash60Sql) is unchanged — both compute
  * the identical integer, which Hash60Spec pins against the built-in chain.
  */
case class Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_hash60"

  override protected def nullSafeEval(input: Any): Any =
    Hash60Util.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60Util.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

object Hash60Util {
  // One digest and one 16-byte output buffer per thread, reused by every
  // call: a slice hash allocates nothing.
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** hash60 of the `len` bytes of `bytes` starting at `from`: the value
    * [[hash]] gives for a string whose UTF-8 bytes are exactly that slice.
    */
  def hash(bytes: Array[Byte], from: Int, len: Int): Long = {
    val s = scratch.get()
    s.md.reset()
    s.md.update(bytes, from, len)
    s.md.digest(s.out, 0, 16)
    val h = s.out
    val be =
      ((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) |
        ((h(2) & 0xffL) << 40) | ((h(3) & 0xffL) << 32) |
        ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
        ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
    be >>> 4
  }

  def hash(s: UTF8String): Long = {
    val b = s.getBytes
    hash(b, 0, b.length)
  }

  def hash(s: String): Long = hash(UTF8String.fromString(s))
}
