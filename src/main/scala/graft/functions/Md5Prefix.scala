package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** First 48 bits of md5 as a BIGINT, computed straight from the digest
  * bytes — the reconciliation checksum's per-row kernel.
  *
  * Bit-for-bit equal to `conv(substring(md5(s), 1, 12), 16, 10)` cast to
  * long (12 hex chars = the first 6 digest bytes, read big-endian, range
  * [0, 2^48)), but with none of that formulation's per-row garbage: the
  * built-in chain allocates the 32-char hex string, a 12-char substring,
  * and runs `conv`'s generic string base-conversion loop — three string
  * allocations and a parse for what is 6 bytes of arithmetic. This
  * expression digests the UTF8String's bytes directly (md5 of a Spark
  * string IS the md5 of its UTF-8 bytes — no String round-trip either)
  * and assembles the long in one pass inside WholeStageCodegen.
  *
  * At reconciliation scale the checksum sweep is a pure scan: the per-row
  * kernel is the whole cost, so the allocation-free path is the
  * difference between hashing at scan speed and hashing at string-GC
  * speed. The DuckDB oracle keeps the portable hex/substring formulation
  * — that cross-engine agreement is exactly what the gate certifies.
  */
case class Md5Prefix48Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_prefix48 requires a string column, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix48"

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(Md5Prefix.prefix48(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix.prefix48($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** First 60 bits of md5 as a BIGINT — the [[ColumnOps.stable64]] kernel.
  *
  * Bit-for-bit `conv(substring(md5(s), 1, 15), 16, 10)` cast to long
  * (15 hex chars = 7 full digest bytes + the high nibble of byte 7, read
  * big-endian, range [0, 2^60)) — the same byte assembly
  * [[SimHash31.h31]] uses internally, exposed as a standalone expression
  * so every per-posting hash in the dedup/text family (fingerprints,
  * token ids) runs
  * allocation-free inside WholeStageCodegen instead of allocating a hex
  * string, a substring, and a base-conversion parse per exploded row.
  */
case class Md5Prefix60Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_prefix60 requires a string column, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(Md5Prefix.prefix60(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix.prefix60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix {

  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 6 md5 bytes of the string's UTF-8 encoding, big-endian. */
  def prefix48(s: UTF8String): Long = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** First 15 md5 hex digits (60 bits) of the string's UTF-8 encoding. */
  def prefix60(s: UTF8String): Long = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** Column wrapper. */
  def prefix48(c: Column): Column =
    Bridge.toColumn(Md5Prefix48Expr(Bridge.toExpr(c)))

  /** Column wrapper. */
  def prefix60(c: Column): Column =
    Bridge.toColumn(Md5Prefix60Expr(Bridge.toExpr(c)))
}
