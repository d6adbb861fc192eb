package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A document's word-`shingleN`-gram SET as sorted, distinct 60-bit
  * hashes — the exact-Jaccard operator's per-document column, as a native
  * codegen'd Catalyst expression (the [[MinHashExpr]] treatment applied to
  * shingle sets).
  *
  * Semantics are bit-for-bit the declarative formulation
  * `sort_array(transform(TextOps.wordShingles(t, n), s =>
  * ColumnOps.stable64(s)))`: whitespace tokens (Spark's `split(t, "\\s+")`
  * with empties removed), shingles joined with a single space, each hashed
  * as the first 15 hex digits of the md5 of its UTF-8 bytes, ascending.
  * An empty array for a document with fewer than `shingleN` tokens; NULL
  * for NULL text. Distinctness is decided on the hashes, which equals the
  * formulation's string-level `array_distinct` unless two different
  * shingles of ONE document collide in 60 bits (~m²/2⁶¹ for m shingles).
  *
  * Why: the HOF chain runs interpreted lambdas and allocates the token
  * array, every shingle string and the distinct set per document, and
  * Catalyst duplicates it into any predicate pushed below its projection
  * (`size(shingles) > 0`, inferred from an explode). Here the md5 is fed
  * the tokens' UTF-8 bytes and the separator directly — no shingle string
  * at all — and the set is one primitive sort.
  */
case class ShingleSetExpr(child: Expression, shingleN: Int)
    extends UnaryExpression {

  require(shingleN > 0)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_set requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      ShingleSet.compute(input.asInstanceOf[UTF8String], shingleN))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.functions.ShingleSet.compute($c, $shingleN))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSet {

  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Sorted distinct stable64 hashes of `s`'s word `shingleN`-grams. */
  def compute(s: UTF8String, shingleN: Int): Array[Long] = {
    // Tokenize the UTF-8 bytes of the DECODED text (invalid input decodes
    // to U+FFFD, as Spark's split sees it). `\s` without the UNICODE flag
    // is exactly the six ASCII bytes below, and ASCII bytes never occur
    // inside a multi-byte sequence, so the byte ranges between them are
    // the regex split's non-empty tokens, already encoded: a shingle's
    // UTF-8 is its tokens' bytes joined with one 0x20.
    val b = s.toString.getBytes(StandardCharsets.UTF_8)
    val from = new Array[Int](b.length / 2 + 1)
    val to = new Array[Int](b.length / 2 + 1)
    var m = 0
    var i = 0
    while (i < b.length) {
      while (i < b.length && isSpace(b(i))) i += 1
      if (i < b.length) {
        from(m) = i
        while (i < b.length && !isSpace(b(i))) i += 1
        to(m) = i
        m += 1
      }
    }
    if (m < shingleN) return Array.emptyLongArray
    val md = Md5.get()
    md.reset()
    val d = new Array[Byte](16)
    val buf = new Array[Byte](b.length)
    val out = new Array[Long](m - shingleN + 1)
    var p = 0
    while (p < out.length) {
      var len = 0
      var k = 0
      while (k < shingleN) {
        if (k > 0) { buf(len) = ' '.toByte; len += 1 }
        val t = p + k
        System.arraycopy(b, from(t), buf, len, to(t) - from(t))
        len += to(t) - from(t)
        k += 1
      }
      md.update(buf, 0, len)
      md.digest(d, 0, 16)
      var v = 0L
      k = 0
      while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      out(p) = (v << 4) | ((d(7) >> 4) & 0xfL)
      p += 1
    }
    java.util.Arrays.sort(out)
    var n = 1
    p = 1
    while (p < out.length) {
      if (out(p) != out(n - 1)) { out(n) = out(p); n += 1 }
      p += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Java regex `\s`: space, \t, \n, \x0B, \f, \r. */
  private def isSpace(c: Byte): Boolean = c == ' ' || (c >= 0x09 && c <= 0x0d)

  /** Column wrapper: NULL for NULL text, empty for fewer than `shingleN`
    * tokens. */
  def hashes(text: Column, shingleN: Int): Column =
    Bridge.toColumn(ShingleSetExpr(Bridge.toExpr(text), shingleN))
}
