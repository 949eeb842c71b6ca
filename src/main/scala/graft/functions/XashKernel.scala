package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-friendly entry points for the hash kernels.
  *
  * A Scala UDF costs catalyst→Scala row conversion per call and blocks
  * expression-level optimizations; `StaticInvoke` of a static method
  * compiles to a direct call inside whole-stage codegen. These are the
  * forms the index-build hot path uses; the Scala functions they wrap
  * (`Xash.xash128`, `Xash.superKey`, ...) stay as the specs' reference.
  */
object XashKernel {

  /** 128-bit XASH as [hi, lo]. */
  def xash(token: UTF8String): ArrayData = {
    val (hi, lo) = Xash.xash128(if (token == null) null else token.toString)
    new GenericArrayData(Array(hi, lo))
  }

  /** Row super key (OR of member XASH) as [hi, lo]. */
  def superKey(tokens: ArrayData): ArrayData = {
    var hi = 0L; var lo = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val (h, l) = Xash.xash128(if (t == null) "" else t.toString)
      hi |= h; lo |= l
      i += 1
    }
    new GenericArrayData(Array(hi, lo))
  }

  /** Bloom-filter row hash (BloomHash semantics) as [hi, lo]. */
  def bloomRowHash(tokens: ArrayData): ArrayData = {
    var hi = 0L; var lo = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val (h, l) = BloomHash.add(hi, lo, if (t == null) "" else t.toString)
      hi = h; lo = l
      i += 1
    }
    new GenericArrayData(Array(hi, lo))
  }

  /** Row super key at any reference hash size (64/128/256/512) as
    * hashSize/64 little-endian words — the storable form for the
    * non-default XASH widths ([[Xash.SegmentSizes]]).
    */
  def superKeyWords(tokens: ArrayData, hashSize: Int): ArrayData = {
    val acc = new Array[Long](hashSize / 64)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val w = Xash.xashWords(if (t == null) "" else t.toString, hashSize)
      var j = 0
      while (j < acc.length) { acc(j) |= w(j); j += 1 }
      i += 1
    }
    new GenericArrayData(acc)
  }

  /** Single-token XASH words at any hash size. */
  def xashWords(token: UTF8String, hashSize: Int): ArrayData =
    new GenericArrayData(
      Xash.xashWords(if (token == null) null else token.toString, hashSize))

  /** Word-wise containment: every query bit present in the row key —
    * the any-width form of the (hi, lo) prefilter.
    */
  def containsWords(row: ArrayData, q: ArrayData): Boolean = {
    var i = 0
    val n = q.numElements()
    while (i < n) {
      if ((q.getLong(i) & ~row.getLong(i)) != 0L) return false
      i += 1
    }
    true
  }

  /** Reference tokenizer as a static kernel. */
  def cleanText(s: UTF8String): UTF8String =
    if (s == null) null
    else UTF8String.fromString(TextFunctions.cleanedTextLocal(s.toString))

  /** 64-bit SimHash as a static kernel. */
  def simhash(s: UTF8String): Long =
    SimHash.simhash64(if (s == null) null else s.toString)

  // ---- Column wrappers --------------------------------------------------

  private def exprOf(c: Column) = GraftColumnBridge.expression(c)

  /** super key of an array<string> of tokens → array<long> [hi, lo]. */
  def superKeyCol(c: Column): Column = GraftColumnBridge.column(StaticInvoke(
    XashKernel.getClass, ArrayType(LongType, containsNull = false), "superKey",
    Seq(exprOf(c)), returnNullable = false))

  /** bloom row hash of an array<string> → array<long> [hi, lo]. */
  def bloomRowHashCol(c: Column): Column = GraftColumnBridge.column(StaticInvoke(
    XashKernel.getClass, ArrayType(LongType, containsNull = false), "bloomRowHash",
    Seq(exprOf(c)), returnNullable = false))

  /** any-width row super key of an array<string> → array<long> words. */
  def superKeyWordsCol(c: Column, hashSize: Int): Column = GraftColumnBridge.column(StaticInvoke(
    XashKernel.getClass, ArrayType(LongType, containsNull = false), "superKeyWords",
    Seq(exprOf(c), org.apache.spark.sql.catalyst.expressions.Literal(hashSize)),
    returnNullable = false))

  /** word-wise containment prefilter, codegen'd. */
  def containsWordsCol(row: Column, q: Column): Column = GraftColumnBridge.column(StaticInvoke(
    XashKernel.getClass, org.apache.spark.sql.types.BooleanType, "containsWords",
    Seq(exprOf(row), exprOf(q)), returnNullable = false))

  /** cleaned_text(s), codegen'd. */
  def cleanTextCol(c: Column): Column = GraftColumnBridge.column(StaticInvoke(
    XashKernel.getClass, StringType, "cleanText",
    Seq(exprOf(c))))

  /** simhash64(s), codegen'd. */
  def simhashCol(c: Column): Column = GraftColumnBridge.column(StaticInvoke(
    XashKernel.getClass, LongType, "simhash",
    Seq(exprOf(c)), returnNullable = false))
}
