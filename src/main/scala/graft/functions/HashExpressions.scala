package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The numeric value of the first `nibbles` hex characters of
  * md5(s) as ONE generated expression — bit-identical to the
  * composite spelling `conv(substring(md5(s), 1, nibbles), 16, 10)
  * .cast("long")` (Portable.hash32/hash60), but computed straight
  * from the digest bytes: taking the first 15 hex characters of the
  * hex encoding equals the big-endian u64 of the first 8 digest
  * bytes shifted right by 4 (the identity GramSetSharedCount's
  * membership probe already relies on, property-pinned there and in
  * PropertySpec).
  *
  * What the composite spelling pays per call that this node does
  * not: materializing the 32-char hex string (md5 returns hex, not
  * bytes), a substring allocation, conv's base-16 parse into a
  * BASE-10 STRING, and the final cast's string→long parse — four
  * string round-trips wrapping one 16-byte digest. hash60 runs once
  * per shingle/gram occurrence across the dedup/text families, so
  * the wrappers dominate the hash itself on every corpus scan.
  */
case class Md5PrefixLong(child: Expression, nibbles: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nibbles >= 1 && nibbles <= 16, s"nibbles out of range: $nibbles")

  // a non-string child fails analysis (DATATYPE_MISMATCH), not eval;
  // the type is inferred because AbstractDataType is private[sql]
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    Md5PrefixLong.prefix(v.asInstanceOf[UTF8String], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      // digest loop stays in one static helper (JIT-inlined, one call
      // per row) so the node keeps the whole-stage codegen span intact
      s"${ev.value} = graft.functions.Md5PrefixLong.prefix($v, $nibbles);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixLong {
  private val mdPool =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Value of the first `nibbles` hex chars of md5(s): read
    * ceil(nibbles/2) digest bytes big-endian, drop the low nibble
    * when `nibbles` is odd. Shared by both evaluation paths. */
  def prefix(s: UTF8String, nibbles: Int): Long = {
    val md = mdPool.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val bytes = (nibbles + 1) / 2
    var h = 0L
    var k = 0
    while (k < bytes) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    if ((nibbles & 1) == 1) h >>> 4 else h
  }
}

/** Consecutive space-joined n-gram shingles of a token array as ONE
  * generated pass — the fused twin of Portable.shingles' zip_with
  * fold. Bit-identical output (property-pinned): element i is
  * `tokens[i] ⧺ " " ⧺ … ⧺ tokens[i+n-1]`, a null anywhere in the
  * window nulls that element (concat semantics), fewer than n tokens
  * yields the empty array, a null input yields null.
  *
  * Why: `zip_with` has no codegen (ArrayZipWith is an interpreted
  * HOF — one lambda closure eval per element per fold step), and the
  * fold materializes n-1 intermediate arrays plus 3 slices per row.
  * Measured on the bench corpus (Profile14 `words`): the tokenize
  * step costs 0.12 s and the zip_with shingle fold lifts it to
  * 0.59 s per pass — the shingle assembly, not the tokenize or the
  * hash, dominates every gram pipeline. This node is one loop per
  * row building each shingle directly.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 2 && n <= 8, s"shingle width out of range: $n")

  // a non-string-array child fails analysis, not eval
  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType =
    ArrayType(StringType, containsNull = true)

  override def nullSafeEval(v: Any): Any =
    WordShingles.build(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WordShingles.build($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val SPACE = UTF8String.fromString(" ")

  /** All m-n+1 shingles of one token array; shared by both
    * evaluation paths. */
  def build(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i < m - n + 1) {
      // concat semantics: a null token nulls the whole shingle
      var nullSeen = false
      var j = 0
      while (j < n && !nullSeen) {
        if (tokens.isNullAt(i + j)) nullSeen = true
        j += 1
      }
      if (!nullSeen) {
        val parts = new Array[UTF8String](2 * n - 1)
        var k = 0
        while (k < n) {
          parts(2 * k) = tokens.getUTF8String(i + k)
          if (k < n - 1) parts(2 * k + 1) = SPACE
          k += 1
        }
        out(i) = UTF8String.concat(parts: _*)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object HashExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** First-`nibbles`-hex-chars-of-md5 as a long (see [[Md5PrefixLong]]). */
  def md5Prefix(c: Column, nibbles: Int): Column =
    ColumnBridge.column(Md5PrefixLong(ColumnBridge.expression(c), nibbles))

  /** Space-joined n-gram shingles in one pass (see [[WordShingles]]). */
  def wordShingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), n))
}
