package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions over a shingle array. Each replaces an
  * explode → 64-aggregate → re-group pipeline (a full shuffle of every
  * (doc, shingle) pair) with one tight pass per row: the whole signature
  * is computed where the document already lives. The kernels are static
  * JVM methods and `doGenCode` inlines calls to them, so both expressions
  * stay INSIDE whole-stage codegen.
  */
object SketchImpl {

  private val Space = UTF8String.fromString(" ")

  /** Word n-grams of `words` in order (each the n consecutive words
    * joined by one space; null words skipped, as `concat_ws` does); with
    * `distinct`, each gram once, at its first occurrence.
    */
  def shingles(words: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val count = words.numElements() - n + 1
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val gram = new Array[UTF8String](n)
    var i = 0
    while (i < count) {
      var k = 0
      while (k < n) {
        gram(k) = if (words.isNullAt(i + k)) null
          else words.getUTF8String(i + k)
        k += 1
      }
      val s = UTF8String.concatWs(Space, gram: _*)
      if (!distinct || seen.add(s)) out += s
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def minhashBandKeys(shingles: ArrayData, numHashes: Int,
      bands: Int): ArrayData = {
    val rows = numHashes / bands
    val n = shingles.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      var p = 0
      while (p < numHashes) {
        val h = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, p.toLong)
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = 1125899906842597L + b
      var r = 0
      while (r < rows) {
        k = k * 31 + sig(b * rows + r)
        r += 1
      }
      keys(b) = k
      b += 1
    }
    new GenericArrayData(keys)
  }

  def simhash64(shingles: ArrayData): Long = {
    val n = shingles.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** MinHash LSH band keys: numHashes seeded xxh64 permutations, min per
  * permutation over the shingles, rows-per-band values folded into one
  * 64-bit key per band.
  */
case class MinHashBandKeys(
    child: Expression,
    numHashes: Int,
    bands: Int)
  extends UnaryExpression {
  require(numHashes % bands == 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchImpl.minhashBandKeys(input.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchImpl.minhashBandKeys($c, $numHashes, $bands)")

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashBandKeys = copy(child = newChild)
  override def prettyName: String = "minhash_band_keys"
}

/** 64-bit SimHash over the shingle array: bit b is the sign of the sum of
  * ±1 contributions of each shingle hash's bit b.
  */
case class SimHash64(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SketchImpl.simhash64(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : SimHash64 = copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Word n-grams of a word array ([[SketchImpl.shingles]]): one pass per
  * row, where a `transform` lambda over `element_at`/`slice` evaluates
  * interpreted (and, once the optimizer inlines a `split` into it,
  * re-splits the text for every element it reads).
  */
case class Shingles(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression {
  require(n >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchImpl.shingles(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.shingles($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression)
      : Shingles = copy(child = newChild)
  override def prettyName: String = "shingles"
}

object SketchFunctions {
  def shingles(words: Column, n: Int, distinct: Boolean): Column =
    GraftShims.column(Shingles(GraftShims.expression(words), n, distinct))
  def minhash_band_keys(c: Column, numHashes: Int, bands: Int): Column =
    GraftShims.column(MinHashBandKeys(GraftShims.expression(c), numHashes, bands))
  def simhash64(c: Column): Column =
    GraftShims.column(SimHash64(GraftShims.expression(c)))
}
