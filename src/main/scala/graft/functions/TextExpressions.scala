package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared scalar core for [[WordShingles]] (the [[JaroWinklerImpl]]
  * pattern: one static method behind both `eval` and the generated code).
  *
  * Semantics are those of the built-in composition
  * `transform(sequence(1, greatest(size(tokens) - n + 1, 1)),
  * i -> array_join(slice(tokens, i, n), ' '))` over
  * `tokens = split(norm, ' ')`, which is what the DuckDB oracles state:
  *  - shingle i is tokens i..i+n-1 joined by one space, in order, with
  *    duplicates kept;
  *  - a text of fewer than n tokens yields ONE shingle, the whole text
  *    (the `greatest(…, 1)` floor), so `""` yields `[""]`;
  *  - a null text yields `[null]` (`size(null)` is null, the floor still
  *    gives one index, and slicing a null array is null).
  *
  * Splitting on the single byte 0x20 and joining with it again means a
  * shingle is exactly the byte range of the original text from its first
  * token's start to its last token's end, so the shingles are cut out of
  * one copy of the text instead of being re-concatenated token by token.
  * In valid UTF-8, 0x20 occurs only as the space character, so the result
  * equals the split/join composition for every valid string, including
  * runs of spaces (empty tokens) and leading or trailing spaces. */
object WordShinglesImpl {
  def shingles(norm: UTF8String, n: Int): ArrayData = {
    if (norm == null) return new GenericArrayData(Array[Any](null))
    val len = norm.numBytes()
    val bytes = new Array[Byte](len)
    norm.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var nTok = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    // starts(t) = first byte of token t; starts(nTok) = len + 1, so token
    // t always ends at starts(t + 1) - 1
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = len + 1
    val m = math.max(nTok - n + 1, 1)
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      val end = starts(math.min(k + n, nTok)) - 1
      out(k) = UTF8String.fromBytes(bytes, starts(k), end - starts(k))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** `word_shingles(norm, n) → array<string>`: the word n-grams of a
  * normalized text, in order (see [[WordShinglesImpl]] for the exact
  * semantics). One native call per document inside whole-stage codegen,
  * where the higher-order `transform` lambda it replaces is interpreted
  * per shingle. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_shingles: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  // a null text still yields a one-element array
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects string, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any =
    WordShinglesImpl.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} =
      |  graft.functions.WordShinglesImpl.shingles(${c.isNull} ? null : ${c.value}, $n);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Shared scalar core for [[MinhashPieces]]: the seeded-hash/k-pieces
  * MinHash signature of one shingle set. Piece k (0-based) is the minimum,
  * over the set's non-null elements s, of the 8-hex chunk k % 4 of
  * `md5("<k / 4>:" + s)` — the same value as
  * `min(substring(md5(concat('<h>:', sh)), (k % 4) * 8 + 1, 8))` grouped
  * by document. Lowercase 8-hex strings order like their unsigned 32-bit
  * values, so the minimum is taken on the integers and only the winners
  * are formatted. A piece with no non-null element to take the minimum of
  * is null, as the SQL `min` of nothing is. */
object MinhashPiecesImpl {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val Hex = "0123456789abcdef".getBytes(UTF_8)

  def pieces(arr: ArrayData, k: Int): ArrayData = {
    val hashes = (k + 3) / 4
    val prefixes = Array.tabulate(hashes)(h => s"$h:".getBytes(UTF_8))
    val mins = Array.fill(k)(-1L) // -1 = no element seen yet
    val md = md5.get()
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var h = 0
        while (h < hashes) {
          md.update(prefixes(h))
          md.update(s.getByteBuffer)
          val d = md.digest()
          var p = 0
          while (p < 4 && h * 4 + p < k) {
            val v = ((d(4 * p) & 0xffL) << 24) | ((d(4 * p + 1) & 0xffL) << 16) |
              ((d(4 * p + 2) & 0xffL) << 8) | (d(4 * p + 3) & 0xffL)
            val idx = h * 4 + p
            if (mins(idx) < 0 || v < mins(idx)) mins(idx) = v
            p += 1
          }
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(v => if (v < 0) null else hex8(v)))
  }

  private def hex8(v: Long): UTF8String = {
    val b = new Array[Byte](8)
    var j = 7
    var x = v
    while (j >= 0) { b(j) = Hex((x & 0xf).toInt); x >>>= 4; j -= 1 }
    UTF8String.fromBytes(b)
  }
}

/** `minhash_pieces(sh, k) → array<string>`: the k MinHash pieces of a
  * shingle array (see [[MinhashPiecesImpl]]), computed inside the row that
  * holds the array — no explode, no shuffle, no aggregate. Null array →
  * null. */
case class MinhashPieces(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"minhash_pieces: k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_pieces expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    MinhashPiecesImpl.pieces(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinhashPiecesImpl.pieces($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): MinhashPieces =
    copy(child = newChild)
}

object TextFunctions {
  /** Column API for [[WordShingles]]. */
  def word_shingles(norm: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingles(GraftColumnBridge.expression(norm), n))

  /** Column API for [[MinhashPieces]]. */
  def minhash_pieces(sh: Column, k: Int): Column =
    GraftColumnBridge.column(MinhashPieces(GraftColumnBridge.expression(sh), k))
}
