package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** One document's word k-shingle SET as hashes: the sorted, distinct
  * `array<bigint>` of Spark `xxhash64` (XXH64 over the UTF-8 bytes,
  * seed 42) of every `' '`-joined k-gram of a token array — the
  * verify-set and posting-list input of the near-dup pipelines.
  *
  * Bit-identical to the relational form
  * `sort_array(collect_set(xxhash64(sh)))` over
  * `explode(DedupOps.shinglesFromTokens(t, k))`, including its edge
  * cases: fewer than k tokens (or a null array) gives the empty set,
  * and a null token is skipped inside its k-gram as `concat_ws` skips
  * it. The relational form runs an interpreted `transform` lambda
  * building one string per k-gram, explodes a row per shingle and
  * shuffles them to a `collect_set`; this one joins the tokens into
  * one byte buffer per document, hashes each k-gram in place (k-grams
  * of consecutive tokens are contiguous slices of it) and sorts a
  * `long[]` — no per-shingle object, row or shuffle.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"need k >= 1: k=$k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Null tokens → the empty set, as the relational form's `when`. */
  override def nullable: Boolean = false

  override def prettyName: String = "graft_shingle_hashes"

  /** The kernel — also the codegen target. */
  def compute(tokens: ArrayData): ArrayData = {
    val n = if (tokens == null) 0 else tokens.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // tokens joined by ' ' into one buffer; token j spans
    // [start(j), end(j)), a null token is absent (start = end = -1)
    val start = new Array[Int](n)
    val end = new Array[Int](n)
    var bytes = 0
    var j = 0
    while (j < n) {
      if (!tokens.isNullAt(j)) bytes += tokens.getUTF8String(j).numBytes() + 1
      j += 1
    }
    val buf = new Array[Byte](bytes)
    var pos = 0
    j = 0
    while (j < n) {
      if (tokens.isNullAt(j)) { start(j) = -1; end(j) = -1 }
      else {
        val s = tokens.getUTF8String(j)
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        start(j) = pos
        pos += s.numBytes()
        end(j) = pos
        buf(pos) = ' '.toByte
        pos += 1
      }
      j += 1
    }
    // k-gram i = the buffer slice from its first to its last non-null
    // token (the empty string when all k are null, as concat_ws)
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var from = -1
      var to = -1
      var o = i
      while (o < i + k) {
        if (start(o) >= 0) { if (from < 0) from = start(o); to = end(o) }
        o += 1
      }
      if (from < 0) { from = 0; to = 0 }
      hs(i) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + from,
        to - from, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var d = 0
    i = 0
    while (i < m) {
      if (i == 0 || hs(i) != hs(d - 1)) { hs(d) = hs(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (d == m) hs else java.util.Arrays.copyOf(hs, d))
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $self.compute(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  /** Column-API entry point over a token-array column. */
  def shingleHashes(tokens: Column, k: Int): Column =
    ColumnShim.column(ShingleHashes(ColumnShim.expression(tokens), k))
}
