package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** |A ∩ B| of two ASCENDING-SORTED `array<bigint>` set columns as one
  * native merge-scan — the exact-Jaccard verify kernel of the near-dup
  * pipelines (r18; the [[HammingDist]] precedent applied to set
  * overlap, VERDICT r17 item 1).
  *
  * Rationale: the verify step previously computed
  * `size(array_intersect(a, b)) / size(array_union(a, b))` per
  * candidate pair — two hash-set builds and two result-array
  * allocations per evaluation just to read off two cardinalities —
  * or, worse, re-joined the full inverted index per side and
  * re-aggregated. With both sides sorted once per DOCUMENT
  * (`sort_array(collect_set(h))`), the intersection size per PAIR is
  * one allocation-free two-pointer merge, and the union size is the
  * identity |A| + |B| − |A∩B|, so
  * `jaccard = shared / (n_a + n_b − shared)` divides the exact same
  * integers as the join-based and intersect/union forms — the 4dp
  * rounded score is bit-identical (spec-gated in DedupOpsSpec).
  *
  * Contract: inputs must be duplicate-free and ascending-sorted (both
  * guaranteed by `graft_shingle_hashes` and by
  * `sort_array(collect_set(...))`); null ELEMENT → null
  * (cannot occur after collect_set, which drops nulls — the guard
  * mirrors [[HammingDist]]'s); null input → null (nullIntolerant).
  */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_overlap requires (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  /** Always nullable: a null ELEMENT yields null even when both child
    * columns are non-nullable (the [[HammingDist]] constant-fold trap). */
  override def nullable: Boolean = true

  override def prettyName: String = "graft_overlap"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < n && j < m) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { acc += 1L; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |long $acc = 0L;
         |boolean $bad = false;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { $bad = true; break; }
         |  long $xi = $a.getLong($i);
         |  long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $acc++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedOverlapCount {
  /** Column-API entry point. */
  def overlapFused(a: Column, b: Column): Column =
    ColumnShim.column(
      SortedOverlapCount(ColumnShim.expression(a), ColumnShim.expression(b)))
}
