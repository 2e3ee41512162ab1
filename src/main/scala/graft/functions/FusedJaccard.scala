package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  LongType}

/** Fused Jaccard similarity over two SORTED `ARRAY<BIGINT>` columns —
  * the codegen'd hot path of every near-dup verification step. The
  * composed form `size(array_intersect(a,b)) / size(array_union(a,b))`
  * builds a hash set PER CANDIDATE PAIR (array_intersect and
  * array_union each construct one), and the verify step runs once per
  * candidate — the quadratic-volume stage of ngram/minhash dedup. This
  * expression replaces both set builds with a single allocation-free
  * sorted-merge pass: intersection and union sizes fall out of one
  * walk, with adjacent-duplicate skipping providing the same SET
  * semantics the built-ins have.
  *
  * Preconditions and semantics:
  *  - both arrays must be sorted ascending (callers stage
  *    `array_sort`; one O(k log k) sort per DOCUMENT replaces one hash
  *    set per PAIR — each doc participates in many pairs);
  *  - null ARRAY yields null (BinaryExpression null-safe eval);
  *  - null ELEMENTS are not supported (shingle hashes are never null)
  *    and yield null, a deliberate deviation from array_intersect's
  *    null-as-value semantics — guarded by the bit-equality spec that
  *    runs both forms over real shingle data;
  *  - two EMPTY arrays yield NaN, exactly like the composed form's
  *    `0.cast(double)/0` — NaN fails any `>= threshold` filter, so
  *    behavior downstream is identical.
  */
case class FusedJaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fused_jaccard_sorted expects ARRAY<BIGINT> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "fused_jaccard_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    var union = 0L
    // merge over distinct elements: each loop step consumes EVERY copy
    // of one distinct union element v (dups are adjacent in sorted
    // input), so v strictly increases per step and needs no dedup
    // bookkeeping across steps
    while (i < nx || j < ny) {
      if ((i < nx && x.isNullAt(i)) || (j < ny && y.isNullAt(j)))
        return null
      val takeX = j >= ny ||
        (i < nx && x.getLong(i) <= y.getLong(j))
      val takeY = i >= nx ||
        (j < ny && y.getLong(j) <= x.getLong(i))
      val v = if (takeX) x.getLong(i) else y.getLong(j)
      if (takeX) { while (i < nx && !x.isNullAt(i) && x.getLong(i) == v) i += 1 }
      if (takeY) { while (j < ny && !y.isNullAt(j) && y.getLong(j) == v) j += 1 }
      union += 1
      if (takeX && takeY) inter += 1
    }
    if (union == 0L) Double.NaN
    else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("uni")
      val v = ctx.freshName("v")
      val takeX = ctx.freshName("takeX")
      val takeY = ctx.freshName("takeY")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0;
         |long $inter = 0L, $union = 0L;
         |while (($i < $nx || $j < $ny) && !${ev.isNull}) {
         |  if (($i < $nx && $a.isNullAt($i)) ||
         |      ($j < $ny && $b.isNullAt($j))) {
         |    ${ev.isNull} = true;
         |    break;
         |  }
         |  boolean $takeX = $j >= $ny ||
         |    ($i < $nx && $a.getLong($i) <= $b.getLong($j));
         |  boolean $takeY = $i >= $nx ||
         |    ($j < $ny && $b.getLong($j) <= $a.getLong($i));
         |  long $v = $takeX ? $a.getLong($i) : $b.getLong($j);
         |  if ($takeX) {
         |    while ($i < $nx && !$a.isNullAt($i) && $a.getLong($i) == $v)
         |      $i++;
         |  }
         |  if ($takeY) {
         |    while ($j < $ny && !$b.isNullAt($j) && $b.getLong($j) == $v)
         |      $j++;
         |  }
         |  $union++;
         |  if ($takeX && $takeY) $inter++;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = ($union == 0L) ? Double.NaN
         |    : ((double) $inter) / $union;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object FusedJaccardSorted {
  /** Column-API entry point; inputs MUST be sorted ascending. */
  def fusedJaccard(a: Column, b: Column): Column =
    GraftBridge.column(FusedJaccardSorted(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
