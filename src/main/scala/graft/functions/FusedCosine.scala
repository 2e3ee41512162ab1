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
  FloatType}

/** Fused cosine similarity over two `ARRAY<FLOAT>` columns — a native
  * codegen'd Catalyst expression (SURVEY §7.4's one justified custom
  * Expression): the composed built-in form
  * `aggregate(zip_with(a,b,*)) / (sqrt(aggregate(...)) * sqrt(...))`
  * walks both arrays three times and allocates an intermediate zipped
  * array; this fuses dot product and both norms into one allocation-free
  * loop inside whole-stage codegen.
  *
  * Semantics mirror the composed form EXACTLY, so an operator can swap
  * [[graft.operators.Similarity.cosine]] for this kernel at its call
  * site without changing a result:
  *  - a null array yields null (BinaryExpression null-safe eval);
  *  - arrays of UNEQUAL length yield null (zip_with pads with null, the
  *    null product nulls the whole aggregate sum);
  *  - a null ELEMENT in either array yields null (null propagates
  *    through multiply and add);
  *  - a ZERO-NORM side (all-zero vector, or empty arrays) yields null:
  *    the composed form ([[graft.operators.Similarity.cosine]]) uses
  *    `try_divide`, which returns null on a zero divisor in every SQL
  *    mode, so the fused form must too (raw IEEE division would produce
  *    NaN and break that parity; a plain ANSI-mode divide throws
  *    instead, so only the `try_divide` form is an equivalent);
  *  - otherwise: the same sequential double accumulation (float×float
  *    exact in double), so results are bit-identical to the built-in
  *    composition and to a sequential double-based SQL oracle.
  */
case class FusedCosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fused_cosine expects ARRAY<FLOAT> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // null also on length mismatch / null elements, not just null inputs
  override def nullable: Boolean = true

  override def prettyName: String = "fused_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    // try_divide(x, 0.0) is null; match it so swapping in the fused
    // kernel never changes results.
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot /
         |        (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    }
         |  }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object FusedCosineSimilarity {
  /** Column-API entry point. */
  def fusedCosine(a: Column, b: Column): Column =
    GraftBridge.column(FusedCosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** SQL registration: `SELECT fused_cosine(a, b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fused_cosine",
      exprs => {
        if (exprs.length != 2) {
          throw GraftBridge.wrongNumArgsError("fused_cosine", 2,
            exprs.length)
        }
        FusedCosineSimilarity(exprs.head, exprs(1))
      },
      "built-in")
}
