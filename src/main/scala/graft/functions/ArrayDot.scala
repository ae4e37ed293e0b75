package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Ordered-fold dot product of two numeric arrays in double precision — a
  * native codegen Expression replacing `aggregate(zip_with(...))`, whose
  * higher-order lambdas are interpreted per element with boxing (the
  * dominant cost of the ANN/near-dup operators: a 64-dim corpus×query scan
  * runs millions of element lambdas).
  *
  * Semantics are IDENTICAL to the `zip_with`+`aggregate` composition the
  * vector operators used before (and to the DuckDB oracles'
  * `list_sum∘list_zip`): elements promoted to double, products accumulated
  * left-to-right (same IEEE rounding order), mismatched lengths → null
  * (zip_with pads with null), any null element → null (a null product
  * poisons the fold).
  *
  * The one hand-written Catalyst expression left in `graft.functions`
  * (the string kernels are Spark's `StaticInvoke`, see [[fns]]): its
  * generated loop reads each side with the getter of that side's element
  * type, which is known only after analysis, so no single static kernel
  * signature fits. It is the hot loop of `q_ann_brute` and `q_ann_lsh`.
  */
case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"array_dot needs numeric arrays, got ${left.dataType} / ${right.dataType}")
  }

  private def get(a: ArrayData, i: Int, dt: DataType): Double = dt match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, i, lt) * get(b, i, rt)
      i += 1
    }
    acc
  }

  private def getter(dt: DataType): String = dt match {
    case FloatType => "getFloat"
    case DoubleType => "getDouble"
    case IntegerType => "getInt"
    case LongType => "getLong"
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, acc, bad) = (ctx.freshName("i"), ctx.freshName("n"),
        ctx.freshName("acc"), ctx.freshName("bad"))
      val (lg, rg) = (getter(elemType(left)), getter(elemType(right)))
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += (double) $a.$lg($i) * (double) $b.$rg($i);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
    copy(left = l, right = r)
}
