package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dense-vector kernels — dot product, squared L2
  * distance, squared norm — replacing the interpreted
  * `aggregate(zip_with(...))` / `aggregate(transform(...))` folds that
  * dominated every ANN/k-means hot loop (higher-order functions are
  * CodegenFallback: per row they allocate the zipped array and invoke
  * the lambda per element through the interpreter — ~3 orders of
  * magnitude over a primitive loop for 64-dim vectors, the exact
  * regression shape that earned [[SignLshSignature]] its native form).
  *
  * Bit-for-bit parity with the folds is load-bearing (the DuckDB
  * oracles replay `list_sum(list_transform(...))` in the same element
  * order), so every kernel accumulates in index order with plain
  * double adds — identical IEEE operation sequence to the left fold it
  * replaces; VectorMathSpec pins equality on both the codegen and
  * interpreted paths.
  *
  * Null semantics mirror the folds exactly: `zip_with` null-pads a
  * length mismatch and the fold's `acc + null` then nulls the result,
  * so the binary kernels return null when lengths differ; a null
  * element nulls the result in all three (`transform` keeps nulls,
  * `x * x` and `acc + x` propagate them). The per-element null scan is
  * only emitted when the input ArrayType admits null elements, keeping
  * the hot loop branch-free over parquet-derived non-null vectors. */
final case class ArrayDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vdot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"${prettyName} needs (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got $other")
    }

  private lazy val elementsNullable: Boolean =
    VectorMath.elemsNullable(left) || VectorMath.elemsNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      VectorMath.binaryLoop(ctx, ev, a, b, elementsNullable,
        (xa, xb) => s"$xa * $xb"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance — `aggregate(zip_with(a, b, (x,y) =>
  * (x-y)*(x-y)), 0.0, _+_)` as one primitive loop. Same parity and
  * null contract as [[ArrayDot]]. */
final case class ArraySqDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vsqdist"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"${prettyName} needs (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got $other")
    }

  private lazy val elementsNullable: Boolean =
    VectorMath.elemsNullable(left) || VectorMath.elemsNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      VectorMath.binaryLoop(ctx, ev, a, b, elementsNullable,
        (xa, xb) => s"($xa - $xb) * ($xa - $xb)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArraySqDist =
    copy(left = newLeft, right = newRight)
}

/** Squared norm — `aggregate(transform(v, x => x*x), 0.0, _+_)` as one
  * primitive loop (callers take `sqrt` outside, as before). Null iff
  * the vector is null or any element is. */
final case class ArraySqNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vsqnorm"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"${prettyName} needs ARRAY<DOUBLE>, got $other")
    }

  private lazy val elementsNullable: Boolean = VectorMath.elemsNullable(child)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (elementsNullable && x.isNullAt(i)) return null
      val v = x.getDouble(i)
      acc += v * v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val nullCheck = if (elementsNullable)
        s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $x = $a.getDouble($i);
         |  $acc += $x * $x;
         |}
         |if (!${ev.isNull}) ${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArraySqNorm =
    copy(child = newChild)
}

object VectorMath {
  val DOT_NAME = "graft_vdot"
  val SQDIST_NAME = "graft_vsqdist"
  val SQNORM_NAME = "graft_vsqnorm"

  private[functions] def elemsNullable(e: Expression): Boolean =
    e.dataType match {
      case ArrayType(_, n) => n
      case _               => true
    }

  /** Shared codegen body for the two binary kernels: length guard,
    * optional null scan, index-order accumulate of `term`. */
  private[functions] def binaryLoop(ctx: CodegenContext, ev: ExprCode,
      a: String, b: String, elementsNullable: Boolean,
      term: (String, String) => String): String = {
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val xa = ctx.freshName("xa")
    val xb = ctx.freshName("xb")
    val nullCheck = if (elementsNullable)
      s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
    else ""
    s"""
       |int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  double $acc = 0.0;
       |  for (int $i = 0; $i < $n; $i++) {
       |    $nullCheck
       |    double $xa = $a.getDouble($i);
       |    double $xb = $b.getDouble($i);
       |    $acc += ${term(xa, xb)};
       |  }
       |  if (!${ev.isNull}) ${ev.value} = $acc;
       |}
     """.stripMargin
  }
}
