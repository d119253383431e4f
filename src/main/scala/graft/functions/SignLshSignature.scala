package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression computing a random-hyperplane (sign) LSH
  * signature of a dense double vector: bit p of the output is set iff
  * `dot(v, plane_p) > 0`.
  *
  * Replaces the fold formulation (64 interpreted
  * `aggregate(zip_with(v, plane_p, _*_), 0.0, _+_)` dot products per
  * row — the exact hot-loop shape that earned
  * [[MinHashSignature]]/[[SimHashSignature]] native expressions; it
  * doubled `ann_lsh_topk`'s bench time when the chunk width grew).
  * `doGenCode` emits one two-level primitive loop over
  * (plane × dimension) into whole-stage codegen; `nullSafeEval` is the
  * interpreted fallback. Bit-for-bit parity with the fold is load-
  * bearing (the DuckDB oracle replays the same planes), so the inner
  * loop accumulates products in element order exactly like the left
  * fold it replaces — SignLshSpec asserts equality on both paths.
  *
  * Malformed input follows the fold too: `zip_with` null-pads a
  * length-mismatched vector and propagates null elements, so every
  * plane's dot is null and `when(dot > 0, bit)` sets no bit — here,
  * length != dim or any null element yields signature 0. The
  * per-element null scan is only emitted when the child's ArrayType
  * says `containsNull = true`, keeping the hot loop branch-free over
  * parquet-derived non-null vectors.
  *
  * `planes` is the row-major flattened plane matrix
  * (`planes(p * dim + i)` = coefficient i of plane p), a Seq so
  * Catalyst canonicalization/CSE see structural equality; the hot loop
  * reads an Array view. Plane count = `planes.length / dim`, at most
  * 64 (one output bit each).
  */
final case class SignLshSignature(child: Expression, planes: Seq[Double], dim: Int)
  extends UnaryExpression {

  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0,
    "planes must be a non-empty row-major nPlanes x dim matrix")
  require(planes.length / dim <= 64, "at most 64 planes (one signature bit each)")

  private def nPlanes: Int = planes.length / dim
  private lazy val planeArr: Array[Double] = planes.toArray

  override def dataType: DataType = LongType
  override def prettyName: String = "signlsh_signature"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"signlsh_signature needs ARRAY<DOUBLE>, got $other")
    }

  /** Whether the input schema admits null elements (decides if the
    * null scan is needed at all — resolved at plan time, not per row). */
  private lazy val elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _               => true
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return 0L
    if (elementsNullable) {
      var i = 0
      while (i < dim) {
        if (arr.isNullAt(i)) return 0L
        i += 1
      }
    }
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      var d = 0.0
      val base = p * dim
      var i = 0
      while (i < dim) {
        d += planeArr(base + i) * arr.getDouble(i)
        i += 1
      }
      if (d > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val plRef = ctx.addReferenceObj("signLshPlanes", planeArr, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val ok = ctx.freshName("ok")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val base = ctx.freshName("base")
      val nullScan = if (elementsNullable)
        s"""
           |for (int $j = 0; $ok && $j < $dim; $j++) {
           |  if ($c.isNullAt($j)) $ok = false;
           |}
         """.stripMargin
      else ""
      s"""
         |long $sig = 0L;
         |boolean $ok = $c.numElements() == $dim;
         |$nullScan
         |if ($ok) {
         |  for (int $p = 0; $p < $nPlanes; $p++) {
         |    double $d = 0.0;
         |    int $base = $p * $dim;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      $d += $plRef[$base + $i] * $c.getDouble($i);
         |    }
         |    if ($d > 0) $sig |= (1L << $p);
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshSignature =
    copy(child = newChild)
}

object SignLshSignature {
  val FUNC_NAME = "graft_signlsh"
}
