package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression computing a `bits`-wide SimHash of a
  * multiset of 64-bit element fingerprints: bit j of the result is set
  * iff strictly more elements have bit j set than not (majority vote).
  * Same rationale and wiring as [[MinHashSignature]]: the
  * aggregate+zip_with fold is interpreted and boxes a 56-wide counter
  * vector per element; `doGenCode` emits the primitive two-level loop
  * into whole-stage codegen, `nullSafeEval` is the interpreted
  * fallback, and SimHashSpec asserts equality with the fold on both
  * paths.
  */
final case class SimHashSignature(child: Expression, bits: Int)
  extends UnaryExpression {

  require(bits > 0 && bits <= 63, "bits must be in (0, 63]")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_signature"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"simhash_signature needs ARRAY<BIGINT>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](bits)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) != 0L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val counts = ctx.freshName("shCounts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $counts = new int[$bits];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < $bits; $j++) {
         |    if ((($h >>> $j) & 1L) != 0L) $counts[$j]++; else $counts[$j]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < $bits; $j++) {
         |  if ($counts[$j] > 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}

object SimHashSignature {
  val FUNC_NAME = "graft_simhash"
}
