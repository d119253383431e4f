package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression computing a K-wide MinHash signature of a
  * set of 64-bit element fingerprints: out[j] = min over elements x of
  * (a[j]·(x mod p) + b[j]) mod p.
  *
  * This is the one hot loop in the engine where a higher-order-function
  * formulation (`aggregate` + `zip_with` over a literal coefficient
  * array) measurably hurts: HOF lambdas are interpreted and box every
  * intermediate, turning K×|set| primitive multiply-mods into tens of
  * millions of boxed ops per bench run. The brief's preference ladder
  * (compose built-ins → native `Expression` with `doGenCode` → UDF)
  * lands here on the middle rung: `doGenCode` emits the two-level
  * primitive loop directly into whole-stage codegen, with
  * `nullSafeEval` as the interpreted fallback. Semantics are identical
  * to the fold it replaces (MinHashSpec asserts equality on both
  * paths).
  *
  * Operators construct it directly (`ColumnBridge`); plain SQL reaches
  * it as `graft_minhash` through [[graft.GraftExtensions]].
  */
final case class MinHashSignature(child: Expression,
    a: Seq[Long], b: Seq[Long], p: Long)
  extends UnaryExpression {

  require(a.length == b.length && a.nonEmpty, "coefficient arrays must match")

  // Constructor params are Seq (structural equals/hashCode) so Catalyst
  // canonicalization and common-subexpression elimination unify
  // content-identical instances — Array params would compare by
  // reference. The hot loops read these array views.
  private lazy val aArr: Array[Long] = a.toArray
  private lazy val bArr: Array[Long] = b.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature needs ARRAY<BIGINT>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val k = aArr.length
    val out = Array.fill(k)(p)
    var i = 0
    while (i < arr.numElements()) {
      val x = arr.getLong(i) % p
      var j = 0
      while (j < k) {
        val h = (aArr(j) * x + bArr(j)) % p
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("mhOut")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      s"""
         |long[] $out = new long[${a.length}];
         |java.util.Arrays.fill($out, ${p}L);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $x = $c.getLong($i) % ${p}L;
         |  for (int $j = 0; $j < ${a.length}; $j++) {
         |    long $h = ($aRef[$j] * $x + $bRef[$j]) % ${p}L;
         |    if ($h < $out[$j]) $out[$j] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  val FUNC_NAME = "graft_minhash"
}
