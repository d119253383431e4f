package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression emitting every character-n-gram of a
  * string as a packed 64-bit value in ONE pass: gram at position i is
  * the n codepoints c_i … c_{i+n-1}, each truncated to `bits` bits and
  * concatenated (`((c_i & m) << (n-1)·bits) | … | (c_{i+n-1} & m)`).
  *
  * Exists for the same reason as [[MinHashSignature]] (the brief's
  * preference ladder, middle rung): the composed-built-ins form —
  * `transform(sequence(1, len-n+1), i -> pack(substr…))` — allocates a
  * substring object and evaluates four `substr`/`ascii` calls per gram
  * position, ~6s of the ngram_jaccard bench at sf0.1 (measured; an
  * md5-fingerprint variant costs the same — the per-gram expression
  * machinery dominates, not the digest). One rolling loop over the
  * string is O(len) with zero per-gram allocation.
  *
  * Portability (the gram identity IS the operator spec, shared with the
  * DuckDB oracle): `cp & (2^bits − 1)` equals `cp % 2^bits` for the
  * non-negative codepoints both engines produce, so DuckDB replays a
  * gram as `(ascii(substr(text,i,1)) % 16384)·2^42 + …` exactly. The
  * loop walks CODEPOINTS (not UTF-16 units), matching DuckDB's
  * character semantics on every plane — at the default 14 bits the
  * packing is injective for codepoints < 2^14, which covers all ASCII
  * and most of the BMP; beyond that, truncation collisions are shared
  * by both engines identically.
  *
  * Default geometry: n=4 grams × 14 bits = 56-bit values, the engine's
  * fingerprint width.
  */
final case class NgramPack(child: Expression, n: Int, bits: Int)
  extends UnaryExpression {

  require(n >= 1 && bits >= 1 && n * bits <= 63,
    s"packed gram must fit a positive long, got n=$n bits=$bits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_pack"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ngram_pack needs STRING, got $other")
    }

  private def cpMask: Long = (1L << bits) - 1
  private def windowMask: Long = (1L << (bits * n)) - 1

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val total = s.codePointCount(0, s.length)
    if (total < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](total - n + 1)
    var v = 0L
    var seen = 0
    var i = 0
    var oi = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      v = ((v << bits) | (cp & cpMask)) & windowMask
      seen += 1
      if (seen >= n) { out(oi) = v; oi += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val total = ctx.freshName("total")
      val out = ctx.freshName("out")
      val v = ctx.freshName("v")
      val seen = ctx.freshName("seen")
      val i = ctx.freshName("i")
      val oi = ctx.freshName("oi")
      val cp = ctx.freshName("cp")
      s"""
         |String $s = $c.toString();
         |int $total = $s.codePointCount(0, $s.length());
         |long[] $out = new long[$total < $n ? 0 : $total - $n + 1];
         |long $v = 0L;
         |int $seen = 0;
         |int $i = 0;
         |int $oi = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $i += Character.charCount($cp);
         |  $v = (($v << $bits) | ($cp & ${cpMask}L)) & ${windowMask}L;
         |  $seen++;
         |  if ($seen >= $n) { $out[$oi] = $v; $oi++; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NgramPack =
    copy(child = newChild)
}

object NgramPack {
  val FUNC_NAME = "graft_ngrampack"
}
