package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd token-n-gram fingerprints: element i of the output
  * is [[TextFns.hash56]] (first 7 md5 bytes as a 56-bit long) of
  * `tokens(i) ++ " " ++ … ++ tokens(i+n-1)` — one md5 over the joined
  * UTF-8 bytes, no intermediate concat strings, no interpreted lambda.
  *
  * Replaces the two remaining interpreted HOF hot loops of the dedup
  * family: the trigram shingle pipeline (`n = 3` — previously two
  * nested `zip_with` layers building concat strings and md5-ing each
  * through the interpreter, the dominant per-trigger cost of the
  * streaming admission gates) and the per-token fingerprint feed of
  * the SimHash signature (`n = 1` — previously `transform(tokens,
  * hash56)`).
  *
  * Bit-parity with the fold is load-bearing (the DuckDB oracles build
  * the same n-grams with `md5` in SQL): UTF-8 concatenation is byte
  * concatenation, so hashing `bytes(a) ++ ' ' ++ bytes(b) ++ ' ' ++
  * bytes(c)` equals hashing the concat string, and the first 14 hex
  * digits of the digest are its first 7 bytes big-endian —
  * HashedNgramsSpec pins equality with the column-fold form on both
  * codegen and interpreted paths. Null semantics mirror the folds: a
  * null token nulls exactly the output elements whose window contains
  * it (`concat`/`md5`/`conv` null-propagate per element); the
  * per-element null scan is only emitted when the input ArrayType
  * admits null elements. Fewer than n tokens yield an empty array,
  * matching the `greatest(size - (n-1), 0)` slice-length guard. */
final case class HashedNgrams(child: Expression, n: Int)
  extends UnaryExpression {

  require(n >= 1, "n-gram width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "hashed_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"${prettyName} needs ARRAY<STRING>, got $other")
    }

  private lazy val elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, nn) => nn
    case _                => true
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val cnt = math.max(m - (n - 1), 0)
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      var nullHit = false
      if (elementsNullable) {
        var j = 0
        while (j < n && !nullHit) { nullHit = arr.isNullAt(i + j); j += 1 }
      }
      if (!nullHit) {
        val md = HashedNgrams.digest()
        var j = 0
        while (j < n) {
          if (j > 0) md.update(' '.toByte)
          val t = arr.getUTF8String(i + j)
          md.update(t.getBytes)
          j += 1
        }
        out(i) = HashedNgrams.first56(md.digest())
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val md = ctx.freshName("md")
      val nullHit = ctx.freshName("nullHit")
      val cls = classOf[HashedNgrams].getName
      val nullScan = if (elementsNullable)
        s"""
           |for (int $j = 0; $j < $n && !$nullHit; $j++) {
           |  $nullHit = $c.isNullAt($i + $j);
           |}
         """.stripMargin
      else ""
      s"""
         |int $m = $c.numElements();
         |int $cnt = java.lang.Math.max($m - ${n - 1}, 0);
         |Object[] $out = new Object[$cnt];
         |for (int $i = 0; $i < $cnt; $i++) {
         |  boolean $nullHit = false;
         |  $nullScan
         |  if (!$nullHit) {
         |    java.security.MessageDigest $md = $cls.digest();
         |    for (int $j = 0; $j < $n; $j++) {
         |      if ($j > 0) $md.update((byte) ' ');
         |      $md.update($c.getUTF8String($i + $j).getBytes());
         |    }
         |    $out[$i] = $cls.first56($md.digest());
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HashedNgrams =
    copy(child = newChild)
}

object HashedNgrams {
  /** `graft_shingle56(tokens)` — the trigram shingle form. */
  val SHINGLE_NAME = "graft_shingle56"
  /** `graft_tokhash56(tokens)` — the per-token (n = 1) form. */
  val TOKHASH_NAME = "graft_tokhash56"

  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** A reset thread-local MD5 instance (called from generated code —
    * allocating a digest per element would dominate the loop). */
  def digest(): java.security.MessageDigest = {
    val md = tl.get(); md.reset(); md
  }

  /** First 14 hex digits of the digest = first 7 bytes big-endian —
    * exactly `conv(substring(md5(s), 1, 14), 16, 10)`. Boxed: the
    * output array element type admits nulls. */
  def first56(d: Array[Byte]): java.lang.Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    java.lang.Long.valueOf(v)
  }
}
