package graft

import graft.{functions => gfn}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's `SparkSessionExtensions` injection point: the one name
  * table through which plain SQL reaches the native kernels in
  * [[graft.functions]]. A deployment that owns session creation wires
  * it with
  *
  * {{{
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * and every kernel is then available to plain SQL
  * (`SELECT graft_minhash(hs) FROM ...`) in every session of that
  * context, with the engine's default arguments. The operators never
  * look these names up: they construct the kernel expressions directly
  * (`ColumnBridge`), so their plans analyze in any session, with or
  * without this extension, and leave its function catalog untouched. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Analysis-time arity guard for the multi-argument builders: a
    * wrong-arity SQL call must surface as an analysis error, not an
    * IndexOutOfBoundsException out of the analyzer. */
  private def requireArity(name: String,
      exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> n.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> ""))


  /** The injectable function descriptions (exposed so tests can drive
    * the builders without constructing a whole SparkContext). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(gfn.MinHashSignature.FUNC_NAME),
      new ExpressionInfo(classOf[gfn.MinHashSignature].getName,
        gfn.MinHashSignature.FUNC_NAME),
      exprs => gfn.MinHashSignature(exprs.head,
        operators.Dedup.MH_A.toSeq, operators.Dedup.MH_B.toSeq,
        operators.Dedup.MH_P)),
    (FunctionIdentifier(gfn.SimHashSignature.FUNC_NAME),
      new ExpressionInfo(classOf[gfn.SimHashSignature].getName,
        gfn.SimHashSignature.FUNC_NAME),
      exprs => gfn.SimHashSignature(exprs.head,
        operators.Dedup.SIMHASH_BITS)),
    (FunctionIdentifier(gfn.SignLshSignature.FUNC_NAME),
      new ExpressionInfo(classOf[gfn.SignLshSignature].getName,
        gfn.SignLshSignature.FUNC_NAME),
      exprs => gfn.SignLshSignature(exprs.head,
        operators.Similarity.PLANES.flatten.toSeq, operators.Similarity.DIM)),
    (FunctionIdentifier(gfn.NgramPack.FUNC_NAME),
      new ExpressionInfo(classOf[gfn.NgramPack].getName,
        gfn.NgramPack.FUNC_NAME),
      exprs => gfn.NgramPack(exprs.head,
        operators.Dedup.NGRAM_N, operators.Dedup.GRAM_BITS)),
    (FunctionIdentifier(gfn.NfcNormalize.FUNC_NAME),
      new ExpressionInfo(classOf[gfn.NfcNormalize].getName,
        gfn.NfcNormalize.FUNC_NAME),
      exprs => gfn.NfcNormalize(exprs.head)),
    (FunctionIdentifier(gfn.NfkcCasefold.FUNC_NAME),
      new ExpressionInfo(classOf[gfn.NfkcCasefold].getName,
        gfn.NfkcCasefold.FUNC_NAME),
      exprs => gfn.NfkcCasefold(exprs.head)),
    (FunctionIdentifier(gfn.UrlNormalize.FUNC_NAME),
      new ExpressionInfo(classOf[gfn.UrlNormalize].getName,
        gfn.UrlNormalize.FUNC_NAME),
      exprs => gfn.UrlNormalize(exprs.head)),
    (FunctionIdentifier(gfn.VectorMath.DOT_NAME),
      new ExpressionInfo(classOf[gfn.ArrayDot].getName,
        gfn.VectorMath.DOT_NAME),
      exprs => { requireArity("graft_vdot", exprs, 2)
        gfn.ArrayDot(exprs.head, exprs(1)) }),
    (FunctionIdentifier(gfn.VectorMath.SQDIST_NAME),
      new ExpressionInfo(classOf[gfn.ArraySqDist].getName,
        gfn.VectorMath.SQDIST_NAME),
      exprs => { requireArity("graft_vsqdist", exprs, 2)
        gfn.ArraySqDist(exprs.head, exprs(1)) }),
    (FunctionIdentifier(gfn.VectorMath.SQNORM_NAME),
      new ExpressionInfo(classOf[gfn.ArraySqNorm].getName,
        gfn.VectorMath.SQNORM_NAME),
      exprs => gfn.ArraySqNorm(exprs.head)),
    (FunctionIdentifier(gfn.HashedNgrams.SHINGLE_NAME),
      new ExpressionInfo(classOf[gfn.HashedNgrams].getName,
        gfn.HashedNgrams.SHINGLE_NAME),
      exprs => gfn.HashedNgrams(exprs.head, 3)),
    (FunctionIdentifier(gfn.HashedNgrams.TOKHASH_NAME),
      new ExpressionInfo(classOf[gfn.HashedNgrams].getName,
        gfn.HashedNgrams.TOKHASH_NAME),
      exprs => gfn.HashedNgrams(exprs.head, 1)))
}
