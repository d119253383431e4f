package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interactive query loop — the Spark mirror of the reference's stdin
  * drivers (`BooleanRetrievalCompressed.java:218`'s query loop; the
  * course CLIs' ad-hoc lookups), the one reference behavior with no
  * batch analogue. Each command dispatches to the SAME library entry
  * the gate queries exercise, so the loop adds an edge, not a second
  * implementation:
  *
  * {{{
  *   q <postfix boolean query>   e.g.  q fast table AND slow OR
  *   rank <free text query>      BM25 top-k ranked retrieval
  *   sim <vec_id> [k]            exact top-k neighbours of a vector
  *   ann <vec_id> [k]            approximate top-k from the persisted IVF-PQ index
  *   near <doc_id>               the doc's near-duplicate cluster
  *   admit <doc_id>              would-be-admitted probe vs the rest of the corpus
  *   quit
  * }}}
  *
  * Driver-side printing is the point of a REPL; everything underneath
  * stays the distributed plans ([[operators.InvertedIndex.retrieve]]
  * evaluates the whole query workload in one pass,
  * [[operators.Similarity.nearestTo]] is a broadcast-probe
  * TakeOrderedAndProject). ReplSpec drives [[dispatch]] directly.
  */
object Repl {

  /** Parse one REPL line into the DataFrame it queries, or None for
    * blank/unrecognized input — including numbers that parse but are
    * out of range (negative vec_id, non-positive k), which get the
    * help line rather than a real-looking empty result. Split out of
    * the stdin loop for tests. Query-construction errors a
    * valid-looking line can still raise (a malformed postfix
    * expression) are the CALLER's to catch — the loop must survive
    * them. */
  def dispatch(spark: SparkSession, sfDir: String, line: String): Option[DataFrame] =
    line.trim.split("\\s+").toSeq match {
      case Seq("") => None
      case Seq("sim", id) =>
        for (i <- id.toLongOption; if i >= 0)
          yield operators.Similarity.nearestTo(spark, sfDir, i,
            operators.Similarity.TOP_K)
      case Seq("sim", id, k) =>
        for (i <- id.toLongOption; if i >= 0; n <- k.toIntOption; if n > 0)
          yield operators.Similarity.nearestTo(spark, sfDir, i, n)
      case Seq("near", id) =>
        for (i <- id.toLongOption; if i >= 0)
          yield operators.Dedup.nearCluster(spark, sfDir, i)
      case Seq("admit", id) =>
        for (i <- id.toLongOption; if i >= 0)
          yield operators.Dedup.probeOne(spark, sfDir, i)
      case Seq("ann", id) =>
        for (i <- id.toLongOption; if i >= 0)
          yield operators.Similarity.annNearestTo(spark, sfDir, i,
            operators.Similarity.IVF_TOP_K)
      case Seq("ann", id, k) =>
        for (i <- id.toLongOption; if i >= 0; n <- k.toIntOption; if n > 0)
          yield operators.Similarity.annNearestTo(spark, sfDir, i, n)
      case "q" +: rest if rest.nonEmpty =>
        Some(operators.InvertedIndex.retrieve(spark, sfDir, rest.mkString(" ")))
      case "rank" +: rest if rest.nonEmpty =>
        Some(operators.InvertedIndex.rank(spark, sfDir, rest.mkString(" ")))
      case _ => None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession.build()
    println(s"graft repl over $sfDir — " +
      "`q <postfix boolean>`, `rank <free text>`, `sim <vec_id> [k]`, " +
      "`ann <vec_id> [k]`, `near <doc_id>`, `admit <doc_id>`, `quit`")
    var line = scala.io.StdIn.readLine("graft> ")
    while (line != null && line.trim != "quit" && line.trim != "exit") {
      // One guard around dispatch AND show: a malformed-but-plausible
      // line (bad postfix expression) throws during query CONSTRUCTION,
      // and an interactive loop must print and re-prompt, never die.
      try dispatch(spark, sfDir, line) match {
        case Some(df) => df.show(50, truncate = false)
        case None => println(
          "commands: q <postfix boolean query> | rank <free text> | sim <vec_id> [k] | ann <vec_id> [k] | near <doc_id> | admit <doc_id> | quit")
      } catch { case e: Exception => println(s"error: ${e.getMessage}") }
      line = scala.io.StdIn.readLine("graft> ")
    }
    onExit()
    spark.stop()
  }

  /** Exit path, before `spark.stop()`: a long-lived interactive
    * session accumulates memoized plans (SessionMemo's
    * DataFrame-valued entries are non-collectable by design — see
    * [[Caches]]); release them with the session. */
  private[graft] def onExit(): Unit = Caches.clearAll()
}
