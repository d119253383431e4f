package graft.tools

/** Single-query diagnostic probe: prints the physical-plan shape
  * counters a perf audit reads first (parquet scans, reused exchanges,
  * total exchanges, codegen spans) and a warm repeat-timing series for
  * one named [[graft.SparkEntry]] query.
  *
  * The bench ([[graft.Bench]]) answers "how long does the suite take";
  * this answers "where does ONE query's time go" without hand-editing
  * a scratch main every time: `sbt "runMain graft.tools.QueryProbe
  * stratified_sample 5"` (env `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS`
  * as for the bench). Timings here are warm-JVM repeats in a JVM that
  * ran nothing else — comparable to each other, NOT to the settled
  * bench artifact (which interleaves 129 queries of codegen warmup).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: QueryProbe <query_name> [reps] [--plan]"))
    val reps = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession.build()
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; see SparkEntry.queries"))
    val df = fn(spark, sfDir)
    // Execute THIS dataframe's own plan before reading it: under AQE
    // the pre-execution string is the initial plan (no reused
    // exchanges), and `df.count()` would execute a different plan.
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    def n(rx: String) = rx.r.findAllIn(p).length
    // "(?<!Reused)Exchange" — a plain "Exchange " pattern also matches
    // inside every "ReusedExchange" node, overcounting by exactly the
    // reused count (r15 advice).
    println(s"PLAN scans=${n("Scan parquet")} exchanges=${n("(?<!Reused)Exchange ")}" +
      s" reused=${n("ReusedExchange|ReusedQueryStage")}" +
      s" codegen=${n("""\*\(\d+\)""")}" +
      s" windows=${n("Window ")} joins=${n("Join ")}")
    if (args.contains("--plan")) println(p)
    if (args.contains("--show")) df.show(200, truncate = false)
    val times = (1 to reps).map { _ =>
      graft.Caches.clearAll()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println("TIMES " + times.map(t => f"$t%.3f").mkString(" ") +
      f" min=${times.min}%.3f")
    spark.stop()
  }
}
