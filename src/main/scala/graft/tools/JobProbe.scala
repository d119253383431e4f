package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job-level decomposition of named queries: for each Spark job a
  * query launches, its wall-clock, summed task time, stage and task
  * counts — so "where does the time go" separates executor compute
  * from scheduler/driver gaps (wall >> task-sum/cores = the job is
  * overhead-bound, not compute-bound). A job with no description is
  * named by its final stage's call site (`parquet at <file>:<line>`),
  * so schema-inference and write jobs show where they come from.
  *
  * Each query runs once uncounted, then `reps` counted passes; a pass
  * runs every query once, in the order given, as the benchmark's
  * passes do — so a query is measured after the others, not after a
  * copy of itself. Each counted run prints its wall-clock and its
  * codegen compiles (the `CodegenMetrics` compilation count it moved:
  * classes Spark compiled, not served from its codegen cache); each
  * pass prints its total. Profiling aid only, like [[QueryProbe]]:
  * `sbt "runMain graft.tools.JobProbe <query[,query...]> [reps]"`. */
object JobProbe {
  final case class JobRow(id: Int, query: String, wallMs: Long, taskMs: Long,
      stages: Int, tasks: Int, desc: String)

  final case class Run(query: String, pass: Int, wallS: Double, compiles: Long)

  /** The local property that tags a counted run's jobs with its query;
    * threads a query starts inherit it (stream execution) or capture
    * it (`StreamingOps.inTrigger`). */
  private val QueryKey = "graft.probe.query"

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq).getOrElse(
      sys.error("usage: JobProbe <query[,query...]> [reps]"))
    val reps = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query '$n'")))
    val spark = graft.LocalSession.build()
    val sc = spark.sparkContext

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        jobs.put(e.jobId, JobRow(e.jobId,
          props.flatMap(p => Option(p.getProperty(QueryKey))).getOrElse(""),
          0, 0, e.stageIds.size, 0,
          props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(e.stageInfos.maxBy(_.stageId).name).take(60)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null)
          jobs.put(e.jobId, r.copy(
            wallMs = e.time - jobStart.getOrDefault(e.jobId, e.time)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = stageToJob.getOrDefault(e.stageId, -1)
        val r = jobs.get(j)
        if (r != null && e.taskMetrics != null)
          jobs.put(j, r.copy(
            taskMs = r.taskMs + e.taskMetrics.executorRunTime,
            tasks = r.tasks + 1))
      }
    }

    // Warmup (uncounted), then `reps` counted passes over every query.
    fns.foreach { case (_, fn) => graft.Caches.clearAll(); fn(spark, sfDir).count() }
    sc.addSparkListener(listener)
    val runs = for (pass <- 1 to reps; (name, fn) <- fns) yield {
      graft.Caches.clearAll()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      sc.setLocalProperty(QueryKey, name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() finally sc.setLocalProperty(QueryKey, null)
      val run = Run(name, pass, (System.nanoTime() - t0) / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
      println(f"RUN ${run.query} pass=$pass wall=${run.wallS}%.2fs " +
        s"codegen_compiles=${run.compiles}")
      run
    }
    sc.removeSparkListener(listener)
    Thread.sleep(300) // let the listener bus drain
    runs.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (pass, rs) =>
      println(f"PASS $pass wall=${rs.map(_.wallS).sum}%.2fs " +
        s"codegen_compiles=${rs.map(_.compiles).sum}")
    }
    import scala.jdk.CollectionConverters._
    val byQuery = jobs.values.asScala.toSeq.groupBy(_.query)
    names.foreach(n => report(n, runs.filter(_.query == n),
      byQuery.getOrElse(n, Nil).sortBy(_.id), graft.LocalSession.cpus))
    // A job from a thread that neither inherited nor captured the tag.
    println(s"UNATTRIBUTED jobs=${byQuery.getOrElse("", Nil).size}")
    spark.stop()
  }

  private def report(name: String, runs: Seq[Run], rows: Seq[JobRow],
      cpus: Int): Unit = {
    val reps = runs.size
    println(f"QUERY $name reps=$reps wall=${runs.map(r => f"${r.wallS}%.2f").mkString(",")} " +
      s"codegen_compiles=${runs.map(_.compiles).mkString(",")}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%8s ${"stg"}%4s ${"tasks"}%6s  desc")
    rows.foreach(r => println(
      f"${r.id}%4d ${r.wallMs}%8d ${r.taskMs}%8d ${r.stages}%4d ${r.tasks}%6d  ${r.desc}"))
    val wallSum = rows.map(_.wallMs).sum
    val taskSum = rows.map(_.taskMs).sum
    println(f"TOTAL jobs=${rows.size} jobWallSum=${wallSum}ms taskTimeSum=${taskSum}ms " +
      f"(~${taskSum / cpus.toDouble}%.0fms/core) queryWall=${runs.map(_.wallS).sum / reps * 1000}%.0fms/rep")
  }
}
