package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job-level decomposition of ONE named query: for each Spark job the
  * query launches, its wall-clock, summed task time, stage and task
  * counts — so "where does the time go" separates executor compute
  * from scheduler/driver gaps (wall >> task-sum/cores = the job is
  * overhead-bound, not compute-bound). A job with no description is
  * named by its final stage's call site (`parquet at <file>:<line>`),
  * so schema-inference and write jobs show where they come from.
  * Profiling aid only, like
  * [[QueryProbe]]: `sbt "runMain
  * graft.tools.JobProbe <query> [reps]"`. */
object JobProbe {
  final case class JobRow(id: Int, wallMs: Long, taskMs: Long,
      stages: Int, tasks: Int, desc: String)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq).getOrElse(
      sys.error("usage: JobProbe <query[,query...]> [reps]"))
    val reps = args.drop(1).headOption.flatMap(_.toIntOption).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.LocalSession.cpus
    val spark = graft.LocalSession.build()
    names.foreach(n => probe(spark, n, reps, sfDir, cpus))
    spark.stop()
  }

  private def probe(spark: SparkSession, name: String, reps: Int,
      sfDir: String, cpus: Int): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        jobs.put(e.jobId, JobRow(e.jobId, 0, 0, e.stageIds.size, 0,
          Option(e.properties).flatMap(p =>
              Option(p.getProperty("spark.job.description")))
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

    // Warmup (uncounted), then `reps` counted runs.
    graft.Caches.clearAll()
    fn(spark, sfDir).count()
    spark.sparkContext.addSparkListener(listener)
    val times = (1 to reps).map { _ =>
      graft.Caches.clearAll()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let the listener bus drain
    import scala.jdk.CollectionConverters._
    val rows = jobs.values.asScala.toSeq.sortBy(_.id)
    println(f"QUERY $name reps=$reps wall=${times.map(t => f"$t%.2f").mkString(",")}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%8s ${"stg"}%4s ${"tasks"}%6s  desc")
    rows.foreach(r => println(
      f"${r.id}%4d ${r.wallMs}%8d ${r.taskMs}%8d ${r.stages}%4d ${r.tasks}%6d  ${r.desc}"))
    val wallSum = rows.map(_.wallMs).sum
    val taskSum = rows.map(_.taskMs).sum
    println(f"TOTAL jobs=${rows.size} jobWallSum=${wallSum}ms taskTimeSum=${taskSum}ms " +
      f"(~${taskSum / cpus.toDouble}%.0fms/core) queryWall=${times.sum / reps * 1000}%.0fms/rep")
  }
}
