package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark session startup dominates test time otherwise). */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest fixture scale — smoke/property tests only. */
  val SF_DIR = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier.
  val spark: SparkSession = SparkSpecBase.spark
  val sfDir: String = SparkSpecBase.SF_DIR

  /** The job-group ids of the jobs each call starts, per call tag: each
    * call runs under its own job group, and a fence job after it cuts
    * the ordered job starts into per-call segments, so a job that lost
    * its group still lands in its call's segment. */
  protected def jobsPerCall(calls: Seq[(String, () => Any)]): Map[String, Vector[String]] =
    jobStartsPerCall(calls).map { case (g, jobs) => g -> jobs.map(_._1) }

  /** [[jobsPerCall]]'s jobs named instead by their final stage's call
    * site (`collect at <file>:<line>`). */
  protected def callSitesPerCall(calls: Seq[(String, () => Any)]): Map[String, Vector[String]] =
    jobStartsPerCall(calls).map { case (g, jobs) => g -> jobs.map(_._2) }

  /** (job-group id, final-stage call site) of each job each call starts. */
  private def jobStartsPerCall(calls: Seq[(String, () => Any)])
      : Map[String, Vector[(String, String)]] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""), e.stageInfos.maxBy(_.stageId).name))
    }
    def fence(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      fence("fence-start")
      calls.foreach { case (g, call) =>
        sc.setJobGroup(g, g)
        try call() finally sc.clearJobGroup()
        fence(s"fence-$g")
      }
      val last = s"fence-${calls.last._1}"
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_._1 == last) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = jobs.asScala.toVector.dropWhile(_._1 != "fence-start").drop(1)
      calls.map(_._1).foldLeft((seen, Map.empty[String, Vector[(String, String)]])) {
        case ((rest, acc), g) =>
          val (seg, tail) = rest.span(_._1 != s"fence-$g")
          (tail.drop(1), acc + (g -> seg))
      }._2
    } finally sc.removeSparkListener(listener)
  }
}

