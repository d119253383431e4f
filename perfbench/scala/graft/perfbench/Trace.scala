package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed region: an operation of the workload (module `op`) or one
  * call the harness makes into an engine module. */
final class Span(val id: Int, val module: String, val op: String,
    val parent: Int, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = 0L
  def wallMs: Double = (endNs - startNs) / 1e6
  def contains(t: Long): Boolean = startMs <= t && t <= endMs
}

/** Scheduler counts attributed to one span. */
final class Counts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** One job as the scheduler reported it. */
final case class JobRec(time: Long, group: String, description: String,
    callSite: String)

/** Records what the scheduler ran. Delivery is asynchronous, so the
  * events are kept raw and attributed to spans only after the bus is
  * drained at the end of the timed loop. */
final class SchedulerRecorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** (submission time ms, job group) per submitted stage. */
  val stages = new ConcurrentHashMap[Int, (Long, String)]()
  /** Completed attempts per stage. */
  val stageRuns = new ConcurrentHashMap[Int, Integer]()
  /** Task totals per stage. */
  val taskTotals = new ConcurrentHashMap[Int, Counts]()

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobRec(e.time, prop(e.properties, "spark.jobGroup.id"),
      prop(e.properties, "spark.job.description"),
      prop(e.properties, "callSite.short")))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.putIfAbsent(e.stageInfo.stageId,
      (e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
        prop(e.properties, "spark.jobGroup.id")))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageRuns.merge(e.stageInfo.stageId, 1, (a, b) => a + b)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = taskTotals.computeIfAbsent(e.stageId, _ => new Counts)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Spans around module calls plus the scheduler counts inside them.
  * Disabled, [[span]] only runs its body: the untraced run pays
  * nothing for it. Enabled, each span sets a job group naming it on
  * the calling thread, and every job and stage is attributed to the
  * span its group names. Jobs from threads that do not carry a live
  * span's group (pool threads of the engine's write futures, created
  * under an older group) go to the innermost span open when they were
  * submitted; the traced workloads are single-client, so that span is
  * the caller. Jobs outside every span are counted as unattributed.
  * The scheduler is recorded only between [[start]] and [[finish]],
  * around the timed loop. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val recorder = new SchedulerRecorder
  private var jobSpans: Seq[(Int, JobRec, Int)] = Nil
  private val GroupProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  def start(): Unit = if (enabled) spark.sparkContext.addSparkListener(recorder)

  /** The innermost span open on this thread. */
  def current: Option[Span] = stack.get.headOption

  def span[T](module: String, op: String)(body: => T): T =
    spanUnder(current, module, op)(body)

  /** A span whose parent is `parent`, which may be open on another
    * thread: a stream's micro-batch runs on the stream's thread, under
    * the span that started the stream. */
  def spanUnder[T](parent: Option[Span], module: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = spans.synchronized {
        val s = new Span(spans.size, module, op, parent.fold(-1)(_.id),
          System.currentTimeMillis(), System.nanoTime())
        spans += s
        s
      }
      val saved = GroupProps.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(s"pb-${s.id}", s"$module $op")
      stack.set(s :: stack.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.set(stack.get.tail)
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }

  private def spanFor(time: Long, group: String): Option[Span] = {
    val named = Option(group).filter(_.startsWith("pb-"))
      .flatMap(g => g.drop(3).toIntOption).map(spans(_)).filter(_.contains(time))
    named.orElse(spans.filter(_.contains(time)).maxByOption(_.startNs))
  }

  /** Stops recording once the listener bus has drained, and attributes
    * what was recorded: counts per span id. */
  def finish(): Map[Int, Counts] = {
    if (!enabled) return Map.empty
    val sc = spark.sparkContext
    org.apache.spark.perfbench.BusDrain(sc)
    sc.removeSparkListener(recorder)
    val out = mutable.Map.empty[Int, Counts]
    def at(s: Option[Span]): Option[Counts] =
      s.map(x => out.getOrElseUpdate(x.id, new Counts))
    jobSpans = recorder.jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      val s = spanFor(j.time, j.group)
      at(s).foreach(_.jobs += 1)
      (id, j, s.fold(-1)(_.id))
    }
    recorder.stages.asScala.foreach { case (stageId, (t, g)) =>
      at(spanFor(t, g)).foreach { c =>
        c.stages += Option(recorder.stageRuns.get(stageId)).fold(0)(_.intValue)
        Option(recorder.taskTotals.get(stageId)).foreach(c.add)
      }
    }
    out.toMap
  }

  /** Every recorded job with the span it was attributed to (-1: none). */
  def jobs: Seq[(Int, JobRec, Int)] = jobSpans

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Trace {
  /** The layers the per-layer metrics report, one per engine module. */
  val Modules: Seq[String] = Seq("Relational", "TextCore", "InvertedIndex",
    "PageRank", "SpamClassifier", "Dedup", "Pipeline", "Tokenizer",
    "Similarity", "StreamNearDedup", "StreamKeepBest")

  val ModuleMetrics: Seq[String] = Seq("wall_ms", "jobs", "stages", "tasks",
    "task_ms", "shuffle_bytes", "spill_bytes", "sched_gap_ms")

  /** Every per-layer metric a traced run reports, in order; a layer the
    * workload does not touch reports 0. */
  val PerLayer: Seq[String] =
    Modules.flatMap(m => ModuleMetrics.map(x => s"$m.$x")) ++
      Seq("addBatch_ms", "latestOffset_ms", "queryPlanning_ms", "walCommit_ms",
        "commitOffsets_ms", "engine_overhead_ms", "jobs_per_trigger",
        "state_bytes", "docs_per_s").map("stream." + _) ++
      Seq("jvm.gc_ms", "jvm.gc_count", "trace.op_geomean_ms", "trace.ops_per_s",
        "trace.unattributed_jobs", "trace.ops_compared", "trace.count_mismatches")

  /** Per-module metrics over the traced spans: wall time of the
    * outermost span of each module, scheduler counts of every span of
    * the module, and the scheduler gap `wall - task time / cores`. */
  def moduleMetrics(tracer: Tracer, counts: Map[Int, Counts],
      cores: Int): Map[String, Double] = {
    val spans = tracer.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    def underSame(s: Span): Boolean = {
      var p = s.parent
      while (p >= 0) {
        if (byId(p).module == s.module) return true
        p = byId(p).parent
      }
      false
    }
    Modules.flatMap { m =>
      val own = spans.filter(_.module == m)
      val wall = own.filterNot(underSame).map(_.wallMs).sum
      val c = new Counts
      own.foreach(s => counts.get(s.id).foreach(c.add))
      Seq(
        s"$m.wall_ms" -> wall,
        s"$m.jobs" -> c.jobs.toDouble,
        s"$m.stages" -> c.stages.toDouble,
        s"$m.tasks" -> c.tasks.toDouble,
        s"$m.task_ms" -> c.taskMs.toDouble,
        s"$m.shuffle_bytes" -> c.shuffleBytes.toDouble,
        s"$m.spill_bytes" -> c.spillBytes.toDouble,
        s"$m.sched_gap_ms" -> (wall - c.taskMs.toDouble / cores))
    }.toMap
  }

  /** Jobs/stages/tasks per operation and per span inside it: each
    * span's counts plus its descendants', keyed by the path of ops from
    * the root span (`op`, `op/inner`, ...). */
  def opCounts(tracer: Tracer, counts: Map[Int, Counts]): Seq[(String, Counts)] = {
    val spans = tracer.allSpans
    val path = mutable.Map.empty[Int, String]
    spans.foreach(s => path(s.id) = if (s.parent < 0) s.op else s"${path(s.parent)}/${s.op}")
    val total = mutable.LinkedHashMap.empty[String, Counts]
    spans.foreach(s => total(path(s.id)) = new Counts)
    spans.foreach { s =>
      counts.get(s.id).foreach { c =>
        var p = s.id
        while (p >= 0) { total(path(p)).add(c); p = spans(p).parent }
      }
    }
    total.toSeq
  }

  /** Self time per span: its wall time minus its children's. */
  def selfMs(tracer: Tracer): Map[Int, Double] = {
    val spans = tracer.allSpans
    val child = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.wallMs).sum }
    spans.map(s => s.id -> (s.wallMs - child.getOrElse(s.id, 0.0))).toMap
  }
}

/** The traced run's files and its deterministic-count self-check.
  * Every span goes out with its self time and counts, and every job
  * with its call site and the span it was attributed to. Jobs, stages
  * and tasks per operation are compared two ways: between repetitions
  * of one unit inside the run (`p0:pagerank` and `p1:pagerank`), and
  * with the previous traced run under the same counts key, when there
  * is one. Operations whose counts differ are written out, with the
  * spans inside them that moved, and counted as
  * `trace.count_mismatches`; `trace.ops_compared` counts the
  * comparisons made. */
object TraceFiles {
  import java.nio.file.{Files, Path}

  private def triple(c: Counts): Seq[Int] = Seq(c.jobs, c.stages, c.tasks)

  def write(tracer: Tracer, counts: Map[Int, Counts], name: String,
      countsKey: String, dir: Path,
      metrics: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    Files.createDirectories(dir)
    val self = Trace.selfMs(tracer)
    val t0 = tracer.allSpans.headOption.fold(0L)(_.startNs)
    val spans = tracer.allSpans.map { s =>
      val c = counts.getOrElse(s.id, new Counts)
      JObj(Seq("id" -> s.id, "module" -> s.module, "op" -> s.op,
        "parent" -> s.parent, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> self(s.id),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_ms" -> c.taskMs, "shuffle_bytes" -> c.shuffleBytes,
        "spill_bytes" -> c.spillBytes))
    }
    // The previous run's spans and jobs are kept beside this run's, so
    // a count that moved can be traced to the jobs that moved.
    Seq("spans", "jobs").foreach { kind =>
      val f = dir.resolve(s"$name.$kind.json")
      if (Files.exists(f)) Files.move(f, dir.resolve(s"$name.prev.$kind.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Files.writeString(dir.resolve(s"$name.spans.json"), Json.render(spans))
    Files.writeString(dir.resolve(s"$name.jobs.json"), Json.render(tracer.jobs.map {
      case (id, j, span) => JObj(Seq("job" -> id, "span" -> span,
        "group" -> j.group, "call_site" -> j.callSite,
        "description" -> Option(j.description).map(_.replace('\n', ' '))))
    }))
    val unattributed = tracer.jobs.count(_._3 < 0)
    if (unattributed > 0)
      System.err.println(s"[perfbench] $unattributed jobs ran outside every span")
    metrics("trace.unattributed_jobs") = (unattributed.toDouble, "count")

    val now = Trace.opCounts(tracer, counts).map { case (op, c) => op -> triple(c) }
    val isRoot = tracer.allSpans.filter(_.parent < 0).map(_.op).toSet
    val moved = mutable.ArrayBuffer.empty[(String, String, Seq[Int], Seq[Int])]
    var compared = 0
    // Inside the run: repetitions of one unit, keyed by the op id
    // without its repetition prefix.
    val byUnit = now.groupBy { case (op, _) =>
      val i = op.indexOf(':'); if (i < 0) op else op.substring(i + 1)
    }
    byUnit.toSeq.sortBy(_._1).foreach { case (_, reps) =>
      val sorted = reps.sortBy(_._1)
      val (firstOp, first) = sorted.head
      sorted.tail.foreach { case (op, c) =>
        if (isRoot(op)) compared += 1
        if (c != first) moved += ((op, firstOp, first, c))
      }
    }
    // Against the previous traced run with the same key.
    val countsFile = dir.resolve(s"$countsKey.counts.json")
    val before: Map[String, Seq[Int]] =
      if (!Files.exists(countsFile)) Map.empty
      else """"([^"]+)": \[(\d+), (\d+), (\d+)\]""".r
        .findAllMatchIn(Files.readString(countsFile))
        .map(m => m.group(1) -> Seq(m.group(2), m.group(3), m.group(4)).map(_.toInt))
        .toMap
    now.foreach { case (op, c) =>
      before.get(op).foreach { b =>
        if (isRoot(op)) compared += 1
        if (b != c) moved += ((op, "previous run", b, c))
      }
    }
    Files.writeString(dir.resolve(s"$name.count_mismatches.json"), Json.render(moved.map {
      case (op, against, b, c) => JObj(Seq("op" -> op, "against" -> against,
        "before" -> b, "now" -> c))
    }))
    moved.foreach { case (op, against, b, c) =>
      System.err.println(s"[perfbench] counts of $op differ from $against: $b -> $c (jobs, stages, tasks)")
    }
    Files.writeString(countsFile, Json.obj(now))
    metrics("trace.ops_compared") = (compared.toDouble, "count")
    metrics("trace.count_mismatches") = (moved.count(m => isRoot(m._1)).toDouble, "count")
  }
}
