package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val data: String, val work: Path,
    val seed: Long, val tracer: Tracer, val prepIndex: Int) {
  def trace[T](module: String, op: String)(body: => T): T =
    tracer.span(module, op)(body)
}

/** One timed operation: its id, its kind, its latency and whether it
  * succeeded. */
final case class Op(id: String, kind: String, ms: Double, ok: Boolean)

/** The operations one run timed. A failed operation counts as slower
  * than any limit: its latency is infinite. */
final class Ops(tracer: Tracer) {
  val done = mutable.ArrayBuffer.empty[Op]

  def time[T](kind: String, id: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.span("op", id)(body))
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $id failed: $e")
        None
    }
    done += Op(id, kind, (System.nanoTime() - t0) / 1e6, r.isDefined)
    r
  }

  def attempted: Int = done.size
  def failed: Int = done.count(!_.ok)
}

/** A workload: untimed preparation (repeated for the set-up median),
  * the timed loop, and the correctness checks. */
trait Workload {
  /** Builds what the timed loop needs. Called once per set-up round,
    * each time on a fresh session; only the last round's result is used. */
  def prepare(ctx: Ctx): Unit

  /** Runs operations until `deadlineNs`, at least one. */
  def run(ctx: Ctx, ops: Ops, deadlineNs: Long): Unit

  /** The latency of each timed unit, in ms: the operations themselves
    * unless the workload aggregates repetitions first. */
  def latencies(ops: Ops): Seq[Double] =
    ops.done.map(o => if (o.ok) o.ms else Double.PositiveInfinity).toSeq

  /** Units completed per second of measured time. */
  def rate(ops: Ops, measuredS: Double): Double = ops.done.count(_.ok) / measuredS

  /** Correctness checks, outside every timed region: failures as text. */
  def check(ctx: Ctx, ops: Ops): Seq[String]

  /** Per-layer numbers the workload observes itself (index and stream
    * internals); only collected in the traced run. */
  def layerMetrics(ctx: Ctx, ops: Ops, counts: Map[Int, Counts]): Map[String, Double] = Map.empty

  /** Runs whose per-operation scheduler counts must agree: the
    * traced runs of this workload on this seed. */
  def countsKey(name: String, seed: Long): String = s"$name-seed$seed"

  /** Files the correctness checks outside the JVM read. */
  def export(ctx: Ctx, ops: Ops, out: Path): Unit = ()
}

/** Runs one workload: `--workload w --seed n --seconds s --trace 0|1
  * --data <tables dir> --work <scratch dir> --out <result json>
  * --traces <trace dir>`. `perfbench/run.py` builds this command. */
object Main {
  val Cores = 4
  val SetupRounds = 2

  def session(work: Path, round: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve(s"spark-local-$round").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The same warm-up `graft.Bench` runs before timing. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.read.parquet(s"$data/nation.parquet")
      .groupBy("n_regionkey").count().collect()
    spark.range(1 << 20).selectExpr("sum(id)").collect()
  }

  def workloadFor(name: String): Workload = name match {
    case "batch_dataflows" => new BatchDataflows
    case "stream_admission" => new StreamAdmission
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans
    var ms, n = 0L
    beans.forEach { b => ms += math.max(0L, b.getCollectionTime); n += math.max(0L, b.getCollectionCount) }
    (ms, n)
  }

  private def heapLiveMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Geometric mean: every unit counts equally, however long it runs. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      if (s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  private val started = System.nanoTime()
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2fs $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = workloadFor(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = opts("data")
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))

    // Set-up, repeated on fresh sessions; the reported figure is the
    // median round. Only the last round's session and state are kept.
    val setups = mutable.ArrayBuffer.empty[Double]
    val setupParts = mutable.ArrayBuffer.empty[Seq[Double]]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (round <- 0 until SetupRounds) {
      if (spark != null) {
        graft.Caches.clearAll()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(work, round)
      val t1 = System.nanoTime()
      warmUp(spark, data)
      val t2 = System.nanoTime()
      ctx = new Ctx(spark, data, work, seed,
        new Tracer(spark, traced && round == SetupRounds - 1), round)
      workload.prepare(ctx)
      val t3 = System.nanoTime()
      setups += (t3 - t0) / 1e9
      note(s"set-up round $round done")
      setupParts += Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
    }

    val ops = new Ops(ctx.tracer)
    ctx.tracer.start()
    val (gcMs0, gcN0) = gcTotals()
    val t0 = System.nanoTime()
    workload.run(ctx, ops, t0 + (seconds * 1e9).toLong)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val (gcMs1, gcN1) = gcTotals()
    val counts = ctx.tracer.finish()
    // Before the checks: what they build is the harness's, not state
    // the program keeps.
    val heapMb = if (traced) Double.NaN else heapLiveMb()

    note(s"timed loop done: ${ops.done.size} operations")
    val failures = workload.check(ctx, ops)
    note("checks done")
    workload.export(ctx, ops, out.getParent)
    note("answers exported")
    val lat = workload.latencies(ops)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (percentile(setups.toSeq, 0.5), "s")
      metrics("op_geomean_ms") = (geomean(lat), "ms")
      metrics("ops_per_s") = (workload.rate(ops, measuredS), "1/s")
      metrics("heap_live_mb") = (heapMb, "MB")
    } else {
      Trace.PerLayer.foreach(k => metrics(k) = (0.0, unitOf(k)))
      Trace.moduleMetrics(ctx.tracer, counts, Cores).foreach { case (k, v) =>
        metrics(k) = (v, unitOf(k))
      }
      workload.layerMetrics(ctx, ops, counts).foreach { case (k, v) =>
        metrics(k) = (v, unitOf(k))
      }
      metrics("jvm.gc_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
      metrics("jvm.gc_count") = ((gcN1 - gcN0).toDouble, "count")
      metrics("trace.op_geomean_ms") = (geomean(lat), "ms")
      metrics("trace.ops_per_s") = (workload.rate(ops, measuredS), "1/s")
      TraceFiles.write(ctx.tracer, counts, s"${opts("workload")}-seed$seed",
        workload.countsKey(opts("workload"), seed), Paths.get(opts("traces")), metrics)
    }
    val json = Json.obj(Seq(
      "failures" -> failures,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "ops" -> ops.done.size,
      "measured_s" -> measuredS,
      "setup_rounds_s" -> setups.toSeq,
      "setup_parts_s" -> setupParts.toSeq,
      "op_list" -> ops.done.map(o => Seq(o.id, o.ms, o.ok)).toSeq,
      "metrics" -> JObj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> JObj(Seq("value" -> v, "unit" -> u)) })))
    Files.writeString(out, json)
    note("result written")
    graft.Caches.clearAll()
    spark.stop()
  }

  def unitOf(metric: String): String = {
    val m = metric.substring(metric.lastIndexOf('.') + 1)
    if (m.endsWith("_ms")) "ms"
    else if (m.endsWith("_bytes")) "bytes"
    else if (m.endsWith("_per_s")) "1/s"
    else "count"
  }
}

/** An ordered JSON object. */
final case class JObj(kv: Seq[(String, Any)])

/** Text that is already JSON. */
final case class RawJson(text: String)

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${render(v)}" }.mkString("{", ", ", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case JObj(kv) => obj(kv)
    case RawJson(t) => t
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
