package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{StreamKeepBest, StreamNearDedup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** `stream_admission`: near-dedup admission and keep-best admission
  * under the Structured Streaming engine. Set-up stages [[Batches]]
  * parquet files, one per micro-batch, each a seeded slice of the
  * documents plus seeded near-duplicates of documents from earlier
  * batches; the stream drains them with `maxFilesPerTrigger = 1`. One
  * epoch runs the near-dedup stream and then the keep-best stream over
  * the staged files, each from empty state. Every batch after the
  * first probes the state the earlier ones left, so the cross-batch
  * admission path runs. The in-memory fold every 8 triggers is not
  * reached: two streams of 8 triggers and their check take longer than
  * the benchmark's time limit allows a run. A unit is one micro-batch:
  * its latency is the engine's `triggerExecution` time. */
final class StreamAdmission extends Workload {
  import StreamAdmission._

  private var src: Path = _
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val stateBytes = mutable.ArrayBuffer.empty[Double]
  private var streamS = 0.0
  private var epoch0: Option[(String, String)] = None

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) progress.synchronized {
        progress += Progress(p.name, p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    src = ctx.work.resolve(s"stream_src_${ctx.prepIndex}")
    stage(spark, batches(spark, ctx.data, ctx.seed), src, ctx.work)
    progress.clear(); stateBytes.clear(); streamS = 0.0; epoch0 = None
  }

  private def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      StreamNearDedup.triggerShufflePartitions(spark).toString)
    ss.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    ss.streams.addListener(listener)
    ss
  }

  /** One drained stream over the staged files into a fresh state
    * directory; returns that directory. */
  private def runStream(ctx: Ctx, module: String, name: String)(
      sink: (SparkSession, String) => ((DataFrame, Long) => Unit)): String = {
    val spark = ctx.spark
    val ss = streamSession(spark)
    val state = ctx.work.resolve(s"$name-state").toString
    val ckpt = ctx.work.resolve(s"$name-ckpt").toString
    val onBatch = sink(ss, state)
    // Each micro-batch is a span under the one that runs the stream, so
    // the traced run counts jobs per trigger.
    val streamSpan = ctx.tracer.current
    val q = ss.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
      .select(col("doc_id"), col("text"))
      .writeStream
      .queryName(name)
      .foreachBatch((b: DataFrame, id: Long) =>
        ctx.tracer.spanUnder(streamSpan, module, s"batch$id")(onBatch(b, id)))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    Main.note(s"stream $name drained, trigger ms: " + progress.synchronized(progress.toList)
      .filter(_.query == name).map(_.durations.getOrElse("triggerExecution", 0L)).mkString(" "))
    ss.streams.removeListener(listener)
    state
  }

  private def runNearDedup(ctx: Ctx, name: String): String =
    runStream(ctx, "StreamNearDedup", name) { (ss, state) =>
      val acc = new StreamNearDedup.PersistentAccumulator(ss, state)
      acc.onBatch
    }

  private def runKeepBest(ctx: Ctx, name: String): String =
    runStream(ctx, "StreamKeepBest", name) { (ss, state) =>
      val acc = new StreamKeepBest.PersistentKeepBest(ss, state)
      acc.onBatch
    }

  def run(ctx: Ctx, ops: Ops, deadlineNs: Long): Unit = {
    var e = 0
    while (e == 0 || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      val nd = ops.time("neardedup", s"$e:neardedup") {
        ctx.trace("StreamNearDedup", s"epoch$e")(
          runNearDedup(ctx, s"nd$e"))
      }
      val kb = ops.time("keepbest", s"$e:keepbest") {
        ctx.trace("StreamKeepBest", s"epoch$e")(
          runKeepBest(ctx, s"kb$e"))
      }
      streamS += (System.nanoTime() - t0) / 1e9
      (nd ++ kb).foreach(d => stateBytes += dirBytes(new File(d)))
      (nd, kb) match {
        case (Some(a), Some(b)) if e == 0 => epoch0 = Some((a, b))
        case _ => (nd ++ kb).foreach(d => deleteTree(new File(d)))
      }
      e += 1
    }
  }

  override def latencies(ops: Ops): Seq[Double] =
    progress.map(_.durations.getOrElse("triggerExecution", 0L).toDouble).toSeq ++
      Seq.fill(ops.failed)(Double.PositiveInfinity)

  override def rate(ops: Ops, measuredS: Double): Double = progress.size / streamS

  /** Both admission streams of the first epoch against the same batches
    * admitted one after another in batch mode. The two replays are
    * independent and run concurrently. */
  def check(ctx: Ctx, ops: Ops): Seq[String] = epoch0 match {
    case None => Seq("the first epoch did not complete")
    case Some((ndState, kbState)) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val spark = ctx.spark
      val files = (0 until Batches).map(k => src.resolve(f"batch$k%02d.parquet").toString)
      def batch(k: Int) = spark.read.parquet(files(k)).select(col("doc_id"), col("text"))

      val nearDedup = Future {
        val seq = new StreamNearDedup.Accumulator(spark)
        files.indices.foreach(k => seq.onBatch(batch(k), k.toLong))
        val want = rows(seq.admitted.select(col("doc_id"), col("batch_id")))
        val got = rows(StreamNearDedup.readAdmitted(spark, ndState)
          .select(col("doc_id"), col("batch_id")))
        if (got == want) None
        else Some(s"near-dedup admitted ${got.size} rows, batch mode ${want.size}; " +
          s"differ on ${(got.diff(want) ++ want.diff(got)).take(5)}")
      }
      val keepBest = Future {
        var bands = StreamKeepBest.emptyBands(spark)
        var canon = StreamKeepBest.emptyCanon(spark)
        val events = mutable.ArrayBuffer.empty[DataFrame]
        files.indices.foreach { k =>
          val (ev0, keys) = StreamKeepBest.keepBestBatch(spark, batch(k), bands, canon)
          val ev = ev0.localCheckpoint()
          events += ev.withColumn("batch_id", lit(k.toLong))
          val winners = ev.filter(col("action") =!= "drop")
            .select(col("comp"), col("doc_id"), col("quality"))
          bands = bands.unionByName(keys.join(winners.select(col("doc_id"), col("comp")), Seq("doc_id"))
            .select(col("band_idx"), col("band_key"), col("comp"))).localCheckpoint()
          canon = StreamKeepBest.resolveLatest(Seq(winners, canon)).localCheckpoint()
        }
        val evCols = Seq("doc_id", "comp", "action", "batch_id").map(col)
        val want = rows(events.reduce(_ unionByName _).select(evCols: _*))
        val got = rows(StreamKeepBest.readEvents(spark, kbState).select(evCols: _*))
        val staged = files.indices.map(batch(_).count()).sum
        Seq(
          if (got != want) Some(s"keep-best events ${got.size} rows, batch mode ${want.size}; " +
            s"differ on ${(got.diff(want) ++ want.diff(got)).take(5)}") else None,
          if (got.size != staged) Some(s"keep-best logged ${got.size} events for $staged docs") else None,
        ).flatten
      }
      Await.result(nearDedup, Duration.Inf).toSeq ++ Await.result(keepBest, Duration.Inf)
  }

  override def layerMetrics(ctx: Ctx, ops: Ops, counts: Map[Int, Counts]): Map[String, Double] = {
    def dur(k: String) = mean(progress.map(_.durations.getOrElse(k, 0L).toDouble))
    val spans = ctx.tracer.allSpans
      .filter(s => s.module == "StreamNearDedup" || s.module == "StreamKeepBest")
    val jobs = spans.flatMap(s => counts.get(s.id)).map(_.jobs).sum
    Map(
      "stream.addBatch_ms" -> dur("addBatch"),
      "stream.latestOffset_ms" -> dur("latestOffset"),
      "stream.queryPlanning_ms" -> dur("queryPlanning"),
      "stream.walCommit_ms" -> dur("walCommit"),
      "stream.commitOffsets_ms" -> dur("commitOffsets"),
      "stream.engine_overhead_ms" -> mean(progress.map(p =>
        (p.durations.getOrElse("triggerExecution", 0L) - p.durations.getOrElse("addBatch", 0L)).toDouble)),
      "stream.jobs_per_trigger" -> (if (progress.isEmpty) 0.0 else jobs.toDouble / progress.size),
      "stream.state_bytes" -> mean(stateBytes),
      "stream.docs_per_s" -> progress.map(_.rows).sum / streamS)
  }
}

object StreamAdmission {
  val Batches = 5
  val DocsPerBatch = 25
  val DupsPerBatch = 6

  final case class Progress(query: String, batchId: Long, rows: Long, durations: Map[String, Long])

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The seeded micro-batches: the first `Batches * DocsPerBatch`
    * documents by doc_id, in a seeded order, cut into [[Batches]] slices
    * of [[DocsPerBatch]]. Every seed stages the same documents, so the
    * work a run does varies little with the seed. Every batch after
    * the first also carries [[DupsPerBatch]] near-duplicates (one token
    * replaced, one appended) of documents from earlier batches, under
    * fresh doc_ids. */
  def batches(spark: SparkSession, data: String, seed: Long): Seq[Seq[(Long, String)]] = {
    val docs = graft.Tables.documents(spark, data).select(col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val rng = new scala.util.Random(seed)
    val slices = rng.shuffle(docs.take(Batches * DocsPerBatch)).grouped(DocsPerBatch).toSeq
    val seen = mutable.ArrayBuffer.empty[(Long, String)]
    slices.zipWithIndex.map { case (slice, k) =>
      val dups = if (k == 0) Nil else (0 until DupsPerBatch).map { j =>
        val (_, text) = seen(rng.nextInt(seen.size))
        val toks = text.split(" ")
        toks(rng.nextInt(toks.length)) = toks(rng.nextInt(toks.length))
        (1000000L + k * 1000L + j, (toks :+ "dup").mkString(" "))
      }
      seen ++= slice
      slice ++ dups
    }
  }

  /** Writes batch k as `batchKK.parquet` under `dest`, with file times
    * increasing in k so the file source lists them in batch order. */
  def stage(spark: SparkSession, bs: Seq[Seq[(Long, String)]], dest: Path, work: Path): Unit = {
    val rowsWithBatch = bs.zipWithIndex.flatMap { case (b, k) => b.map { case (id, t) => Row(id, t, k) } }
    val schema = DocSchema.add(StructField("batch", IntegerType, nullable = false))
    val tmp = work.resolve(dest.getFileName.toString + "-tmp")
    spark.createDataFrame(java.util.Arrays.asList(rowsWithBatch: _*), schema)
      .repartition(col("batch")).write.partitionBy("batch").parquet(tmp.toString)
    Files.createDirectories(dest)
    bs.indices.foreach { k =>
      val part = Option(tmp.resolve(s"batch=$k").toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"batch $k staged as ${part.length} files")
      val target = dest.resolve(f"batch$k%02d.parquet")
      Files.move(part.head.toPath, target, StandardCopyOption.REPLACE_EXISTING)
      require(target.toFile.setLastModified(1000000000000L + k * 60000L),
        s"could not set the file time of $target")
    }
    deleteTree(tmp.toFile)
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.isFile) f.length
    else 0L

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
