package graft.streaming

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Per-key trending state (the reference's `mapWithState` tuple
  * `(curCount, "%08d" time, prevCount)` — `TrendingArrivals.scala:86-98`). */
final case class TrendState(prev: Long, cur: Long, lastWindowMs: Long)

/** One windowed count row flowing into the trending state machine. */
final case class WindowCount(event_type: String, window_start: java.sql.Timestamp, cnt: Long)

/** One raw event row flowing into the RAW trending state machine —
  * `event_id == -1` marks a PUNCTUATION row (a watermark tick staged
  * after the data: it closes the key's open window without being
  * counted, the raw-source analogue of watermark-driven emission). */
final case class RawEvent(event_id: Long, event_type: String, ts: java.sql.Timestamp)

/** Per-key state of the raw trending machine: the LAST CLOSED window's
  * count `cur` (the next close's prev_cnt) plus the currently OPEN
  * 10-min window's start and running count (`openMs == Long.MinValue`
  * when none is open). */
final case class TrendRawState(cur: Long, openMs: Long, openCnt: Long)

/** Trending output: current vs previous window + doubling alert. */
final case class TrendOut(event_type: String, window_start: java.sql.Timestamp,
    cnt: Long, prev_cnt: Long, is_alert: Boolean)

/** Streaming analytics — the reference's DStream trio
  * (`/root/reference/Spark/Spark Streaming/EventCount.scala:66-71`,
  * `RegionEventCount.scala:85-96`, `TrendingArrivals.scala:86-118`)
  * re-expressed on Structured Streaming.
  *
  * Deliberate semantics shift (SURVEY §2.9, §7.3): the reference is
  * processing-time with a manual clock and a mock file-queue; here time
  * is the event-time column `events.ts` with a watermark. Capability is
  * preserved — identical windowed counts and alert conditions on the
  * same data — while the mechanism is the incremental Catalyst plan.
  *
  * Each transform is written against a plain DataFrame so the SAME
  * function serves both the batch-replay query (DuckDB-oracle-checked,
  * below) and the streaming path (`readStream`/`MemoryStream` in
  * StreamingSpec — Structured Streaming's unified API). `withWatermark`
  * is a no-op on batch inputs.
  *
  * The trending pipeline is two stages, as in the reference (windowed
  * reduce, then keyed state): (1) tumbling 10-min counts per key;
  * (2) a `flatMapGroupsWithState` state machine holding (prev, cur)
  * per key that emits the doubling alert (cur ≥ 10 ∧ cur ≥ 2·prev —
  * `TrendingArrivals.scala:93-96`). The batch-replay form expresses
  * stage 2 as `lag() OVER (PARTITION BY key ORDER BY window)` — same
  * result when windows arrive in order, which the oracle asserts; the
  * state-machine form is exercised in StreamingSpec and must agree
  * with the lag form (tested).
  *
  * 100 TB posture: all state is bounded per (key, window); the
  * watermark lets the state store evict closed windows; counts are
  * partial-aggregated before the shuffle.
  */
object StreamingOps extends QueryModule {

  val WATERMARK = "2 hours"
  /** Doubling-alert thresholds (reference `TrendingArrivals.scala:93`). */
  val ALERT_MIN = 10L

  // --- shared transforms (batch + streaming) -----------------------------

  /** Tumbling 60-min event counts (`EventCount.scala:66-71`). */
  def eventCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", WATERMARK)
      .groupBy(window(col("ts"), "60 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("cnt"))

  /** Sliding-window geometry: SLIDE_DUR_MIN-minute windows advancing
    * every SLIDE_STEP_MIN minutes, so every event belongs to exactly
    * duration/step overlapping windows (the step must divide the
    * duration — Spark's own window() requirement for the member-window
    * explode the oracle mirrors). Oracle and query both derive from
    * these two ints, so retuning the geometry cannot desynchronize
    * them. */
  val SLIDE_DUR_MIN = 60
  val SLIDE_STEP_MIN = 30
  require(SLIDE_DUR_MIN % SLIDE_STEP_MIN == 0,
    "sliding-window step must divide the duration")
  val SLIDE_DURATION = s"$SLIDE_DUR_MIN minutes"
  val SLIDE_STEP = s"$SLIDE_STEP_MIN minutes"

  /** SLIDING 60-min counts every 30 min — the overlapping-window form
    * of [[eventCounts]] (`window(ts, dur, slide)`), the moving-average
    * shape the tumbling queries can't express. Same unified API: the
    * one definition serves batch replay and the live engine, and the
    * state cost is bounded — each event feeds exactly 2 window groups
    * (the engine explodes it into its member windows BEFORE the
    * partial aggregation, so the shuffle carries 2 pre-aggregated
    * rows per (window, partition), not 2× the events) and the
    * watermark evicts closed windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", WATERMARK)
      .groupBy(window(col("ts"), SLIDE_DURATION, SLIDE_STEP))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("cnt"))

  /** Region tag via conditional extraction (`RegionEventCount.scala:85-91`
    * — the fixture has no coordinates, so the bbox predicate becomes an
    * event_type partition, FIXTURES.md). */
  def withRegion(events: DataFrame): DataFrame =
    events.withColumn("region",
      when(col("event_type").isin("click", "view"), "web")
        .when(col("event_type").isin("purchase", "signup"), "txn")
        .otherwise("ops"))

  /** Tumbling 60-min counts per region (`RegionEventCount.scala:85-96`). */
  def regionEventCounts(events: DataFrame): DataFrame =
    withRegion(events).withWatermark("ts", WATERMARK)
      .groupBy(window(col("ts"), "60 minutes"), col("region"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("region"), col("cnt"))

  /** Stage 1 of trending: tumbling 10-min counts per event type
    * (`TrendingArrivals.scala:108-109`). */
  def trendingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", WATERMARK)
      .groupBy(col("event_type"), window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("window.start").as("window_start"), col("cnt"))

  /** Stage 2, state-machine form: per-key (prev, cur) state + doubling
    * alert. Works on streaming Datasets (Update mode) and batch
    * Datasets (groups sorted in-function so batch replay is
    * deterministic). */
  def trendingStateMachine(counts: Dataset[WindowCount]): Dataset[TrendOut] = {
    import counts.sparkSession.implicits._
    counts.groupByKey(_.event_type)
      .flatMapGroupsWithState[TrendState, TrendOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[WindowCount], state: GroupState[TrendState]) =>
          // Batch hands the whole group at once in arbitrary order;
          // streaming hands one window per trigger. Sorting keeps both
          // paths identical for in-order arrival.
          val ordered = rows.toSeq.sortBy(_.window_start.getTime)
          val out = Seq.newBuilder[TrendOut]
          var st = state.getOption.getOrElse(TrendState(0L, 0L, Long.MinValue))
          ordered.foreach { r =>
            st = TrendState(prev = st.cur, cur = r.cnt, lastWindowMs = r.window_start.getTime)
            out += TrendOut(key, r.window_start, r.cnt, st.prev,
              r.cnt >= ALERT_MIN && r.cnt >= 2 * st.prev)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** The 10-min tumbling window length the raw machine folds inline. */
  val TREND_WINDOW_MS = 600000L

  /** The trending pipeline consumed from RAW EVENTS in ONE stateful
    * operator — the reference's DStream shape (`TrendingArrivals
    * .scala:99-110` counts arrivals and trends them in the same
    * per-key state pass). Structured Streaming cannot chain a
    * stateful op after a streaming aggregation, so instead of staging
    * pre-aggregated counts the 10-min WINDOW COUNTING moves INSIDE
    * `flatMapGroupsWithState` state: each key's state holds the open
    * window's running count next to the (prev, cur) trend tuple; an
    * event belonging to a LATER window closes the open one — emitting
    * its TrendOut exactly once — because the in-ts-order source
    * contract (range-sliced files, sorted within batch) guarantees a
    * closed window can never receive another event. A trailing
    * punctuation row per key ([[RawEvent]] `event_id == -1`) closes
    * the final window at end-of-stream, the role the engine's
    * watermark plays for its own stateful operators. State is O(1)
    * per key — strictly smaller than the windowed-aggregate form,
    * which retains every window until eviction. */
  def trendingRawStateMachine(events: Dataset[RawEvent]): Dataset[TrendOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[TrendRawState, TrendOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[RawEvent], state: GroupState[TrendRawState]) =>
          val ordered = rows.toSeq.sortBy(_.ts.getTime)
          val out = Seq.newBuilder[TrendOut]
          var st = state.getOption
            .getOrElse(TrendRawState(0L, Long.MinValue, 0L))
          def close(): Unit = if (st.openMs != Long.MinValue) {
            val prev = st.cur
            out += TrendOut(key, new java.sql.Timestamp(st.openMs),
              st.openCnt, prev,
              st.openCnt >= ALERT_MIN && st.openCnt >= 2 * prev)
            st = TrendRawState(st.openCnt, Long.MinValue, 0L)
          }
          ordered.foreach { r =>
            if (r.event_id == -1L) close()
            else {
              val wMs = r.ts.getTime - Math.floorMod(r.ts.getTime, TREND_WINDOW_MS)
              if (st.openMs == wMs)
                st = st.copy(openCnt = st.openCnt + 1)
              else {
                close()
                st = st.copy(openMs = wMs, openCnt = 1L)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Stage 2, lag form (SQL-expressible batch replay). */
  def trendingLag(counts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("window_start"))
    counts
      .withColumn("prev_cnt", lag(col("cnt"), 1, 0L).over(w))
      .withColumn("is_alert",
        col("cnt") >= ALERT_MIN && col("cnt") >= lit(2) * col("prev_cnt"))
  }

  /** Sessionization: per-user session windows with a 30-min inactivity
    * gap (`session_window` — the extension op SURVEY §2.9 reserves;
    * works identically on batch and, with the watermark, streaming).
    * Session end = last event + gap, per Spark's definition. */
  val SESSION_GAP = "30 minutes"

  def userSessions(events: DataFrame, watermarked: Boolean = true): DataFrame =
    (if (watermarked) events.withWatermark("ts", WATERMARK) else events)
      .groupBy(col("user_id"), session_window(col("ts"), SESSION_GAP))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming ingest dedup — the stream half of the exact-dedup story
    * (`Pipeline.exactDedup` is the batch half): keep the FIRST event
    * per (user_id, event_type), dropping later duplicates, with state
    * bounded by the watermark (`dropDuplicatesWithinWatermark` evicts
    * keys once they age out — the only way a dedup state survives an
    * unbounded stream). StreamingSpec feeds it in event-time order and
    * checks it against [[firstTouch]], the deterministic batch form. */
  def streamingDedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", WATERMARK)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Deterministic batch form of first-touch dedup: first event time +
    * duplicate count per key (min/count, order-independent). */
  def firstTouch(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_ts"), count(lit(1)).as("n_dups"))

  // --- batch-replay queries (driver oracle gate) -------------------------

  def eventCountHourly(spark: SparkSession, dir: String): DataFrame =
    eventCounts(Tables.events(spark, dir)).orderBy(col("window_start"))

  // --- stream_hourly_live: the actual streaming engine, wall-clocked ----

  /** The events table staged as a multi-file source directory (8
    * range-partitioned files → 8 micro-batches under
    * `maxFilesPerTrigger = 1`), written once per (session, sf) — input
    * staging, not memoized compute, so it deliberately is NOT
    * registered with [[graft.Caches]]: the bench must time the
    * streaming run, not a parquet copy. */
  private val staged = new graft.SessionMemo[(String, String), String]

  /** Stage `build`'s output once per (session, sfDir) under a fresh
    * temp dir and return the path — shared by every file-source live
    * query (events here, documents in [[StreamNearDedup]]). */
  private[streaming] def stageOnce(spark: SparkSession, dir: String,
      prefix: String)(build: => DataFrame): String =
    staged.getOrElseUpdate(spark, (dir, prefix)) {
      val dest = graft.Scratch.dir(prefix).toString
      build.write.mode("overwrite").parquet(dest)
      dest
    }

  private[graft] def stagedEventsDir(spark: SparkSession, dir: String): String =
    stageOnce(spark, dir, "graft_stream_src_") {
      Tables.events(spark, dir).repartitionByRange(8, col("ts"))
    }

  /** The events as [[Tables.events]] loads them (`ts` the
    * session-timezone TIMESTAMP): [[stagedEventsDir]]'s files, and the
    * declared schema each events-staged live query hands [[drain]]. */
  private[graft] val EventsSource = StructType(Tables.schemas("events").map(f =>
    if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  /** [[stagedSessionsDir]]'s files. */
  private[graft] val SessionsSource =
    StructType(Seq("user_id", "ts").map(EventsSource(_)))
  /** [[stagedTrendingDir]]'s files. */
  private[graft] val TrendingSource =
    StructType(Seq("event_id", "event_type", "ts").map(EventsSource(_)))

  private val liveRuns = new java.util.concurrent.atomic.AtomicLong()

  /** The SAME hourly windowed count, but executed by the live streaming
    * engine: file-queue source paced one file per micro-batch,
    * `Trigger.AvailableNow`, checkpointed state store, complete-mode
    * memory sink. Complete mode retains every window in state (the
    * watermark only governs eviction in append/update), so the final
    * result table equals the batch replay REGARDLESS of the order the
    * source lists files in — which is what lets this query share
    * `event_count_hourly`'s DuckDB oracle and gives the bench a
    * wall-time number for the streaming engine itself. */
  def streamHourlyLive(spark: SparkSession, dir: String): DataFrame =
    runLive(spark, stagedEventsDir(spark, dir), EventsSource,
      "stream_hourly_live", "complete")(eventCounts)
      .orderBy(col("window_start"))

  /** The shared live-run scaffold every memory-sink gate query rides
    * (hourly counts, session windows): [[drain]] at 4 shuffle
    * partitions, result re-materialized in the CALLER's session.
    *
    * State-partition count is fixed by the FIRST batch's shuffle
    * partitions and every micro-batch commits one store per state
    * partition: 32 partitions for a 720-window aggregate is pure
    * checkpoint-file overhead (measured 13s → ~half at 8; 4 shaves
    * another ~15% and the hundreds of windows per store are still
    * trivial). Non-append gates skip the terminal no-data batch:
    * complete mode re-emits the full table every trigger, so the
    * watermark-advance batch changes nothing but costs a full
    * trigger's bookkeeping. Append-mode gates KEEP it — it is the
    * terminal watermark advance that seals their final sessions, and
    * there the memory sink accumulates only what the watermark has
    * SEALED and emitted, which is the eviction semantics under test. */
  private def runLive(spark: SparkSession, src: String, schema: StructType,
      namePrefix: String, mode: String)(
      build: DataFrame => DataFrame): DataFrame =
    memoryRows(spark, namePrefix, src, schema,
      if (mode == "append") Map.empty else noDataBatchesOff)(
      build(_).writeStream.outputMode(mode))

  /** Skip the terminal no-data micro-batch (see [[runLive]]). */
  private val noDataBatchesOff =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** [[drain]] into a memory sink at 4 shuffle partitions, then
    * re-materialize its rows in the CALLER's session, so the sink view
    * and the checkpoint are reclaimed before returning — repeated
    * bench invocations used to leak both for the session's lifetime.
    * The collect is bounded at O(result rows) BY THE MEMORY SINK'S OWN
    * CONTRACT (it holds the result table on the driver); at 100 TB the
    * production form is the parquet/foreachBatch sink FileStreamSpec
    * exercises — these queries' job is to wall-clock the live engine
    * on a driver-safe aggregate. */
  private def memoryRows(spark: SparkSession, namePrefix: String, src: String,
      schema: StructType, confs: Map[String, String])(
      sink: DataFrame => DataStreamWriter[_]): DataFrame = {
    val name = s"${namePrefix}_${liveRuns.incrementAndGet()}"
    val ckpt = graft.Scratch.dir("graft_stream_ckpt_")
    val (outSchema, rows) =
      try {
        val q = drain(spark, src, schema, ckpt.toString, 4, confs) { (_, in) =>
          sink(in).format("memory").queryName(name)
        }
        val ss = q.sparkSession
        try {
          val out = ss.table(name)
          (out.schema, out.collect().toSeq)
        } finally ss.catalog.dropTempView(name)
      } finally deleteRecursively(ckpt)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema)
  }

  /** The one live-run scaffold: drain the parquet files under `src`
    * through the live engine to `sink` and return the terminated
    * query. It runs in an isolated `newSession` (the caller's session
    * conf and catalog are never touched) with `shufflePartitions`
    * sized to one micro-batch's delta, `confs` on top, checkpoint
    * retention trimmed to 2 (the default keeps 100 versions), a file
    * source under `schema` — the caller staged the files, so it
    * declares their schema and no inference job runs; `paced` to one
    * file per micro-batch unless told otherwise — checkpointed at
    * `ckpt`, under `Trigger.AvailableNow`. `sink` gets the session and
    * the source and returns the writer; its `start` and termination
    * wait happen here, with `stop` on every exit. */
  private[graft] def drain(spark: SparkSession, src: String,
      schema: StructType, ckpt: String,
      shufflePartitions: Int, confs: Map[String, String] = Map.empty,
      paced: Boolean = true)(
      sink: (SparkSession, DataFrame) => DataStreamWriter[_]): StreamingQuery = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    ss.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    val reader = ss.readStream.schema(schema)
    val in = (if (paced) reader.option("maxFilesPerTrigger", 1) else reader)
      .parquet(src)
    val q = sink(ss, in)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    q
  }

  // --- stream_sessions_live: session-window merging, live ----------------

  /** [[userSessions]] executed by the live streaming engine — the
    * last streaming family without a live gate entry (hourly, trending
    * and near-dedup already run live). The interesting state path is
    * SESSION MERGING: the staged source is range-partitioned by ts, so
    * a user's session spanning a file boundary arrives as two
    * fragments in different micro-batches and the session-window state
    * store must merge them — exactly what distinguishes session state
    * from the tumbling aggregate's per-window counters. Complete mode
    * retains every session in state, so the final table equals the
    * batch replay regardless of file-listing order and the query
    * shares `user_sessions`' gaps-and-islands oracle (the
    * streamHourlyLive contract). Driver-side result size is
    * O(sessions) by the memory sink's own complete-mode contract; the
    * production sink is foreachBatch/parquet (FileStreamSpec). */
  def streamSessionsLive(spark: SparkSession, dir: String): DataFrame =
    // No watermark: complete mode retains all session state anyway,
    // and the session operator's late-row filter would otherwise drop
    // batch-boundary fragments (measured: 832 of 946 sessions survive
    // watermarked at sf0.001) — eviction semantics belong to the
    // append-mode path StreamingSpec covers.
    runLive(spark, stagedEventsDir(spark, dir), EventsSource,
      "stream_sessions_live", "complete")(userSessions(_, watermarked = false))
      .orderBy(col("user_id"), col("session_start"))

  // --- stream_sessions_append: watermark-evicted sessions, live ----------

  /** Micro-batches for the append-mode session gate: enough that
    * eviction happens incrementally across the run (the watermark
    * advances batch over batch and seals sessions as it passes them),
    * not just at the terminal no-data batch. */
  val SESSION_BATCHES = 6

  private val sessStaged = new graft.SessionMemo[String, String]

  /** Events staged as [[SESSION_BATCHES]] ts-range slices with strictly
    * increasing fixed mtimes ([[stageSlicedFiles]]) — oldest-first
    * listing then delivers batches in event-time order, so no row is
    * ever late behind the watermark (slice k+1's minimum ts exceeds
    * slice k's maximum, and the watermark lags the max by
    * [[WATERMARK]]): every divergence from the batch replay is
    * EVICTION semantics, not late-drop noise. */
  private[graft] def stagedSessionsDir(spark: SparkSession,
      dir: String): String =
    sessStaged.getOrElseUpdate(spark, dir) {
      val dest = graft.Scratch.dir("graft_sess_paced_")
      val raw = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"))
      val bounds = raw.agg(
        min(unix_timestamp(col("ts"))).as("lo"),
        max(unix_timestamp(col("ts"))).as("hi"))
      val sliced = raw.crossJoin(broadcast(bounds))
        .withColumn("slice", least(lit(SESSION_BATCHES - 1),
          floor((unix_timestamp(col("ts")) - col("lo"))
            .cast("double") * SESSION_BATCHES / (col("hi") - col("lo") + 1))
          .cast("int")))
        .select(col("user_id"), col("ts"), col("slice"))
        .localCheckpoint()
      stageSlicedFiles(dest, (0 until SESSION_BATCHES).map(k =>
        sliced.filter(col("slice") === k).drop("slice")))
      dest.toString
    }

  /** Gate query: [[userSessions]] in APPEND mode under the watermark —
    * the production eviction path ([[streamSessionsLive]] deliberately
    * runs complete-mode unwatermarked; this is its watermarked twin).
    * Each micro-batch the watermark advances to max(ts seen) −
    * [[WATERMARK]] and the session operator EVICTS every state row
    * whose `session_end` the watermark has passed, emitting it to the
    * sink exactly once — closed sessions leave the state store per
    * batch instead of accumulating forever, which is what lets session
    * state survive an unbounded stream. The final no-data batch seals
    * everything up to global max(ts) − delay; sessions still open
    * behind the terminal watermark are never emitted, and the oracle
    * replays exactly that: the gaps-and-islands sessionization
    * restricted to `session_end <= max(ts) − delay`. Ts-range staging
    * makes the emitted SET deterministic (no late drops — see
    * [[stagedSessionsDir]]); cross-batch session MERGING is still
    * exercised because sessions straddle slice boundaries while the
    * 2-hour watermark lag keeps their fragments unsealed until merged. */
  def streamSessionsAppend(spark: SparkSession, dir: String): DataFrame =
    runLive(spark, stagedSessionsDir(spark, dir), SessionsSource,
      "stream_sessions_append", "append")(userSessions(_))
      .orderBy(col("user_id"), col("session_start"))

  /** [[userSessionsSql]] restricted to sessions the terminal watermark
    * has sealed — the append-mode emission contract. The terminal
    * watermark floors max(ts) to MILLISECOND precision first, because
    * Spark derives event-time watermarks from the max event time
    * truncated to ms — an un-truncated oracle would seal a session
    * whose end falls in the sub-millisecond gap that the engine leaves
    * open (latent fixture-dependent divergence, ADVICE r12). */
  val streamSessionsAppendSql =
    s"""WITH o AS (SELECT user_id, ts,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
       |m AS (SELECT user_id, ts,
       |  CASE WHEN prev IS NULL OR ts - prev > INTERVAL '$SESSION_GAP'
       |       THEN 1 ELSE 0 END AS new_sess FROM o),
       |s AS (SELECT user_id, ts, sum(new_sess) OVER (
       |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM m),
       |ses AS (SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL '$SESSION_GAP' AS session_end,
       |  count(*) AS n_events FROM s GROUP BY user_id, sess),
       |wm AS (SELECT date_trunc('milliseconds', max(ts))
       |    - INTERVAL '$WATERMARK' AS w FROM events)
       |SELECT user_id, session_start, session_end, n_events
       |FROM ses CROSS JOIN wm WHERE session_end <= w
       |ORDER BY user_id, session_start""".stripMargin

  // --- stream_trending_live: the stateful alert path, live ---------------

  /** Micro-batches for the live trending query. Four is enough to make
    * cross-batch state the thing being tested (every batch after the
    * first computes prev_cnt from state carried through RocksDB) while
    * keeping engine overhead out of the bench's way. */
  val TREND_BATCHES = 4

  private val trendStaged = new graft.SessionMemo[String, String]

  /** RAW events staged as [[TREND_BATCHES]] single-file parquets
    * sliced by ts RANGE with strictly increasing fixed mtimes — so the
    * file source's oldest-first listing delivers every key's events in
    * ts order across batches (the invariant that lets the raw machine
    * close a window the moment a later one opens; within a batch the
    * machine sorts), PLUS one trailing punctuation file (one
    * `event_id == -1` row per key, ts past the data) that closes each
    * key's final window at end-of-stream. The slice bounds come from a
    * 1-row min/max aggregate cross-joined in — the stride idiom, no
    * driver collect in the slicing expression itself. */
  private[graft] def stagedTrendingDir(spark: SparkSession, dir: String): String =
    trendStaged.getOrElseUpdate(spark, dir) {
      val dest = graft.Scratch.dir("graft_trend_paced_")
      val raw = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("ts"))
      val bounds = raw.agg(
        min(unix_timestamp(col("ts"))).as("lo"),
        max(unix_timestamp(col("ts"))).as("hi"))
      val sliced = raw.crossJoin(broadcast(bounds))
        .withColumn("slice", least(lit(TREND_BATCHES - 1),
          floor((unix_timestamp(col("ts")) - col("lo"))
            .cast("double") * TREND_BATCHES / (col("hi") - col("lo") + 1))
          .cast("int")))
        .select(col("event_id"), col("event_type"), col("ts"), col("slice"))
        .localCheckpoint()
      val flush = raw.groupBy(col("event_type"))
        .agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("event_id"), col("event_type"),
          (col("mx") + expr("INTERVAL 20 MINUTES")).as("ts"))
      stageSlicedFiles(dest, (0 until TREND_BATCHES).map(k =>
        sliced.filter(col("slice") === k).drop("slice")) :+ flush)
      dest.toString
    }

  /** Write each slice as ONE parquet file under `dest` with strictly
    * increasing FIXED mtimes, so the file source's oldest-first listing
    * yields micro-batch k = slice k on every run (no same-mtime ties to
    * break) — the staging contract both paced live queries rest on.
    * A zero-row slice writes nothing (Spark emits no part file for an
    * empty coalesce(1) write) and is skipped rather than crashed on —
    * later slices close ranks, preserving arrival ORDER, which is the
    * only property a range-sliced stage needs. Callers whose oracle
    * replays exact batch INDICES (the residue-class staging) must
    * require the returned file count instead. */
  private[streaming] def stageSlicedFiles(dest: java.nio.file.Path,
      slices: Seq[DataFrame]): Int = {
    import scala.jdk.CollectionConverters._
    var k = 0
    slices.foreach { df =>
      val tmp = graft.Scratch.dir("graft_stage_tmp_")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      // Close the directory stream before moving/deleting under it — an
      // open handle leaks per staged batch and can pin the dir on some
      // filesystems.
      val part = scala.util.Using.resource(java.nio.file.Files.list(tmp)) { s =>
        s.iterator().asScala.find { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }
      }
      part.foreach { p =>
        val target = dest.resolve(f"batch$k%02d.parquet")
        java.nio.file.Files.move(p, target)
        require(target.toFile.setLastModified(1000000000000L + k * 60000L),
          s"staging could not set mtime on $target")
        k += 1
      }
      deleteRecursively(tmp)
    }
    k
  }

  /** Gate/bench query: the trending pipeline executed by the live
    * streaming engine FROM RAW EVENTS — paced file source (one
    * ts-range slice of the events table per micro-batch, plus the
    * punctuation flush file), ONE `flatMapGroupsWithState` in Update
    * mode doing both the 10-min window counting and the doubling
    * alert ([[trendingRawStateMachine]] — the reference's single
    * DStream state pass), on the RocksDB state store (the 100 TB
    * provider RocksDbStateSpec pins), `Trigger.AvailableNow`,
    * checkpointed. Every batch after the first reads its per-key
    * (prev, cur, open-window) state through the store, and windows
    * routinely STRADDLE slice boundaries — their counts accumulate in
    * state across micro-batches, which is exactly the path the old
    * pre-aggregated staging could not exercise. Ts-range slicing
    * delivers events in order, the condition under which the machine
    * equals the lag form — so this query shares `trending_arrivals`'
    * DuckDB oracle, and the engine must reproduce the batch replay
    * bit-for-bit across [[TREND_BATCHES]]+1 batches. */
  def streamTrendingLive(spark: SparkSession, dir: String): DataFrame = {
    // NoTimeout state machine: the terminal no-data batch has nothing
    // to time out or seal — skipping it saves one full trigger's
    // bookkeeping (the runLive convention for non-append gates).
    val confs = noDataBatchesOff + ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    memoryRows(spark, "stream_trending_live", stagedTrendingDir(spark, dir),
        TrendingSource, confs) { in =>
      import in.sparkSession.implicits._
      trendingRawStateMachine(in.as[RawEvent]).writeStream.outputMode("update")
    }.orderBy(col("event_type"), col("window_start"))
  }

  /** Daemon threads for [[inTrigger]]; idle ones exit after a minute. */
  private lazy val triggerPool = java.util.concurrent.Executors.newCachedThreadPool {
    r =>
      val t = new Thread(r, "graft-trigger-job")
      t.setDaemon(true)
      t
  }

  /** `body` on a pool thread under the SUBMITTING thread's Spark local
    * properties (job group, description, tags) and active session, the
    * pool thread's own restored afterwards
    * (`SQLExecution.withThreadLocalCaptured`). A plain `Future` runs
    * under whatever properties its pool thread inherited when it was
    * created — a trigger's concurrent writes were attributed to an
    * earlier trigger's job group. Settle with [[awaitAll]]. */
  private[graft] def inTrigger[A](spark: SparkSession)(
      body: => A): scala.concurrent.Future[A] = {
    import scala.jdk.FutureConverters._
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      triggerPool)(body).asScala
  }

  /** Await EVERY future before letting any failure propagate. The
    * concurrent-job-chain sites (delta writes, fold writes, the
    * two-family PQ training) pair this with a commit marker / MANIFEST
    * swap that lands only after all branches: if the first await threw
    * while a sibling write job was still in flight, an in-process
    * retry of the same batch would overwrite that directory
    * concurrently with the orphaned job, and a late task commit could
    * land stray files AFTER the retry's marker — duplicates the marker
    * protocol can't mask. Collecting a Try per future guarantees no
    * write is in flight when the (first) exception propagates. */
  private[graft] def awaitAll[A](
      fs: Seq[scala.concurrent.Future[A]]): Seq[A] = {
    val outcomes = fs.map(f => scala.util.Try(scala.concurrent.Await
      .result(f, scala.concurrent.duration.Duration.Inf)))
    // Every future has settled by here; .get rethrows the FIRST
    // failure in submission order (sibling failures are dropped — the
    // first is the actionable one and the retry clobbers everything).
    outcomes.map(_.get)
  }

  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder()).iterator.asScala
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  val eventCountHourlySql =
    """SELECT time_bucket(INTERVAL '60 minutes', ts) AS window_start,
      |  time_bucket(INTERVAL '60 minutes', ts) + INTERVAL '60 minutes' AS window_end,
      |  count(*) AS cnt
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  def eventCountSliding(spark: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.events(spark, dir)).orderBy(col("window_start"))

  /** Oracle: each event's member windows are its step-bucket and the
    * duration/step − 1 buckets before it (every one covers the event:
    * ts ∈ [s, s+step) ⊂ [s − k·step, s − k·step + dur) for
    * k < dur/step), so the sliding aggregation is a member-window
    * explode + tumbling count — which is exactly how the engine itself
    * physically evaluates `window(dur, slide)`. Rendered from the same
    * SLIDE_* ints as the query. */
  val eventCountSlidingSql = {
    val starts = (0 until SLIDE_DUR_MIN / SLIDE_STEP_MIN).map { k =>
      s"""  SELECT time_bucket(INTERVAL '$SLIDE_STEP', ts)""" +
        (if (k == 0) "" else s" - INTERVAL '${k * SLIDE_STEP_MIN} minutes'") +
        s" AS window_start\n    FROM events"
    }.mkString("WITH cand AS (\n", "\n  UNION ALL\n", ")")
    s"""$starts
       |SELECT window_start,
       |  window_start + INTERVAL '$SLIDE_DURATION' AS window_end,
       |  count(*) AS cnt
       |FROM cand GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def regionEventCount(spark: SparkSession, dir: String): DataFrame =
    regionEventCounts(Tables.events(spark, dir))
      .orderBy(col("window_start"), col("region"))

  val regionEventCountSql =
    """WITH r AS (SELECT ts,
      |  CASE WHEN event_type IN ('click', 'view') THEN 'web'
      |       WHEN event_type IN ('purchase', 'signup') THEN 'txn'
      |       ELSE 'ops' END AS region
      |  FROM events)
      |SELECT time_bucket(INTERVAL '60 minutes', ts) AS window_start, region,
      |  count(*) AS cnt
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def trendingArrivals(spark: SparkSession, dir: String): DataFrame =
    trendingLag(trendingCounts(Tables.events(spark, dir)))
      .orderBy(col("event_type"), col("window_start"))

  val trendingArrivalsSql =
    s"""WITH c AS (SELECT event_type,
       |  time_bucket(INTERVAL '10 minutes', ts) AS window_start, count(*) AS cnt
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, window_start, cnt,
       |  lag(cnt, 1, 0) OVER (PARTITION BY event_type ORDER BY window_start) AS prev_cnt,
       |  cnt >= $ALERT_MIN AND cnt >= 2 * lag(cnt, 1, 0) OVER (
       |    PARTITION BY event_type ORDER BY window_start) AS is_alert
       |FROM c ORDER BY event_type, window_start""".stripMargin

  def userSessionsQuery(spark: SparkSession, dir: String): DataFrame =
    userSessions(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start"))

  def streamDedupReplay(spark: SparkSession, dir: String): DataFrame =
    firstTouch(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("event_type"))

  val streamDedupReplaySql =
    """SELECT user_id, event_type, min(ts) AS first_ts, count(*) AS n_dups
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** Gaps-and-islands mirror of `session_window`. */
  val userSessionsSql =
    s"""WITH o AS (SELECT user_id, ts,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
       |m AS (SELECT user_id, ts,
       |  CASE WHEN prev IS NULL OR ts - prev > INTERVAL '$SESSION_GAP'
       |       THEN 1 ELSE 0 END AS new_sess FROM o),
       |s AS (SELECT user_id, ts, sum(new_sess) OVER (
       |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM m)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL '$SESSION_GAP' AS session_end,
       |  count(*) AS n_events
       |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin

  override def entries: Seq[QueryDef] = Seq(
    QueryDef("user_sessions", userSessionsQuery, Some(userSessionsSql),
      "per-user session windows, 30-min inactivity gap"),
    QueryDef("stream_sessions_live", streamSessionsLive, Some(userSessionsSql),
      "session windows run by the live engine (cross-batch session merge)"),
    QueryDef("stream_sessions_append", streamSessionsAppend,
      Some(streamSessionsAppendSql),
      "watermarked append-mode sessions: closed sessions evicted per batch"),
    QueryDef("event_count_hourly", eventCountHourly, Some(eventCountHourlySql),
      "tumbling 60-min event counts (batch replay of the streaming query)"),
    QueryDef("stream_hourly_live", streamHourlyLive, Some(eventCountHourlySql),
      "the same hourly counts run by the live streaming engine (file queue, AvailableNow)"),
    QueryDef("event_count_sliding", eventCountSliding,
      Some(eventCountSlidingSql),
      "sliding 60-min/30-min counts (overlapping windows, 2 per event)"),
    QueryDef("region_event_count", regionEventCount, Some(regionEventCountSql),
      "tumbling 60-min counts per region tag"),
    QueryDef("trending_arrivals", trendingArrivals, Some(trendingArrivalsSql),
      "10-min windows per event type with doubling alerts"),
    QueryDef("stream_trending_live", streamTrendingLive, Some(trendingArrivalsSql),
      "trending from RAW events live: windowing + alert in one keyed state pass"),
    QueryDef("stream_dedup", streamDedupReplay, Some(streamDedupReplaySql),
      "first-touch dedup per key (batch replay of dropDuplicatesWithinWatermark)"),
    QueryDef("stream_neardedup_live", StreamNearDedup.streamNearDedupLive,
      Some(graft.operators.Dedup.neardedupIngestSql),
      "LSH near-dedup admission run by the live streaming engine"),
    QueryDef("stream_neardedup_paced", StreamNearDedup.streamNearDedupPaced,
      Some(graft.operators.Dedup.streamNearDedupPacedSql),
      "the same admission paced one file per micro-batch (cross-batch state live)"),
    QueryDef("stream_neardedup_folded", StreamNearDedup.streamNearDedupFolded,
      Some(graft.operators.Dedup.streamNearDedupPacedSql),
      "the paced admission with an in-loop LSM state fold mid-stream (foldEvery=2)"),
    QueryDef("stream_keepbest_paced", StreamKeepBest.streamKeepBestPaced,
      Some(graft.operators.Dedup.streamKeepBestPacedSql),
      "keep-best admission live: later better captures replace cluster canonicals"),
    QueryDef("stream_ann_upsert_live", StreamAnnUpsert.streamAnnUpsertLive,
      Some(graft.operators.Similarity.annIndexUpsertSql),
      "ANN maintenance live: one marker-committed index delta per micro-batch"))
}
