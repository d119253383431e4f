package graft.streaming

import graft.operators.Dedup
import graft.storage.GenerationLog
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Streaming near-duplicate ingest filter — the MinHash-LSH sibling of
  * [[StreamingOps.streamingDedup]]'s exact first-touch dedup, and the
  * shape a 100 TB training-data pipeline runs at the crawl frontier:
  * admit a document only if nothing NEAR it has been admitted before.
  *
  * Semantics (deterministic given the batch boundaries):
  *
  *   1. A doc whose band keys collide with any previously ADMITTED
  *      doc is dropped (cross-batch rule). Band collision is the LSH
  *      candidate predicate — at the engine's b×r geometry the miss
  *      probability at planted similarity is < 1e-14 (see [[Dedup]]),
  *      and state stays O(admitted · bands) longs, with no shingle
  *      payloads retained.
  *   2. Within a batch, surviving docs that collide with each other
  *      form clusters (connected components over the band-collision
  *      graph); only each cluster's min-doc_id representative is
  *      admitted (canonical-per-cluster rule — same clustering the
  *      batch `dedup_components` gate query performs).
  *
  * Both rules are join/aggregate shaped: admission state is a band-key
  * table joined per micro-batch, so the operator scales with
  * executors, and the per-batch component step runs on the (tiny)
  * collision graph, not the corpus. While the committed state is
  * within [[Dedup.SMALL_STATE_KEYS]] rows the persistent accumulator
  * holds it on the driver as well ([[DriverBands]]) and probes it
  * there; past that it is never broadcast and never collected whole —
  * a small batch's probe collects only the rows sharing its keys. The
  * live queries run the state as a real TABLE: [[PersistentAccumulator]]
  * appends band keys and admissions to parquet per micro-batch, so a
  * restarted query resumes admission from storage (a production
  * deployment swaps the parquet pair for a transactional store keyed
  * by (band_idx, band_key) — the probe is already that equi-join).
  * [[Accumulator]] threads the same per-batch transform in-memory for
  * the MemoryStream-driven semantics tests.
  */
object StreamNearDedup {

  /** Shuffle-partition count for the ISOLATED per-trigger sessions the
    * live admission queries run in: a trigger's joins and aggregates
    * move one micro-batch's delta plus its selective state probe — an
    * order of magnitude less data than the corpus-wide jobs the parent
    * session's `spark.sql.shuffle.partitions` is sized for — so
    * inheriting the parent's count just multiplies fixed per-task cost
    * by empty partitions, every trigger (AQE would coalesce these, but
    * it is disabled under the streaming engine). Parallelism/8 with a
    * floor of 4 keeps the same cluster-proportional scaling one tier
    * down; a deployment whose batches are corpus-sized should override
    * on the session it passes in (this is a per-TRIGGER knob, not a
    * data-volume ceiling — state joins stay distributed). Measured at
    * the paced gates (local[32] → 4): keep-best 12.4→11.3 s warm. */
  private[graft] def triggerShufflePartitions(spark: SparkSession): Int =
    math.max(4, spark.sparkContext.defaultParallelism / 8)

  /** Empty admission state: zero (band_idx, band_key) rows. */
  def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Long)].toDF("band_idx", "band_key")
  }

  /** One admission step: returns (admitted docs, their band keys).
    * Union the returned keys into the state before the next batch. */
  def admitBatch(spark: SparkSession, batch: DataFrame,
      stateBands: DataFrame): (DataFrame, DataFrame) = {
    // The shingle→minhash→band pipeline is the expensive part and is
    // referenced by every downstream branch (prior-hit probe, both
    // sides of the collision self-join, the new-state projection),
    // which are consumed by SEPARATE actions — materialize it once.
    val keys = Dedup.bandKeys(batch).localCheckpoint()
    admitWithKeys(spark, batch, keys, stateBands)
  }

  /** [[admitBatch]] against a caller-materialized band-key frame — the
    * per-trigger accumulators pass a `persist()`ed frame instead of a
    * localCheckpoint so the minhash pipeline materializes INSIDE the
    * first consuming write job (one fewer job per trigger) and is
    * unpersisted by the caller once its writes land. */
  private[streaming] def admitWithKeys(spark: SparkSession, batch: DataFrame,
      keys: DataFrame, stateBands: DataFrame): (DataFrame, DataFrame) =
    admitWithKeys(spark, batch, keys, Seq(stateBands))

  /** [[admitWithKeys]] against admission state held as SEVERAL parts
    * (the [[PersistentAccumulator]] mirror: one band-clustered sorted
    * base + one clustered run per unfolded committed delta). The
    * prior-hit probe semi-joins each part SEPARATELY and unions the
    * hit doc_ids: joining a single `union` frame instead would erase
    * the parts' [[ckptClustered]] partitioning and re-shuffle +
    * re-sort the whole state every trigger — the exact
    * O(state)-per-trigger creep the clustered mirror removes.
    * Part-wise, every part's side of its semi-join is exchange- and
    * sort-free (a merge scan of its checkpointed layout), the keys
    * side's one exchange is shared across branches (ReuseExchange —
    * all parts carry the same partitioning scheme), and small parts
    * broadcast under AQE instead, which is also exchange-free on the
    * state side. */
  private[graft] def admitWithKeys(spark: SparkSession, batch: DataFrame,
      keys: DataFrame, stateParts: Seq[DataFrame],
      ckptProbe: Boolean = false): (DataFrame, DataFrame) = {
    // Cross-batch rule: any collision with admitted state drops the doc.
    // `ckptProbe` MATERIALIZES the probe once: it is the one
    // state-sized sub-plan of the trigger and it feeds the components
    // probe AND both delta writes — unmaterialized it re-executes per
    // consumer (3× per trigger, the dominant measured cost once state
    // grows). Its result is doc_id-sized, so the extra job is
    // batch-bounded. The persistent accumulators enable it
    // UNCONDITIONALLY since round 18: with the spread cached batch the
    // one materialization job measured cheaper than the re-executions
    // even while the band state still broadcasts, and past the
    // broadcast regime it was already the posture. The in-memory
    // [[Accumulator]] (MemoryStream semantics tests) keeps the lazy
    // default.
    val probe = stateParts
      .map(part => keys.join(part, Seq("band_idx", "band_key"), "left_semi"))
      .reduce(_ unionAll _)
      .select(col("doc_id")).distinct()
    val hitPrior = if (ckptProbe) probe.localCheckpoint() else probe
    val survivors = batch.join(hitPrior, Seq("doc_id"), "left_anti")
    val skeys = keys.join(hitPrior, Seq("doc_id"), "left_anti")
    // Intra-batch rule: canonical representative per collision cluster.
    // No call-site distinct: [[Dedup.componentsBounded]]'s probe
    // dedups the canonicalized pairs at the same plan point, and its
    // star-loop fallback is multigraph-safe (spec-pinned) — a second
    // distinct here only added an exchange per trigger. The a<b
    // self-join is deliberate: its two sides hit ReusedExchange (the
    // skeys plan executes once), which round-18 A/B measured faster at
    // gate scale than both min-star rewrites (window-min and
    // agg+back-join) that avoid the O(s²) bucket blowup — a
    // boilerplate-hot band key lands in [[Dedup.componentsBounded]]'s
    // star-loop fallback, the same pressure valve the batch path has.
    val pairs = skeys.select(col("doc_id").as("a"), col("band_idx"), col("band_key"))
      .join(skeys.select(col("doc_id").as("b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    // Bounded components: a micro-batch's collision graph is tiny, and
    // the distributed star loop's per-round driver overhead dominated
    // trigger wall-clock — see [[Dedup.componentsBounded]].
    val nonCanonical = Dedup.componentsBounded(pairs)
      .filter(col("comp") < col("id"))
      .select(col("id").as("doc_id"))
    val admitted = survivors.join(nonCanonical, Seq("doc_id"), "left_anti")
    (admitted, skeys.join(nonCanonical, Seq("doc_id"), "left_anti")
      .select(col("band_idx"), col("band_key")))
  }

  // --- driver-side admission of small micro-batches -----------------------

  /** The (doc_id, text) columns the admission streams read from their
    * staged documents files — the [[StreamingOps.drain]] source schema
    * of both accumulators' live runs. */
  private[graft] val DocsSource = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  /** The persisted band-key delta of one near-dedup batch. */
  private val BandsDelta = new StructType()
    .add("band_idx", IntegerType).add("band_key", LongType)

  /** A micro-batch fetched to the driver: its (doc_id, text) `rows`
    * under `schema`, and per row its doc_id, its band keys (index =
    * band_idx; empty when the text has no shingle) and the `extra`
    * columns [[fetchSmall]] was asked for. */
  private[streaming] final case class SmallBatch(rows: Array[Row],
      schema: StructType, docs: Array[(Long, Array[Long], Row)]) {
    def keyed: Array[(Long, Array[Long])] =
      docs.collect { case (id, ks, _) if ks.nonEmpty => (id, ks) }
  }

  /** ONE job fetches at most [[Dedup.SMALL_BATCH_ROWS]] + 1 rows of
    * the micro-batch ([[Dedup.collectBounded]]). None past the bound.
    * Within it, the band keys and `extra` columns are the same Catalyst
    * expressions the distributed path runs ([[Dedup.withBandArray]]),
    * projected over a `LocalRelation` of the fetched rows, which
    * `ConvertToLocalRelation` evaluates on the driver without a job. */
  private[streaming] def fetchSmall(batch: DataFrame,
      extra: Column*): Option[SmallBatch] = {
    val fetch = batch.select(col("doc_id"), col("text"))
    Dedup.collectBounded(fetch, Dedup.SMALL_BATCH_ROWS).map { rows =>
      val xs = extra.indices.map(i => s"x$i")
      val docs = Dedup.withBandArray(
          localFrame(batch.sparkSession, rows, fetch.schema).select(
            Seq(col("doc_id").cast("long").as("doc_id"), col("text")) ++
              extra.zip(xs).map { case (c, x) => c.as(x) }: _*))
        .select(Seq("doc_id", "bands").map(col) ++ xs.map(col): _*)
        .collect().map { r =>
          val ks = if (r.isNullAt(1)) Array.emptyLongArray else r.getSeq[Long](1).toArray
          (r.getLong(0), ks, r)
        }
      SmallBatch(rows, fetch.schema, docs)
    }
  }

  private[streaming] def localFrame(spark: SparkSession, rows: collection.Seq[Row],
      schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** (doc_id, band_idx, band_key) rows of driver-held band keys. */
  private[streaming] def keyFrame(spark: SparkSession,
      keyed: Seq[(Long, Array[Long])]): DataFrame = {
    import spark.implicits._
    keyed.flatMap { case (id, ks) => ks.indices.map(b => (id, b, ks(b))) }
      .toDF("doc_id", "band_idx", "band_key")
  }

  /** ONE query over every state part: each part ⋈ broadcast(`keys`) on
    * `on`, unioned, `cols` collected. Part-wise for the
    * [[admitWithKeys]] reason: a clustered base keeps its layout, and
    * the batch-sized keys are the broadcast side of every branch. */
  private[streaming] def probeParts(parts: Seq[DataFrame], keys: DataFrame,
      on: Seq[String], cols: Column*): Array[Row] =
    parts.map(_.join(broadcast(keys), on).select(cols: _*))
      .reduce(_ unionAll _).collect()

  /** The committed band rows of the mirror `parts` that share a
    * (band_idx, band_key) with `b`, held as [[DriverBands]] — the state
    * [[admitSmall]] and keep-best's small path decide against past
    * [[Dedup.SMALL_STATE_KEYS]]: one [[probeParts]] query, none when no
    * doc of the batch has keys. `extra` is keep-best's `comp`. */
  private[streaming] def bandHits(spark: SparkSession, parts: Seq[DataFrame],
      b: SmallBatch, extra: Column*): DriverBands =
    if (b.keyed.isEmpty) new DriverBands
    else DriverBands.of(probeParts(parts, keyFrame(spark, b.keyed.toSeq),
      Seq("band_idx", "band_key"), col("band_idx") +: col("band_key") +: extra: _*))

  /** Intra-batch clusters on the driver: doc → min doc_id of its
    * band-collision component ([[Dedup.minLabels]], the union-find
    * [[Dedup.componentsBounded]] runs); a doc colliding with nothing
    * labels itself. */
  private[streaming] def batchComponents(
      keyed: Seq[(Long, Array[Long])]): Long => Long = {
    val edges = keyed
      .flatMap { case (id, ks) => ks.indices.map(b => ((b, ks(b)), id)) }
      .groupMap(_._1)(_._2).values
      .flatMap { ids => val m = ids.min; ids.filter(_ != m).map(_ -> m) }
    val labels = Dedup.minLabels(edges)
    id => labels.getOrElse(id, id)
  }

  /** [[admitWithKeys]] decided on the driver for a [[SmallBatch]]
    * against `state`, the committed band rows that can collide with
    * the batch: a doc sharing a band key with them is dropped; the rest
    * cluster by [[batchComponents]] and each cluster's min doc_id is
    * admitted. Returns the admitted rows and their band-delta rows
    * ([[BandsDelta]]). */
  private def admitSmall(b: SmallBatch, state: DriverBands): (Seq[Row], Seq[Row]) = {
    val keyed = b.keyed.toSeq
    val hit = keyed.collect { case (id, ks) if state.minComp(ks).isDefined => id }.toSet
    val comp = batchComponents(keyed.filter(k => !hit(k._1)))
    val admitted = b.docs.indices.filter { i =>
      val id = b.docs(i)._1
      !hit(id) && comp(id) == id
    }
    (admitted.map(b.rows), admitted.flatMap { i =>
      val ks = b.docs(i)._2
      ks.indices.map(j => Row(j, ks(j)))
    })
  }

  /** Accumulates admission across micro-batches: wire [[onBatch]] as a
    * `foreachBatch` body, read [[admitted]] once the stream drains.
    * State and per-batch admissions are `localCheckpoint`ed, so
    * neither lineage nor the source micro-batch outlives its trigger. */
  final class Accumulator(spark: SparkSession) {
    @volatile private var state: DataFrame = emptyState(spark)
    private val admittedBatches =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** The foreachBatch body. Synchronized: micro-batches arrive
      * serially per query, but a defensive lock costs nothing. */
    def onBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      val (admitted, newKeys) = admitBatch(spark, batch, state)
      val kept = admitted.localCheckpoint()
      admittedBatches += kept.withColumn("batch_id", lit(batchId))
      state = state.union(newKeys).localCheckpoint()
    }

    def admitted: DataFrame =
      admittedBatches.reduceOption(_ unionAll _).getOrElse(
        // Zero batches arrived: an explicitly-typed empty frame with
        // the minimal documented (doc_id, text, batch_id) schema.
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("batch_id",
              org.apache.spark.sql.types.LongType, nullable = false)))))
  }

  /** Admission state EXTERNALIZED to storage — the "transactional
    * store" the object scaladoc names, made real: band keys and
    * admitted rows live as parquet tables under `stateDir`, one
    * PARTITION DIRECTORY per micro-batch (`bands/batch_id=K`,
    * `admitted/batch_id=K`), so a query restarted from its checkpoint
    * RESUMES admission instead of re-admitting everything (state no
    * longer dies with the JVM).
    *
    * Idempotent under foreachBatch's at-least-once redelivery: the
    * tables are a [[graft.storage.GenerationLog]] (nothing is inferred
    * from data rows, so a batch admitting zero docs commits exactly
    * like any other). Each batch's writes go to its own directories in
    * OVERWRITE mode, its marker lands last, only marker-bearing batches
    * are visible — to the resume-time state mirror, to [[readAdmitted]]
    * and to the skip check — and a batch whose marker exists is skipped
    * outright on redelivery. At 100 TB the parquet pair becomes a keyed
    * transactional table (the probe is already an equi-join on
    * (band_idx, band_key), the pushdown shape) and the marker its
    * commit record; the per-batch dataflow is [[admitBatch]], unchanged.
    *
    * `spreadBatches` — whether each micro-batch is hash-repartitioned
    * (and cached) to [[triggerShufflePartitions]] before the minhash
    * pipeline. True for PACED sources, whose batch is one small
    * parquet file = one row group = ONE scan task — unspread, the
    * minhash compute and the persisted band rows land in a single
    * partition and every consumer's first exchange reads from one
    * core. False for sources already written multi-file (the unpaced
    * live gate stages ~32 files): there the scan is parallel and the
    * extra shuffle+cache of corpus-sized batch text was measured pure
    * overhead. */
  final class PersistentAccumulator(spark: SparkSession, stateDir: String,
      foldEvery: Int = DISK_FOLD_EVERY, spreadBatches: Boolean = true) {

    def admitted: DataFrame = readAdmitted(spark, stateDir)

    // WRITE-THROUGH: storage is read once, here at construction (the
    // resume path — this is what a restarted query recovers from), and
    // once more if the state outgrows the driver; the running query
    // serves each batch's prior-state probe from memory instead of
    // re-scanning the parquet per trigger (measured +3.5s on the
    // 3-batch paced gate before the mirror).
    private val log = stateLog(stateDir)
    private var committedIds: Set[Long] = log.committed
    // DEFERRED AUTO-COMPACTION AT RESUME — the LSM L0 policy behind
    // the SAME foldEvery knob (r18 verdict item 6; deferral r19 item 5
    // + ADVICE): a restart over a long uncompacted history builds the
    // mirror off the EXISTING layout first — construction pays only
    // the plain rebuild (4.67 s vs the 7.57 s fold+rebuild serial path
    // at the 2000-trigger probe history) and stays READ-ONLY, so
    // constructing an instance merely to inspect state never rewrites
    // the on-disk layout. The fold debt is carried below as
    // sinceDiskFold's starting value: the first NEW committed batch
    // trips the ordinary in-loop fold branch, folding history + batch
    // and re-basing the mirror — the compaction's benefit starts at
    // the NEXT restart either way, so deferring it only moves its cost
    // off the restart-to-first-result path. Seeding the counter with
    // the REAL unfolded count also tightens the invariant: at most
    // ~foldEvery batches ever sit unfolded across restarts (the
    // constructor-fold design reset the counter, allowing history +
    // foldEvery). foldEvery <= 0 keeps compaction fully caller-driven,
    // exactly as before.
    // Only COMMITTED batches' keys enter the state (an uncommitted
    // batch's partial directories are invisible until its replay
    // overwrites them and lands the marker), read through the
    // generation pointer: generation base + unfolded tail. Within
    // SMALL_STATE_KEYS rows they are held on the driver (Left), read in
    // one job; past it in the mirror (Right, for good), checkpointed
    // band-clustered so the per-trigger probe's state side is a sorted
    // merge scan. Which side of the bound the state is on is read off
    // the parquet footers ([[stateRows]]), so a restart past it
    // fetches nothing.
    private def bandsAt(st: GenerationLog.State): DataFrame =
      readState(spark, log, st, "bands").select(col("band_idx"), col("band_key"))
    private def mirrorNow(): StateMirror =
      new StateMirror(ckptClustered(spark, bandsAt(log.state(committedIds))),
        parts => ckptClustered(spark, parts.reduce(_ unionAll _)))
    private var state: Either[DriverBands, StateMirror] =
      if (committedIds.isEmpty) Left(new DriverBands)
      else if (stateRows(log, log.state(committedIds), "bands") >
        Dedup.SMALL_STATE_KEYS) Right(mirrorNow())
      else Left(DriverBands.of(bandsAt(log.state(committedIds)).collect()))
    private var sinceDiskFold =
      if (foldEvery > 0) log.state(committedIds).pending.size else 0

    /** The mirror; the first call drops the driver state and builds the
      * mirror from committed storage — the hand-off, once and for good. */
    private def handOff(): StateMirror = state match {
      case Right(m) => m
      case Left(_) =>
        val m = mirrorNow()
        state = Right(m)
        m
    }

    /** The foreachBatch body (serial per query; lock defensive).
      *
      * A micro-batch of at most [[Dedup.SMALL_BATCH_ROWS]] rows is
      * decided on the driver ([[fetchSmall]], [[admitSmall]]). While
      * the committed state is within [[Dedup.SMALL_STATE_KEYS]] rows it
      * is probed in Scala, and the trigger runs exactly 3 jobs: the
      * fetch and the two delta writes. Past that bound the mirror is
      * probed with one [[probeParts]] query, whatever the number of
      * mirror parts: 5 jobs (its broadcast of the batch keys is its own
      * job).
      * A bigger batch runs the distributed [[admitWithKeys]] body,
      * write-once: the band-delta write is the one execution of its
      * plan (keys materialize inside it via `persist`).
      *
      * Within the bound the trigger's own band-delta rows advance the
      * driver state, after the commit and never before it; a commit
      * that takes the state past the bound, or the first bigger batch
      * (before its body), hands off to the mirror ([[handOff]]). The
      * mirror folds each later written file back in LAZILY — between
      * fold points it is the clustered base plus up to
      * [[MEM_FOLD_EVERY]] committed delta scans, and the base's share
      * of the probe is a sorted merge scan, not a re-shuffle of the
      * whole state. Every [[MEM_FOLD_EVERY]] triggers the tail folds
      * into a fresh clustered base (the LSM run merge, amortized).
      * Either way, every `foldEvery` committed batches the ON-DISK
      * layout folds ([[compactState]] from inside the loop — safe:
      * foreachBatch is the single writer and runs serially) and the
      * mirror, if any, re-bases onto the new generation. */
    def onBatch(batch0: DataFrame, batchId: Long): Unit = synchronized {
      if (!committedIds(batchId)) {
        val bandRows = fetchSmall(batch0) match {
          case Some(small) =>
            val (kept, bands) = admitSmall(small,
              state.fold(identity, m => bandHits(spark, m.parts, small)))
            writeDeltas(batchId, localFrame(spark, bands, BandsDelta),
              localFrame(spark, kept, small.schema))
            bands
          case None =>
            admitDistributed(batch0, batchId)
            Nil
        }
        log.commit(batchId)
        committedIds += batchId
        sinceDiskFold += 1
        val fold = foldEvery > 0 && sinceDiskFold >= foldEvery
        if (fold) {
          compactState(spark, stateDir)
          sinceDiskFold = 0
        }
        state match {
          case Left(d) =>
            bandRows.foreach(d.add)
            if (d.rows > Dedup.SMALL_STATE_KEYS) handOff()
          case Right(mirror) =>
            if (fold) mirror.rebase(ckptClustered(spark, bandsAt(log.state())))
            else {
              val path = log.payload("bands", batchId)
              mirror.advanceCommitted(path, spark.read.schema(BandsDelta).parquet(path))
            }
        }
      }
    }

    private def admitDistributed(batch0: DataFrame, batchId: Long): Unit = {
      // Spread a paced one-file micro-batch before the shingle→
      // minhash pipeline (see the class scaladoc). Hash-partitioning
      // by doc_id moves only the batch's raw rows, and PERSISTING
      // the result makes that one tiny shuffle the only one — the
      // batch has several consumers (the keys pipeline, the admitted
      // anti-join), and unpersisted each would re-scan the file and
      // re-shuffle per job. Materializes inside the first consuming
      // job, like keys.
      val batch =
        if (spreadBatches) batch0.repartition(
          triggerShufflePartitions(spark), col("doc_id")).persist()
        else batch0
      val keys = Dedup.bandKeys(batch).persist()
      try {
        // ckptProbe whenever PRIOR state exists: the probe feeds
        // three consumers (components probe + both delta writes),
        // and the one doc_id-sized materialization job was measured
        // cheaper than the re-executions even while the band state
        // still broadcasts (round-18 A/B; at scale the old
        // byte-regime check already chose to materialize). Against
        // EMPTY state (a first/only batch — the unpaced live gate)
        // the probe is trivially empty and the checkpoint job would
        // scan the whole batch's keys for nothing.
        val (kept, newKeys) =
          admitWithKeys(spark, batch, keys, handOff().parts,
            ckptProbe = committedIds.nonEmpty)
        writeDeltas(batchId, newKeys, kept)
      } finally {
        keys.unpersist(blocking = false)
        if (spreadBatches) batch.unpersist(blocking = false)
      }
    }

    /** coalesce(1): a batch's state delta is small relative to the
      * corpus (it is one batch's keys/admissions), and writing it as
      * one file instead of one per shuffle partition keeps the
      * per-trigger commit cost flat — a production job sizes this to
      * its batch volume. The two delta writes are INDEPENDENT plans
      * over materialized inputs (driver rows, or keys persisted, the
      * probe checkpointed, the batch cached), so they run as concurrent
      * job chains (the [[graft.operators.Similarity]] two-family build
      * posture): disjoint directories, wall-clock ≈ the slower write
      * instead of the sum, and the marker still lands only after BOTH
      * — crash semantics unchanged. */
    private def writeDeltas(batchId: Long, bands: DataFrame,
        admitted: DataFrame): Unit =
      StreamingOps.awaitAll(Seq("bands" -> bands, "admitted" -> admitted).map {
        case (table, delta) => StreamingOps.inTrigger(spark)(delta.coalesce(1)
          .write.mode("overwrite").parquet(log.payload(table, batchId)))
      })
  }

  /** In-memory mirror fold cadence ([[StateMirror]]): between folds
    * the mirrors stay LAZY unions over committed delta files (tiny
    * parquet scans — the per-trigger probe re-lists them for free),
    * capping plan depth without paying a localCheckpoint job every
    * trigger. */
  private[graft] val MEM_FOLD_EVERY = 8

  /** Band-state mirror checkpoint, CLUSTERED for the per-trigger
    * probe: hash-partitioned and sorted on (band_idx, band_key), so
    * the admission semi-join needs NO exchange and NO sort on the
    * state side — a merge scan of the checkpointed layout, with only
    * the batch's keys shuffling. Without this the probe re-shuffles
    * and re-sorts the ENTIRE state every trigger once it outgrows the
    * broadcast threshold — the measured 2.7→4.5 s/batch creep at 1.5 M
    * state rows, unbounded in state size.
    *
    * The one mirror-building query runs with AQE off: under AQE the
    * executed plan hides its final partitioning from
    * `LogicalRDD.fromDataset` (UnknownPartitioning), and the layout
    * the checkpoint just paid for would be re-shuffled anyway. The
    * conf toggle is safe here because the accumulator owns its
    * session's trigger thread (foreachBatch is serial) — nothing else
    * plans queries in the window. */
  private[graft] def ckptClustered(spark: SparkSession, bands: DataFrame): DataFrame =
    ckptClustered(spark, bands, col("band_idx"), col("band_key"))

  /** General clustered-checkpoint form: hash-partition + sort `df` on
    * `keys` (any probe key set — the band mirrors use (band_idx,
    * band_key); [[StreamAnnUpsert]]'s known-ids mirror uses vec_id)
    * with AQE off so `LogicalRDD` keeps the layout for exchange- and
    * sort-free per-trigger probes. */
  private[graft] def ckptClustered(spark: SparkSession, df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    require(keys.nonEmpty, "clustered checkpoint needs at least one key")
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try df
      .repartition(triggerShufflePartitions(spark), keys: _*)
      .sortWithinPartitions(keys: _*)
      .localCheckpoint()
    finally spark.conf.set(key, old)
  }

  /** Default ON-DISK fold cadence for the persistent accumulators: the
    * LSM compaction ([[compactState]]) runs from INSIDE the trigger
    * loop every this-many committed batches, so a long-lived ingest
    * keeps its restart cost O(state) without an external compaction
    * job. 64 triggers of debris is well under the layout costs the
    * scale probe measured at 2000, and the gates' 3-trigger runs never
    * fold (their timing records the plain append path). */
  val DISK_FOLD_EVERY = 64

  // --- state compaction: fold per-batch dirs into a generation base ------

  /** This accumulator's state log: `bands` and `admitted` fold. */
  private def stateLog(stateDir: String): GenerationLog =
    GenerationLog.stream(stateDir, Seq("bands", "admitted"))

  /** Schema-complete empty frame for one near-dedup state table (the
    * per-batch read's fallback when every committed dir wrote zero
    * rows must union cleanly with a generation base, so it carries
    * batch_id). */
  private[graft] def emptyTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    table match {
      case "bands" => Seq.empty[(Int, Long, Long)]
        .toDF("band_idx", "band_key", "batch_id")
      case _ => Seq.empty[(Long, String, Long)]
        .toDF("doc_id", "text", "batch_id")
    }
  }

  /** This accumulator's foldable tables, paired with their empties —
    * the default argument of [[compactState]]; [[StreamKeepBest]]
    * passes its own (bands only — its event log is output, never
    * folded). */
  private def ownTables(spark: SparkSession): Seq[(String, DataFrame)] =
    Seq("bands" -> emptyTable(spark, "bands"),
      "admitted" -> emptyTable(spark, "admitted"))

  /** Visible state of one table at log state `st`: the generation's
    * folded base (if any) unioned with the committed per-batch dirs the
    * fold does not cover. This is what [[PersistentAccumulator]]
    * restarts from, what [[readAdmitted]] serves and what a fold stages
    * — so compaction is output-invariant by construction and the paced
    * gate's oracle is unchanged by a fold. `empty` must carry the
    * persisted shape (batch_id included). */
  private[streaming] def readState(spark: SparkSession, log: GenerationLog,
      st: GenerationLog.State, table: String, empty: => DataFrame): DataFrame = {
    val fresh = readPartitioned(spark, s"${log.root}/$table",
      st.pending.toSet, empty)
    if (st.generation == 0L) fresh
    else {
      // Fail LOUDLY when the pointer names a generation whose base is
      // gone (r15 advice): silently returning only the unfolded tail
      // would drop every folded row — the state would quietly resume
      // near-empty and re-admit near-duplicates downstream.
      val baseDir = log.tableRoot(table, st.generation)
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(baseDir)),
        s"state MANIFEST at ${log.root} names generation ${st.generation} " +
          s"but its base $baseDir is missing — state storage is corrupt; " +
          "restore the base or delete the MANIFEST to fall back to " +
          "per-batch layout")
      spark.read.schema(empty.schema).parquet(baseDir).unionByName(fresh)
    }
  }

  private def readState(spark: SparkSession, log: GenerationLog,
      st: GenerationLog.State, table: String): DataFrame =
    readState(spark, log, st, table, emptyTable(spark, table))

  /** The rows [[readState]] returns for `table` at `st`, summed from
    * the parquet footers of the same files on the driver — no Spark
    * job, exact (the read filters nothing beyond the ids it covers). */
  private[graft] def stateRows(log: GenerationLog,
      st: GenerationLog.State, table: String): Long =
    graft.ParquetFooters.rowCount(
      Option.when(st.generation != 0L)(log.tableRoot(table, st.generation))
        .toSeq ++ st.pending.map(log.payload(table, _)))

  /** Fold the committed per-batch state dirs into a new generation
    * base — the LSM compaction step of a long-lived ingest. Without it
    * a restarted query unions one partitioned table PER COMMITTED
    * BATCH: an ingest triggering every few minutes accumulates
    * thousands of directories, and every restart pays listing + a scan
    * per batch. After a fold, restart cost is O(state): one base
    * table plus the unfolded tail. The crash-safety protocol is
    * [[GenerationLog.fold]]'s. Single-writer: call while no query is
    * writing this state dir (between AvailableNow runs — the spec's
    * stop/compact/resume sequence — or from inside the serial trigger
    * loop).
    *
    * `tables` parameterizes WHICH per-batch tables fold (name + its
    * schema-complete empty): this accumulator folds bands+admitted;
    * [[StreamKeepBest]] folds bands only, leaving its event log — the
    * job's output — in the per-batch layout, which stays correct
    * because unfolded tables are read via [[readPartitioned]] over ALL
    * committed ids, ignoring the generation pointer. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    compactState(spark, stateDir, ownTables(spark))

  def compactState(spark: SparkSession, stateDir: String,
      tables: Seq[(String, DataFrame)]): Unit = {
    val log = GenerationLog.stream(stateDir, tables.map(_._1))
    log.fold { (view, newGen) =>
      // Independent reads, disjoint destination dirs — fold the tables
      // as concurrent job chains (the delta-write posture); the pointer
      // swap still lands only after ALL of them.
      StreamingOps.awaitAll(tables.map { case (table, empty) =>
        StreamingOps.inTrigger(spark)(readState(spark, log, view, table, empty)
          .write.mode("overwrite").parquet(log.tableRoot(table, newGen)))
      })
    }
  }

  /** Read a per-batch partitioned state table restricted to COMMITTED
    * batches, under `empty`'s schema: the `batch_id=K` directory layout
    * makes `batch_id` a discovered partition column, declared long. A
    * table whose committed batches all wrote ZERO rows (partition dirs
    * with no data files) reads as empty under that schema. */
  private[streaming] def readPartitioned(spark: SparkSession, path: String,
      committed: Set[Long], empty: => DataFrame): DataFrame =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)) ||
        committed.isEmpty) empty
    else spark.read.schema(empty.schema).parquet(path)
      .filter(col("batch_id").isInCollection(committed))

  /** The committed admitted rows (doc_id, text, batch_id) under a
    * state dir — shared by the accumulator and the gate queries'
    * read-back, so an uncommitted replay victim can never leak into
    * a result. */
  private[graft] def readAdmitted(spark: SparkSession,
      stateDir: String): DataFrame = {
    val log = stateLog(stateDir)
    readState(spark, log, log.state(), "admitted")
  }

  /** The documents table staged as a source DIRECTORY (the file stream
    * source rejects bare file paths) — input staging, not memoized
    * compute, so not registered with [[graft.Caches]] (see
    * [[StreamingOps.stageOnce]]). */
  private def stagedDocsDir(spark: SparkSession, dir: String): String =
    StreamingOps.stageOnce(spark, dir, "graft_neardedup_src_") {
      graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    }

  /** Gate/bench query: the admission filter executed by the LIVE
    * streaming engine — file source over the documents parquet,
    * `Trigger.AvailableNow`, checkpointed offsets, `foreachBatch`
    * driving the [[Accumulator]] — in an isolated `newSession` whose
    * checkpoint dir is reclaimed after the (tiny) admitted id set is
    * materialized. The source is deliberately left as ONE micro-batch
    * (no `maxFilesPerTrigger` pacing), which makes the admitted set
    * batching-independent and lets this query share
    * `neardedup_ingest`'s LSH-exact DuckDB oracle: the streaming
    * engine must reproduce the batch engine's answer bit-for-bit.
    * Multi-batch pacing semantics (where admission legitimately
    * depends on batch boundaries) are pinned by StreamNearDedupSpec
    * with MemoryStream-controlled batches instead. */
  def streamNearDedupLive(spark: SparkSession, dir: String): DataFrame =
    runLive(spark, stagedDocsDir(spark, dir), paced = false)
      .select(col("doc_id")).orderBy(col("doc_id"))

  /** Drive the admission accumulator under the live engine over a
    * staged source directory; `paced` throttles to one file per
    * micro-batch. Returns the admitted (doc_id, batch_id) rows — the
    * text payload is pruned before the RDD boundary (see below) —
    * re-based onto the caller's session WITHOUT a driver collect: the
    * admitted set is O(corpus) — the per-batch localCheckpoints
    * already hold the rows in executor storage, and the stream
    * checkpoint dir is only metadata, safe to reclaim first. */
  private def runLive(spark: SparkSession, path: String,
      paced: Boolean, foldEvery: Int = DISK_FOLD_EVERY): DataFrame = {
    val stateDir = graft.Scratch.dir("graft_neardedup_state_")
    val ckpt = graft.Scratch.dir("graft_neardedup_ckpt_")
    try {
      runLiveAgainst(spark, path, paced, ckpt.toString, stateDir.toString,
        foldEvery = foldEvery)
      // A gate that promises a mid-stream fold must PROVE one ran:
      // a fold moves the generation pointer past 0. Checked here,
      // before the finally reclaims the state dir.
      if (foldEvery > 0 && foldEvery < Dedup.PACED_BATCHES)
        require(stateLog(stateDir.toString).pointer._1 > 0,
          s"foldEvery=$foldEvery run left generation 0 — the in-loop " +
            "fold did not execute under the live engine")
      // The admitted table is a real parquet table in the CALLER's
      // session — no RDD re-base; localCheckpoint (eager) detaches
      // the rows from the state dir before it is reclaimed. The text
      // payload is pruned at the scan, both gate queries drop it; only
      // COMMITTED batches are read ([[readAdmitted]]).
      readAdmitted(spark, stateDir.toString)
        .select(col("doc_id"), col("batch_id"))
        .localCheckpoint()
    } finally {
      StreamingOps.deleteRecursively(ckpt)
      StreamingOps.deleteRecursively(stateDir)
    }
  }

  /** One live run of the admission stream against EXPLICIT checkpoint
    * and state locations — restartable: a second call on the same pair
    * resumes from the stream checkpoint and the persisted band-key
    * state (StreamNearDedupSpec stops the paced sequence mid-way and
    * proves the resumed run reproduces the single-run answer). Runs in
    * an isolated `newSession` so the gate query cannot disturb caller
    * session state. */
  private[graft] def runLiveAgainst(spark: SparkSession, path: String,
      paced: Boolean, ckpt: String, stateDir: String,
      foldEvery: Int = DISK_FOLD_EVERY): Unit =
    StreamingOps.drain(spark, path, DocsSource, ckpt, triggerShufflePartitions(spark),
        paced = paced) { (ss, src) =>
      val acc = new PersistentAccumulator(ss, stateDir, foldEvery = foldEvery,
        spreadBatches = paced)
      src.select(col("doc_id"), col("text")).writeStream
        .foreachBatch((b: DataFrame, id: Long) => acc.onBatch(b, id))
    }

  // --- stream_neardedup_paced: the cross-batch state path, live ----------

  /** The documents table staged as [[graft.operators.Dedup.PACED_BATCHES]]
    * single-file parquets — file k holds doc_id ≡ k (mod PACED_BATCHES)
    * with strictly increasing fixed modification times, so the file
    * source's oldest-first listing yields batch k = file k under
    * `maxFilesPerTrigger = 1`. Deterministic staging is what lets the
    * paced oracle replay the batch boundaries in SQL. */
  private val pacedStaged = new graft.SessionMemo[String, String]

  private[graft] def stagedPacedDocsDir(spark: SparkSession, dir: String): String =
    pacedStaged.getOrElseUpdate(spark, dir) {
      val nb = Dedup.PACED_BATCHES
      val dest = graft.Scratch.dir("graft_neardedup_paced_")
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      // The paced ORACLE replays batch k = residue class k, so unlike
      // the range-sliced trending stage an empty residue class may not
      // silently close ranks — the oracle's batch indices would shift.
      // Fail loudly instead (shared staging contract:
      // [[StreamingOps.stageSlicedFiles]]).
      val staged = StreamingOps.stageSlicedFiles(dest, (0 until nb).map(k =>
        docs.filter(pmod(col("doc_id"), lit(nb)) === k)))
      require(staged == nb,
        s"paced staging produced $staged of $nb batch files — an empty " +
          "residue class would desynchronize the oracle's batch replay")
      dest.toString
    }

  /** Gate/bench query: the admission filter under the live engine with
    * REAL batch boundaries — one staged file per micro-batch — so the
    * engine's cross-batch state path (drop-on-prior-admission) is what
    * produces the answer, not one big intra-batch clustering. The
    * emitted batch_id makes the oracle (which replays the same
    * boundaries in SQL, [[graft.operators.Dedup.streamNearDedupPacedSql]])
    * sensitive to batch lumping or reordering. */
  def streamNearDedupPaced(spark: SparkSession, dir: String): DataFrame =
    runLive(spark, stagedPacedDocsDir(spark, dir), paced = true)
      .select(col("doc_id"), col("batch_id")).orderBy(col("doc_id"))

  /** Gate/bench query: the paced admission gate with the ON-DISK fold
    * driven from INSIDE the trigger loop (`foldEvery = 2`, under the
    * default 3-batch pacing) — so the driver-checked path demonstrably
    * executes a mid-stream generation fold and the LAST batch probes a
    * folded base plus an unfolded delta. [[runLive]] refuses to return
    * unless the generation pointer moved. Shares the paced oracle
    * verbatim: compaction must be invisible in the admitted set. */
  def streamNearDedupFolded(spark: SparkSession, dir: String): DataFrame =
    runLive(spark, stagedPacedDocsDir(spark, dir), paced = true, foldEvery = 2)
      .select(col("doc_id"), col("batch_id")).orderBy(col("doc_id"))
}
