package graft

import graft.streaming.StreamNearDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming LSH near-dedup: the distributed admission step must obey
  * the two documented rules exactly — checked against an independent
  * plain-Scala replay that shares only the band-key computation — and
  * the foreachBatch wrapper must respect batch boundaries. */
class StreamNearDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val doc = (id: Long, text: String) => (id, text)
  private val base =
    "the quick brown fox jumps over the lazy dog again and again today"
  private val other =
    "completely different words about spark clusters shuffling parquet files nightly"

  /** Fixture batches: batch 0 = a mutual near-dup trio (7,3,5 — min 3
    * wins), one unique doc, one shingle-less doc; batch 1 = dups of
    * both admitted texts (dropped), a fresh doc, another tiny doc. */
  private val batches: Seq[Seq[(Long, String)]] = Seq(
    Seq(doc(7, base + " zebra"), doc(3, base + " yak"), doc(5, base + " emu"),
      doc(9, other), doc(11, "too short")),
    Seq(doc(20, base + " zebra"), doc(21, other + " nightly"),
      doc(22, "brand new content mentioning catalyst optimizer rules and tungsten codegen"),
      doc(23, "also short")))

  private def keysOf(batch: Seq[(Long, String)]): Map[Long, Set[(Int, Long)]] =
    operators.Dedup.bandKeys(batch.toDF("doc_id", "text"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap

  /** Sequential replay of the admission rules (rule 1 then rule 2). */
  private def replay(bs: Seq[Seq[(Long, String)]]): Set[Long] = {
    val state = scala.collection.mutable.Set.empty[(Int, Long)]
    val out = scala.collection.mutable.Set.empty[Long]
    bs.foreach { b =>
      val keys = keysOf(b)
      val survivors = b.map(_._1).filter(id =>
        keys.getOrElse(id, Set.empty).forall(!state.contains(_)))
      // union-find over same-key collisions among survivors
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for (a <- survivors; c <- survivors if a < c
           if keys.getOrElse(a, Set.empty).exists(keys.getOrElse(c, Set.empty))) {
        val (ra, rc) = (find(a), find(c))
        if (ra != rc) parent(math.max(ra, rc)) = math.min(ra, rc)
      }
      val admitted = survivors.filter(id => find(id) == id)
      admitted.foreach(id => state ++= keys.getOrElse(id, Set.empty))
      out ++= admitted
    }
    out.toSet
  }

  test("distributed admission equals the sequential replay") {
    var state = StreamNearDedup.emptyState(spark)
    val got = scala.collection.mutable.Set.empty[Long]
    batches.foreach { b =>
      val (admitted, newKeys) =
        StreamNearDedup.admitBatch(spark, b.toDF("doc_id", "text"), state)
      got ++= admitted.select("doc_id").as[Long].collect()
      state = state.union(newKeys).localCheckpoint()
    }
    assert(got.toSet == replay(batches))
    // Sanity on the fixture's intent: trio canonical admitted, dups
    // dropped, shingle-less docs always admitted.
    assert(got.contains(3L) && !got.contains(7L) && !got.contains(5L))
    assert(got.contains(9L) && !got.contains(20L) && !got.contains(21L))
    assert(got.contains(11L) && got.contains(23L) && got.contains(22L))
  }

  test("batch boundaries matter: a batch admits only cluster canonicals") {
    // Same docs in ONE batch: intra-batch rule clusters 7/3/5 with the
    // batch-2 dup 20 — one representative for the whole family.
    val all = batches.flatten
    val (admitted, _) = StreamNearDedup.admitBatch(
      spark, all.toDF("doc_id", "text"), StreamNearDedup.emptyState(spark))
    val ids = admitted.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(3L) && !ids.contains(20L))
    assert(ids == replay(Seq(all)))
  }

  test("foreachBatch wrapper: MemoryStream batches drive the accumulator") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val acc = new StreamNearDedup.Accumulator(spark)
    val q = ms.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch((b: DataFrame, id: Long) => acc.onBatch(b, id))
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = acc.admitted.select("doc_id", "batch_id")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == replay(batches))
    // Arrival provenance survives: batch-2 admissions carry batch_id 1.
    assert(got(3L) == 0L && got(22L) == 1L)
  }

  test("paced stream stopped mid-sequence resumes from persisted state") {
    // The externalized-state contract: kill the JVM-held query after
    // two of the three paced batches, then run a FRESH query on the
    // same checkpoint + state dirs over the full file set. The resumed
    // run must process only the remaining file, with admission state
    // read back from the parquet band-key table — and the combined
    // admitted set must equal the single-run paced gate's, batch ids
    // included.
    import scala.jdk.CollectionConverters._
    val full = java.nio.file.Paths.get(
      StreamNearDedup.stagedPacedDocsDir(spark, sfDir))
    val src = java.nio.file.Files.createTempDirectory("graft_resume_src_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_resume_ckpt_")
    val state = java.nio.file.Files.createTempDirectory("graft_resume_state_")
    try {
      val files = scala.util.Using.resource(java.nio.file.Files.list(full))(
          _.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      def arrive(p: java.nio.file.Path): Unit = {
        val t = src.resolve(p.getFileName.toString)
        java.nio.file.Files.copy(p, t)
        assert(t.toFile.setLastModified(p.toFile.lastModified))
      }
      files.take(2).foreach(arrive)
      StreamNearDedup.runLiveAgainst(spark, src.toString, paced = true,
        ckpt.toString, state.toString)
      val phase1 = spark.read.parquet(s"$state/admitted")
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      assert(phase1.map(_._2) == Set(0L, 1L), "two batches before the stop")
      files.drop(2).foreach(arrive)
      StreamNearDedup.runLiveAgainst(spark, src.toString, paced = true,
        ckpt.toString, state.toString)
      val resumed = spark.read.parquet(s"$state/admitted")
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      // No re-emission of phase-1 batches, and the new batch continues
      // the checkpoint's numbering.
      assert(resumed.filter(_._2 <= 1L) == phase1)
      val single = SparkEntry.queries("stream_neardedup_paced")(spark, sfDir)
        .as[(Long, Long)].collect().toSet
      assert(resumed == single,
        s"resumed run diverges from the single-run answer: " +
          s"only-resumed=${(resumed -- single).take(5)} " +
          s"only-single=${(single -- resumed).take(5)}")
    } finally {
      Seq(src, ckpt, state).foreach(graft.streaming.StreamingOps.deleteRecursively)
    }
  }

  test("crash window: uncommitted partial batch writes are invisible and replayed") {
    // Simulates a death BETWEEN the per-batch state writes and the
    // commit marker — the non-atomic two-table window the commit
    // protocol exists for. After batch 0 commits, plant partial
    // bands+admitted directories for batch 1 — including a poison
    // admitted row and a poison band key that a correct resume must
    // neither serve nor collide against — with NO marker. The resumed
    // query must replay batch 1 in overwrite mode (clobbering the
    // partials) and converge to the single-run answer.
    import scala.jdk.CollectionConverters._
    val full = java.nio.file.Paths.get(
      StreamNearDedup.stagedPacedDocsDir(spark, sfDir))
    val src = java.nio.file.Files.createTempDirectory("graft_crashwin_src_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_crashwin_ckpt_")
    val state = java.nio.file.Files.createTempDirectory("graft_crashwin_state_")
    try {
      val files = scala.util.Using.resource(java.nio.file.Files.list(full))(
          _.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      def arrive(p: java.nio.file.Path): Unit = {
        val t = src.resolve(p.getFileName.toString)
        java.nio.file.Files.copy(p, t)
        assert(t.toFile.setLastModified(p.toFile.lastModified))
      }
      files.take(1).foreach(arrive)
      StreamNearDedup.runLiveAgainst(spark, src.toString, paced = true,
        ckpt.toString, state.toString)
      // Poison band key: EVERY doc in the next batch would collide with
      // it if uncommitted state leaked into the resume mirror. Use a
      // real band key from an upcoming doc to make the leak observable.
      val upcoming = spark.read.parquet(files(1).toString)
      val poisonKeys = operators.Dedup.bandKeys(upcoming)
        .select(col("band_idx"), col("band_key"))
      poisonKeys.coalesce(1).write.mode("overwrite")
        .parquet(s"$state/bands/batch_id=1")
      Seq((999999L, "poison row the replay must clobber"))
        .toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(s"$state/admitted/batch_id=1")
      assert(StreamNearDedup.readAdmitted(spark, state.toString)
        .filter(col("doc_id") === 999999L).count() == 0,
        "uncommitted partial admitted rows must be invisible")
      files.drop(1).foreach(arrive)
      StreamNearDedup.runLiveAgainst(spark, src.toString, paced = true,
        ckpt.toString, state.toString)
      val resumed = StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      assert(!resumed.exists(_._1 == 999999L), "poison row leaked")
      val single = SparkEntry.queries("stream_neardedup_paced")(spark, sfDir)
        .as[(Long, Long)].collect().toSet
      assert(resumed == single,
        s"crash-window replay diverges from the single-run answer: " +
          s"only-resumed=${(resumed -- single).take(5)} " +
          s"only-single=${(single -- resumed).take(5)}")
      // Every processed batch carries a marker, nothing else does.
      val markers = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(s"$state/commits")))(
          _.iterator().asScala.map(_.getFileName.toString.toLong).toSet)
      assert(markers == resumed.map(_._2) ||
        markers == (0L until operators.Dedup.PACED_BATCHES).toSet)
    } finally {
      Seq(src, ckpt, state).foreach(graft.streaming.StreamingOps.deleteRecursively)
    }
  }

  test("state compaction: fold mid-sequence, resume, same answer, O(state) layout") {
    // The long-lived-ingest contract: after two of the three paced
    // batches, fold the per-batch state dirs into a generation base
    // (compactState), then resume over the remaining file. The fold
    // must be output-invariant (admitted set identical to the
    // uncompacted single run, batch ids included), and the on-disk
    // layout afterwards must be O(state): per-batch dirs for the
    // folded ids GONE on the next fold's sweep, one base + the
    // unfolded tail meanwhile.
    import scala.jdk.CollectionConverters._
    val full = java.nio.file.Paths.get(
      StreamNearDedup.stagedPacedDocsDir(spark, sfDir))
    val src = java.nio.file.Files.createTempDirectory("graft_compact_src_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_compact_ckpt_")
    val state = java.nio.file.Files.createTempDirectory("graft_compact_state_")
    try {
      val files = scala.util.Using.resource(java.nio.file.Files.list(full))(
          _.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      def arrive(p: java.nio.file.Path): Unit = {
        val t = src.resolve(p.getFileName.toString)
        java.nio.file.Files.copy(p, t)
        assert(t.toFile.setLastModified(p.toFile.lastModified))
      }
      files.take(2).foreach(arrive)
      StreamNearDedup.runLiveAgainst(spark, src.toString, paced = true,
        ckpt.toString, state.toString)
      val before = StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      StreamNearDedup.compactState(spark, state.toString)
      // Pointer swapped to generation 1 covering both batches; the
      // visible admitted set is unchanged by the fold.
      assert(java.nio.file.Files.readString(
        state.resolve("MANIFEST")).trim == "1 1")
      assert(java.nio.file.Files.exists(state.resolve("bands-g1")) &&
        java.nio.file.Files.exists(state.resolve("admitted-g1")))
      assert(StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet == before)
      // Crashed-fold debris: a staged generation the pointer never
      // adopted must be invisible now and swept by the next fold.
      spark.range(1).selectExpr("1 as band_idx", "id as band_key",
        "9L as batch_id").write.parquet(s"$state/bands-g7")
      assert(StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet == before)
      // Resume over the remaining file: admission state comes from the
      // generation base, and the combined answer equals the
      // uncompacted single-run paced gate's.
      files.drop(2).foreach(arrive)
      StreamNearDedup.runLiveAgainst(spark, src.toString, paced = true,
        ckpt.toString, state.toString)
      val resumed = StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      val single = SparkEntry.queries("stream_neardedup_paced")(spark, sfDir)
        .as[(Long, Long)].collect().toSet
      assert(resumed == single,
        s"compacted-state resume diverges from the single-run answer: " +
          s"only-resumed=${(resumed -- single).take(5)} " +
          s"only-single=${(single -- resumed).take(5)}")
      // Second fold: folds the tail batch (the entry sweep also takes
      // the g7 crash debris, staged at a non-live generation).
      StreamNearDedup.compactState(spark, state.toString)
      assert(java.nio.file.Files.readString(
        state.resolve("MANIFEST")).trim == "2 2")
      assert(!java.nio.file.Files.exists(state.resolve("bands-g7")),
        "crashed-fold debris must be swept")
      // GC is deferred one fold (in-flight readers' grace): generation
      // 1 survives the fold that replaced it and falls to the NEXT
      // call's entry sweep. That next call is also the idempotence
      // check — nothing new to fold, the pointer does not move.
      assert(java.nio.file.Files.exists(state.resolve("bands-g1")))
      StreamNearDedup.compactState(spark, state.toString)
      assert(java.nio.file.Files.readString(
        state.resolve("MANIFEST")).trim == "2 2")
      Seq("bands", "admitted").foreach { t =>
        assert(!java.nio.file.Files.exists(state.resolve(s"$t-g1")),
          s"previous generation $t-g1 must be swept")
        (0L to 2L).foreach { k =>
          assert(!java.nio.file.Files.exists(
            state.resolve(s"$t/batch_id=$k")),
            s"folded per-batch dir $t/batch_id=$k must be swept")
        }
      }
      val markers = scala.util.Using.resource(
          java.nio.file.Files.list(state.resolve("commits")))(
          _.iterator().asScala.map(_.getFileName.toString.toLong).toSet)
      assert(markers == (0L until operators.Dedup.PACED_BATCHES).toSet,
        "commit markers must survive folds (replay skip + id monotonicity)")
      assert(StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet == single)
    } finally {
      Seq(src, ckpt, state).foreach(graft.streaming.StreamingOps.deleteRecursively)
    }
  }

  test("state compaction: fold-point invariance under seeded random boundaries") {
    // Randomized sibling of the paced fold test, engine-free (direct
    // PersistentAccumulator feeds): random batch boundaries over the
    // fixture docs, a fold after a random committed prefix, remaining
    // batches on a FRESH accumulator (the restart path) — admitted
    // (doc_id, batch_id) must equal the never-folded run's for the
    // same boundaries, whatever the split or fold point.
    val rnd = new scala.util.Random(4242L)
    val docs = batches.flatten
    (1 to 4).foreach { trial =>
      val nb = 2 + rnd.nextInt(3) // 2..4 batches
      val assign = docs.map(d => (d, rnd.nextInt(nb)))
      val bs = (0 until nb).map(k => assign.filter(_._2 == k).map(_._1))
      val foldAfter = rnd.nextInt(nb - 1) // fold once 0..foldAfter committed
      def run(fold: Boolean): Set[(Long, Long)] = {
        val state = java.nio.file.Files.createTempDirectory(s"graft_cprop_$trial")
        try {
          val acc1 = new StreamNearDedup.PersistentAccumulator(spark, state.toString)
          (0 to foldAfter).foreach(k => acc1.onBatch(bs(k).toDF("doc_id", "text"), k.toLong))
          if (fold) StreamNearDedup.compactState(spark, state.toString)
          val acc2 = new StreamNearDedup.PersistentAccumulator(spark, state.toString)
          (foldAfter + 1 until nb).foreach(k =>
            acc2.onBatch(bs(k).toDF("doc_id", "text"), k.toLong))
          StreamNearDedup.readAdmitted(spark, state.toString)
            .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
        } finally graft.streaming.StreamingOps.deleteRecursively(state)
      }
      val (folded, plain) = (run(fold = true), run(fold = false))
      assert(folded == plain,
        s"trial $trial (nb=$nb foldAfter=$foldAfter): fold changed the answer — " +
          s"only-folded=${(folded -- plain).take(5)} only-plain=${(plain -- folded).take(5)}")
    }
  }

  test("paced staging: one file per residue class, mtimes strictly increasing") {
    // The paced gate's ORACLE replays batch k = doc_id mod PACED_BATCHES
    // in file-mtime order, so this layout is load-bearing: a staging
    // regression must fail here with a named cause, not as an opaque
    // hash mismatch at the gate.
    val dir = StreamNearDedup.stagedPacedDocsDir(spark, sfDir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == operators.Dedup.PACED_BATCHES)
    assert(files.map(_.lastModified).sliding(2).forall { case Array(a, b) => a < b })
    files.zipWithIndex.foreach { case (f, k) =>
      val residues = spark.read.parquet(f.getPath)
        .select((col("doc_id") % operators.Dedup.PACED_BATCHES).as("r"))
        .distinct().as[Long].collect().toSet
      assert(residues == Set(k.toLong), s"file ${f.getName} holds residues $residues")
    }
    val staged = files.map(f => spark.read.parquet(f.getPath).count()).sum
    assert(staged == Tables.documents(spark, sfDir).count())
  }

  // --- keep-best admission (StreamKeepBest) -------------------------------
  // Punctuation-only variants tokenize identically (the tokenizer
  // strips [^a-z0-9\s]), so their shingle sets — and hence ALL 32 band
  // keys — are equal by construction: collision is guaranteed, while
  // quality still differs via the alphanumeric ratio (punctuation adds
  // length without alnum chars). That isolates the keep-best rules from
  // LSH recall in these fixtures.
  private val kbBatches: Seq[Seq[(Long, String)]] = Seq(
    Seq(doc(10, base + " zebra???"), doc(12, other)),
    Seq(doc(20, base + " zebra"), doc(21, "fresh unrelated catalyst text")),
    Seq(doc(30, base + " zebra!!!!!!!")))

  private def runKeepBest(stateDir: java.nio.file.Path,
      bs: Seq[(Seq[(Long, String)], Long)]): Map[Long, (Long, Double, String, Long)] = {
    val acc = new graft.streaming.StreamKeepBest.PersistentKeepBest(
      spark, stateDir.toString)
    bs.foreach { case (b, id) => acc.onBatch(b.toDF("doc_id", "text"), id) }
    acc.events.select("doc_id", "comp", "quality", "action", "batch_id")
      .as[(Long, Long, Double, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }

  test("keep-best: a later better capture replaces the cluster canonical") {
    val state = java.nio.file.Files.createTempDirectory("graft_kb_state_")
    try {
      val ev = runKeepBest(state, kbBatches.zipWithIndex.map {
        case (b, i) => (b, i.toLong) })
      // Batch 0 creates cluster 10 with the noisy capture; batch 1's
      // cleaner capture (higher alnum ratio) deposes it; batch 2's
      // noisier one loses the challenge.
      assert(ev(10L) == ((10L, ev(10L)._2, "new", 0L)))
      assert(ev(20L)._1 == 10L && ev(20L)._3 == "replace" && ev(20L)._4 == 1L)
      assert(ev(30L)._1 == 10L && ev(30L)._3 == "drop" && ev(30L)._4 == 2L)
      assert(ev(20L)._2 > ev(10L)._2 && ev(30L)._2 < ev(20L)._2)
      // Unrelated docs form their own singleton clusters.
      assert(ev(12L) == ((12L, ev(12L)._2, "new", 0L)))
      assert(ev(21L)._3 == "new")
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("keep-best: canonical table survives a restart (consolidated from events)") {
    // Feed batches 0 and 1 through one accumulator instance, then build
    // a FRESH instance on the same state dir (the crash-restart path:
    // the canonical mirror must be rebuilt from the committed event
    // log, including the batch-1 replacement) and feed batch 2. The
    // worse batch-2 capture must still lose to the RESTORED canonical
    // (doc 20), not to the deposed original (doc 10).
    val state = java.nio.file.Files.createTempDirectory("graft_kb_resume_")
    try {
      runKeepBest(state, kbBatches.take(2).zipWithIndex.map {
        case (b, i) => (b, i.toLong) })
      val ev = runKeepBest(state, Seq((kbBatches(2), 2L)))
      assert(ev(30L) == ((10L, ev(30L)._2, "drop", 2L)))
      // Redelivery idempotence: replaying a committed batch id through
      // yet another fresh instance changes nothing.
      val ev2 = runKeepBest(state, Seq((kbBatches(2), 2L)))
      assert(ev2 == ev)
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("keep-best: bands fold mid-sequence, events history intact, same answer") {
    // The keep-best compaction boundary: after two batches, fold the
    // band-key deltas (compactBands) — the restored accumulator must
    // route batch 2's challenger through the FOLDED footprint (doc 30
    // still drops against the generation-base bands), while the event
    // log keeps its full per-batch history (it is the output, never
    // folded) and matches the uncompacted three-batch replay exactly.
    val plain = java.nio.file.Files.createTempDirectory("graft_kb_plain_")
    val foldd = java.nio.file.Files.createTempDirectory("graft_kb_fold_")
    try {
      val all = kbBatches.zipWithIndex.map { case (b, i) => (b, i.toLong) }
      val expected = runKeepBest(plain, all)
      runKeepBest(foldd, all.take(2))
      graft.streaming.StreamKeepBest.compactBands(spark, foldd.toString)
      assert(java.nio.file.Files.readString(
        foldd.resolve("MANIFEST")).trim == "1 1")
      assert(java.nio.file.Files.exists(foldd.resolve("bands-g1")))
      assert(!java.nio.file.Files.exists(foldd.resolve("events-g1")),
        "the event log must never fold")
      val got = runKeepBest(foldd, all.drop(2))
      assert(got == expected,
        s"fold-then-resume diverges: got=$got expected=$expected")
      // Per-batch event dirs all survive the fold (output history).
      (0 to 2).foreach { k =>
        assert(java.nio.file.Files.exists(
          foldd.resolve(s"events/batch_id=$k")))
      }
      // A second fold sweeps the folded band dirs but not the events.
      graft.streaming.StreamKeepBest.compactBands(spark, foldd.toString)
      graft.streaming.StreamKeepBest.compactBands(spark, foldd.toString)
      assert(!java.nio.file.Files.exists(foldd.resolve("bands/batch_id=0")))
      assert(java.nio.file.Files.exists(foldd.resolve("events/batch_id=0")))
    } finally Seq(plain, foldd).foreach(
      graft.streaming.StreamingOps.deleteRecursively)
  }

  test("keep-best: mem-fold at MEM_FOLD_EVERY preserves latest-wins canonicals") {
    // 10 batches through ONE accumulator instance cross the in-memory
    // mirror fold (MEM_FOLD_EVERY = 8; disk fold stays at the default
    // 64, so only the mem-fold branch fires): the canonical mirror
    // folds via resolveLatest and the band mirror via the
    // min-collapsed union. A POST-fold challenger whose quality sits
    // strictly between the deposed original (batch 0) and the reigning
    // canonical (batch 1) must still lose — a part-order inversion in
    // either fold would present the deposed original as the incumbent
    // and record `replace` instead of `drop`. The state here stays within
    // SMALL_STATE_KEYS, so the persistent accumulator holds it on the
    // driver and this pins the answer on that path; "past the hand-off"
    // runs the same fixture through the mirrors' fold.
    val state = java.nio.file.Files.createTempDirectory("graft_kb_memfold_")
    try {
      val filler = (2 to 8).map(k =>
        Seq(doc(100L * k, s"filler text number$k only")))
      val bs: Seq[(Seq[(Long, String)], Long)] =
        (Seq(Seq(doc(10, base + " zebra???")), Seq(doc(20, base + " zebra")))
          ++ filler :+ Seq(doc(90, base + " zebra?"))).zipWithIndex
          .map { case (b, i) => (b, i.toLong) }
      assert(bs.size > graft.streaming.StreamNearDedup.MEM_FOLD_EVERY)
      val ev = runKeepBest(state, bs)
      assert(ev(20L)._1 == 10L && ev(20L)._3 == "replace" && ev(20L)._4 == 1L)
      assert(ev(90L)._1 == 10L && ev(90L)._3 == "drop" && ev(90L)._4 == 9L,
        s"post-fold challenge resolved wrongly: ${ev(90L)}")
      assert(ev(90L)._2 > ev(10L)._2 && ev(90L)._2 < ev(20L)._2,
        "fixture must order qualities original < challenger < canonical")
      // Filler singletons are untouched by the fold.
      (2 to 8).foreach(k => assert(ev(100L * k)._3 == "new"))
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("past the hand-off: admission across the mirror mem fold equals the references") {
    // The two mem-fold fixtures, each behind a first batch padded past
    // SMALL_BATCH_ROWS: that batch runs the distributed body and hands
    // the state off to the mirrors, and the small triggers after it
    // cross the mirrors' MEM_FOLD_EVERY fold. Keep-best: a post-fold
    // challenger of middling quality must lose to the reigning
    // canonical, not replace the deposed original. Near-dedup: tail,
    // base and intra-batch hits must equal the in-memory Accumulator
    // and the fixture's admitted set.
    val rnd = new scala.util.Random(31L)
    val pad = (1 to operators.Dedup.SMALL_BATCH_ROWS)
      .map(i => doc(100000L + i, Seq.fill(12)(s"w${rnd.nextInt(100000)}").mkString(" ")))
    val kbs = (Seq(doc(10, base + " zebra???") +: pad, Seq(doc(20, base + " zebra"))) ++
      (2 to 8).map(k => Seq(doc(100L * k, s"filler text number$k only"))) :+
      Seq(doc(90, base + " zebra?"))).zipWithIndex.map { case (b, i) => (b, i.toLong) }
    val (fixture, want) = ndMemFoldFixture
    val nds = ((fixture.head ++ pad) +: fixture.tail).zipWithIndex
    assert(kbs.size > StreamNearDedup.MEM_FOLD_EVERY + 1 &&
      nds.size > StreamNearDedup.MEM_FOLD_EVERY + 1)
    val (kb, nd) = (java.nio.file.Files.createTempDirectory("graft_kb_handoff_"),
      java.nio.file.Files.createTempDirectory("graft_nd_handoff_"))
    try {
      val ev = runKeepBest(kb, kbs)
      assert(ev(20L)._1 == 10L && ev(20L)._3 == "replace" && ev(20L)._4 == 1L)
      assert(ev(90L)._1 == 10L && ev(90L)._3 == "drop" && ev(90L)._4 == 9L,
        s"post-fold challenge resolved wrongly: ${ev(90L)}")
      assert(ev(90L)._2 > ev(10L)._2 && ev(90L)._2 < ev(20L)._2)
      val persistent = new StreamNearDedup.PersistentAccumulator(spark, nd.toString)
      val inMemory = new StreamNearDedup.Accumulator(spark)
      nds.foreach { case (b, k) =>
        persistent.onBatch(b.toDF("doc_id", "text"), k.toLong)
        inMemory.onBatch(b.toDF("doc_id", "text"), k.toLong)
      }
      def rows(df: DataFrame) =
        df.select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      val got = rows(persistent.admitted)
      assert(got == rows(inMemory.admitted))
      assert(got.filter(_._1 < 100000L) == want, s"admitted ${got.filter(_._1 < 100000L).toSeq.sorted}")
    } finally Seq(kb, nd).foreach(graft.streaming.StreamingOps.deleteRecursively)
  }

  // --- bounded components (the per-trigger clustering fast path) ----------

  test("componentsBounded equals the distributed star loop on random graphs") {
    // Path equality the fast path's scaladoc promises: same (id, comp)
    // set as [[Dedup.components]] on seeded random multigraphs (dup
    // edges and self-loops included — both drop self-loops, both
    // tolerate duplicates).
    val rnd = new scala.util.Random(1717L)
    (1 to 5).foreach { trial =>
      val n = 6 + rnd.nextInt(20)
      val m = rnd.nextInt(3 * n) + 1
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("a", "b")
      val fast = operators.Dedup.componentsBounded(edges)
        .as[(Long, Long)].collect().toSet
      val slow = operators.Dedup.components(edges)
        .as[(Long, Long)].collect().toSet
      assert(fast == slow, s"trial $trial (n=$n m=$m): bounded != star loop")
    }
    // Degenerate shapes: empty graph; self-loop-only graph (dropped by
    // both paths, so neither vertex appears).
    assert(operators.Dedup.componentsBounded(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
    assert(operators.Dedup.componentsBounded(
      Seq((4L, 4L), (9L, 9L)).toDF("a", "b")).count() == 0)
    // Integral id types other than long (the public API makes no long
    // promise): widened up front, same labels, long output on BOTH
    // the driver path and (via the cast frame) the fallback.
    val intFast = operators.Dedup.componentsBounded(
      Seq((1, 2), (2, 3), (7, 8)).toDF("a", "b"))
    assert(intFast.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
    assert(intFast.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
    val intSlow = operators.Dedup.componentsBounded(
      Seq((1, 2), (2, 3), (7, 8)).toDF("a", "b"), maxCollect = 1)
    assert(intSlow.as[(Long, Long)].collect().toSet ==
      intFast.as[(Long, Long)].collect().toSet)
  }

  test("componentsBounded past the bound falls back to the distributed path") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 13L), (11L, 13L))
      .toDF("a", "b")
    val fast = operators.Dedup.componentsBounded(edges, maxCollect = 2)
      .as[(Long, Long)].collect().toSet
    val slow = operators.Dedup.components(edges)
      .as[(Long, Long)].collect().toSet
    assert(fast == slow)
  }

  // --- in-loop fold / state-dir hygiene ------------------------------------

  test("persistent accumulator: in-loop disk fold (foldEvery) is answer-invariant") {
    // foldEvery=2 drives compactState from INSIDE onBatch after every
    // second commit (verdict item: the fold must not need an external
    // compaction job); the never-folding run is the reference. The
    // MANIFEST proves the folds actually ran mid-loop.
    val docs = batches.flatten
    val bs = (0 until 4).map(k => docs.zipWithIndex.collect {
      case (d, i) if i % 4 == k => d })
    def run(foldEvery: Int): (Set[(Long, Long)], Option[String]) = {
      val state = java.nio.file.Files.createTempDirectory("graft_infold_")
      try {
        val acc = new StreamNearDedup.PersistentAccumulator(
          spark, state.toString, foldEvery = foldEvery)
        bs.zipWithIndex.foreach { case (b, i) =>
          acc.onBatch(b.toDF("doc_id", "text"), i.toLong) }
        val got = StreamNearDedup.readAdmitted(spark, state.toString)
          .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
        val manifest = state.resolve("MANIFEST")
        (got, if (java.nio.file.Files.exists(manifest))
          Some(java.nio.file.Files.readString(manifest).trim) else None)
      } finally graft.streaming.StreamingOps.deleteRecursively(state)
    }
    val (folded, manifest) = run(foldEvery = 2)
    val (plain, noManifest) = run(foldEvery = 0)
    assert(folded == plain,
      s"in-loop fold changed the answer: only-folded=${(folded -- plain).take(5)} " +
        s"only-plain=${(plain -- folded).take(5)}")
    assert(manifest.contains("2 3"), s"expected two in-loop folds, got $manifest")
    assert(noManifest.isEmpty, "foldEvery=0 must never fold")
  }

  test("persistent accumulator: resume defers the history auto-fold to the first new batch") {
    // r18 verdict item 6 + r19 item 5: a restart over a history with
    // more than foldEvery unfolded committed batches carries the fold
    // DEBT instead of folding at construction — construction is
    // read-only (inspecting state never rewrites the layout, the r19
    // ADVICE) and pays only the plain mirror rebuild; the first NEW
    // committed batch trips the in-loop fold branch, compacting
    // history + batch. Answers unchanged throughout; foldEvery=0
    // still never folds (caller-driven posture preserved).
    val docs = batches.flatten
    val bs = (0 until 4).map(k => docs.zipWithIndex.collect {
      case (d, i) if i % 4 == k => d })
    val state = java.nio.file.Files.createTempDirectory("graft_resumefold_")
    try {
      val acc1 = new StreamNearDedup.PersistentAccumulator(
        spark, state.toString, foldEvery = 0) // build the unfolded history
      bs.zipWithIndex.foreach { case (b, i) =>
        acc1.onBatch(b.toDF("doc_id", "text"), i.toLong) }
      assert(!java.nio.file.Files.exists(state.resolve("MANIFEST")))
      val before = StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      // foldEvery=0 resume: still never folds.
      new StreamNearDedup.PersistentAccumulator(
        spark, state.toString, foldEvery = 0)
      assert(!java.nio.file.Files.exists(state.resolve("MANIFEST")),
        "foldEvery=0 resume must not fold")
      // foldEvery=2 resume over the 4-batch unfolded history:
      // CONSTRUCTION must not touch the on-disk layout ...
      val acc2 = new StreamNearDedup.PersistentAccumulator(
        spark, state.toString, foldEvery = 2)
      assert(!java.nio.file.Files.exists(state.resolve("MANIFEST")),
        "resume construction must be read-only (deferred fold)")
      // ... nor must replaying an already-committed batch (skip path).
      acc2.onBatch(bs(0).toDF("doc_id", "text"), 0L)
      assert(!java.nio.file.Files.exists(state.resolve("MANIFEST")),
        "a skipped committed batch must not trigger the deferred fold")
      assert(StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet == before)
      // The first NEW committed batch pays the deferred fold: history
      // (ids 0..3) + this batch (id 4) land in one generation. The
      // batch re-offers already-admitted docs, so it admits nothing
      // and the answer is unchanged — only the layout folds.
      acc2.onBatch(bs(1).toDF("doc_id", "text"), 4L)
      assert(java.nio.file.Files.exists(state.resolve("MANIFEST")) &&
        java.nio.file.Files.readString(state.resolve("MANIFEST")).trim == "1 4",
        "the first new committed batch must fold the carried history")
      val after = StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      assert(after == before, "deferred fold changed the answer")
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("keep-best: resume defers the band auto-fold to the first new batch") {
    val state = java.nio.file.Files.createTempDirectory("graft_kbresumefold_")
    try {
      runKeepBest(state, kbBatches.zipWithIndex.map {
        case (b, i) => (b, i.toLong) }) // default foldEvery=64: no fold
      assert(!java.nio.file.Files.exists(state.resolve("MANIFEST")))
      val before = graft.streaming.StreamKeepBest
        .readEvents(spark, state.toString)
        .select("doc_id", "comp", "quality", "action", "batch_id")
        .as[(Long, Long, Double, String, Long)].collect().toSet
      // Resume over the >foldEvery history: construction is read-only
      // (r19 item 5 + ADVICE — inspecting state never compacts it) ...
      val kb = new graft.streaming.StreamKeepBest.PersistentKeepBest(
        spark, state.toString, foldEvery = 2)
      assert(!java.nio.file.Files.exists(state.resolve("MANIFEST")),
        "keep-best resume construction must be read-only (deferred fold)")
      // ... and the first NEW committed batch pays the deferred band
      // fold. Re-offering batch-0 docs as a new batch adds only their
      // own challenge events; prior batches' events are untouched
      // (events never fold — the compaction boundary).
      kb.onBatch(kbBatches(0).toDF("doc_id", "text"), 3L)
      assert(java.nio.file.Files.exists(state.resolve("MANIFEST")),
        "the first new committed batch must fold the carried band history")
      val after = graft.streaming.StreamKeepBest
        .readEvents(spark, state.toString)
        .select("doc_id", "comp", "quality", "action", "batch_id")
        .as[(Long, Long, Double, String, Long)].collect().toSet
      assert(after.filter(_._5 < 3L) == before,
        "band compaction must never touch prior batches' event log")
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("live in-loop fold: AvailableNow queries folding mid-stream keep answers identical") {
    // verdict item: foldEvery=2 drives the disk fold from INSIDE the
    // running paced query (after its second trigger) — no external
    // compaction job. The MANIFEST proves the fold ran under the live
    // engine; the answers must be byte-identical to the unfolded runs.
    val src = StreamNearDedup.stagedPacedDocsDir(spark, sfDir)
    def dirs(tag: String) = (
      java.nio.file.Files.createTempDirectory(s"graft_livefold_${tag}_ckpt_"),
      java.nio.file.Files.createTempDirectory(s"graft_livefold_${tag}_state_"))
    val (ck1, st1) = dirs("nd")
    val (ck2, st2) = dirs("kb")
    val (ck3, st3) = dirs("kb0")
    try {
      // First-touch accumulator under the live engine, folding in-loop.
      StreamNearDedup.runLiveAgainst(spark, src, paced = true,
        ck1.toString, st1.toString, foldEvery = 2)
      assert(java.nio.file.Files.readString(st1.resolve("MANIFEST")).trim == "1 1",
        "the in-loop fold must have run under the live query")
      val folded = StreamNearDedup.readAdmitted(spark, st1.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      val single = SparkEntry.queries("stream_neardedup_paced")(spark, sfDir)
        .as[(Long, Long)].collect().toSet
      assert(folded == single,
        s"live in-loop fold changed the paced answer: " +
          s"only-folded=${(folded -- single).take(5)} " +
          s"only-single=${(single -- folded).take(5)}")
      // Keep-best accumulator: same contract, fold vs no-fold runs.
      graft.streaming.StreamKeepBest.runLiveAgainst(spark, src,
        ck2.toString, st2.toString, foldEvery = 2)
      assert(java.nio.file.Files.readString(st2.resolve("MANIFEST")).trim == "1 1")
      graft.streaming.StreamKeepBest.runLiveAgainst(spark, src,
        ck3.toString, st3.toString)
      def evs(st: java.nio.file.Path) =
        graft.streaming.StreamKeepBest.readEvents(spark, st.toString)
          .select("doc_id", "comp", "quality", "action", "batch_id")
          .as[(Long, Long, Double, String, Long)].collect().toSet
      assert(evs(st2) == evs(st3),
        "live in-loop band fold changed the keep-best event log")
    } finally Seq(ck1, st1, ck2, st2, ck3, st3).foreach(
      graft.streaming.StreamingOps.deleteRecursively)
  }

  test("compactState tolerates a trailing slash in stateDir") {
    // r15 advice regression: the sweep compared a concatenated path
    // string against a normalized java.nio Path — a trailing slash in
    // the caller-supplied stateDir made them differ and the sweep
    // deleted the LIVE generation base.
    val state = java.nio.file.Files.createTempDirectory("graft_slash_")
    try {
      val acc = new StreamNearDedup.PersistentAccumulator(spark, state.toString)
      batches.zipWithIndex.foreach { case (b, i) =>
        acc.onBatch(b.toDF("doc_id", "text"), i.toLong) }
      val before = StreamNearDedup.readAdmitted(spark, state.toString)
        .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      val slashed = state.toString + "/"
      StreamNearDedup.compactState(spark, slashed)
      // Second call's entry sweep is where the live base died before.
      StreamNearDedup.compactState(spark, slashed)
      assert(java.nio.file.Files.exists(state.resolve("bands-g1")),
        "live generation base swept under a trailing-slash stateDir")
      Seq(slashed, state.toString).foreach { d =>
        assert(StreamNearDedup.readAdmitted(spark, d)
          .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet == before)
      }
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("readState fails loudly when the manifest names a missing generation base") {
    // r15 advice: silently returning only the unfolded tail would drop
    // every folded row — state would resume near-empty and re-admit
    // near-duplicates. Corrupt storage must refuse to start.
    val state = java.nio.file.Files.createTempDirectory("graft_loud_")
    try {
      val acc = new StreamNearDedup.PersistentAccumulator(spark, state.toString)
      batches.zipWithIndex.foreach { case (b, i) =>
        acc.onBatch(b.toDF("doc_id", "text"), i.toLong) }
      StreamNearDedup.compactState(spark, state.toString)
      graft.streaming.StreamingOps.deleteRecursively(state.resolve("bands-g1"))
      val e = intercept[IllegalArgumentException] {
        new StreamNearDedup.PersistentAccumulator(spark, state.toString)
      }
      assert(e.getMessage.contains("MANIFEST") &&
        e.getMessage.contains("bands-g1"))
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("keep-best: write labels do not leak onto later jobs from pool threads") {
    // The two concurrent delta writes label the ExecutionContext.global
    // threads they run on; a pool thread that keeps the label would
    // stamp it on every unrelated job it submits later.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import scala.jdk.CollectionConverters._
    val state = java.nio.file.Files.createTempDirectory("graft_kb_labels_")
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    try {
      runKeepBest(state, kbBatches.zipWithIndex.map {
        case (b, i) => (b, i.toLong) })
      spark.sparkContext.addSparkListener(listener)
      val n = 8 * Runtime.getRuntime.availableProcessors
      Await.result(Future.sequence((1 to n).map(_ =>
        Future(spark.sparkContext.parallelize(1 to 2, 1).count()))), 5.minutes)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (descs.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      assert(descs.size >= n, s"saw ${descs.size} of $n job starts")
      val leaked = descs.asScala.filter(_.contains("keepbest")).toSet
      assert(leaked.isEmpty, s"pool-thread jobs carried keep-best labels: $leaked")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.streaming.StreamingOps.deleteRecursively(state)
    }
  }

  test("accumulators: every job a trigger starts carries the trigger's job group") {
    // Each onBatch runs directly under setJobGroup(g<k>); the fetch, the
    // probes and both concurrent delta writes must all carry g<k>
    // ([[jobsPerCall]] cuts the job starts into per-call segments).
    val nd = java.nio.file.Files.createTempDirectory("graft_nd_groups_")
    val kb = java.nio.file.Files.createTempDirectory("graft_kb_groups_")
    try {
      val accs = Seq[(String, (DataFrame, Long) => Unit)](
        "nd" -> new StreamNearDedup.PersistentAccumulator(spark, nd.toString).onBatch,
        "kb" -> new graft.streaming.StreamKeepBest.PersistentKeepBest(
          spark, kb.toString).onBatch)
      val calls = for {
        (b, k) <- kbBatches.zipWithIndex
        (name, onBatch) <- accs
      } yield s"$name-g$k" -> (() => onBatch(b.toDF("doc_id", "text"), k.toLong))
      jobsPerCall(calls).foreach { case (g, seg) =>
        assert(seg.nonEmpty, s"no job seen for $g")
        assert(seg.forall(_ == g), s"jobs of $g ran under groups ${seg.distinct}")
      }
    } finally {
      graft.streaming.StreamingOps.deleteRecursively(nd)
      graft.streaming.StreamingOps.deleteRecursively(kb)
    }
  }

  test("keep-best: running argmax equals the batch keep-best argmax") {
    // The invariant the gate's `kept` flag rides on: whatever the
    // batch boundaries, each cluster's final canonical is the global
    // (quality DESC, doc_id) argmax over the docs routed to it. Run the
    // same docs as ONE batch and as the three-batch sequence; the kept
    // set must agree.
    val s1 = java.nio.file.Files.createTempDirectory("graft_kb_one_")
    val s3 = java.nio.file.Files.createTempDirectory("graft_kb_three_")
    try {
      def keptOf(m: Map[Long, (Long, Double, String, Long)]): Set[Long] = {
        // final canonical per comp = argmax (quality desc, doc_id asc)
        m.groupBy(_._2._1).values.map(g =>
          g.toSeq.sortBy { case (id, (_, q, _, _)) => (-q, id) }.head._1).toSet
      }
      val one = runKeepBest(s1, Seq((kbBatches.flatten, 0L)))
      val three = runKeepBest(s3, kbBatches.zipWithIndex.map {
        case (b, i) => (b, i.toLong) })
      assert(keptOf(one) == keptOf(three))
      assert(keptOf(three).contains(20L) && !keptOf(three).contains(10L))
    } finally Seq(s1, s3).foreach(graft.streaming.StreamingOps.deleteRecursively)
  }

  test("clustered mirror probe: no exchange and no sort on the state side") {
    // The scale claim behind the flat per-trigger admission cost: a
    // ckptClustered band frame joins with ONLY the keys side paying an
    // exchange + sort — the state side is a merge scan of the
    // checkpointed layout. Plan-pinned so a refactor (or an AQE
    // behavior change) that silently reintroduces the per-trigger
    // state re-shuffle fails here, not in a scale probe three rounds
    // later. LogicalRDD reports no stats, so the planner always picks
    // SortMergeJoin for the checkpointed side — the plan is stable.
    import spark.implicits._
    val bands = (0L until 100000L)
      .map(i => ((i % 16).toInt, i * 2654435761L)).toDF("band_idx", "band_key")
    val base = StreamNearDedup.ckptClustered(spark, bands)
    val keys = (0L until 500L)
      .map(i => ((i % 16).toInt, i * 7919L, i)).toDF("band_idx", "band_key", "doc_id")
    // Pin the LARGE-state regime (the one the flatness claim is
    // about): below the broadcast threshold the planner broadcasts the
    // state instead, which is also exchange-free on the state side but
    // not the shape that must hold at 10⁹ rows.
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(threshold)
    val plan = try {
      spark.conf.set(threshold, "-1")
      val probe = keys.join(base, Seq("band_idx", "band_key"), "left_semi")
      probe.queryExecution.toRdd.count()
      // The executed-plan string under AQE prints Final AND Initial
      // plan sections — assert over the final one only.
      probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
    } finally spark.conf.set(threshold, old)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    val sorts = "Sort \\[".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly the keys-side exchange, got $exchanges:\n$plan")
    assert(sorts == 1, s"expected exactly the keys-side sort, got $sorts:\n$plan")
    assert(plan.contains("ExistingRDD"),
      "the state side must be the checkpointed scan itself")
  }

  test("known-ids mirror probe: no exchange and no sort on the id-base side") {
    // The single-key twin of the band-mirror pin above, for the ANN
    // upsert loop's idempotence anti-join ([[StreamAnnUpsert
    // .KnownIdsMirror]]): the vec_id-clustered checkpointed base joins
    // with only the batch side paying an exchange + sort.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ids = (0L until 100000L).map(i => i * 2654435761L).toDF("vec_id")
    val base = StreamNearDedup.ckptClustered(spark, ids, col("vec_id"))
    val batch = (0L until 500L).map(i => (i * 7919L, i)).toDF("vec_id", "x")
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(threshold)
    val plan = try {
      spark.conf.set(threshold, "-1")
      val fresh = batch.join(base, Seq("vec_id"), "left_anti")
      fresh.queryExecution.toRdd.count()
      fresh.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
    } finally spark.conf.set(threshold, old)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    val sorts = "Sort \\[".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly the batch-side exchange, got $exchanges:\n$plan")
    assert(sorts == 1, s"expected exactly the batch-side sort, got $sorts:\n$plan")
    assert(plan.contains("ExistingRDD"),
      "the id-base side must be the checkpointed scan itself")
  }

  // --- the in-memory state mirror -------------------------------------------

  /** The near-dedup mem-fold fixture: 11 batches, each batch k with a
    * fresh doc (1000+k), a near-dup of the previous batch's fresh doc
    * (2000+k), a near-dup of batch 0's (3000+k) and an intra-batch
    * near-dup pair (4000+k, 5000+k) of which only the min id may be
    * admitted; and the admitted (doc_id, batch_id) set. */
  private def ndMemFoldFixture: (Seq[Seq[(Long, String)]], Set[(Long, Long)]) = {
    val rnd = new scala.util.Random(808L)
    def text(): String = Seq.fill(15)(s"w${rnd.nextInt(400)}").mkString(" ")
    val nb = 11
    val fresh = Seq.fill(nb)(text())
    val pair = Seq.fill(nb)(text())
    val bs = (0 until nb).map { k =>
      Seq(doc(1000L + k, fresh(k)), doc(4000L + k, pair(k)),
        doc(5000L + k, pair(k) + " twin")) ++
        (if (k == 0) Nil
         else Seq(doc(2000L + k, fresh(k - 1) + " tail"),
           doc(3000L + k, fresh(0) + s" again$k")))
    }
    (bs, (0 until nb).flatMap(k =>
      Seq((1000L + k, k.toLong), (4000L + k, k.toLong))).toSet)
  }

  test("near-dedup: admission across the mem fold equals the in-memory Accumulator") {
    // 11 batches through ONE PersistentAccumulator ([[ndMemFoldFixture]]).
    // Their state stays within SMALL_STATE_KEYS, so it is held on the
    // driver and this pins the answer on that path; "past the hand-off"
    // runs the same fixture through the mirror's MEM_FOLD_EVERY fold,
    // where the last batches probe a folded base plus fresh tail parts.
    val (bs, want) = ndMemFoldFixture
    assert(bs.size > StreamNearDedup.MEM_FOLD_EVERY + 1)
    val state = java.nio.file.Files.createTempDirectory("graft_nd_memfold_")
    try {
      val persistent = new StreamNearDedup.PersistentAccumulator(spark, state.toString)
      val inMemory = new StreamNearDedup.Accumulator(spark)
      bs.zipWithIndex.foreach { case (b, k) =>
        persistent.onBatch(b.toDF("doc_id", "text"), k.toLong)
        inMemory.onBatch(b.toDF("doc_id", "text"), k.toLong)
      }
      def rows(df: DataFrame) =
        df.select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
      val got = rows(persistent.admitted)
      assert(got == rows(inMemory.admitted),
        s"persistent ${got.toSeq.sorted} != in-memory ${rows(inMemory.admitted).toSeq.sorted}")
      assert(got == want, s"admitted ${got.toSeq.sorted}")
    } finally graft.streaming.StreamingOps.deleteRecursively(state)
  }

  test("state mirror: a delta over RUN_CLUSTER_BYTES enters clustered, a small one stays a scan") {
    // The tail-run rule: a committed delta past the broadcast regime
    // must probe like the base — no exchange and no sort on the state
    // side (the plan pins of the clustered-probe test below) — while
    // a broadcast-regime delta stays the lazy parquet scan.
    import graft.streaming.StateMirror
    val dir = java.nio.file.Files.createTempDirectory("graft_mirror_run_")
    try {
      val (big, small) = (s"$dir/big", s"$dir/small")
      spark.range(700000L)
        .select((col("id") % 16).cast("int").as("band_idx"),
          xxhash64(col("id")).as("band_key"))
        .coalesce(1).write.parquet(big)
      spark.range(100L)
        .select((col("id") % 16).cast("int").as("band_idx"),
          xxhash64(col("id")).as("band_key"))
        .coalesce(1).write.parquet(small)
      assert(StateMirror.dirBytes(big) > StateMirror.RUN_CLUSTER_BYTES,
        s"fixture delta is only ${StateMirror.dirBytes(big)} bytes")
      val mirror = new StateMirror(
        StreamNearDedup.ckptClustered(spark, StreamNearDedup.emptyState(spark)),
        parts => StreamNearDedup.ckptClustered(spark, parts.reduce(_ unionAll _)))
      mirror.advanceCommitted(small, spark.read.parquet(small))
      assert(mirror.parts.size == 2)
      assert(!mirror.parts.head.queryExecution.executedPlan.toString
        .contains("ExistingRDD"), "a small delta must stay a lazy scan")
      mirror.advanceCommitted(big, spark.read.parquet(big))
      assert(mirror.parts.size == 3)
      val run = mirror.parts.head
      val keys = (0L until 500L)
        .map(i => ((i % 16).toInt, i * 7919L, i)).toDF("band_idx", "band_key", "doc_id")
      val threshold = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.get(threshold)
      val plan = try {
        spark.conf.set(threshold, "-1")
        val probe = keys.join(run, Seq("band_idx", "band_key"), "left_semi")
        probe.queryExecution.toRdd.count()
        probe.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
      } finally spark.conf.set(threshold, old)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      val sorts = "Sort \\[".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected exactly the keys-side exchange, got $exchanges:\n$plan")
      assert(sorts == 1, s"expected exactly the keys-side sort, got $sorts:\n$plan")
      assert(plan.contains("ExistingRDD"),
        "the big delta must be the checkpointed scan itself")
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("keep-best: a trigger's events recompute to the same rows after unpersist") {
    // The per-trigger persist is best-effort; an evicted block is
    // recomputed per consumer, which is value-safe only if every
    // choice in the events plan is a total order. The fixture has the
    // ties and the multi-cluster routing those orders resolve: docs
    // 300/301 share a text (a quality tie) whose band keys hit TWO
    // clusters (100 and 200 — routing takes the min), 400/401 share a
    // text and form a fresh cluster (another tie), and comp 100 has
    // two canonical parts (latest-wins must pick the newer one).
    import graft.streaming.StreamKeepBest
    val tied = base + " zebra"
    val batch = Seq(doc(300, tied), doc(301, tied),
        doc(400, other + " nightly"), doc(401, other + " nightly"))
      .toDF("doc_id", "text").repartition(4, col("doc_id")).persist()
    val keys = operators.Dedup.bandKeys(batch).persist()
    try {
      val bands = keys.filter(col("doc_id") === 300L)
        .select(col("band_idx"), col("band_key"),
          when(col("band_idx") % 2 === 0, lit(100L)).otherwise(lit(200L)).as("comp"))
        .localCheckpoint()
      assert(bands.select("comp").distinct().count() == 2)
      val canonParts = Seq(
        Seq((100L, 150L, 0.0)).toDF("comp", "doc_id", "quality"),
        Seq((100L, 100L, 0.99), (200L, 200L, 0.99)).toDF("comp", "doc_id", "quality"))
      val (events0, _) = StreamKeepBest.keepBestWithKeys(spark, batch, keys,
        Seq(bands), canonParts, ckptProbe = true)
      val events = events0.persist()
      def rows(): Seq[(Long, Long, Double, String)] =
        events.as[(Long, Long, Double, String)].collect().toSeq.sortBy(_._1)
      val cached = rows()
      assert(events.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      events.unpersist(blocking = true)
      keys.unpersist(blocking = true)
      batch.unpersist(blocking = true)
      assert(events.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(rows() == cached, "recomputed events differ from the persisted rows")
      val ev = cached.map(r => r._1 -> r).toMap
      assert(ev(300L)._2 == 100L && ev(300L)._4 == "replace", s"${ev(300L)}")
      assert(ev(301L)._2 == 100L && ev(301L)._4 == "drop" && ev(301L)._3 == ev(300L)._3)
      assert(ev(400L)._2 == 400L && ev(400L)._4 == "new", s"${ev(400L)}")
      assert(ev(401L)._2 == 400L && ev(401L)._4 == "drop" && ev(401L)._3 == ev(400L)._3)
    } finally {
      keys.unpersist(blocking = false)
      batch.unpersist(blocking = false)
    }
  }

  // --- per-trigger job counts -------------------------------------------------

  test("accumulators: 3 jobs a trigger within both bounds, one probe query per state table past them") {
    // Each batch is a one-file parquet read with its schema, like the
    // stream's file source: its fetch is one job. Within both bounds a
    // trigger of either accumulator is the fetch and the two delta
    // writes — also right after a restart, which resumes on the driver,
    // and on the first 2100-doc trigger. The second one's commit takes
    // the state past SMALL_STATE_KEYS, so that trigger also builds the
    // mirrors from storage. Every trigger after it adds one probe query
    // per state table, a broadcast job and a collect job each:
    // near-dedup 5 jobs, keep-best 7 (a doc collides, so the canonical
    // table is probed too).
    val rnd = new scala.util.Random(77L)
    def fresh() = Seq.fill(12)(s"w${rnd.nextInt(100000)}").mkString(" ")
    val bigs = Seq(Vector.tabulate(2100)(i => doc(100000L + i, fresh())),
      Vector.tabulate(2100)(i => doc(200000L + i, fresh())))
    val past = Seq(
      Seq(doc(300001L, bigs(0)(5)._2 + " !!!"), doc(300002L, fresh()),
        doc(300003L, base + " yak")),
      Seq(doc(300011L, bigs(1)(7)._2 + " again"), doc(300012L, fresh()),
        doc(300013L, bigs(0)(9)._2.replace(" ", ", "))))
    val batches = kbBatches ++ Seq(Seq(doc(40, base + " emu"), doc(41, fresh()))) ++
      bigs ++ past
    assert(bigs.map(_.size).sum * operators.Dedup.LSH_BANDS > operators.Dedup.SMALL_STATE_KEYS)
    val dir = java.nio.file.Files.createTempDirectory("graft_trigger_jobs_")
    val (nd, kb) = (dir.resolve("nd").toString, dir.resolve("kb").toString)
    try {
      val read = batches.indices.map { k =>
        val path = s"$dir/src/batch$k"
        batches(k).toDF("doc_id", "text").coalesce(1).write.parquet(path)
        spark.read.schema("doc_id LONG, text STRING").parquet(path)
      }
      var ndAcc = new StreamNearDedup.PersistentAccumulator(spark, nd)
      var kbAcc = new graft.streaming.StreamKeepBest.PersistentKeepBest(spark, kb)
      def trigger(k: Int) = Seq(
        s"nd-g$k" -> (() => ndAcc.onBatch(read(k), k.toLong)),
        s"kb-g$k" -> (() => kbAcc.onBatch(read(k), k.toLong)))
      val restartAt = kbBatches.size
      val jobs = jobsPerCall(
        (0 until restartAt).flatMap(trigger) ++
          Seq("restart" -> (() => {
            ndAcc = new StreamNearDedup.PersistentAccumulator(spark, nd)
            kbAcc = new graft.streaming.StreamKeepBest.PersistentKeepBest(spark, kb)
          })) ++
          (restartAt until batches.size).flatMap(trigger))
      val handOff = restartAt + 2
      for (k <- 0 until handOff; acc <- Seq("nd", "kb")) {
        val seg = jobs(s"$acc-g$k")
        assert(seg.size == 3 && seg.forall(_ == s"$acc-g$k"),
          s"$acc trigger $k within both bounds ran ${seg.size} jobs: $seg")
      }
      assert(jobs(s"nd-g$handOff").size > 3 && jobs(s"kb-g$handOff").size > 3,
        "the trigger whose commit crosses the bound builds the mirrors")
      for (k <- handOff + 1 until batches.size) {
        assert(jobs(s"nd-g$k").size == 5, s"near-dedup past the bound: ${jobs(s"nd-g$k")}")
        assert(jobs(s"kb-g$k").size == 7, s"keep-best past the bound: ${jobs(s"kb-g$k")}")
      }
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }
}
