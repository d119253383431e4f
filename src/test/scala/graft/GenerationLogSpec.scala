package graft

import graft.operators.Similarity
import graft.storage.GenerationLog
import graft.streaming.{StreamKeepBest, StreamNearDedup}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Crash-point matrix for the three stores on [[GenerationLog]]: the ANN
  * index, near-dedup admission state and keep-best bands. Each store
  * runs one op sequence (batches and folds, a fresh instance per op —
  * the resume path) and snapshots its layout after every op. Every row
  * then plants the on-disk state of one protocol step boundary in a copy
  * of a snapshot — no fault hook in the program — and asserts that the
  * planted state reads as the last completed step did, and that
  * resuming the remaining ops ends at the single run's answer. */
object GenerationLogSpec {
  sealed trait Op
  final case class Batch(k: Int) extends Op
  case object Fold extends Op
}

class GenerationLogSpec extends SparkSpecBase {
  import GenerationLogSpec._
  import spark.implicits._

  private val ops: Seq[Op] =
    Seq(Batch(0), Batch(1), Fold, Batch(2), Batch(3), Fold, Batch(4))

  /** One store: `batch` and `fold` build a fresh instance on `dir`,
    * `read` renders the visible rows as a sorted multiset. The
    * remaining members are the store's format facts, spelled out as
    * literals so the layout itself is pinned. */
  private abstract class Store(val name: String) {
    def log(dir: String): GenerationLog
    def tables: Seq[String]
    def init(dir: String): Unit = ()
    def batch(dir: String, k: Int): Unit
    def fold(dir: String): Unit
    def read(dir: String): Seq[String]
    def gen0: (Long, Long)
    def firstId: Long
    def payloadDir(dir: String, id: Long): Seq[String]
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Multiset equality, failing with a short diff. */
  private def same(got: Seq[String], want: Seq[String], what: String): Unit =
    if (got != want) fail(s"$what: only-got=${got.diff(want).take(3)} " +
      s"only-want=${want.diff(got).take(3)}")

  private val base =
    "the quick brown fox jumps over the lazy dog again and again today"
  private val other =
    "completely different words about spark clusters shuffling parquet files nightly"
  private val third =
    "brand new content mentioning catalyst optimizer rules and tungsten codegen"

  /** Punctuation-only variants tokenize identically, so they always
    * collide: later batches challenge or repeat earlier admissions. */
  private val docBatches: Seq[Seq[(Long, String)]] = Seq(
    Seq((10L, base + " zebra???"), (12L, other), (13L, "too short")),
    Seq((20L, base + " zebra"), (21L, third)),
    Seq((30L, base + " zebra!!!!!!!"), (31L, other + "!!"),
      (32L, "fresh text about generation pointers and commit markers")),
    Seq((40L, base + " zebra?"), (41L, third + "!"), (42L, "lone unrelated text about folds")),
    Seq((50L, other + "?"), (51L, "lone unrelated text about folds!!"),
      (52L, "a final distinct document concerning atomic renames")))

  private def streamStore(name: String, tabs: Seq[String]): Store =
    new Store(name) {
      def log(dir: String) = GenerationLog.stream(dir, tabs)
      def tables = tabs
      def gen0 = (0L, -1L)
      def firstId = 0L
      def payloadDir(dir: String, id: Long) = tabs.map(t => s"$dir/$t/batch_id=$id")
      def batch(dir: String, k: Int) = {
        val b = docBatches(k).toDF("doc_id", "text")
        if (tabs.contains("admitted"))
          new StreamNearDedup.PersistentAccumulator(spark, dir, foldEvery = 0)
            .onBatch(b, k.toLong)
        else new StreamKeepBest.PersistentKeepBest(spark, dir, foldEvery = 0)
          .onBatch(b, k.toLong)
      }
      def fold(dir: String) =
        if (tabs.contains("admitted")) StreamNearDedup.compactState(spark, dir)
        else StreamKeepBest.compactBands(spark, dir)
      def read(dir: String) =
        if (tabs.contains("admitted"))
          rows(StreamNearDedup.readAdmitted(spark, dir).select("doc_id", "text", "batch_id"))
        else rows(StreamKeepBest.readEvents(spark, dir)
          .select("doc_id", "comp", "quality", "action", "batch_id"))
    }

  private lazy val raw = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private val indexStore: Store = new Store("index") {
    def log(dir: String) = GenerationLog.index(dir)
    def tables = Seq("codes", "rcodes")
    def gen0 = (0L, 0L)
    def firstId = 1L
    def payloadDir(dir: String, id: Long) = Seq(s"$dir/deltas/$id")
    override def init(dir: String) =
      Similarity.buildIndexAt(spark, raw.filter(col("vec_id") % 4 =!= 3), dir)
    // Upserts and tombstone deletes interleave; the last op resurrects
    // ids deleted earlier.
    def batch(dir: String, k: Int) = k match {
      case 0 => Similarity.annIndexUpsert(spark, dir, raw.filter(col("vec_id") % 8 === 3))
      case 1 => Similarity.annIndexDelete(spark, dir,
        raw.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      case 2 => Similarity.annIndexDelete(spark, dir,
        raw.filter(col("vec_id") % 7 === 1).select(col("vec_id")))
      case 3 => Similarity.annIndexUpsert(spark, dir, raw.filter(col("vec_id") % 8 === 7))
      case _ => Similarity.annIndexUpsert(spark, dir, raw.filter(col("vec_id") % 5 === 0))
    }
    def fold(dir: String) = Similarity.annIndexCompact(spark, dir)
    def read(dir: String) = tables.flatMap(t =>
      rows(Similarity.readCodes(spark, dir, t)).map(t + "|" + _)).sorted
  }

  private def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }

  private def exists(p: String) = Files.exists(Paths.get(p))

  private def crashMatrix(store: Store): Unit = {
    val work = Files.createTempDirectory(s"graft_genlog_${store.name}_")
    def run(dir: String, op: Op): Unit = op match {
      case Batch(k) => store.batch(dir, k)
      case Fold => store.fold(dir)
    }
    try {
      val single = work.resolve("single").toString
      store.init(single)
      // Format facts: the gen-0 pointer, the first id and where its
      // payload lands.
      assert(store.log(single).pointer == store.gen0)
      assert(store.log(single).nextId == store.firstId)
      val reads = ops.zipWithIndex.map { case (op, i) =>
        run(single, op)
        if (i == 0) {
          assert(store.log(single).committed == Set(store.firstId))
          store.payloadDir(single, store.firstId).foreach(p =>
            assert(exists(p), s"${store.name}: first payload not at $p"))
        }
        copyTree(Paths.get(single), work.resolve(s"snap$i"))
        store.read(single)
      }
      val final0 = reads.last
      assert(reads.distinct.size > 3, s"${store.name}: fixture ops change nothing")

      def resume(label: String, snap: Int, resumeFrom: Int)(
          plant: String => Unit): String = {
        val dir = work.resolve(label).toString
        copyTree(work.resolve(s"snap$snap"), Paths.get(dir))
        plant(dir)
        same(store.read(dir), reads(resumeFrom - 1),
          s"${store.name}/$label: the planted state must read as the last completed step")
        ops.drop(resumeFrom).foreach(run(dir, _))
        same(store.read(dir), final0,
          s"${store.name}/$label: resume diverges from the single run")
        dir
      }

      // Data written, marker absent: the op after the first fold
      // crashed between its payload and its marker.
      resume("no-marker", snap = 3, resumeFrom = 3) { dir =>
        val log = store.log(dir)
        Files.delete(Paths.get(dir, "commits", log.committed.max.toString))
        store.payloadDir(dir, log.nextId).foreach(p => assert(exists(p)))
      }
      // Partial staging: the first fold died writing generation 1 of
      // its first table.
      resume("partial-stage", snap = 1, resumeFrom = 2) { dir =>
        spark.range(3).selectExpr("id AS junk").write
          .parquet(store.log(dir).tableRoot(store.tables.head, 1))
      }
      // MANIFEST.tmp left behind: staging complete, pointer not swapped.
      // (snap 2 reads as snap 1 did: a fold moves no row.)
      assert(reads(2) == reads(1))
      val tmpRow = resume("manifest-tmp", snap = 2, resumeFrom = 3) { dir =>
        Files.move(Paths.get(dir, "MANIFEST"), Paths.get(dir, "MANIFEST.tmp"))
        assert(store.log(dir).pointer == store.gen0)
      }
      assert(!exists(s"$tmpRow/MANIFEST.tmp"))

      // What the second fold left for the next fold's GC: generation 1
      // and the payloads it folded.
      val (folded1, folded2) = (store.log(work.resolve("snap2").toString).pointer._2,
        store.log(work.resolve("snap5").toString).pointer._2)
      def garbage(dir: String): Seq[String] =
        store.tables.map(store.log(dir).tableRoot(_, 1)) ++
          (folded1 + 1 to folded2).flatMap(store.payloadDir(dir, _))
      assert(garbage(work.resolve("snap5").toString).forall(exists),
        s"${store.name}: GC must trail the swap by one fold")
      def reclaimed(dir: String): Unit = {
        store.fold(dir)
        assert(garbage(dir).forall(p => !exists(p)),
          s"${store.name}: the next fold must finish the GC")
        same(store.read(dir), final0, s"${store.name}: GC changed the read")
      }
      // After the swap, before GC.
      reclaimed(resume("swapped", snap = 5, resumeFrom = 6)(_ => ()))
      // GC half done: one stale generation table and one folded payload
      // gone, the rest still on disk.
      reclaimed(resume("gc-half", snap = 5, resumeFrom = 6) { dir =>
        val g = garbage(dir)
        Seq(g.head, g.last).foreach(p =>
          graft.streaming.StreamingOps.deleteRecursively(Paths.get(p)))
      })

      // A gap in committed ids stops the fold at the gap: the id after
      // the gap stays pending and is read exactly once.
      val gap = work.resolve("gap").toString
      copyTree(work.resolve("snap1"), Paths.get(gap))
      Seq(2, 3).foreach(k => store.batch(gap, k))
      val log = store.log(gap)
      val hole = log.committed.max - 1
      Files.delete(Paths.get(gap, "commits", hole.toString))
      log.discard(hole)
      val before = store.read(gap)
      store.fold(gap)
      assert(log.pointer == (1L, hole - 1), s"${store.name}: fold crossed the gap")
      assert(log.state().pending == Seq(hole + 1))
      same(store.read(gap), before, s"${store.name}: the fold changed the read")
    } finally graft.streaming.StreamingOps.deleteRecursively(work)
  }

  test("crash matrix: ANN index") { crashMatrix(indexStore) }

  test("crash matrix: near-dedup admission state") {
    crashMatrix(streamStore("neardedup", Seq("bands", "admitted")))
  }

  test("crash matrix: keep-best bands") {
    crashMatrix(streamStore("keepbest", Seq("bands")))
  }

  test("format facts: where tables live; a corrupt pointer fails loudly") {
    // (The first id and the gen-0 pointer are pinned by the matrix.)
    val d = "/data/store"
    val idx = GenerationLog.index(d)
    assert(idx.tableRoot("codes", 0) == "/data/store/codes")
    assert(idx.tableRoot("rcodes", 2) == "/data/store/rcodes-g2")
    assert(idx.payload("tombstones", 3) == "/data/store/deltas/3/tombstones")
    val st = GenerationLog.stream(d, Seq("bands"))
    assert(st.tableRoot("bands", 1) == "/data/store/bands-g1")
    assert(st.payload("events", 3) == "/data/store/events/batch_id=3")
    val empty = Files.createTempDirectory("graft_genlog_empty_")
    try {
      Files.writeString(empty.resolve("MANIFEST"), "1 x")
      val e = intercept[IllegalArgumentException](
        GenerationLog.index(empty.toString).pointer)
      assert(e.getMessage.contains("corrupt MANIFEST"))
    } finally graft.streaming.StreamingOps.deleteRecursively(empty)
  }
}
