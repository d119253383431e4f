package graft.storage

import graft.streaming.StreamingOps.deleteRecursively
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import scala.jdk.CollectionConverters._

/** The crash-safety protocol of the three LSM-style stores — the ANN
  * index ([[graft.operators.Similarity]]), near-dedup admission state
  * ([[graft.streaming.StreamNearDedup]]) and keep-best band state
  * ([[graft.streaming.StreamKeepBest]]) — written once. A store is a
  * root directory holding:
  *
  *   - per-id PAYLOADS ([[payload]]): an index delta, a micro-batch's
  *     rows. The caller writes them in overwrite mode, so a replay of an
  *     uncommitted id clobbers whatever a crashed attempt left there;
  *   - a commit MARKER `commits/<id>` ([[commit]]), an empty file whose
  *     name is the record, created LAST. Only marker-bearing ids are
  *     visible. Markers are never deleted: ids stay monotonic across
  *     folds and the streaming replay skip-check rests on them;
  *   - GENERATION tables ([[tableRoot]]): the committed payloads with
  *     id ≤ foldedUpTo merged into one base per table;
  *   - the `MANIFEST` pointer `<generation> <foldedUpTo>` ([[pointer]]),
  *     replaced by ATOMIC_MOVE from `MANIFEST.tmp`, so a reader sees the
  *     old generation plus its pending payloads or the new generation —
  *     never a half fold.
  *
  * A [[fold]] first reclaims what the CURRENT pointer no longer
  * references (payloads with id ≤ foldedUpTo, generation tables other
  * than the live one), then stages `-g<gen+1>` through the caller's
  * callback, then swaps the pointer. GC therefore trails the swap by
  * one fold: a reader that planned against generation N just before the
  * swap keeps its files until the NEXT fold. A crashed fold leaves
  * staging debris at the generation the retry reuses (and overwrites),
  * or that the next fold's GC sweeps; a GC cut short is finished by the
  * next fold, because it is derived from the pointer alone. Only the
  * CONTIGUOUS committed prefix after foldedUpTo folds: an id past a gap
  * may still be replayed, and folding past the gap would hide the
  * replay's rows (id ≤ foldedUpTo, absent from the base).
  *
  * Two format facts differ per store, fixed by the factory:
  *   - [[index]]: delta ids start at 1, so generation 0 reads `(0, 0)`;
  *     the build's own `<table>` directories are the gen-0 base, and
  *     delta k's payload is `deltas/k/<table>`.
  *   - [[stream]]: micro-batch ids start at 0, so generation 0 reads
  *     `(0, -1)`; there is no gen-0 base, and batch k's payload is
  *     `<table>/batch_id=k` in each table.
  *
  * One writer per root: [[withLock]] serializes writers within a JVM
  * (a maintenance loop is single-writer by nature; the lock makes that
  * true rather than assumed). Readers take no lock. The rebuild epoch
  * ([[reset]]) lives beside the lock, so every log over one root shares
  * it — [[State.signature]] changes on every commit, fold and rebuild.
  */
final class GenerationLog private (val root: String, isIndex: Boolean,
    tables: Seq[String]) {
  import GenerationLog._

  private val dir = Paths.get(root)
  private val key = dir.toAbsolutePath.normalize.toString
  private val firstId = if (isIndex) 1L else 0L

  /** Where id `id`'s rows of `table` live. */
  def payload(table: String, id: Long): String =
    if (isIndex) s"$root/deltas/$id/$table" else s"$root/$table/batch_id=$id"

  /** Where generation `gen` of `table` lives (gen 0 exists only for the
    * index: the build's own tables). */
  def tableRoot(table: String, gen: Long): String =
    if (isIndex && gen == 0L) s"$root/$table" else s"$root/$table-g$gen"

  /** Ids whose commit marker exists — what is visible. */
  def committed: Set[Long] = {
    val d = dir.resolve("commits")
    if (!Files.exists(d)) Set.empty
    else scala.util.Using.resource(Files.list(d))(
      _.iterator().asScala.flatMap(_.getFileName.toString.toLongOption).toSet)
  }

  /** Land `id`'s marker. `createFile` is atomic on local/HDFS semantics.
    * A marker can only pre-exist if the id fully committed — a replay
    * after the marker but before the caller's bookkeeping — so it is
    * treated as committed rather than failing the replay forever. */
  def commit(id: Long): Unit = {
    val d = dir.resolve("commits")
    Files.createDirectories(d)
    try Files.createFile(d.resolve(id.toString))
    catch { case _: FileAlreadyExistsException => () }
  }

  /** The id a new payload claims under [[withLock]]: one past the
    * highest committed id, so a crashed attempt's id is reused and its
    * debris clobbered by the retry. */
  def nextId: Long = committed.maxOption.fold(firstId)(_ + 1)

  /** `(generation, foldedUpTo)`. The parse is validated: ATOMIC_MOVE
    * makes a torn pointer unlikely on a POSIX local FS, but the write is
    * not fsynced and object stores lack atomic rename — a corrupt
    * pointer fails naming the store and the bytes found. */
  def pointer: (Long, Long) = {
    val p = dir.resolve("MANIFEST")
    if (!Files.exists(p)) (0L, firstId - 1)
    else {
      val raw = Files.readString(p)
      val parts = raw.trim.split("\\s+")
      require(parts.length == 2 && parts.forall(_.forall(_.isDigit)),
        s"corrupt MANIFEST at $root: expected '<generation> <foldedUpTo>', " +
          s"got '${raw.take(80).trim}' — restore it, or delete it to fall " +
          "back to generation 0")
      (parts(0).toLong, parts(1).toLong)
    }
  }

  /** The visible state: the pointer plus the committed ids past it.
    * `committed` lets a caller that already listed the markers reuse
    * that listing. */
  def state(committed: Set[Long] = committed): State = {
    val (gen, folded) = pointer
    State(gen, folded, committed.filter(_ > folded).toSeq.sorted, epochOf(key).get)
  }

  /** Serialize this root's writers (reentrant). */
  def withLock[A](body: => A): A =
    locks.getOrElseUpdate(key, new Object).synchronized(body)

  /** Delete id `id`'s payloads — a reused id's crash debris of ANY
    * writer, so a marker never commits another attempt's leftovers. */
  def discard(id: Long): Unit =
    (if (isIndex) Seq(s"$root/deltas/$id") else tables.map(payload(_, id)))
      .map(Paths.get(_)).filter(Files.exists(_)).foreach(deleteRecursively)

  /** Fold the contiguous committed prefix after foldedUpTo into a new
    * generation: GC, then `stage(view, newGen)` — which must write every
    * table of `view` (the current generation plus the folding ids as
    * `pending`) to `tableRoot(table, newGen)` — then the pointer swap.
    * Nothing to fold: GC only. */
  def fold(stage: (State, Long) => Unit): Unit = withLock {
    gc()
    val ids = committed
    val (gen, folded) = pointer
    var upTo = folded
    while (ids(upTo + 1)) upTo += 1
    if (upTo > folded) {
      stage(State(gen, folded, (folded + 1 to upTo).toSeq, epochOf(key).get),
        gen + 1)
      val tmp = dir.resolve("MANIFEST.tmp")
      Files.writeString(tmp, s"${gen + 1} $upTo")
      Files.move(tmp, dir.resolve("MANIFEST"), ATOMIC_MOVE, REPLACE_EXISTING)
    }
  }

  /** Delete everything the current pointer does not reference. Stale
    * generations are found by LISTING, not by probing every id below the
    * live one — a long-lived loop's generation counter grows forever —
    * and compared by file name, so a caller's trailing slash cannot make
    * the live base look stale. */
  private def gc(): Unit = {
    val (gen, folded) = pointer
    committed.filter(_ <= folded).foreach(discard)
    val live = tables.map(t => Paths.get(tableRoot(t, gen)).getFileName.toString)
    children(n => !live.contains(n) &&
      tables.exists(t => n.startsWith(s"$t-g") || (isIndex && n == t)))
      .foreach(deleteRecursively)
  }

  /** Rebuild in place: wipe the maintenance state — pointer, markers,
    * payloads, later generations — run `rebuild` (which rewrites the
    * gen-0 tables), and bump the epoch in a `finally`, so that neither a
    * finished nor a failed rebuild can leave a state signature equal to
    * one from before it. */
  def reset[A](rebuild: => A): A = withLock {
    val parents = if (isIndex) Seq("deltas") else tables
    children(n => n == "MANIFEST" || n == "MANIFEST.tmp" || n == "commits" ||
      parents.contains(n) || tables.exists(t => n.startsWith(s"$t-g")))
      .foreach(deleteRecursively)
    try rebuild finally epochOf(key).incrementAndGet()
  }

  private def children(keep: String => Boolean): List[Path] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.filter(p => keep(p.getFileName.toString)).toList)
}

object GenerationLog {

  /** The ANN index at `base`: code tables `codes` and `rcodes`. */
  def index(base: String): GenerationLog =
    new GenerationLog(base, isIndex = true, Seq("codes", "rcodes"))

  /** Streaming state under `stateDir` whose foldable tables are
    * `tables` (tables not named here keep their per-batch layout). */
  def stream(stateDir: String, tables: Seq[String]): GenerationLog =
    new GenerationLog(stateDir, isIndex = false, tables)

  /** `pending`: committed ids past `foldedUpTo`, ascending. */
  final case class State(generation: Long, foldedUpTo: Long,
      pending: Seq[Long], epoch: Long) {
    /** Changes on every commit, fold and rebuild: a memo keyed on it
      * never serves a file listing from another state. */
    def signature: String = s"$generation|${pending.mkString(",")}|$epoch"
  }

  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private val epochs = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicLong]
  private def epochOf(key: String) =
    epochs.getOrElseUpdate(key, new java.util.concurrent.atomic.AtomicLong)
}
