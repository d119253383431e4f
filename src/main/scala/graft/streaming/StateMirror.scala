package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}

/** The in-memory half of a streaming state store past
  * [[Dedup.SMALL_STATE_KEYS]] (below it an admission store holds its
  * state on the driver, [[DriverBands]], and keeps one of the two at a
  * time): an LSM list of DataFrame parts that the per-trigger probes
  * read PART-WISE (see the multi-part
  * [[StreamNearDedup.admitWithKeys]] and [[StreamNearDedup.probeParts]]),
  * so a checkpointed base keeps its clustered layout and its side of
  * the probe stays exchange- and sort-free. The on-disk half is the
  * store's [[graft.storage.GenerationLog]]; the mirror is built from it
  * once — the admission stores' when their state outgrows the driver
  * bound, the ANN known ids' at construction — and then written
  * through, never re-read per trigger.
  *
  * `parts` is NEWEST FIRST with the base last — the order
  * [[StreamKeepBest.resolveLatest]] needs; the union-shaped stores do
  * not care. Each committed delta becomes its OWN tail part (L0),
  * never consolidated: a consolidated lazy tail re-shuffled and
  * re-sorted every delta since the last fold on every trigger once it
  * outgrew the broadcast threshold (the measured 2.7→4.7 s/batch creep
  * at scale-probe batch sizes). Every
  * [[StreamNearDedup.MEM_FOLD_EVERY]] advances the parts fold into a
  * new base via the store's `merge`, capping plan depth and part count
  * without a checkpoint job per trigger.
  *
  * `merge` is the one per-store fact: it turns parts (in `parts`
  * order) into a base — near-dedup bands `ckptClustered(union)`,
  * keep-best bands `ckptClustered(collapsedMin(union))`, keep-best
  * canonicals `resolveLatest(parts).localCheckpoint()`, known ANN ids
  * `ckptClustered(union, vec_id)`.
  *
  * Single writer: the owning foreachBatch body advances it serially. */
private[graft] final class StateMirror(base0: DataFrame,
    merge: Seq[DataFrame] => DataFrame) {
  @volatile private var base: DataFrame = base0
  @volatile private var tail: List[DataFrame] = Nil

  def parts: Seq[DataFrame] = tail :+ base

  /** Prepend one committed part; every
    * [[StreamNearDedup.MEM_FOLD_EVERY]] advances, fold. A part must
    * not depend on caches its caller releases (read committed files or
    * pass materialized frames). A failed fold leaves the parts intact
    * and fails the trigger, whose rerun rebuilds the mirror from
    * storage. */
  def advance(part: DataFrame): Unit = {
    tail = part :: tail
    if (tail.size >= StreamNearDedup.MEM_FOLD_EVERY) fold()
  }

  /** Advance by one just-committed delta directory under the tail-run
    * rule: a delta of at most [[StateMirror.RUN_CLUSTER_BYTES]] stays
    * the lazy `scan` (AQE broadcasts its probe branch — exchange-free
    * on the state side, no job); a bigger one pays one batch-bounded
    * `merge(Seq(scan))` job and probes like the base. The written file
    * size decides for free. */
  def advanceCommitted(path: String, scan: DataFrame): Unit =
    advance(
      if (StateMirror.dirBytes(path) <= StateMirror.RUN_CLUSTER_BYTES) scan
      else merge(Seq(scan)))

  /** Fold the tail into a new base; a no-op with no tail. */
  def fold(): Unit = if (tail.nonEmpty) {
    base = merge(parts)
    tail = Nil
  }

  /** Replace every part by `newBase` — after an on-disk fold, whose new
    * generation already holds every committed part. */
  def rebase(newBase: DataFrame): Unit = {
    base = newBase
    tail = Nil
  }
}

private[graft] object StateMirror {

  /** Broadcast-regime bound for a tail delta: below it the lazy scan's
    * probe branch broadcasts; above it the part is merged. Conservatively
    * under Spark's 10 MB autoBroadcastJoinThreshold — parquet bytes
    * underestimate the in-memory relation. */
  val RUN_CLUSTER_BYTES: Long = 4L << 20

  /** Parquet bytes under a directory (recursive) — the free size signal
    * the tail-run rule reads (the files were just written). */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
    walk(new java.io.File(path))
  }
}

/** Committed band rows held on the driver while a store is within
  * [[Dedup.SMALL_STATE_KEYS]]: per band_idx, band_key → min comp — the
  * keep-best `collapsedMin` rule; near-dedup's rows carry no comp and
  * hold 0. A mirror probe's hits are matched in the same shape. */
private[graft] final class DriverBands {
  private val byBand = Array.fill(Dedup.LSH_BANDS)(
    scala.collection.mutable.LongMap.empty[Long])
  private var n = 0L

  /** Rows added, duplicates included: the count a read of the same
    * committed rows from storage sees, so a restart decides the bound
    * as the running store did. */
  def rows: Long = n

  /** Add one (band_idx, band_key[, comp]) row. */
  def add(r: Row): Unit = {
    val comp = if (r.length > 2) r.getLong(2) else 0L
    val m = byBand(r.getInt(0))
    m(r.getLong(1)) = m.get(r.getLong(1)).fold(comp)(math.min(_, comp))
    n += 1
  }

  /** The min comp over the rows sharing a band key with `ks` (index =
    * band_idx); None when none collides. */
  def minComp(ks: Array[Long]): Option[Long] =
    ks.indices.flatMap(b => byBand(b).get(ks(b))).minOption
}

private[graft] object DriverBands {
  def of(rows: Iterable[Row]): DriverBands = {
    val d = new DriverBands
    rows.foreach(d.add)
    d
  }
}
