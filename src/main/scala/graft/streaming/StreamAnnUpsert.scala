package graft.streaming

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming ANN index maintenance — the serving tier's ingest loop
  * under the LIVE engine: embeddings arrive as a paced file stream and
  * every micro-batch lands one marker-committed delta on the persisted
  * inverted file via [[Similarity.annIndexUpsert]] (frozen quantizers,
  * no retraining, crash-safe by the delta-commit protocol). The final
  * stored index must equal the ONE-PASS frozen encode of the union —
  * batch boundaries, the per-batch anti-join against committed codes,
  * and the delta union on the read path must all be invisible in the
  * result — so the gate shares `ann_index_upsert`'s slice-training +
  * union-encode oracle. This is the 100 TB posture end-to-end: a
  * production vector-serving stack trains rarely
  * (`ann_index_build`), appends constantly (this loop), and serves
  * from storage (`ann_ivfpq_served`). */
object StreamAnnUpsert {

  /** Micro-batches for the delta stream — enough that cross-batch
    * commit state (each batch's anti-join sees the previous batches'
    * commits) is the path under test. */
  val BATCHES = 3

  private val staged = new graft.SessionMemo[String, String]

  /** The delta vectors (the same `vec_id % UPSERT_MOD` holdout the
    * batch gate appends) staged as [[BATCHES]] single-file parquets —
    * residue-class slices under strictly increasing mtimes, so the
    * file source delivers batch k = slice k (the
    * [[StreamNearDedup]] staging contract). Input staging, not
    * memoized compute — not registered with [[graft.Caches]]. */
  private[graft] def stagedDeltaDir(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(spark, dir) {
      val dest = graft.Scratch.dir("graft_annups_src_")
      val m = Similarity.UPSERT_MOD
      val delta = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % m === m - 1)
      val n = StreamingOps.stageSlicedFiles(dest, (0 until BATCHES).map(k =>
        delta.filter(pmod(col("vec_id"), lit(BATCHES)) === k)))
      require(n == BATCHES,
        s"delta staging produced $n of $BATCHES batch files — an empty " +
          "residue class would collapse a micro-batch")
      dest.toString
    }

  /** [[stagedDeltaDir]]'s files: the embeddings fixture's (vec_id,
    * embedding), the [[StreamingOps.drain]] source schema. */
  private[graft] val DeltaSource = StructType(
    Seq("vec_id", "embedding").map(Tables.schemas("embeddings")(_)))

  /** Known-ids mirror for a SINGLE-WRITER upsert-only maintenance
    * loop: the committed live vec_ids as a [[StateMirror]] — a
    * vec_id-clustered checkpointed base built ONCE from storage at
    * loop start (every trigger's idempotence anti-join is exchange-
    * and sort-free on this side) plus one batch-sized part per
    * committed append. Parts are disjoint by construction — each was
    * anti-joined against all earlier ones — so the merge is a plain
    * union, no distinct. Without the mirror each trigger re-derived
    * the known set from storage: a full-index codes scan plus an
    * all-ids distinct SHUFFLE per micro-batch — per-trigger cost
    * growing with the index, the state-read creep the admission
    * mirrors (r17) exist to remove. Compaction between appends folds
    * layout, not ids, so it leaves the mirror valid; interleaved
    * DELETES would not (see the [[Similarity.annIndexUpsert]] caller
    * contract) — this loop performs none.
    *
    * Advance it with the mirror-driven [[Similarity.annIndexUpsert]]'s
    * return value: that frame arrives ALREADY materialized — the
    * upsert checkpoints the id projection strictly before it lands the
    * commit marker (its contract since r17's advice: the marker must
    * never precede the mirror part, or a failure in between would
    * leave a committed append the retry's stale mirror re-appends) —
    * so an advance runs no Spark job except the amortized fold. */
  private[graft] def knownIds(spark: SparkSession, indexBase: String): StateMirror = {
    def clustered(ids: DataFrame) =
      StreamNearDedup.ckptClustered(spark, ids, col("vec_id"))
    new StateMirror(
      clustered(Similarity.readCodes(spark, indexBase).select(col("vec_id")).distinct()),
      parts => clustered(parts.reduce(_ unionAll _)))
  }

  /** Gate/bench query: copy the cached base-slice index (immutable
    * storage, [[Similarity.upsertSliceIndex]]), stream the delta
    * through the live engine one file per micro-batch with a
    * foreachBatch upsert, and emit the stored codes read back through
    * the committed-delta union. Runs in an isolated `newSession`
    * (the [[StreamNearDedup]] posture); the result is a plain parquet
    * read in the caller's session. */
  def streamAnnUpsertLive(spark: SparkSession, dir: String): DataFrame =
    streamAnnUpsertLive(spark, dir, compactEvery = 0)

  /** `compactEvery > 0` additionally folds the index every that-many
    * micro-batches ([[Similarity.annIndexCompact]]) — the FULL
    * production loop (append, compact, append again onto the new
    * generation) under the live engine. The fold must be invisible in
    * the stored result, so SimilaritySpec pins this form row-equal to
    * the append-only gate form; 0 = append-only (the gate/bench
    * query, which keeps the honest per-delta read-union cost). */
  def streamAnnUpsertLive(spark: SparkSession, dir: String,
      compactEvery: Int): DataFrame = {
    val work = Similarity.freshWorkDir(
      if (compactEvery > 0) s"annups_c$compactEvery" else "annups", dir)
    Similarity.copyDir(Similarity.upsertSliceIndex(spark, dir), work)
    val src = stagedDeltaDir(spark, dir)
    val ckpt = graft.Scratch.dir("graft_annups_ckpt_")
    // The per-batch deltas are tiny; 32 shuffle partitions would be
    // pure task overhead on every window/join inside the upsert (the
    // runLive convention).
    try StreamingOps.drain(spark, src, DeltaSource, ckpt.toString, 8) { (ss, in) =>
      // Per-trigger idempotence runs against the in-memory known-ids
      // mirror: ONE storage read at loop start instead of a full-index
      // scan + all-ids distinct per micro-batch.
      val known = knownIds(ss, work)
      in.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        Similarity.annIndexUpsert(b.sparkSession, work, b,
          Some(known.parts)).foreach(known.advance)
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1)
          Similarity.annIndexCompact(b.sparkSession, work)
      }
    } finally StreamingOps.deleteRecursively(ckpt)
    Similarity.readCodes(spark, work)
      .select(col("vec_id"), col("m").cast("int").as("m"), col("code"), col("cell"))
      .orderBy(col("vec_id"), col("m"))
  }
}
