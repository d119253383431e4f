package graft

import graft.operators.PageRank
import graft.operators.PageRank.{ALPHA, ITERATIONS, V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank's power iteration as a Spark dataflow. No gate reaches it:
  * the gate's graph has V nodes, so `PageRank.driverRanks` iterates on
  * the driver. It stays as the reference PropertySpec and PageRankSpec
  * compare that driver path against. */
object PageRankReference {

  /** The reference `PageRank.driverRanks` is checked against: the
    * scatter / gather / dangling-mass loop as a Spark dataflow (steps
    * 1–4 of the `PageRank` object doc), one lazy message checkpoint and
    * one 1-row collect per iteration. */
  def distributedRanks(edges: DataFrame,
      priors: Seq[Option[Long]]): DataFrame = {
    val spark = edges.sparkSession
    val idx = priors.indices
    // Size-aware graph partitioning: at least ~16 nodes per partition
    // (the per-iteration join/agg task overhead dominates below that),
    // capped at the session's configured parallelism. A fixed
    // `repartition(col)` pins the shuffle-partition default onto every
    // one of the 10 iterations' stages — measured 2× slower on a small
    // graph; at scale V/16 exceeds the cap and this is exactly the
    // configured parallelism.
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, (V / 16).toInt))
    val g = PageRank.graphOf(edges).repartition(parts, col("nodeid")).persist()
    var ranks = g.select(col("nodeid") +: idx.map { i =>
      priors(i).fold(lit(1.0 / V))(s =>
        when(col("nodeid") === s, 1.0).otherwise(0.0)).as(s"r$i")
    }: _*)
    for (_ <- 1 to ITERATIONS) {
      val scattered = ranks.join(g, "nodeid")
        .filter(col("outdeg") > 0)
        .select(explode(col("adj")).as("dst") +:
          idx.map(i => (col(s"r$i") / col("outdeg")).as(s"c$i")): _*)
      // Checkpoint the MESSAGES, not the ranks: both consumers (the
      // dangling-mass collect and the rank update) then read the one
      // materialized table, so scatter+gather runs exactly once per
      // iteration, and the next iteration's lineage is a single join
      // over this checkpoint — bounded depth without a second
      // materialization job per iteration. The checkpoint is LAZY
      // (r20 optimization round): the dangling-mass collect right
      // below is the first action over it and materializes it as a
      // side effect, so each iteration launches ONE job cascade
      // instead of an eager-checkpoint job followed by the collect
      // (measured ~-25% on the 10-iteration loop; an interleaved
      // in-JVM eager/lazy pair in r21 confirmed lazy —
      // plans/r21/pagerank_ckpt_pair.txt).
      val msgs = scattered.groupBy(col("dst"))
        .agg(sum(col("c0")).as("m0"),
          idx.tail.map(i => sum(col(s"c$i")).as(s"m$i")): _*)
        .localCheckpoint(false)
      // Missing (dangling) mass per vector: 1 − what arrived, as one
      // 1-row driver collect over the checkpointed messages — the
      // reference's driver fold (`:459-474`), O(iterations)·O(S)
      // driver work. (A collect-free broadcast-cross-join variant was
      // measured 5× slower: the per-iteration global-agg broadcast
      // adds two blocking stages inside every checkpoint job.)
      val arrived = msgs
        .agg(sum(col("m0")).as("t0"),
          idx.tail.map(i => sum(col(s"m$i")).as(s"t$i")): _*)
        .collect()(0)
      val missing = idx.map(i =>
        1.0 - (if (arrived.isNullAt(i)) 0.0 else arrived.getDouble(i)))
      ranks = g.select(col("nodeid"))
        .join(msgs, col("nodeid") === col("dst"), "left_outer")
        .select(col("nodeid") +: idx.map { i =>
          val back = ALPHA + (1.0 - ALPHA) * missing(i)
          val tele = priors(i).fold(lit(back / V))(s =>
            when(col("nodeid") === s, lit(back)).otherwise(0.0))
          (lit(1.0 - ALPHA) * coalesce(col(s"m$i"), lit(0.0)) + tele).as(s"r$i")
        }: _*)
    }
    // Materialize the final ranks so the result no longer depends on
    // the persisted graph, then release it.
    val out = ranks.localCheckpoint(true)
    g.unpersist()
    out
  }
}
