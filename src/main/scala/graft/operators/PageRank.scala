package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-source personalized PageRank — the reference's PageRank suite
  * (`/root/reference/MapReduce/PageRank/RunPersonalizedPageRankBasic.java:120-367`,
  * graph build `BuildPersonalizedPageRankRecords.java:84-126`, top-k
  * extract `ExtractTopPersonalizedPageRankNodes.java:58-148`).
  *
  * The reference's tagged-union PageRankNode (Mass|Structure records,
  * one shuffled value type — a Hadoop constraint) disappears: the graph
  * is one DataFrame `(nodeid, outdeg, adj)`, the per-source rank vector
  * is one double column per source (the source set is query config, so
  * columns beat arrays: elementwise vector sums become plain `sum`
  * aggregates inside whole-stage codegen). Per iteration:
  *
  *   1. scatter: explode adj, each neighbor gets rank/outdeg per source
  *      (`:120-161`);
  *   2. gather: groupBy(dst) partial+final sums — the reference's
  *      combiner/reducer pair for free (`:184-307`);
  *   3. missing mass: one 1-row driver agg (the reference writes
  *      per-task side files and folds them on the driver, `:459-474` —
  *      here it is a collect of S doubles, O(iterations) driver work);
  *   4. teleport: sources get α + (1−α)·missing, everyone keeps
  *      (1−α)·mass (`:348-367`) — mass per source sums to 1 exactly.
  *
  * Scale: the graph is `repartition(nodeid)` + persisted once, so every
  * iteration's gather join reuses the same exchange; each iteration
  * ends in an eager `localCheckpoint` to truncate lineage (the analogue
  * of the reference's per-iteration HDFS materialization, `:481-483`;
  * a durable `checkpoint()` would replace it on a real cluster).
  * Rank math is linear-space `DoubleType` — SURVEY §4.12 documents the
  * deliberate departure from the reference's log-space `sumProbs`.
  *
  * The graph derives deterministically from `orders`
  * (src = o_custkey mod V, dst = o_orderkey mod V, FIXTURES.md); the
  * build is oracle-checked; the iterative ranks have a plain-Scala
  * power-iteration oracle in ScalaTest (the reference's own
  * verification pattern — JUNG `SequentialPersonalizedPageRank`).
  */
object PageRank extends QueryModule {

  val V = 100L
  val SOURCES: Seq[Long] = Seq(1L, 7L, 13L)
  val ALPHA = 0.15
  val ITERATIONS = 10

  private def srcIdx = SOURCES.indices

  // --- pagerank_graph: deterministic graph build (oracle-checked) --------
  def graphDf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir)
      .select((col("o_custkey") % V).as("src"), (col("o_orderkey") % V).as("dst"))
      .distinct()
    val adj = e.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("adj"))
    spark.range(V).toDF("nodeid")
      .join(adj, col("nodeid") === col("src"), "left_outer")
      .select(col("nodeid"),
        coalesce(col("adj"), array().cast("array<long>")).as("adj"))
      .withColumn("outdeg", size(col("adj")))
  }

  def pagerankGraph(spark: SparkSession, dir: String): DataFrame =
    graphDf(spark, dir).select(col("nodeid"), col("outdeg"), col("adj"))
      .orderBy(col("nodeid"))

  /** Gate projection of [[pagerankGraph]]: adjacency as a csv string —
    * nested types crash generic row-comparison harnesses, so the
    * registered entry is scalar-only. */
  def pagerankGraphGate(spark: SparkSession, dir: String): DataFrame =
    pagerankGraph(spark, dir)
      .withColumn("adj", array_join(col("adj").cast("array<string>"), ","))

  val pagerankGraphSql =
    s"""WITH e AS (SELECT DISTINCT o_custkey % $V AS src, o_orderkey % $V AS dst
       |           FROM orders),
       |n AS (SELECT unnest(range(0, $V)) AS nodeid),
       |a AS (SELECT src, list(dst ORDER BY dst) AS adj FROM e GROUP BY src)
       |SELECT nodeid, CAST(coalesce(len(adj), 0) AS INT) AS outdeg,
       |  coalesce(array_to_string(adj, ','), '') AS adj
       |FROM n LEFT JOIN a ON nodeid = src ORDER BY nodeid""".stripMargin

  // --- the iterative driver ---------------------------------------------

  /** Memoized final ranks per (session, sfDir): the reference runs
    * top-k extraction as a separate job over the iteration output it
    * materialized to HDFS (`ExtractTop…` reads `RunPersonalized…`'s
    * files); the Spark-native analogue is reusing the checkpointed
    * rank DataFrame across the `pagerank` and `pagerank_topk` queries
    * instead of re-running the 10-iteration loop. */
  private val ranksCache = new graft.SessionMemo[String, DataFrame]
  graft.Caches.register(() => ranksCache.clear())

  /** Unrounded final ranks: (nodeid, r0..rS-1), computed once per dir. */
  def ranksDf(spark: SparkSession, dir: String): DataFrame =
    ranksCache.getOrElseUpdate(spark, dir)(computeRanks(spark, dir))

  private def computeRanks(spark: SparkSession, dir: String): DataFrame = {
    // Size-aware graph partitioning: at least ~16 nodes per partition
    // (the per-iteration join/agg task overhead dominates below that),
    // capped at the session's configured parallelism. A fixed
    // `repartition(col)` pins the shuffle-partition default onto every
    // one of the 10 iterations' stages — measured 2× slower on a small
    // graph; at scale V/16 exceeds the cap and this is exactly the
    // configured parallelism.
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, (V / 16).toInt))
    val g = graphDf(spark, dir).repartition(parts, col("nodeid")).persist()
    var ranks = g.select(col("nodeid") +: SOURCES.zipWithIndex.map {
      case (s, i) => when(col("nodeid") === s, 1.0).otherwise(0.0).as(s"r$i")
    }: _*)
    for (_ <- 1 to ITERATIONS) {
      val scattered = ranks.join(g, "nodeid")
        .filter(col("outdeg") > 0)
        .select(explode(col("adj")).as("dst") +:
          srcIdx.map(i => (col(s"r$i") / col("outdeg")).as(s"c$i")): _*)
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
          srcIdx.tail.map(i => sum(col(s"c$i")).as(s"m$i")): _*)
        .localCheckpoint(false)
      // Missing (dangling) mass per source: 1 − what arrived, as one
      // 1-row driver collect over the checkpointed messages — the
      // reference's driver fold (`:459-474`), O(iterations)·O(S)
      // driver work. (A collect-free broadcast-cross-join variant was
      // measured 5× slower: the per-iteration global-agg broadcast
      // adds two blocking stages inside every checkpoint job.)
      val arrived = msgs
        .agg(sum(col("m0")).as("t0"),
          srcIdx.tail.map(i => sum(col(s"m$i")).as(s"t$i")): _*)
        .collect()(0)
      val missing = srcIdx.map(i =>
        1.0 - (if (arrived.isNullAt(i)) 0.0 else arrived.getDouble(i)))
      ranks = g.select(col("nodeid"))
        .join(msgs, col("nodeid") === col("dst"), "left_outer")
        .select(col("nodeid") +: SOURCES.zipWithIndex.map { case (s, i) =>
          (lit(1.0 - ALPHA) * coalesce(col(s"m$i"), lit(0.0))
            + when(col("nodeid") === s,
                lit(ALPHA + (1.0 - ALPHA) * missing(i))).otherwise(0.0)).as(s"r$i")
        }: _*)
    }
    // Materialize the final ranks so the memoized DataFrame no longer
    // depends on the persisted graph, then release it.
    val out = ranks.localCheckpoint(true)
    g.unpersist()
    out
  }

  /** `pagerank`: final per-source ranks, rounded for output stability. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    ranksDf(spark, dir)
      .select(col("nodeid") +: srcIdx.map(i => round(col(s"r$i"), 8).as(s"r$i")): _*)
      .orderBy(col("nodeid"))

  /** Plain (uniform-prior) PageRank — the reference ships this only as
    * the single-node JUNG utility (`SequentialPageRank.java:102`); its
    * distributed program is personalized-only, so the gate mirrors
    * that choice and this stays a library form (PageRankSpec pins it
    * against a plain-Scala power iteration). Same scatter / gather /
    * dangling-mass loop as [[ranksDf]] with init 1/V and the teleport
    * (α + (1−α)·missing)/V spread to EVERY node instead of the source
    * vector. */
  def pagerankUniform(spark: SparkSession, dir: String): DataFrame = {
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, (V / 16).toInt))
    val g = graphDf(spark, dir).repartition(parts, col("nodeid")).persist()
    var ranks = g.select(col("nodeid"), lit(1.0 / V).as("r"))
    for (_ <- 1 to ITERATIONS) {
      val msgs = ranks.join(g, "nodeid")
        .filter(col("outdeg") > 0)
        .select(explode(col("adj")).as("dst"), (col("r") / col("outdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        .localCheckpoint(true)
      val arrived = msgs.agg(sum(col("m"))).collect()(0)
      val missing = 1.0 - (if (arrived.isNullAt(0)) 0.0 else arrived.getDouble(0))
      ranks = g.select(col("nodeid"))
        .join(msgs, col("nodeid") === col("dst"), "left_outer")
        .select(col("nodeid"),
          (lit(1.0 - ALPHA) * coalesce(col("m"), lit(0.0))
            + lit((ALPHA + (1.0 - ALPHA) * missing) / V)).as("r"))
    }
    val out = ranks
      .select(col("nodeid"), round(col("r"), 8).as("r"))
      .orderBy(col("nodeid"))
      .localCheckpoint(true)
    g.unpersist()
    out
  }

  /** DuckDB oracle for the iterative loop: the [[ITERATIONS]] sparse
    * linear-space updates unrolled as a CTE chain — scatter (unnest
    * adj), gather (per-dst sum), dangling-mass fold (global sum), and
    * teleport, with the same operation order as the Spark side so the
    * doubles agree to the last bit before the round(·,8). The
    * reference's own verification is a sequential replay of the same
    * recurrence (`SequentialPersonalizedPageRank.java:112-134`). */
  private def graphCte: String =
    s"""e AS (SELECT DISTINCT o_custkey % $V AS src, o_orderkey % $V AS dst
       |      FROM orders),
       |n AS (SELECT unnest(range(0, $V)) AS nodeid),
       |a AS (SELECT src, list(dst ORDER BY dst) AS adj FROM e GROUP BY src),
       |g AS MATERIALIZED (SELECT nodeid, coalesce(len(adj), 0) AS outdeg, coalesce(adj, []) AS adj
       |      FROM n LEFT JOIN a ON nodeid = src)""".stripMargin

  private def iterationCtes: String = {
    val keep = 1.0 - ALPHA
    val init = "r0_ AS MATERIALIZED (SELECT nodeid, " + SOURCES.zipWithIndex.map { case (s, i) =>
      s"CASE WHEN nodeid = $s THEN 1.0 ELSE 0.0 END AS r$i"
    }.mkString(", ") + " FROM g)"
    val iters = (1 to ITERATIONS).map { k =>
      val p = s"r${k - 1}_"
      val scatter = s"s${k}_ AS MATERIALIZED (SELECT unnest(g.adj) AS dst, " +
        srcIdx.map(i => s"r.r$i / g.outdeg AS c$i").mkString(", ") +
        s" FROM $p r JOIN g ON r.nodeid = g.nodeid WHERE g.outdeg > 0)"
      val gather = s"m${k}_ AS MATERIALIZED (SELECT dst, " +
        srcIdx.map(i => s"sum(c$i) AS m$i").mkString(", ") +
        s" FROM s${k}_ GROUP BY dst)"
      val mass = s"t${k}_ AS MATERIALIZED (SELECT " +
        srcIdx.map(i => s"coalesce(sum(m$i), 0.0) AS t$i").mkString(", ") +
        s" FROM m${k}_)"
      val update = s"r${k}_ AS MATERIALIZED (SELECT g.nodeid, " + SOURCES.zipWithIndex.map {
        case (s, i) =>
          s"$keep * coalesce(m.m$i, 0.0) + CASE WHEN g.nodeid = $s" +
            s" THEN $ALPHA + $keep * (1.0 - t.t$i) ELSE 0.0 END AS r$i"
      }.mkString(", ") +
        s" FROM g LEFT JOIN m${k}_ m ON g.nodeid = m.dst CROSS JOIN t${k}_ t)"
      Seq(scatter, gather, mass, update).mkString(",\n")
    }
    (init +: iters).mkString(",\n")
  }

  val pagerankSql: String =
    s"""WITH $graphCte,
       |$iterationCtes
       |SELECT nodeid, ${srcIdx.map(i => s"round(r$i, 8) AS r$i").mkString(", ")}
       |FROM r${ITERATIONS}_ ORDER BY nodeid""".stripMargin

  val pagerankTopkSql: String = {
    val long = SOURCES.zipWithIndex.map { case (s, i) =>
      s"SELECT CAST($s AS BIGINT) AS source, nodeid, round(r$i, 8) AS rank FROM r${ITERATIONS}_"
    }.mkString(" UNION ALL ")
    s"""WITH $graphCte,
       |$iterationCtes,
       |long AS ($long),
       |ranked AS (SELECT source, nodeid, rank,
       |  CAST(row_number() OVER (
       |    PARTITION BY source ORDER BY rank DESC, nodeid) AS INT) AS pos
       |  FROM long)
       |SELECT source, pos, nodeid, rank
       |FROM ranked WHERE pos <= 5 ORDER BY source, pos""".stripMargin
  }

  // --- pagerank_topk: per-source top-k extraction ------------------------
  def pagerankTopk(spark: SparkSession, dir: String): DataFrame = {
    // Rank on the ROUNDED value (the oracle-parity pattern all top-k
    // queries follow): sub-ulp summation-order drift between engines
    // must not be able to flip a rank boundary; ties at the rounded
    // value break on nodeid deterministically.
    val long = ranksDf(spark, dir).select(col("nodeid"),
      posexplode(array(srcIdx.map(i => round(col(s"r$i"), 8)): _*)))
      .toDF("nodeid", "src_idx", "rank")
      .withColumn("source", element_at(typedlit(SOURCES.toArray), col("src_idx") + 1))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("rank").desc, col("nodeid"))
    long.withColumn("pos", row_number().over(w))
      .filter(col("pos") <= 5)
      .select(col("source"), col("pos"), col("nodeid"), col("rank"))
      .orderBy(col("source"), col("pos"))
  }

  override def entries: Seq[QueryDef] = Seq(
    QueryDef("pagerank_graph", pagerankGraphGate, Some(pagerankGraphSql),
      "deterministic adjacency build from orders"),
    QueryDef("pagerank", pagerank, Some(pagerankSql),
      s"$ITERATIONS-iteration personalized PageRank from ${SOURCES.size} sources"),
    QueryDef("pagerank_topk", pagerankTopk, Some(pagerankTopkSql),
      "top-5 nodes per personalization source"))
}
