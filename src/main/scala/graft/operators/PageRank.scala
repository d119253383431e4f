package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

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
  * The gate's graph has V nodes, so at most V² = 10,000 distinct
  * edges at any scale: one job fetches them and the recurrence runs on
  * the driver, the reference's own single-node check
  * (`SequentialPersonalizedPageRank.java:112-134`) — a 10-iteration
  * loop on a 100-node graph is otherwise ~70 jobs of scheduler time for
  * a few ms of arithmetic. The loop above also exists as a Spark
  * dataflow, `PageRankReference.distributedRanks` in the test tree, the
  * reference the driver path is checked against (PropertySpec pins the
  * two equal): the graph is
  * `repartition(nodeid)` + persisted once, so every iteration's gather
  * join reuses the same exchange, and each iteration's messages go
  * through a lazy `localCheckpoint` that the dangling-mass collect
  * materializes, truncating lineage (the analogue of the reference's
  * per-iteration HDFS materialization, `:481-483`).
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

  /** The graph's `(src, dst)` edges as derived from `orders`, duplicates
    * included: both rank functions and [[graphOf]] dedup them. */
  private[graft] def edgesDf(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select((col("o_custkey") % V).as("src"), (col("o_orderkey") % V).as("dst"))

  /** Every node `0 until V` with its sorted distinct out-neighbours:
    * `(nodeid, adj, outdeg)`. */
  private[graft] def graphOf(edges: DataFrame): DataFrame = {
    val adj = edges.distinct().groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("adj"))
    edges.sparkSession.range(V).toDF("nodeid")
      .join(adj, col("nodeid") === col("src"), "left_outer")
      .select(col("nodeid"),
        coalesce(col("adj"), array().cast("array<long>")).as("adj"))
      .withColumn("outdeg", size(col("adj")))
  }

  def pagerankGraph(spark: SparkSession, dir: String): DataFrame =
    graphOf(edgesDf(spark, dir)).select(col("nodeid"), col("outdeg"), col("adj"))
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

  // --- the iterative loop -----------------------------------------------

  /** Memoized final ranks per (session, sfDir): the reference runs
    * top-k extraction as a separate job over the iteration output it
    * materialized to HDFS (`ExtractTop…` reads `RunPersonalized…`'s
    * files); the Spark-native analogue is reusing the final rank
    * DataFrame across the `pagerank` and `pagerank_topk` queries
    * instead of re-running the 10-iteration loop. */
  private val ranksCache = new graft.SessionMemo[String, DataFrame]
  graft.Caches.register(() => ranksCache.clear())

  /** Unrounded final ranks: (nodeid, r0..rS-1), computed once per dir. */
  def ranksDf(spark: SparkSession, dir: String): DataFrame =
    ranksCache.getOrElseUpdate(spark, dir)(
      driverRanks(edgesDf(spark, dir), SOURCES.map(Some(_))))

  /** Final ranks over `edges` — `(src, dst)` longs in `0 until V`,
    * duplicates allowed — one column `r<i>` per prior: `Some(s)` is
    * personalized to node s (all mass starts on s and teleports back
    * to s), `None` is plain PageRank (mass starts at 1/V on every node
    * and teleports uniformly). One job collects the distinct edges (at
    * most V² rows) and the [[ITERATIONS]] power iterations run on the
    * driver over sorted adjacency arrays, in the operation order of
    * the distributed reference (`PageRankReference.distributedRanks`)
    * — scatter `r/outdeg`, gather the per-dst sums,
    * `missing = 1 − Σm`, then `(1−α)·m + teleport` — so both agree to
    * summation-order ulps (PropertySpec pins it). The ranks return as
    * a local relation with the distributed loop's schema. */
  private[graft] def driverRanks(edges: DataFrame, priors: Seq[Option[Long]]): DataFrame = {
    val n = V.toInt
    val es = edges.select("src", "dst").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    require(es.forall { case (s, d) => s >= 0 && s < V && d >= 0 && d < V },
      s"PageRank edges must join nodes in [0, $V)")
    val out = es.groupMap(_._1.toInt)(_._2.toInt)
    val adj = Array.tabulate(n)(v => out.getOrElse(v, Array.emptyIntArray))
    val ranks = priors.map { p =>
      var r = Array.tabulate(n)(v => p.fold(1.0 / V)(s => if (v == s) 1.0 else 0.0))
      for (_ <- 1 to ITERATIONS) {
        val m = new Array[Double](n)
        for (v <- 0 until n; a = adj(v); if a.nonEmpty; d <- a) m(d) += r(v) / a.length
        val back = ALPHA + (1.0 - ALPHA) * (1.0 - m.sum)
        r = Array.tabulate(n)(v =>
          (1.0 - ALPHA) * m(v) + p.fold(back / V)(s => if (v == s) back else 0.0))
      }
      r
    }
    val schema = StructType(StructField("nodeid", LongType, nullable = false) +:
      priors.indices.map(i => StructField(s"r$i", DoubleType, nullable = false)))
    edges.sparkSession.createDataFrame(java.util.Arrays.asList(
      Seq.tabulate(n)(v => Row.fromSeq(v.toLong +: ranks.map(_(v)))): _*), schema)
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
    * against a plain-Scala power iteration). [[driverRanks]] with the
    * uniform prior: init 1/V and the teleport (α + (1−α)·missing)/V
    * spread to EVERY node. */
  def pagerankUniform(spark: SparkSession, dir: String): DataFrame =
    driverRanks(edgesDf(spark, dir), Seq(None))
      .select(col("nodeid"), round(col("r0"), 8).as("r"))
      .orderBy(col("nodeid"))

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
