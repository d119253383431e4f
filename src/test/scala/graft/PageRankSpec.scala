package graft

import graft.operators.PageRank
import org.apache.spark.sql.functions._

/** Plain-Scala power-iteration oracle for the iterative PageRank — the
  * reference's own verification pattern (JUNG
  * `SequentialPersonalizedPageRank.java:112-134`): replay the identical
  * math sequentially on the collected graph and compare. */
class PageRankSpec extends SparkSpecBase {
  import spark.implicits._

  private val V = PageRank.V.toInt

  /** Collected adjacency from the same derivation as the Spark build. */
  private def localGraph(): Map[Int, Seq[Int]] = {
    val edges = Tables.orders(spark, sfDir)
      .select((col("o_custkey") % PageRank.V).as("s"), (col("o_orderkey") % PageRank.V).as("d"))
      .distinct().as[(Long, Long)].collect()
    edges.groupBy(_._1.toInt).map { case (s, es) =>
      s -> es.map(_._2.toInt).sorted.toSeq
    }
  }

  private def localRanks(): Map[Long, Seq[Double]] = {
    val adj = localGraph()
    val ranks = PageRank.SOURCES.map { src =>
      var r = Array.tabulate(V)(v => if (v == src) 1.0 else 0.0)
      for (_ <- 1 to PageRank.ITERATIONS) {
        val m = Array.fill(V)(0.0)
        for (v <- 0 until V; out = adj.getOrElse(v, Seq.empty); if out.nonEmpty;
             d <- out) m(d) += r(v) / out.length
        val missing = 1.0 - m.sum
        r = Array.tabulate(V) { v =>
          (1.0 - PageRank.ALPHA) * m(v) +
            (if (v == src) PageRank.ALPHA + (1.0 - PageRank.ALPHA) * missing else 0.0)
        }
      }
      r
    }
    (0 until V).map(v => v.toLong -> PageRank.SOURCES.indices.map(i => ranks(i)(v))).toMap
  }

  test("pagerank_graph matches the local derivation") {
    val got = PageRank.pagerankGraph(spark, sfDir)
      .select("nodeid", "adj").as[(Long, Seq[Long])].collect().toMap
    val adj = localGraph()
    assert(got.size == V)
    got.foreach { case (v, a) =>
      assert(a.map(_.toInt) == adj.getOrElse(v.toInt, Seq.empty), s"node $v")
    }
  }

  /** The distributed loop's ranks for the fixture graph: the gate
    * ranks its 100-node graph on the driver, so it never reaches it. */
  private def distributedRanks() = PageRankReference.distributedRanks(
    PageRank.edgesDf(spark, sfDir), PageRank.SOURCES.map(Some(_)))

  test("pagerank ranks match the sequential power-iteration oracle") {
    val expected = localRanks()
    Seq("gate" -> PageRank.pagerank(spark, sfDir),
        "distributed loop" -> distributedRanks()).foreach { case (path, df) =>
      val got = df.collect()
      assert(got.length == V, path)
      got.foreach { row =>
        val v = row.getLong(0)
        PageRank.SOURCES.indices.foreach { i =>
          val e = expected(v)(i)
          val g = row.getDouble(i + 1)
          assert(math.abs(g - e) < 1e-7, s"$path node $v source $i: got $g expected $e")
        }
      }
    }
  }

  test("pagerank: the gate runs at most 6 jobs") {
    // Cold cache, like every benchmark pass: the edge fetch plus the
    // output collect. The gate's query over the distributed loop's
    // ranks is ~7 jobs per iteration.
    Caches.clearAll()
    val jobs = jobsPerCall(Seq("gate" -> (() => PageRank.pagerank(spark, sfDir).collect())))
    assert(jobs("gate").size <= 6, s"gate ran ${jobs("gate").size} jobs")
  }

  test("pagerankUniform matches the sequential uniform power iteration") {
    // The plain-PageRank library form (the reference's JUNG
    // SequentialPageRank): init 1/V, teleport spread to every node.
    val adj = localGraph()
    var r = Array.fill(V)(1.0 / V)
    for (_ <- 1 to PageRank.ITERATIONS) {
      val m = Array.fill(V)(0.0)
      for (v <- 0 until V; out = adj.getOrElse(v, Seq.empty); if out.nonEmpty;
           d <- out) m(d) += r(v) / out.length
      val missing = 1.0 - m.sum
      r = Array.tabulate(V)(v => (1.0 - PageRank.ALPHA) * m(v) +
        (PageRank.ALPHA + (1.0 - PageRank.ALPHA) * missing) / V)
    }
    val got = PageRank.pagerankUniform(spark, sfDir)
      .as[(Long, Double)].collect()
    assert(got.length == V)
    got.foreach { case (v, g) =>
      assert(math.abs(g - r(v.toInt)) < 1e-7, s"node $v: got $g expected ${r(v.toInt)}")
    }
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-6, "uniform mass not conserved")
  }

  test("mass conservation: each source's ranks sum to 1") {
    val sums = PageRank.ranksDf(spark, sfDir)
      .agg(sum(col("r0")), sum(col("r1")), sum(col("r2"))).collect()(0)
    PageRank.SOURCES.indices.foreach { i =>
      assert(math.abs(sums.getDouble(i) - 1.0) < 1e-9, s"source $i mass ${sums.getDouble(i)}")
    }
  }

  test("pagerank_topk: each source has 5 ranked nodes, descending") {
    val rows = PageRank.pagerankTopk(spark, sfDir)
      .select("source", "pos", "rank").as[(Long, Int, Double)].collect()
    assert(rows.length == PageRank.SOURCES.size * 5)
    rows.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5))
      sorted.map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(a >= b)
        case _ =>
      }
    }
  }
}
