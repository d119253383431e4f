package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The r21 driver-side sample trainers must be BIT-IDENTICAL to the
  * distributed k-means loops they replace under the localTrainable
  * guard: same stride init, same rounded-score assignment and
  * tie-breaks, same round(avg, 6) means — the only permitted
  * difference is member-sum order inside a mean, which round(·, 6)
  * absorbs (the ivf_kmeans_step contract). Pinned here value-by-value
  * at both fixture scales and both the fixed and corpus-scaled
  * geometry, and on random unit-vector corpora, for all three model
  * families (coarse IVF, plain-PQ, residual-PQ over the sample's own
  * residuals) — each side is the production training body itself. */
class LocalTrainerSpec extends SparkSpecBase {

  private def centRows(df: DataFrame): Seq[(Long, Seq[Double], Double)] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq.sortBy(_._1)

  private def bookRows(df: DataFrame): Seq[(Long, Int, Seq[Double])] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .toSeq.sortBy(t => (t._2, t._1))

  private def settled(q: Similarity.Quantizers): (DataFrame, DataFrame, DataFrame) =
    (q.cent, Await.result(q.books, Duration.Inf),
      Await.result(q.rbooks, Duration.Inf))

  private def pinEqual(dir: String, k: Int): Unit =
    pinEqualOn(dir, Similarity.normalizedCorpus(spark, dir).localCheckpoint(), k)

  /** `dir` names the corpus in failure messages. */
  private def pinEqualOn(dir: String, en: DataFrame, k: Int): Unit = {
    val (dc, db, drb) = settled(Similarity.distributedQuantizers(spark, en, k))
    val (lc, lb, lrb) = settled(Similarity.driverQuantizers(spark, en, k))
    assert(centRows(lc) == centRows(dc), s"coarse codebook diverged at $dir k=$k")
    assert(bookRows(lb) == bookRows(db), s"plain PQ books diverged at $dir k=$k")
    assert(bookRows(lrb) == bookRows(drb), s"residual PQ books diverged at $dir k=$k")
  }

  test("driver trainers == distributed trainers (sf0.001, fixed k)") {
    pinEqual("/root/testdata/sf0.001", Similarity.K_CENTROIDS)
  }

  test("driver trainers == distributed trainers (sf0.001, auto k)") {
    val n = Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    pinEqual("/root/testdata/sf0.001", Similarity.ivfGeometry(n)._1)
  }

  test("driver trainers == distributed trainers (sf0.01, fixed k)") {
    pinEqual("/root/testdata/sf0.01", Similarity.K_CENTROIDS)
  }

  test("driver trainers == distributed trainers (sf0.01, auto k)") {
    val n = Tables.embeddings(spark, "/root/testdata/sf0.01").count()
    pinEqual("/root/testdata/sf0.01", Similarity.ivfGeometry(n)._1)
  }

  /** n Gaussian directions projected to the unit sphere, dense ids
    * 0..n−1, spread over 4 partitions so the distributed means sum in
    * partition order, not id order. */
  private def randomUnitCorpus(seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { id =>
      val g = Array.fill(Similarity.DIM)(rnd.nextGaussian())
      val v = g.map(_ / math.sqrt(g.map(x => x * x).sum))
      var q = 0.0; var i = 0
      while (i < v.length) { q += v(i) * v(i); i += 1 }
      (id.toLong, v.toSeq, math.sqrt(q))
    }.toDF("vec_id", "v", "nrm").repartition(4).localCheckpoint()
  }

  test("driver trainers == distributed trainers (random unit corpora, both sides of k)") {
    val fixed = Similarity.K_CENTROIDS
    // (seed, n, k): n below, at the edge of, and above k at the fixed
    // geometry (700 also strides the training sample); the auto
    // geometry's k = max(4, ⌈√n⌉) exceeds n = 3.
    val cases = Seq((1L, 40, fixed), (2L, 63, fixed), (3L, 65, fixed),
      (4L, 300, fixed), (5L, 700, fixed)) ++
      Seq((6L, 3), (7L, 150), (8L, 1100)).map { case (s, n) =>
        (s, n, Similarity.ivfGeometry(n.toLong)._1) }
    cases.foreach { case (seed, n, k) =>
      pinEqualOn(s"random corpus seed=$seed n=$n", randomUnitCorpus(seed, n), k)
    }
  }
}
