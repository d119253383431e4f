package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The parameterized banded sign-LSH (`lshNearDupPairs`) — the
  * scale-generalized form of the 8×8 `embedding_dedup` gate geometry.
  * Covers: planted-pair recall at a wider band (4×16), exact
  * plain-Scala replay of a multi-word packing (6×20 → 2 signature
  * words, 3 bands each), and the corpus-size-aware `recommendedGeometry`
  * math. Everything is seeded → deterministic. */
class LshGeometrySpec extends SparkSpecBase {
  import spark.implicits._

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    d / (na * nb)
  }

  /** round-half-up to 6 decimals, matching Spark's round(). */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Plain-Scala replay of the identical algorithm: band b's bit j is
    * sign(dot(v, plane[b*bits + j])); candidates share ≥1 band value;
    * exact rounded cosine ≥ threshold within candidates only. */
  private def replay(all: Seq[(Long, Array[Double])], planes: Array[Double],
      dim: Int, nBands: Int, bits: Int,
      minCosine: Double): Seq[(Long, Long, Double)] = {
    def bandVal(v: Array[Double], b: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, j) =>
        val row = (b * bits + j) * dim
        val d = (0 until dim).foldLeft(0.0)((s, i) => s + planes(row + i) * v(i))
        if (d > 0) acc | (1L << j) else acc
      }
    (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      if (0 until nBands).exists(b => bandVal(va, b) == bandVal(vb, b))
      c = r6(cos(va, vb)) if c >= minCosine
    } yield (ia, ib, c)).sorted
  }

  test("4x16 geometry: planted near-dup pairs are found, output is sound") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    val base = (0 until 100).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    // 8 planted near-duplicates: tiny perturbation → cosine ≈ 0.998.
    val planted = (0 until 8).map { i =>
      val (id, v) = base(i * 3)
      (id + 1000L, v.map(_ + 0.05 * rnd.nextGaussian()))
    }
    val all = base ++ planted
    val df = all.toDF("vec_id", "v")
    val planes = Similarity.planesFor(seed = 99, nPlanes = 4 * 16, dim = dim)
    val got = Similarity
      .lshNearDupPairs(df, "vec_id", "v", dim, 4, 16, planes, 0.95)
      .as[(Long, Long, Double)].collect().toSeq
    val byId = all.toMap
    val brute = (for {
      (ia, va) <- all; (ib, _) <- all if ia < ib
      c = r6(cos(va, byId(ib))) if c >= 0.95
    } yield (ia, ib)).toSet
    // Soundness: exact verification means no pair below threshold.
    got.foreach { case (a, b, c) =>
      assert(brute.contains((a, b)) && c >= 0.95, s"unsound pair ($a,$b,$c)")
    }
    // Recall: every planted pair collides in ≥1 of the 4 bands (with
    // this seed) and survives.
    val gotPairs = got.map(t => (t._1, t._2)).toSet
    (0 until 8).foreach { i =>
      val pair = (base(i * 3)._1, base(i * 3)._1 + 1000L)
      assert(gotPairs.contains(pair), s"planted pair $pair missed")
    }
  }

  test("6x20 multi-word packing replays exactly in plain Scala") {
    val dim = 8
    val (nBands, bits) = (6, 20) // 120 planes → 2 words, 3 bands/word
    val rnd = new scala.util.Random(5)
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val planted = (0 until 3).map { i =>
      val (id, v) = base(i * 7)
      (id + 500L, v.map(_ + 0.03 * rnd.nextGaussian()))
    }
    val all = base ++ planted
    val planes = Similarity.planesFor(seed = 17, nPlanes = nBands * bits, dim = dim)
    val got = Similarity
      .lshNearDupPairs(all.toDF("vec_id", "v"),
        "vec_id", "v", dim, nBands, bits, planes, 0.8)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val expect = replay(all, planes, dim, nBands, bits, 0.8)
    assert(got == expect)
  }

  test("interleaved plane matrices of equal geometry stay apart") {
    // Two frames of the same 6x20 geometry whose planes differ only by
    // seed, both built before either is collected: each plan must keep
    // its own planes.
    val dim = 8
    val (nBands, bits) = (6, 20)
    val rnd = new scala.util.Random(29)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    // Near-dups at rising distance: band collisions become a coin toss
    // that the two plane matrices call differently.
    val planted = (0 until 20).map { i =>
      val (id, v) = base(i)
      (id + 500L, v.map(_ + (0.05 + 0.02 * i) * rnd.nextGaussian()))
    }
    val all = base ++ planted
    val df = all.toDF("vec_id", "v")
    val (pa, pb) = (Similarity.planesFor(seed = 17, nPlanes = nBands * bits, dim = dim),
      Similarity.planesFor(seed = 18, nPlanes = nBands * bits, dim = dim))
    val fa = Similarity.lshNearDupPairs(df, "vec_id", "v", dim, nBands, bits, pa, 0.5)
    val fb = Similarity.lshNearDupPairs(df, "vec_id", "v", dim, nBands, bits, pb, 0.5)
    val gotB = fb.as[(Long, Long, Double)].collect().toSeq.sorted
    val gotA = fa.as[(Long, Long, Double)].collect().toSeq.sorted
    val (expA, expB) = (replay(all, pa, dim, nBands, bits, 0.5),
      replay(all, pb, dim, nBands, bits, 0.5))
    assert(expA != expB, "the two plane matrices must select different pairs")
    assert(gotA == expA)
    assert(gotB == expB)
  }

  test("recommendedGeometry scales bits with corpus and meets the recall bound") {
    val (bands9, bits9) = Similarity.recommendedGeometry(1000000000L, 0.9)
    assert(bits9 == 20, s"1e9/1024 occupancy → 20-bit bands, got $bits9")
    val p = 1.0 - math.acos(0.9) / math.Pi
    val pMiss = math.pow(1.0 - math.pow(p, bits9), bands9)
    assert(pMiss <= 1e-3, s"geometry must meet the default miss bound, got $pMiss")
    // Bits grow with the corpus; the floor is the gate's 8.
    assert(Similarity.recommendedGeometry(1000000000000L, 0.9)._2 == 30)
    assert(Similarity.recommendedGeometry(60000L, 0.9)._2 == 8)
    assert(Similarity.recommendedGeometry(1L, 0.9)._2 == 8)
  }

  test("ivfGeometry: sqrt-n cells, log-curve probes, sane bounds") {
    // The corpus-scaled IVF routing rule (round 20 — recall-targeted,
    // r19 verdict item 4): K = ceil(sqrt(n)) with a floor of 4,
    // NPROBE = ceil(log2 n) at the AUTO_RECALL_TARGET=0.9 reference
    // point, clamped to [2, K] — O(log n), so the scanned fraction
    // VANISHES with corpus growth instead of staying a fixed 20%. Pin
    // the fixture points the recall gate measured and the structural
    // properties (monotone K, sub-linear probes, nprobe never exceeds
    // K).
    assert(Similarity.ivfGeometry(500L) == ((23, 9)))   // sf0.001/0.01
    assert(Similarity.ivfGeometry(2000L) == ((45, 11))) // sf0.1
    assert(Similarity.ivfGeometry(1L) == ((4, 2)))      // floors
    val (k9, np9) = Similarity.ivfGeometry(1000000000L)
    assert(k9 == math.ceil(math.sqrt(1e9)).toInt && np9 == 30 && np9 <= k9)
    // Scanned fraction nprobe/K decays: ~0.39 at n=500 → ~1e-3 at n=1e9.
    assert(np9.toDouble / k9 < 0.001)
    Seq(10L, 100L, 10000L, 100000000L).sliding(2).foreach { case Seq(a, b) =>
      assert(Similarity.ivfGeometry(a)._1 <= Similarity.ivfGeometry(b)._1,
        "K must be monotone in n")
    }
  }

  test("shortlistAt preserves the fixed geometry's shortlist-to-candidate ratio") {
    // shortlist/(nprobe/k) must equal PQ_SHORTLIST/(NPROBE/K_CENTROIDS)
    // up to the ceil, with PQ_SHORTLIST as the floor — the depth that
    // keeps ADC-noise eviction probability constant as the probe
    // budget scales (a fixed 24 measured recall 0.2333 at sf0.1's
    // auto geometry; the scaled depth recovers 0.5667).
    assert(Similarity.shortlistAt(
      Similarity.K_CENTROIDS, Similarity.NPROBE) == Similarity.PQ_SHORTLIST)
    val (k, np) = Similarity.ivfGeometry(2000L)
    val depth = Similarity.shortlistAt(k, np)
    val fixedFrac = Similarity.NPROBE.toDouble / Similarity.K_CENTROIDS
    val expected = math.ceil(
      Similarity.PQ_SHORTLIST * (np.toDouble / k) / fixedFrac).toInt
    assert(depth == math.max(Similarity.PQ_SHORTLIST, expected))
    // Never below the fixed floor, even at a tiny probe fraction.
    assert(Similarity.shortlistAt(1000, 1) == Similarity.PQ_SHORTLIST)
  }

  test("recommendedGeometry fails loudly on infeasible (sim, corpus) combos") {
    // 1e12 vectors at sim 0.5: p^bits underflows and the recall bound
    // would demand ~1e6 bands (gigabytes of planes) — must throw, not
    // silently allocate.
    val e = intercept[IllegalArgumentException] {
      Similarity.recommendedGeometry(1000000000000L, 0.5)
    }
    assert(e.getMessage.contains("infeasible"))
  }
}
