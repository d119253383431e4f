package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The interactive serving entry point must agree with the fixed
  * workload query on the query vector they share (vec_id 0 is in every
  * stride workload). */
class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("nearestTo(0, k) equals cosine_topk's rows for query_id 0") {
    val fromWorkload = Similarity.cosineTopk(spark, sfDir)
      .filter(col("query_id") === 0L)
      .select(col("vec_id"), col("cosine"))
      .as[(Long, Double)].collect().toSeq
    val interactive = Similarity.nearestTo(spark, sfDir, 0L, Similarity.TOP_K)
      .as[(Long, Double)].collect().toSeq
    assert(interactive == fromWorkload)
    assert(interactive.size == Similarity.TOP_K)
  }

  test("nearestTo ranks by cosine descending with vec_id tiebreak") {
    val rows = Similarity.nearestTo(spark, sfDir, 1L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(rows.size == 10)
    assert(rows.sliding(2).forall { case Seq((idA, cA), (idB, cB)) =>
      cA > cB || (cA == cB && idA < idB)
    })
  }

  /** Fraction of exact TOP_K truth a full-depth run recovers. */
  private def topkRecall(served: org.apache.spark.sql.DataFrame): Double = {
    val truth = Similarity.cosineTopk(spark, sfDir)
      .select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val got = served.select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    (truth & got).size.toDouble / truth.size
  }

  /** Fraction of exact top-IVF_TOP_K neighbours an IVF run recovers. */
  private def ivfRecall(served: org.apache.spark.sql.DataFrame): Double = {
    val truth = Similarity.cosineTopk(spark, sfDir)
      .filter(col("rank") <= Similarity.IVF_TOP_K)
      .select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val got = served.select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    (truth & got).size.toDouble / truth.size
  }

  test("ann_pq_topk: ADC recall is far above chance") {
    // PQ is deliberately lossy (16 centroids per 8-dim subspace, stride
    // codebooks): 0.22 measured on the fixture vs ~1% chance
    // (TOP_K / corpus). Pin an order of magnitude above chance, not the
    // measured point value.
    val recall = topkRecall(Similarity.annPqTopk(spark, sfDir))
    assert(recall >= 0.1, s"ADC recall $recall indistinguishable from chance")
  }

  test("ann_lsh_multiprobe: recall >= single-probe LSH") {
    // The probe set is a strict superset (each chunk value plus its
    // lowest-margin perturbation), and exact-cosine re-ranking over a
    // candidate superset can only keep or gain true top-K members
    // (only globally-better vectors can displace one).
    val single = topkRecall(Similarity.annLshTopk(spark, sfDir))
    val multi = topkRecall(Similarity.annLshMultiprobe(spark, sfDir))
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
    assert(multi > 0.0)
  }

  test("ann_pq_trained: recall >= the stride codebooks' ADC recall") {
    // Per-subspace k-means tightens each codebook around the data, so
    // ADC distances get more faithful and recall must not drop below
    // the untrained stride books'.
    val stride = topkRecall(Similarity.annPqTopk(spark, sfDir))
    val trained = topkRecall(Similarity.annPqTrained(spark, sfDir))
    assert(trained >= stride,
      s"trained PQ recall $trained < stride PQ recall $stride")
    assert(trained > 0.0)
  }

  test("ann_ivfpq_topk: recall >= trained IVF at the same probe budget") {
    // Same probed cells as trained IVF (the coarse quantizers train on
    // the same normalized geometry); the ADC shortlist is deep enough
    // (PQ_SHORTLIST = 8k — 4k measurably loses a neighbour, see its
    // scaladoc) that the exact re-rank recovers everything exact
    // in-cell search finds.
    val ivf = ivfRecall(Similarity.annIvfTrained(spark, sfDir))
    val ivfpq = ivfRecall(Similarity.annIvfPqTopk(spark, sfDir))
    assert(ivfpq >= ivf, s"IVF-PQ recall $ivfpq < trained IVF recall $ivf")
    assert(ivfpq > 0.0)
  }

  test("ann_recall: absolute floor holds and the gate agrees with set arithmetic") {
    // The relative pins above can all survive a UNIFORM recall
    // collapse; the ann_recall gate records recall vs exact truth as a
    // NUMBER (r17 verdict item 4) and this test refuses the collapse:
    // every method stays above the documented fixture floor, and the
    // gate's join/aggregate recall equals this suite's independent
    // set-arithmetic computation for the same serving paths.
    val rows = Similarity.annRecall(spark, sfDir)
      .select(col("method"), col("recall"))
      .as[(String, Double)].collect().toMap
    assert(rows.keySet == Set("ivf_trained", "ivf_trained_auto",
      "ivf_auto_random", "ivfpq_auto", "ivfpq_served"))
    rows.foreach { case (m, r) =>
      // The hash-probe CONTROL row is exempt from the floor by design:
      // its recall is the null hypothesis (equal budget, no routing),
      // not a serving path — the pin on it is the SEPARATION below.
      if (m != "ivf_auto_random")
        assert(r >= Similarity.RECALL_FLOOR,
          s"$m recall $r collapsed below floor ${Similarity.RECALL_FLOOR}")
    }
    // Routing must beat the equal-budget hash control (r19 item 1) by
    // a real margin: same codebook, same nprobe, only the cell CHOICE
    // differs (measured gap ≥ +0.30 at every fixture; pinned under the
    // weakest point).
    assert(rows("ivf_trained_auto") >= rows("ivf_auto_random") + 0.2,
      s"routing gain collapsed: routed ${rows("ivf_trained_auto")} vs " +
        s"hash-probe control ${rows("ivf_auto_random")}")
    // The corpus-scaled geometries must clear the HIGHER floor — their
    // whole claim is recall that does not decay with corpus size
    // (ivf_trained_auto measured 0.7333/0.80/0.60 and ivfpq_auto
    // 0.7333/0.80/0.5333 across sf0.001/0.01/0.1 vs the fixed
    // geometry's 0.4333/0.50/0.3667, r20 exact-fill init + log-curve
    // probes; ivfpq_auto additionally needs the ratio-preserving
    // shortlistAt — the FIXED 24-deep shortlist under the auto probe
    // budget had measured 0.2333 at sf0.1).
    Seq("ivf_trained_auto", "ivfpq_auto").foreach { m =>
      assert(rows(m) >= Similarity.AUTO_RECALL_FLOOR,
        s"$m recall ${rows(m)} below floor ${Similarity.AUTO_RECALL_FLOOR}")
    }
    val indep = ivfRecall(Similarity.annIvfTrained(spark, sfDir))
    assert(math.abs(rows("ivf_trained") - indep) < 1e-3,
      s"gate recall ${rows("ivf_trained")} != set-arithmetic recall $indep")
  }

  test("ann_router_gain: trained routing beats equal-budget hash probes") {
    // The planted workload (each query a perturbed corpus vector with
    // ONE overwhelming true neighbour) is the query-side structure a
    // router can exploit — r19 verdict item 1's measurement: at the
    // SAME probe budget, centroid routing must find the planted source
    // where hash-picked cells find it only at ~the scanned fraction.
    // A collapse of either pin means the index stopped indexing.
    val rows = Similarity.annRouterGain(spark, sfDir)
      .select(col("method"), col("recall"))
      .as[(String, Double)].collect().toMap
    assert(rows.keySet == Set("planted_routed", "planted_random"))
    assert(rows("planted_routed") >= 0.9,
      s"routed source-recall ${rows("planted_routed")} lost the source")
    assert(rows("planted_routed") >= rows("planted_random") + 0.3,
      s"routing gain collapsed: routed ${rows("planted_routed")} vs " +
        s"hash-probed ${rows("planted_random")} at the same budget")
  }

  test("ann_ivfpq_served: bit-equal to the inline train+serve pipeline") {
    // The train-once/serve-many contract: serving from the persisted
    // parquet index answers exactly what the inline pipeline answers —
    // the artifacts round-trip losslessly (rounded doubles, long ids)
    // and the serving plan is the same dataflow over read-back tables.
    val inline = Similarity.annIvfPqTopk(spark, sfDir).collect().toSeq
    val served = Similarity.annIvfPqServed(spark, sfDir).collect().toSeq
    assert(served == inline)
  }

  test("ann_ivfpq_residual_served: bit-equal to the inline residual pipeline") {
    // Same contract for the residual variant: the persisted rcodebooks/
    // rcodes round-trip losslessly and both entries share one serving
    // tail, so stored-index answers equal inline-trained answers.
    val inline = Similarity.annIvfPqResidual(spark, sfDir).collect().toSeq
    val served = Similarity.annIvfPqResidualServed(spark, sfDir).collect().toSeq
    assert(served == inline)
  }

  test("annNearestTo: single-query serve equals the workload query's rows") {
    // vec_id 0 is in every stride workload, so the interactive served
    // entry must reproduce exactly what ann_ivfpq_served answers for
    // query_id 0 — same index, same probe budget, same k.
    val workload = Similarity.annIvfPqServed(spark, sfDir)
      .filter(col("query_id") === 0L)
      .select("vec_id", "cosine", "rank").collect().toSeq
    val single = Similarity.annNearestTo(spark, sfDir, 0L, Similarity.IVF_TOP_K)
      .collect().toSeq
    assert(single == workload)
  }

  test("ann_index_build: persisted codes cover the corpus, M codes each") {
    val codes = Similarity.annIndexBuild(spark, sfDir)
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(codes.count() == n * Similarity.PQ_M)
    // Every vector lands in exactly one coarse cell.
    val cellsPerVec = codes.groupBy(col("vec_id"))
      .agg(countDistinct(col("cell")).as("nc"))
      .filter(col("nc") =!= 1).count()
    assert(cellsPerVec == 0)
  }

  test("ann_ivfpq_residual: recall >= trained IVF at the same probe budget") {
    // The residual codes route through the SAME trained coarse cells;
    // the q.c + ADC(q,r) score feeds the same-depth shortlist, so the
    // exact re-rank must again recover everything in-cell search finds.
    val ivf = ivfRecall(Similarity.annIvfTrained(spark, sfDir))
    val res = ivfRecall(Similarity.annIvfPqResidual(spark, sfDir))
    assert(res >= ivf, s"residual IVF-PQ recall $res < trained IVF recall $ivf")
    assert(res > 0.0)
  }

  test("ann_ivf_trained: recall vs exact truth >= the stride codebook's") {
    // The training iterations must not LOSE recall relative to the
    // untrained stride codebook (they tighten cells around the data,
    // so probed cells cover true neighbours at least as well here).
    val stride = ivfRecall(Similarity.annIvfTopk(spark, sfDir))
    val trained = ivfRecall(Similarity.annIvfTrained(spark, sfDir))
    assert(trained >= stride,
      s"trained recall $trained < stride recall $stride")
    assert(trained > 0.0)
  }

  test("recommendedIvfGeometry: sqrt-n centroids, monotone, probes O(log n)") {
    val (k1, p1) = Similarity.recommendedIvfGeometry(1000000L)
    // Reference target 0.9 probes exactly ceil(log2 n) cells.
    assert(k1 == 1000 && p1 == 20)
    // K grows as sqrt(n): 100x the corpus, 10x the centroids — and the
    // probe budget grows ADDITIVELY (log), not multiplicatively: the
    // scanned fraction p/k VANISHES with corpus growth (the r19 ADVICE
    // item — a fixed-fraction budget was a linear scan in disguise).
    val (k2, p2) = Similarity.recommendedIvfGeometry(100000000L)
    assert(k2 == 10000 && p2 == 27)
    assert(p2.toDouble / k2 < p1.toDouble / k1)
    // Higher recall targets never probe fewer cells.
    val probes = Seq(0.5, 0.7, 0.9, 0.99)
      .map(r => Similarity.recommendedIvfGeometry(1000000L, r)._2)
    assert(probes == probes.sorted)
    // Degenerate corpora stay sane.
    val (kTiny, pTiny) = Similarity.recommendedIvfGeometry(10L)
    assert(kTiny == 4 && pTiny >= 1 && pTiny <= kTiny)
    // The auto gates' geometry IS this function at the documented target.
    assert(Similarity.ivfGeometry(1000000L) ==
      Similarity.recommendedIvfGeometry(1000000L, Similarity.AUTO_RECALL_TARGET))
  }

  test("filtered search: labels respected, ANN results within exact filtered truth") {
    import org.apache.spark.sql.functions.col
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val exact = Similarity.cosineTopkFiltered(spark, sfDir)
      .select(col("query_id"), col("vec_id"), col("label"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(exact.nonEmpty)
    // Every exact result shares its query's own label.
    exact.foreach { case (q, v, l) =>
      assert(labels(q) == l && labels(v) == l, s"label leak: q=$q v=$v")
    }
    // The ANN form returns only same-label vectors, each one a member
    // of the probed-cell candidate space — and overlaps exact truth.
    val ann = Similarity.annIvfFiltered(spark, sfDir)
      .select(col("query_id"), col("vec_id"), col("label"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(ann.nonEmpty)
    ann.foreach { case (q, v, l) =>
      assert(labels(q) == l && labels(v) == l, s"ANN label leak: q=$q v=$v")
    }
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val hit = ann.map(r => (r._1, r._2)).count(exactSet.contains)
    assert(hit > 0, "filtered ANN recovered nothing from exact filtered truth")
    // The production-tier form (persisted index, filter before ADC)
    // obeys the same label contract and also overlaps exact truth.
    val pq = Similarity.annIvfPqFiltered(spark, sfDir)
      .select(col("query_id"), col("vec_id"), col("label"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(pq.nonEmpty)
    pq.foreach { case (q, v, l) =>
      assert(labels(q) == l && labels(v) == l, s"PQ label leak: q=$q v=$v")
    }
    assert(pq.map(r => (r._1, r._2)).count(exactSet.contains) > 0)
  }

  test("annIndexUpsert: frozen-quantizer append equals one-pass encode of the union") {
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = raw.filter(col("vec_id") % 4 =!= 3)
    val delta = raw.filter(col("vec_id") % 4 === 3)
    val idx = java.nio.file.Files.createTempDirectory("graft_upsert_idx_")
      .toString
    Similarity.buildIndexAt(spark, base, idx)
    Similarity.annIndexUpsert(spark, idx, delta)
    // The stored inverted file after the append must equal encoding the
    // WHOLE union in one pass with the same frozen quantizers — the
    // upsert invariant (the committed-delta read path included).
    val stored = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet
    val onePass = Similarity.encodeWith(spark, idx, raw)
      .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(stored == onePass)
    val nVecs = raw.count()
    assert(stored.size == nVecs * Similarity.PQ_M,
      s"codes rows ${stored.size} != $nVecs x M")
    // Idempotent re-delivery: upserting the SAME delta again must be a
    // no-op (already-indexed ids are anti-joined away — a duplicate
    // append would double-count those vectors in every served ADC sum).
    Similarity.annIndexUpsert(spark, idx, delta)
    val restored = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect()
    assert(restored.length == stored.size && restored.toSet == stored)
    // Serving the union from the upserted index returns only union
    // members AND actually reaches the delta slice (appended partition
    // directories must be visible to the serve-path read).
    val served = Similarity.serveFromIndex(spark, idx, raw)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(served.nonEmpty)
    val ids = raw.select(col("vec_id")).as[Long].collect().toSet
    served.foreach(v => assert(ids.contains(v)))
    assert(served.exists(_ % 4 == 3),
      "no delta vector in any served top-k — appended codes unreachable?")
    // Layout-pinned: a delta is LSM L0 — one flat cell-clustered
    // parquet dir, NOT a cell-partitioned tree. Partitioning a
    // KB-sized delta wrote O(cells) near-empty files per append and
    // every later read paid listing + footers on all of them (the
    // measured 146-files-per-80KiB shape this replaced).
    val deltaDir = new java.io.File(s"$idx/deltas/1/codes")
    assert(deltaDir.isDirectory)
    val entries = deltaDir.listFiles()
    assert(!entries.exists(_.isDirectory),
      s"delta written as a partition tree: ${entries.filter(_.isDirectory).take(3).mkString(",")}")
    val dataFiles = entries.count(_.getName.endsWith(".parquet"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(dataFiles > 0 && dataFiles <= parts,
      s"delta landed as $dataFiles files (shuffle partitions: $parts)")
  }

  test("buildIndexAt at corpus-scaled geometry: served equals the inline auto chain") {
    // The production posture end-to-end: a deployment builds the
    // PERSISTED index at ivfGeometry(n)'s k and serves with its
    // nprobe + ratio-preserving shortlist — that must answer exactly
    // what the inline auto chain answers (train-once ≡ train-inline at
    // ANY geometry, not just the fixed gate constants).
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val (k, nprobe) = Similarity.ivfGeometry(raw.count())
    val idx = java.nio.file.Files.createTempDirectory("graft_autogeom_idx_")
      .toString
    try {
      val shortlist = Similarity.shortlistAt(k, nprobe)
      Similarity.buildIndexAt(spark, raw, idx, k = k, nprobe = nprobe,
        shortlist = shortlist)
      val cents = spark.read.parquet(s"$idx/centroids").count()
      assert(cents > k / 2 && cents <= k,
        s"corpus-scaled build trained $cents of $k cells")
      // The build persisted its routing geometry (r19 ADVICE) ...
      assert(Similarity.storedGeometry(idx) == (k, nprobe, shortlist))
      // ... and serving with NO caller-supplied parameters answers the
      // inline auto chain — the stored values are the defaults, so an
      // auto-built index can never silently degrade to the fixed
      // constants.
      val served = Similarity.serveFromIndex(spark, idx, raw)
        .collect().toSeq
      val inline = Similarity.annIvfPqAuto(spark, sfDir).collect().toSeq
      assert(served == inline)
    } finally graft.streaming.StreamingOps.deleteRecursively(
      java.nio.file.Paths.get(idx))
  }

  test("index delta log auto-compacts past the L0 threshold, reads unchanged") {
    // The round-19 LSM L0 policy on the maintenance ops: once more
    // committed deltas sit unfolded than the threshold, the op that
    // just committed folds them under its own lock. Below threshold
    // nothing folds (the default AUTO_COMPACT_DELTAS=64 never fires at
    // gate delta counts); at threshold the fold runs, is read-invisible,
    // and GC'd deltas stop being read roots.
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = raw.filter(col("vec_id") % 4 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft_autocompact_")
      .toString
    try {
      Similarity.buildIndexAt(spark, base, idx, withResiduals = false)
      Similarity.annIndexUpsert(spark, idx, raw.filter(col("vec_id") % 4 === 1))
      Similarity.annIndexUpsert(spark, idx, raw.filter(col("vec_id") % 4 === 2))
      // Two committed deltas, default threshold 64: no MANIFEST yet.
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(idx, "MANIFEST")),
        "default threshold must not fire at 2 deltas")
      val before = Similarity.readCodes(spark, idx)
        .as[(Long, Int, Long, Long)].collect().toSet
      Similarity.maybeAutoCompact(spark, idx, threshold = 2)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(idx, "MANIFEST")).trim.startsWith("1 "),
        "threshold=2 over 2 unfolded deltas must fold")
      val after = Similarity.readCodes(spark, idx)
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(after == before, "auto-compaction changed the read")
      // Below threshold against the fresh generation: a no-op.
      Similarity.maybeAutoCompact(spark, idx, threshold = 2)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(idx, "MANIFEST")).trim.startsWith("1 "),
        "no unfolded deltas — a second fold must not run")
      // threshold <= 0 disables outright even with unfolded deltas.
      Similarity.annIndexUpsert(spark, idx, raw.filter(col("vec_id") % 4 === 3))
      Similarity.maybeAutoCompact(spark, idx, threshold = 0)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(idx, "MANIFEST")).trim.startsWith("1 "))
    } finally graft.streaming.StreamingOps.deleteRecursively(
      java.nio.file.Paths.get(idx))
  }

  test("stream_ann_upsert_live: streamed delta commits equal the one-shot upsert") {
    // Batch boundaries, per-batch anti-joins, and the delta-union read
    // path must all be invisible in the stored result: N micro-batch
    // commits over the live engine == one annIndexUpsert of the whole
    // delta, row for row.
    val one = Similarity.annIndexUpserted(spark, sfDir).collect().toSeq
    val streamed = graft.streaming.StreamAnnUpsert
      .streamAnnUpsertLive(spark, sfDir).collect().toSeq
    assert(streamed == one)
    // The FULL production loop: a compaction folding generations
    // between micro-batch appends must be invisible in the stored
    // result too.
    val compacted = graft.streaming.StreamAnnUpsert
      .streamAnnUpsertLive(spark, sfDir, compactEvery = 2).collect().toSeq
    assert(compacted == one,
      "live append/compact/append loop diverged from the one-shot upsert")
  }

  test("known-ids mirror: mirror-driven chunked appends across the base fold equal the one-pass encode, redelivery is a no-op") {
    // The maintenance loop's idempotence anti-join runs against the
    // in-memory LSM mirror instead of a per-trigger storage scan; the
    // mirror must stay EXACTLY the committed live id set through
    // appends, redeliveries, and its own base fold. 9 appends cross
    // MEM_FOLD_EVERY=8, so the fold path executes mid-sequence.
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    // Holed base slice (exact-fill init handles any id distribution —
    // see the sparse/holed codebook test below); the % 4 === 3 holdout
    // arrives as 9 chunks keyed by floor(id/4) mod 9.
    val base = raw.filter(col("vec_id") % 4 =!= 3)
    val idx = java.nio.file.Files.createTempDirectory("graft_mirror_idx_")
      .toString
    Similarity.buildIndexAt(spark, base, idx)
    val mirror = graft.streaming.StreamAnnUpsert.knownIds(spark, idx)
    (0 until 9).foreach { r =>
      val chunk = raw.filter(col("vec_id") % 4 === 3 &&
        pmod(floor(col("vec_id") / 4), lit(9)) === r)
      val fresh = Similarity.annIndexUpsert(spark, idx, chunk,
        Some(mirror.parts))
      assert(fresh.nonEmpty, s"chunk $r wrote no delta")
      mirror.advance(fresh.get)
      // Redelivery of the same chunk against the ADVANCED mirror: the
      // anti-join must drop every row and write nothing (a duplicate
      // delta would double-count these ids in every served ADC sum).
      assert(Similarity.annIndexUpsert(spark, idx, chunk,
        Some(mirror.parts)).isEmpty, s"chunk $r re-delivery wrote a delta")
    }
    // The 9th advance folded the tail into a fresh base: parts is back
    // to base + one unfolded part, not base + 9.
    assert(mirror.parts.size == 2,
      s"mirror fold did not run: ${mirror.parts.size} parts after 9 appends")
    // Mirror path == storage-known path: the stored index equals the
    // one-pass frozen encode of the whole union, bit for bit.
    val stored = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet
    val onePass = Similarity.encodeWith(spark, idx, raw)
      .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(stored == onePass)
  }

  test("buildIndexAt fills full codebooks on sparse and holed id sets") {
    // r19 verdict item 3: the residue-based init under-filled on
    // sparse/non-contiguous ids (and even on dense ids whenever
    // k ∤ n — the "trained 63 of 64 centroids" suite warning), exactly
    // the upsert base-slice shape production maintenance exercises.
    // The r20 exact-fill init (floor-stride + cap over trainSliceOf's
    // dense re-keyed ranks) must seed min(k, n) coarse cells and full
    // KSUB-entry PQ books on ANY id distribution.
    def checkFull(raw: org.apache.spark.sql.DataFrame, tag: String,
        withResiduals: Boolean): Unit = {
      val idx = java.nio.file.Files.createTempDirectory(s"graft_${tag}_idx_")
        .toString
      try {
        Similarity.buildIndexAt(spark, raw, idx, withResiduals = withResiduals)
        val n = raw.count()
        val codes = spark.read.parquet(s"$idx/codes")
        assert(codes.count() == n * Similarity.PQ_M,
          s"$tag build must encode every vector")
        val cents = spark.read.parquet(s"$idx/centroids").count()
        assert(cents == math.min(Similarity.K_CENTROIDS.toLong, n),
          s"$tag build trained $cents of min(K, $n) coarse cells")
        val perSub = spark.read.parquet(s"$idx/codebooks")
          .groupBy(col("m")).agg(countDistinct(col("cid")).as("nc"))
          .select("nc").as[Long].collect()
        assert(perSub.length == Similarity.PQ_M &&
          perSub.forall(_ == math.min(Similarity.PQ_KSUB.toLong, n)),
          s"$tag build under-filled PQ books: ${perSub.mkString(",")}")
      } finally graft.streaming.StreamingOps.deleteRecursively(
        java.nio.file.Paths.get(idx))
    }
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    // Every-10th ids: the historically loud-failing fully-sparse shape.
    // Plain codes only: at n = 50 < K every vector is its own centroid,
    // residuals are ~zero vectors, and residual-PQ books legitimately
    // collapse — that degeneracy is the tripwire's job to report, not
    // this test's subject.
    checkFull(raw.filter(col("vec_id") % 10 === 0), "sparse",
      withResiduals = false)
    // Holed ids (every 4th missing): the upsert base-slice shape.
    checkFull(raw.filter(col("vec_id") % 4 =!= 3), "holed",
      withResiduals = true)
  }

  test("failed rebuild: an empty corpus throws, leaves no GEOMETRY, and invalidates the listing memo") {
    // A rebuild overwrites the gen-0 tables in place. When it fails
    // validation, GEOMETRY (the build-complete marker) must not land,
    // and readCodes must not keep serving the listing memoized before
    // the overwrite.
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("graft_empty_rebuild_")
      .toString
    try {
      Similarity.buildIndexAt(spark, raw.filter(col("vec_id") < 200), idx,
        withResiduals = false)
      val served = Similarity.readCodes(spark, idx)
      assert(Similarity.readCodes(spark, idx) eq served,
        "an unchanged index state must hit the listing memo")
      val e = intercept[IllegalArgumentException](Similarity.buildIndexAt(
        spark, raw.filter(lit(false)), idx, withResiduals = false))
      assert(e.getMessage.contains("EMPTY"), e.getMessage)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "GEOMETRY")),
        "a failed rebuild left the build-complete marker")
      assert(!(Similarity.readCodes(spark, idx) eq served),
        "readCodes served the listing memoized before the failed rebuild")
    } finally graft.streaming.StreamingOps.deleteRecursively(
      java.nio.file.Paths.get(idx))
  }

  test("drained index: delete every id, compact to a zero-row generation, serve empty, refill by upsert") {
    // Deleting EVERY live id then compacting stages a generation table
    // with zero rows — a legitimate lifecycle state (unlike the
    // build-time empty-codebook hazard above): the drained index must
    // read as the empty codes table, not die in parquet schema
    // inference, and a later upsert must refill it (known set = empty,
    // frozen quantizers intact).
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val slice = raw.filter(col("vec_id") < 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_drain_idx_")
      .toString
    Similarity.buildIndexAt(spark, slice, idx)
    Similarity.annIndexDelete(spark, idx, slice.select(col("vec_id")))
    Similarity.annIndexCompact(spark, idx)
    assert(Similarity.readCodes(spark, idx).count() == 0)
    assert(Similarity.readCodes(spark, idx, "rcodes").count() == 0)
    val refill = raw.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    Similarity.annIndexUpsert(spark, idx, refill)
    val stored = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet
    val onePass = Similarity.encodeWith(spark, idx, refill)
      .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(stored.nonEmpty && stored == onePass)
  }

  test("delta-commit fuzz: random upsert/delete/compact interleavings with cross-type debris equal the one-pass encode of the live set") {
    // Seeded randomized drive of the FULL maintenance protocol: the
    // delta arrives as 1–4 random disjoint chunks, tombstone deletes
    // of random live subsets interleave with the appends, compactions
    // fold at random points, and before a random subset of ops a
    // poisoned UNCOMMITTED delta directory (no marker) is planted at
    // the id the next op will claim — sometimes partial CODES debris
    // (a crashed upsert), sometimes bogus TOMBSTONES naming every id
    // (a crashed delete; if a later op's marker wrongly committed it,
    // the whole index would read empty). Whatever the interleaving,
    // the final stored index — BOTH code families — must equal the
    // one-pass frozen encode of exactly the LIVE set.
    val rnd = new scala.util.Random(4242)
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = raw.filter(col("vec_id") % 4 =!= 3)
    val deltaIds = raw.filter(col("vec_id") % 4 === 3)
      .select(col("vec_id")).as[Long].collect()
    val allIds = raw.select(col("vec_id")).as[Long].collect().toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft_fuzz_idx_")
      .toString
    Similarity.buildIndexAt(spark, base, idx) // with residuals
    val alive = scala.collection.mutable.Set.empty[Long]
    alive ++= base.select(col("vec_id")).as[Long].collect()
    val shuffled = rnd.shuffle(deltaIds.toVector)
    val nChunks = 1 + rnd.nextInt(4)
    val chunks = shuffled.grouped(
      math.max(1, (shuffled.size + nChunks - 1) / nChunks)).toSeq
    var nextId = 1L
    def plantDebris(someId: Long): Unit = rnd.nextInt(3) match {
      case 0 => // crashed-upsert partial codes at the id claimed next
        Seq((someId, 0, 0L)).toDF("vec_id", "m", "code")
          .withColumn("cell", lit(0L))
          .write.mode("overwrite")
          .partitionBy("cell").parquet(s"$idx/deltas/$nextId/codes")
      case 1 => // crashed-delete tombstones naming EVERY id
        allIds.toDF("vec_id").write.mode("overwrite")
          .parquet(s"$idx/deltas/$nextId/tombstones")
      case _ => ()
    }
    chunks.foreach { chunk =>
      plantDebris(chunk.head)
      Similarity.annIndexUpsert(spark, idx,
        raw.filter(col("vec_id").isInCollection(chunk)))
      alive ++= chunk
      nextId += 1
      if (rnd.nextBoolean()) {
        // Tombstone-delete a random live subset (base and delta ids
        // alike — the mask must reach every root).
        val victims = alive.toSeq.sorted.filter(_ => rnd.nextDouble() < 0.15)
        if (victims.nonEmpty) {
          plantDebris(victims.head)
          Similarity.annIndexDelete(spark, idx,
            victims.toDF("vec_id"))
          alive --= victims
          nextId += 1
        }
      }
      // Random LSM compactions interleave with the append/delete
      // stream: the generation fold must be invisible to everything
      // that follows (later upserts anti-join against the compacted
      // base, deletes keep masking, ids keep climbing past the folded
      // markers).
      if (rnd.nextBoolean()) Similarity.annIndexCompact(spark, idx)
    }
    // The random walk may never take the delete branch — force one
    // final tombstone batch so every fuzz run exercises the mask.
    if (alive.size == allIds.size) {
      val victims = alive.toSeq.sorted.filter(_ % 7 == 1)
      plantDebris(victims.head)
      Similarity.annIndexDelete(spark, idx, victims.toDF("vec_id"))
      alive --= victims
    }
    val survivors = raw.filter(col("vec_id").isInCollection(alive.toSeq))
    assert(alive.size < allIds.size, "fuzz deleted nothing — seed drifted")
    for (table <- Seq("codes", "rcodes")) {
      val stored = Similarity.readCodes(spark, idx, table)
        .as[(Long, Int, Long, Long)].collect()
      val onePass = (if (table == "codes")
          Similarity.encodeWith(spark, idx, survivors)
        else Similarity.encodeResidWith(spark, idx, survivors))
        .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(stored.length == onePass.size && stored.toSet == onePass,
        s"$table diverged after ${chunks.size} chunks with interleaved " +
          "deletes, compactions, and cross-type debris")
    }
  }

  test("annIndexCompact: folds deltas losslessly, collapses the read path, survives debris") {
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = raw.filter(col("vec_id") % 4 < 2)
    val d1 = raw.filter(col("vec_id") % 8 === 3)
    val d2 = raw.filter(col("vec_id") % 8 === 7)
    val idx = java.nio.file.Files.createTempDirectory("graft_compact_idx_")
      .toString
    Similarity.buildIndexAt(spark, base, idx) // with residuals
    Similarity.annIndexUpsert(spark, idx, d1)
    Similarity.annIndexUpsert(spark, idx, d2)
    val before = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet
    val rbefore = Similarity.readCodes(spark, idx, "rcodes")
      .as[(Long, Int, Long, Long)].collect().toSet
    // Crash debris: a partial staging directory at the generation the
    // compaction will claim (a failed earlier attempt) — must be
    // clobbered, not trusted.
    Seq((0L, 0, 0L)).toDF("vec_id", "m", "code").withColumn("cell", lit(0L))
      .write.partitionBy("cell").parquet(s"$idx/codes-g1")
    Similarity.annIndexCompact(spark, idx)
    // Lossless: both code families read back identical.
    assert(Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet == before)
    assert(Similarity.readCodes(spark, idx, "rcodes")
      .as[(Long, Int, Long, Long)].collect().toSet == rbefore)
    // Read path is ONE root again: the serve-path plan scans no delta
    // directory. The folded payloads are still ON DISK — GC is
    // deferred one fold so in-flight readers of the old generation
    // survive the swap — but the manifest makes them invisible.
    assert(new java.io.File(s"$idx/deltas/1/codes").exists(),
      "deferred GC must leave the just-folded payloads for one fold")
    val plan = Similarity.serveFromIndex(spark, idx, raw)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("/deltas/"),
      s"served plan still unions delta scans after compaction:\n$plan")
    // No pending deltas ⇒ compaction is a no-op (same generation), and
    // its entry sweep is where the PREVIOUS fold's garbage — folded
    // delta payloads, the replaced generation — is finally reclaimed
    // (commit markers stay: ids must remain monotonic).
    Similarity.annIndexCompact(spark, idx)
    assert(!new java.io.File(s"$idx/deltas/1/codes").exists() &&
      !new java.io.File(s"$idx/deltas/2/codes").exists(),
      "the next compaction's sweep must reclaim folded delta payloads")
    assert(!new java.io.File(s"$idx/codes").exists(),
      "the next compaction's sweep must reclaim the replaced generation")
    assert(Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet == before)
    // The maintenance loop continues across compactions: a genuinely
    // NEW slice appends onto generation 1 (its delta id continues past
    // the folded ones) and the stored union equals the one-pass frozen
    // encode of everything seen so far.
    val d3 = raw.filter(col("vec_id") % 4 === 2)
    Similarity.annIndexUpsert(spark, idx, d3)
    val onePass = Similarity.encodeWith(spark, idx, raw)
      .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet == onePass)
    // Rebuild-in-place (the periodic re-train the upsert scaladoc
    // routes re-embedded ids to) must RESET the maintenance state: a
    // gen-N MANIFEST left behind would keep serving the old
    // generation and the next GC would delete the fresh gen-0 tables.
    Similarity.buildIndexAt(spark, base, idx)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx, "MANIFEST")),
      "rebuild must clear the generation pointer")
    assert(Similarity.readCodes(spark, idx)
      .select(col("vec_id")).distinct().as[Long].collect().toSet ==
      base.select(col("vec_id")).as[Long].collect().toSet,
      "rebuild must serve exactly the rebuilt corpus")
  }

  test("annIndexUpsert: a crashed (uncommitted) delta is invisible and replay heals it") {
    // The failure mode the delta-commit protocol exists for: a
    // mid-append crash must not leave vectors with partial code sets
    // that a retry then skips (served ADC would sum M' < M lookups for
    // them, silently wrong forever under a bare parquet append).
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = raw.filter(col("vec_id") % 4 =!= 3)
    val delta = raw.filter(col("vec_id") % 4 === 3)
    val idx = java.nio.file.Files.createTempDirectory("graft_crash_idx_")
      .toString
    Similarity.buildIndexAt(spark, base, idx)
    val baseCodes = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet
    // Plant a poisoned PARTIAL delta — one truncated code row for a
    // delta vector, no commit marker (a crash between write and
    // commit).
    val someDelta = delta.select(col("vec_id")).as[Long].head()
    Seq((someDelta, 0, 0L)).toDF("vec_id", "m", "code")
      .withColumn("cell", lit(0L))
      .write.partitionBy("cell").parquet(s"$idx/deltas/1/codes")
    // Invisible: reads see exactly the base build.
    assert(Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet == baseCodes)
    // Replay: the retry reuses delta id 1, overwrites the debris, and
    // commits — the stored union equals the one-pass frozen encode.
    Similarity.annIndexUpsert(spark, idx, raw)
    val healed = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect()
    val onePass = Similarity.encodeWith(spark, idx, raw)
      .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(healed.length == onePass.size && healed.toSet == onePass,
      "replay did not heal the poisoned partial delta")
    // The poisoned truncated row is gone: every vector carries exactly
    // M codes.
    val counts = Similarity.readCodes(spark, idx)
      .groupBy(col("vec_id")).count()
      .filter(col("count") =!= Similarity.PQ_M).count()
    assert(counts == 0, "a vector survived with a partial code set")
  }

  test("annIndexDelete: tombstones mask both families, compaction drops them, re-upsert resurrects") {
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = raw.filter(col("vec_id") % 4 =!= 3)
    val delta = raw.filter(col("vec_id") % 4 === 3)
    val idx = java.nio.file.Files.createTempDirectory("graft_delete_idx_")
      .toString
    Similarity.buildIndexAt(spark, base, idx) // with residuals
    Similarity.annIndexUpsert(spark, idx, delta)
    // Doomed slice straddles the base build AND the appended delta, so
    // the mask is exercised against both the generation root and a
    // delta root.
    val doomed = raw.filter(col("vec_id") % 5 === 3).select(col("vec_id"))
    val doomedIds = doomed.as[Long].collect().toSet
    assert(doomedIds.exists(_ % 4 == 3) && doomedIds.exists(_ % 4 != 3))
    // Plan posture: with no tombstones pending, the read path is scans
    // + union only — the masking join must not tax an index nobody
    // deleted from.
    val cleanPlan = Similarity.readCodes(spark, idx)
      .queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("Join"),
      s"tombstone-free read path grew a join:\n$cleanPlan")
    // Cross-op-type debris: the delete claims delta id 2 — plant BOTH a
    // crashed upsert's partial codes AND a crashed delete's bogus
    // tombstones (naming every id) there. The delete must clear the
    // whole reused directory before staging, or its marker would
    // commit the debris alongside the real tombstones (bogus codes
    // double-counting ADC sums, bogus tombstones masking the entire
    // index). The survivor assertions below prove the clearing.
    Seq((0L, 0, 0L)).toDF("vec_id", "m", "code").withColumn("cell", lit(0L))
      .write.partitionBy("cell").parquet(s"$idx/deltas/2/codes")
    raw.select(col("vec_id"))
      .write.parquet(s"$idx/deltas/2/tombstones")
    Similarity.annIndexDelete(spark, idx, doomed)
    // With tombstones pending, the mask is ONE broadcast equi-join of
    // the aggregated (small) tombstone side — never a shuffle of the
    // codes table.
    val maskedPlan = Similarity.readCodes(spark, idx)
      .queryExecution.executedPlan.toString
    assert(maskedPlan.contains("BroadcastHashJoin"),
      s"tombstone mask is not a broadcast join:\n$maskedPlan")
    // Serve-after-delete ≡ rebuild-without-the-rows: the stored read of
    // BOTH code families equals the one-pass frozen encode of the
    // surviving corpus.
    val survivors = raw.filter(col("vec_id") % 5 =!= 3)
    for (table <- Seq("codes", "rcodes")) {
      val stored = Similarity.readCodes(spark, idx, table)
        .as[(Long, Int, Long, Long)].collect().toSet
      val onePass = (if (table == "codes")
          Similarity.encodeWith(spark, idx, survivors)
        else Similarity.encodeResidWith(spark, idx, survivors))
        .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(stored == onePass,
        s"$table after delete != one-pass encode of the survivors")
    }
    // No deleted vector can be served.
    val served = Similarity.serveFromIndex(spark, idx, survivors)
      .select(col("vec_id")).as[Long].collect()
    assert(served.nonEmpty && !served.exists(doomedIds.contains),
      "a tombstoned vector surfaced in served top-k")
    // Idempotent re-delivery: the same delete again finds no live codes
    // to mask and writes NO new tombstone delta.
    val markers = Option(new java.io.File(s"$idx/commits").list())
      .fold(0)(_.length)
    Similarity.annIndexDelete(spark, idx, doomed)
    assert(Option(new java.io.File(s"$idx/commits").list())
      .fold(0)(_.length) == markers,
      "re-delivered delete must be a no-op, not a tombstone trail")
    // Compaction PHYSICALLY drops tombstoned codes: the staged
    // generation's raw parquet (read without any masking) holds no
    // doomed id, in either family.
    Similarity.annIndexCompact(spark, idx)
    for (table <- Seq("codes", "rcodes")) {
      val gen1 = spark.read.parquet(s"$idx/$table-g1")
        .select(col("vec_id")).as[Long].collect().toSet
      assert(gen1.nonEmpty && gen1.intersect(doomedIds).isEmpty,
        s"compaction left tombstoned codes in the staged $table generation")
    }
    // Last-writer-wins: re-upserting the deleted ids appends fresh
    // codes (the known-ids anti-join sees tombstoned ids as absent)
    // and the stored union equals the full-corpus frozen encode again.
    Similarity.annIndexUpsert(spark, idx, raw.filter(col("vec_id") % 5 === 3))
    val resurrected = Similarity.readCodes(spark, idx)
      .as[(Long, Int, Long, Long)].collect().toSet
    val onePassAll = Similarity.encodeWith(spark, idx, raw)
      .select(col("vec_id"), col("m").cast("int"), col("code"), col("cell"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(resurrected == onePassAll,
      "re-upsert after delete did not resurrect the ids with fresh codes")
  }

  test("index identity: regenerating the embeddings table in place retrains instead of serving stale codes") {
    // The persisted-index identity mixes a fingerprint of the
    // embeddings data files (count + bytes + max mtime) into the
    // directory key, so a dataset REWRITTEN AT THE SAME PATH gets a
    // fresh index. Stale identity here would serve ADC shortlists from
    // codes of vectors that no longer exist.
    val ds = java.nio.file.Files.createTempDirectory("graft_fp_ds_")
      .toString
    val raw = Tables.embeddings(spark, sfDir)
    val mid = raw.count() / 2
    // Contiguous id halves, not a parity slice: the stride-based
    // quantizer inits pick `vec_id % stride == off` seeds, and a
    // corpus of only-even ids can miss an odd offset entirely
    // (degenerate empty codebooks — a fixture pathology, not the
    // property under test).
    raw.filter(col("vec_id") < mid)
      .write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    val first = Similarity.annIvfPqServed(spark, ds)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(first.nonEmpty && first.forall(_ < mid))
    // Regenerate IN PLACE with the disjoint half. If the identity were
    // path-only, ensureIndex would keep serving the first-half index
    // and the served set would be empty (stored codes never join the
    // new corpus) or stale.
    raw.filter(col("vec_id") >= mid)
      .write.mode("overwrite").parquet(s"$ds/embeddings.parquet")
    val second = Similarity.annIvfPqServed(spark, ds)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(second.nonEmpty && second.forall(_ >= mid),
      "in-place dataset regeneration served stale ANN answers")
    graft.streaming.StreamingOps.deleteRecursively(
      java.nio.file.Paths.get(ds))
  }

  test("semantic_dedup: keep/drop decisions match a brute-force replay") {
    val out = Similarity.semanticDedup(spark, sfDir)
      .select(col("vec_id"), col("cell"), col("kept"), col("dup_of"),
        col("max_cos"))
      .as[(Long, Long, Boolean, Long, Double)].collect().toSeq
    assert(out.exists(!_._3), "fixture must exercise the drop path")
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toMap
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    // The operator's own math, replayed sequentially: left-fold dot and
    // norms, 6-decimal HALF_UP round — bit-identical by construction.
    def cosOf(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var k = 0
      while (k < a.length) {
        d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.foreach { case (j, cell, kept, dupOf, maxCos) =>
      val earlier = out.filter(r => r._2 == cell && r._1 < j)
        .map(r => r._1 -> cosOf(vecs(r._1), vecs(j)))
        .filter(_._2 >= Similarity.SEMDEDUP_TAU)
      if (kept) assert(earlier.isEmpty && dupOf == -1L && maxCos == 0.0)
      else {
        assert(earlier.map(_._1).min == dupOf, s"doc $j dup_of mismatch")
        assert(earlier.map(_._2).max == maxCos, s"doc $j max_cos mismatch")
      }
    }
  }
}
