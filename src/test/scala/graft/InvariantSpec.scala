package graft

import org.apache.spark.sql.functions._

/** Semantic invariants over the sf0.001 fixtures (SURVEY §5):
  * relative frequencies sum to 1 per group, PMI counts are symmetric,
  * dedup outputs respect their thresholds and symmetry. */
class InvariantSpec extends SparkSpecBase {
  import spark.implicits._

  test("interval_join: one row per event, equals the naive range form") {
    val binned = SparkEntry.queries("interval_join")(spark, sfDir)
    val events = Tables.events(spark, sfDir)
    assert(binned.count() == events.count())
    // Independent naive form: equi-join on user + BETWEEN filter (the
    // per-key range product the binned plan exists to avoid).
    val sess = streaming.StreamingOps.userSessions(events)
    val naive = events.select(col("event_id"), col("user_id"), col("ts"))
      .join(sess, Seq("user_id"))
      .filter(col("ts") >= col("session_start") && col("ts") < col("session_end"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("session_start"), col("n_events").as("session_n_events"))
    assert(binned.exceptAll(naive).isEmpty && naive.exceptAll(binned).isEmpty)
  }

  test("neardedup_probe: verdicts match live singleton admission; read-only") {
    val out = operators.Dedup.neardedupProbe(spark, sfDir)
      .select("doc_id", "n_hits", "would_admit")
      .as[(Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, h, adm) =>
      assert(h >= 0 && h <= operators.Dedup.LSH_BANDS, s"doc $id: n_hits $h")
      assert(adm == (h == 0), s"doc $id: verdict inconsistent with hits")
    }
    // The probe must agree with the engine's own cross-batch rule: a
    // probe doc fed as a SINGLETON second batch after ingesting the
    // state slice is admitted iff the read-only probe said so (a lone
    // doc has no intra-batch cluster step — the two paths coincide).
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val m = operators.Dedup.PROBE_MOD
    val (_, stateKeys) = streaming.StreamNearDedup.admitBatch(spark,
      docs.filter(col("doc_id") % m === 0),
      streaming.StreamNearDedup.emptyState(spark))
    val state = stateKeys.localCheckpoint()
    val sample = (out.filter(_._3).take(2) ++ out.filterNot(_._3).take(2)).toSeq
    assert(sample.size >= 3, "fixture should yield both verdicts")
    sample.foreach { case (id, _, adm) =>
      val live = streaming.StreamNearDedup.admitBatch(spark,
        docs.filter(col("doc_id") === id), state)._1.count() == 1
      assert(live == adm, s"doc $id: probe said $adm, live admission $live")
    }
  }

  test("bigram_relfreq: relfreq sums to ~1 per left word") {
    val sums = operators.TextCore.bigramRelfreq(spark, sfDir)
      .groupBy("w1").agg(sum("relfreq").as("s"))
      .select("s").as[Double].collect()
    assert(sums.nonEmpty)
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-4, s"group sum $s"))
  }

  test("bigram relfreq pairs and stripes forms agree") {
    val pairs = operators.TextCore.bigramRelfreq(spark, sfDir)
      .select("w1", "w2", "relfreq")
    val stripes = operators.TextCore.bigramRelfreqStripes(spark, sfDir)
      .select("w1", "w2", "relfreq")
    assert(pairs.exceptAll(stripes).isEmpty && stripes.exceptAll(pairs).isEmpty)
  }

  test("pairs_pmi: symmetric in count, and equals stripes_pmi") {
    val pmi = operators.TextCore.pairsPmi(spark, sfDir).cache()
    val flipped = pmi.select(col("w2").as("w1"), col("w1").as("w2"),
      col("pmi"), col("cnt"))
    assert(pmi.exceptAll(flipped).isEmpty, "PMI must be symmetric")
    val stripes = operators.TextCore.stripesPmi(spark, sfDir)
    assert(pmi.exceptAll(stripes).isEmpty && stripes.exceptAll(pmi).isEmpty)
    pmi.unpersist()
  }

  test("near_dedup: pairs ordered, jaccard within [threshold, 1]") {
    val rows = operators.Dedup.nearDedup(spark, sfDir)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    rows.foreach { case (a, b, j) =>
      assert(a < b)
      assert(j >= operators.Dedup.JACCARD_THRESHOLD && j <= 1.0)
    }
  }

  test("dedup_keep_best: one winner per cluster, and it has max quality") {
    val rows = SparkEntry.queries("dedup_keep_best")(spark, sfDir)
      .select(col("comp"), col("quality"), col("kept"))
      .as[(Long, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (comp, members) =>
      val winners = members.filter(_._3)
      assert(winners.length == 1, s"cluster $comp winners=${winners.length}")
      assert(winners.head._2 >= members.map(_._2).max,
        s"cluster $comp kept a non-best member")
      assert(members.length >= 2,
        s"cluster $comp has a single member — not a duplicate cluster")
    }
    // Verdict sets must agree with the min-id clustering's membership.
    val comps = SparkEntry.queries("dedup_components")(spark, sfDir).count()
    assert(rows.length.toLong == comps)
  }

  test("exact_dedup: every group has exactly one canonical doc") {
    val bad = operators.Pipeline.exactDedup(spark, sfDir)
      .groupBy("text_hash")
      .agg(sum(when(col("is_canonical"), 1).otherwise(0)).as("n"))
      .filter(col("n") =!= 1)
    assert(bad.isEmpty)
  }

  test("inverted_index: postings sorted by doc_id, df = postings length") {
    val rows = operators.InvertedIndex.invertedIndex(spark, sfDir)
      .select(col("df"),
        transform(col("postings"), p => p.getField("doc_id")).as("ids"))
      .as[(Long, Seq[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (df, ids) =>
      assert(df == ids.length)
      assert(ids == ids.sorted)
    }
  }

  test("decontaminate: eval slice absent, flag consistent, hits exist") {
    val rows = SparkEntry.queries("decontaminate")(spark, sfDir)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, ng, ns, flag) =>
      assert(id % operators.Pipeline.EVAL_MOD != operators.Pipeline.EVAL_RES,
        s"eval doc $id leaked into the output")
      assert(ns >= 0 && ns <= ng, s"doc $id shares more grams than it has")
      assert(flag == (ns > 0), s"doc $id flag")
    }
    // The planted near-duplicates of eval-slice docs must register.
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("decontaminate_fuzzy: eval slice absent, evidence consistent, hits exist") {
    val rows = SparkEntry.queries("decontaminate_fuzzy")(spark, sfDir)
      .as[(Long, Double, Long, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, maxJ, nm, flag) =>
      assert(id % operators.Pipeline.EVAL_MOD != operators.Pipeline.EVAL_RES,
        s"eval doc $id leaked into the output")
      assert(maxJ >= 0.0 && maxJ <= 1.0, s"doc $id jaccard $maxJ out of range")
      assert(flag == (maxJ >= operators.Dedup.JACCARD_THRESHOLD), s"doc $id flag")
      assert((nm > 0) == flag, s"doc $id match count inconsistent with flag")
    }
    // The fixture plants near-duplicates across the eval boundary.
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("decontaminate_fuzzy: LSH banding finds every at-threshold pair (fixture)") {
    // The gate's n_matches/max_jaccard are computed over LSH band
    // candidates while the oracle is brute-force over all train×eval
    // pairs — the contract holds only while banding recall is COMPLETE
    // at the fixture's geometry (the documented near_dedup argument).
    // This pins that premise directly: the brute-force at-threshold
    // pair set and the band-candidate verified pair set must coincide,
    // so a fixture or geometry change that opens a recall gap fails
    // here with a named cause instead of as an opaque hash mismatch.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val isEval = col("doc_id") % operators.Pipeline.EVAL_MOD ===
      operators.Pipeline.EVAL_RES
    val sh = operators.Dedup.shinglesOf(docs).localCheckpoint()
    def jaccardPairs(cand: org.apache.spark.sql.DataFrame) = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (size(col("hs_a")) + size(col("hs_b"))
          - col("inter")), 6).as("j"))
      .filter(col("j") >= operators.Dedup.JACCARD_THRESHOLD)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect().toSet
    val brute = jaccardPairs(
      sh.filter(!isEval).select(col("doc_id").as("doc_a"))
        .crossJoin(sh.filter(isEval).select(col("doc_id").as("doc_b"))))
    val bands = operators.Dedup.bandKeys(docs).localCheckpoint()
    val lsh = jaccardPairs(
      bands.filter(!isEval)
        .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
        .join(bands.filter(isEval)
          .select(col("doc_id").as("doc_b"), col("band_idx"), col("band_key")),
          Seq("band_idx", "band_key"))
        .select(col("doc_a"), col("doc_b")).distinct())
    assert(brute.nonEmpty, "fixture must plant cross-slice near-dups")
    assert(lsh == brute,
      s"banding recall gap: missed=${(brute -- lsh).take(5)} " +
        s"extra=${(lsh -- brute).take(5)}")
  }

  test("decontaminate shuffled hash56 path: no broadcast, equals the broadcast form") {
    // The at-scale variant proven, not just described: with the
    // broadcast planner disabled outright, the fingerprint join must
    // degrade to a shuffle join (no BroadcastExchange anywhere in the
    // plan) and still produce the broadcast form's exact answer.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val rows =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        val df = operators.Pipeline.decontaminateShuffled(spark, sfDir)
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        assert(!p.contains("BroadcastExchange"),
          s"shuffled variant still broadcasts:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"no shuffle join in the no-broadcast plan:\n$p")
        df.as[(Long, Long, Long, Boolean)].collect().toSeq
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val broadcastForm = SparkEntry.queries("decontaminate")(spark, sfDir)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(rows == broadcastForm)
  }

  test("span_dedup: one keeper per distinct span, drop path exercised") {
    val rows = operators.Dedup.spanDedup(spark, sfDir)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (_, nSpans, nKept, text) =>
      assert(nKept <= nSpans)
      // Reassembled text token count: full spans of SPAN_TOKENS plus at
      // most one shorter tail per doc — bounded by kept-span capacity.
      val nTok = if (text.isEmpty) 0 else text.split(" ").length
      assert(nTok <= nKept * operators.Dedup.SPAN_TOKENS)
      assert(nTok > (nKept - 1) * operators.Dedup.SPAN_TOKENS || nKept == 0)
    }
    assert(rows.exists(r => r._3 < r._2), "no span was ever dropped")
    // The gate projection is the same result with the text fingerprinted:
    // every (doc, counts) row must reappear with hash56Local(text) + length.
    val gate = SparkEntry.queries("span_dedup")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(gate == rows.map { case (id, nS, nK, text) =>
      (id, nS, nK, graft.functions.TextFns.hash56Local(text), text.length.toLong)
    })
    // Global accounting: total kept spans == distinct span count — the
    // first-occurrence rule keeps EXACTLY one copy of each.
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFns.tokenize(col("text")).as("ts"))
    val distinctSpans = docs.filter(size(col("ts")) > 0)
      .select(explode(transform(
        sequence(lit(0),
          ceil(size(col("ts")) / lit(operators.Dedup.SPAN_TOKENS.toDouble))
            .cast("int") - 1),
        i => concat_ws(" ", slice(col("ts"),
          i * operators.Dedup.SPAN_TOKENS + 1,
          lit(operators.Dedup.SPAN_TOKENS))))).as("span"))
      .distinct().count()
    assert(rows.map(_._3).sum == distinctSpans)
  }

  test("shuffle_shard: balanced shards, contiguous positions, full bijection") {
    val rows = SparkEntry.queries("shuffle_shard")(spark, sfDir)
      .as[(Long, Int, Long)].collect().toSeq
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.size == n && rows.map(_._1).distinct.size == n)
    val byShard = rows.groupBy(_._2)
    assert(byShard.keySet == (0 until operators.Pipeline.N_SHARDS).toSet)
    val sizes = byShard.values.map(_.size)
    assert(sizes.max - sizes.min <= 1, s"unbalanced shards: $sizes")
    byShard.values.foreach { s =>
      assert(s.map(_._3).sorted == (0L until s.size.toLong))
    }
  }

  test("span_dedup: distributed equals a sequential replay on fuzzed corpora") {
    // Seeded generator with the edge shapes the fixture can't plant:
    // empty docs, sub-span docs, exact-copy docs, partial-tail spans,
    // WITHIN-doc repeated spans.
    val k = operators.Dedup.SPAN_TOKENS
    val vocab = Vector("a", "b", "c", "d", "e")
    for (seed <- 0 until 5) {
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 40L).map { id =>
        val text = rnd.nextInt(5) match {
          case 0 => "" // empty
          case 1 => Seq.fill(rnd.nextInt(k))(vocab(rnd.nextInt(5))).mkString(" ")
          case 2 if id > 0 => // exact copy of an earlier doc's prefix
            val base = Seq.fill(3 * k)(vocab(((id * 7 + 3) % 5).toInt))
            base.mkString(" ")
          case 3 => // within-doc repetition: same span three times
            val span = Seq.fill(k)(vocab(rnd.nextInt(5)))
            (span ++ span ++ span).mkString(" ")
          case _ => Seq.fill(1 + rnd.nextInt(4 * k))(vocab(rnd.nextInt(5)))
            .mkString(" ")
        }
        (id, text)
      }
      val got = operators.Dedup.spanDedupOf(
          docs.toDF("doc_id", "text"))
        .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
      // Sequential replay: ascending (doc_id, span_idx) keeps the first
      // occurrence of every span string.
      val seen = scala.collection.mutable.Set.empty[String]
      val expect = docs.sortBy(_._1).map { case (id, text) =>
        val ts = graft.functions.TextFns.tokenizeLocal(text)
        val spans = ts.grouped(k).map(_.mkString(" ")).toSeq
        val kept = spans.filter(sp => seen.add(sp))
        (id, spans.size.toLong, kept.size.toLong, kept.mkString(" "))
      }
      assert(got == expect, s"seed $seed diverged")
    }
  }

  test("decontaminate bloom path: might_contain prefilter in plan, equals exact form") {
    // The prefilter must actually BE in the plan (otherwise the query
    // is just the shuffled variant) and, being a superset filter above
    // an exact verify join, must not change a single row.
    val df = operators.Pipeline.decontaminateBloom(spark, sfDir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain"),
      s"bloom prefilter missing from plan:\n$p")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"bloom filter should arrive via a scalar subquery:\n$p")
    val rows = df.as[(Long, Long, Long, Boolean)].collect().toSeq
    val exact = SparkEntry.queries("decontaminate")(spark, sfDir)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(rows == exact)
    assert(rows.exists(_._4), "fixture must exercise the contamination path")
  }

  test("doc_repetition: fractions in range, flag consistent, corpus splits") {
    val rows = SparkEntry.queries("doc_repetition")(spark, sfDir)
      .as[(Long, Long, Double, Double, Double, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, dr, tt, tb, flag) =>
      assert(n > 0 && dr > 0 && dr <= 1 && tt > 0 && tt <= 1 && tb >= 0 && tb <= 1,
        s"doc $id fractions out of range")
      assert(flag == (tt > operators.Pipeline.REP_TOP_TOKEN_FRAC ||
        tb > operators.Pipeline.REP_TOP_BIGRAM_FRAC ||
        dr < operators.Pipeline.REP_MIN_DISTINCT_RATIO), s"doc $id flag")
    }
    // Thresholds sit at the distribution tails, not outside them.
    assert(rows.exists(_._6) && rows.exists(!_._6))
  }

  test("percentile_approx exact regime: value at rank ceil(p*n), both probe points") {
    // The Spark half of the value_quantiles_approx oracle equivalence
    // (scripts/check.py pins the DuckDB quantile_disc half): with
    // accuracy >= n the sketch is exact and must return the value at
    // rank ceil(p*n) — 1..10 at p (0.95, 0.5, 0.05) -> (10, 5, 1). A
    // convention drift in either engine now fails with a named cause
    // instead of an opaque gate hash mismatch.
    val got = (1 to 10).map(_.toDouble).toDF("x")
      .agg(
        expr("percentile_approx(x, 0.95, 100)").as("p95"),
        expr("percentile_approx(x, 0.5, 100)").as("p50"),
        expr("percentile_approx(x, 0.05, 100)").as("p05"))
      .as[(Double, Double, Double)].head()
    assert(got == ((10.0, 5.0, 1.0)), s"rank convention drifted: $got")
  }

  test("value_quantiles_approx: rank error within n/accuracy when the sketch compresses") {
    // The gate runs the sketch in its exact regime (accuracy >> n); this
    // drives the 100 TB regime instead — accuracy far below the group
    // size, forcing real GK compression — and asserts the sketch's
    // contract: the returned value's rank interval lies within
    // n/accuracy of the target rank ceil(p*n).
    val acc = 100
    val events = Tables.events(spark, sfDir)
    val rows = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr(s"percentile_approx(value, 0.5, $acc)").as("v50"),
        expr(s"percentile_approx(value, 0.95, $acc)").as("v95"))
      .as[(String, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (et, n, v50, v95) =>
      assert(n > acc, s"group $et too small ($n) to exercise compression")
      for ((v, p) <- Seq((v50, 0.5), (v95, 0.95))) {
        val below = events
          .filter(col("event_type") === et && col("value") < v).count()
        val atOrBelow = events
          .filter(col("event_type") === et && col("value") <= v).count()
        val target = math.ceil(p * n)
        // Distance from the target rank to the value's [min, max] rank
        // interval (duplicates give a value a rank RANGE, not a point).
        val dist =
          if (target < below + 1) below + 1 - target
          else if (target > atOrBelow) target - atOrBelow
          else 0L
        assert(dist <= n.toDouble / acc + 1,
          s"$et p=$p: value $v rank interval [${below + 1}, $atOrBelow] " +
            s"is $dist ranks from target $target (bound ${n / acc})")
      }
    }
  }

  test("text input mode: every TPC-H table round-trips value-exact, queries compose") {
    // The --text loader property behind q1_text: the .tbl dump must be
    // value-exact for every scalar fixture table (timestamps at micro
    // precision, doubles shortest-repr), and a multi-table JOIN query
    // must produce identical rows over either input mode.
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      val pq = Tables.load(spark, sfDir, t)
      val tx = Tables.textTable(spark, sfDir, t)
      assert(tx.schema == pq.schema, s"$t: schema drift through text mode")
      assert(tx.exceptAll(pq).isEmpty && pq.exceptAll(tx).isEmpty,
        s"$t: text round-trip not value-exact")
    }
    assert(operators.Relational.q1Text(spark, sfDir).collect().toSeq ==
      operators.Relational.q1(spark, sfDir).collect().toSeq)
  }

  test("cosine_topk: ranks contiguous from 1, cosine non-increasing") {
    val byQuery = operators.Similarity.cosineTopk(spark, sfDir)
      .select("query_id", "rank", "cosine")
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      val cos = sorted.map(_._3)
      cos.sliding(2).foreach {
        case Array(x, y) => assert(x >= y)
        case _ =>
      }
    }
  }
}
