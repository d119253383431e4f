package graft

import graft.functions.{LogSumExp, TextFns}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties over the pure-function layer (SURVEY §5):
  * these run on generated inputs, not fixtures, and pin the algebraic
  * contracts the oracle-parity arguments rely on. Sampling is
  * seed-deterministic (no scalatest bridge in the offline deps — the
  * generators drive plain assertion loops). */
class PropertySpec extends SparkSpecBase {

  private def forAll[A](g: Gen[A], n: Int = 100)(check: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var produced = 0
    var seed = 0L
    while (produced < n && seed < n * 20L) {
      g.apply(params, Seed(seed)).foreach { a => check(a); produced += 1 }
      seed += 1
    }
    assert(produced >= n / 2, s"generator too sparse: $produced samples")
  }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 100)(
      check: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b), n)(t => check(t._1, t._2))

  private val text: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '.', ',', '!', 'é', '文')))
      .map(_.mkString)

  test("BoundedTopK equals global sort-take for arbitrary inputs and splits") {
    import graft.functions.{BoundedTopK, TopKEntry}
    val entries = Gen.listOf(for {
      // full-range longs: Long.MinValue must sort LAST (a negate-based
      // comparator overflows on it)
      v <- Gen.frequency(8 -> Gen.chooseNum(-100L, 100L),
        1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))
      t <- Gen.chooseNum(0L, 50L)
    } yield TopKEntry(v, t))
    forAll2(entries, Gen.chooseNum(1, 7)) { (xs, k) =>
      val agg = new BoundedTopK(k)
      val expected = xs.sortWith((a, b) =>
        a.v > b.v || (a.v == b.v && a.tie < b.tie)).take(k)
      // sequential reduce
      assert(xs.foldLeft(agg.zero)(agg.reduce).entries == expected)
      // arbitrary split + merge (partial aggregation path)
      val cut = xs.length / 3
      val (l, r) = xs.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged.entries == expected)
      assert(merged.entries.size <= k)
    }
  }

  test("tokenizeLocal: tokens are non-empty, lowercase alnum only") {
    forAll(text) { s =>
      val toks = TextFns.tokenizeLocal(s)
      assert(toks.forall(t => t.nonEmpty && t.forall(c => c.isDigit || ('a' <= c && c <= 'z'))))
    }
  }

  test("tokenizeLocal: idempotent over its own output") {
    forAll(text) { s =>
      val once = TextFns.tokenizeLocal(s)
      assert(TextFns.tokenizeLocal(once.mkString(" ")) == once)
    }
  }

  test("hash56Local: stable, 56-bit, and order-distinguishing") {
    forAll2(Gen.alphaNumStr, Gen.alphaNumStr) { (a, b) =>
      val ha = TextFns.hash56Local(a)
      assert(ha == TextFns.hash56Local(a))
      assert(ha >= 0L && ha < (1L << 56))
      if (a != b) assert(ha != TextFns.hash56Local(b) || a == b)
    }
  }

  test("LogSumExp: matches naive log(sum(exp)) where the naive form is safe") {
    val xs = Gen.nonEmptyListOf(Gen.choose(-50.0, 50.0))
    forAll(xs) { v =>
      val stable = LogSumExp.finish(v.foldLeft(LogSumExp.zero)(LogSumExp.reduce))
      val naive = math.log(v.map(math.exp).sum)
      assert(math.abs(stable - naive) < 1e-9 * math.max(1.0, math.abs(naive)))
    }
  }

  test("LogSumExp: merge is associative and commutative (partial agg safe)") {
    val buf = Gen.listOfN(3, Gen.nonEmptyListOf(Gen.choose(-800.0, 800.0)))
    forAll(buf) { parts =>
      val bufs = parts.map(_.foldLeft(LogSumExp.zero)(LogSumExp.reduce))
      val Seq(a, b, c) = bufs
      val left = LogSumExp.finish(LogSumExp.merge(LogSumExp.merge(a, b), c))
      val right = LogSumExp.finish(LogSumExp.merge(a, LogSumExp.merge(b, c)))
      val swapped = LogSumExp.finish(LogSumExp.merge(LogSumExp.merge(b, a), c))
      assert(math.abs(left - right) < 1e-9 * math.max(1.0, math.abs(left)))
      assert(math.abs(left - swapped) < 1e-9 * math.max(1.0, math.abs(left)))
    }
  }

  test("LogSumExp: stable far outside naive range (no overflow/underflow)") {
    val big = Gen.nonEmptyListOf(Gen.choose(700.0, 900.0))
    forAll(big) { v =>
      val stable = LogSumExp.finish(v.foldLeft(LogSumExp.zero)(LogSumExp.reduce))
      assert(!stable.isInfinite && stable >= v.max)
      assert(stable <= v.max + math.log(v.length) + 1e-9)
    }
  }

  test("MisraGries: candidates cover every above-bound item, any split") {
    import graft.functions.{MisraGries, MGBuffer}
    val k = 5
    val agg = new MisraGries(k)
    val stream = Gen.listOfN(60,
      Gen.frequency(6 -> Gen.const("hot"), 3 -> Gen.const("warm"),
        4 -> Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")))
    val cut = Gen.listOfN(3, Gen.chooseNum(0, 60))
    forAll2(stream, cut, 60) { (xs, cuts) =>
      // arbitrary 4-way split, sequential reduce per part, tree merge
      val bounds = (0 +: cuts.sorted :+ xs.length).distinct.sorted
      val parts = bounds.zip(bounds.tail).map { case (a, b) =>
        xs.slice(a, b).foldLeft(agg.zero)(agg.reduce)
      }
      val merged = parts.foldLeft(agg.zero)(agg.merge)
      val exact = xs.groupBy(identity).view.mapValues(_.size.toLong)
      // Mergeable-summary guarantee: true count > n/(k+1) => surfaced,
      // and no counter ever exceeds its true count.
      exact.foreach { case (item, cnt) =>
        if (cnt * (k + 1) > xs.length)
          assert(merged.m.contains(item), s"missed $item ($cnt/${xs.length})")
      }
      merged.m.foreach { case (item, c) =>
        assert(c <= exact.getOrElse(item, 0L), s"overcount $item")
      }
    }
  }

  test("star components equal union-find on generated graphs") {
    // Generated multigraphs past CurationSpec's hand-built shapes:
    // denser, larger id space, duplicate/reversed edges. Few samples —
    // each drives the full distributed alternation loop.
    val graph: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(3, 18)
      m <- Gen.chooseNum(2, 30)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1)
        b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield es.filter { case (a, b) => a != b }
    import spark.implicits._
    forAll(graph, 6) { es =>
      if (es.nonEmpty) {
        val got = operators.Dedup.components(es.toDF("a", "b"))
          .as[(Long, Long)].collect().toMap
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        assert(got == parent.keys.map(k => k -> find(k)).toMap,
          s"mismatch on $es")
      }
    }
  }

  test("pagerank: driver ranks equal the distributed loop on generated edge lists") {
    // Every personalized source plus the uniform prior in one call, so
    // both teleport forms run through both paths. Ids stay below 21 of
    // V = 100 (one in four edges points at V - 1), so most nodes are
    // dangling and have no in-edges; the generator also makes
    // self-loops, duplicate edges, sources with no out-edges and empty
    // graphs, and the spec checks it made each. Few samples — each
    // drives the full distributed loop.
    import graft.operators.PageRank
    import spark.implicits._
    val priors = PageRank.SOURCES.map(Some(_)) :+ None
    val edge = for {
      a <- Gen.chooseNum(0L, 20L)
      b <- Gen.frequency(4 -> Gen.chooseNum(0L, 20L), 1 -> Gen.const(a),
        1 -> Gen.const(PageRank.V - 1))
    } yield (a, b)
    val graph = Gen.frequency(
      1 -> Gen.const(List.empty[(Long, Long)]),
      4 -> (for {
        es <- Gen.listOf(edge)
        dups <- Gen.chooseNum(0, es.size)
        silent <- Gen.option(Gen.oneOf(PageRank.SOURCES))
      } yield (es ++ es.take(dups)).filterNot(e => silent.contains(e._1))))
    val seen = scala.collection.mutable.Set.empty[String]
    forAll(graph, 8) { es =>
      if (es.isEmpty) seen += "empty"
      if (es.exists(e => e._1 == e._2)) seen += "self-loop"
      if (es.distinct.size < es.size) seen += "duplicate"
      if (es.nonEmpty && PageRank.SOURCES.exists(s => !es.exists(_._1 == s)))
        seen += "source without out-edges"
      val edges = es.toDF("src", "dst")
      val driver = PageRank.driverRanks(edges, priors)
      val distributed = PageRankReference.distributedRanks(edges, priors)
      assert(driver.schema == distributed.schema)
      val Seq(d, r) = Seq(driver, distributed).map(df =>
        df.collect().map(row => row.getLong(0) -> priors.indices.map(i => row.getDouble(i + 1))).toMap)
      assert(d.keySet == (0L until PageRank.V).toSet && r.keySet == d.keySet)
      for (v <- d.keys; i <- priors.indices)
        assert(math.abs(d(v)(i) - r(v)(i)) <= 1e-12,
          s"node $v prior ${priors(i)}: driver ${d(v)(i)} distributed ${r(v)(i)} on $es")
      for (ranks <- Seq(d, r); i <- priors.indices) {
        val mass = ranks.values.map(_(i)).sum
        assert(math.abs(mass - 1.0) < 1e-9, s"prior ${priors(i)} mass $mass on $es")
      }
    }
    assert(seen == Set("empty", "self-loop", "duplicate", "source without out-edges"),
      s"the generator made only: $seen")
  }

  test("bpe: driver training equals the distributed loop on generated corpora") {
    // 20 small corpora over a three-symbol vocabulary, so pair counts
    // tie often; the spec checks it made each case it names. Both
    // bodies are called directly. A null token vector is an empty
    // document: the distributed state keeps it null until its first
    // rewrite, the driver's is empty from the start.
    import graft.operators.Tokenizer
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val abc = Seq("a", "b", "c")
    val doc = Gen.frequency(
      1 -> Gen.const(null: String), 1 -> Gen.const(""),
      1 -> Gen.oneOf(abc),
      1 -> Gen.chooseNum(3, 6).map(Seq.fill(_)("b").mkString(" ")),
      2 -> Gen.pick(2, abc).map(_.mkString(" ")),
      3 -> Gen.listOf(Gen.oneOf(abc)).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(1, 8).flatMap(Gen.listOfN(_, doc))
    val rounds = Tokenizer.BPE_MERGES
    def state(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> Option(r.getSeq[String](1)).getOrElse(Seq.empty)).toMap
    val seen = scala.collection.mutable.Set.empty[String]
    forAll(corpus, 20) { texts =>
      val toks = texts.map(t => Option(t).fold(Seq.empty[String])(TextFns.tokenizeLocal))
      if (texts.contains(null)) seen += "null text"
      if (texts.contains("")) seen += "empty text"
      if (toks.exists(_.size == 1)) seen += "single token"
      if (toks.exists(_.sliding(3).exists(w => w.size == 3 && w.distinct.size == 1)))
        seen += "a==b run"
      val firstRound = toks.flatMap(_.sliding(2).filter(_.size == 2).map(w => (w(0), w(1))))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      if (firstRound.nonEmpty) {
        val top = firstRound.filter(_._2 == firstRound.values.max).keys.toSeq
        if (top.size > 1) seen += "count tie"
        if (top.groupBy(_._1).exists(_._2.size > 1)) seen += "count tie on lhs"
      }
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val rows = df.select(col("doc_id"), TextFns.tokenize(col("text")).as("ts")).collect()
      val (dm, ds) = Tokenizer.driverTrain(spark, rows, rounds)
      val (rm, rs) = Tokenizer.distributedTrain(df, rounds, needState = true)
      if (dm.size < rounds) seen += "out of pairs"
      assert(dm == rm, s"merge tables differ on $texts")
      assert(state(ds) == state(rs), s"final states differ on $texts")
    }
    assert(seen == Set("null text", "empty text", "single token", "a==b run",
      "count tie", "count tie on lhs", "out of pairs"), s"the generator made only: $seen")
  }

  test("SGD fold: permutation changes weights but not the feature set") {
    val inst = Gen.listOfN(20, for {
      id <- Gen.choose(0L, 1000L)
      label <- Gen.oneOf(0, 1)
      fs <- Gen.nonEmptyListOf(Gen.choose(0, 63))
    } yield operators.SpamInstance(id, label, fs))
    forAll(inst) { is =>
      val w1 = operators.SpamClassifier.sgdFold(is.iterator)
      val w2 = operators.SpamClassifier.sgdFold(is.reverse.iterator)
      assert(w1.map(_._1) == w2.map(_._1).sorted.distinct.sorted
        || w1.map(_._1).toSet == w2.map(_._1).toSet)
    }
  }

  // --- streaming admission ≡ batch-mode admission -------------------------

  private val vocab = Vector("spark", "shuffle", "parquet", "stream", "batch",
    "minhash", "band", "key", "join", "broadcast", "driver", "executor",
    "task", "stage", "state", "mirror", "fold", "delta", "commit", "marker",
    "quality", "cluster", "replace", "probe", "union", "merge", "scan", "row")

  /** A seeded corpus cut into micro-batches: random sentences plus
    * planted near-duplicates (one token replaced, one appended), exact
    * duplicates (quality ties), punctuation variants (equal shingles,
    * different quality), empty, punctuation-only and null texts; ids
    * unique and shuffled, batch cuts random (one to three batches).
    * With `big` > 0 the corpus is cut in two and a batch of `big` docs
    * — random sentences and re-captures of the corpus texts — is
    * inserted at index `bigAt`. */
  private def admissionCorpus(seed: Long, big: Int = 0,
      bigAt: Int = 0): Seq[Seq[(Long, String)]] = {
    val rng = new scala.util.Random(seed)
    def sentence() =
      Seq.fill(6 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val real = scala.collection.mutable.ArrayBuffer.fill(3 + rng.nextInt(8))(sentence())
    val texts = scala.collection.mutable.ArrayBuffer.from[String](real)
    (0 until 2 + rng.nextInt(8)).foreach { _ =>
      val src = real(rng.nextInt(real.size))
      texts += (rng.nextInt(7) match {
        case 0 | 1 =>
          val toks = src.split(" ")
          toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.size))
          val dup = (toks :+ vocab(rng.nextInt(vocab.size))).mkString(" ")
          real += dup
          dup
        case 2 => src
        case 3 => if (rng.nextBoolean()) src + " !!!" else "?? " + src
        case 4 => ""
        case 5 => "?! ... ,"
        case _ => null
      })
    }
    val ids = rng.shuffle((1L to 100000L).toVector).take(texts.size + big)
    val docs = rng.shuffle(ids.take(texts.size).zip(texts))
    val cuts = (0 +: rng.shuffle((1 until docs.size).toVector)
      .take(if (big > 0) 1 else rng.nextInt(3)).sorted :+ docs.size).distinct
    val bs = cuts.zip(cuts.tail).map { case (a, b) => docs.slice(a, b) }
    if (big == 0) bs
    else bs.patch(bigAt, Seq(ids.drop(texts.size).map(id => (id,
      if (rng.nextInt(8) == 0) real(rng.nextInt(real.size)) + " again" else sentence()))), 0)
  }

  /** Two batches of 2,100 fresh docs, whose admitted band rows cross
    * `SMALL_STATE_KEYS`, then a small batch decided against the state
    * past the bound: re-captures of both (appended token, or equal
    * shingles with other punctuation, so keep-best replaces or drops)
    * plus fresh docs. */
  private def crossingCorpus(seed: Long): Seq[Seq[(Long, String)]] = {
    val rng = new scala.util.Random(seed)
    def fresh() = Seq.fill(12)(s"w${rng.nextInt(100000)}").mkString(" ")
    val bigs = Seq.fill(2)(Vector.fill(2100)(fresh()))
    val recaptures = Seq.fill(20) {
      val t = bigs(rng.nextInt(2))(rng.nextInt(2100))
      rng.nextInt(3) match {
        case 0 => t + " again"
        case 1 => t + " !!!"
        case _ => t.replace(" ", ", ")
      }
    }
    val ids = rng.shuffle((1L to 100000L).toVector)
    val texts = bigs :+ rng.shuffle(recaptures ++ Seq.fill(10)(fresh()))
    texts.foldLeft((ids, Vector.empty[Seq[(Long, String)]])) { case ((free, out), ts) =>
      (free.drop(ts.size), out :+ free.take(ts.size).zip(ts))
    }._2
  }

  /** What a trigger that died between its delta writes and its marker
    * can leave in batch `id`'s payload directories of the store at
    * `dir`, per (table, schema, row): a stale file holding `row` and a
    * truncated copy of it, both named `*debris*`. */
  private def plantDebris(dir: String, id: Long,
      tables: Seq[(String, org.apache.spark.sql.types.StructType,
        org.apache.spark.sql.Row)]): Unit =
    tables.foreach { case (table, schema, row) =>
      val payload = storage.GenerationLog.stream(dir, Nil).payload(table, id)
      LocalParquet.write(spark, Seq(row), schema, payload)
      val file = LocalParquet.dataFiles(payload).head
      val bytes = java.nio.file.Files.readAllBytes(file)
      java.nio.file.Files.write(file.resolveSibling("part-00001-debris-truncated.parquet"),
        bytes.take(bytes.length / 2))
      java.nio.file.Files.move(file, file.resolveSibling("part-00000-debris-stale.parquet"))
    }

  /** [[storage.GenerationLog]]'s invariants on the stream store at `dir`
    * after a clean run of batches `ids`: a marker per batch and no
    * other, every table holding one payload directory per marker and
    * no other, no fold begun; and batch `replayed`'s payloads each
    * replaced by the one file its replay wrote. */
  private def assertStore(dir: String, tables: Seq[String], ids: Set[Long],
      replayed: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val log = storage.GenerationLog.stream(dir, Nil)
    assert(log.committed == ids, s"$dir: markers ${log.committed}, batches $ids")
    assert(log.pointer == (0L, -1L) &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "MANIFEST.tmp")))
    tables.foreach { t =>
      val parts = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(dir, t)))(
        _.iterator().asScala.map(_.getFileName.toString).toSet)
      assert(parts == ids.map(k => s"batch_id=$k"), s"$dir/$t: payloads $parts")
      val files = LocalParquet.dataFiles(log.payload(t, replayed))
      assert(files.size == 1 && !files.head.getFileName.toString.contains("debris"),
        s"$dir/$t: batch $replayed's payload holds $files")
    }
  }

  /** Drives `bs` through both persistent accumulators and compares
    * them with the batch-mode reference the benchmark checks against:
    * the in-memory [[graft.streaming.StreamNearDedup.Accumulator]] and
    * the [[graft.streaming.StreamKeepBest.keepBestBatch]] chain. With
    * `restartAt` ≥ 0, fresh accumulator instances over the same state
    * dirs take over from batch `restartAt` on — the resume path — and
    * the call sites of the jobs their constructors start are returned.
    * With `debris`, crash debris is planted in batch `restartAt`'s
    * payload directories before the restart ([[plantDebris]]), so the
    * batch replays over it, and both stores are checked by
    * [[assertStore]]. */
  private def admissionMatchesReference(bs: Seq[Seq[(Long, String)]],
      restartAt: Int = -1, debris: Boolean = false): Seq[String] = {
    import graft.streaming.{StreamKeepBest, StreamNearDedup}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val batches = bs.map(_.toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame, cs: String*) =
      df.select(cs.map(col): _*).collect().map(_.toSeq).toSet
    val nd = java.nio.file.Files.createTempDirectory("graft_prop_nd_")
    val kb = java.nio.file.Files.createTempDirectory("graft_prop_kb_")
    var restartSites = Seq.empty[String]
    def restarted[A](tag: String)(make: => A): A = {
      var made: Option[A] = None
      restartSites ++= callSitesPerCall(Seq(tag -> (() => made = Some(make))))(tag)
      made.get
    }
    try {
      var persistent = new StreamNearDedup.PersistentAccumulator(spark, nd.toString)
      val reference = new StreamNearDedup.Accumulator(spark)
      batches.zipWithIndex.foreach { case (b, k) =>
        if (k == restartAt) {
          if (debris) plantDebris(nd.toString, k, Seq(
            ("bands", StreamNearDedup.BandsDelta, Row(0, 0L)),
            ("admitted", StreamNearDedup.DocsSource, Row(999999L, "stale row"))))
          persistent = restarted("near-dedup restart")(
            new StreamNearDedup.PersistentAccumulator(spark, nd.toString))
        }
        persistent.onBatch(b, k.toLong)
        reference.onBatch(b, k.toLong)
      }
      val ndCols = Seq("doc_id", "text", "batch_id")
      assert(rows(StreamNearDedup.readAdmitted(spark, nd.toString), ndCols: _*) ==
        rows(reference.admitted, ndCols: _*), s"near-dedup differs on $bs")

      var keepBest = new StreamKeepBest.PersistentKeepBest(spark, kb.toString)
      batches.zipWithIndex.foreach { case (b, k) =>
        if (k == restartAt) {
          if (debris) plantDebris(kb.toString, k, Seq(
            ("events", StreamKeepBest.EventsDelta, Row(999999L, 999999L, 1.0, "new")),
            ("bands", StreamKeepBest.BandsDelta, Row(0, 0L, 999999L))))
          keepBest = restarted("keep-best restart")(
            new StreamKeepBest.PersistentKeepBest(spark, kb.toString))
        }
        keepBest.onBatch(b, k.toLong)
      }
      var bands = StreamKeepBest.emptyBands(spark)
      var canon = StreamKeepBest.emptyCanon(spark)
      val events = batches.zipWithIndex.map { case (b, k) =>
        val (ev0, keys) = StreamKeepBest.keepBestBatch(spark, b, bands, canon)
        val ev = ev0.localCheckpoint()
        val winners = ev.filter(col("action") =!= "drop")
          .select(col("comp"), col("doc_id"), col("quality"))
        bands = bands.unionByName(keys
          .join(winners.select(col("doc_id"), col("comp")), Seq("doc_id"))
          .select(col("band_idx"), col("band_key"), col("comp"))).localCheckpoint()
        canon = StreamKeepBest.resolveLatest(Seq(winners, canon)).localCheckpoint()
        ev.withColumn("batch_id", lit(k.toLong))
      }
      val kbCols = Seq("doc_id", "comp", "quality", "action", "batch_id")
      val got = rows(StreamKeepBest.readEvents(spark, kb.toString), kbCols: _*)
      assert(got == rows(events.reduce(_ unionByName _), kbCols: _*),
        s"keep-best differs on $bs")
      assert(got.size == bs.map(_.size).sum)
      if (debris) {
        assertStore(nd.toString, Seq("bands", "admitted"), bs.indices.map(_.toLong).toSet,
          restartAt.toLong)
        assertStore(kb.toString, Seq("events", "bands"), bs.indices.map(_.toLong).toSet,
          restartAt.toLong)
      }
      restartSites
    } finally {
      graft.streaming.StreamingOps.deleteRecursively(nd)
      graft.streaming.StreamingOps.deleteRecursively(kb)
    }
  }

  test("streaming admission: persistent accumulators equal the batch-mode reference") {
    forAll(Gen.choose(Long.MinValue, Long.MaxValue), n = 20) { seed =>
      admissionMatchesReference(admissionCorpus(seed))
    }
  }

  test("streaming admission: a batch past SMALL_BATCH_ROWS takes the distributed path, same answers") {
    // Batch 1 holds SMALL_BATCH_ROWS + 1 docs (some re-captures of the
    // first batch's texts), so it runs the distributed body between two
    // driver-decided batches: each path probes state the other wrote.
    val bs = admissionCorpus(7L, big = operators.Dedup.SMALL_BATCH_ROWS + 1, bigAt = 1)
    assert(bs.map(_.size > operators.Dedup.SMALL_BATCH_ROWS) == Seq(false, true, false))
    admissionMatchesReference(bs)
  }

  test("streaming admission: fresh accumulators over the same state dirs resume with the same answers") {
    // A restart within SMALL_STATE_KEYS resumes with the state held on
    // the driver, read back from committed storage at construction.
    val gen = Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(0, 1))
    forAll(gen, n = 10) { case (seed, pick) =>
      val bs = admissionCorpus(seed)
      admissionMatchesReference(bs, restartAt = 1 + pick % math.max(1, bs.size - 1))
    }
  }

  test("streaming admission: a batch replayed over crash debris in its payload directories replaces it, same answers") {
    // A small trigger writes its deltas on the driver, not as Spark
    // jobs, so no fail-the-Nth-job harness reaches the window between
    // those writes and the marker. Its debris is planted instead: a
    // truncated file (which fails any read that does not skip it) and a
    // stale file of other rows, in every payload directory of the
    // uncommitted batch. The restarted stores replay the batch and must
    // still equal the references, with the debris gone.
    val gen = Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(0, 2))
    forAll(gen, n = 4) { case (seed, pick) =>
      val bs = admissionCorpus(seed)
      admissionMatchesReference(bs, restartAt = pick % bs.size, debris = true)
    }
  }

  test("streaming admission: state past SMALL_STATE_KEYS hands off to the mirrors, same answers with and without a restart") {
    // The first two batches commit 2 × 2100 × LSH_BANDS band rows, past
    // the bound, so the third batch is decided against the mirrors:
    // rebuilt from storage by the running instances at the hand-off,
    // and by fresh instances' constructors on the restart run.
    val bs = crossingCorpus(11L)
    assert(bs.take(2).map(_.size).sum * operators.Dedup.LSH_BANDS >
      operators.Dedup.SMALL_STATE_KEYS)
    assert(bs.forall(_.size <= operators.Dedup.SMALL_BATCH_ROWS))
    admissionMatchesReference(bs)
    // The restart learns from the parquet footers that the state is
    // past the bound and builds the mirrors with no fetch of the state
    // to the driver.
    val sites = admissionMatchesReference(bs, restartAt = 2)
    assert(sites.nonEmpty && !sites.exists(_.startsWith("collect at")),
      s"restart constructors started: $sites")
  }
}
