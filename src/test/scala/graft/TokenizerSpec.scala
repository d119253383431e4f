package graft

import graft.functions.TextFns
import graft.operators.Tokenizer

/** Pins both of [[graft.operators.Tokenizer]]'s BPE training bodies —
  * the distributed loop and the driver body small corpora take — to a
  * plain sequential replay of Sennrich-style merge training: same
  * pair counts (overlapping occurrences included), same deterministic
  * argmax tie-break, same greedy left-to-right rewrite — including the
  * a==b run case the set-based rewrite handles via island alternation. */
class TokenizerSpec extends SparkSpecBase {
  import spark.implicits._

  // --- sequential reference implementation --------------------------------

  private def replayMerge(syms: Vector[String], a: String, b: String)
      : Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + Tokenizer.JOIN + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def replayTrain(docs: Seq[Vector[String]], rounds: Int)
      : (Seq[(Int, String, String, Long)], Seq[Vector[String]]) = {
    var st = docs
    val ms = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      st.foreach(d => d.indices.dropRight(1).foreach { i =>
        val k = (d(i), d(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + 1
      })
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        ms += ((r, a, b, c))
        st = st.map(replayMerge(_, a, b))
      }
      r += 1
    }
    (ms.result(), st)
  }

  /** Both training bodies over `texts`, each as (body, merges, final
    * state in doc_id order): [[Tokenizer.driverTrain]] on the fetched
    * rows and [[Tokenizer.distributedTrain]] on the frame, whatever
    * `trainOn` would pick for a corpus this size. Plus the sequential
    * replay's merges and state. */
  private def runBoth(texts: Seq[String], rounds: Int) = {
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = df.select($"doc_id", TextFns.tokenize($"text").as("ts")).collect()
    val bodies = Seq(
      "driver" -> Tokenizer.driverTrain(spark, rows, rounds),
      "distributed" -> Tokenizer.distributedTrain(df, rounds, needState = true))
      .map { case (body, (merges, state)) =>
        (body, merges, state.orderBy("doc_id")
          .collect().map(r => r.getSeq[String](1).toVector).toSeq)
      }
    val (expM, expSt) =
      replayTrain(texts.map(t => TextFns.tokenizeLocal(t).toVector), rounds)
    (bodies, expM, expSt)
  }

  test("distributed loop matches the sequential replay on a crafted corpus") {
    val texts = Seq(
      "the big cat sat on the big mat",
      "the big cat ate the big cat food",
      "big cat big cat big cat",
      "b b b b b",            // a==b run: greedy must take 1,3 not 1,2,3
      "solo",                 // single token: no pairs, must survive
      "",                     // empty doc: must survive as an empty state
      "the big the big the")
    val (bodies, expM, expSt) = runBoth(texts, 6)
    bodies.foreach { case (body, merges, got) =>
      assert(merges === expM, body)
      assert(got === expSt, body)
    }
  }

  test("a==b runs merge alternately (greedy left-to-right)") {
    val (bodies, _, _) = runBoth(Seq("b b b b b"), 1)
    bodies.foreach { case (body, merges, got) =>
      assert(merges.head._2 === "b" && merges.head._3 === "b", body)
      assert(got.head === Vector("b_b", "b_b", "b"), body)
    }
  }

  test("fuzz: random corpora agree with the replay round for round") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    (1 to 8).foreach { trial =>
      val texts = Seq.fill(12)(
        Seq.fill(1 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      val (bodies, expM, expSt) = runBoth(texts, 4)
      bodies.foreach { case (body, merges, got) =>
        assert(merges === expM, s"$body merge table diverged on trial $trial")
        assert(got === expSt, s"$body final state diverged on trial $trial")
      }
    }
  }

  test("round-trip: undoing the joins recovers the original token stream") {
    val texts = Seq(
      "the big cat sat on the big mat",
      "b b b b the the the",
      "one two one two one two")
    val (bodies, _, _) = runBoth(texts, 5)
    bodies.foreach { case (body, _, got) =>
      got.zip(texts).foreach { case (syms, t) =>
        assert(syms.mkString(" ").replace(Tokenizer.JOIN, " ").trim ===
          TextFns.tokenizeLocal(t).mkString(" "), body)
      }
    }
  }

  // --- the apply (serve) side ----------------------------------------------

  test("applyMerges: post-hoc apply of the learned table reproduces the " +
    "training loop's own interleaved state") {
    val texts = Seq(
      "the big cat sat on the big mat",
      "the big cat ate the big cat food",
      "b b b b b", "solo", "",
      "the big the big the")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (merges, trained) = Tokenizer.trainOn(df, 5)
    val applied = Tokenizer.applyMerges(
      df.select($"doc_id",
        graft.functions.TextFns.tokenize($"text").as("ts")), merges)
    val a = trained.orderBy("doc_id").collect()
      .map(r => r.getSeq[String](1).toVector).toSeq
    val b = applied.orderBy("doc_id").collect()
      .map(r => r.getSeq[String](1).toVector).toSeq
    assert(a === b)
  }

  test("applyMerges: fixpoint — no learned pair survives application") {
    // Rank-closure completeness: after the rank-ordered passes, no
    // adjacent symbol pair may equal any learned merge pair.
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c")
    val texts = Seq.fill(10)(
      Seq.fill(1 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (merges, _) = Tokenizer.trainOn(df, 4)
    val applied = Tokenizer.applyMerges(
      df.select($"doc_id",
        graft.functions.TextFns.tokenize($"text").as("ts")), merges)
    val pairs = merges.map(m => (m._2, m._3)).toSet
    applied.collect().map(_.getSeq[String](1)).foreach { syms =>
      syms.sliding(2).filter(_.size == 2).foreach { w =>
        assert(!pairs.contains((w(0), w(1))),
          s"learned pair ${w(0)},${w(1)} survived in $syms")
      }
    }
  }

  // --- the production (priority-loop) encoder ------------------------------

  private def collectStates(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame) = {
    def pull(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toVector)).toSeq
    (pull(a), pull(b))
  }

  test("production encoder equals the per-rank passes on the fixture corpus") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val (ms, _) =
      Tokenizer.trainOn(docs, Tokenizer.BPE_MERGES, needState = false)
    val st = docs.select($"doc_id", TextFns.tokenize($"text").as("ts"))
    val (slow, fast) = collectStates(
      Tokenizer.applyMerges(st, ms), Tokenizer.applyMergesFast(st, ms))
    assert(slow === fast)
  }

  test("production encoder fuzz: random corpora, deep merge tables, " +
    "held-out application") {
    val rnd = new scala.util.Random(29)
    val vocab = Vector("a", "b", "c", "d")
    (1 to 8).foreach { trial =>
      val texts = Seq.fill(14)(
        Seq.fill(1 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      val train = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // Apply to a DIFFERENT corpus than the trainer saw (the bpe_apply
      // shape) so the fuzz also covers pairs absent from the held-out
      // text and symbols the trainer never merged.
      val held = Seq.fill(10)(
        Seq.fill(1 + rnd.nextInt(18))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val (ms, _) = Tokenizer.trainOn(train, 8, needState = false)
      val st = held.select($"doc_id", TextFns.tokenize($"text").as("ts"))
      val (slow, fast) = collectStates(
        Tokenizer.applyMerges(st, ms), Tokenizer.applyMergesFast(st, ms))
      assert(slow === fast, s"encoders diverged on trial $trial")
    }
  }

  test("production encoder: a==b runs and empty/single-token rows survive") {
    val texts = Seq("b b b b b", "solo", "", "a b a b a b")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (ms, _) = Tokenizer.trainOn(df, 4, needState = false)
    val st = df.select($"doc_id", TextFns.tokenize($"text").as("ts"))
    val (slow, fast) = collectStates(
      Tokenizer.applyMerges(st, ms), Tokenizer.applyMergesFast(st, ms))
    assert(slow === fast)
  }

  test("encodeRow: priority order follows rank, not position") {
    // (b,c) has rank 1, (a,b) rank 2: on [a,b,c] the rank-1 merge at
    // position 2 must win over the earlier-position rank-2 pair, then
    // (a, b_c) has no rank — result [a, b_c], NOT [a_b, c].
    val rank = Map(("b", "c") -> (1, "b_c"), ("a", "b") -> (2, "a_b"))
    assert(Tokenizer.encodeRow(IndexedSeq("a", "b", "c"), rank) ===
      Seq("a", "b_c"))
    // Chained: after rank-1 makes b_c, rank-2 (a, b_c) fires.
    val rank2 = Map(("b", "c") -> (1, "b_c"), ("a", "b_c") -> (2, "a_b_c"))
    assert(Tokenizer.encodeRow(IndexedSeq("a", "b", "c"), rank2) ===
      Seq("a_b_c"))
  }

  // --- char-level (word-count-compressed) variant --------------------------

  private def replayMergeJ(syms: Vector[String], a: String, b: String,
      joiner: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + joiner + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def replayTrainChars(texts: Seq[String], rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] = texts
      .flatMap(TextFns.tokenizeLocal)
      .groupBy(identity).toSeq
      .map { case (w, ws) => (w.toVector.map(_.toString), ws.size.toLong) }
    val ms = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (d, w) =>
        d.indices.dropRight(1).foreach { i =>
          val k = (d(i), d(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + w
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        ms += ((r, a, b, c))
        vocab = vocab.map { case (d, w) => (replayMergeJ(d, a, b, ""), w) }
      }
      r += 1
    }
    ms.result()
  }

  test("char-level weighted loop matches its sequential replay") {
    val texts = Seq(
      "the cat the mat the hat",   // 'th' then 'the' should dominate
      "lllama llama lll",          // a==b char runs under weighting
      "a be see the three",
      "the the the")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assert(Tokenizer.trainCharsOn(df, 6) === replayTrainChars(texts, 6))
  }

  test("char-level fuzz: weighted counts agree with the replay") {
    val rnd = new scala.util.Random(11)
    (1 to 6).foreach { trial =>
      val words = Vector("aba", "bab", "abab", "bb", "a", "cab", "bac")
      val texts = Seq.fill(10)(
        Seq.fill(1 + rnd.nextInt(9))(words(rnd.nextInt(words.size)))
          .mkString(" "))
      assert(Tokenizer.trainCharsOn(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), 4) === replayTrainChars(texts, 4),
        s"char-level merge table diverged on trial $trial")
    }
  }

  test("fixture: full merge table, ranks dense, max pair count non-increasing") {
    val df = Tokenizer.bpeTrain(spark, sfDir)
    val rows = df.collect()
    assert(rows.length === Tokenizer.BPE_MERGES)
    assert(rows.map(_.getLong(0)).toSeq === (1L to Tokenizer.BPE_MERGES))
    val cnts = rows.map(_.getLong(4)).toSeq
    assert(cnts === cnts.sorted.reverse,
      "merging can only shrink or preserve the best pair count")
    rows.foreach(r => assert(r.getString(3) ===
      r.getString(1) + Tokenizer.JOIN + r.getString(2)))
  }

  test("fixture: encode keeps every document and shrinks symbol counts") {
    val enc = Tokenizer.bpeEncode(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).count()
    assert(enc.length.toLong === docs)
    val before = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.size(
        TextFns.tokenize(org.apache.spark.sql.functions.col("text"))))
      .as[Int].collect().map(_.toLong).sum
    val after = enc.map(_.getLong(1)).sum
    assert(after <= before)
    assert(after > 0)
  }

  // --- the driver body's bound ---------------------------------------------

  test("bpe_train runs at most 2 jobs cold") {
    // Cold, like every benchmark pass: the documents' schema inference
    // and the bounded corpus fetch. The distributed loop runs 3 jobs per
    // round, and a sort of the merge table 3 more.
    Caches.clearAll()
    val jobs = jobsPerCall(Seq("gate" -> (() => Tokenizer.bpeTrain(spark, sfDir).collect())))
    assert(jobs("gate").size <= 2, s"bpe_train ran ${jobs("gate").size} jobs")
  }

  test("a corpus past SMALL_BATCH_ROWS trains on the distributed loop, same merges") {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("a", "b", "c", "d")
    val texts = Seq.fill(operators.Dedup.SMALL_BATCH_ROWS + 1)(
      Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    var merges = Seq.empty[(Int, String, String, Long)]
    val jobs = jobsPerCall(Seq("train" -> (() =>
      merges = Tokenizer.trainOn(df, Tokenizer.BPE_MERGES, needState = false)._1)))
    // The driver body runs at most the fetch; the loop 3 jobs a round.
    assert(jobs("train").size > 2, s"trainOn ran ${jobs("train").size} jobs")
    assert(merges === replayTrain(
      texts.map(t => TextFns.tokenizeLocal(t).toVector), Tokenizer.BPE_MERGES)._1)
  }
}
