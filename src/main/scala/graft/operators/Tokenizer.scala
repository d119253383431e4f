package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Tokenizer training: byte-pair-encoding merge induction (Sennrich et
  * al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the canonical tokenizer-training job of a
  * training-data pipeline, and the natural iterative extension of the
  * reference's bigram-counting machinery
  * (`ComputeBigramRelativeFrequencyPairs.scala:52-87`): each round IS a
  * bigram count, followed by a greedy global argmax and a corpus
  * rewrite.
  *
  * The symbol alphabet here is the word alphabet (symbols start as
  * bespin tokens; a merge joins two adjacent symbols with `_`) — the
  * same greedy algorithm as char-level BPE on a different initial
  * alphabet, chosen because the fixture's oracle-shared tokenizer is
  * word-level. The char-level deployment runs the IDENTICAL loop over
  * the distinct-word+count table instead of the corpus (Sennrich's
  * word-count compression — vocab-sized state, corpus touched once):
  * [[trainCharsOn]], spec-pinned to its own weighted replay.
  *
  * Merge semantics (pinned by TokenizerSpec against a sequential
  * replay, and the two training bodies to each other by PropertySpec):
  * each round counts ALL adjacent symbol pairs (overlapping
  * occurrences included), picks the globally most frequent pair with a
  * deterministic `(cnt DESC, lhs, rhs)` tie-break, and rewrites every
  * document by merging matches greedily left-to-right (a match
  * immediately following a consumed match is skipped — the `aaa` →
  * `[aa, a]` rule).
  *
  * 100 TB posture: [[trainOn]] first fetches the tokenized corpus in
  * ONE bounded job ([[Dedup.collectBounded]] at
  * [[Dedup.SMALL_BATCH_ROWS]] documents). A corpus within the bound
  * trains on the driver ([[driverTrain]]): the rounds are a few ms of
  * counting over interned symbol ids, where the distributed loop pays
  * three scheduler-bound jobs per round. Past the bound
  * [[distributedTrain]] runs each round as one corpus pass — an
  * adjacent-pair explode into a map-side-combinable
  * `groupBy(a,b).count` (shuffle cardinality = pair vocabulary, not
  * corpus) plus a `LIMIT 1` argmax; the single winning pair is the
  * only thing the driver ever holds (the merge decision is inherently
  * global and sequential, that IS the BPE algorithm). The rewrite is a
  * pure per-row map; state stays `(doc_id, symbols)` with no growth,
  * and a `localCheckpoint` per round truncates lineage. Gates run on
  * both sides of the bound: the 500-document fixtures (Verify at
  * sf0.01, the perfbench tables) train on the driver, `graft.Bench`'s
  * sf0.1 corpus (5,000 documents) on the distributed loop.
  */
object Tokenizer extends QueryModule {

  /** Number of merge rounds the gate queries learn. */
  val BPE_MERGES = 6

  /** Joiner for merged symbols — bespin tokens are [a-z0-9]+ so `_`
    * can never occur in an unmerged symbol, which is what makes the
    * TokenizerSpec round-trip invariant (`replace('_',' ')` recovers
    * the original token stream) hold. */
  val JOIN = "_"

  /** Greedy left-to-right rewrite of one symbol sequence under merge
    * (a,b) → merged: one imperative O(len) scan per row — take a
    * match, consume both positions, resume AFTER the consumed tail
    * (which is what makes an a==b run merge alternately). This is the
    * deliberate per-row-imperative exception to the expressions-first
    * rule, and the measured one: the recurrence is inherently
    * sequential per row, Catalyst arrays cannot append in O(1) (an
    * `aggregate` fold pays an array COPY per position — O(len²), and
    * higher-order functions evaluate interpreted, not codegen'd,
    * anyway — benched 2× the whole bpe gate cost), and a position-set
    * formulation (match positions + `array_contains` per position) is
    * O(len·matches) — quadratic on a one-token-repeated pathological
    * doc, a skew hazard at corpus scale. The typed map is
    * embarrassingly parallel (no shuffle), and each round's state is
    * `localCheckpoint`-materialized regardless, so the encoder
    * boundary replaces interpreted expression eval, not codegen. */
  private def rewriteRow[T](ts: Seq[T], a: T, b: T, merged: T): Seq[T] = {
    // A null token vector (null text) is an empty document.
    val n = if (ts == null) 0 else ts.length
    // Vector, not ArrayBuffer.toSeq (a List): the driver body indexes
    // this output again next round.
    val out = Vector.newBuilder[T]
    var i = 0
    while (i < n) {
      if (i + 1 < n && ts(i) == a && ts(i + 1) == b) { out += merged; i += 2 }
      else { out += ts(i); i += 1 }
    }
    out.result()
  }

  /** The training loop: [[BPE_MERGES]] rounds of count → argmax →
    * rewrite. Returns the learned merge table and the final rewritten
    * corpus state. Stops early if the corpus runs out of adjacent
    * pairs (the oracle's empty-`LIMIT 1` leg contributes no row then,
    * so both sides shrink together). */
  private def train(spark: SparkSession, dir: String, needState: Boolean)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    trainOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      BPE_MERGES, needState)

  /** Trained merge tables per (session, dataset, corpus slice) —
    * MODEL STORAGE, not memoized compute, so deliberately NOT
    * registered with [[graft.Caches]] (the `Similarity.modelCache`
    * bench exemption): `bpe_train` records the honest full-training
    * cost every run, while the serve-side gates (`bpe_apply`,
    * `bpe_encode`) record what production pays per corpus pass —
    * applying an already-learned tokenizer, which is [[applyMergesFast]]'s
    * single shuffle-free map. Values are tiny driver-side Seqs
    * ([[BPE_MERGES]] tuples), so the memo is collectable when the
    * session dies (the [[graft.SessionMemo]] contract). Keyed by
    * dataset path and never invalidated — valid under the engine-wide
    * immutable-snapshot source contract (see `Dedup.occupancyMemo`);
    * a changed corpus must arrive under a new path. */
  private val mergesMemo =
    new graft.SessionMemo[(String, String), Seq[(Int, String, String, Long)]]

  /** [[train]] over an arbitrary `(doc_id, text)` frame — the fuzz
    * spec drives generated corpora through it against a sequential
    * replay (the spanDedupOf pattern). One job fetches the tokenized
    * corpus if it has at most [[Dedup.SMALL_BATCH_ROWS]] documents and
    * [[driverTrain]] learns the merges from it; a bigger corpus runs
    * [[distributedTrain]]. With `needState = false` the distributed
    * loop skips the LAST round's corpus rewrite (merge-table-only
    * callers never read it — one full pass saved); the driver body
    * always returns the final state, its rewrite costs no job. */
  private[graft] def trainOn(docs: DataFrame, rounds: Int,
      needState: Boolean = true)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    Dedup.collectBounded(
      docs.select(col("doc_id"), TextFns.tokenize(col("text")).as("ts")),
      Dedup.SMALL_BATCH_ROWS) match {
      case Some(rows) => driverTrain(docs.sparkSession, rows, rounds)
      case None => distributedTrain(docs, rounds, needState)
    }

  /** [[distributedTrain]]'s rounds on the driver, over fetched
    * `(doc_id, ts)` rows. Symbols are interned to Int ids by their
    * string, so two merges that spell the same symbol share one id, as
    * they share one string in the distributed state. Each round counts
    * the overlapping adjacent pairs in a long-keyed map, takes the
    * argmax by `(cnt DESC, lhs, rhs)` in Spark's string order (UTF-8
    * bytes, as `UTF8String` compares) and rewrites every document with
    * [[rewriteRow]]; it stops early when no pair is left. A null token
    * vector is an empty document. The final state returns as a local
    * relation, which needs no job. */
  private[graft] def driverTrain(spark: SparkSession, rows: Array[Row],
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val ids = mutable.HashMap.empty[String, Int]
    val syms = mutable.ArrayBuffer.empty[String]
    val utf8 = mutable.ArrayBuffer.empty[UTF8String]
    def intern(s: String): Int = ids.getOrElseUpdate(s, {
      syms += s; utf8 += UTF8String.fromString(s); syms.length - 1
    })
    // Pair keys pack (lhs id, rhs id) into one long; ids are >= 0.
    def before(k: Long, l: Long): Boolean = {
      val c = utf8((k >>> 32).toInt).compareTo(utf8((l >>> 32).toInt))
      c < 0 || c == 0 && utf8(k.toInt).compareTo(utf8(l.toInt)) < 0
    }
    var docs: Array[Seq[Int]] = rows.map(r =>
      if (r.isNullAt(1)) Seq.empty[Int] else r.getSeq[String](1).map(intern))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = mutable.LongMap.empty[Long]
      for (ts <- docs; i <- 0 until ts.length - 1) {
        val k = ts(i).toLong << 32 | ts(i + 1)
        counts(k) = counts.getOrElse(k, 0L) + 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best = 0L
        var bestCnt = 0L
        counts.foreachEntry { (k, c) =>
          if (c > bestCnt || c == bestCnt && before(k, best)) { best = k; bestCnt = c }
        }
        val (a, b) = ((best >>> 32).toInt, best.toInt)
        merges += ((r, syms(a), syms(b), bestCnt))
        val merged = intern(syms(a) + JOIN + syms(b))
        docs = docs.map(rewriteRow(_, a, b, merged))
      }
      r += 1
    }
    import spark.implicits._
    (merges.result(), rows.indices
      .map(d => (rows(d).getLong(0), docs(d).map(syms))).toDF("doc_id", "ts"))
  }

  /** The training loop as a Spark dataflow: [[BPE_MERGES]] rounds of
    * count → argmax → rewrite, three jobs per round. The reference
    * [[driverTrain]] is checked against (PropertySpec), and the path
    * for a corpus past [[Dedup.SMALL_BATCH_ROWS]]. */
  private[graft] def distributedTrain(docs: DataFrame, rounds: Int,
      needState: Boolean): (Seq[(Int, String, String, Long)], DataFrame) = {
    var state = docs
      .select(col("doc_id"), TextFns.tokenize(col("text")).as("ts"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = state
        .select(explode(TextFns.bigrams(col("ts"))).as("bg"))
        .select(col("bg.w1").as("a"), col("bg.w2").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, c))
        if (needState || r < rounds) {
          val spark = state.sparkSession
          import spark.implicits._
          val merged = a + JOIN + b
          state = state
            .select(col("doc_id"), col("ts")).as[(Long, Seq[String])]
            .map { case (id, ts) => (id, rewriteRow(ts, a, b, merged)) }
            .toDF("doc_id", "ts")
            .localCheckpoint(true)
        }
      }
      r += 1
    }
    (merges.result(), state)
  }

  /** Apply an already-learned merge table to a `(doc_id, ts)` state in
    * RANK ORDER, one greedy pass per merge — the serve side of the
    * tokenizer lifecycle (train once, encode any new text forever).
    * One pass per rank is COMPLETE, not an approximation: a rank-k
    * pair's symbols contain only merges < k, and a later merge m > k
    * only creates symbols containing merge m, so no new rank-k
    * adjacency can ever form after pass k (merges concatenate, never
    * delete, so nothing between two symbols can vanish either). The
    * same argument is why this equals the classic
    * lowest-rank-first encoder [[applyMergesFast]]/[[encodeRow]] —
    * the production form at real vocab scale (30k merges ≠ 30k corpus
    * passes), spec-pinned equal on fixture + seeded fuzz; this
    * pass-per-rank form stays as the REFERENCE implementation the
    * fast one is checked against. TokenizerSpec pins apply-after-
    * train ≡ the training loop's own interleaved state and the
    * fixpoint (no learned pair survives application). */
  private[graft] def applyMerges(state0: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    var state = state0.localCheckpoint(true)
    for ((_, a, b, _) <- merges) {
      val spark = state.sparkSession
      import spark.implicits._
      val merged = a + JOIN + b
      state = state
        .select(col("doc_id"), col("ts")).as[(Long, Seq[String])]
        .map { case (id, ts) => (id, rewriteRow(ts, a, b, merged)) }
        .toDF("doc_id", "ts")
        .localCheckpoint(true)
    }
    state
  }

  /** The PRODUCTION encoder: one typed map over the corpus, a
    * per-row lowest-rank-first priority loop against the broadcast
    * merge-rank table — the form a real 30k-merge vocabulary needs
    * (30k merges ≠ 30k corpus passes; cost per row scales with row
    * LENGTH, never with vocab size). Equal to [[applyMerges]] by rank
    * closure (a rank-k pair's symbols contain only merges < k, and a
    * merge at rank k only creates symbols whose pairs rank > k, so
    * processing PQ entries in (rank, position) order IS the per-rank
    * greedy left-to-right pass sequence) — and the equality is
    * spec-PINNED, not argued: TokenizerSpec compares both encoders on
    * the fixture corpus and on seeded fuzz with deep merge tables.
    *
    * Mechanics per row: symbols in a doubly-linked list over the
    * original positions; a lazy-deletion min-heap of `(rank, leftPos)`
    * candidates. Popped entries re-validate against the live list (the
    * pair may have been consumed or rewritten); a merge enqueues only
    * the two adjacencies it creates, and only at STRICTLY higher rank
    * — mirroring the per-rank pass, where a pair formed by the current
    * rank's own output is never re-examined within that pass.
    * O(len log len) per row, embarrassingly parallel, no shuffle. */
  private[graft] def encodeRow(ts: IndexedSeq[String],
      rank: scala.collection.Map[(String, String), (Int, String)])
      : Seq[String] = {
    val n = ts.length
    if (n < 2) return ts
    val sym = scala.collection.mutable.ArrayBuffer.from(ts)
    val next = Array.tabulate(n)(i => if (i + 1 < n) i + 1 else -1)
    val prev = Array.tabulate(n)(i => i - 1)
    val alive = Array.fill(n)(true)
    val pq = new java.util.PriorityQueue[Array[Int]](
      new java.util.Comparator[Array[Int]] {
        def compare(x: Array[Int], y: Array[Int]): Int = {
          val c = Integer.compare(x(0), y(0))
          if (c != 0) c else Integer.compare(x(1), y(1))
        }
      })
    def offer(p: Int, minRank: Int): Unit = {
      val q = next(p)
      if (q != -1) rank.get((sym(p), sym(q))) match {
        case Some((r, _)) if r >= minRank => pq.add(Array(r, p))
        case _ =>
      }
    }
    var i = 0
    while (i < n - 1) { offer(i, 1); i += 1 }
    while (!pq.isEmpty) {
      val e = pq.poll()
      val (r, p) = (e(0), e(1))
      if (alive(p)) {
        val q = next(p)
        if (q != -1) rank.get((sym(p), sym(q))) match {
          case Some((r2, m)) if r2 == r =>
            sym(p) = m
            alive(q) = false
            val nq = next(q)
            next(p) = nq
            if (nq != -1) prev(nq) = p
            val pp = prev(p)
            if (pp != -1) offer(pp, r + 1)
            offer(p, r + 1)
          case _ => // stale: pair consumed or rewritten since enqueue
        }
      }
    }
    val out = Seq.newBuilder[String]
    var c = 0 // position 0 never dies: only the RIGHT half of a pair does
    while (c != -1) { out += sym(c); c = next(c) }
    out.result()
  }

  /** [[applyMerges]] in production form: broadcast the rank table,
    * run [[encodeRow]]'s priority loop inside ONE typed map — one
    * corpus pass total instead of one per merge. Output pinned equal
    * to [[applyMerges]] by TokenizerSpec (fixture + seeded fuzz), so
    * the two are interchangeable under every oracle; [[bpeApply]]
    * serves through THIS one, which keeps the equivalence exercised
    * by the driver gate every round. */
  private[graft] def applyMergesFast(state0: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val spark = state0.sparkSession
    import spark.implicits._
    val rank: Map[(String, String), (Int, String)] =
      merges.map { case (r, a, b, _) => ((a, b), (r, a + JOIN + b)) }.toMap
    val bc = spark.sparkContext.broadcast(rank)
    state0.select(col("doc_id"), col("ts")).as[(Long, Seq[String])]
      // null token vector (null text doc) degrades to empty, matching
      // bpeApply's downstream coalesce(ts, array()) posture — the
      // alternative is an NPE that kills the whole job for one row.
      .map { case (id, ts) =>
        (id, encodeRow(Option(ts).getOrElse(Seq.empty).toIndexedSeq, bc.value))
      }
      .toDF("doc_id", "ts")
  }

  /** Char-level BPE via Sennrich's word-count compression — the
    * module scaladoc's scale claim made RUNNABLE rather than asserted:
    * the corpus collapses once to the distinct-word table with counts
    * (vocab-sized state from then on; the corpus is touched exactly
    * once), symbols start as single characters, each round's pair
    * count weights by word count, and merges concatenate directly
    * (classic BPE — subword symbols are strings over the alphabet, no
    * joiner needed; rows whose symbol vectors converge after a merge
    * stay separate rows, which leaves every weighted pair total
    * unchanged). Library form with a ScalaTest oracle — TokenizerSpec
    * pins it to a weighted sequential replay; the gate queries stay
    * word-level, where the fixture's oracle-shared tokenizer lives. */
  private[graft] def trainCharsOn(docs: DataFrame, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    var vocab = docs
      .select(explode(TextFns.tokenize(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(split(col("w"), "").as("ts"), col("wcnt"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = vocab
        .select(explode(TextFns.bigrams(col("ts"))).as("bg"), col("wcnt"))
        .groupBy(col("bg.w1").as("a"), col("bg.w2").as("b"))
        .agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, c))
        if (r < rounds) {
          val spark = vocab.sparkSession
          import spark.implicits._
          // Classic char-level BPE concatenates directly — no joiner.
          val merged = a + b
          vocab = vocab
            .select(col("ts"), col("wcnt")).as[(Seq[String], Long)]
            .map { case (ts, c) => (rewriteRow(ts, a, b, merged), c) }
            .toDF("ts", "wcnt")
            .localCheckpoint(true)
        }
      }
      r += 1
    }
    merges.result()
  }

  // --- bpe_train: the learned merge table ---------------------------------
  /** The merge table as a local relation, already in rank order: a sort
    * would plan a range-partition exchange (3 jobs) over its few rows. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val (ms, _) = train(spark, dir, needState = false)
    import spark.implicits._
    ms.toDF("merge_rank", "lhs", "rhs", "cnt")
      .select(col("merge_rank").cast("long").as("merge_rank"),
        col("lhs"), col("rhs"),
        concat_ws(JOIN, col("lhs"), col("rhs")).as("merged"),
        col("cnt"))
  }

  // --- bpe_encode: the corpus rewritten under the learned merges ----------
  /** Per-document encoded form after [[BPE_MERGES]] rounds, shipped
    * comparator-proof (symbol count + fingerprint + length of the
    * space-joined symbol string — the span_dedup gate-projection rule).
    * Serve-side: the merge table comes from [[mergesMemo]] (trained on
    * first demand, stored like any model) and the corpus is rewritten
    * by [[applyMergesFast]]'s one shuffle-free pass — TokenizerSpec
    * pins that pass equal to the training loop's round-by-round
    * rewrite, which is what lets the serving form share the unrolled
    * training-chain oracle. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val ms = mergesMemo.getOrElseUpdate(spark, (dir, "full")) {
      train(spark, dir, needState = false)._1
    }
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val st = applyMergesFast(
      docs.select(col("doc_id"), TextFns.tokenize(col("text")).as("ts")), ms)
    val txt = concat_ws(" ", coalesce(col("ts"), array()))
    docs.select(col("doc_id"))
      .join(st, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(coalesce(col("ts"), array())).cast("long").as("n_syms"),
        TextFns.hash56(txt).as("text_h56"),
        length(txt).cast("long").as("text_len"))
      .orderBy(col("doc_id"))
  }

  // --- DuckDB oracles: the loop unrolled, every CTE materialized ----------

  /** The rewrite half of one unrolled round: position index CTE +
    * winning-pair CTE `$b` (columns a, b, m) → match positions ($m) →
    * greedy selection as islands-of-consecutive-positions alternation
    * ($g/$x — equivalent to the left-to-right scan: within a run of
    * consecutive matches greedy keeps every other one) → rewrite
    * ($p/$rr) → next state `$out`. Shared verbatim by the training
    * chain (pair counted and argmaxed per round) and the apply chain
    * (pair comes from the TRAINING chain's b-CTEs — bpe_apply).
    * Constructs are all from the driver-proven family: correlated
    * `unnest(range(...))` + `ts[i]` (the bigram oracles), 1-row
    * comma/CROSS join (heavy_hitters' stride idiom),
    * `string_agg(... ORDER BY ...)` (inverted_index),
    * gaps-and-islands windows (user_sessions). */
  private def rewriteSqlPart(prev: String, idx: String, b: String,
      m: String, g: String, x: String, p: String, rr: String,
      out: String): String =
    s"""$m AS MATERIALIZED (SELECT doc_id, i FROM $idx, $b
       |  WHERE ts[i] = $b.a AND ts[i+1] = $b.b),
       |$g AS MATERIALIZED (SELECT doc_id, i,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM $m),
       |$x AS MATERIALIZED (SELECT doc_id, i FROM (
       |    SELECT doc_id, i, min(i) OVER (PARTITION BY doc_id, grp) AS i0
       |    FROM $g) WHERE (i - i0) % 2 = 0),
       |$p AS MATERIALIZED (SELECT doc_id, ts,
       |    unnest(range(1, len(ts) + 1)) AS q FROM $prev),
       |$rr AS MATERIALIZED (SELECT $p.doc_id, q,
       |    CASE WHEN k.i IS NOT NULL THEN $b.m ELSE ts[q] END AS sym
       |  FROM $p LEFT JOIN $b ON TRUE
       |  LEFT JOIN $x k ON k.doc_id = $p.doc_id AND k.i = q
       |  LEFT JOIN $x e ON e.doc_id = $p.doc_id AND e.i = q - 1
       |  WHERE e.i IS NULL),
       |$out AS MATERIALIZED (SELECT doc_id, txt,
       |    string_split_regex(txt, ' ') AS ts FROM (
       |    SELECT doc_id, string_agg(sym, ' ' ORDER BY q) AS txt
       |    FROM $rr GROUP BY doc_id))""".stripMargin

  /** One unrolled TRAINING round over state CTE `$prev` (columns
    * doc_id, ts): pair index → count → argmax (b$r) → the shared
    * rewrite half → next state s$r. */
  private def iterSql(prev: String, r: Int): String =
    s"""i$r AS MATERIALIZED (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
       |  FROM $prev WHERE len(ts) > 1),
       |pr$r AS MATERIALIZED (SELECT ts[i] AS a, ts[i+1] AS b FROM i$r),
       |c$r AS MATERIALIZED (SELECT a, b, count(*) AS cnt FROM pr$r GROUP BY a, b),
       |b$r AS MATERIALIZED (SELECT a, b, a || '$JOIN' || b AS m, cnt FROM c$r
       |  ORDER BY cnt DESC, a, b LIMIT 1),
       |""".stripMargin +
      rewriteSqlPart(prev, s"i$r", s"b$r",
        s"m$r", s"g$r", s"x$r", s"p$r", s"r$r", s"s$r")

  /** One unrolled APPLY round: rewrite state CTE `$prev` under the
    * training chain's already-derived winning pair `$b` — no count,
    * no argmax (the serve side never re-learns). */
  private def applyIterSql(prev: String, b: String, r: Int): String =
    s"""ai$r AS MATERIALIZED (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
       |  FROM $prev WHERE len(ts) > 1),
       |""".stripMargin +
      rewriteSqlPart(prev, s"ai$r", b,
        s"am$r", s"ag$r", s"ax$r", s"ap$r", s"ar$r", s"aa$r")

  private def chainSql: String = {
    val t = s"WITH t AS MATERIALIZED (SELECT doc_id, " +
      s"${TextFns.tokenizeSql("text")} AS ts FROM documents)"
    val s0 = "s0 AS MATERIALIZED (SELECT doc_id, ts FROM t)"
    val iters = (1 to BPE_MERGES).map(r => iterSql(s"s${r - 1}", r))
    (Seq(t, s0) ++ iters).mkString(",\n")
  }

  val bpeTrainSql: String = {
    val legs = (1 to BPE_MERGES).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,
         |  m AS merged, CAST(cnt AS BIGINT) AS cnt FROM b$r""".stripMargin
    }
    s"""$chainSql
       |SELECT * FROM (${legs.mkString("\nUNION ALL\n")})
       |ORDER BY merge_rank""".stripMargin
  }

  val bpeEncodeSql: String = {
    val last = s"s$BPE_MERGES"
    s"""$chainSql
       |SELECT t.doc_id,
       |  CAST(coalesce(len($last.ts), 0) AS BIGINT) AS n_syms,
       |  ${TextFns.hash56Sql(s"coalesce($last.txt, '')")} AS text_h56,
       |  CAST(length(coalesce($last.txt, '')) AS BIGINT) AS text_len
       |FROM t LEFT JOIN $last USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  // --- bpe_apply: the serve side — learned merges over NEW text ----------
  /** Train-once/apply-many, the tokenizer analogue of the ANN index's
    * build/serve split: merges learned on the NON-eval corpus slice
    * ([[graft.operators.Pipeline.EVAL_MOD]] family), then applied in
    * rank order to the held-out eval documents the trainer never saw —
    * exactly what production does when the tokenizer meets tomorrow's
    * crawl. Output is the eval slice's encoded form, comparator-proof
    * like [[bpeEncode]]. Shape at 100 TB: training cost is bpe_train's
    * (on the training corpus); application is [[applyMerges]] —
    * embarrassingly-parallel per-row passes, no shuffle at all. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val isEval =
      col("doc_id") % lit(Pipeline.EVAL_MOD) === lit(Pipeline.EVAL_RES)
    val ms = mergesMemo.getOrElseUpdate(spark, (dir, "noneval")) {
      trainOn(docs.filter(!isEval), BPE_MERGES, needState = false)._1
    }
    val st = applyMergesFast(
      docs.filter(isEval)
        .select(col("doc_id"), TextFns.tokenize(col("text")).as("ts")), ms)
    val txt = concat_ws(" ", coalesce(col("ts"), array()))
    docs.filter(isEval).select(col("doc_id"))
      .join(st, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(coalesce(col("ts"), array())).cast("long").as("n_syms"),
        TextFns.hash56(txt).as("text_h56"),
        length(txt).cast("long").as("text_len"))
      .orderBy(col("doc_id"))
  }

  val bpeApplySql: String = {
    val t = s"WITH t AS MATERIALIZED (SELECT doc_id, " +
      s"${TextFns.tokenizeSql("text")} AS ts FROM documents)"
    val ev = s"doc_id % ${Pipeline.EVAL_MOD} = ${Pipeline.EVAL_RES}"
    val s0 =
      s"s0 AS MATERIALIZED (SELECT doc_id, ts FROM t WHERE NOT ($ev))"
    val trainIters = (1 to BPE_MERGES).map(r => iterSql(s"s${r - 1}", r))
    val a0 = s"aa0 AS MATERIALIZED (SELECT doc_id, ts FROM t WHERE $ev)"
    val applyIters =
      (1 to BPE_MERGES).map(r => applyIterSql(s"aa${r - 1}", s"b$r", r))
    val last = s"aa$BPE_MERGES"
    (Seq(t, s0) ++ trainIters ++ Seq(a0) ++ applyIters).mkString(",\n") +
      s"""
         |SELECT t.doc_id,
         |  CAST(coalesce(len($last.ts), 0) AS BIGINT) AS n_syms,
         |  ${TextFns.hash56Sql(s"coalesce($last.txt, '')")} AS text_h56,
         |  CAST(length(coalesce($last.txt, '')) AS BIGINT) AS text_len
         |FROM t LEFT JOIN $last USING (doc_id)
         |WHERE $ev ORDER BY t.doc_id""".stripMargin
  }

  override def entries: Seq[QueryDef] = Seq(
    QueryDef("bpe_train", bpeTrain, Some(bpeTrainSql),
      "BPE merge induction: greedy pair-merge rounds over the corpus"),
    QueryDef("bpe_encode", bpeEncode, Some(bpeEncodeSql),
      "the corpus rewritten under the learned BPE merge table"),
    QueryDef("bpe_apply", bpeApply, Some(bpeApplySql),
      "the serve side: non-eval-trained merges encode the eval slice"))
}
