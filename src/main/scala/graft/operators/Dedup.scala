package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Near-duplicate detection at corpus scale (brief north star; no
  * reference counterpart). Three independent techniques, each with the
  * scale-safe shape — candidate generation by bucketing/blocking, exact
  * verification only within buckets, NEVER an all-pairs cross join:
  *
  *   - MinHash + banded LSH over 3-token shingles (`near_dedup`);
  *   - SimHash with chunk-LSH Hamming candidates (`simhash`,
  *     `simhash_dedup`);
  *   - character-4-gram Jaccard with blocking (`ngram_jaccard`).
  *
  * 100 TB posture: every candidate generator is explode → equi-join on
  * a bucket key, so the shuffle is O(n·bands), bucket skew is handled by
  * AQE, and the quadratic exact-verify work is confined to within-bucket
  * pairs. The DuckDB oracles for the pair queries are brute-force ground
  * truth — at sf0.01 the similarity distribution is cleanly bimodal
  * (planted near-dups ≥0.9 vs background <0.1 shingle-Jaccard; Hamming
  * ≤3 vs ≥10), and the LSH parameters are chosen so the miss
  * probability at the planted similarity level is < 1e-14, so the
  * LSH+verify output equals ground truth on this corpus.
  *
  * Portable hashing: a token/shingle fingerprints to the first 14 hex
  * digits of its md5 (56 bits, fits a long exactly) — computable
  * identically in Spark (`conv(substring(md5(x),1,14),16,10)`) and
  * DuckDB (`CAST('0x'||substr(md5(x),1,14) AS BIGINT)`).
  */
object Dedup extends QueryModule {

  /** MinHash: K signatures, banded b×r for LSH (K = b·r). At the
    * planted similarity s≈0.9: P[miss] = (1−s^r)^b ≈ 1.5e-15. */
  val MINHASH_K = 128
  val LSH_ROWS = 4
  val LSH_BANDS = MINHASH_K / LSH_ROWS
  /** Universal-hash modulus (2^31−1, prime): a·x+b stays < 2^62. */
  val MH_P = 2147483647L
  /** Exact-Jaccard keep threshold for verified near-dup pairs. */
  val JACCARD_THRESHOLD = 0.5

  private val rnd = new scala.util.Random(42)
  val MH_A: Array[Long] = Array.fill(MINHASH_K)(1L + rnd.nextInt((MH_P - 1).toInt))
  val MH_B: Array[Long] = Array.fill(MINHASH_K)(rnd.nextInt(MH_P.toInt).toLong)

  /** SimHash width = the 56-bit token fingerprint width. */
  val SIMHASH_BITS = 56
  /** Hamming threshold for simhash_dedup pairs. */
  val HAMMING_THRESHOLD = 3
  /** 4 chunks of 14 bits: any pair within Hamming ≤3 shares at least
    * one untouched chunk (pigeonhole), so chunk-LSH recall is exact. */
  val SIMHASH_CHUNKS = 4
  val CHUNK_BITS = SIMHASH_BITS / SIMHASH_CHUNKS

  /** Char-n-gram Jaccard params: n, blocking key = source. A gram's
    * identity is its PACKED CODEPOINTS — n × [[GRAM_BITS]]-bit
    * truncated codepoints concatenated ([[graft.functions.NgramPack]]),
    * 56 bits at the default geometry — not a hash: injective for
    * codepoints < 2^14 (all ASCII, most of the BMP) and identically
    * truncating in both engines beyond, so Spark and the DuckDB oracle
    * agree on gram identity by construction. */
  val NGRAM_N = 4
  val GRAM_BITS = 14
  val NGRAM_THRESHOLD = 0.5
  /** Octave-window width for the length-band blocking: J ≥ t forces
    * n_min ≥ t·n_max, so ⌊log2 n⌋ of a qualifying pair differs by at
    * most ⌈log2(1/t)⌉ (= 1 at t = 0.5). Deriving the width from the
    * threshold keeps the blocking provably complete for ANY t — no
    * hidden t ≥ 0.5 assumption to trip over later. */
  val NGRAM_BAND_WINDOW: Int =
    math.ceil(math.log(1.0 / NGRAM_THRESHOLD) / math.log(2.0)).toInt

  private val hash56Sql: String => String = TextFns.hash56Sql

  // --- near_dedup: MinHash + banded LSH + exact verify --------------------

  /** (doc_id, hs): distinct 3-token-shingle fingerprints per doc.
    *
    * Shingles are built by zipping the token array with its two shifted
    * selves (3 `slice` references to the tokenized array) instead of
    * indexing `element_at(toks, i)` inside a per-index lambda — the
    * latter re-evaluates the tokenizer per shingle per reference once
    * Catalyst's CollapseProject inlines the column, which turns a scan
    * into O(tokens²) regex work per row. */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir))

  /** (doc_id, hs) for an arbitrary (doc_id, text) frame — the batch
    * fixture path and the streaming micro-batch path share it.
    *
    * Shingle fingerprints come from the native codegen'd
    * [[graft.functions.HashedNgrams]] (one md5 over the joined bytes
    * per window): the previous two-level `zip_with` built every
    * "a b c" concat string and md5-ed it through the interpreter —
    * the dominant per-trigger cost of the streaming admission gates.
    * Bit-parity with that fold is pinned in HashedNgramsSpec. */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingleSet(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      // Boundary: the shingle arrays feed the minhash fold AND both
      // sides of the exact-verify join — one exchange, reused thrice.
      // A/B-REJECTED rewrite (r21): moving this exchange BEFORE the
      // tokenize+shingle pass (guide §2.5 — the fixture scans as one
      // task, so the hashing ran on one core) measured NET SLOWER on
      // every dedup-family gate (5-rep pairs: near_dedup 1.27→1.33 s,
      // curation_pipeline 3.19→3.71 s): a keyed-only exchange gets
      // AQE-coalesced back to one partition (text bytes are tiny), an
      // explicit-count exchange pays scan-side text serialization plus
      // cache-lock contention on the now-many-partition checkpoint
      // across the concurrent AQE stage jobs — both exceed the ~0.3 s
      // the parallel hashing saves. On a real many-file corpus the
      // scan parallelism this chased is free at the source.
      .repartition(col("doc_id"))

  /** The distinct 3-token-shingle fingerprints of one text column. */
  private def shingleSet(text: Column): Column =
    array_distinct(ColumnBridge.column(graft.functions.HashedNgrams(
      ColumnBridge.expression(TextFns.tokenize(text)), 3)))

  def nearDedup(spark: SparkSession, dir: String): DataFrame =
    nearDedupPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** (doc_id, band_idx, band_key) LSH band keys from a shingle frame.
    * Two docs share a band key iff all r minhashes of that band agree
    * — the collision predicate every LSH consumer (batch pair join,
    * streaming admission state) keys on. */
  private def bandsOf(sh: DataFrame): DataFrame = {
    // The repartition is a deliberate stage boundary: it makes `mh` a
    // physical attribute, so the 128 element_at references in the band
    // expression below read a materialized array instead of inlining
    // (and re-running) the whole minhash pipeline 128×. The extra
    // exchange is O(docs · K·8B) — same order as the band explode that
    // immediately follows.
    val mh = sh.withColumn("mh", minhashOf(col("hs"))).repartition(col("doc_id"))
    mh.select(col("doc_id"), posexplode(bandArray(col("mh"))))
      .toDF("doc_id", "band_idx", "band_key")
  }

  /** K minhashes of a shingle-set column in ONE traversal via the
    * native codegen'd expression — see MinHashSignature's scaladoc for
    * why this (and only this) hot loop gets a custom Expression instead
    * of an aggregate+zip_with fold. */
  private def minhashOf(hs: Column): Column =
    ColumnBridge.column(graft.functions.MinHashSignature(
      ColumnBridge.expression(hs), MH_A.toSeq, MH_B.toSeq, MH_P))

  /** The [[LSH_BANDS]] band keys of a minhash array `mh`, band b at
    * index b: each band's r minhashes polynomial-combined (values
    * < 2^31, so the 31-ary polynomial stays < 2^47 — no overflow, no
    * extra mod). The one band formula: [[bandsOf]] explodes it, the
    * driver-side admission path ([[withBandArray]]) indexes it. */
  private def bandArray(mh: Column): Column =
    transform(sequence(lit(0), lit(LSH_BANDS - 1)), b =>
      (0 until LSH_ROWS).map(r => element_at(mh, b * LSH_ROWS + r + 1))
        .reduce((acc, m) => acc * 31 + m))

  /** `docs` (doc_id, text, …) plus its band-key array `bands` (index =
    * band_idx), null when the text has no shingle — exactly the docs
    * [[shinglesOf]] drops. The same expressions as [[bandKeys]],
    * projected step by step so each step reads the previous step's
    * column: inlined, the band polynomial would re-run the minhash once
    * per element it reads. Over a `LocalRelation`, Catalyst's
    * `ConvertToLocalRelation` evaluates every step on the driver
    * (interpreted eval, which MinHashSpec and HashedNgramsSpec pin
    * equal to codegen), so no job runs. */
  private[graft] def withBandArray(docs: DataFrame): DataFrame =
    docs.withColumn("hs", shingleSet(col("text")))
      .withColumn("mh", when(size(col("hs")) > 0, minhashOf(col("hs"))))
      .withColumn("bands", when(col("mh").isNotNull, bandArray(col("mh"))))
      .drop("hs", "mh")

  /** Public band-key entry for arbitrary (doc_id, text) docs — the
    * streaming near-dedup admission path builds its state from this. */
  def bandKeys(docs: DataFrame): DataFrame =
    bandsOf(shinglesOf(docs))

  /** The verified near-dup pairs, unordered — shared by the pair query
    * and the connected-components clustering built on top of it. */
  private def nearDedupPairs(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the shingle frame: it feeds the band pipeline AND
    // both sides of the exact-verify join, and per-branch column
    // pruning defeats exchange reuse — un-materialized, the tokenize+
    // hash pipeline runs up to 8× per execution (measured: 8 parquet
    // scans, 0 ReusedExchange). The frame is (doc_id, 56-bit gram
    // array) — a few MB per million docs per executor.
    val sh = shingles(spark, dir).localCheckpoint()
    // Same boundary as the salted variant: both candidate join sides
    // consume the band frame and per-side pruning defeats exchange
    // reuse — materialized, the minhash pipeline runs once.
    val bands = bandsOf(sh).localCheckpoint()
    val occ = occupancyMemo.getOrElseUpdate(spark, graft.Caches.pathKey(dir))(
      maxOccupancyOf(bands))
    verifiedPairs(bucketPairs(bands, knownOcc = Some(occ)), sh)
  }

  /** Bucket occupancy above which the main candidate self-join
    * AUTO-salts ([[saltedBucketPairs]]): a bucket of m members puts
    * m²/2 verify-join pairs in ONE shuffle partition's task, and
    * 1024² ≈ 5·10⁵ pairs is the largest single-task block we accept
    * before spreading the work [[SALT_FACTOR]] ways. The fixtures'
    * planted clusters sit far below it, so the gates keep (and bench)
    * the plain exchange-lean plan; a boilerplate-heavy crawl — one
    * band key shared by 10⁵ pages — trips the salted path without any
    * operator change, the `embedding_dedup_auto` posture of deriving
    * the plan knob from an O(1) corpus probe instead of a config. */
  val AUTO_SALT_OCCUPANCY = 1024

  /** Whether the most recent [[bucketPairs]] call on this JVM took the
    * salted path — a test-only probe (SaltedJoinSpec pins the trigger);
    * not part of the operator contract. */
  private[graft] val lastAutoSalted =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Max bucket occupancy of a band frame — the auto-salt trigger
    * scalar. One aggregate keyed like the candidate join itself; since
    * LSH buckets are mostly singletons, the map side barely reduces
    * and the shuffle is ~O(n·bands) rows, so [[nearDedupPairs]]
    * memoizes the result per (session, dataset) below rather than
    * paying it per query. */
  private def maxOccupancyOf(bands: DataFrame): Long =
    bucketCounts(bands)
      .agg(coalesce(max(col("bkt_n")), lit(0L)).as("m"))
      .head().getLong(0)

  /** Memoized occupancy probe, one entry per (session, dataset) — the
    * [[clustersMemo]] posture: occupancy is a deterministic property
    * of the corpus, so a warm read is indistinguishable from a
    * recompute, and the whole dedup family (pairs, components,
    * keep-best, fuzzy decontamination) shares one probe job instead
    * of re-shuffling the band frame per query. Deliberately NOT
    * registered with [[graft.Caches]], same as [[clustersMemo]].
    *
    * ASSUMES IMMUTABLE DATASETS: the memo is keyed by path and never
    * invalidated, so a corpus REWRITTEN in-place mid-session would
    * serve a stale auto-salt decision. That is the engine-wide source
    * contract (parquet snapshots are written once and replaced by new
    * paths, never mutated — every other memo, Spark's own file-index
    * cache, and the DuckDB oracle share the assumption); a mutable
    * corpus needs a new path, which naturally misses the memo. */
  private val occupancyMemo = new graft.SessionMemo[String, Long]

  /** Candidate pairs from an (doc_id, band_idx, band_key) band frame,
    * occupancy-triggered: past `hotOccupancy` the generator is
    * [[saltedBucketPairs]] (same candidate SET — SaltedJoinSpec),
    * otherwise the plain self-join. `knownOcc` lets dataset-keyed
    * callers supply the memoized probe scalar. */
  def bucketPairs(bands: DataFrame,
      hotOccupancy: Int = AUTO_SALT_OCCUPANCY,
      knownOcc: Option[Long] = None): DataFrame = {
    // When the probe runs here (no memoized scalar), its per-bucket
    // counts are materialized ONCE and feed both the max-occupancy
    // trigger and the salted generator's hot-key set — the probe
    // shuffle is the band frame's own groupBy, so paying it twice
    // back-to-back doubled the most expensive step of exactly the hot
    // corpora the salting exists for. The memoized path (knownOcc)
    // skips the probe; the salted generator then aggregates once
    // itself.
    val counts = knownOcc match {
      case Some(_) => None
      case None => Some(bucketCounts(bands).localCheckpoint())
    }
    val maxOcc = knownOcc.getOrElse(
      counts.get.agg(coalesce(max(col("bkt_n")), lit(0L))).head().getLong(0))
    lastAutoSalted.set(maxOcc > hotOccupancy)
    if (maxOcc > hotOccupancy) {
      val hot = counts.fold(hotBuckets(bands, hotOccupancy))(
        _.filter(col("bkt_n") > hotOccupancy)
          .select(col("band_idx"), col("band_key")))
      saltedWithHot(bands, "doc_id", SALT_FACTOR, hot)
    } else bands
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Per-bucket occupancy of a band frame — the one aggregation behind
    * both the auto-salt trigger and the hot-key set. */
  private def bucketCounts(bands: DataFrame): DataFrame =
    bands.groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("bkt_n"))

  private def hotBuckets(bands: DataFrame, hotThreshold: Int): DataFrame =
    bucketCounts(bands)
      .filter(col("bkt_n") > hotThreshold)
      .select(col("band_idx"), col("band_key"))

  /** LSH candidate-pair count for the scale probe's growth
    * decomposition (BENCH_SCALE: factor = data growth × candidate
    * growth — duplicate density rises with corpus size, so the
    * near-dup family's wall-clock legitimately outgrows the doc
    * count; this makes that term measured, not asserted). */
  private[graft] def candidatePairCount(spark: SparkSession, dir: String): Long = {
    val sh = shingles(spark, dir).localCheckpoint()
    bucketPairs(bandsOf(sh).localCheckpoint()).count()
  }

  /** Exact verification within candidates only: fetch both shingle
    * arrays for each (doc_a, doc_b) candidate, keep pairs at or above
    * the Jaccard threshold. Shared by the plain and salted candidate
    * generators. */
  private def verifiedPairs(cand: DataFrame, sh: DataFrame): DataFrame =
    verifiedPairsSided(cand, sh, sh)

  /** [[verifiedPairs]] with distinct per-side shingle frames — the
    * fuzzy-decontamination path fetches train shingles on the `doc_a`
    * side and ONLY the (small) eval slice on the `doc_b` side. */
  private def verifiedPairsSided(cand: DataFrame, shA: DataFrame,
      shB: DataFrame): DataFrame =
    cand
      .join(shA.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(shB.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      // |∪| = |a| + |b| − |∩| (arrays are distinct): one set op per pair.
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter")
          / (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= JACCARD_THRESHOLD)

  // --- near_dedup_salted: hot-bucket salting for the candidate join -------

  /** Buckets with more than this many members take the salted path.
    * Set low here so the fixture's planted duplicate clusters actually
    * route through it; a production run sets it to the occupancy where
    * one bucket's m² pair work no longer fits a task (10³–10⁴), which
    * also keeps the hot-key set a handful of true outliers. */
  val HOT_BUCKET_THRESHOLD = 2
  val SALT_FACTOR = 4

  /** Candidate pairs from an (id, band_idx, band_key) bucket frame with
    * HOT buckets salted — the `skew_safe_distinct` two-phase move
    * applied where it matters at 100 TB: one boilerplate band key
    * shared by 10⁵ crawl pages turns the plain self-join into a single
    * 10¹⁰-pair straggler task. Phase 1 counts bucket occupancy; keys
    * above `hotThreshold` (a tiny outlier set by construction —
    * broadcast) split their m² work `saltFactor` ways: side A salts on
    * a hash of its OWN id, side B replicates across all salt values,
    * and the join key becomes (band, salt) — so a hot bucket's pairs
    * spread over `saltFactor` shuffle partitions at the cost of
    * replicating only the hot rows. Every unordered pair still meets
    * exactly once per bucket (it joins at salt(a) in the a<b
    * orientation and at salt(b) in the dropped one); cold buckets take
    * the plain equi-join untouched. Same candidate SET as the plain
    * generator — the oracle doesn't change. */
  def saltedBucketPairs(bands: DataFrame, idCol: String,
      hotThreshold: Int, saltFactor: Int): DataFrame = {
    require(hotThreshold >= 1)
    saltedWithHot(bands, idCol, saltFactor, hotBuckets(bands, hotThreshold))
  }

  /** [[saltedBucketPairs]] against a caller-supplied hot-key set —
    * lets [[bucketPairs]] reuse its occupancy probe's aggregation. */
  private def saltedWithHot(bands: DataFrame, idCol: String,
      saltFactor: Int, hot: DataFrame): DataFrame = {
    require(saltFactor >= 2)
    val cold = bands.join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
    val coldPairs = cold
      .select(col(idCol).as("doc_a"), col("band_idx"), col("band_key"))
      .join(cold.select(col(idCol).as("doc_b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val hotRows = bands.join(broadcast(hot), Seq("band_idx", "band_key"), "left_semi")
    val sideA = hotRows.select(col(idCol).as("doc_a"),
      col("band_idx"), col("band_key"),
      pmod(hash(col(idCol)), lit(saltFactor)).as("salt"))
    val sideB = hotRows.select(col(idCol).as("doc_b"),
      col("band_idx"), col("band_key"),
      explode(sequence(lit(0), lit(saltFactor - 1))).as("salt"))
    val hotPairs = sideA.join(sideB, Seq("band_idx", "band_key", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    coldPairs.union(hotPairs).distinct()
  }

  /** `near_dedup` with the salted candidate join — identical output
    * (same LSH, same exact verify, same oracle); only the hot buckets'
    * pair work is redistributed. SaltedJoinSpec pins candidate-set
    * equality on a planted hot bucket and the plan shape. */
  def nearDedupSalted(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir).localCheckpoint()
    // Materialize the band frame: the salted generator consumes it FIVE
    // times (occupancy count, both cold join sides, both hot sides) and
    // per-branch pruning defeats exchange reuse — un-materialized, the
    // 128-minhash pipeline runs per consumer (measured ~1s of the
    // ~4.4s bench). O(docs · bands · 16B) rows — cheap to hold.
    val bands = bandsOf(sh).localCheckpoint()
    val cand = saltedBucketPairs(bands, "doc_id",
      HOT_BUCKET_THRESHOLD, SALT_FACTOR)
    verifiedPairs(cand, sh).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Tokenize+shingle CTEs alone (the LSH-replay oracle needs these
    * without paying for the brute-force pair join). MATERIALIZED:
    * `sh` is self-joined downstream and DuckDB re-evaluates
    * non-materialized CTEs per reference. */
  private val shingleCtes =
    s"""t AS MATERIALIZED (SELECT doc_id, ${TextFns.tokenizeSql("text")} AS ts FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id,
       |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
       |                 for i in range(1, len(ts) - 1)]) AS s
       |  FROM t WHERE len(ts) >= 3)""".stripMargin

  /** Brute-force shingle-Jaccard pair CTEs (`p` on top of the shingle
    * CTEs), shared by the pair oracle and the connected-components
    * oracle — `p` feeds a recursive CTE there, hence MATERIALIZED. */
  private val nearDedupPairsCtes =
    s"""$shingleCtes,
       |p AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.s, b.s))) >= $JACCARD_THRESHOLD)""".stripMargin

  /** Ground-truth oracle: brute-force shingle-set Jaccard (the LSH
    * parameters make recall exact on this corpus — see class doc). */
  val nearDedupSql =
    s"""WITH $nearDedupPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM p ORDER BY doc_a, doc_b""".stripMargin

  // --- decontaminate_fuzzy: MinHash-LSH decontamination -------------------
  /** FUZZY benchmark decontamination — the published complement of
    * [[graft.operators.Pipeline.decontaminate]]'s exact-n-gram rule:
    * flag a training document when some eval-slice document is a
    * shingle-Jaccard NEAR-duplicate (≥ [[JACCARD_THRESHOLD]]), the
    * "remove documents fuzzily overlapping the benchmark" recipe
    * (paraphrases and near-copies that share no exact 8-gram still
    * get caught). Shares the eval-slice definition with the exact
    * form and the whole shingle→minhash→band pipeline with
    * [[nearDedup]] — the candidate join is bands-vs-eval-bands (the
    * eval side is a fixed small benchmark, so candidate volume is
    * O(train-collisions), not all pairs), then exact Jaccard within
    * candidates only. Output exposes only at-threshold evidence
    * (`max_jaccard`/`n_matches` over verified matches), so the
    * brute-force oracle is exact at the fixture's geometry — the
    * near_dedup recall argument, unchanged. */
  /** Train-vs-eval candidate pairs from a band frame: the eval side is
    * fixed-small by construction (a benchmark slice), so its band
    * frame broadcasts EXPLICITLY — the same posture as the sibling
    * exact `decontaminate`, and uniform plans keep the dedup-family
    * audit one-shaped (PlanSpec pins it). Shared with the scale
    * probe's candidate counter ([[fuzzyCandidateCount]]). */
  private def fuzzyCandidates(bands: DataFrame): DataFrame = {
    val isEval = col("doc_id") % Pipeline.EVAL_MOD === Pipeline.EVAL_RES
    bands.filter(!isEval)
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
      .join(broadcast(bands.filter(isEval)
        .select(col("doc_id").as("doc_b"), col("band_idx"), col("band_key"))),
        Seq("band_idx", "band_key"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Train-vs-eval candidate-pair count for the scale probe's growth
    * decomposition ([[candidatePairCount]]'s sibling). */
  private[graft] def fuzzyCandidateCount(spark: SparkSession, dir: String): Long =
    fuzzyCandidates(bandsOf(
      shingles(spark, dir).localCheckpoint()).localCheckpoint()).count()

  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % Pipeline.EVAL_MOD === Pipeline.EVAL_RES
    val sh = shingles(spark, dir).localCheckpoint()
    val bands = bandsOf(sh).localCheckpoint()
    val cand = fuzzyCandidates(bands)
    // Exact verify via the shared [[verifiedPairsSided]] block (one
    // Jaccard formula in this file); the train side reads the train
    // shingles and the eval side ONLY the eval slice — the "small
    // benchmark" posture the scaladoc claims, broadcastable at
    // production scale.
    val matches = verifiedPairsSided(cand,
        sh.filter(!isEval), sh.filter(isEval))
      .groupBy(col("doc_a"))
      .agg(max(col("jaccard")).as("max_j"), count(lit(1)).as("nm"))
      .select(col("doc_a").as("doc_id"), col("max_j"), col("nm"))
    graft.Tables.documents(spark, dir).filter(!isEval).select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("max_j"), lit(0.0)).as("max_jaccard"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        (coalesce(col("max_j"), lit(0.0)) >= JACCARD_THRESHOLD).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Brute-force train×eval oracle (exact at this geometry — the
    * [[nearDedupSql]] recall argument): every cross-slice pair's
    * Jaccard, thresholded on the same 6-decimal rounding. */
  val decontaminateFuzzySql: String =
    s"""WITH $shingleCtes,
       |fp AS MATERIALIZED (SELECT a.doc_id,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.s, b.s))), 6) AS j
       |  FROM sh a JOIN sh b
       |    ON a.doc_id % ${Pipeline.EVAL_MOD} <> ${Pipeline.EVAL_RES}
       |   AND b.doc_id % ${Pipeline.EVAL_MOD} = ${Pipeline.EVAL_RES}),
       |fm AS (SELECT doc_id, max(j) AS max_j, count(*) AS nm FROM fp
       |       WHERE j >= $JACCARD_THRESHOLD GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(fm.max_j, 0.0) AS max_jaccard,
       |  CAST(coalesce(fm.nm, 0) AS BIGINT) AS n_matches,
       |  coalesce(fm.max_j, 0.0) >= $JACCARD_THRESHOLD AS is_contaminated
       |FROM documents d LEFT JOIN fm USING (doc_id)
       |WHERE d.doc_id % ${Pipeline.EVAL_MOD} <> ${Pipeline.EVAL_RES}
       |ORDER BY doc_id""".stripMargin

  // --- dedup_components: near-dup pairs → duplicate clusters --------------

  /** Connected components over an undirected edge list — the step that
    * turns pairwise near-dup evidence into dedup CLUSTERS (pick one
    * canonical doc per component, drop the rest), which is what a
    * training-data pipeline actually executes at 100 TB.
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's strictly-larger neighbours (large-star) then its
    * smaller-or-equal ones (small-star) to the minimum of the local
    * neighbourhood, until the edge set stops changing — at which point
    * the edges form a star forest rooted at each component's minimum
    * node. Rounds are O(log² n) on ANY graph shape — this replaces the
    * earlier min-label propagation, whose round count equals the graph
    * DIAMETER: near-dup components are usually dense near-cliques, but
    * crawl shingling also produces long duplicate CHAINS (A≈B≈C≈…
    * where A and Z share nothing), and a 100 TB chain would grind a
    * diameter-bound loop (CurationSpec pins a 64-node path converging
    * in a handful of rounds vs 63 propagation rounds).
    *
    * Per-round shape: each star op is one shuffle join edges⋈minima +
    * one min-aggregate, both keyed on the node id — the same cost
    * envelope as one propagation round; `localCheckpoint` cuts the
    * lineage every round (PageRank precedent) so the plan does not
    * grow with the iteration count; the convergence probe is a
    * driver-side count + empty-difference check over the canonical
    * (greater, lesser) edge sets, never a collect of the edges.
    *
    * Returns (id, comp) with comp = min doc_id of the component.
    * Self-loops are DROPPED before clustering: a vertex whose only
    * edges are (x, x) does not appear in the output (it is not a
    * duplicate of anything — every caller here feeds strict pairs
    * a < b, for which this is unobservable). Callers needing
    * isolated-vertex rows must union them back labeled with
    * themselves. */
  def components(edges: DataFrame): DataFrame = {
    val Seq(a, b) = edges.columns.toSeq.take(2)
    // Canonical orientation (u > v), self-loops dropped, exact-set
    // semantics via distinct — both star ops preserve the invariant.
    var e = edges.select(col(a).as("x"), col(b).as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct()
      // Lazy: the count right below is the first action and
      // materializes the checkpoint inside its own job (the PageRank
      // r20 pattern — one job cascade per round, not two).
      .localCheckpoint(false)
    var rounds = 0
    var eCount = e.count()
    var converged = eCount == 0
    while (!converged) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      rounds += 1
      // Both sides are canonical distinct sets, so equality reduces to
      // equal counts + empty one-sided difference; the previous count
      // is carried across rounds (one comparison job, not two — the
      // collision graphs the streaming admission runs this on are tiny
      // and per-round job overhead dominates there).
      val nextCount = next.count()
      converged = nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
    }
    lastComponentsRounds.set(rounds)
    // Fixed point = star forest: v IS the component minimum for every
    // member u; roots label themselves.
    e.select(col("u").as("id"), col("v").as("comp"))
      .union(e.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Rounds taken by the most recent [[components]] call on this JVM —
    * a test-only probe (CurationSpec asserts the chain bound); not
    * part of the operator contract. */
  private[graft] val lastComponentsRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Edge-count bound under which [[componentsBounded]] solves the
    * graph driver-side. 100k edges ≈ 1.6 MB collected — far below any
    * driver ceiling, far above any micro-batch's collision graph. */
  private[graft] val SMALL_GRAPH_EDGES = 100000

  /** Row bound under which a streaming admission trigger decides its
    * micro-batch on the driver (`StreamNearDedup.PersistentAccumulator`,
    * `StreamKeepBest.PersistentKeepBest`): one job fetches up to this
    * many rows plus one — the size probe and the fetch at once,
    * [[collectBounded]] — and within the bound the batch's band keys,
    * quality, components and actions are computed on the driver,
    * against the driver-held state while it is within
    * [[SMALL_STATE_KEYS]], else with one probe query per state table.
    * The driver holds the fetched rows and their keys: at bench-sized
    * documents 4096 rows are ≈ 1.2 MB of text plus 131k band keys
    * (1 MB of longs), the same order as the 1.6 MB
    * [[SMALL_GRAPH_EDGES]] collect. A bigger batch runs the
    * distributed body, whose cost scales with executors instead, and
    * hands the state off to the distributed mirrors for good.
    * `Tokenizer.trainOn` uses the same bound in documents: a corpus of
    * at most this many is fetched in one job and its BPE merges are
    * learned on the driver; a bigger one runs the distributed loop. */
  private[graft] val SMALL_BATCH_ROWS = 4096

  /** Row bound under which a streaming admission store keeps its
    * committed state on the driver (`graft.streaming.DriverBands` and
    * keep-best's canonical map): 131,072 band rows, exactly what one
    * [[SMALL_BATCH_ROWS]] batch already holds there — 1 MB of raw
    * longs, a few MB as hash maps with boxed cluster ids. Within it a
    * trigger probes the maps in Scala and starts no state query; the
    * first commit that takes a table past it, like the first batch
    * past [[SMALL_BATCH_ROWS]], hands off to the distributed mirrors
    * for good, built from committed storage right then. The value is
    * a driver-heap ceiling by analogy with the batch bound, not a
    * measured crossover: the benchmark's stream never leaves it, so
    * the per-trigger cost past it is the mirrors' as it was. */
  private[graft] val SMALL_STATE_KEYS = SMALL_BATCH_ROWS * LSH_BANDS

  /** The rows of `df` if it has at most `bound`, else None — ONE job
    * fetches `bound + 1` rows, the size probe and the fetch at once. */
  private[graft] def collectBounded(df: DataFrame, bound: Int): Option[Array[Row]] = {
    val rows = df.limit(bound + 1).collect()
    Option.when(rows.length <= bound)(rows)
  }

  /** [[components]] with a small-graph fast path — the per-TRIGGER
    * clustering the streaming admission paths run. A micro-batch's
    * intra-batch collision graph is batch-bounded (O(batch duplicate
    * pairs) edges — nothing like the corpus), while the distributed
    * star loop pays `localCheckpoint + count + except` driver-round
    * overhead PER ROUND even on a ten-edge graph: at streaming-trigger
    * cadence that fixed overhead dominated the paced gates' wall-clock
    * (~8–11 jobs per trigger for a graph that fits in one task). So:
    * fetch up to `maxCollect+1` canonical edges in ONE job; within the
    * bound, a driver union-find labels components exactly (same
    * min-id semantics, dup edges harmless) and the result returns as a
    * LOCAL relation — downstream joins broadcast it for free. Past the
    * bound — a corpus-sized graph, never a micro-batch — it falls back
    * to the scale path, [[components]]' O(log² n) star rounds,
    * unchanged. Batch gates (`dedup_components`) deliberately stay on
    * the distributed loop: they BENCH the scale path.
    * StreamNearDedupSpec pins path equality on randomized graphs. */
  def componentsBounded(edges: DataFrame,
      maxCollect: Int = SMALL_GRAPH_EDGES): DataFrame = {
    val Seq(a, b) = edges.columns.toSeq.take(2)
    // Ids widen to long up front: the driver union-find reads getLong,
    // and casting BOTH paths keeps the fast path's output schema
    // identical to the star-loop fallback's for any integral id type.
    val wide = edges.select(col(a).cast("long").as("x"),
      col(b).cast("long").as("y"))
    val canon = wide
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
    // One job: the limit is the size probe AND the fetch. Probed
    // DISTINCT: repeated band collisions emit the same canonical pair
    // once per band, and counting those duplicates toward maxCollect
    // would spuriously trip a small multigraph into the expensive
    // distributed star loop — the exact per-trigger cost this fast
    // path exists to avoid. The collected set feeds a union-find that
    // dedups anyway, so distinct() changes cost, never the answer.
    collectBounded(canon.distinct(), maxCollect) match {
      case None => components(wide)
      case Some(probe) =>
        val ss = edges.sparkSession
        import ss.implicits._
        minLabels(probe.map(r => (r.getLong(0), r.getLong(1))))
          .toSeq.sorted.toDF("id", "comp")
    }
  }

  /** Driver union-find: every endpoint of `edges` → the minimum id of
    * its connected component, the label [[components]] assigns.
    * Duplicate edges are harmless. [[componentsBounded]]'s small-graph
    * path and the streaming accumulators' driver-side admission share
    * it. */
  private[graft] def minLabels(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      // Attach the larger root under the smaller: the final root of
      // every tree is the component minimum, matching [[components]].
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    edges.iterator.flatMap { case (u, v) => Iterator(u, v) }
      .map(id => id -> find(id)).toMap
  }

  /** Large-star: for every node n with neighbourhood Γ(n) (symmetric),
    * connect each strictly-larger neighbour to m = min(Γ(n) ∪ {n}).
    * Output stays canonical: emitted (big, m) always has big > n ≥ m. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: for every node n over its SMALLER neighbours N(n)
    * (edges arrive canonical, so N(n) = {v : (n,v) ∈ e}), connect
    * every member of N(n) ∪ {n} except m = min N(n) to m. Canonical:
    * v > m within a neighbourhood, and n > m always. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    val rewired = e.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    rewired.union(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Memoized corpus-wide near-dup cluster table, one entry per
    * (session, dataset) — the ANN modelCache posture
    * ([[graft.operators.Similarity]]): four operators consume the SAME
    * deterministic clustering (the components gate, keep-best, the
    * curation pipeline's exclusion anti-join, the REPL's cluster
    * probe), and recomputing the pair join + iterated star rounds per
    * consumer multiplies the single most expensive dedup computation
    * by four for bit-identical output. Deliberately NOT registered
    * with [[graft.Caches]]: clustering is deterministic, so a warm
    * read is indistinguishable from a recompute — and
    * [[dedupComponents]] (the gate that BENCHES clustering) never
    * reads the memo, so its benched cost stays the honest cold
    * number, exactly like `ann_index_build` vs the served queries.
    * `localCheckpoint` detaches the O(duplicates) rows from the
    * pair-join lineage. */
  private val clustersMemo = new graft.SessionMemo[String, DataFrame]

  private def computeClusters(spark: SparkSession, dir: String): DataFrame =
    components(nearDedupPairs(spark, dir).select(col("doc_a"), col("doc_b")))
      .localCheckpoint()

  private[graft] def corpusClusters(spark: SparkSession, dir: String): DataFrame =
    clustersMemo.getOrElseUpdate(spark, graft.Caches.pathKey(dir))(
      computeClusters(spark, dir))

  /** Gate query: components of the verified near-dup pair graph.
    * Docs with no near-dup are not emitted — at scale the component
    * table is joined back to the corpus as an exclusion/canonical map,
    * so keeping it to O(duplicates) rows instead of O(corpus) is the
    * point. ALWAYS computes fresh (the honest benched clustering
    * cost), then refreshes [[clustersMemo]] for the read-through
    * consumers. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val fresh = computeClusters(spark, dir)
    clustersMemo(spark, graft.Caches.pathKey(dir)) = fresh
    fresh.select(col("id").as("doc_id"), col("comp"))
      .orderBy(col("doc_id"))
  }

  /** One document's near-duplicate cluster — the ad-hoc serving entry
    * (the dedup analogue of [[graft.operators.Similarity.nearestTo]],
    * driving the REPL's `near` command): the SAME pair generation and
    * clustering the `dedup_components` gate runs, restricted to the
    * component containing `docId` by a 1-row broadcast semi-probe. A
    * doc in no cluster returns just itself (every doc is trivially its
    * own duplicate class); an id absent from the corpus returns zero
    * rows. */
  def nearCluster(spark: SparkSession, dir: String, docId: Long): DataFrame = {
    val comps = corpusClusters(spark, dir)
    val mine = comps.filter(col("id") === docId).select(col("comp"))
    val members = comps.join(broadcast(mine), "comp")
      .select(col("id").as("doc_id"), col("comp"))
    val self = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") === docId)
      .select(col("doc_id"), col("doc_id").as("comp"))
    // Clustered docs come from `members`; otherwise the singleton row.
    val clustered = comps.filter(col("id") === docId)
      .select(col("id").as("doc_id"))
    members.unionAll(self.join(clustered, Seq("doc_id"), "left_anti"))
      .orderBy(col("doc_id"))
  }

  /** Transitive min-label closure CTEs over the brute-force pair set
    * (`e` = symmetrized edges, `r` = the closure). The recursive term
    * only propagates labels smaller than the target node (larger ones
    * can never win the final `min`), which keeps the closure linear in
    * (node, useful-label) pairs. Requires `WITH RECURSIVE`. */
  private val componentClosureCtes =
    s"""$nearDedupPairsCtes,
       |e AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM p
       |                   UNION SELECT doc_b AS s, doc_a AS d FROM p),
       |r AS (
       |  SELECT s AS doc_id, s AS comp FROM e
       |  UNION
       |  SELECT e.d AS doc_id, r.comp AS comp
       |  FROM r JOIN e ON e.s = r.doc_id
       |  WHERE r.comp < e.d
       |)""".stripMargin

  /** CTE bundle for oracle composition (curation_pipeline): everything
    * through `nonc` = the docs a near-dup-clustering dedup DROPS. */
  val nearDupNonCanonicalCtes: String =
    s"""$componentClosureCtes,
       |nonc AS MATERIALIZED (
       |  SELECT doc_id FROM r GROUP BY doc_id HAVING min(comp) < doc_id)""".stripMargin

  /** Oracle: min label per node from the closure. */
  val dedupComponentsSql =
    s"""WITH RECURSIVE $componentClosureCtes
       |SELECT doc_id, min(comp) AS comp FROM r GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Docs a near-dup-clustering dedup DROPS (non-canonical cluster
    * members) — the pipeline-composable form of [[dedupComponents]]. */
  def nearDupNonCanonical(spark: SparkSession, dir: String): DataFrame =
    corpusClusters(spark, dir)
      .filter(col("comp") < col("id"))
      .select(col("id").as("doc_id"))

  // --- dedup_keep_best: quality-aware canonical selection -----------------
  /** Cluster representatives chosen by QUALITY, not by id: production
    * dedup keeps the BEST member of each near-duplicate cluster (the
    * cleanest capture of a page crawled five times), while the min-id
    * canonical the other gates use is an arbitrary-but-deterministic
    * stand-in. Composes [[dedupComponents]]' clusters with
    * [[graft.operators.Pipeline.docQuality]]'s score and picks the
    * per-cluster argmax (quality DESC, doc_id tie-break) with one
    * `row_number` window PARTITIONED BY cluster — never a global
    * sort; cluster populations are bounded by the dedup radius, so
    * the window state per key stays tiny at any corpus size. Output
    * is the clustered docs with their verdicts (kept/dropped), the
    * actionable artifact a curation run consumes as an anti-join. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val comps = corpusClusters(spark, dir)
      .select(col("id").as("doc_id"), col("comp"))
    val quality = graft.operators.Pipeline.docQualityScores(spark, dir)
      .select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp"))
      .orderBy(col("quality").desc, col("doc_id"))
    comps.join(quality, Seq("doc_id"))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("comp"), col("quality"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the closure's min-label clusters joined to the
    * doc_quality replay (nested WITH — inner CTE names shadow the
    * closure's), argmax per cluster via the same window. LAZY because
    * it references Pipeline.docQualitySql while Pipeline's
    * curationPipelineSql references THIS object's vals — eager init
    * here would make the rendered SQL depend on which object loads
    * first (the val-init-order class of bug). */
  lazy val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $componentClosureCtes,
       |cmp AS (SELECT doc_id, min(comp) AS comp FROM r GROUP BY doc_id),
       |qual AS (SELECT doc_id, quality FROM
       |  (${graft.operators.Pipeline.docQualitySql}) dq),
       |rk AS (SELECT cmp.doc_id, cmp.comp, qual.quality,
       |    row_number() OVER (PARTITION BY cmp.comp
       |      ORDER BY qual.quality DESC, cmp.doc_id) AS rnk
       |  FROM cmp JOIN qual USING (doc_id))
       |SELECT doc_id, comp, quality, rnk = 1 AS kept
       |FROM rk ORDER BY doc_id""".stripMargin

  // --- simhash: per-doc 56-bit signature ---------------------------------

  private val POWERS: Array[Long] = (0 until SIMHASH_BITS).map(1L << _).toArray

  /** Majority-vote simhash of the token fingerprints via the native
    * codegen'd [[graft.functions.SimHashSignature]] expression — same
    * rationale as the MinHash expression (the HOF fold is interpreted
    * and boxes a 56-wide counter vector per token; MinHashSpec-style
    * equality with the fold is asserted in MinHashSpec's sibling
    * tests). */
  private def simhashOf(tokens: Column): Column =
    ColumnBridge.column(graft.functions.SimHashSignature(
      graft.functions.HashedNgrams(ColumnBridge.expression(tokens), 1),
      SIMHASH_BITS))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        simhashOf(TextFns.tokenize(col("text"))).as("simhash"))
      .orderBy(col("doc_id"))

  private val powersSqlList = POWERS.mkString("[", ", ", "]")

  private val simhashSqlExpr =
    s"""CAST(list_sum(list_transform($powersSqlList, p ->
       |  CASE WHEN 2 * len(list_filter(hs, h -> (h & p) <> 0)) > len(hs)
       |       THEN p ELSE 0 END)) AS BIGINT)""".stripMargin

  val simhashSql =
    s"""WITH t AS (SELECT doc_id, ${TextFns.tokenizeSql("text")} AS ts FROM documents),
       |h AS (SELECT doc_id, list_transform(ts, t -> ${hash56Sql("t")}) AS hs FROM t)
       |SELECT doc_id, $simhashSqlExpr AS simhash
       |FROM h ORDER BY doc_id""".stripMargin

  // --- simhash_dedup: chunk-LSH candidates + Hamming verify --------------

  def simhashDedup(spark: SparkSession, dir: String): DataFrame = {
    // Boundary: materialize the signature once — the chunk projection
    // references it 5× and both join sides below share the exchange.
    val sims = Tables.documents(spark, dir)
      .select(col("doc_id"),
        simhashOf(TextFns.tokenize(col("text"))).as("sim"))
      .repartition(col("doc_id"))
    // 4 chunks of 14 bits; Hamming ≤3 pairs must collide on ≥1 chunk.
    val chunks = sims.select(col("doc_id"), col("sim"),
        posexplode(array((0 until SIMHASH_CHUNKS).map(c =>
          shiftrightunsigned(col("sim"), c * CHUNK_BITS)
            .bitwiseAND(lit((1L << CHUNK_BITS) - 1))): _*)))
      .toDF("doc_id", "sim", "chunk_idx", "chunk_val")
    val cand = chunks
      .select(col("doc_id").as("doc_a"), col("sim").as("sim_a"),
        col("chunk_idx"), col("chunk_val"))
      .join(chunks.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"),
        col("chunk_idx"), col("chunk_val")), Seq("chunk_idx", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= HAMMING_THRESHOLD)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Ground-truth oracle: brute-force Hamming over the same simhashes
    * (chunk-LSH recall is exact for Hamming ≤ 3 by pigeonhole). */
  val simhashDedupSql =
    s"""WITH t AS (SELECT doc_id, ${TextFns.tokenizeSql("text")} AS ts FROM documents),
       |h AS (SELECT doc_id, list_transform(ts, t -> ${hash56Sql("t")}) AS hs FROM t),
       |s AS (SELECT doc_id, $simhashSqlExpr AS sim FROM h)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= $HAMMING_THRESHOLD
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- ngram_jaccard: blocked character-n-gram Jaccard -------------------

  /** Exact char-4-gram Jaccard for pairs within the same blocking key
    * (`source`) — the blocking pattern: quadratic work confined to
    * blocks, never a global cross join. */
  /** Bitmap-sketch width for the ngram pair prefilter (16 longs). */
  private val BLOOM_WORDS = 16
  private val BLOOM_BITS = BLOOM_WORDS * 64
  private val BIT64: Array[Long] = (0 until 64).map(1L << _).toArray
  private val WORD_IDX: Array[Int] = (0 until BLOOM_WORDS).toArray

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // Grams as packed-codepoint longs, not strings: the within-block
    // pairwise intersect/union then compares longs, and the packing is
    // collision-free (injective over ASCII/BMP — see GRAM_BITS).
    // NgramPack emits all grams in one rolling pass over the string —
    // the composed form (transform(sequence) + per-position substr,
    // with or without an md5 fingerprint) costs ~6s of this query's
    // bench at sf0.1 in per-gram expression machinery alone. The
    // repartition boundary materializes the gram arrays once — every
    // consumer below reuses the same exchange.
    val grams = Tables.documents(spark, dir)
      .filter(length(col("text")) >= NGRAM_N)
      .select(col("doc_id"), col("source"),
        array_distinct(ColumnBridge.column(graft.functions.NgramPack(
          ColumnBridge.expression(col("text")), NGRAM_N, GRAM_BITS))).as("g"))
      .withColumn("n", size(col("g")))
      .repartition(col("doc_id"))
    // 1024-bit one-hash bitmap of the gram set, as 16 flat long
    // columns built by conditional bit_or AGGREGATES over the exploded
    // grams. Two reasons for this shape over a per-row array fold:
    // aggregation outputs are physical attributes (a projection fold
    // would re-inline its whole pipeline into every downstream
    // reference — measured 5× on the pair filter), and HashAggregate
    // keeps all 16 words in primitive whole-stage codegen. The groupBy
    // reuses the doc_id partitioning, so no extra shuffle.
    //
    // The prefilter bound: popcount(bm_a AND bm_b) alone is NOT an
    // upper bound on |g_a ∩ g_b| — two shared grams can collide onto
    // one bit, undercounting the true intersection. The sound bound
    // adds the in-doc collision slack: shared grams that collide with
    // each other also collide inside either doc's own map, so
    //   |∩| ≤ popcount(bm_a AND bm_b) + min(n_a − p_a, n_b − p_b)
    // where p = popcount(bm) (distinct bits per doc, n − p = that
    // doc's collision count). Pairs whose bound misses the threshold
    // skip the exact set intersection entirely — ~16 AND+popcounts
    // instead of ~500 hash-set ops per pair, and provably no false
    // negatives at ANY data distribution, not just this fixture's.
    // Bitmap bit index comes from xxhash64 of the packed gram, NOT the
    // gram itself: packed codepoints cluster (the low 14 bits are the
    // last character, drawn from a ~30-letter alphabet), which would
    // pile the one-hash bitmap onto a few bits and gut its selectivity.
    // The mix is Spark-side only — the bitmap is a pure prefilter the
    // oracle never sees; gram IDENTITY stays the portable packing.
    val h = xxhash64(col("h"))
    val wordOf = ((pmod(h, lit(BLOOM_BITS.toLong)) - pmod(h, lit(64L))) / 64)
      .cast("int")
    val bitOf = element_at(typedlit(BIT64), pmod(h, lit(64L)).cast("int") + 1)
    // The 16 words travel as ONE struct column: flat bm0..bm15 columns
    // crossing the self-join send the optimizer's constraint
    // propagation exponential (planning hangs), while a single struct
    // attribute keeps planning linear and field access stays primitive
    // codegen (GetStructField on a join attribute).
    val bmdf = grams
      .select(col("doc_id"), explode(col("g")).as("h"))
      .select(col("doc_id"), wordOf.as("w"), bitOf.as("bit"))
      .groupBy(col("doc_id"))
      .agg(bit_or(when(col("w") === 0, col("bit")).otherwise(0L)).as("bm0"),
        WORD_IDX.tail.map(i =>
          bit_or(when(col("w") === i, col("bit")).otherwise(0L)).as(s"bm$i")): _*)
      .select(col("doc_id"),
        struct(WORD_IDX.map(i => col(s"bm$i").as(s"w$i")): _*).as("bm"),
        WORD_IDX.map(i => bit_count(col(s"bm$i")).cast("long"))
          .reduce(_ + _).as("p"))
    // Composite blocking key (source, length-octave): a qualifying
    // pair's bands differ by at most NGRAM_BAND_WINDOW (derivation at
    // the constant) — length-octave bands are a provably complete
    // refinement of the source block (pure necessary condition; the
    // brute-force-within-source oracle is unchanged). band = length
    // of n's binary form — an exact integer ⌊log2 n⌋+1, immune to the
    // FP-boundary noise of log(2.0, n). This is what keeps the key
    // space growing with the corpus: ~20 sources × octaves instead of
    // ~20 keys total, the m² pair work confined to (source,
    // octave-window) cells rather than whole sources, with AQE still
    // splitting any cell that stays skewed.
    val light = grams.select(col("source"), col("doc_id"), col("n"))
      .join(bmdf, "doc_id")
      .withColumn("band", length(bin(col("n"))))
    // The pair join carries ONLY (id, n, band, popcount, bitmap words)
    // — ~150B rows — never the gram arrays; a joined row with both
    // 240-element arrays costs ~4KB to materialize × every
    // within-block pair. The pairing is a plain shuffle equi-join on
    // the composite blocking key: both sides hash-partition on
    // (source, k), the m² work stays within each cell's partition.
    // (An earlier broadcast of the light side was faster at
    // bench scale but is an O(corpus) driver/executor allocation — a
    // scale-killer; the shuffle join is the 100 TB plan.)
    //
    // One-sided band expansion: ONLY side A explodes into
    // {band .. band+W}; side B joins on its own band (k = band_b ≥
    // band_a by construction, so band_a > band_b rows never join). A
    // cross-band qualifying pair meets in exactly one orientation —
    // the one whose A-side has the lower band — and an equal-band pair
    // meets in both, deduped by doc order below. Jaccard is symmetric,
    // so the swapped orientation is harmless: docs are re-canonicalized
    // with least/greatest after the prefilters. Same key-cardinality
    // growth as exploding both sides, half the pair-join input (the
    // round-5 two-sided {band, band+1} explode doubled join input for
    // a 22% candidate cut and cost +30% on the bench).
    val sideA = light.select(
      col("source"), col("doc_id").as("doc_a"), col("n").as("n_a"),
      col("band").as("band_a"), col("p").as("p_a"), col("bm").as("bm_a"),
      explode(sequence(col("band"), col("band") + NGRAM_BAND_WINDOW)).as("k"))
    val sideB = light.select(
      col("source"), col("doc_id").as("doc_b"), col("n").as("n_b"),
      col("band").as("band_b"), col("p").as("p_b"), col("bm").as("bm_b"),
      col("band").as("k"))
    val andPopcount = WORD_IDX
      .map(i => bit_count(col("bm_a").getField(s"w$i")
        .bitwiseAND(col("bm_b").getField(s"w$i"))).cast("long"))
      .reduce(_ + _)
    val survivors = sideA.join(sideB, Seq("source", "k"))
      // Exactly-once: cross-band matches only ever join with band_a <
      // band_b (see above); equal-band pairs meet in both orientations
      // and keep the doc_a < doc_b copy (which also drops self-pairs).
      .filter(col("band_a") =!= col("band_b") || col("doc_a") < col("doc_b"))
      // Size-ratio prefilter: J(a,b) ≥ t requires min|·| ≥ t·max|·|,
      // so pairs failing it skip the O(n) set work entirely (a pure
      // necessary condition — the oracle is unchanged).
      .filter(greatest(col("n_a"), col("n_b")) * NGRAM_THRESHOLD
        <= least(col("n_a"), col("n_b")))
      // Bitmap prefilter: J ≥ t requires |∩| ≥ t·(n_a+n_b)/(1+t); the
      // AND-popcount plus the smaller in-doc collision slack
      // upper-bounds |∩| (see proof above) — another pure necessary
      // condition, ~16 integer ops per pair. Both prefilters are
      // symmetric in (a, b), so orientation doesn't matter.
      .filter(
        (andPopcount
          + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")))
          * (1.0 + NGRAM_THRESHOLD)
          >= lit(NGRAM_THRESHOLD) * (col("n_a") + col("n_b")))
      .select(col("source"),
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        (col("n_a") + col("n_b")).as("n_sum"))
    // Exact verification fetches the gram arrays for survivors only.
    survivors
      .join(grams.select(col("doc_id").as("doc_a"), col("g").as("g_a")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("g").as("g_b")), "doc_b")
      // |∪| = n_a + n_b − |∩| (arrays are distinct): one set operation
      // per pair instead of two.
      .withColumn("inter",
        size(array_intersect(col("g_a"), col("g_b"))).cast("double"))
      .select(col("source"), col("doc_a"), col("doc_b"),
        round(col("inter") / (col("n_sum") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= NGRAM_THRESHOLD)
      .orderBy(col("source"), col("doc_a"), col("doc_b"))
  }

  /** The packed-codepoint gram in SQL: `cp % 2^bits` ≡ the expression's
    * `cp & mask` for non-negative codepoints, per-plane identical. */
  private val gramPackSql: String = (0 until NGRAM_N).map { o =>
    // Both factors must be BIGINT before the multiply: DuckDB keeps
    // `ascii(...) % 16384` and the shift literals in INT32, and
    // e.g. 101 * 2^28 overflows INT32 (round-6 gate failure).
    s"(CAST(ascii(substr(text, i + $o, 1)) AS BIGINT) % ${1L << GRAM_BITS}) * " +
      s"CAST(${1L << (GRAM_BITS * (NGRAM_N - 1 - o))} AS BIGINT)"
  }.mkString(" + ")

  val ngramJaccardSql =
    s"""WITH g AS (SELECT doc_id, source,
       |  list_distinct([$gramPackSql
       |                 for i in range(1, len(text) - ${NGRAM_N - 2})]) AS g
       |  FROM documents WHERE len(text) >= $NGRAM_N)
       |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
       |FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.g, b.g))) >= $NGRAM_THRESHOLD
       |ORDER BY source, doc_a, doc_b""".stripMargin

  // --- neardedup_ingest: single-batch LSH admission, LSH-exact oracle ----

  /** The streaming admission core ([[graft.streaming.StreamNearDedup]])
    * run over the whole corpus as one batch with empty state: admit
    * only the min-doc_id representative of every BAND-COLLISION
    * cluster. Unlike `near_dedup`, whose oracle sidesteps LSH with a
    * brute-force Jaccard (recall argument), this oracle replays the
    * ACTUAL MinHash band math in SQL — all 128 `(a·(x mod p)+b) mod p`
    * minhashes, the 31-ary band polynomials, the collision graph, and
    * the component minima — so the two engines must agree on every
    * band key bit-for-bit, false-positive collisions included. */
  def neardedupIngest(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamNearDedup.admitBatch(spark,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        graft.streaming.StreamNearDedup.emptyState(spark))
      ._1.select(col("doc_id")).orderBy(col("doc_id"))

  /** CTEs replaying the engine's ACTUAL band math in SQL — all 128
    * `(a·(x mod p)+b) mod p` minhashes and the 31-ary band polynomials
    * — ending in `bx` = every document's (doc_id, i = band_idx,
    * k = band_key) rows. Shared by the one-batch ingest oracle and the
    * paced multi-batch replay. */
  private val bandReplayCtes: String = {
    val minhashes = (0 until MINHASH_K).map { j =>
      s"list_min(list_transform(f, x -> (${MH_A(j)} * (x % $MH_P) + ${MH_B(j)}) % $MH_P))"
    }.mkString(",\n    ")
    val bandStructs = (0 until LSH_BANDS).map { b =>
      val poly = (0 until LSH_ROWS).map(r => s"m[${b * LSH_ROWS + r + 1}]")
        .reduce((acc, m) => s"($acc * 31 + $m)")
      s"{'i': $b, 'k': $poly}"
    }.mkString(",\n    ")
    s"""$shingleCtes,
       |f AS MATERIALIZED (SELECT doc_id,
       |  list_transform(s, t -> ${hash56Sql("t")}) AS f FROM sh),
       |mh AS MATERIALIZED (SELECT doc_id, [
       |    $minhashes] AS m FROM f),
       |bx AS MATERIALIZED (SELECT doc_id, u['i'] AS i, u['k'] AS k FROM (
       |  SELECT doc_id, unnest([
       |    $bandStructs]) AS u FROM mh))""".stripMargin
  }

  val neardedupIngestSql: String =
    s"""WITH RECURSIVE $bandReplayCtes,
       |be AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM bx a JOIN bx b ON a.i = b.i AND a.k = b.k AND a.doc_id <> b.doc_id),
       |r AS (
       |  SELECT s AS doc_id, s AS comp FROM be
       |  UNION
       |  SELECT be.d AS doc_id, r.comp AS comp
       |  FROM r JOIN be ON be.s = r.doc_id
       |  WHERE r.comp < be.d
       |)
       |SELECT d.doc_id AS doc_id FROM documents d
       |WHERE d.doc_id NOT IN (
       |  SELECT doc_id FROM r GROUP BY doc_id HAVING min(comp) < doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Slice modulus for `neardedup_probe`: docs with doc_id ≡ 0 are
    * the ingested state corpus, the rest the probe candidates — the
    * serving-tier shape (a large candidate stream probing a curated
    * core). */
  val PROBE_MOD = 4

  /** Read-only admission probe — the SERVING half of the streaming
    * near-dedup story ([[neardedupIngest]] is the write half): given
    * the persisted band-key state of an admitted corpus, answer
    * "would this document be admitted?" for a batch of candidates
    * WITHOUT mutating state. Per candidate the verdict is the pure
    * cross-batch rule — `n_hits` of its LSH bands colliding with the
    * state, admit iff zero (a lone probe has no intra-batch cluster
    * step) — and the whole probe is one equi-join on
    * (band_idx, band_key) against the state table: exactly the lookup
    * shape the externalized state was designed for, so at 100 TB it is
    * a keyed point-read per band against the transactional store while
    * candidate minhashing stays embarrassingly parallel. The gate form
    * ingests the non-holdout slice from empty state (one batch, the
    * ingest query's own math) and probes the holdout. */
  /** Per-candidate probe verdict against an admitted band-key state —
    * THE one definition behind the gate query and the Repl's
    * single-candidate `admit` (a drifting copy would desynchronize
    * the interactive verdict from the oracle-checked one): count each
    * candidate's LSH bands colliding with the state, admit iff zero. */
  private def probeVerdicts(stateKeys: DataFrame,
      candidates: DataFrame): DataFrame = {
    val state = stateKeys.select(col("band_idx"), col("band_key")).distinct()
    val hits = bandKeys(candidates)
      .join(state, Seq("band_idx", "band_key"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    candidates.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).cast("long").as("n_hits"),
        (coalesce(col("hits"), lit(0L)) === 0).as("would_admit"))
  }

  def neardedupProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val (_, stateKeys) = graft.streaming.StreamNearDedup
      .admitBatch(spark, docs.filter(col("doc_id") % PROBE_MOD === 0),
        graft.streaming.StreamNearDedup.emptyState(spark))
    probeVerdicts(stateKeys,
      docs.filter(col("doc_id") % PROBE_MOD =!= 0))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the [[neardedupIngestSql]] replay restricted to the state
    * slice (same recursive min-label closure over its collision graph)
    * to derive the admitted set, then each probe doc's band rows
    * counted against the admitted docs' distinct band keys. */
  val neardedupProbeSql: String =
    s"""WITH RECURSIVE $bandReplayCtes,
       |sbx AS MATERIALIZED (
       |  SELECT doc_id, i, k FROM bx WHERE doc_id % $PROBE_MOD = 0),
       |be AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM sbx a JOIN sbx b ON a.i = b.i AND a.k = b.k AND a.doc_id <> b.doc_id),
       |r AS (
       |  SELECT s AS doc_id, s AS comp FROM be
       |  UNION
       |  SELECT be.d AS doc_id, r.comp AS comp
       |  FROM r JOIN be ON be.s = r.doc_id
       |  WHERE r.comp < be.d
       |),
       |adm AS MATERIALIZED (
       |  SELECT d.doc_id FROM documents d
       |  WHERE d.doc_id % $PROBE_MOD = 0 AND d.doc_id NOT IN (
       |    SELECT doc_id FROM r GROUP BY doc_id HAVING min(comp) < doc_id)),
       |sk AS MATERIALIZED (
       |  SELECT DISTINCT i, k FROM sbx JOIN adm USING (doc_id)),
       |h AS (
       |  SELECT p.doc_id, count(*) AS n_hits
       |  FROM bx p JOIN sk ON p.i = sk.i AND p.k = sk.k
       |  WHERE p.doc_id % $PROBE_MOD <> 0
       |  GROUP BY p.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  coalesce(h.n_hits, 0) = 0 AS would_admit
       |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
       |WHERE d.doc_id % $PROBE_MOD <> 0
       |ORDER BY d.doc_id""".stripMargin

  /** Interactive single-candidate form of [[neardedupProbe]] (the
    * Repl's `admit <doc_id>`): would `docId` be admitted against the
    * state the REST of the corpus ingests? Same per-candidate verdict
    * columns as the gate query. */
  def probeOne(spark: SparkSession, dir: String, docId: Long): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val (_, stateKeys) = graft.streaming.StreamNearDedup.admitBatch(spark,
      docs.filter(col("doc_id") =!= docId),
      graft.streaming.StreamNearDedup.emptyState(spark))
    probeVerdicts(stateKeys, docs.filter(col("doc_id") === docId))
  }

  /** Number of staged files (= micro-batches) for the PACED streaming
    * gate query; batch k holds doc_id ≡ k (mod PACED_BATCHES), which is
    * what lets the oracle replay the exact batch boundaries in SQL. */
  val PACED_BATCHES = 3

  /** Oracle for `stream_neardedup_paced`: the [[neardedupIngestSql]]
    * replay UNROLLED over the staged batch boundaries. Per batch k —
    * docs with doc_id ≡ k (mod [[PACED_BATCHES]]) — the replay drops
    * docs whose band keys collide with the accumulated admitted state
    * (`stK`), clusters the survivors' intra-batch collision graph
    * (recursive min-label closure `rK`), admits each cluster's minimum,
    * and folds the admitted docs' band keys into the state for batch
    * k+1. Emitting `batch_id = doc_id % PACED_BATCHES` makes the gate
    * sensitive to the ENGINE's batching: if the file source lumped two
    * staged files into one trigger (or reordered them), the admitted
    * set itself would shift wherever a cross-batch drop should have
    * been an intra-batch clustering (or vice versa). This certifies the
    * live engine's cross-batch state path — the piece the one-batch
    * `stream_neardedup_live` gate deliberately leaves to MemoryStream
    * tests. */
  val streamNearDedupPacedSql: String = {
    val perBatch = (0 until PACED_BATCHES).map { k =>
      val docs = s"SELECT doc_id FROM documents WHERE doc_id % $PACED_BATCHES = $k"
      val surv =
        if (k == 0) s"sv0 AS MATERIALIZED ($docs)"
        else
          s"""sv$k AS MATERIALIZED (SELECT doc_id FROM ($docs)
             |  WHERE doc_id NOT IN (
             |    SELECT DISTINCT bx.doc_id FROM bx
             |    JOIN st${k - 1} ON bx.i = st${k - 1}.i AND bx.k = st${k - 1}.k))""".stripMargin
      val newState =
        s"SELECT bx.i, bx.k FROM bx WHERE bx.doc_id IN (SELECT doc_id FROM adm$k)"
      val state =
        if (k == 0) s"st0 AS MATERIALIZED ($newState)"
        else
          s"""st$k AS MATERIALIZED (
             |  SELECT i, k FROM st${k - 1} UNION $newState)""".stripMargin
      s"""$surv,
         |be$k AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
         |  FROM bx a JOIN bx b ON a.i = b.i AND a.k = b.k AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM sv$k)
         |    AND b.doc_id IN (SELECT doc_id FROM sv$k)),
         |r$k AS (
         |  SELECT s AS doc_id, s AS comp FROM be$k
         |  UNION
         |  SELECT be$k.d AS doc_id, r$k.comp AS comp
         |  FROM r$k JOIN be$k ON be$k.s = r$k.doc_id
         |  WHERE r$k.comp < be$k.d
         |),
         |adm$k AS MATERIALIZED (SELECT doc_id FROM sv$k WHERE doc_id NOT IN (
         |  SELECT doc_id FROM r$k GROUP BY doc_id HAVING min(comp) < doc_id)),
         |$state""".stripMargin
    }.mkString(",\n")
    val admitted = (0 until PACED_BATCHES)
      .map(k => s"SELECT doc_id FROM adm$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bandReplayCtes,
       |$perBatch
       |SELECT doc_id, doc_id % $PACED_BATCHES AS batch_id
       |FROM ($admitted) ORDER BY doc_id""".stripMargin
  }

  /** Oracle for `stream_keepbest_paced`: the keep-best admission
    * ([[graft.streaming.StreamKeepBest]]) replay UNROLLED over the
    * same staged batch boundaries as [[streamNearDedupPacedSql]].
    * Per batch k: docs whose band keys collide with the accumulated
    * cluster footprint (`st(k-1)`) challenge their (min) cluster —
    * the best of {incumbent canonical (`cn(k-1)`)} ∪ {challengers} by
    * (quality DESC, doc_id) takes the seat (`replace`/`drop`);
    * non-colliding docs cluster intra-batch exactly like the
    * first-touch replay but admit the best-QUALITY member (`new`),
    * and only winners' band keys (tagged with their cluster) fold
    * into the state. The final `kept` flag is the per-cluster global
    * argmax — equal to the running argmax by the total-order
    * invariant — and singleton clusters are dropped from the output
    * (the batch keep-best gate's clustered-docs-only posture).
    * LAZY for the same val-init-order reason as [[dedupKeepBestSql]]
    * (references Pipeline.docQualitySql). */
  lazy val streamKeepBestPacedSql: String = {
    val nb = PACED_BATCHES
    def cluster(k: Int, surv: String): String =
      s"""$surv,
         |be$k AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
         |  FROM bx a JOIN bx b ON a.i = b.i AND a.k = b.k AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM sv$k)
         |    AND b.doc_id IN (SELECT doc_id FROM sv$k)),
         |r$k AS (
         |  SELECT s AS doc_id, s AS comp FROM be$k
         |  UNION
         |  SELECT be$k.d AS doc_id, r$k.comp AS comp
         |  FROM r$k JOIN be$k ON be$k.s = r$k.doc_id
         |  WHERE r$k.comp < be$k.d
         |),
         |cm$k AS MATERIALIZED (
         |  SELECT doc_id, min(comp) AS comp FROM r$k GROUP BY doc_id),
         |sc$k AS MATERIALIZED (
         |  SELECT s.doc_id, coalesce(c.comp, s.doc_id) AS comp, q.quality,
         |    row_number() OVER (PARTITION BY coalesce(c.comp, s.doc_id)
         |      ORDER BY q.quality DESC, s.doc_id) AS rn
         |  FROM sv$k s LEFT JOIN cm$k c ON s.doc_id = c.doc_id
         |  JOIN dq q ON s.doc_id = q.doc_id)""".stripMargin
    val perBatch = (0 until nb).map { k =>
      if (k == 0)
        s"""${cluster(0, s"sv0 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % $nb = 0)")},
           |ev0 AS MATERIALIZED (
           |  SELECT doc_id, comp, quality, CAST(0 AS BIGINT) AS batch_id,
           |    CASE WHEN rn = 1 THEN 'new' ELSE 'drop' END AS action FROM sc0),
           |cn0 AS MATERIALIZED (SELECT comp, doc_id, quality FROM sc0 WHERE rn = 1),
           |st0 AS MATERIALIZED (
           |  SELECT b.i, b.k, s.comp FROM bx b
           |  JOIN sc0 s ON b.doc_id = s.doc_id WHERE s.rn = 1)""".stripMargin
      else {
        val p = k - 1
        val surv =
          s"""ht$k AS MATERIALIZED (
             |  SELECT b.doc_id, min(st.comp) AS comp
             |  FROM bx b JOIN st$p st ON b.i = st.i AND b.k = st.k
             |  WHERE b.doc_id % $nb = $k GROUP BY b.doc_id),
             |sv$k AS MATERIALIZED (
             |  SELECT doc_id FROM documents WHERE doc_id % $nb = $k
             |    AND doc_id NOT IN (SELECT doc_id FROM ht$k))""".stripMargin
        s"""${cluster(k, surv)},
           |ct$k AS MATERIALIZED (
           |  SELECT h.comp, h.doc_id, q.quality, FALSE AS inc
           |  FROM ht$k h JOIN dq q ON h.doc_id = q.doc_id
           |  UNION ALL
           |  SELECT comp, doc_id, quality, TRUE AS inc FROM cn$p),
           |rk$k AS MATERIALIZED (
           |  SELECT comp, doc_id, quality, inc, row_number() OVER (
           |    PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn
           |  FROM ct$k),
           |ev$k AS MATERIALIZED (
           |  SELECT doc_id, comp, quality, CAST($k AS BIGINT) AS batch_id,
           |    CASE WHEN rn = 1 THEN 'new' ELSE 'drop' END AS action FROM sc$k
           |  UNION ALL
           |  SELECT doc_id, comp, quality, CAST($k AS BIGINT) AS batch_id,
           |    CASE WHEN rn = 1 THEN 'replace' ELSE 'drop' END AS action
           |  FROM rk$k WHERE NOT inc),
           |cn$k AS MATERIALIZED (
           |  SELECT comp, doc_id, quality FROM rk$k WHERE rn = 1
           |  UNION ALL
           |  SELECT comp, doc_id, quality FROM sc$k WHERE rn = 1),
           |st$k AS MATERIALIZED (
           |  SELECT i, k, comp FROM st$p
           |  UNION ALL
           |  SELECT b.i, b.k, w.comp FROM bx b JOIN (
           |    SELECT doc_id, comp FROM sc$k WHERE rn = 1
           |    UNION ALL
           |    SELECT doc_id, comp FROM rk$k WHERE NOT inc AND rn = 1) w
           |  ON b.doc_id = w.doc_id)""".stripMargin
      }
    }.mkString(",\n")
    val evAll = (0 until nb).map(k => s"SELECT * FROM ev$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bandReplayCtes,
       |dq AS MATERIALIZED (SELECT doc_id, quality FROM
       |  (${graft.operators.Pipeline.docQualitySql}) x),
       |$perBatch,
       |ev AS MATERIALIZED ($evAll),
       |big AS MATERIALIZED (
       |  SELECT comp FROM ev GROUP BY comp HAVING count(*) >= 2)
       |SELECT doc_id, comp, quality, batch_id, action,
       |  row_number() OVER (PARTITION BY comp
       |    ORDER BY quality DESC, doc_id) = 1 AS kept
       |FROM ev WHERE comp IN (SELECT comp FROM big)
       |ORDER BY doc_id""".stripMargin
  }

  // --- span_dedup: C4-style cross-document span removal ------------------
  /** C4's line-level dedup (Raffel et al. 2020, §2.2 "we discarded all
    * but one of any three-sentence span occurring more than once")
    * re-expressed for this corpus's unpunctuated token stream: each
    * document splits into consecutive [[SPAN_TOKENS]]-token spans (the
    * tail span keeps its remainder), every span occurring more than
    * once in the corpus keeps ONLY its first occurrence — minimum
    * (doc_id, span_idx) — and documents are reassembled from their
    * surviving spans. Unlike the document-level family above, this
    * REWRITES documents: the output carries the cleaned text plus
    * per-doc span accounting.
    *
    * Scale shape: one explode (n/[[SPAN_TOKENS]] rows per doc), one
    * shuffle on the span's 56-bit fingerprint (spans travel as 8-byte
    * hashes + their source coordinates; the text itself stays in the
    * per-doc reassembly), a first-occurrence window within each
    * fingerprint group (groups are occurrence lists — tiny except for
    * genuinely duplicated content), and one per-doc re-aggregation.
    * Identical dataflow at 100 TB; the only growing group is a span
    * duplicated across the whole corpus, which is exactly the content
    * the operator exists to remove. 56-bit collisions: ~|spans|²/2^57,
    * a false merge drops one span — the near_dedup/hash56 posture. */
  val SPAN_TOKENS = 10

  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Gate projection of [[spanDedup]]: the rebuilt text travels as its
    * 56-bit fingerprint + character length rather than the raw multi-kB
    * string. Round 10's only hash-red entry was this query, and the
    * repo's local comparator could not reproduce the driver's mismatch
    * on bit-identical parquet — the one distinguishing feature was the
    * free-text `cleaned_text` column, which (columns sorted by name)
    * also became the PRIMARY row-sort key of the comparison. Hashing it
    * keeps full value sensitivity while making every gate column a
    * fixed-width scalar and restoring `doc_id` as the leading sort
    * column. [[spanDedupOf]] remains the text-returning library API. */
  def spanDedupGate(spark: SparkSession, dir: String): DataFrame =
    spanDedup(spark, dir).select(
      col("doc_id"), col("n_spans"), col("n_kept"),
      TextFns.hash56(col("cleaned_text")).as("text_h56"),
      length(col("cleaned_text")).cast("long").as("text_len"))

  /** [[spanDedup]] over an arbitrary `(doc_id, text)` frame — the
    * fuzz spec drives generated corpora through it (the shinglesOf
    * pattern). */
  def spanDedupOf(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), TextFns.tokenize(col("text")).as("ts"))
    val spans = base
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(col("ts")) / lit(SPAN_TOKENS.toDouble)).cast("int") - 1),
          i => concat_ws(" ", slice(col("ts"), i * SPAN_TOKENS + 1, lit(SPAN_TOKENS)))))
          .as(Seq("span_idx", "span")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("span_idx"))
    val marked = spans
      .withColumn("h", TextFns.hash56(col("span")))
      .withColumn("kept", row_number().over(w) === 1)
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("span_idx"), col("span"))))),
          s => s.getField("span"))).as("cleaned_text"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[spanDedupGate]]. Round 11's only driver-red row was
    * this query, with the engine output proven correct by three-way
    * agreement (Spark local[4]≡local[32], DuckDB 1.0.0 local gate,
    * pure-Python replay) — the mismatch was the driver's DuckDB
    * evaluating one of the oracle's uniquely-used constructs
    * differently. This formulation drops all three suspects: spans are
    * derived from token ORDINALS (zipped `unnest` +
    * `generate_subscripts`, the Postgres-era construct family) instead
    * of a correlated `CROSS JOIN unnest(range(...))`; each span is
    * rebuilt with `string_agg(token ORDER BY ord)` per
    * `(doc_id, span_idx)` instead of `ts[a:b]` slice sugar; and kept
    * rows are filtered in a CTE BEFORE any aggregate, so no
    * NULL-skipping `string_agg(CASE WHEN ...)` remains. Verified
    * value-identical to the previous formulation on sf0.01 under
    * DuckDB 1.0.0; `scripts/check.py` pins each construct with a named
    * self-probe. */
  val spanDedupSql = {
    val ts = TextFns.tokenizeSql("text")
    s"""WITH d AS (SELECT doc_id, $ts AS ts FROM documents),
       |tk AS (SELECT doc_id, unnest(ts) AS tok,
       |    generate_subscripts(ts, 1) AS ord FROM d),
       |sp AS (SELECT doc_id,
       |    CAST(floor((ord - 1) / ${SPAN_TOKENS}.0) AS INT) AS span_idx,
       |    string_agg(tok, ' ' ORDER BY ord) AS span
       |  FROM tk GROUP BY doc_id, span_idx),
       |mk AS (SELECT doc_id, span_idx, span,
       |    row_number() OVER (PARTITION BY ${TextFns.hash56Sql("span")}
       |      ORDER BY doc_id, span_idx) = 1 AS kept
       |  FROM sp),
       |cnt AS (SELECT doc_id, count(*) AS n_spans FROM mk GROUP BY doc_id),
       |kp AS (SELECT doc_id, span_idx, span FROM mk WHERE kept),
       |kpa AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(span, ' ' ORDER BY span_idx) AS cleaned_text
       |  FROM kp GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(cnt.n_spans, 0) AS n_spans,
       |  coalesce(kpa.n_kept, 0) AS n_kept,
       |  ${TextFns.hash56Sql(s"coalesce(kpa.cleaned_text, '')")} AS text_h56,
       |  CAST(length(coalesce(kpa.cleaned_text, '')) AS BIGINT) AS text_len
       |FROM d LEFT JOIN cnt USING (doc_id)
       |LEFT JOIN kpa USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  override def entries: Seq[QueryDef] = Seq(
    QueryDef("span_dedup", spanDedupGate, Some(spanDedupSql),
      "C4-style span dedup: first occurrence kept, docs rewritten"),
    QueryDef("neardedup_ingest", neardedupIngest, Some(neardedupIngestSql),
      "LSH band-collision cluster admission (streaming core, one batch)"),
    QueryDef("neardedup_probe", neardedupProbe, Some(neardedupProbeSql),
      "read-only admission probe of a holdout vs the ingested band state"),
    QueryDef("near_dedup", nearDedup, Some(nearDedupSql),
      "MinHash + banded LSH near-dup pairs, exact-Jaccard verified"),
    QueryDef("near_dedup_salted", nearDedupSalted, Some(nearDedupSql),
      "the same pairs with hot LSH buckets salted across the shuffle"),
    QueryDef("decontaminate_fuzzy", decontaminateFuzzy, Some(decontaminateFuzzySql),
      "MinHash-LSH decontamination vs the eval slice (fuzzy complement)"),
    QueryDef("simhash", simhash, Some(simhashSql),
      "56-bit SimHash signature per document"),
    QueryDef("simhash_dedup", simhashDedup, Some(simhashDedupSql),
      "SimHash chunk-LSH pairs within Hamming threshold"),
    QueryDef("ngram_jaccard", ngramJaccard, Some(ngramJaccardSql),
      "blocked char-4-gram Jaccard pairs within source"),
    QueryDef("dedup_components", dedupComponents, Some(dedupComponentsSql),
      "connected components of the near-dup graph (dedup clusters)"),
    QueryDef("dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql),
      "quality-aware canonical: keep each cluster's best member"))
}
