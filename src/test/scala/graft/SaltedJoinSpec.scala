package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Hot-bucket salting for the LSH candidate self-join: the salted
  * generator must emit exactly the plain generator's pair set — on a
  * PLANTED hot bucket far past the threshold (the shape the fixture
  * cannot produce), with cold buckets and a sub-threshold near-hot
  * bucket mixed in — and the plan must spread the hot bucket over the
  * salt key instead of a single straggler partition. */
class SaltedJoinSpec extends SparkSpecBase {
  import spark.implicits._

  /** 60 ids in one hot bucket, 3 in a near-hot one (== threshold + 1
    * exactly when threshold = 2), cold buckets of 2 and 1, plus one id
    * present in both a hot and a cold bucket (cross-path dedup). */
  private def bands = (
    (1L to 60L).map(i => (i, 0, 111L)) ++
      Seq((100L, 1, 222L), (101L, 1, 222L), (102L, 1, 222L)) ++
      Seq((200L, 2, 333L), (201L, 2, 333L)) ++
      Seq((300L, 3, 444L)) ++
      Seq((60L, 2, 333L))
  ).toDF("doc_id", "band_idx", "band_key")

  private def naivePairs = {
    val b = bands
    b.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
      .join(b.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  test("salted pairs equal the plain self-join pairs on a planted hot bucket") {
    val salted = Dedup.saltedBucketPairs(bands, "doc_id",
      Dedup.HOT_BUCKET_THRESHOLD, Dedup.SALT_FACTOR)
      .as[(Long, Long)].collect().toSet
    val naive = naivePairs.as[(Long, Long)].collect().toSet
    assert(salted == naive)
    // The planted bucket alone contributes C(60,2) pairs — the salted
    // path did real work, this isn't a cold-only run.
    assert(naive.size >= 60 * 59 / 2)
  }

  test("salted plan: pair joins shuffle on the salt key, only hot-key sets broadcast") {
    // Disable stats-driven auto-broadcast so the toy frame plans like a
    // big one: what remains broadcast is exactly the explicit
    // broadcast(hot) hints (the O(outliers) key set).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val p =
      try {
        spark.conf.set(key, "-1")
        Dedup.saltedBucketPairs(bands, "doc_id", 2, 4)
          .queryExecution.executedPlan.toString
      } finally spark.conf.set(key, saved)
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // The hot pair join must be a SHUFFLE join keyed on the salt.
    assert("""(SortMergeJoin|ShuffledHashJoin)[^\n]*salt""".r.findFirstIn(p).nonEmpty,
      s"no shuffle join on the salt key:\n$p")
    // Row sides never broadcast: every broadcast join is a semi/anti
    // probe against the hot key set.
    val broadcasts = """BroadcastHashJoin[^\n]*""".r.findAllIn(p).toSeq
    assert(broadcasts.nonEmpty && broadcasts.forall(b =>
      b.contains("LeftSemi") || b.contains("LeftAnti")),
      s"a pair join broadcast a row side:\n$p")
  }

  test("salted pairs equal naive pairs on random band frames") {
    // Randomized tail coverage past the planted shapes: occupancies
    // straddling the threshold, ids colliding across buckets, salt
    // factors 2..6. Few samples — each drives the real join pipeline.
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { _ =>
      val rows = Seq.fill(30 + rnd.nextInt(60))(
        (rnd.nextInt(25).toLong, rnd.nextInt(3), 100L + rnd.nextInt(6)))
        .distinct
      val df = rows.toDF("doc_id", "band_idx", "band_key")
      val thresh = 1 + rnd.nextInt(4)
      val saltF = 2 + rnd.nextInt(5)
      val salted = Dedup.saltedBucketPairs(df, "doc_id", thresh, saltF)
        .as[(Long, Long)].collect().toSet
      val naive = df.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
        .join(df.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_key")),
          Seq("band_idx", "band_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
        .as[(Long, Long)].collect().toSet
      assert(salted == naive,
        s"mismatch at thresh=$thresh salt=$saltF on ${rows.size} rows")
    }
  }

  test("bucketPairs auto-salts past the occupancy trigger, not below it") {
    // The occupancy-triggered selection in the MAIN nearDedup path:
    // same pair set either way (that's saltedBucketPairs' contract,
    // pinned above); here we pin WHICH generator the probe picks.
    val naive = naivePairs.as[(Long, Long)].collect().toSet
    val below = Dedup.bucketPairs(bands, hotOccupancy = 60)
      .as[(Long, Long)].collect().toSet
    assert(!Dedup.lastAutoSalted.get, "occupancy 60 must not trip a 60 threshold")
    val above = Dedup.bucketPairs(bands, hotOccupancy = 59)
      .as[(Long, Long)].collect().toSet
    assert(Dedup.lastAutoSalted.get, "occupancy 60 must trip a 59 threshold")
    assert(below == naive && above == naive)
    // The production default stays cold on the fixture corpus: the
    // gates bench the plain exchange-lean plan.
    Dedup.bucketPairs(Dedup.bandKeys(
      Tables.documents(spark, sfDir)).localCheckpoint()).count()
    assert(!Dedup.lastAutoSalted.get,
      "fixture corpus unexpectedly trips AUTO_SALT_OCCUPANCY")
  }

  test("near_dedup_salted equals near_dedup on the fixture") {
    val plain = SparkEntry.queries("near_dedup")(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    val salted = SparkEntry.queries("near_dedup_salted")(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(salted == plain && plain.nonEmpty)
  }
}
