package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-technique operators (brief north star; no single reference
  * counterpart — these are the cluster idioms the 100 TB posture keeps
  * citing, made concrete and oracle-checked):
  *
  *   - `bucketed_join`: storage-layer bucketing. Both join sides are
  *     written `bucketBy(N, key)` so the join needs NO exchange — the
  *     Spark-native form of the reference's "Schimmy" co-partitioned
  *     merge pattern (`RunPageRankSchimmy.java`, dead in the reference,
  *     live here at the storage layer where it belongs).
  *   - `skew_safe_distinct`: the composite-key two-phase pattern for
  *     skewed distinct aggregation — shuffle on (hot key, secondary)
  *     first (uniform), reduce to the hot key second (tiny). The same
  *     move generalizes to salting: split a hot group key by a
  *     secondary column, aggregate in two phases.
  */
object ScaleOps extends QueryModule {

  val BUCKETS = 8

  /** Exact-sum helper (oracle parity, as in Relational). */
  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** Scratch location for this module's written tables, keyed by
    * dataset and JVM: fixed paths let a concurrent run (tests vs a
    * Verify at another scale factor) overwrite files out from under a
    * deferred scan. */
  private[operators] def scratchDir(kind: String, dir: String): String = {
    val ds = new java.io.File(dir).getName
    graft.Scratch.deleteAtExit(
      s"${graft.Scratch.root}/graft_${kind}_${ds}_pid${ProcessHandle.current().pid()}")
  }

  // --- bucketed_join: co-located join via bucketBy -----------------------
  /** Writes slim orders/lineitem projections as external bucketed
    * tables (same bucket count, same key), then joins them back.
    * With both sides bucketed on the join key, the SortMergeJoin reads
    * co-located buckets directly — `.explain` shows NO Exchange under
    * the join (PlanSpec asserts it). At 100 TB this is the idiom for
    * repeatedly-joined fact tables: pay the partitioned write once,
    * skip the join shuffle forever after. The write goes to the JVM
    * temp dir as EXTERNAL tables so no warehouse dir is created under
    * the repo; `mode(Overwrite)` keeps the query re-runnable. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = scratchDir("bucketed", dir)
    // The two bucketed writes are independent scan→bucket→write chains
    // into separate tables — run them concurrently (guide §2.6; the
    // r20 build-overlap posture) and settle both before the join reads.
    locally {
      import scala.concurrent.ExecutionContext.Implicits.global
      graft.streaming.StreamingOps.awaitAll(Seq(
        scala.concurrent.Future {
          Tables.orders(spark, dir)
            .select(col("o_orderkey"), col("o_orderdate"))
            .write.format("parquet")
            .bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$base/orders")
            .mode("overwrite").saveAsTable("graft_orders_bkt")
        },
        scala.concurrent.Future {
          Tables.lineitem(spark, dir)
            .select(col("l_orderkey"), col("l_quantity"))
            .write.format("parquet")
            .bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$base/lineitem")
            .mode("overwrite").saveAsTable("graft_lineitem_bkt")
        }))
    }
    bucketedJoinRead(spark)
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("order_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(dec2(col("l_quantity"))), 2).cast("double").as("sum_qty"))
      .orderBy(col("order_year"))
  }

  /** The exchange-free joined read over the bucketed tables (split out
    * so PlanSpec can assert the no-Exchange property on the join alone,
    * before the aggregation adds its own legitimate exchange). */
  def bucketedJoinRead(spark: SparkSession): DataFrame =
    spark.table("graft_lineitem_bkt")
      .join(spark.table("graft_orders_bkt"),
        col("l_orderkey") === col("o_orderkey"))

  val bucketedJoinSql =
    """SELECT strftime(o_orderdate, '%Y') AS order_year, count(*) AS n_items,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY order_year ORDER BY order_year""".stripMargin

  // --- partitioned_scan: partitionBy write → partition-pruned read -------
  /** Hive-style partitioned layout: documents written
    * `partitionBy("lang")`, read back with a `lang` filter. The filter
    * becomes a PARTITION filter (PlanSpec asserts `PartitionFilters`
    * carries it), so the scan never opens the other partitions'
    * files — at 100 TB this is the difference between reading one
    * directory and reading the lake. The aggregation then runs over
    * the surviving partition only. */
  val SCAN_LANG = "en"

  def partitionedScan(spark: SparkSession, dir: String): DataFrame = {
    val base = scratchDir("partitioned", dir)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      .write.partitionBy("lang").mode("overwrite").parquet(base)
    partitionedScanRead(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        CAST_BIGINT(sum(col("n_chars"))).as("total_chars"))
      .orderBy(col("source"))
  }

  /** The pruned read alone (split out for PlanSpec's assertion), under
    * the written columns' declared schema, `lang` the partition column. */
  def partitionedScanRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType(
        Seq("doc_id", "source", "n_chars", "lang").map(Tables.schemas("documents")(_))))
      .parquet(scratchDir("partitioned", dir))
      .filter(col("lang") === SCAN_LANG)

  private def CAST_BIGINT(c: org.apache.spark.sql.Column) = c.cast("long")

  val partitionedScanSql =
    s"""SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents WHERE lang = '$SCAN_LANG'
       |GROUP BY source ORDER BY source""".stripMargin

  // --- skew_safe_distinct: two-phase distinct over a skewed key ----------
  /** events has 5 event types over ~2M rows at sf0.1 — a groupBy on
    * event_type alone leaves ≤5 reducers doing all the work. Distinct
    * users per type therefore shuffles on the COMPOSITE (event_type,
    * user_id) first — uniformly distributed — and reduces the already-
    * tiny distinct set per type second. The plain totals ride a
    * separate partial-aggregated pass (count/sum are algebraic, so
    * map-side combine already defuses their skew) and join back on the
    * 5-row key. */
  def skewSafeDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val distinctUsers = e.select(col("event_type"), col("user_id"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    val totals = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(dec2(col("value"))), 2).cast("double").as("sum_value"))
    totals.join(distinctUsers, Seq("event_type"))
      .orderBy(col("event_type"))
  }

  val skewSafeDistinctSql =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- asof_join: latest order at-or-before each event -------------------
  /** As-of join — the canonical operator Spark's built-ins lack: each
    * event picks the SAME-KEY row with the largest timestamp ≤ its
    * own. Composed scale-safely (brief's preference ladder rung (a)):
    * tag both sides, union, and carry the last non-null order forward
    * with `last(..., ignoreNulls) OVER (PARTITION BY key ORDER BY ts,
    * side)` — ONE co-partitioned shuffle on the key and a single
    * window pass, where an inequality join would build a per-key range
    * product. Orders are pre-deduped per (key, ts) with a max-orderkey
    * tiebreak and sort before events at equal ts, so the ≥-inclusive
    * match is deterministic. Unmatched events surface as sentinel
    * (-1, epoch) rather than nulls. The DuckDB oracle is an
    * INDEPENDENT implementation — its native `ASOF LEFT JOIN`. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val tagged = e.select(col("user_id").as("k"), col("ts").as("t"),
        col("event_id"), lit(null).cast("long").as("okey"),
        lit(null).cast("timestamp").as("odate"), lit(1).as("is_event"))
      .unionAll(o.select(col("o_custkey").as("k"), col("o_orderdate").as("t"),
        lit(null).cast("long").as("event_id"), col("o_orderkey").as("okey"),
        col("o_orderdate").as("odate"), lit(0).as("is_event")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"), col("is_event"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tagged
      .withColumn("m_okey", last(col("okey"), ignoreNulls = true).over(w))
      .withColumn("m_odate", last(col("odate"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ts"),
        coalesce(col("m_okey"), lit(-1L)).as("o_orderkey"),
        coalesce(col("m_odate"), lit("1970-01-01 00:00:00").cast("timestamp"))
          .as("o_orderdate"))
      .orderBy(col("event_id"))
  }

  val asofJoinSql =
    """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |           FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.user_id, e.ts,
      |  coalesce(o.o_orderkey, -1) AS o_orderkey,
      |  coalesce(o.o_orderdate, TIMESTAMP '1970-01-01') AS o_orderdate
      |FROM events e ASOF LEFT JOIN o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  // --- interval_join: point-in-interval via time-bin bucketing -----------
  /** Interval containment join — assign every event to the session
    * interval that contains it. The naive plan for
    * `e.user = s.user AND e.ts BETWEEN s.start AND s.end` is an
    * equi-join on the user followed by a filter, i.e. a PER-KEY RANGE
    * PRODUCT: a power user with 10⁴ events × 10³ sessions builds 10⁷
    * intermediate rows before the filter throws almost all away. The
    * scale-safe form (Flink's interval join, DuckDB/KDB range joins)
    * buckets time into fixed bins: intervals explode to the few bins
    * they overlap, points map to exactly ONE bin, and the equi-join
    * key becomes (user, bin) — the intermediate size collapses to
    * matches + same-bin near-misses, and because the point side has a
    * single bin per row, a (point, interval) pair can only meet once:
    * no post-join dedup. Bin width trades explode factor (long
    * intervals) against bin population (busy bins); 1 h ≈ 2× the
    * session gap keeps both O(1) here.
    *
    * Sessions are the `session_window` output (disjoint half-open
    * [start, end) per user by construction), so every event lands in
    * exactly one session and the output is exactly one row per event.
    * The DuckDB oracle is the INDEPENDENT naive form: gaps-and-islands
    * sessionization + a BETWEEN join. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val sess = graft.streaming.StreamingOps.userSessions(events)
    val binned = sess.select(col("user_id"), col("session_start"),
        col("session_end"), col("n_events"),
        explode(sequence(date_trunc("hour", col("session_start")),
          date_trunc("hour", col("session_end")),
          expr("interval 1 hour"))).as("bin"))
    events.select(col("event_id"), col("user_id"), col("ts"),
        date_trunc("hour", col("ts")).as("bin"))
      .join(binned, Seq("user_id", "bin"))
      .filter(col("ts") >= col("session_start") && col("ts") < col("session_end"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("session_start"), col("n_events").as("session_n_events"))
      .orderBy(col("event_id"))
  }

  val intervalJoinSql =
    s"""WITH o AS (SELECT user_id, ts,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
       |m AS (SELECT user_id, ts,
       |  CASE WHEN prev IS NULL OR ts - prev > INTERVAL '${graft.streaming.StreamingOps.SESSION_GAP}'
       |       THEN 1 ELSE 0 END AS new_sess FROM o),
       |s AS (SELECT user_id, ts, sum(new_sess) OVER (
       |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM m),
       |sess AS (SELECT user_id, min(ts) AS session_start,
       |    max(ts) + INTERVAL '${graft.streaming.StreamingOps.SESSION_GAP}' AS session_end,
       |    count(*) AS n_events
       |  FROM s GROUP BY user_id, sess)
       |SELECT e.event_id, e.user_id, e.ts, x.session_start,
       |  x.n_events AS session_n_events
       |FROM events e JOIN sess x
       |  ON e.user_id = x.user_id
       | AND e.ts >= x.session_start AND e.ts < x.session_end
       |ORDER BY event_id""".stripMargin

  // --- zorder_layout: multi-dimensional locality sharding ----------------
  /** Shard count — top [[Z_SHARD_BITS]] bits of the 32-bit z-value. */
  val Z_SHARD_BITS = 6
  val Z_SHARDS = 1 << Z_SHARD_BITS

  /** Bit-interleave two 16-bit values into a z-curve (Morton) value —
    * dim bits occupy disjoint positions, so `+` is `|`. Generated from
    * one loop in both engines' dialects (parity by construction). */
  private[graft] def zInterleave(u: org.apache.spark.sql.Column,
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(u, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftrightunsigned(t, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  private def zInterleaveSql(u: String, t: String): String =
    (0 until 16).map(i =>
      s"((($u >> $i) & 1) << ${2 * i + 1}) + ((($t >> $i) & 1) << ${2 * i})")
      .mkString(" + ")

  /** Z-order layout — the multi-dimensional clustering idiom (the
    * OPTIMIZE ZORDER of lakehouse table formats): events keyed by BOTH
    * user and time land in shards whose per-shard (user, time)
    * bounding boxes are small on both dimensions at once, so min/max
    * column statistics prune scans for predicates on EITHER key — a
    * single-dimension sort gives perfect pruning on one key and none
    * on the other. Each dimension normalizes to a 16-bit rank by
    * integer math made SHIFT-INVARIANT on purpose — (x − min)·65535
    * div (max − min) — so the engines only need per-row-consistent
    * timestamps, not an agreed absolute epoch; the 32-bit interleave's
    * top [[Z_SHARD_BITS]] bits are the shard. Shape at 100 TB: bounds
    * are one 4-scalar aggregate riding a 1-row broadcast; z-value and
    * shard are map-only codegen bit math; the per-shard stats are one
    * hash aggregation. The production write path is
    * `repartitionByRange(z)` + write with the same expression — the
    * gate emits the per-shard bounding boxes (in normalized 16-bit
    * units, shift-invariant) that ARE the min/max pruning statistics
    * the layout exists to sharpen; ZorderSpec pins the locality claim
    * (worst-DIMENSION extent bounded — a time-only layout's shards
    * span the full user range, so a user predicate prunes nothing)
    * and the interleave bijection. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"))
    val bounds = e.agg(
      min(col("user_id")).as("u_lo"), max(col("user_id")).as("u_hi"),
      min(col("tus")).as("t_lo"), max(col("tus")).as("t_hi"))
    val u16 = expr("(user_id - u_lo) * 65535 div greatest(u_hi - u_lo, 1)")
    val t16 = expr("(tus - t_lo) * 65535 div greatest(t_hi - t_lo, 1)")
    e.crossJoin(broadcast(bounds))
      .select(col("event_id"), u16.as("u16"), t16.as("t16"))
      .withColumn("shard",
        shiftrightunsigned(zInterleave(col("u16"), col("t16")),
          32 - Z_SHARD_BITS).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("cnt"),
        min(col("u16")).as("u16_min"), max(col("u16")).as("u16_max"),
        min(col("t16")).as("t16_min"), max(col("t16")).as("t16_max"))
      .orderBy(col("shard"))
  }

  val zorderLayoutSql: String = {
    val z = zInterleaveSql("u16", "t16")
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
       |b AS (SELECT min(user_id) AS u_lo, max(user_id) AS u_hi,
       |    min(tus) AS t_lo, max(tus) AS t_hi FROM e),
       |n AS (SELECT event_id,
       |    (user_id - u_lo) * 65535 // greatest(u_hi - u_lo, 1) AS u16,
       |    (tus - t_lo) * 65535 // greatest(t_hi - t_lo, 1) AS t16
       |  FROM e CROSS JOIN b),
       |s AS (SELECT event_id, u16, t16,
       |    ($z) >> ${32 - Z_SHARD_BITS} AS shard FROM n)
       |SELECT shard, count(*) AS cnt,
       |  min(u16) AS u16_min, max(u16) AS u16_max,
       |  min(t16) AS t16_min, max(t16) AS t16_max
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin
  }

  override def entries: Seq[QueryDef] = Seq(
    QueryDef("zorder_layout", zorderLayout, Some(zorderLayoutSql),
      "z-curve multi-dim locality sharding: per-shard pruning stats"),
    QueryDef("interval_join", intervalJoin, Some(intervalJoinSql),
      "point-in-interval join via time-bin bucketing (no range product)"),
    QueryDef("bucketed_join", bucketedJoin, Some(bucketedJoinSql),
      "co-located join over bucketBy tables (no join exchange)"),
    QueryDef("skew_safe_distinct", skewSafeDistinct, Some(skewSafeDistinctSql),
      "two-phase composite-key distinct over a skewed group key"),
    QueryDef("partitioned_scan", partitionedScan, Some(partitionedScanSql),
      "partitionBy write + partition-pruned read (PartitionFilters)"),
    QueryDef("asof_join", asofJoin, Some(asofJoinSql),
      "as-of join via union + last-ignoreNulls window (oracle: native ASOF)"))
}
