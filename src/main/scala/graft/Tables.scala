package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Fixture-table loaders (FIXTURES.md). One parquet file per table
  * under the scale-factor dir, read under its DECLARED schema
  * ([[schemas]]): the layout is fixed by the fixture generator, so no
  * load starts a schema-inference job (one one-task Spark job per
  * `spark.read.parquet` without a schema, only to read a footer).
  * `TablesSpec` pins every declared schema to what Spark infers from
  * the footers at each scale factor. Loaded as plain DataFrames so
  * Catalyst keeps full pushdown/pruning; callers select/filter and let
  * the optimizer reach the parquet scan.
  */
object Tables {
  private def table(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Every fixture table's schema as Spark reads its footers: all
    * fields nullable, and the zone-less `timestamp[us]` columns as
    * TIMESTAMP_NTZ. `events.ts` is the footer's say ([[events]]). */
  val schemas: Map[String, StructType] = Map(
    "region" -> table("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> table("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> table("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> table("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> table("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> table("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> table("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> table("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> table("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> table("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has drifted across fixture
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as long via `nanosAsLong`, then truncate ns→µs with
    * integer division; epoch-nanos exceed 2^53 so a double round-trip
    * would corrupt them) vs plain TIMESTAMP(MICROS) without timezone
    * (read natively as TIMESTAMP_NTZ). The generation at hand is read
    * off ONE footer on the driver ([[ParquetFooters]], no Spark job)
    * and declared as the `ts` type of the read; either generation then
    * loads to the same µs-precision TIMESTAMP column: NTZ is cast to
    * the session-timezone type — value-preserving under the engine's
    * fixed UTC session timezone, and required by everything
    * watermark/window-shaped downstream (EventTimeWatermark rejects
    * TIMESTAMP_NTZ outright). DuckDB reads the same column naively
    * with the same values, so oracle parity holds either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/events.parquet"
    val ts = ParquetFooters.timestampType(path, "ts")
    val raw = s.read.schema(StructType(schemas("events").map(f =>
      if (f.name == "ts") f.copy(dataType = ts) else f))).parquet(path)
    ts match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw // already the session-timezone timestamp type
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Staged dirs per (session, dataset, table), one memo per staging
    * form: SessionMemo's per-key cell runs each staging once (same-key
    * racers share one write; different tables stage in parallel), and
    * `Scratch.dir` registers every staged dir for delete at JVM exit. */
  private val textStaged = new SessionMemo[(String, String), String]

  /** TEXT-MODE table access — the reference's per-query `--text` flag
    * (every Q1–Q7 main accepts `--text` | `--parquet`,
    * `/root/reference/Spark/SparkSQL/Q1.scala:30-39`) expressed as a
    * LOADER property: every operator in this library is a function of
    * DataFrames, so dual input modes compose with all of them instead
    * of being re-implemented per query (`q1_text` gates the
    * composition end-to-end; `tbl_scan` pins the csv round-trip
    * itself). The fixture ships parquet, so the table is staged once
    * per (session, dataset, table) as a pipe-delimited `.tbl` dump
    * and read back through the csv source under the parquet schema —
    * input staging, not memoized compute, so deliberately NOT
    * registered with [[Caches]] (the stream-staging posture).
    * Timestamps round-trip through an explicit microsecond format
    * (the csv default truncates to millis) under the fixed UTC
    * session timezone; doubles round-trip via Spark's shortest-repr
    * formatting. Scalar (TPC-H-shaped) tables only — exactly the
    * tables the reference's `.tbl` mode covers; array-typed columns
    * (documents/embeddings) have no `.tbl` form there either. */
  def textTable(s: SparkSession, d: String, name: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val src = load(s, d, name)
    val dir = textStaged.getOrElseUpdate(s, (d, name)) {
      val dest = graft.Scratch.dir(s"graft_tbl_${name}_").toString
      src.write.mode("overwrite").option("sep", "|")
        .option("timestampFormat", tsFmt).csv(dest)
      dest
    }
    s.read.schema(src.schema).option("sep", "|")
      .option("timestampFormat", tsFmt).csv(dir)
  }

  private val jsonlStaged = new SessionMemo[(String, String), String]

  /** JSONL-MODE table access — the crawl-dump interchange format every
    * training-data pipeline ingests (one JSON object per line),
    * expressed as the same LOADER property as [[textTable]]: stage the
    * parquet table once per (session, dataset, table) as JSONL and
    * read it back through the json source UNDER THE PARQUET SCHEMA —
    * no schema-inference pre-scan, which at 100 TB would read the
    * whole corpus twice (the schema is the catalog's job; inference is
    * for exploration). Unlike `.tbl`, JSONL carries nested/array
    * columns natively, so it covers the documents/embeddings tables
    * the csv mode cannot. Input staging, not memoized compute —
    * deliberately NOT registered with [[Caches]]. `docs_jsonl` gates
    * the round-trip end-to-end against the parquet-read oracle. */
  def jsonlTable(s: SparkSession, d: String, name: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val src = load(s, d, name)
    val dir = jsonlStaged.getOrElseUpdate(s, (d, name)) {
      val dest = graft.Scratch.dir(s"graft_jsonl_${name}_").toString
      src.write.mode("overwrite")
        .option("timestampFormat", tsFmt).json(dest)
      dest
    }
    s.read.schema(src.schema).option("timestampFormat", tsFmt).json(dir)
  }

  /** Planted-corruption JSONL staging for the malformed-ingestion gate
    * ([[jsonlCorruptTable]]): every line whose `doc_id` hits the
    * [[CORRUPT_MOD]]/[[CORRUPT_RES]] residue is TRUNCATED to its first
    * [[CORRUPT_KEEP]] CHARACTERS (Spark's `substring` is
    * character-based; the fixture lines are ASCII so characters ==
    * bytes here, and no codepoint can be cut mid-sequence) — unclosed
    * JSON, unconditionally malformed
    * (fixture doc lines are all far longer than the keep prefix:
    * JsonlMalformedSpec pins the margin), while the kept prefix still
    * starts with the `doc_id` field (schema order puts it first), so
    * quarantine triage can regexp the id back out of the raw record.
    * Same planted-evidence pattern as pii_scrub: the fixture has no
    * organic corruption, so the loader plants a deterministic,
    * SQL-replayable fault set instead of gating a wall of zeros. */
  val CORRUPT_MOD = 17L
  val CORRUPT_RES = 3L
  val CORRUPT_KEEP = 30

  private val jsonlBadStaged = new SessionMemo[(String, String), String]

  /** The corrupted staging dir (for spec-side premise checks on the
    * actual staged bytes); stages it if needed. */
  private[graft] def jsonlCorruptDir(s: SparkSession, d: String,
      name: String): String = {
    jsonlCorruptTable(s, d, name)
    jsonlBadStaged(s, (d, name))
  }

  /** PERMISSIVE read of the corrupted staging: schema pinned to the
    * parquet schema plus `_corrupt_record` — malformed lines surface
    * as all-null data columns with the raw line captured, clean lines
    * parse normally. This is the posture real crawl-dump ingestion
    * needs (count + quarantine, never abort the 100 TB job on one bad
    * shard); `jsonl_malformed` gates it end-to-end. */
  def jsonlCorruptTable(s: SparkSession, d: String, name: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val src = load(s, d, name)
    // Ensure the clean staging exists, then rewrite it with the fault
    // plan — a pure line-level map (text in, text out).
    jsonlTable(s, d, name)
    val clean = jsonlStaged(s, (d, name))
    val dir = jsonlBadStaged.getOrElseUpdate(s, (d, name)) {
      val dest = graft.Scratch.dir(s"graft_jsonl_bad_${name}_").toString
      val doomed = get_json_object(col("value"), "$.doc_id").cast("long")
        .%(lit(CORRUPT_MOD)) === lit(CORRUPT_RES)
      s.read.text(clean)
        .select(when(doomed, substring(col("value"), 1, CORRUPT_KEEP))
          .otherwise(col("value")).as("value"))
        .write.mode("overwrite").text(dest)
      dest
    }
    s.read
      .schema(src.schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("timestampFormat", tsFmt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
  }
}
