package graft

import graft.operators.{Dedup, Similarity}
import graft.storage.GenerationLog
import graft.streaming.{StreamAnnUpsert, StreamKeepBest, StreamNearDedup, StreamingOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Every parquet table the engine reads is read under a DECLARED
  * schema: the fixture tables ([[Tables.schemas]]) and the tables the
  * engine writes itself (index, admission state, staged stream
  * sources). These specs pin each declaration to the footers Spark
  * would otherwise infer it from, so a fixture regeneration or a
  * writer change that drifts fails here instead of being misread. */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  /** The three fixture scales, siblings of the smoke scale. */
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => java.nio.file.Paths.get(sfDir).resolveSibling(sf).toString)

  test("each declared fixture schema equals the inferred one at every scale") {
    for (d <- scales; (name, declared) <- Tables.schemas) {
      val path = s"$d/$name.parquet"
      val inferred = spark.read.parquet(path).schema
      assert(declared == inferred, s"$path: declared $declared, footer $inferred")
      if (name == "events")
        assert(LocalParquet.timestampType(path, "ts") == inferred("ts").dataType)
    }
  }

  test("loading any fixture table starts no Spark job") {
    val loads = Tables.schemas.keys.toSeq.sorted
      .map(n => n -> (() => Tables.load(spark, sfDir, n))) :+
      ("events loader" -> (() => Tables.events(spark, sfDir)))
    val jobs = jobsPerCall(loads)
    assert(jobs.size == loads.size)
    assert(jobs.forall(_._2.isEmpty), s"jobs started: ${jobs.filter(_._2.nonEmpty)}")
  }

  test("events: a TIMESTAMP(NANOS) generation loads to the µs values the inferring read gives") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos_events_")
    try {
      val schema = MessageTypeParser.parseMessageType(
        """message schema { optional int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,false)); optional int64 user_id;
          |  optional binary event_type (STRING); optional double value;
          |  optional binary props (STRING); }""".stripMargin)
      val nanos = Seq(1700000000123456789L, 1700000001000000999L, 1700003600999999999L)
      val path = dir.resolve("events.parquet")
      val w = ExampleParquetWriter
        .builder(new org.apache.parquet.io.LocalOutputFile(path))
        .withType(schema).build()
      val groups = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (ns, i) =>
        w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns)
          .append("user_id", 7L).append("event_type", "click")
          .append("value", 1.5).append("props", "{}"))
      } finally w.close()
      assert(LocalParquet.timestampType(path.toString, "ts") == LongType)
      val loaded = Tables.events(spark, dir.toString)
      assert(loaded.schema("ts").dataType == TimestampType)
      // The inferring read (under the loader's nanosAsLong) sees the same
      // LONG the footer read declared.
      assert(spark.read.parquet(path.toString).schema("ts").dataType == LongType)
      assert(loaded.orderBy(col("event_id")).selectExpr("unix_micros(ts)")
        .as[Long].collect().toSeq == nanos.map(_ / 1000))
    } finally StreamingOps.deleteRecursively(dir)
  }

  /** `t` with every field and element nullable: a read relaxes
    * nullability, so a declaration is compared with a footer without it. */
  private def relaxed(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f => StructField(f.name, relaxed(f.dataType))))
    case a: ArrayType => ArrayType(relaxed(a.elementType))
    case o => o
  }

  /** Every data file under `root` holds `declared` less the partition
    * columns its directory names carry (`cell=7`), which must be
    * declared columns. */
  private def assertWritten(root: String, declared: StructType): Unit = {
    val files = LocalParquet.dataFiles(root)
    assert(files.nonEmpty, s"no data file under $root")
    files.foreach { f =>
      val parts = java.nio.file.Paths.get(root).relativize(f.getParent)
        .iterator().asScala.map(_.toString).filter(_.contains("="))
        .map(_.takeWhile(_ != '=')).toSet
      assert(parts.subsetOf(declared.fieldNames.toSet), s"$f: partition columns $parts")
      val footer = spark.read.parquet(f.toString).schema
      assert(relaxed(footer) == relaxed(StructType(declared.filterNot(c => parts(c.name)))),
        s"$f: footer $footer, declared $declared")
    }
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("every index table the engine writes holds its declared schema") {
    // Build, upsert (delta 1), delete (delta 2), compact (generation 1):
    // every table kind the index writes, both code layouts included.
    val raw = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val idx = tmp("graft_declared_idx_")
    try {
      Similarity.buildIndexAt(spark, raw.filter(col("vec_id") < 300), idx)
      Similarity.annIndexUpsert(spark, idx, raw.filter(col("vec_id") >= 300))
      Similarity.annIndexDelete(spark, idx,
        raw.filter(col("vec_id") < 20).select(col("vec_id")))
      Similarity.annIndexCompact(spark, idx)
      val log = GenerationLog.index(idx)
      Seq("centroids", "codebooks", "rcodebooks")
        .foreach(t => assertWritten(s"$idx/$t", Similarity.INDEX_SCHEMAS(t)))
      Seq("codes", "rcodes").foreach { t =>
        assertWritten(log.tableRoot(t, 0L), Similarity.CODES_SCHEMA)
        assertWritten(log.payload(t, 1L), Similarity.CODES_SCHEMA)
        assertWritten(log.tableRoot(t, 1L), Similarity.CODES_SCHEMA)
      }
      assertWritten(log.payload("tombstones", 2L), Similarity.INDEX_SCHEMAS("tombstones"))
    } finally StreamingOps.deleteRecursively(java.nio.file.Paths.get(idx))
  }

  test("every admission-state and staged-source table holds its declared schema") {
    // A small batch (driver body) and one past SMALL_BATCH_ROWS (the
    // distributed body) through both accumulators, then a fold: both
    // writers of each per-batch delta and the generation bases.
    val small = Seq((1L, "a b c d e f g h"), (2L, "x y z w v u t s"))
      .toDF("doc_id", "text")
    val big = (0 to Dedup.SMALL_BATCH_ROWS)
      .map(i => (100L + i, s"w$i v${i % 97} u${i % 13} t s r q p")).toDF("doc_id", "text")
    val nd = tmp("graft_declared_nd_")
    val kb = tmp("graft_declared_kb_")
    try {
      val acc = new StreamNearDedup.PersistentAccumulator(spark, nd, foldEvery = 0)
      val keep = new StreamKeepBest.PersistentKeepBest(spark, kb, foldEvery = 0)
      Seq(small, big).zipWithIndex.foreach { case (b, k) =>
        acc.onBatch(b, k.toLong)
        keep.onBatch(b, k.toLong)
      }
      val ndLog = GenerationLog.stream(nd, Seq("bands", "admitted"))
      assert(StreamNearDedup.stateRows(ndLog, ndLog.state(), "admitted") ==
        StreamNearDedup.readAdmitted(spark, nd).count())
      StreamNearDedup.compactState(spark, nd)
      StreamKeepBest.compactBands(spark, kb)
      assert(StreamNearDedup.stateRows(ndLog, ndLog.state(), "admitted") ==
        StreamNearDedup.readAdmitted(spark, nd).count())
      Seq("bands", "admitted").foreach { t =>
        val declared = StreamNearDedup.emptyTable(spark, t).schema
        assertWritten(s"$nd/$t", declared)
        assertWritten(s"$nd/$t-g1", declared)
      }
      assertWritten(s"$kb/events", StreamKeepBest.emptyEvents(spark).schema)
      Seq("bands", "bands-g1").foreach(t =>
        assertWritten(s"$kb/$t", StreamKeepBest.emptyBandsPersisted(spark).schema))
    } finally {
      StreamingOps.deleteRecursively(java.nio.file.Paths.get(nd))
      StreamingOps.deleteRecursively(java.nio.file.Paths.get(kb))
    }
    assertWritten(StreamNearDedup.stagedPacedDocsDir(spark, sfDir), StreamNearDedup.DocsSource)
    assertWritten(StreamAnnUpsert.stagedDeltaDir(spark, sfDir), StreamAnnUpsert.DeltaSource)
    assertWritten(StreamingOps.stagedEventsDir(spark, sfDir), StreamingOps.EventsSource)
    assertWritten(StreamingOps.stagedSessionsDir(spark, sfDir), StreamingOps.SessionsSource)
    assertWritten(StreamingOps.stagedTrendingDir(spark, sfDir), StreamingOps.TrendingSource)
  }

  test("the admission stores' driver-written deltas equal Spark's writes, footer for footer") {
    // assertWritten relaxes nullability, so it would miss a required →
    // optional drift. Here each small-path delta schema is written twice
    // with the same rows — a one-partition DataFrame write and
    // LocalParquet.write — and the footers compare exactly: the parquet
    // schema with its repetitions and Spark's key-value metadata, the
    // row schema included. The admitted delta takes the fetched batch's
    // schema: the live source's, or a non-nullable doc_id.
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.io.LocalInputFile
    val required = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType)))
    val cases = Seq[(String, StructType, Seq[Row])](
      ("near-dedup bands", StreamNearDedup.BandsDelta, Seq(Row(0, 7L), Row(3, -1L))),
      ("near-dedup admitted", StreamNearDedup.DocsSource,
        Seq(Row(1L, "a b c"), Row(2L, null))),
      ("near-dedup admitted, doc_id required", required,
        Seq(Row(1L, "a b c"), Row(2L, null))),
      ("keep-best events", StreamKeepBest.EventsDelta,
        Seq(Row(1L, 1L, 0.5, "new"), Row(2L, 1L, null, "drop"), Row(3L, 1L, 0.75, "replace"))),
      ("keep-best bands", StreamKeepBest.BandsDelta, Seq(Row(0, 5L, 1L), Row(1, -9L, 1L))))
    assert(cases.exists(_._2.exists(!_.nullable)))
    val dir = tmp("graft_local_parquet_")
    def footer(d: String) = {
      val files = LocalParquet.dataFiles(d)
      assert(files.size == 1, s"$d: $files")
      scala.util.Using.resource(ParquetFileReader.open(new LocalInputFile(files.head))) { r =>
        val meta = r.getFooter.getFileMetaData
        (meta.getSchema, meta.getKeyValueMetaData.asScala.toMap, r.getRecordCount)
      }
    }
    try for (((name, schema, rows), i) <- cases.zipWithIndex; n <- Seq(rows.size, 0)) {
      val (viaSpark, viaDriver) = (s"$dir/$i-$n/spark", s"$dir/$i-$n/driver")
      spark.createDataFrame(rows.take(n).asJava, schema).coalesce(1).write.parquet(viaSpark)
      LocalParquet.write(spark, rows.take(n), schema, viaDriver)
      val (want, got) = (footer(viaSpark), footer(viaDriver))
      assert(got._1 == want._1, s"$name, $n rows: parquet schema ${got._1}, Spark's ${want._1}")
      assert(got._2.contains("org.apache.spark.sql.parquet.row.metadata"))
      assert(got._2 == want._2, s"$name, $n rows: metadata ${got._2}, Spark's ${want._2}")
      assert(got._3 == n)
      assert(spark.read.parquet(viaDriver).collect().toSet ==
        spark.read.parquet(viaSpark).collect().toSet, s"$name, $n rows: rows differ")
    } finally StreamingOps.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
