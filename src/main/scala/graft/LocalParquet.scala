package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.GroupType
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType,
  TimestampType}
import scala.jdk.CollectionConverters._

/** Parquet files read and written on the driver, file by file — no
  * Spark job.
  *
  * Reads are footers: a few KB at the end of each file; reading one
  * costs a file open and a seek, where `spark.read.parquet` without a
  * schema starts a one-task job to read the same bytes. Two callers:
  * the physical `ts` type of the events fixture ([[Tables.events]]) and
  * the committed-state row bound of the admission stores
  * (`graft.streaming.StreamNearDedup.PersistentAccumulator`,
  * `graft.streaming.StreamKeepBest.PersistentKeepBest`).
  *
  * The write ([[write]]) is Spark's own parquet writer driven from the
  * driver thread, for rows already held there: the admission stores'
  * per-batch deltas on their small path, where a `DataFrame` write
  * would start one Spark job per file to move a few KB. */
object LocalParquet {
  /** The parquet data files at `path`: the file itself, or every
    * visible `.parquet` file under the directory, sorted; none when
    * the path does not exist. Hidden names (`_SUCCESS`, `.crc`) are
    * skipped, as Spark's file index skips them. */
  def dataFiles(path: String): Seq[Path] = {
    val root = Paths.get(path)
    if (Files.isRegularFile(root)) Seq(root)
    else if (!Files.isDirectory(root)) Nil
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }.toVector.sorted
    }
  }

  private def read[A](file: Path)(f: ParquetFileReader => A): A =
    scala.util.Using.resource(ParquetFileReader.open(new LocalInputFile(file)))(f)

  /** The Spark type a schema-inferring read gives timestamp column
    * `column` of the first data file at `path`: TIMESTAMP(NANOS) as
    * LONG (under `spark.sql.legacy.parquet.nanosAsLong`), a zone-less
    * timestamp as TIMESTAMP_NTZ, anything else (UTC-adjusted, INT96)
    * as TIMESTAMP. */
  def timestampType(path: String, column: String): DataType = {
    val file = dataFiles(path).headOption.getOrElse(
      sys.error(s"no parquet data file at $path"))
    val schema: GroupType = read(file)(_.getFooter.getFileMetaData.getSchema)
    schema.getType(column).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS => LongType
      case t: TimestampLogicalTypeAnnotation if !t.isAdjustedToUTC => TimestampNTZType
      case _ => TimestampType
    }
  }

  /** The rows the footers record across every data file under `paths`
    * — an upper bound on what a read of those paths returns, exact
    * when no filter applies. */
  def rowCount(paths: Seq[String]): Long =
    paths.flatMap(dataFiles).map(read(_)(_.getRecordCount)).sum

  /** Write `rows` under `schema` as ONE parquet file in directory `dir`
    * (created if missing), on the calling thread — no Spark job. The
    * file is what a one-partition `DataFrame` write of the same rows
    * produces: Spark's [[ParquetFileFormat]] prepares the job
    * configuration from the session's SQL conf, and its output writer
    * encodes the rows (converted by [[CatalystTypeConverters]]). So the
    * parquet schema — a non-nullable field `required`, a nullable one
    * `optional` — the compression codec and Spark's row metadata
    * (`org.apache.spark.sql.parquet.row.metadata`) are Spark's.
    * TablesSpec pins the footers equal. Zero rows write one file with
    * the schema and no row groups. No commit protocol: the caller owns
    * the directory and its visibility (the admission stores' markers). */
  def write(spark: SparkSession, rows: Iterable[Row], schema: StructType,
      dir: String): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    Files.createDirectories(Paths.get(dir))
    val writer = factory.newInstance(
      s"$dir/part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(ctx)}",
      schema, ctx)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }
}
