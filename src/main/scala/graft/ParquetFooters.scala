package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.GroupType
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Parquet footers read on the driver, file by file — no Spark job. A
  * footer is a few KB at the end of each file; reading one costs a
  * file open and a seek, where `spark.read.parquet` without a schema
  * starts a one-task job to read the same bytes. Two callers: the
  * physical `ts` type of the events fixture ([[Tables.events]]) and the
  * committed-state row bound of the admission stores
  * (`graft.streaming.StreamNearDedup.PersistentAccumulator`,
  * `graft.streaming.StreamKeepBest.PersistentKeepBest`). */
object ParquetFooters {
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
}
