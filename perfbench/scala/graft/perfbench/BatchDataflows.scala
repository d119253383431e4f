package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `batch_dataflows`: the reference's batch programs as registered
  * gates, one client, each query cold (`Caches.clearAll()` first, the
  * `graft.Bench` posture) and collected to the driver. The seed
  * permutes the query order of every pass; the first [[WholePasses]]
  * passes always run whole, later ones stop at the deadline. A unit is
  * one query: its latency is its fastest execution in the run, as in
  * `graft.Bench`. Interference from other processes only ever slows an
  * execution, so the fastest is the steadiest estimate. */
final class BatchDataflows extends Workload {
  import BatchDataflows._

  private val last = mutable.Map.empty[String, (StructType, Array[Row])]
  private lazy val moduleOf: Map[String, String] = graft.SparkEntry.modules
    .flatMap(m => m.entries.map(_.name -> m.getClass.getSimpleName.stripSuffix("$")))
    .toMap

  /** Warms the operator paths the gates share (scan, shuffle,
    * aggregate, join) with two gates outside the measured set, so the
    * first measured gate does not carry the JVM's first compilations. */
  def prepare(ctx: Ctx): Unit =
    Seq("wordcount", "q1_count_shipped").foreach { q =>
      graft.Caches.clearAll()
      graft.SparkEntry.queries(q)(ctx.spark, ctx.data).collect()
    }

  def run(ctx: Ctx, ops: Ops, deadlineNs: Long): Unit = {
    val fns = graft.SparkEntry.queries
    var pass = 0
    while (pass < WholePasses || System.nanoTime() < deadlineNs) {
      val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(Queries)
      for (q <- order if pass < WholePasses || System.nanoTime() < deadlineNs) {
        graft.Caches.clearAll()
        ops.time("query", s"p$pass:$q") {
          ctx.trace(moduleOf(q), q) {
            val df = fns(q)(ctx.spark, ctx.data)
            last(q) = (df.schema, df.collect())
          }
        }
      }
      pass += 1
    }
  }

  private def perQuery(ops: Ops): Map[String, Seq[Double]] =
    ops.done.toSeq.groupBy(_.id.split(':')(1)).map { case (q, os) =>
      q -> os.map(o => if (o.ok) o.ms else Double.PositiveInfinity)
    }

  /** A failed execution makes its query infinitely slow. */
  override def latencies(ops: Ops): Seq[Double] =
    perQuery(ops).values.map(ms => if (ms.exists(_.isInfinite)) Double.PositiveInfinity else ms.min).toSeq

  /** The seed only orders the gates, so every traced run's counts
    * must agree, whatever its seed. */
  override def countsKey(name: String, seed: Long): String = name

  def check(ctx: Ctx, ops: Ops): Seq[String] = {
    val missing = Queries.filterNot(last.contains)
    val empty = last.collect { case (q, (_, rows)) if rows.isEmpty && !oracle(ctx).contains(q) => q }
    missing.map(q => s"$q: no successful execution") ++
      empty.map(q => s"$q: empty result and no oracle")
  }

  /** The DuckDB oracle SQL of the measured gates, rendered the way
    * `SparkEntry.oracleSql` renders it, for these gates only. */
  private lazy val oracleSql: Map[String, String] = {
    graft.SparkEntry.modules.flatMap(_.entries).filter(q => Queries.contains(q.name))
      .flatMap(q => q.oracle.orElse(q.oracleGen.map(_())).map(q.name -> _)).toMap
  }
  private def oracle(ctx: Ctx): Map[String, String] = {
    graft.OracleContext.configure(ctx.spark, ctx.data)
    oracleSql
  }

  /** Each query's last output and its oracle SQL, for the DuckDB
    * comparison run outside the JVM. */
  override def export(ctx: Ctx, ops: Ops, out: Path): Unit = {
    val sql = oracle(ctx)
    val entries = last.toSeq.sortBy(_._1).map { case (q, (schema, rows)) =>
      q -> JObj(Seq(
        "oracle" -> sql.get(q),
        "columns" -> schema.fields.map(_.name).toSeq,
        "types" -> schema.fields.map(f => kind(f.dataType)).toSeq,
        "rows" -> RawJson(rows.map(r => schema.fields.indices
          .map(i => value(r, i, schema.fields(i).dataType)).mkString("[", ",", "]"))
          .mkString("[", ",", "]"))))
    }
    Files.writeString(out.resolve("batch_outputs.json"), Json.obj(entries))
  }
}

object BatchDataflows {
  /** Every query runs at least this often, so its latency is the
    * faster of at least two executions. */
  val WholePasses = 2

  /** One or two registered gates per engine module: the relational
    * scan and join, PMI, boolean retrieval, PageRank, spam training,
    * SimHash fingerprints, the document quality pass, BPE training and
    * exact cosine top-k. */
  val Queries: Seq[String] = Seq(
    "q3_part_supplier", "q6_pricing_summary", "pairs_pmi",
    "boolean_retrieval", "pagerank", "spam_train", "simhash",
    "doc_quality", "bpe_train", "cosine_topk")

  private def kind(t: DataType): String = t match {
    case DoubleType | FloatType => "double"
    case ByteType | ShortType | IntegerType | LongType => "int"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case _: DecimalType => "decimal"
    case _ => "string"
  }

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def value(r: Row, i: Int, t: DataType): String =
    if (r.isNullAt(i)) "null"
    else t match {
      case DoubleType | FloatType =>
        val d = r.get(i).asInstanceOf[Number].doubleValue
        if (d.isNaN || d.isInfinite) Json.str(d.toString) else d.toString
      case ByteType | ShortType | IntegerType | LongType => r.get(i).toString
      case BooleanType => r.getBoolean(i).toString
      case TimestampType | TimestampNTZType => Json.str((r.get(i) match {
        case ts: java.sql.Timestamp => ts.toLocalDateTime
        case ldt: java.time.LocalDateTime => ldt
        case inst: java.time.Instant =>
          java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
      }).format(tsFormat))
      case _ => Json.str(r.get(i).toString)
    }
}
