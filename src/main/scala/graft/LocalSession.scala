package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session the mains share — [[Verify]], [[Repl]]
  * and the `graft.tools` probes: `local[SPARK_GRAFT_CPUS]` (default 4)
  * with the graft extensions, shuffle partitions = cores, UTC session
  * time and no UI — the configuration [[Bench]] measures under. Bench
  * keeps its own copy: it is the measured driver contract. */
object LocalSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
