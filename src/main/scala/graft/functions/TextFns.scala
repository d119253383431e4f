package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text column utilities.
  *
  * `tokenize` reproduces the reference's bespin tokenizer semantics
  * (`io.bespin.{java,scala}.util.Tokenizer`, used by 9 workloads — e.g.
  * `/root/reference/Spark/PMI/PairsPMI.scala:5,46`,
  * `/root/reference/MapReduce/Counting/WordCount.java:19,61`):
  * lowercase, strip everything but [a-z0-9] and whitespace, split on
  * whitespace, drop empties. Kept as a pure column expression (no UDF)
  * so it stays inside whole-stage codegen, and trivially translatable
  * to the DuckDB oracle (SURVEY.md §2.8).
  */
object TextFns {

  /** bespin-parity tokenizer as a Column expression. */
  def tokenize(c: Column): Column =
    filter(
      split(regexp_replace(lower(c), "[^a-z0-9\\s]+", ""), "\\s+"),
      t => t =!= lit(""))

  /** The same tokenizer as a DuckDB SQL fragment over column `col`. */
  def tokenizeSql(col: String): String =
    s"list_filter(string_split_regex(regexp_replace(lower($col), '[^a-z0-9\\s]+', '', 'g'), '\\s+'), x -> x <> '')"

  /** Adjacent-bigram structs from a token array (reference
    * `tokens.sliding(2)` — `…Pairs.scala:58`). Internally guarded:
    * size<=1 arrays yield an empty array (sequence(0,-1) would descend
    * and element_at(_, 0) throw), so a missed caller-side filter
    * degrades to empty output instead of a job-killing exception. */
  def bigrams(tokens: Column): Column =
    when(size(tokens) > 1,
      transform(
        sequence(lit(0), size(tokens) - 2),
        i => struct(
          element_at(tokens, i + 1).as("w1"),
          element_at(tokens, i + 2).as("w2"))))
      .otherwise(array())

  /** First-40 distinct tokens (reference PMI line-dedup —
    * `PairsPMI.scala:48,62`; `PairsPMI.java:79-86`). */
  def first40Distinct(tokens: Column): Column =
    array_distinct(slice(tokens, 1, 40))

  /** Portable 56-bit fingerprint of a string expression: first 14 hex
    * digits of md5, as a long. Computable identically in DuckDB
    * ([[hash56Sql]]) and plain Scala ([[hash56Local]] — used by test
    * oracles). */
  def hash56(c: Column): Column =
    conv(substring(md5(c), 1, 14), 16, 10).cast("long")

  /** DuckDB fragment mirroring [[hash56]]. */
  def hash56Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 14)) AS BIGINT)"

  /** Plain-Scala mirror of [[hash56]] for sequential test oracles. */
  def hash56Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString, 16)
  }

  /** Plain-Scala mirror of [[tokenize]] for sequential test oracles. */
  def tokenizeLocal(s: String): Seq[String] =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]+", "")
      .split("\\s+").toSeq.filter(_.nonEmpty)
}
