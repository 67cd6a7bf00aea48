package cvbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-insensitive fingerprint of a query result. */
object Digest {

  /** Row count and the exact sum of `xxhash64` over each row's JSON
    * rendering (field names included). Equal row multisets give equal
    * digests whatever the row order or partitioning; one changed value,
    * column name or row changes it. */
  def of(df: DataFrame): (Long, String) = read(frame(df).collect().head)

  /** The one-row aggregate that computes the digest of `df`. */
  def frame(df: DataFrame): DataFrame = {
    val row = struct(df.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    df.select(xxhash64(to_json(row)).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
  }

  def read(r: Row): (Long, String) = (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))

  /** Expected results stored with the benchmark: `op rows digest`, one
    * per line; a digest of `-` marks an operation whose output is not
    * deterministic, checked by row count only. */
  final case class Expected(rows: Long, digest: Option[String])

  def load(lines: Iterator[String]): Map[String, Expected] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\\s+") match {
        case Array(op, rows, d) => op -> Expected(rows.toLong, Some(d).filter(_ != "-"))
        case _ => throw new IllegalArgumentException(s"bad expected line: $l")
      }
    }.toMap

  /** None when the result matches, else a one-line reason. */
  def mismatch(exp: Expected, rows: Long, digest: Option[String]): Option[String] =
    if (rows != exp.rows) Some(s"rows $rows != expected ${exp.rows}")
    else (exp.digest, digest) match {
      case (Some(e), Some(d)) if e != d => Some(s"digest $d != expected $e")
      case _ => None
    }
}
