package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive fingerprints: a row count plus two sums of per-row
  * hashes. Sums commute, so any row order (partitioning, task timing, a
  * changed plan) gives the same fingerprint for the same multiset of rows.
  */
final case class Fingerprint(rows: Long, h1: Long, h2: Long) {
  def render: String = s"$rows:$h1:$h2"
}

object Fingerprint {
  def parse(s: String): Fingerprint = s.split(':') match {
    case Array(r, a, b) => Fingerprint(r.toLong, a.toLong, b.toLong)
    case _ => throw new IllegalArgumentException(s"bad fingerprint: $s")
  }

  /** Fingerprint of a DataFrame's full output. Every column is cast to its
    * string form (complex types included); top-level floating columns are
    * first rounded to 6 decimals so a last-bit difference from summation
    * order does not read as a wrong result. Each per-row hash is a 32-bit
    * value widened to a long, so the sums cannot overflow.
    */
  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      val n = f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _ => c
      }
      coalesce(n.cast("string"), lit("\u0000null"))
    }
    val r = df.select(
      hash(cols: _*).cast("bigint").as("a"),
      (xxhash64(cols: _*) % lit(1L << 31)).as("b"))
      .agg(count(lit(1)), coalesce(sum("a"), lit(0L)), coalesce(sum("b"), lit(0L)))
      .head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Hash of one collected row, for outputs checked after `collect()`. */
  def rowHash(r: Row): Int = MurmurHash3.stringHash(r.toString)
}
