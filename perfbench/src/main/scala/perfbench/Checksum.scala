package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, count, hash, lit, sum}

/** Order-independent result fingerprint: the row count and the sum,
  * over rows, of the 32-bit Murmur3 `hash` of all columns.
  *
  * It is the timed action of a query, and it reads every column:
  * `count()` alone would let Catalyst prune columns whose production a
  * user does pay for. Each row adds at most 2^31 in magnitude to a
  * bigint sum, so the sum cannot overflow under ANSI mode below 2^32
  * rows. */
final case class Checksum(rows: Long, hashSum: Long) {
  override def toString: String = s"$rows:$hashSum"
}

object Checksum {
  def of(df: DataFrame): Checksum = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.agg(count(lit(1)), coalesce(sum(hash(cols.toIndexedSeq: _*).cast("long")), lit(0L)))
      .head()
    Checksum(r.getLong(0), r.getLong(1))
  }

  def parse(s: String): Checksum = s.split(':') match {
    case Array(r, h) => Checksum(r.toLong, h.toLong)
    case _ => throw new IllegalArgumentException(s"bad checksum '$s'")
  }
}
