package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** THE decimal-staging convention in one place: Spark↔DuckDB hash parity
  * requires every sum of doubles to accumulate as DECIMAL(18,6) (exact,
  * partition-order-independent) and surface as DOUBLE. Until round 7
  * this pair was re-implemented privately in Joins, Relational (twice)
  * and Windows — four copies of the repo's single most load-bearing
  * parity rule, where an edit missing one copy silently breaks the hash
  * gate. Squares and other wide products stage through DECIMAL(38,10)
  * at their call sites (see q_ttest / q_regression), which is a
  * different, deliberate precision — not covered here. The md5 key
  * every reingest-stable sampler, split and shuffle orders by lives
  * here too ([[md5Key]]).
  */
object Parity {
  def dec(c: Column): Column = c.cast(DecimalType(18, 6))
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** The reingest-stable 32-bit key of `x`: the first 8 hex digits of
    * `md5(x as string)` read as an unsigned integer in [0, 2^32). The
    * Spark twin of the oracles'
    * `CAST(('0x' || substring(md5(x), 1, 8)) AS BIGINT)`.
    */
  def md5Key(x: Column): Column =
    conv(substring(md5(x.cast(StringType)), 1, 8), 16, 10).cast(LongType)
}
