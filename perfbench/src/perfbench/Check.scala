package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-insensitive result fingerprint: (row count, sum of 64-bit row
  * hashes mod 2^64). A row hashes its canonical text form; doubles print
  * with 9 significant digits, so a last-ulp difference from a different
  * partial-aggregation order does not change the fingerprint. Computed in
  * one Spark job, which is also the one that materializes the result of
  * the op being timed. */
object Check {
  final case class Fp(rows: Long, hash: Long) {
    def show: String = s"$rows:${java.lang.Long.toHexString(hash)}"
  }
  object Fp {
    def parse(s: String): Fp = {
      val Array(r, h) = s.split(":")
      Fp(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }
  }

  /** Runs `df` through its own QueryExecution, so that execution's tracker
    * holds the analysis, optimization and planning of the plan that ran.
    * Spark's interpreted converters turn its rows into Rows, so the check
    * adds no generated code of its own to the op. */
  def fingerprint(df: DataFrame): Fp = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += rowHash(toRow(r).asInstanceOf[Row]) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fp(n, h)
  }

  /** Cheaper form for stored tables, whose values are copied, never
    * recomputed: Spark's xxhash64 of each row, summed in one aggregate. */
  def tableFingerprint(df: DataFrame): Fp = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    Fp(r.getLong(0), r.getDecimal(1).toBigInteger.longValue)
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else java.lang.String.format(java.util.Locale.ROOT, "%.9g", Double.box(d + 0.0))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
