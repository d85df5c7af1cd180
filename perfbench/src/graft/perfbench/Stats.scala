package graft.perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's own arithmetic: medians, tail percentiles and
  * order-independent result digests. SelfTest pins each of these. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`-th percentile, or None when fewer than `minBeyond`
    * samples lie strictly above it: a tail read off a handful of samples
    * is one sample, not a percentile. */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 100, s"percentile must lie in (0, 100), got $p")
    if (xs.isEmpty) return None
    val s = xs.sorted
    val v = s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
    if (s.count(_ > v) >= minBeyond) Some(v) else None
  }

  /** A result summary: row count, an order-independent digest (the sum
    * of per-row xxhash64, exact in decimal), and the exact sum of every
    * top-level integral column. Doubles are rounded to 6 places before
    * hashing, so a floating aggregate that reassociates with shuffle
    * order does not read as a wrong result. */
  final case class Summary(rows: Long, digest: BigDecimal, sums: Map[String, BigDecimal]) {
    def key: String = s"$rows:$digest"
    def sum(c: String): BigDecimal =
      sums.getOrElse(c, throw new NoSuchElementException(s"no integral column $c"))
  }

  /** `df` with its [[Summary]] observed as a side effect of whatever
    * action runs it, so checking an output costs no second execution.
    * The returned thunk blocks until that action has finished. */
  def observed(df: DataFrame): (DataFrame, () => Summary) = {
    val fields = df.schema.fields.toSeq
    def c(name: String) = col(s"`$name`")
    val hashed = fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(c(f.name), 6)
        case _: MapType => to_json(c(f.name))
        case _ => c(f.name)
      }
    }
    val integral = fields.collect {
      case f if Set[DataType](LongType, IntegerType, ShortType, ByteType)(f.dataType) => f.name
    }
    val h = if (hashed.isEmpty) lit(0L) else xxhash64(hashed: _*)
    val aggs = Seq(count(lit(1)).as("_rows"), sum(h.cast("decimal(38,0)")).as("_digest")) ++
      integral.zipWithIndex.map { case (n, i) => sum(c(n).cast("decimal(38,0)")).as(s"_s$i") }
    val obs = Observation()
    def dec(v: Any): BigDecimal = v match {
      case null => BigDecimal(0)
      case d: java.math.BigDecimal => BigDecimal(d)
      case d: BigDecimal => d
      case n: Long => BigDecimal(n)
    }
    (df.observe(obs, aggs.head, aggs.tail: _*), { () =>
      val m = obs.get
      Summary(m("_rows").asInstanceOf[Long], dec(m("_digest")),
        integral.zipWithIndex.map { case (c, i) => c -> dec(m(s"_s$i")) }.toMap)
    })
  }
}
