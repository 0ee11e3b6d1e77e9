package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Small statistics helpers the harness reports with. */
object Stats {

  /** A percentile together with the sample count it was taken over. */
  final case class Pct(value: Double, n: Int)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile rank $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size - 1e-9).toInt)
    Pct(s(rank - 1), s.size)
  }

  /** Median, averaging the two middle samples of an even-sized sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Total length covered by the union of half-open intervals [a, b). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time inside [t0, t1) during which no job of `jobs` was running. */
  def driverGap(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long =
    (t1 - t0) - unionLength(jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) })

  /** First eight bytes of the MD5 of `s`, as a long. */
  def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Order-independent multiset digest: row count plus the wrapping sum
    * of each row's 64-bit hash. Any permutation of the same rows gives
    * the same digest; adding, dropping or changing a row changes it.
    */
  final class Digest {
    private var n = 0L
    private var sum = 0L
    def add(row: String): this.type = { n += 1; sum += hash64(row); this }
    def addAll(rows: Iterable[String]): this.type = { rows.foreach(add); this }
    def hex: String = f"$n%d:$sum%016x"
  }

  def digest(rows: Iterable[String]): String = new Digest().addAll(rows).hex

  /** Canonical text of a value read back from Spark. Doubles keep nine
    * significant digits, so a floating sum whose last bits depend on
    * shuffle arrival order still digests the same.
    */
  def canon(v: Any): String = v match {
    case null                        => "∅"
    case d: Double                   => fmtDouble(d)
    case f: Float                    => fmtDouble(f.toDouble)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]  => s.map(canon).mkString("[", ",", "]")
    case a: Array[_]                 => a.toSeq.map(canon).mkString("[", ",", "]")
    case other                       => other.toString
  }

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  def rowString(r: org.apache.spark.sql.Row): String =
    r.toSeq.map(canon).mkString("\u0001")
}
