package perfbench

import scala.util.hashing.MurmurHash3

/** Summary statistics the benchmark reports. Medians and quantiles use
  * linear interpolation between order statistics. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Geometric mean of positive values, so a 10 % gain on a 0.1 s lane
    * moves it as much as a 10 % gain on a 10 s lane. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of an empty sample")
    require(xs.forall(_ > 0.0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curHi) {
        if (curHi > curLo) total += curHi - curLo
        curLo = a; curHi = b
      } else if (b > curHi) curHi = b
    }
    if (curHi > curLo) total += curHi - curLo
    total
  }
}

/** Order-independent digest of a multiset of rows: the row count and the
  * wrapping sum of a 64-bit hash of each row's fields. Reordering rows does
  * not change it; dropping, duplicating or altering a row does. */
final case class RowDigest(rows: Long, sum: Long) {
  def +(h: Long): RowDigest = RowDigest(rows + 1, sum + h)
  override def toString: String = f"$rows rows / $sum%016x"
}

object RowDigest {
  val empty: RowDigest = RowDigest(0L, 0L)

  private val NullField = "\u0000null"

  /** 64-bit hash of a row's string fields; a null field hashes apart from
    * every string, and field boundaries are unambiguous. */
  def rowHash(fields: Seq[String]): Long = {
    val s = fields.iterator
      .map(f => if (f == null) NullField else f.length.toString + ":" + f)
      .mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def of(rows: IterableOnce[Seq[String]]): RowDigest =
    rows.iterator.foldLeft(empty)((d, r) => d + rowHash(r))
}
