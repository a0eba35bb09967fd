package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's pure arithmetic and checkers, kept free of Spark so
  * the self-tests can pin them without a session. */
object Stats {

  /** Nearest-rank percentile of an ascending array, `p` in (0, 1]. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(p * sorted.length).toInt
    sorted(math.min(sorted.length, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Independent samples beyond the `p`-th percentile of `values`.
    * Frames of one micro-batch share that batch's wait, so the
    * independent unit is the batch: this counts the distinct batches
    * that own at least one value strictly above the percentile. */
  def supportBeyond(values: Array[Double], batches: Array[Long],
      p: Double): Int = {
    require(values.length == batches.length, "one batch per value")
    val cut = percentile(values.sorted, p)
    values.indices.iterator.filter(i => values(i) > cut)
      .map(batches(_)).toSet.size
  }

  /** The percentile-support rule: a percentile may be reported only
    * when at least `minBeyond` independent samples lie beyond it. */
  def supported(values: Array[Double], batches: Array[Long], p: Double,
      minBeyond: Int = 10): Boolean =
    values.nonEmpty && supportBeyond(values, batches, p) >= minBeyond

  /** Highest percentile of `ladder` the sample supports, if any. */
  def highestSupported(values: Array[Double], batches: Array[Long],
      ladder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5),
      minBeyond: Int = 10): Option[Double] =
    ladder.sorted.reverse.find(supported(values, batches, _, minBeyond))

  /** Ordinary least-squares slope of y over t (units of y per unit of
    * t): the backlog trend, which a sawtooth around a flat level keeps
    * near zero and a growing queue drives positive. */
  def slope(t: Array[Double], y: Array[Double]): Double = {
    require(t.length == y.length && t.length >= 2, "slope needs two points")
    val mt = t.sum / t.length
    val my = y.sum / y.length
    var num = 0.0
    var den = 0.0
    var i = 0
    while (i < t.length) {
      num += (t(i) - mt) * (y(i) - my)
      den += (t(i) - mt) * (t(i) - mt)
      i += 1
    }
    if (den == 0.0) 0.0 else num / den
  }

  /** Index of the first element not strictly above its predecessor,
    * or -1 when the sequence is strictly increasing. */
  def firstOrderViolation(xs: Array[Long]): Int =
    (1 until xs.length).find(i => xs(i) <= xs(i - 1)).getOrElse(-1)

  /** (data.raw, time, id) of a put's CloudEvent JSON, read by key
    * without a JSON parser; None when a value holds an escape, so the
    * caller parses that record in full. */
  def eventFields(json: String): Option[(String, String, String)] = {
    def field(key: String): Option[String] = {
      val tag = "\"" + key + "\":\""
      val a = json.indexOf(tag)
      if (a < 0) None
      else {
        val from = a + tag.length
        val to = json.indexOf('"', from)
        val esc = json.indexOf('\\', from)
        if (to < 0 || (esc >= 0 && esc < to)) None
        else Some(json.substring(from, to))
      }
    }
    for (raw <- field("raw"); time <- field("time"); id <- field("id")) yield (raw, time, id)
  }

  /** The CloudEvent id recomputed independently of the program:
    * base64(sha1(time ++ raw)). */
  def cloudEventId(time: String, raw: String): String =
    java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1")
        .digest((time + raw).getBytes(UTF_8)))
}
