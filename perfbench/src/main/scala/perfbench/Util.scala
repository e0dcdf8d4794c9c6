package perfbench

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.JsonNode

import graft.core.Json

/** Small numeric and hashing helpers shared by the workloads. */
object Util {

  /** splitmix64 finalizer: a cheap, well-mixed 64-bit hash step. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(parts: Long*): Long = parts.foldLeft(0x1234567L)((h, p) => mix(h ^ p))

  def hashStr(s: String): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    mix(h)
  }

  /** Structural hash of the JSON value at the parser's current token,
    * read without building a tree; the parser stops on the value's last
    * token. Object members combine by sum, so member order does not
    * matter; array elements combine in order.
    */
  def jsonHash(p: JsonParser): Long = p.currentToken match {
    case JsonToken.START_OBJECT =>
      var h = 0x0bL
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val k = p.currentName
        p.nextToken()
        h += mix(hashStr(k) * 31 + jsonHash(p))
      }
      mix(h)
    case JsonToken.START_ARRAY =>
      var h = 0xa7L
      while (p.nextToken() != JsonToken.END_ARRAY) h = mix(h * 31 + jsonHash(p))
      h
    case JsonToken.VALUE_NUMBER_INT => mix(p.getLongValue ^ 0x1dL)
    case JsonToken.VALUE_NUMBER_FLOAT => mix(java.lang.Double.doubleToLongBits(p.getDoubleValue) ^ 0x2fL)
    case JsonToken.VALUE_TRUE => 0x7L
    case JsonToken.VALUE_FALSE => 0x9L
    case JsonToken.VALUE_NULL | null => 0x51L
    case _ => hashStr(p.getText)
  }

  def jsonHash(n: JsonNode): Long = at(Json.mapper.treeAsTokens(n))(jsonHash)

  def jsonHash(s: String): Long = at(Json.mapper.getFactory.createParser(s))(jsonHash)

  /** Runs `f` on a parser moved to its first token, then closes it. */
  def at[T](p: JsonParser)(f: JsonParser => T): T =
    try { p.nextToken(); f(p) } finally p.close()

  /** Quantile by linear interpolation between closest ranks; NaN for no
    * samples.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ms(nanos: Long): Double = nanos / 1e6

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Peak resident set size of this process in MB (Linux VmHWM). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

}
