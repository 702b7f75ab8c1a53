package aqpbench

import scala.collection.mutable

/** Counter-based random numbers: every draw is a pure function of
 * (seed, stream, index), so any slice of an input can be regenerated
 * independently — inside a Spark task or in plain Scala for the oracle —
 * and always comes out the same. */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def bits(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632be59bd9b4e019L + stream) + i * 0x85ebca77c2b2ae63L)
  /** Uniform in [0, 1). */
  def u(seed: Long, stream: Long, i: Long): Double =
    (bits(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  def int(seed: Long, stream: Long, i: Long, n: Int): Int =
    (u(seed, stream, i) * n).toInt
  /** Standard normal (Box-Muller over two draws). */
  def gauss(seed: Long, stream: Long, i: Long): Double = {
    val a = math.max(u(seed, stream, 2 * i), 1e-300)
    val b = u(seed, stream, 2 * i + 1)
    math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * b)
  }

  /** Zipf(s) over 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(x: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, x)
      (if (i >= 0) i else math.min(-i - 1, n - 1)) + 1
    }
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted values. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Minimal JSON writer for the result lines (strings, numbers, booleans,
 * nested maps and sequences). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** One op's outcome, decided after the timed window: `None` passes,
 * `Some(reason)` fails. */
trait Check { def apply(): Option[String] }

/** Op bookkeeping shared by every workload: latencies per op kind (split
 * into traced and untraced ops for the overhead line), attempted and failed
 * counts, and the deferred output checks. Thread-safe. */
final class Recorder {
  private val lat = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  private val checks = mutable.ArrayBuffer.empty[(String, Check)]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val byLabel = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted = 0
  private val lastEnd = mutable.Map.empty[String, Long]

  /** Runs one op, timing it under `kind`. An exception fails the op (and is
   * recorded) without stopping the run; the returned check is kept and run
   * after the timed window. */
  def op(kind: String, traced: Boolean, label: String = "")(body: => Check): Unit = {
    val t0 = System.nanoTime()
    val outcome = try Right(body) catch {
      case e: Exception => Left(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val t1 = System.nanoTime()
    val ms = (t1 - t0) / 1e6
    synchronized {
      attempted += 1
      lastEnd(kind) = math.max(lastEnd.getOrElse(kind, t1), t1)
      lat.getOrElseUpdate((kind, traced), mutable.ArrayBuffer.empty) += ms
      if (label.nonEmpty) byLabel.getOrElseUpdate(s"$kind $label", mutable.ArrayBuffer.empty) += ms
      outcome match {
        case Right(c) => checks += kind -> c
        case Left(msg) => errors += msg
      }
    }
  }

  def latencies(kind: String): Seq[Double] = synchronized {
    lat.getOrElse((kind, false), Nil).toSeq ++ lat.getOrElse((kind, true), Nil)
  }
  /** System.nanoTime at which the last op of `kind` completed. */
  def lastEndNs(kind: String): Option[Long] = synchronized(lastEnd.get(kind))
  def latencies(kind: String, traced: Boolean): Seq[Double] = synchronized {
    lat.getOrElse((kind, traced), Nil).toSeq
  }
  /** Op kinds, and kinds split by label ("query cf_join"), with latencies. */
  def breakdown: Seq[(String, Seq[Double])] = synchronized {
    lat.keys.map(_._1).toSeq.distinct.map(k => k -> latencies(k)) ++
      byLabel.toSeq.map { case (k, v) => k -> v.toSeq }
  }.sortBy(_._1)

  private var outcome: Option[(Int, Int, Seq[String])] = None

  /** Runs every deferred check once; returns (attempted, failed, messages). */
  def finish(): (Int, Int, Seq[String]) = synchronized {
    if (outcome.isEmpty) {
      val failed = errors ++ checks.flatMap { case (kind, c) =>
        try c().map(m => s"$kind: $m")
        catch { case e: Exception => Some(s"$kind: check threw ${e.getMessage}") }
      }
      outcome = Some((attempted, failed.size, failed.toSeq))
    }
    outcome.get
  }
}
