package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail: the highest whole percentile q whose nearest-rank value
    * still has at least ten samples above it. Returns (q, value). Below
    * 21 samples no percentile above the median qualifies, and the tail is
    * the median (q = 50).
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    (99 to 51 by -1).iterator
      .map(q => (q, math.ceil(q / 100.0 * n).toInt))
      .find { case (_, rank) => n - rank >= 10 }
      .map { case (q, rank) => (q, s(rank - 1)) }
      .getOrElse((50, median(xs)))
  }
}

/** A small JSON writer: the harness has no JSON dependency of its own. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Renders Scala values: Map (insertion order kept for ListMap / Seq of
    * pairs), Seq, String, numbers, Boolean and null.
    */
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: Obj => m.fields.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** An ordered JSON object. */
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
}

/** Host-contention stamp: the machine is shared, so every run records the
  * load it ran under. `busy` and `steal` are shares of all CPU time in
  * /proc/stat over the sampled interval.
  */
object Host {
  final case class Cpu(busy: Long, steal: Long, total: Long)

  def loadavg(): Seq[Double] = readFirstLine("/proc/loadavg")
    .map(_.split("\\s+").take(3).toSeq.flatMap(_.toDoubleOption)).getOrElse(Nil)

  def cpu(): Option[Cpu] = readFirstLine("/proc/stat").map { line =>
    val f = line.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    val idle = f(3) + f(4)
    val steal = if (f.length > 7) f(7) else 0L
    val total = f.take(8).sum
    Cpu(total - idle - steal, steal, total)
  }

  private def readFirstLine(p: String): Option[String] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.US_ASCII)
      .linesIterator.next().trim).toOption

  /** Busy and steal shares between two samples. */
  def shares(a: Option[Cpu], b: Option[Cpu]): (Double, Double) = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total =>
      val dt = (y.total - x.total).toDouble
      ((y.busy - x.busy) / dt, (y.steal - x.steal) / dt)
    case _ => (Double.NaN, Double.NaN)
  }

  /** Samples the host for `ms` milliseconds while this process is idle:
    * everything busy in that window is someone else's work.
    */
  def idleSample(ms: Long): (Double, Double) = {
    val a = cpu(); Thread.sleep(ms); shares(a, cpu())
  }
}
