package perfbench

import java.io.File

object Util {
  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Linear-interpolated quantile (inclusive), as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def files(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(c => files(c.getPath))
    else if (f.isFile) Seq(f) else Nil
  }
  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  /** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
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
    b += '"'
    b.toString
  }
}
