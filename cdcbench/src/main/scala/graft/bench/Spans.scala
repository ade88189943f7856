package graft.bench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run: name, start, end (nanoTime),
  * parent link and a few attributes. Written out once, at the end.
  */
final class Spans(traceId: String) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                        attrs: Seq[(String, Any)])
  private val buf = ArrayBuffer[Span]()

  def add(parent: Int, name: String, start: Long, end: Long, attrs: (String, Any)*): Int =
    synchronized { val id = buf.size + 1; buf += Span(id, parent, name, start, end, attrs); id }

  /** Run `f` inside a span; returns its result and its duration in seconds. */
  def time[T](parent: Int, name: String, attrs: (String, Any)*)(f: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = f
    val e = System.nanoTime()
    add(parent, name, s, e, attrs: _*)
    (r, (e - s) / 1e9)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("trace" -> traceId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "dur_ms" -> (s.end - s.start) / 1e6,
        "attrs" -> Json.obj(s.attrs)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Just enough JSON writing for results and spans. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "metric is not a finite number")
      d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  /** A pre-rendered JSON fragment. */
  final case class Raw(json: String)

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}

/** Order statistics with linear interpolation between closest ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
