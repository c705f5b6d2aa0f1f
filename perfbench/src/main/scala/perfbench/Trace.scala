package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** In-memory span store of one traced run. Times are epoch milliseconds
  * (fractional), the clock Spark's job events use too. Nothing is written
  * until `write` at the end of the run. */
final class Trace {
  import Trace.Span
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Record a finished span; returns its id. Parent -1 is the root. */
  def add(name: String, parent: Int, start: Double, end: Double): Int = synchronized {
    val s = Span(spans.size, name, parent, start, end)
    spans += s
    s.id
  }

  def open(name: String, parent: Int): Int = add(name, parent, now(), Double.NaN)

  def close(id: Int): Double = synchronized {
    val s = spans(id)
    s.end = now()
    (s.end - s.start) / 1e3
  }

  /** Run `body` inside a span; the body gets the span id for its children. */
  def span[T](name: String, parent: Int)(body: Int => T): T = {
    val id = open(name, parent)
    try body(id) finally close(id)
  }

  /** Self time of every span: its duration minus the part of its interval
    * that the union of its children's intervals covers. */
  def selfTimesS(): Map[Int, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.end - s.start - covered) / 1e3
    }.toMap
  }

  /** Length of the union of intervals (ignores empty ones). */
  private def union(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((a, b) <- iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1)) {
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** One JSON object per line: name, start, end, parent, run id, self time. */
  def write(path: String, runId: String): Unit = {
    val self = selfTimesS()
    val lines = synchronized(spans.toList).map { s =>
      Json.obj(Seq("run_id" -> Json.str(runId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "self_s" -> Json.num(self(s.id))))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
