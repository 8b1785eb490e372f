package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the enclosing span's id (0 at
  * the op root); every span of one benchmark run shares `runId`.
  */
final case class Span(id: Long, parent: Long, name: String, runId: String,
    op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. The Spark driver thread runs
  * every op, so a plain stack gives each span its parent. Spans stay in
  * memory until [[write]] at the end of the run. When disabled, [[span]]
  * is a bare call: untraced ops pay nothing.
  */
final class Tracer(val runId: String) {
  private val done = ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var op = -1
  var enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, runId, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Root span `root` of op `n` (the op itself, or its kernel pass);
    * layer spans opened inside it are its children.
    */
  def within[T](n: Int, root: String)(body: => T): T = {
    op = n
    try span(root)(body) finally op = -1
  }

  def spans: Seq[Span] = done.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.foreach { s =>
      sb.append(Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "run" -> Json.str(s.runId),
        "op" -> Json.num(s.op), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs)))).append('\n')
    }
    java.nio.file.Files.write(path,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Length of the union of `[start, end)` intervals, in their unit. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Minimal JSON writer for the run record (no JSON library on the engine's
  * compile path is needed for this).
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def bool(b: Boolean): String = b.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
