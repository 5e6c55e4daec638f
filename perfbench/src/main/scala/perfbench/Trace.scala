package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is the id of the span that caused it (0 for
  * an operation's root span); every span of one operation carries the
  * operation's id in `op`. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. With tracing off every call is a plain
  * pass-through, so the untraced run pays nothing but a branch.
  *
  * Spans recorded from the client thread nest through a stack; spans that
  * arrive from elsewhere (Spark listener events, Catalyst phase times)
  * name their parent explicitly or are attached post hoc to the innermost
  * client span of the same operation that contains their start. */
final class Trace(val on: Boolean) {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochBase + (System.nanoTime() - nanoBase) / 1000L

  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  @volatile var currentOp: Long = 0L

  private val clientIds = scala.collection.mutable.HashSet.empty[Long]

  /** Reserve a span id before the span's end is known. */
  def reserve(): Long = synchronized { val i = nextId; nextId += 1; i }

  /** Record a span from outside the client thread. `parent = -1` asks for
    * post-hoc attachment to the innermost client span of operation `op`
    * that contains `start`. */
  def put(id: Long, parent: Long, op: Long, name: String,
          start: Long, end: Long): Unit =
    if (on) synchronized { buf += Span(id, parent, op, name, start, end) }

  /** Time `body` as a span nested under the current client span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = reserve()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = nowUs
      try body finally {
        val t1 = nowUs
        stack = stack.tail
        synchronized {
          clientIds += id
          buf += Span(id, parent, currentOp, name, t0, t1)
        }
      }
    }

  /** Root span of one operation; `op` becomes the id every nested span and
    * every Spark job started meanwhile is tagged with. */
  def op[T](op: Long, name: String)(body: => T): T = {
    currentOp = op
    try span(name)(body) finally currentOp = 0L
  }

  def spans: Vector[Span] = synchronized {
    val all = buf.toVector
    // attach parentless foreign spans (phases, jobs) to the innermost
    // client span of their operation that contains their start
    val byOp = all.filter(s => clientIds(s.id)).groupBy(_.op)
    all.map { s =>
      if (s.parent != -1L) s
      else {
        val hosts = byOp.getOrElse(s.op, Vector.empty).filter(h =>
          h.start <= s.start && s.start <= h.end)
        s.copy(parent =
          if (hosts.isEmpty) 0L else hosts.minBy(_.dur).id)
      }
    }
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTimes(all: Vector[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_us":${s.start},"end_us":${s.end}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
