package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are `System.nanoTime` values;
  * `parent` is 0 for a span that nothing encloses; `op` groups the spans
  * of one benchmark operation (one forecast, one statement, one batch).
  */
final case class Span(id: Long, layer: String, name: String, op: Long,
                      parent: Long, thread: String, start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans nest per thread through a thread-local
  * stack; `enter`/`exit` hooks let the caller tag work submitted inside
  * a span (the benchmark sets a Spark local property so jobs are
  * attributed to the innermost open span). Disabled, `span` only runs
  * its body.
  */
final class Tracer(val enabled: Boolean,
                   enter: Long => Unit = _ => (),
                   exit: Option[Long] => Unit = _ => ()) {

  private val ids = new AtomicLong(0)
  private val ops = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def newOp(): Long = ops.incrementAndGet()

  /** The op of the innermost open span on this thread, or a fresh op. */
  private def currentOp: Long = stack.get().headOption.map(_._2).getOrElse(newOp())

  def span[T](layer: String, name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val theOp = if (op > 0) op else currentOp
      stack.set((id, theOp) :: outer)
      enter(id)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.set(outer)
        exit(outer.headOption.map(_._1))
        done.add(Span(id, layer, name, theOp, outer.headOption.map(_._1).getOrElse(0L),
          Thread.currentThread().getName, start, end))
      }
    }

  private val keys = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Records a span measured elsewhere (a streaming batch, from its
    * progress event); `key` names the Spark jobs that belong to it.
    */
  def record(layer: String, name: String, key: String, start: Long, end: Long,
             attrs: Map[String, Double] = Map.empty): Unit =
    if (enabled) {
      val id = ids.incrementAndGet()
      keys.put(key, id)
      // keys of streaming batches read stream:<query id>:<batch id>
      val query = key.split(':').lift(1).getOrElse("")
      done.add(Span(id, layer, name, newOp(), 0L, s"progress [id = $query]", start, end, attrs))
    }

  /** Job attribution keys of recorded spans, to span id. */
  def recordedKeys: Map[String, Long] = keys.asScala.map { case (k, v) => k -> v.longValue }.toMap

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Trace {

  /** Gives every orphan span recorded on a streaming thread, or rebuilt
    * from a progress event, the narrowest `streaming` span that encloses
    * it in time: the work a micro-batch does on Spark's own stream thread
    * has no benchmark frame to nest under, so containment is its only
    * link. A batch is only ever adopted by a benchmark span (a drain),
    * and stream-thread work only by a batch of its own query.
    */
  def adoptStreamOrphans(spans: Seq[Span]): Seq[Span] = {
    val hosts = spans.filter(s => s.layer == "streaming")
    def query(thread: String) = """id = ([0-9a-f-]+)""".r.findFirstMatchIn(thread).map(_.group(1))
    spans.map { s =>
      val fromProgress = s.thread.startsWith("progress")
      val onStream = s.thread.startsWith("stream execution")
      // a batch span rebuilt from its progress event has ms precision
      val slack = if (fromProgress) 2000000L else 0L
      def eligible(h: Span) =
        if (fromProgress) !h.thread.startsWith("progress")
        else !h.thread.startsWith("progress") || query(h.thread) == query(s.thread)
      if (s.parent != 0 || !(fromProgress || onStream)) s
      else hosts.filter(h => h.id != s.id && eligible(h) && h.durNs > s.durNs &&
          h.start <= s.start + slack && s.end <= h.end + slack)
        .sortBy(_.durNs).headOption.fold(s)(h => s.copy(parent = h.id))
    }
  }

  /** Self time of each span: its duration minus the part of its interval
    * its children cover (overlapping children count once, and a child
    * is clipped to its parent's interval).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per layer, in ms. */
  def layerSelfMs(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  def toJson(spans: Seq[Span], t0: Long): String = {
    val self = selfTimes(spans)
    spans.map { s =>
      Json.obj(Seq(
        "id" -> Json.num(s.id.toDouble), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "op" -> Json.num(s.op.toDouble),
        "parent" -> Json.num(s.parent.toDouble), "thread" -> Json.str(s.thread),
        "start_ms" -> Json.num((s.start - t0) / 1e6), "end_ms" -> Json.num((s.end - t0) / 1e6),
        "self_ms" -> Json.num(self(s.id) / 1e6)) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
