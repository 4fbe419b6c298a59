package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is 0 for the root;
  * times are nanoseconds on one monotonic clock shared by every span of
  * a run.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long) {
  def duration: Long = end - start
}

object Span {
  /** Total length of the union of half-open intervals `[a, b)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. Children may overlap one another
    * (concurrent fetches under one download phase), so the covered part
    * is the union of their intervals clipped to the parent, never the sum.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.duration - covered)
    }.toMap
  }
}

/** Spans and counters of one benchmark run, kept in memory and written
  * once at the end. Spans opened on the benchmark's own thread nest; a
  * span opened on any other thread (the pipeline's download pool) is a
  * leaf under whatever the benchmark's thread has open. With `enabled`
  * false nothing is recorded and a span is just the call it wraps.
  *
  * The innermost open path is published through `onPathChange`, which the
  * run uses to tag Spark jobs with the span they belong to.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val owner = Thread.currentThread()
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  @volatile private var stack: List[(Int, String)] = Nil
  private val counters = new ConcurrentHashMap[(String, String), DoubleAdder]()
  @volatile var onPathChange: String => Unit = _ => ()

  /** Slash-joined names of the spans open on the benchmark's thread. */
  def path: String = stack.reverseIterator.map(_._2).mkString("/")

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val id = ids.incrementAndGet()
      val nested = Thread.currentThread() eq owner
      if (nested) { stack = (id, name) :: stack; onPathChange(path) }
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        if (nested) { stack = stack.tail; onPathChange(path) }
      }
    }

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** A span time as epoch milliseconds, the clock of Spark's events. */
  def epochMs(ns: Long): Long = math.round(ns / 1e6 + epochOffsetMs)

  /** Adds to counter `name` on the path open on the benchmark's thread. */
  def add(name: String, v: Double): Unit = addAt(name, path, v)

  def addAt(name: String, at: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent((name, at), _ => new DoubleAdder).add(v)

  /** Replaces counter `name` on `at` (a value that is observed, not summed). */
  def setAt(name: String, at: String, v: Double): Unit =
    if (enabled) {
      val a = counters.computeIfAbsent((name, at), _ => new DoubleAdder)
      a.reset(); a.add(v)
    }

  /** Counter `name` per path it was charged to. */
  def counter(name: String): Map[String, Double] =
    counters.asScala.collect { case ((n, at), v) if n == name => at -> v.sum }.toMap

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** The span file: one JSON object per span with its self time, then one
    * per counter and path. */
  def write(file: java.nio.file.Path): Unit = {
    val all = spans
    val self = Span.selfTimes(all)
    val lines = all.map { s =>
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"self_ns":${self(s.id)}}"""
    } ++ counters.asScala.toSeq.sortBy(_._1).map { case ((n, at), v) =>
      s"""{"run":${Json.str(runId)},"counter":${Json.str(n)},""" +
        s""""path":${Json.str(at)},"value":${Json.num(v.sum)}}"""
    }
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.write(file,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision, locale-independent number; non-finite values have no
    * JSON form and are a harness bug, so they fail loudly. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  }
}
