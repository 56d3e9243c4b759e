package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** Spans around the benchmark's calls into the program's layers.
  *
  * A span is (id, layer, name, parent, start, end). While a span is open
  * every Spark job submitted from the driver runs under the job group
  * `graftbench-<id>`, so [[Ledger]] can attribute job, stage and task
  * counters to the innermost open span. Spans stay in memory; the run
  * summarizes them once it ends. While `on` is false, [[apply]] runs the
  * body and records nothing. */
final class Tracer(sc: SparkContext) {
  var on = false

  final class Span(val id: Int, val layer: String, val name: String,
                   val parent: Int, val start: Long) {
    var end = 0L
    /** Rows the call produced, when the benchmark counted them. */
    var rows = -1L
    def group: String = s"graftbench-$id"
  }

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  private def enter(s: Span): Unit =
    sc.setJobGroup(s.group, s"${s.layer}: ${s.name}", interruptOnCancel = false)

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, layer, name,
        open.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      open = s :: open
      enter(s)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        open.headOption.fold(sc.clearJobGroup())(enter)
      }
    }

  /** Record the row count of the innermost open span's result. */
  def rows(n: Long): Unit = open.headOption.foreach(_.rows = n)

  /** Span duration minus the time its direct children cover. */
  def selfNanos(s: Span): Long =
    (s.end - s.start) -
      spans.iterator.filter(_.parent == s.id).map(c => c.end - c.start).sum
}
