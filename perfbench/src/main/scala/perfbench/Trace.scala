package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `op` identifies the operation the
  * span belongs to; `parent` is the enclosing span, or -1.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it runs the body and nothing
  * else, so measured runs carry no tracing cost.
  */
final class Tracer(spark: SparkSession, counters: Option[Counters]) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def enabled: Boolean = counters.isDefined

  private def enter(name: String): Unit = counters.foreach { c =>
    val sc = spark.sparkContext
    org.apache.spark.perfbench.Bus.drain(sc)
    c.layer = name
    if (name == Tracer.Untagged) sc.clearJobGroup()
    else sc.setJobGroup(name, name, interruptOnCancel = false)
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      enter(name)
      val id = nextId
      nextId += 1
      stack = (id, name) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, op, name, parent.map(_._1).getOrElse(-1), t0, t1)
        enter(parent.map(_._2).getOrElse(Tracer.Untagged))
      }
    }

  /** Span duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}

object Tracer {
  val Untagged = "untagged"
}
