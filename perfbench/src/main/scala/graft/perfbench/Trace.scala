package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One traced call into a layer. `layer` is the name's first segment
  * (`search.graph.exec` belongs to `search`); `request` groups the
  * spans of one benchmark op; `phase` is the part of the run that made
  * the call: `tour`, `setup` or `op`.
  */
final case class Span(id: Int, parent: Int, name: String, request: Int, phase: String,
    startNs: Long, var endNs: Long = -1L) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the benchmark's own calls into each
  * layer. Disabled, `span` is a plain call, so the untraced runs carry
  * no tracing cost. Enabled, each span also tags the Spark jobs its
  * body submits (a local property [[Tracer.SpanProp]]) so that
  * [[SparkMeter]] can charge jobs, tasks and bytes to the span.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  /** The phase that new spans belong to. */
  var phase = "tour"
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var request = 0

  /** Start a new request id: the spans that follow belong to it. */
  def nextRequest(): Unit = request += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(recorded.length, currentId, name, request, phase, System.nanoTime())
      recorded += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  /** Id of the innermost open span; -1 outside every span. */
  def currentId: Int = stack.headOption.fold(-1)(_.id)

  /** Self time of each span: its duration minus its children's. */
  def selfNs: Map[Int, Long] = {
    val childNs = recorded.groupMapReduce(_.parent)(_.durNs)(_ + _)
    recorded.iterator.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Total self time per layer, in seconds. */
  def selfSecondsByLayer: Map[String, Double] = {
    val self = selfNs
    recorded.groupMapReduce(_.layer)(s => self(s.id) / 1e9)(_ + _)
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = recorded.groupMap(_.parent)(_.id)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).foldLeft(Set(id))(_ ++ go(_))
    go(root)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try recorded.foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "request" -> s.request, "phase" -> s.phase,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
