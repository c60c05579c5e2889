package perfbench

/** One timed interval at a layer boundary. Times are `System.nanoTime`
  * values of the harness JVM; `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {

  /** Nanoseconds of [start, end) covered by the union of `intervals`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its child spans cover (overlapping children count once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(s.startNs, s.endNs, kids))
    }.toMap
  }

  /** Self seconds summed per layer. */
  def selfSecondsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e9
    }
  }
}
