package perfbench

import scala.collection.mutable

/** Spans around each call the benchmark makes into a layer of the engine.
  *
  * A span has a name, the layer it times, start and end (ns), its parent
  * span and the id of the run (one setup, catch-up cycle, pipeline run or
  * query pass) it belongs to. Spans stay in memory and are written out when
  * the benchmark ends. Only the benchmark's main thread records spans, so
  * nesting is a plain stack. While tracing is off, `span` just runs its
  * body; a traced run turns it off for its untraced measurements.
  */
final class Trace(var enabled: Boolean) {
  import Trace.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var runId = 0
  private val origin = System.nanoTime()
  private val wallOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** A wall-clock time in epoch ms on the `System.nanoTime` scale. */
  def wallToNs(epochMs: Long): Long = epochMs * 1000000L + wallOffsetNs

  /** Start a new run id; spans opened from now on carry it. */
  def newRun(): Unit = runId += 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        done += Span(id, name, layer, parent, runId, t0, System.nanoTime())
      }
    }

  /** Record a span measured elsewhere (a duration Spark reports), as a
    * child of the innermost open span.
    */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      done += Span(nextId, name, layer, open.headOption.getOrElse(-1), runId,
        startNs, endNs)
      nextId += 1
    }

  /** Per layer, the time its spans cover minus the time their child spans
    * cover, in seconds.
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def toJson: String = done.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},"run":${s.run},""" +
      f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,"end_ms":${(s.endNs - origin) / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
      run: Int, startNs: Long, endNs: Long)
}
