package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusBridge

/** One traced call into a graft layer. `parent` is the enclosing span on
  * the same thread (0 at top level); `spark` is the delta of the thread's
  * track counters across the span; `extra` carries layer-specific numbers
  * (rows, bytes, streaming durations).
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    op: String, track: String, startMs: Long, endMs: Long, seconds: Double,
    spark: Tally, extra: Map[String, Double], error: String) {
  def toJson: String = Json.obj(
    "id" -> id, "parent" -> parent, "layer" -> layer, "name" -> name,
    "op" -> op, "track" -> track, "start_ms" -> startMs, "end_ms" -> endMs,
    "seconds" -> seconds, "jobs" -> spark.jobs, "tasks" -> spark.tasks,
    "executor_run_s" -> spark.runMs / 1e3, "error" -> error,
    "extra" -> Json.raw(Json.obj(extra.toSeq.map { case (k, v) => k -> (v: Any) }: _*)))
}

/** In-memory span recorder. Off (a plain call-through) unless the run is
  * traced; when on, each span drains the listener bus at both ends so the
  * counter deltas it records belong to the jobs that ran inside it.
  */
final class Tracer(sc: SparkContext, probe: Probe) {
  @volatile var on = false
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val extras = new ThreadLocal[List[scala.collection.mutable.Map[String, Double]]] {
    override def initialValue() = Nil
  }

  private def track: String = Option(sc.getLocalProperty(Probe.TrackKey)).getOrElse("other")

  /** Attach a number to the innermost open span of this thread. */
  def note(key: String, value: Double): Unit =
    if (on) extras.get.headOption.foreach(m => m(key) = m.getOrElse(key, 0.0) + value)

  def span[T](layer: String, name: String, op: String)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    val tr = track
    BusBridge.drain(sc)
    val before = probe.snapshot(tr)
    val extra = scala.collection.mutable.Map[String, Double]()
    stack.set(id :: stack.get); extras.set(extra :: extras.get)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var error = ""
    try body
    catch { case e: Throwable => error = Errors.describe(e); throw e }
    finally {
      val seconds = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      stack.set(stack.get.tail); extras.set(extras.get.tail)
      BusBridge.drain(sc)
      done.add(Span(id, parent, layer, name, op, tr, startMs, endMs, seconds,
        probe.snapshot(tr).minus(before), extra.toMap, error))
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Seconds per layer spent in the layer's own spans, net of the
    * durations of spans nested inside them.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val childTime = all.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    all.groupBy(_.layer).view.mapValues(_.map(s =>
      s.seconds - childTime.getOrElse(s.id, 0.0)).sum).toMap
  }
}

object Errors {
  /** Class and message of a failure, never a bare sentinel. */
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    val cause = if (root ne e) s" (cause ${root.getClass.getName}: " +
      Option(root.getMessage).getOrElse("").linesIterator.take(2).mkString(" ") + ")" else ""
    s"${e.getClass.getName}: $msg$cause".take(600)
  }
}
