package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counts of one span: its jobs, the task times of each of its
  * stages, and the shuffle bytes its tasks wrote. */
final class SpanCounts {
  var jobs = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time in the stage with the most task time; 0 when the
    * span ran no tasks. */
  def skew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.length / 2))
    }
}

/** Attributes jobs, stages and tasks to spans by the job group each span sets.
  * Registered through `spark.extraListeners`, so every SparkContext made in
  * the traced run reports here, including the ones a CLI call creates. */
class SpanListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = SpanListener.synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val c = SpanListener.counts(g)
        c.jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SpanListener.synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = SpanListener.counts(g)
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }
}

object SpanListener {
  private val byGroup = mutable.Map.empty[String, SpanCounts]
  def counts(group: String): SpanCounts = synchronized(byGroup.getOrElseUpdate(group, new SpanCounts))
}

/** One finished span. `self_s` is the span's wall time minus the wall time of
  * the spans nested directly inside it. */
final case class Span(name: String, parent: Option[String], wallS: Double, selfS: Double,
    rows: Long, counts: SpanCounts)

/** In-memory span recorder for the traced run; spans are reported when the
  * run ends. Single driver thread, closed loop. */
object Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(String, String, mutable.ArrayBuffer[Double])]
  private var seq = 0

  /** Times `body` as span `name`; `body` returns its value and the row count
    * it produced. Spark jobs submitted from `sc` inside the span are counted
    * under a job group unique to this span. */
  def span[A](name: String, sc: Option[SparkContext] = None)(body: => (A, Long)): A = {
    seq += 1
    val group = s"$name#$seq"
    val children = mutable.ArrayBuffer.empty[Double]
    stack.push((name, group, children))
    sc.foreach(_.setJobGroup(group, name))
    val t0 = System.nanoTime
    val (a, rows) =
      try body
      finally {
        stack.pop()
        // hand the context back to the enclosing span's group
        sc.foreach(c => stack.headOption.fold(c.clearJobGroup())(p => c.setJobGroup(p._2, p._1)))
      }
    val wall = (System.nanoTime - t0) / 1e9
    sc.foreach(org.apache.spark.BenchBus.drain)
    stack.headOption.foreach(_._3 += wall)
    spans += Span(name, stack.headOption.map(_._1), wall, wall - children.sum, rows,
      SpanListener.counts(group))
    a
  }

  /** `span(name)(body)` when `on`, else just `body`. */
  def spanIf[A](on: Boolean, name: String)(body: => (A, Long)): A =
    if (on) span(name)(body) else body._1
}
