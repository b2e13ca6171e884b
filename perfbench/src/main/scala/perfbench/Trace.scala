package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span Spark counters, gathered by a `SparkListener` the harness
  * registers only in traced runs. A span is one call into an engine layer
  * (`sources.*`, `operators.*`, `pipeline.*`). Jobs are attributed to the
  * span whose name the driver thread carries as a local property when the
  * job is submitted (Spark copies local properties to the threads it uses
  * for broadcasts and subqueries); stages and tasks follow their job.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  final class Acc {
    var wallS = 0.0
    var startMs = 0L
    var endMs = 0L
    var jobs = 0L
    var tasks = 0L
    var shuffleWrite = 0L
    var input = 0L
    var output = 0L
    var spill = 0L
    var execRunMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val jobSpan = mutable.HashMap.empty[Int, (String, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private var seq = 0

  private def acc(key: String): Acc = accs.getOrElseUpdate(key, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { key =>
      acc(key).jobs += 1
      jobSpan(e.jobId) = (key, e.time)
      e.stageIds.foreach(stageSpan(_) = key)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (key, start) =>
      acc(key).jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { key =>
      val a = acc(key)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.execRunMs += m.executorRunTime
      }
    }
  }

  /** Runs `f` as the span `name`; returns its result. */
  def span[T](name: String)(f: => T): T = {
    val key = synchronized { seq += 1; s"$seq\t$name" }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, key)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, prev)
      synchronized {
        val a = acc(key)
        a.wallS = wall
        a.startMs = startMs
        a.endMs = endMs
      }
    }
  }

  /** Every span recorded so far as (name, measures), in start order, after
    * the listener bus has delivered all pending events.
    */
  def spans(): Seq[(String, Map[String, Double])] = {
    org.apache.spark.ListenerBusDrain(sc)
    synchronized {
      accs.toSeq.map { case (key, a) =>
        val name = key.split('\t')(1)
        name -> Map(
          "s" -> a.wallS,
          "jobs" -> a.jobs.toDouble,
          "tasks" -> a.tasks.toDouble,
          "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
          "input_bytes" -> a.input.toDouble,
          "output_bytes" -> a.output.toDouble,
          "spill_bytes" -> a.spill.toDouble,
          "executor_run_s" -> a.execRunMs / 1e3,
          "driver_gap_s" -> math.max(0.0,
            a.wallS - unionMs(a.jobIntervals.toSeq, a.startMs, a.endMs) / 1e3))
      }
    }
  }

  /** Forgets every recorded span. */
  def reset(): Unit = {
    org.apache.spark.ListenerBusDrain(sc)
    synchronized { accs.clear(); jobSpan.clear(); stageSpan.clear() }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    for ((s, e) <- intervals.sortBy(_._1)) {
      val from = math.max(s, reach)
      val to = math.min(e, hi)
      if (to > from) { covered += to - from; reach = to }
    }
    covered
  }
}
