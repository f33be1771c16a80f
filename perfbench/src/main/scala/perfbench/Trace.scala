package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters of one span instance, filled from Spark listener events. */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputRecords = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes Spark jobs, stages and tasks to the benchmark span that
  * was open when they were submitted. Spans travel as the
  * [[Tracer.SpanKey]] local property, which Spark copies onto every job
  * and stage the calling thread (or a thread it spawns) submits. The
  * listener bus delivers events on one thread, after the fact, so the
  * counters are read only once that bus is drained (after
  * `SparkContext.stop`). */
final class SpanListener extends SparkListener {
  private val counters = mutable.HashMap.empty[String, SpanCounters]
  private val stageSpan = mutable.HashMap.empty[Int, SpanCounters]
  private val jobStart = mutable.HashMap.empty[Int, (SpanCounters, Long)]

  private def spanOf(props: java.util.Properties): Option[SpanCounters] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(k => counters.getOrElseUpdate(k, new SpanCounters))

  def get(key: String): SpanCounters = synchronized {
    counters.getOrElse(key, new SpanCounters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { c =>
      c.jobs += 1
      jobStart(e.jobId) = (c, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (c, t0) => c.jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { c =>
      c.stages += 1
      stageSpan(e.stageInfo.stageId) = c
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (c <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }
}

/** Spans around the benchmark's calls into the engine. With tracing
  * off every method runs its body and records nothing, and no
  * listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private val sc = spark.sparkContext
  private val spanRecs = mutable.ArrayBuffer.empty[SpanRec]
  private var tracing = false
  private var seq = 0

  /** Whether spans opened now are recorded. */
  def active: Boolean = tracing

  /** Run one unit of work; its spans are recorded when `traced`. */
  def op[T](traced: Boolean)(body: => T): T = {
    tracing = enabled && traced
    try body finally tracing = false
  }

  /** Run `body` as span `name`. */
  def span[T](name: String)(body: => T): T = span(name, (_: T) => 0L)(body)

  /** Run `body` as span `name`; `results` counts what it returned, the
    * base of the span's rows-read-per-result ratio. */
  def span[T](name: String, results: T => Long)(body: => T): T =
    if (!active) body
    else {
      seq += 1
      val key = s"$name#$seq"
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, key)
      val t0 = System.nanoTime()
      val out = try body finally sc.setLocalProperty(SpanKey, prev)
      val wall = (System.nanoTime() - t0) / 1e9
      val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
      spanRecs += SpanRec(name, key, wall, storageMb, results(out))
      out
    }

  def spans: Seq[SpanRec] = spanRecs.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MB = 1024.0 * 1024.0

  final case class SpanRec(name: String, key: String, wallS: Double,
      storageMb: Double, results: Long)

  /** Total length of the union of [start, end) intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
