package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload is handed. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: File) {
  def dir(name: String): String = new File(work, name).getPath

  /** Drop everything a unit of work left cached or checkpointed. */
  def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** A named end-to-end figure as printed on the report line. */
final case class Figure(value: Option[Double], unit: String, samples: Int)

/** One benchmark workload: a set of seeded inputs and a closed loop of
  * unit operations (one client, the next op starts when the last ends).
  * Each op is one round of the workload's request mix, and every round
  * holds at least one read request ([[queryKind]]) and one write
  * request ([[ingestKind]]); the gated latencies are per request type,
  * so the mix sets how many samples each gets, not its weight. */
trait Workload {
  protected def ctx: Ctx

  /** The latency kind of the workload's read request. */
  def queryKind: String

  /** The latency kind of the workload's write request. */
  def ingestKind: String

  /** Generate the inputs and build what the loop serves from. Run
    * several times; each run starts from nothing but the seed. */
  def setup(round: Int): Unit

  /** One unit of work; returns the names of its failed checks. */
  def op(): Seq[String]

  /** Warm the JVM (JIT, codegen, class loading) before timing; by
    * default one unit of work. Returns the names of failed checks. */
  def warmup(): Seq[String] = op()

  /** End-of-run output checks, outside the timed loop. */
  def finalChecks(): Seq[(String, Boolean)]

  /** The workload's own named figures, for the report line. */
  def figures(): Seq[(String, Figure)]

  /** Latencies per request type, in ms, for the report. */
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty

  /** Latencies of traced ops are kept apart, under `kind` + [[Workload.TracedSuffix]]. */
  protected def record(kind: String, ms: Double): Unit = {
    val k = if (ctx.tracer.active) kind + Workload.TracedSuffix else kind
    latencies.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ms
    Main.progress(f"  $k: $ms%.0f ms")
  }

  protected def timedMs[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    record(kind, (System.nanoTime() - t0) / 1e6)
    out
  }

  /** `<kind>_p90_ms` of a request type (withheld under 100 samples). */
  protected def p90Figure(kind: String): (String, Figure) = {
    val xs = latencies.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq
    s"${kind}_p90_ms" -> Figure(Stats.percentile(xs, 0.9), "ms", xs.length)
  }
}

object Workload {
  val TracedSuffix = "@traced"
}
