package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints its metrics.
  *
  * {{{
  * Main --workload <movie_etl|ann_serve> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up runs [[Setups]] times from scratch; after [[WarmupOps]]
  * untimed warm-up ops the loop runs unit ops back to back until
  * `seconds` have passed and at least [[MinOps]] have run. The end-to-end latencies
  * are medians per request type over the untraced ops.
  * With `--trace 1` every other op is traced: its calls into the
  * engine run inside spans whose Spark work a listener attributes, and
  * the untraced ops between them give the tracing overhead. The last
  * stdout line is the result object; the lines before it are reports.
  */
object Main {
  val Setups = 3
  val MinOps = 3
  val WarmupOps = 2

  /** Input sizes, chosen so one run (set-up included) takes about a
    * minute on 4 vCPU. */
  val MovieRows = 10000
  val CorpusSize = 2000

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    // Spark gets half the cores: one client's jobs are small, and the
    // other half takes the JIT and GC threads and the host's steal,
    // which made runs of the same code agree more closely.
    val cpus = (Runtime.getRuntime.availableProcessors() / 2).max(1)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)

    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, seed, work)
    val w: Workload = workload match {
      case "movie_etl" => new MovieEtl(ctx, MovieRows)
      case "ann_serve" => new AnnServe(ctx, CorpusSize)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      w.setup(i)
      val s = (System.nanoTime() - t0) / 1e9
      progress(f"setup $i: $s%.2f s")
      s
    }

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def runOp(body: => Seq[String] = w.op()): Seq[String] = {
      val bad =
        try body
        catch { case e: Exception => Seq(s"op threw $e") }
      attempted += 1
      if (bad.nonEmpty) { failed += 1; failures ++= bad }
      bad
    }

    // untimed rounds of requests first: JIT compilation and Spark's lazy set-up
    val warmupS = {
      val t0 = System.nanoTime()
      for (_ <- 0 until WarmupOps) runOp(w.warmup())
      (System.nanoTime() - t0) / 1e9
    }
    progress(f"warm-up ops: $warmupS%.2f s")
    w.latencies.clear()

    val opMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (opMs.length < MinOps || System.nanoTime() < deadline) {
      val traced = trace && opMs.length % 2 == 0
      val t0 = System.nanoTime()
      tracer.op(traced)(runOp())
      opMs += ((traced, (System.nanoTime() - t0) / 1e6))
      progress(f"op ${opMs.length}: ${opMs.last._2}%.0f ms${if (traced) " (traced)" else ""}")
    }

    val checks =
      try w.finalChecks()
      catch { case e: Exception => Seq(s"final checks threw $e" -> false) }
    attempted += checks.length
    for ((name, ok) <- checks if !ok) { failed += 1; failures += name }
    val figures = w.figures()
    val rssMb = peakRssMb()
    spark.stop() // drains the listener bus before the spans are read

    def untraced(kind: String) = w.latencies.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "query_p50_ms" -> (untraced(w.queryKind), "ms"),
      "ingest_p50_ms" -> (untraced(w.ingestKind), "ms"),
      "peak_rss_mb" -> (Seq(rssMb), "mb"))

    println(Json.obj(Seq(
      "perfbench" -> Json.str("figures"),
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed.toDouble),
      "ops" -> Json.num(opMs.length.toDouble),
      "setup_runs_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupS),
      "error_rate" -> Json.num(failed.toDouble / attempted),
      "figures" -> Json.obj(
        (e2e.map { case (k, (xs, u)) =>
          k -> Figure(if (xs.isEmpty) None else Some(Stats.median(xs)), u, xs.length)
        } ++ figures).map {
          case (k, f) => k -> Json.obj(Seq(
            "value" -> f.value.map(Json.num).getOrElse("null"),
            "unit" -> Json.str(f.unit), "samples" -> Json.num(f.samples.toDouble)))
        }))))
    if (failures.nonEmpty)
      println(Json.obj(Seq("perfbench" -> Json.str("failures"),
        "failures" -> failures.take(20).map(Json.str).mkString("[", ",", "]"))))

    val metrics =
      if (!trace) e2e.map { case (k, (xs, u)) => k -> (Stats.median(xs), u) }
      else {
        val layers = Layers.summarise(tracer, w, opMs.toSeq)
        println(Json.obj(Seq(
          "perfbench" -> Json.str("spans"),
          "workload" -> Json.str(workload),
          "spans" -> Json.obj(layers.spans.map { case (span, ms) =>
            span -> Json.obj(ms.map { case (k, v) => k -> Json.num(v) })
          }),
          "trace_overhead_ms" -> Json.obj(layers.overhead.map { o =>
            o.kind -> Json.obj(Seq("value" -> Json.num(o.ms),
              "traced_samples" -> Json.num(o.traced), "untraced_samples" -> Json.num(o.untraced)))
          }))))
        layers.perOp
      }
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  private val started = System.nanoTime()

  /** A timestamped progress line on stderr. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
