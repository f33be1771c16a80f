package perfbench

/** Per-layer figures of a traced run, read from the spans once the
  * listener bus has drained. */
final case class Layers(
    spans: Seq[(String, Seq[(String, Double)])],
    perOp: Seq[(String, (Double, String))],
    overhead: Seq[Layers.Overhead])

object Layers {

  /** Traced minus untraced median latency of one request type (or of
    * the whole op), with the sample count on each side. */
  final case class Overhead(kind: String, ms: Double, traced: Int, untraced: Int)

  def summarise(tracer: Tracer, w: Workload, opMs: Seq[(Boolean, Double)]): Layers = {
    val recs = tracer.spans
    val c = recs.map(r => r.key -> tracer.listener.get(r.key)).toMap
    def busyS(r: Tracer.SpanRec) = Tracer.unionMs(c(r.key).jobIntervals.toSeq) / 1000.0

    // per span name: the median over its instances (per request for
    // the serve spans, per pass for the batch ones)
    val spans = recs.map(_.name).distinct.map { name =>
      val rs = recs.filter(_.name == name)
      def med(f: Tracer.SpanRec => Double) = Stats.median(rs.map(f))
      val base = Seq(
        "wall_s" -> med(_.wallS),
        "jobs" -> med(r => c(r.key).jobs.toDouble),
        "tasks" -> med(r => c(r.key).tasks.toDouble),
        "cpu_s" -> med(r => c(r.key).cpuNs / 1e9),
        "gc_s" -> med(r => c(r.key).gcMs / 1e3),
        "shuffle_mb" -> med(r => c(r.key).shuffleBytes / Tracer.MB))
      val results = rs.map(_.results).sum
      val perResult =
        if (results > 0) Seq("rows_read_per_result" -> rs.map(r => c(r.key).inputRecords).sum.toDouble / results)
        else Nil
      name -> (base ++ perResult)
    } ++ (
      if (!recs.exists(_.name.startsWith("etl."))) Nil
      else Seq("etl" -> Seq("peak_storage_mb" -> recs.map(_.storageMb).max)))

    // per traced op: totals over the op's spans, averaged over ops
    val traced = opMs.count(_._1).max(1).toDouble
    def perOp(f: Tracer.SpanRec => Double) = recs.map(f).sum / traced
    val storage = if (recs.isEmpty) 0.0 else recs.map(_.storageMb).max
    val untracedOp = opMs.collect { case (false, ms) => ms }
    val tracedOp = opMs.collect { case (true, ms) => ms }
    val opOverheadPct =
      if (untracedOp.isEmpty || tracedOp.isEmpty) Double.NaN
      else 100 * (Stats.median(tracedOp) / Stats.median(untracedOp) - 1)
    val perOpMetrics = Seq(
      "jobs_per_op" -> (perOp(r => c(r.key).jobs.toDouble), "count"),
      "stages_per_op" -> (perOp(r => c(r.key).stages.toDouble), "count"),
      "tasks_per_op" -> (perOp(r => c(r.key).tasks.toDouble), "count"),
      "executor_cpu_s_per_op" -> (perOp(r => c(r.key).cpuNs / 1e9), "s"),
      "executor_run_s_per_op" -> (perOp(r => c(r.key).runMs / 1e3), "s"),
      "gc_s_per_op" -> (perOp(r => c(r.key).gcMs / 1e3), "s"),
      "shuffle_mb_per_op" -> (perOp(r => c(r.key).shuffleBytes / Tracer.MB), "mb"),
      "input_rows_per_op" -> (perOp(r => c(r.key).inputRecords.toDouble), "count"),
      "engine_s_per_op" -> (perOp(_.wallS), "s"),
      "driver_s_per_op" -> (perOp(r => (r.wallS - busyS(r)).max(0)), "s"),
      "peak_storage_mb" -> (storage, "mb"),
      "trace_overhead_pct" -> (opOverheadPct, "%"))

    def overheadOf(kind: String, t: Seq[Double], u: Seq[Double]) =
      Overhead(kind, if (t.isEmpty || u.isEmpty) Double.NaN else Stats.median(t) - Stats.median(u),
        t.length, u.length)
    val overhead = w.latencies.keys.filterNot(_.endsWith(Workload.TracedSuffix)).toSeq.map { k =>
      overheadOf(k, w.latencies.getOrElse(k + Workload.TracedSuffix, Nil).toSeq, w.latencies(k).toSeq)
    } :+ overheadOf("op", tracedOp, untracedOp)
    Layers(spans, perOpMetrics, overhead)
  }
}
