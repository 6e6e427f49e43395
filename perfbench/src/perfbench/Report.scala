package perfbench

import org.apache.spark.sql.SparkSession

/** Turns ops and spans into the result object the runner prints. */
object Report {
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def json(correct: Boolean, ops: Seq[Op], metrics: Seq[(String, Double, String)]): String = {
    val failed = ops.count(!_.ok)
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** The end-to-end metrics every workload reports, from its checked ops,
    * each op counted with its weight (its schedule's firing rate).
    */
  def endToEnd(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val lat = ops.filter(_.latency)
    val bulk = ops.filter(_.items > 0)
    val ms = lat.map(_.seconds * 1e3)
    println(f"latency: ${lat.size} samples, weighted p50 ${Stats.median(ms, lat.map(_.weight))}%.1f ms" +
      Stats.tail(ms).fold("")(t => f", p${t._2}%.1f ${t._1}%.1f ms") +
      f"; throughput: ${bulk.map(_.items).sum} items in ${bulk.map(_.seconds).sum}%.2f s")
    Seq(
      ("latency_p50_ms", Stats.median(ms, lat.map(_.weight)), "ms"),
      ("throughput_per_s", bulk.map(o => o.weight * o.items).sum / bulk.map(o => o.weight * o.seconds).sum, "1/s"))
  }

  def timed(ops: Seq[Op], setupS: Double, bytesPerInputByte: Double): String =
    json(ops.nonEmpty && ops.forall(_.ok), ops,
      (("setup_s", setupS, "s") +: endToEnd(ops)) :+ (("bytes_per_input_byte", bytesPerInputByte, "B/B")))

  /** A traced round, an untraced round and a second traced round of the
    * same work: per-layer metrics from the second traced round, and the
    * structural counts of the two traced rounds compared span by span.
    * Tracing overhead is the mean of the traced rounds' end-to-end numbers
    * minus the untraced round's: the untraced round sits between them, so
    * a warm-up drift that is linear over the three rounds cancels.
    */
  def traced(w: Workload, spark: SparkSession): String = {
    val tr1 = new Tracer(spark)
    val ops1 = w.round(Some(tr1))
    val spans1 = tr1.finish()
    val base = w.round(None)
    val tr2 = new Tracer(spark)
    val ops2 = w.round(Some(tr2))
    val spans = tr2.finish()
    val facts = w.layerFacts()
    val repeat = spans1.map(_.structure) == spans.map(_.structure)
    if (!repeat)
      spans1.map(_.structure).zip(spans.map(_.structure)).filter(p => p._1 != p._2)
        .take(5).foreach(p => println(s"structure differs: ${p._1} vs ${p._2}"))
    val overhead = endToEnd(ops1).zip(endToEnd(ops2)).zip(endToEnd(base)).map {
      case (((n, t1, u), (_, t2, _)), (_, b, _)) => (s"trace.overhead.$n", (t1 + t2) / 2 - b, u)
    }
    val ops = ops1 ++ base ++ ops2
    json(ops.forall(_.ok) && repeat, ops,
      Layers.metrics(spans, facts) ++ overhead :+ (("trace.counts_repeat", if (repeat) 1.0 else 0.0, "bool")))
  }
}

/** Per-layer metrics from one traced round. Every metric is reported on
  * every workload; a layer the workload does not reach reads 0.
  */
object Layers {
  def metrics(spans: Seq[SpanStats], facts: Map[String, Double]): Seq[(String, Double, String)] = {
    def named(n: String) = spans.filter(_.name == n)
    def selfPerCall(n: String) = { val s = named(n); if (s.isEmpty) 0.0 else s.map(_.selfS).sum / s.size }
    val children = spans.groupBy(_.parent)
    def inclusive(s: SpanStats): Seq[SpanStats] =
      s +: children.getOrElse(s.id, Nil).flatMap(inclusive)
    def perSpan(ss: Seq[SpanStats], f: SpanStats => Double): Double =
      if (ss.isEmpty) 0.0 else ss.map(s => inclusive(s).map(f).sum).sum / ss.size
    def fact(n: String) = facts.getOrElse(n, 0.0)
    val mb = 1e6
    val etl = spans.filter(_.name.startsWith("ohlc."))
    val ticks = named("store.tick")
    val cronTicks = spans.filter(_.name.startsWith("cron."))
    val lookups = named("lookup")
    val top = spans.filter(_.parent < 0)
    Seq(
      ("scan.input_mb", spans.map(_.fileBytes).sum / mb, "MB"),
      ("scan.records_in", spans.map(_.inputRecords).sum.toDouble, "count"),
      ("scan.task_s", spans.map(_.scanTaskMs).sum / 1e3, "s"),
      ("ohlc.minute_s", selfPerCall("ohlc.minute"), "s"),
      ("ohlc.hourly_s", selfPerCall("ohlc.hourly"), "s"),
      ("ohlc.daily_s", selfPerCall("ohlc.daily"), "s"),
      ("ohlc.weekly_s", selfPerCall("ohlc.weekly"), "s"),
      ("ohlc.monthly_s", selfPerCall("ohlc.monthly"), "s"),
      ("ohlc.shuffle_mb", etl.map(_.shuffleWriteBytes).sum / mb, "MB"),
      ("orch.sync1m_s", selfPerCall("orch.sync1m"), "s"),
      ("orch.repair1m_s", selfPerCall("orch.repair1m"), "s"),
      ("orch.option_ohlc_s", selfPerCall("orch.option_ohlc"), "s"),
      ("orch.daily_s", selfPerCall("orch.daily"), "s"),
      ("orch.weekly_s", selfPerCall("orch.weekly"), "s"),
      ("orch.monthly_s", selfPerCall("orch.monthly"), "s"),
      ("incremental.rows_written", fact("incremental.rows_written"), "count"),
      ("incremental.rewrite_ratio", fact("incremental.rewrite_ratio"), "ratio"),
      ("incremental.jobs_per_tick", perSpan(cronTicks, _.jobs.toDouble), "count"),
      ("cron.intraday_tick_s", Stats.median(named("cron.intraday_tick").map(_.wallS)), "s"),
      ("cron.daily_tick_s", Stats.median(named("cron.daily_tick").map(_.wallS)), "s"),
      ("manifest.write_ops", spans.map(_.fs.writeOps).sum.toDouble, "count"),
      ("manifest.read_ops", spans.map(_.fs.readOps).sum.toDouble, "count"),
      ("manifest.bytes_written_mb", spans.map(_.fs.bytesWritten).sum / mb, "MB"),
      ("manifest.live_files", fact("manifest.live_files"), "count"),
      ("manifest.versions_retained", fact("manifest.versions_retained"), "count"),
      ("store.first_tick_s", fact("store.first_tick_s"), "s"),
      ("store.tick_s", Stats.median(named("store.tick").map(_.wallS)), "s"),
      ("store.jobs_per_tick", perSpan(ticks, _.jobs.toDouble), "count"),
      ("store.stages_per_tick", perSpan(ticks, _.stages.toDouble), "count"),
      ("store.files_added_per_tick", fact("store.files_added_per_tick"), "count"),
      ("store.kept_per_raw", fact("store.kept_per_raw"), "ratio"),
      ("store.max_files_per_bucket", fact("store.max_files_per_bucket"), "count"),
      ("lookup.p50_ms", Stats.median(lookups.map(_.wallS * 1e3)), "ms"),
      ("lookup.tail_ms", Stats.tail(lookups.map(_.wallS * 1e3)).fold(0.0)(_._1), "ms"),
      ("lookup.plan_ms", fact("lookup.plan_ms"), "ms"),
      ("lookup.files_read", perSpan(lookups, _.filesRead.toDouble), "count"),
      ("lookup.bytes_read", perSpan(lookups, _.fileBytes.toDouble), "B"),
      ("lookup.jobs", perSpan(lookups, _.jobs.toDouble), "count"),
      ("spark.jobs", spans.map(_.jobs).sum.toDouble, "count"),
      ("spark.stages", spans.map(_.stages).sum.toDouble, "count"),
      ("spark.tasks", spans.map(_.tasks).sum.toDouble, "count"),
      ("spark.exchanges", spans.map(_.exchanges).sum.toDouble, "count"),
      ("spark.scans", spans.map(_.scans).sum.toDouble, "count"),
      ("spark.scheduler_delay_s", spans.map(_.schedDelayMs).sum / 1e3, "s"),
      ("spark.spill_mb", spans.map(_.spillBytes).sum / mb, "MB"),
      ("spark.gc_s", spans.map(_.gcMs).sum / 1e3, "s"),
      ("spark.executor_cpu_s", spans.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.driver_gap_s", top.map(s => s.driverGapS(inclusive(s).flatMap(_.jobIntervals))).sum, "s"))
  }
}
