package graftbench

import scala.collection.mutable

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Everything one run reports.
  *
  *  - `gated`: the end-to-end metrics of BENCHMARK.json, printed in the last
  *    line of an untraced run;
  *  - `named`: the end-to-end metrics under their workload-specific names
  *    (battery_s, sync_p99_ms, ...), printed as report lines;
  *  - `layer`: the per-layer metrics, printed in the last line of a traced
  *    run, each tagged with the end-to-end metric and workload it should move.
  */
final class Report {
  import Report.Metric

  private val gated = mutable.LinkedHashMap.empty[String, Metric]
  private val named = mutable.LinkedHashMap.empty[String, Metric]
  private val layer = mutable.LinkedHashMap.empty[String, Metric]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** SYNC per-key order inversions: counted in `failed_share`, not in `failed`
    * (every delivery of an inverted pair succeeded). */
  var inversions = 0L

  def gate(name: String, value: Double, unit: String, samples: Long): Unit =
    gated(name) = Metric(value, unit, samples)
  def name(name: String, value: Double, unit: String, samples: Long): Unit =
    named(name) = Metric(value, unit, samples)
  def layerMetric(name: String, value: Double, samples: Long = 1): Unit = {
    require(Report.Layers.contains(name), s"unknown layer metric $name")
    layer(name) = Metric(value, Report.Layers(name)._1, samples)
  }
  def note(s: String): Unit = notes += s

  /** Record a correctness check; a failed check fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def correct: Boolean = checks.forall(_._2)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  /** Report lines, then the result object as the last line of stdout. */
  def print(workload: String, traced: Boolean): Unit = {
    notes.foreach(n => println(s"note $n"))
    checks.foreach { case (n, ok, d) =>
      println(s"check $n ${if (ok) "ok" else "FAILED"}${if (d.nonEmpty) ": " + d else ""}") }
    println(s"metric attempted = $attempted count")
    println(s"metric failed = $failed count")
    println(s"metric failed_share = ${num(if (attempted == 0) 0.0 else (failed + inversions).toDouble / attempted)} " +
      s"ratio (samples=$attempted, workload=$workload, inversions=$inversions)")
    named.foreach { case (n, m) =>
      println(s"metric $n = ${num(m.value)} ${m.unit} (samples=${m.samples}, workload=$workload)") }
    gated.foreach { case (n, m) =>
      println(s"gated $n = ${num(m.value)} ${m.unit} (samples=${m.samples}, workload=$workload)") }
    if (traced) {
      Report.LayerOrder.foreach { case (n, (unit, _)) =>
        if (!layer.contains(n)) layer(n) = Metric(0.0, unit, 0) }
      layer.foreach { case (n, m) =>
        println(s"layer $n = ${num(m.value)} ${m.unit} (samples=${m.samples}, moves ${Report.Layers(n)._2})") }
      // the traced run's own end-to-end numbers, for the tracing overhead
      println(gated.map { case (n, m) => s""""$n":${num(m.value)}""" }
        .mkString("""{"traced_end_to_end":{""", ",", "}}"))
    }
    val shown = if (traced) Report.LayerOrder.map(l => l._1 -> layer(l._1)) else gated.toSeq
    val metrics = shown.map { case (n, m) =>
      s""""$n":{"value":${num(m.value)},"unit":"${m.unit}"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
  }
}

object Report {
  final case class Metric(value: Double, unit: String, samples: Long)

  /** Per-layer metric → (unit, the end-to-end metric and workload it should
    * move). Layers a workload does not load report 0. */
  val LayerOrder: Seq[(String, (String, String))] = Seq(
    "queries.build_s" -> ("s", "battery_geomean_ms, battery_s @ battery"),
    "queries.eager_jobs" -> ("count", "battery_geomean_ms, battery_s @ battery"),
    "queries.exec_s" -> ("s", "battery_s @ battery"),
    "catalyst.analysis_s" -> ("s", "battery_geomean_ms @ battery"),
    "catalyst.optimization_s" -> ("s", "battery_geomean_ms @ battery"),
    "catalyst.planning_s" -> ("s", "battery_geomean_ms @ battery"),
    "scheduler.jobs" -> ("count", "battery_geomean_ms @ battery; async_p50_ms @ cdc_stream"),
    "scheduler.stages" -> ("count", "battery_geomean_ms @ battery; async_p50_ms @ cdc_stream"),
    "scheduler.tasks" -> ("count", "battery_geomean_ms @ battery; async_p50_ms @ cdc_stream"),
    "scheduler.task_s" -> ("s", "battery_s @ battery"),
    "scheduler.core_busy_share" -> ("ratio", "battery_s @ battery"),
    "scheduler.shuffle_write_bytes" -> ("bytes", "battery_s, peak_rss_mb @ battery"),
    "scheduler.shuffle_read_bytes" -> ("bytes", "battery_s, peak_rss_mb @ battery"),
    "scheduler.spill_bytes" -> ("bytes", "battery_s, peak_rss_mb @ battery"),
    "scheduler.gc_s" -> ("s", "battery_s, peak_rss_mb @ battery"),
    "cdc.events_in" -> ("count", "backlog_events_per_s @ cdc_backlog"),
    "cdc.events_captured" -> ("count", "backlog_events_per_s @ cdc_backlog"),
    "queue.enqueue_s" -> ("s", "backlog_events_per_s @ cdc_backlog; async_p50_ms @ cdc_stream"),
    "queue.cycle_s_p50" -> ("s", "backlog_events_per_s @ cdc_backlog; async_p50_ms @ cdc_stream"),
    "queue.cycle_s_sum" -> ("s", "backlog_events_per_s @ cdc_backlog; async_p50_ms @ cdc_stream"),
    "queue.cycles" -> ("count", "backlog_events_per_s @ cdc_backlog; async_p50_ms @ cdc_stream"),
    "queue.jobs_per_cycle" -> ("count", "backlog_events_per_s @ cdc_backlog; async_p50_ms @ cdc_stream"),
    "queue.files_written" -> ("count", "backlog_events_per_s @ cdc_backlog; async_p50_ms @ cdc_stream"),
    "queue.bytes_written" -> ("bytes", "backlog_events_per_s @ cdc_backlog; async_p50_ms @ cdc_stream"),
    "delivery.posts" -> ("count", "sync_p99_ms, async_p99_ms @ cdc_stream; backlog_events_per_s @ cdc_backlog"),
    "delivery.attempts_per_event" -> ("ratio", "sync_p99_ms, async_p99_ms @ cdc_stream; backlog_events_per_s @ cdc_backlog"),
    "delivery.inflight_max" -> ("count", "sync_p99_ms, async_p99_ms @ cdc_stream; backlog_events_per_s @ cdc_backlog"),
    "delivery.post_busy_share" -> ("ratio", "sync_p99_ms, async_p99_ms @ cdc_stream; backlog_events_per_s @ cdc_backlog"),
    "streaming.sync.trigger_ms" -> ("ms", "sync_p50_ms, sync_p99_ms @ cdc_stream"),
    "streaming.sync.add_batch_ms" -> ("ms", "sync_p50_ms, sync_p99_ms @ cdc_stream"),
    "streaming.sync.rows_per_batch" -> ("count", "sync_p50_ms, sync_p99_ms @ cdc_stream"),
    "streaming.async.add_batch_ms" -> ("ms", "async_p50_ms, async_p99_ms @ cdc_stream"),
    "streaming.dispatcher.trigger_ms" -> ("ms", "async_p50_ms, async_p99_ms @ cdc_stream"),
    "generator.late_ms_p99" -> ("ms", "validity of sync_p99_ms, async_p99_ms @ cdc_stream"))
  val Layers: Map[String, (String, String)] = LayerOrder.toMap
}

/** Layer metrics shared by every workload, from a counter delta over the
  * measured window; `perUnit` is the number of passes or rounds in it. */
object Layers {
  def scheduler(r: Report, c: Counters, wallNs: Long, cores: Int, perUnit: Double): Unit = {
    r.layerMetric("scheduler.jobs", c.jobs / perUnit)
    r.layerMetric("scheduler.stages", c.stages / perUnit)
    r.layerMetric("scheduler.tasks", c.tasks / perUnit)
    r.layerMetric("scheduler.task_s", c.taskNs / 1e9 / perUnit)
    r.layerMetric("scheduler.core_busy_share", c.taskNs.toDouble / (wallNs.toDouble * cores))
    r.layerMetric("scheduler.shuffle_write_bytes", c.shuffleWrite / perUnit)
    r.layerMetric("scheduler.shuffle_read_bytes", c.shuffleRead / perUnit)
    r.layerMetric("scheduler.spill_bytes", c.spill / perUnit)
    r.layerMetric("scheduler.gc_s", c.gcMs / 1e3 / perUnit)
  }

  def catalyst(r: Report, c: Counters, perUnit: Double): Unit = {
    r.layerMetric("catalyst.analysis_s", c.analysisNs / 1e9 / perUnit)
    r.layerMetric("catalyst.optimization_s", c.optimizationNs / 1e9 / perUnit)
    r.layerMetric("catalyst.planning_s", c.planningNs / 1e9 / perUnit)
  }
}
