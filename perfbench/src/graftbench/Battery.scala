package graftbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** `battery`: a fixed slice of `SparkEntry.queries`, one query after
  * another, each result written to the `noop` sink (every row is produced,
  * none is kept). It loads the query builders, the operators, the sources,
  * Catalyst and the scheduler, and never touches the queue or delivery.
  *
  * Each query runs once in a fresh JVM, in a fixed order, after the
  * engine-wide JIT warm-up that `graft.Bench` also does (the flagship query
  * on the smallest scale factor). So a query's time includes the
  * intermediates it stages once per JVM, which is what the first call of a
  * query costs; a warm pass would hide that cost, and it varies less than a
  * warm pass on a shared machine. The inputs are the fixed testdata: the
  * seed does not change them. Row counts come from an `Observation` on the
  * timed write itself, so the correctness check runs no extra job. */
object Battery extends Workload {

  /** The slice. A pass over all 139 queries takes about 100 s warm and
    * 180 s cold on 4 cores, so a run times a fixed slice:
    * the one compute-bound query (q113), the heaviest connected-components
    * job loop (q88), the scheduling floor (q65, q96), and the CDC and join
    * shapes (q10 snapshot diff, q11 capture gate, q5 semi join). */
  val Slice: Seq[String] = Seq(
    "q113_containment", "q88_vec_dup_clusters", "q65_dup_clusters",
    "q96_leakage_safe_split", "q10_cdc_snapshot_diff", "q11_cdc_capture_gate",
    "q5_join_semi")

  final case class Run(name: String, buildNs: Long, execNs: Long, rows: Long,
                       eagerJobs: Long, error: Option[String])

  /** Build, then write to noop under an observed row count. */
  def runOne(spark: SparkSession, trace: Trace, name: String, dir: String): Run = {
    val fn = graft.SparkEntry.queries(name)
    val before = if (trace.on) trace.counters() else Counters()
    val t0 = System.nanoTime()
    try {
      val df: DataFrame = trace.span("queries.build", name)(fn(spark, dir))
      val t1 = System.nanoTime()
      val eager = if (trace.on) (trace.counters() - before).jobs else 0L
      val obs = Observation(s"rows_$name")
      trace.span("queries.exec", name) {
        df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      }
      val t2 = System.nanoTime()
      Run(name, t1 - t0, t2 - t1, obs.get("n").asInstanceOf[Long], eager, None)
    } catch {
      case e: Throwable =>
        Run(name, System.nanoTime() - t0, 0L, -1L, 0L,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"))
    }
  }

  /** Row counts of the slice at each scale factor, recorded at the commit
    * that introduced this benchmark. */
  val ExpectedRows: Map[String, Map[String, Long]] = Map(
    "sf0.1" -> Map("q113_containment" -> 252L, "q88_vec_dup_clusters" -> 2000L,
      "q65_dup_clusters" -> 5000L, "q96_leakage_safe_split" -> 5000L,
      "q10_cdc_snapshot_diff" -> 9428L, "q11_cdc_capture_gate" -> 5142L, "q5_join_semi" -> 5L),
    "sf0.001" -> Map("q113_containment" -> 28L, "q88_vec_dup_clusters" -> 500L,
      "q65_dup_clusters" -> 500L, "q96_leakage_safe_split" -> 500L,
      "q10_cdc_snapshot_diff" -> 93L, "q11_cdc_capture_gate" -> 51L, "q5_join_semi" -> 5L))

  /** Set-up: resolve every table the battery reads (file listing, footers). */
  def prepare(ctx: Context, rep: Int): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(t => graft.Tables.load(ctx.spark, ctx.sfDir, t).schema)

  def close(ctx: Context): Unit = ()

  def run(ctx: Context): Unit = {
    import ctx._
    val expected = ExpectedRows.getOrElse(sfName, Map.empty[String, Long])
    val w0 = System.nanoTime()
    graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    report.note(f"warmup_s=${(System.nanoTime() - w0) / 1e9}%.3f")

    // one pass: it takes longer than a run's measured seconds already. A
    // full collection before each query (untimed) keeps one query's garbage
    // out of the next one's time: without it q5's time split into two modes
    // (0.55-0.65 s or 0.85-0.93 s over ten runs), which moved the median.
    val start = System.nanoTime()
    val c0 = trace.counters()
    val all = Slice.map { q => System.gc(); runOne(spark, trace, q, sfDir) }
    val wallNs = System.nanoTime() - start
    val c = trace.counters() - c0

    report.attempted = all.size
    report.failed = all.count(_.error.nonEmpty)
    all.filter(_.error.nonEmpty).foreach(r => report.check(s"query ${r.name}", ok = false, r.error.get))
    all.filter(_.error.isEmpty).foreach { r =>
      val want = expected.get(r.name)
      report.check(s"rows ${r.name}", want.contains(r.rows),
        s"got ${r.rows} rows, expected ${want.getOrElse("no recorded count")}")
    }
    all.foreach(r => println(f"query ${r.name} rows=${r.rows} wall_ms=${(r.buildNs + r.execNs) / 1e6}%.1f"))

    // per-query wall = build + exec
    val perQuery = all.filter(_.error.isEmpty).map(r => (r.buildNs + r.execNs) / 1e6)
    val batteryS = perQuery.sum / 1000.0
    val n = perQuery.size.toLong
    report.name("battery_s", batteryS, "s", n)
    report.name("battery_geomean_ms", Stats.geomean(perQuery), "ms", n)
    report.gate("throughput_per_s", n / batteryS, "1/s", n)
    report.gate("latency_p50_ms", Stats.median(perQuery), "ms", n)
    report.gate("latency_p99_ms", Stats.quantile(perQuery, 0.99), "ms", n)

    if (trace.on) {
      report.layerMetric("queries.build_s", all.map(_.buildNs).sum / 1e9, all.size)
      report.layerMetric("queries.eager_jobs", all.map(_.eagerJobs).sum.toDouble, all.size)
      report.layerMetric("queries.exec_s", all.map(_.execNs).sum / 1e9, all.size)
      Layers.scheduler(report, c, wallNs, cores, perUnit = 1)
      Layers.catalyst(report, c, perUnit = 1)
    }
  }
}
