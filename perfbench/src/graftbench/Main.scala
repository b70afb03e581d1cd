package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one run knows: its arguments, its session and where it reports. */
final class Context(val workload: String, val seed: Long, val seconds: Int,
                    val dataRoot: String, val sfName: String, val workDir: Path,
                    val cores: Int, val report: Report) {
  val sfDir: String = s"$dataRoot/$sfName"
  var spark: SparkSession = _
  var trace: Trace = _
}

/** A workload: `prepare` builds the state a measurement runs against
  * (timed as set-up, several times per run), `run` measures and checks,
  * `close` releases what `prepare` started. */
trait Workload {
  def prepare(ctx: Context, rep: Int): Unit
  def run(ctx: Context): Unit
  def close(ctx: Context): Unit
}

/** `graftbench.Main --workload <battery|cdc_backlog|cdc_stream> --seed <n>
  *   --seconds <n> --trace <0|1> --data <testdata root> --sf <sf dir name>
  *   --work <scratch dir> [--spans <file>]`
  *
  * Prints report lines, then one JSON result object as the last line.
  * Exits 1 when a correctness check fails, 2 on bad input. */
object Main {
  /** Set-up repetitions per run. The first is the JVM's cold start (reported
    * as a note); `setup_s` is the median of the others. */
  val SetupReps = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = arg("workload")
    val w: Workload = workload match {
      case "battery" => Battery
      case "cdc_backlog" => Backlog
      case "cdc_stream" => Stream
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = new Context(workload, arg("seed").toLong, arg("seconds").toInt, arg("data"),
      arg("sf"), Paths.get(arg("work")), cores, new Report)
    val traced = arg("trace") == "1"
    Files.createDirectories(ctx.workDir)

    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      ctx.spark = session(ctx)
      val preflightNs = if (rep == 1) preflight(ctx) else 0L
      w.prepare(ctx, rep)
      val s = (System.nanoTime() - t0 - preflightNs) / 1e9
      // the last repetition's state stays up for the measurement
      if (rep < SetupReps) { w.close(ctx); ctx.spark.stop() }
      s
    }
    ctx.report.gate("setup_s", Stats.median(setupS.tail), "s", SetupReps - 1)
    ctx.report.note(f"setup_cold_s=${setupS.head}%.3f")

    ctx.trace = new Trace(ctx.spark, traced)
    try w.run(ctx)
    finally {
      ctx.report.gate("peak_rss_mb", peakRssMb(), "MB", 1)
      w.close(ctx)
    }
    a.get("spans").foreach(p => ctx.trace.writeSpans(Paths.get(p)))
    ctx.spark.stop()
    ctx.report.print(workload, traced)
    sys.exit(if (ctx.report.correct) 0 else 1)
  }

  /** Abort on testdata schema drift, naming the column; returns its time. */
  def preflight(ctx: Context): Long = {
    val t0 = System.nanoTime()
    val bad = graft.SchemaContract.violations(ctx.spark, ctx.sfDir)
    if (bad.nonEmpty) {
      bad.foreach(v => System.err.println(s"schema drift: $v"))
      ctx.spark.stop()
      sys.exit(1)
    }
    System.nanoTime() - t0
  }

  def session(ctx: Context): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"graftbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
