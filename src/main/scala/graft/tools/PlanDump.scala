package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool for the optimization rounds: dumps `explain("formatted")` of
  * selected battery queries to one file each, so before/after plan
  * evidence can be committed (plans/r20/<query>_<tag>.txt).
  *
  * {{{
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <tag> q113,q45,..."
  * }}}
  *
  * The first line of each dump is `eager_jobs: <n>`, the Spark jobs that
  * building the query ran (probes, checkpoints, driver collects) before
  * any action on the returned DataFrame — where a serve like WAND spends
  * its work, and the count a plan alone does not show. A postings-store
  * layout a query builds on first use counts toward that query, so on a
  * cold layout cache dump twice and keep the second run's counts.
  *
  * Runs under the bench's session shape (core count and shuffle
  * partitions from SPARK_GRAFT_CPUS) so the dumped plans are the plans
  * the bench executes, not a differently-sized session's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    // exact qNN-token match (not startsWith: "q13" must not also select
    // q130–q139, nor "q11" q113 — a loose prefix silently dumped, and
    // plan-built side effects for, unintended queries)
    val tokens = args(3).split(",").toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    // job-start events arrive asynchronously: drain the bus before reading
    def jobsDrained(): Long = {
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext, 10000L)
      jobs.get()
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.SparkEntry.queries
      .filter { case (name, _) =>
        tokens.contains(name) || tokens.contains(name.takeWhile(_ != '_')) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        val before = jobsDrained()
        val df = fn(spark, sfDir)
        val eager = jobsDrained() - before
        val plan = df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).trim
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          (s"eager_jobs: $eager\n" + plan + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"dumped $name -> $outDir/${name}_$tag.txt ($eager eager jobs)")
      }
    spark.stop()
  }
}
