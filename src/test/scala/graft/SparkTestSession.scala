package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites reuse it).
  *
  * The session is rebuilt if its SparkContext has been stopped: the
  * single-lazy-session design otherwise has no recovery when the context
  * dies for ANY reason (an executor-thread fatal error in local mode, a
  * shutdown hook, an OOM kill of a task thread) — one casualty poisoned
  * every subsequent suite in the JVM. `getOrCreate` alone is not enough
  * because the default session it caches still points at the stopped
  * context; we clear both registrations before rebuilding. */
object SparkTestSession {
  private def build(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    // list partition directories on the driver: in local mode a parallel
    // listing is a Spark job per read of any dir with more than 32 leaves
    // (every batch of the 256-bucket stores), ~0.5-0.8 s of scheduler
    // time apiece for a listing the driver does in milliseconds
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  @volatile private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      if (current != null) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      current = build()
    }
    current
  }
}

trait SparkTestSession {
  /** Stays a `lazy val` (stable identifier — suites do
    * `import spark.implicits._`), resolved at first use inside the suite.
    * Suites are constructed as they start, so a context killed in an
    * earlier suite is replaced before this one touches it; the cascade
    * where one casualty poisoned every subsequent suite is gone. Only the
    * suite that actually witnesses the death still fails, which is the
    * honest outcome. */
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs `body` started, and its result. Only jobs submitted from
    * this thread count (tagged by a local property). The listener bus is
    * asynchronous, so a marker job run after `body` is the barrier: once
    * its start is seen, every earlier start has been delivered. */
  def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobs"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tag))).foreach(starts.put)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = try body finally sc.setLocalProperty(tag, "barrier")
      try spark.range(1).count() finally sc.setLocalProperty(tag, null)
      var n = 0
      var seen = false
      while (!seen) {
        val s = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(s != null, "listener never saw the barrier job")
        if (s == "barrier") seen = true else n += 1
      }
      (n, out)
    } finally sc.removeSparkListener(listener)
  }
}
