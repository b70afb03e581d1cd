package graft.queue

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dataset maintenance for streaming sinks.
  *
  * Every micro-batch of the capture/enqueue path appends one parquet file
  * per partition (S2's `mode("append")` write) — after a day of 1-second
  * triggers that is ~86k files, and scan planning starts to cost more than
  * scanning. Periodic compaction rewrites a dataset directory into few
  * right-sized files, preserving the partition layout (so status/bucket
  * pruning keeps working). Snapshot-swap discipline: the live directory is
  * renamed aside before the compacted one moves into place, so a crash at
  * any step leaves a complete snapshot restorable at a deterministic path
  * (single maintenance writer; a lakehouse table format — Delta/Iceberg
  * OPTIMIZE — replaces this and closes the remaining not-found window for
  * concurrent readers of THESE datasets; the queue's PENDING set has no
  * such window — [[PendingStore]] readers resolve a manifest).
  *
  * Callers are the streaming registries only: [[compactParquet]] from
  * `StreamingDispatcher` and the ingest registries (`DomainQuota`,
  * `IncrementalDedup`, `IncrementalSpanDedup`, `IncrementalContainment`,
  * `IncrementalVecDedup`, `IncrementalQualityCut`, `CorpusStats`,
  * `IngestCuration`); [[replaceDir]] from `RegistryIO.eraseDocs`,
  * `IncrementalDedup`'s erase, and the `CorpusStats` and
  * `IncrementalQualityCut` rollup and verdict rewrites. Their verdict
  * dirs have consumers that read them directly with
  * `spark.read.parquet`, so they are not snapshot stores. The IVF and
  * postings stores commit every mutation through
  * [[VersionedDir.commitNext]] and use none of the swaps here.
  */
object Maintenance {

  /** Serializes [[healAside]] against [[replaceDir]]: a concurrent reader's
    * heal must not observe the between-renames window of an IN-FLIGHT swap
    * and "heal" it back — that would make the swap's second rename collide.
    * Maintenance writers are single-JVM (driver-side) by design. */
  private[queue] val swapLock = new Object

  /** Crash-recovery heal for [[replaceDir]]'s one non-atomic window: a crash
    * between its two renames leaves the target missing with the aside
    * present. Compaction restores the aside first, so a restart never
    * mistakes that window for an empty dataset. If both target and aside
    * exist the swap completed; the stale aside is left for the next swap's
    * cleanup. */
  private[graft] def healAside(target: java.nio.file.Path): Unit = swapLock.synchronized {
    val aside = target.resolveSibling("." + target.getFileName.toString + ".old")
    if (!Files.exists(target) && Files.exists(aside))
      Files.move(aside, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Rewrite `dir` into `targetFilesPerPartition` files (per partition dir
    * when `partitionCols` is non-empty). Returns the row count rewritten.
    * `sortCols` sorts rows within each written file (after the partition
    * columns, so the writer inserts no second sort) and `writeOptions`
    * pass through to the parquet writer — together they let a registry
    * whose probe relies on row-group pruning (sorted key ranges + bloom
    * filters) keep that layout across compactions. */
  def compactParquet(spark: SparkSession, dir: String,
                     partitionCols: Seq[String] = Nil,
                     targetFilesPerPartition: Int = 1,
                     sortCols: Seq[String] = Nil,
                     writeOptions: Map[String, String] = Map.empty): Long = {
    require(targetFilesPerPartition >= 1, "need at least one output file")
    // Heal replaceDir's between-renames crash window first: a prior
    // compaction that died there left the live dir missing, aside present.
    healAside(Paths.get(dir))
    val df = spark.read.parquet(dir)
    val n = df.count()
    // Dot-prefixed staging dir: a bare '<dir>.compact' sibling would sit
    // inside the parent dataset dir, and when `dir` is one hive partition of
    // a larger dataset (status=DELIVERED under a queueDir) partition
    // discovery would list the half-written rewrite as a bogus partition —
    // concurrent readers would see doubled rows until the swap. Spark's file
    // listing skips dot-prefixed names entirely (same convention as the
    // '.old' aside).
    val dirPath = Paths.get(dir.stripSuffix("/"))
    val tmp = dirPath
      .resolveSibling("." + dirPath.getFileName.toString + ".compact").toString
    val repartitioned =
      if (partitionCols.nonEmpty)
        df.repartition(targetFilesPerPartition,
          partitionCols.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(targetFilesPerPartition)
    val sorted =
      if (sortCols.isEmpty) repartitioned
      else repartitioned.sortWithinPartitions(
        (partitionCols ++ sortCols).map(org.apache.spark.sql.functions.col): _*)
    val writer = sorted.write.mode("overwrite").options(writeOptions)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp)
    replaceDir(tmp, dir)
    n
  }

  /** Swap `tmp` into place at `target` via rename-aside: the old directory
    * moves aside first, so a crash at any point leaves either the old or the
    * new snapshot restorable at a deterministic path — never neither (the
    * between-renames window is healed by [[healAside]] on the next run).
    * Public: registry migration reuses it for its swap-in step. */
  def replaceDir(tmp: String, target: String): Unit = swapLock.synchronized {
    val t = Paths.get(target)
    val aside = t.resolveSibling("." + t.getFileName.toString + ".old")
    deleteRec(aside)
    val hadOld = Files.exists(t)
    if (hadOld)
      Files.move(t, aside, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    try Files.move(Paths.get(tmp), t, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case e: Throwable =>
      if (hadOld)
        Files.move(aside, t, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      throw e
    }
    deleteRec(aside)
  }

  /** Recursive delete — the ONE copy of the walk-and-delete idiom (queue
    * stores and the scale tool share it; fixes like traversal-race handling
    * belong at the call sites that want to swallow them). */
  private[graft] def deleteRec(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
  }
}
