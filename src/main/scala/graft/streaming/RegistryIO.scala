package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared reader for durable parquet state dirs (registries, stream
  * sinks): EXPLICIT schema (no footer inference — hive partition columns
  * come from the directory names, and an empty dir must not fail schema
  * discovery), returning an empty relation of that schema when nothing
  * has been written yet — "no state" is a normal first-run condition for
  * every consumer here, never an error. */
private[graft] object RegistryIO {

  /** Whether `dir` holds committed data. `partitionPrefix =
    * Some("sbucket=")` probes for hive partition dirs; `None` probes for
    * flat `part-*` data files (streaming file sinks, whose
    * `_spark_metadata` dir alone does not make the dir readable). */
  def hasData(dir: String, partitionPrefix: Option[String]): Boolean = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.exists(p) && {
      val s = java.nio.file.Files.list(p)
      try {
        val it = s.iterator(); var found = false
        while (!found && it.hasNext) {
          val name = it.next().getFileName.toString
          found = partitionPrefix match {
            case Some(pre) => name.startsWith(pre)
            case None => name.startsWith("part-")
          }
        }
        found
      } finally s.close()
    }
  }

  /** Read `dir` under the declared schema, or an empty relation of that
    * schema when [[hasData]] finds nothing committed yet.
    *
    * Prefixed reads are GLOB-SCOPED to `<dir>/<prefix>*` with `dir` as
    * the basePath (the IvfIndexStore list-scan discipline): partition
    * discovery walks only the layout's own partition dirs, so an
    * unrelated sibling appearing mid-read — the postings store's `v<N>`
    * snapshot landing between a reader's resolve and its file listing
    * (the one formerly-unscoped window; the compact hammer spec caught
    * it as CONFLICTING_DIRECTORY_STRUCTURES), a dot-staging dir made
    * visible by a misbehaving filesystem, a caller-owned marker — can
    * never break or pollute the scan. */
  def readOrEmpty(spark: SparkSession, dir: String, schema: StructType,
                  partitionPrefix: Option[String]): DataFrame = {
    if (!hasData(dir, partitionPrefix))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else partitionPrefix match {
      case Some(pre) =>
        // the dir itself must read as a LITERAL path inside the glob: a
        // store rooted at a path carrying glob metacharacters ([x], {a},
        // *) would otherwise be interpreted by the globber — failing
        // path-not-found after hasData passed, or scanning a sibling
        spark.read.schema(schema)
          .option("basePath", dir.stripSuffix("/"))
          .parquet(escapeGlob(dir.stripSuffix("/")) + "/" + pre + "*")
      case None => spark.read.schema(schema).parquet(dir)
    }
  }

  /** Backslash-escape Hadoop glob metacharacters so a directory PATH is
    * matched literally when embedded in a glob pattern (only the appended
    * `<prefix>*` should glob). */
  private def escapeGlob(p: String): String =
    p.replaceAll("([\\\\\\[\\]{}*?])", "\\\\$1")

  /** Erase every row of the given documents from a hive-partitioned
    * registry — the takedown/GDPR face the doc-grained ingest registries
    * share (the IvfIndexStore.delete discipline): the touched partition
    * values locate via one pruned-as-possible scan (bounded driver pull —
    * a doc's rows live in at most a few hundred partitions), then each
    * touched partition dir rewrites through the rename-aside swap
    * ([[graft.queue.Maintenance.replaceDir]]); a partition left empty is
    * removed outright. `sortCols` re-sorts the rewritten files so a
    * layout whose probe relies on key-sorted row groups (the containment
    * registry) keeps that property through erasure. Idempotent: erased
    * ids match no rows. Returns the number of rows removed (file rows —
    * a registry carrying replay-duplicate files counts each copy).
    *
    * Swap atomicity is per partition; a reader racing the erasure can see
    * some partitions scrubbed and others not yet — erasure converges,
    * never tears a file. Verdict/audit streams that REFERENCE the erased
    * doc are the consumer's to scrub (each gate's deleteDocs scaladoc
    * states what its registry erasure does and does not cover). */
  def eraseDocs(registry: DataFrame, dir: String, partitionCol: String,
                docIds: Seq[Long], idCol: String = "doc_id",
                sortCols: Seq[String] = Nil): Long = {
    require(docIds.nonEmpty, "registry erase: empty id list")
    val spark = registry.sparkSession
    import org.apache.spark.sql.functions.col
    val touched = registry.filter(col(idCol).isInCollection(docIds))
      .select(col(partitionCol).cast("int")).distinct()
      .collect().map(_.getInt(0))
    var removed = 0L
    touched.foreach { p =>
      val leaf = s"${dir.stripSuffix("/")}/$partitionCol=$p"
      val rows = spark.read.parquet(leaf)
      removed += rows.filter(col(idCol).isInCollection(docIds)).count()
      val keep = rows.filter(!col(idCol).isInCollection(docIds))
      if (keep.isEmpty) graft.queue.Maintenance.deleteRec(java.nio.file.Paths.get(leaf))
      else {
        // one file, re-sorted when the probe relies on key-sorted row
        // groups, written to a dot-prefixed sibling and swapped in
        val lp = java.nio.file.Paths.get(leaf)
        val tmp = lp.resolveSibling("." + lp.getFileName.toString + ".swap").toString
        (if (sortCols.isEmpty) keep
        else keep.repartition(1).sortWithinPartitions(sortCols.map(col): _*))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
        graft.queue.Maintenance.replaceDir(tmp, leaf)
      }
    }
    removed
  }
}
