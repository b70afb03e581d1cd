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
  def hasData(dir: String, partitionPrefix: Option[String]): Boolean =
    childNames(dir, partitionPrefix.getOrElse("part-")).nonEmpty

  /** The names of `dir`'s entries that start with `prefix`, sorted; none
    * when `dir` does not exist. */
  private[graft] def childNames(dir: String, prefix: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else {
      val s = java.nio.file.Files.list(p)
      try {
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        s.forEach { c =>
          val n = c.getFileName.toString
          if (n.startsWith(prefix)) names += n
        }
        names.sorted.toSeq
      } finally s.close()
    }
  }

  /** Read `dir` under the declared schema, or an empty relation of that
    * schema when [[hasData]] finds nothing committed yet.
    *
    * Prefixed reads are SCOPED to the `<dir>/<prefix>*` partition dirs
    * with `dir` as the basePath: partition discovery walks only the
    * layout's own partition dirs, so an unrelated sibling appearing
    * mid-read — a dot-staging dir made visible by a misbehaving
    * filesystem, a caller-owned marker — can never break or pollute the
    * scan. */
  def readOrEmpty(spark: SparkSession, dir: String, schema: StructType,
                  partitionPrefix: Option[String]): DataFrame = {
    if (!hasData(dir, partitionPrefix))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else partitionPrefix match {
      case Some(pre) =>
        spark.read.schema(schema)
          .option("basePath", dir.stripSuffix("/"))
          .parquet(partitionPaths(dir, pre): _*)
      case None => spark.read.schema(schema).parquet(dir)
    }
  }

  /** The `<dir>/<prefix>*` partition dirs, sorted, as paths a reader
    * passes one by one. Listed here rather than passed as one glob: Spark
    * probes a single read path for a streaming sink's metadata dir, and
    * on a glob that probe fails and logs a WARN with a stack trace per
    * read. Each path is glob-escaped, so a store rooted at a path carrying
    * glob metacharacters ([x], {a}, *) reads literally. */
  private[graft] def partitionPaths(dir: String, prefix: String): Seq[String] =
    childNames(dir, prefix).map(n => escapeGlob(s"${dir.stripSuffix("/")}/$n"))

  /** Backslash-escape Hadoop glob metacharacters so a directory PATH is
    * matched literally. */
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
