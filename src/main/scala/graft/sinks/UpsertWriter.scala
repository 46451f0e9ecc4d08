package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** S7 — uuid-keyed upsert sink (reference
  * process_steps/write_to_db.py:38-81: batched `DELETE WHERE uuid IN (…) AND
  * type = t` then bulk INSERT).
  *
  * Parquet has no in-place delete, so the upsert is: read current store,
  * anti-join away rows whose (uuid, type) is being replaced, union the new
  * batch, atomically swap directories. Re-processing a uuid replaces its rows
  * — the reference's exactly-once-ish idempotency contract (§2.7). On a
  * cluster this maps 1:1 onto a Delta/Iceberg MERGE; the anti-join+union
  * formulation is the engine-neutral expression of the same plan.
  */
object UpsertWriter {

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** The move-aside artifact for `target`: an UNDERSCORE-prefixed sibling.
    * Spark's file listing treats `_`-prefixed paths as hidden, so even a
    * stale artifact is invisible to readers; and no legitimate partition
    * directory can collide with it — partition dirs are `col=value`, and a
    * suffix convention like `<dir>.old` WOULD collide ('.': not
    * percent-escaped, so a value literally ending in ".old" produces a
    * directory the healer would destroy or rename). */
  private def asideFor(target: java.io.File): java.io.File = {
    val abs = target.getAbsoluteFile
    new java.io.File(abs.getParentFile, "_old_" + abs.getName)
  }

  /** RECOVERY CONTRACT (spec-covered): a failure at any point leaves the
    * store recoverable —
    *  1. during the stage write: the live directory is untouched; a plain
    *     retry overwrites the partial `.tmp` and converges;
    *  2. between move-aside and promote in [[swapDir]] (live dir gone,
    *     `_old_<dir>` holds the data): [[restoreInterrupted]] renames it
    *     back before the next upsert reads the store — no history loss;
    *  3. after promote, before aside cleanup: the live dir is already the
    *     new state; the stale aside is hidden from readers (`_` prefix)
    *     and deleted by the next swap or tree heal.
    */
  private def restoreInterrupted(target: java.io.File): Unit = {
    val old = asideFor(target)
    if (!target.exists() && old.exists() && !old.renameTo(target))
      throw new java.io.IOException(
        s"found interrupted swap ($old exists, $target missing) but could not restore")
  }

  /** Partition-tree recovery for [[upsertPartitioned]]: restore any
    * interrupted per-partition swap under `root`, and delete stale aside
    * directories whose live twin survived. */
  private def restoreInterruptedTree(root: java.io.File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) {
        if (f.getName.startsWith("_old_")) {
          val live = new java.io.File(f.getParentFile,
            f.getName.stripPrefix("_old_"))
          if (live.exists()) rm(f) else restoreInterrupted(live)
        } else restoreInterruptedTree(f)
      }
    }

  /** Promote `tmp` into `target`: rename the live directory ASIDE first,
    * promote, then delete the old copy — a failed rename restores the
    * original and throws instead of silently losing the store. */
  private def swapDir(tmp: java.io.File, target: java.io.File): Unit = {
    val old = asideFor(target)
    if (old.exists()) rm(old)
    if (target.exists() && !target.renameTo(old))
      throw new java.io.IOException(s"could not move $target aside to $old")
    if (!tmp.renameTo(target)) {
      if (old.exists()) old.renameTo(target) // restore the previous store
      throw new java.io.IOException(s"could not promote $tmp to $target")
    }
    if (old.exists()) rm(old)
  }

  /** Whether a parquet file lies anywhere under `f` — a [[DataWriter]]
    * store keeps its files in `type=…/epi_year=…` directories, not at the
    * top. Hidden (`_`/`.`-prefixed) entries are skipped, as Spark's own
    * listing skips them. */
  private def hasParquet(f: java.io.File): Boolean =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).exists { c =>
      !c.getName.startsWith("_") && !c.getName.startsWith(".") && hasParquet(c)
    }
    else f.isFile && f.getName.endsWith(".parquet")

  /** The partition columns Spark discovered in a store read back. */
  private def partitionColumns(store: DataFrame): Seq[String] =
    store.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.partitionSchema.fieldNames.toSeq
    }.getOrElse(Nil)

  def upsert(spark: SparkSession, batch: DataFrame, path: String,
             keys: Seq[String] = Seq("uuid", "type")): Unit = {
    val dir = new java.io.File(path)
    // a crash between move-aside and promote left the store at `.old`;
    // restore it BEFORE the existence check or the merge would treat the
    // store as fresh and drop all history
    restoreInterrupted(dir)
    val current = if (hasParquet(dir)) Some(spark.read.parquet(path)) else None
    val merged = current.fold(batch) { cur =>
      val newKeys = batch.select(keys.map(col): _*).distinct()
      cur.join(newKeys, keys, "left_anti").unionByName(batch)
    }
    // keep the store's partition layout (a DataWriter `type=…/epi_year=…` tree)
    val layout = current.toSeq.flatMap(partitionColumns)
    val tmp = path + ".tmp"
    (if (layout.isEmpty) merged else merged.repartition(layout.map(col): _*))
      .write.mode(SaveMode.Overwrite).partitionBy(layout: _*).parquet(tmp)
    // atomic-ish swap (single-FS); object stores would overwrite in place or MERGE
    swapDir(new java.io.File(tmp), new java.io.File(path))
  }

  /** Partition-scoped upsert over the [[DataWriter]] `(type, epi_year)`
    * layout: only the partitions the batch touches are read, merged and
    * swapped — the rest of the store is never opened or rewritten. This is
    * the MERGE-shaped path a nightly incremental run takes at 100 TB: a
    * day's batch touches a handful of (type, epi_year) partitions, so the
    * rewrite is bounded by batch-adjacent data, not store size.
    *
    * The touched-partition list is collected driver-side — it is partition
    * METADATA (types × years, dozens of values), the same scale of state a
    * Delta/Iceberg MERGE plans its file rewrite from. */
  def upsertPartitioned(spark: SparkSession, batch: DataFrame, path: String,
                        partitionCols: Seq[String] = Seq("type", "epi_year"),
                        keys: Seq[String] = Seq("uuid", "type")): Unit = {
    val root = new java.io.File(path)
    if (!root.exists()) {
      batch.repartition(partitionCols.map(col): _*)
        .write.partitionBy(partitionCols: _*).parquet(path)
      return
    }
    // heal any interrupted per-partition swap BEFORE reading the store —
    // a missing live partition would silently read as "no previous rows"
    restoreInterruptedTree(root)
    val touched = batch.select(partitionCols.map(col): _*).distinct().collect()
    if (touched.isEmpty) return // empty micro-batch: nothing to merge
    // null-safe equality: a null partition value must select the
    // __HIVE_DEFAULT_PARTITION__ rows, which plain === never matches
    val prune = touched.map { row =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(row.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    // partition-pruned scan: only touched partitions are read (the filter is
    // on partition columns, so it prunes directories, not rows)
    val current = spark.read.parquet(path).filter(prune)
    val newKeys = batch.select(keys.map(col): _*).distinct()
    val merged = current.join(newKeys, keys, "left_anti")
      .unionByName(batch.select(current.columns.toIndexedSeq.map(col): _*))
    val tmp = path + ".tmp"
    merged.repartition(partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(tmp)
    // swap ONLY the touched partition directories. Directory names use
    // Spark's own partition-path encoding (percent-escaping; null →
    // __HIVE_DEFAULT_PARTITION__) so the swap finds exactly what the write
    // produced.
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    touched.foreach { row =>
      val rel = partitionCols.zipWithIndex.map { case (c, i) =>
        val v = row.get(i)
        val str = if (v == null) null else v.toString
        ExternalCatalogUtils.getPartitionPathString(c,
          if (str == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME else str)
      }.mkString("/")
      val tmpPart = new java.io.File(s"$tmp/$rel")
      val livePart = new java.io.File(s"$path/$rel")
      livePart.getParentFile.mkdirs()
      if (tmpPart.exists()) swapDir(tmpPart, livePart)
      else if (livePart.exists()) rm(livePart) // batch emptied the partition
    }
    rm(new java.io.File(tmp))
  }

  /** Dead-letter quarantine (reference step_failures, model.py:47-54 +
    * pipeline.py:91-109): malformed records route to a side table instead of
    * failing the batch. `reason` is the failed-validation tag. */
  def quarantine(batch: DataFrame, path: String, reason: String): Unit =
    batch
      .withColumn("error", lit(reason))
      .withColumn("quarantined_at", current_timestamp())
      .write.mode(SaveMode.Append).parquet(path)
}
