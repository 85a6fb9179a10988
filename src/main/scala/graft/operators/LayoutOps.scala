package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Multi-dimension data-layout clustering (Z-order / Morton curve) plus a
  * file-skipping manifest — the lakehouse data-skipping pattern (Delta
  * OPTIMIZE ZORDER / Iceberg sort orders) on plain parquet.
  *
  * Why: hive partitioning prunes on ONE directory hierarchy; a query that
  * ranges over two independent columns (user bucket × value band, lat ×
  * lon, time × tenant) prunes on neither unless the layout interleaves
  * both. Sorting files by the Morton code of the filter columns makes
  * every file cover a small HYPER-RECTANGLE of the key space, so per-file
  * min/max stats exclude most files for any multi-dimensional range box.
  * At 100 TB the win is the difference between "scan everything and rely
  * on row-group skipping" and "open |selected| files": the manifest is
  * one row per file (metadata-sized), the box intersection runs as a
  * Spark filter over it, and only matching paths reach the real scan.
  *
  * The manifest is the COMMIT LOG (the Delta-log contract): a data batch
  * becomes visible only when its manifest rows land, and every reader —
  * [[readPruned]] and [[readTable]] — resolves files through the
  * manifest, never by listing the data dir. That makes appends replay
  * safe: a crashed append leaves orphan data files that no reader sees,
  * and re-running the same `batchToken` deletes and rewrites both the
  * batch's data dir and its manifest dir before anything is read.
  *
  * Correctness never depends on the layout: the manifest records the TRUE
  * per-file min/max of each stat column, so pruning is exact for any file
  * arrangement (an appended, not-yet-recompacted batch prunes correctly
  * too — it just skips fewer files), and the residual filter re-applies
  * the full predicate to the surviving rows.
  *
  * Layout: `path/batch=<token>/part-*.parquet` data files,
  * `path/_manifest/batch=<token>/part-*.parquet` manifest rows
  * (file, min/max per stat col, n_rows), `path/_layout_meta` pinning
  * (zCols, bits) so an append with mismatched layout params fails loudly
  * instead of silently interleaving a different key space.
  */
object LayoutOps {

  /** Morton code: bit-interleave of the low `bits` bits of each column
    * (column j's bit i lands at position `i * n + j`). Inputs are clamped
    * into [0, 2^bits) — clamping can only cost layout LOCALITY for
    * outliers, never correctness, because pruning uses the manifest's
    * true min/max of the raw columns, not the z-value. Pure
    * `functions._` arithmetic: the expression folds into straight-line
    * codegen (no UDF, no custom Expression needed).
    */
  def zValue(cols: Seq[Column], bits: Int = 21): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(cols.size * bits <= 63,
      s"z-value overflows a long: ${cols.size} cols x $bits bits")
    val n = cols.size
    val clamped = cols.map(c =>
      least(greatest(c.cast("long"), lit(0L)), lit((1L << bits) - 1)))
    val terms = for {
      i <- 0 until bits
      (c, j) <- clamped.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Build the z-ordered table at `path` (replacing anything there):
    * `nFiles` parquet files range-partitioned and sorted by the Morton
    * code of `zCols`, the batch's manifest, and the layout meta.
    *
    * `repartitionByRange` samples the z distribution so files carry
    * balanced ROW counts even when the key distribution is skewed (a hot
    * key region just spans more files — no single writer task absorbs
    * it).
    */
  def writeZOrdered(df: DataFrame, zCols: Seq[String], path: String,
      nFiles: Int = 64, bits: Int = 21, batchToken: String = "base"): Unit =
      graft.StoreCommit.rebuild(df.sparkSession, path) {
    require(zCols.nonEmpty, "writeZOrdered needs at least one layout column")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((zCols.mkString(","), bits)).toDF("z_cols", "bits")
      .coalesce(1).write.parquet(s"$path/_layout_meta")
    writeBatch(df, zCols, path, nFiles, bits, batchToken)
  }

  /** Append one batch as new z-ordered files + its manifest rows. The
    * batch z-sorts WITHIN ITSELF (build-local clustering): pruning stays
    * exact via the manifest, a box just intersects up to one batch's
    * worth of extra files until [[compactZOrdered]] re-clusters
    * globally.
    *
    * Token replay is STAGED: the new data fully materializes under the
    * reader-invisible `_staging/` dir BEFORE the committed batch is
    * touched, so a crash during the (dominant) write phase leaves the
    * previously committed batch fully visible. Only the short
    * unpublish → rename → manifest-write tail can leave the token
    * unpublished (data intact, invisible) — re-running the token
    * converges, and readers never see a batch whose manifest has not
    * landed.
    */
  def appendZOrdered(df: DataFrame, zCols: Seq[String], path: String,
      batchToken: String, nFiles: Int = 64): Unit =
      graft.StoreLock.withLock(df.sparkSession, path) {
    val spark = df.sparkSession
    val meta = spark.read.parquet(s"$path/_layout_meta").head()
    val storedCols = meta.getString(0).split(",").toSeq
    val bits = meta.getInt(1)
    require(storedCols == zCols,
      s"layout mismatch: table is z-ordered by ${storedCols.mkString(",")}, " +
        s"append asked for ${zCols.mkString(",")}")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def del(d: String): Unit = {
      val dp = new org.apache.hadoop.fs.Path(d)
      if (fs.exists(dp)) { fs.delete(dp, true); () }
    }
    val staging = s"$path/_staging/batch=$batchToken"
    del(staging)
    writeData(df, zCols, staging, nFiles, bits)
    // commit: unpublish the old token, swap the staged data in, publish
    del(s"$path/_manifest/batch=$batchToken")
    del(s"$path/batch=$batchToken")
    fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(s"$path/batch=$batchToken"))
    writeManifestFor(spark, s"$path/batch=$batchToken", zCols,
      s"$path/_manifest/batch=$batchToken")
  }

  private def writeBatch(df: DataFrame, zCols: Seq[String], path: String,
      nFiles: Int, bits: Int, batchToken: String): Unit = {
    val dataDir = s"$path/batch=$batchToken"
    writeData(df, zCols, dataDir, nFiles, bits)
    writeManifestFor(df.sparkSession, dataDir, zCols,
      s"$path/_manifest/batch=$batchToken")
  }

  private def writeData(df: DataFrame, zCols: Seq[String], dataDir: String,
      nFiles: Int, bits: Int): Unit =
    df.withColumn("__z", zValue(zCols.map(col), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dataDir)

  /** Manifest pass re-reads only zCols of the files just written
    * (column-pruned) to record TRUE per-file min/max — stats derive
    * from the bytes on disk, not from the pre-write frame.
    */
  private def writeManifestFor(spark: SparkSession, dataDir: String,
      zCols: Seq[String], manifestDir: String): Unit = {
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(dataDir)
      .select(zCols.map(col): _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestDir)
  }

  /** (Re)build a manifest for an EXISTING plain parquet dir that was not
    * written by [[writeZOrdered]] (retrofit data skipping onto any
    * table, z-ordered or not — pruning is exact either way, just weaker
    * without clustering). Writes the whole manifest as one `full` batch.
    */
  def buildManifest(spark: SparkSession, path: String,
      statCols: Seq[String]): Unit =
      graft.StoreLock.withLock(spark, path) {
    val aggs = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    val m = spark.read.parquet(path)
      .select(statCols.map(col): _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    m.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_manifest/batch=full")
  }

  private def manifest(spark: SparkSession, path: String): DataFrame =
    // recursive: manifests live one batch dir down; no partition-column
    // inference (the batch token is bookkeeping, not data)
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$path/_manifest")

  /** File paths surviving the manifest intersection for an inclusive
    * range box, plus the table's total file count. The manifest filter
    * runs in Spark; only the selected PATH STRINGS are collected — the
    * driver never holds data rows, and the collected list is bounded by
    * the table's file count (the same planning-time cost every table
    * format's file pruning pays).
    */
  def selectFiles(spark: SparkSession, path: String,
      box: Seq[(String, Long, Long)]): (Array[String], Long) = {
    require(box.nonEmpty, "selectFiles needs at least one range")
    val m = manifest(spark, path)
    val total = m.count()
    require(total > 0, s"empty or missing manifest under $path/_manifest")
    val sel = box.foldLeft(m) { case (d, (c, lo, hi)) =>
      d.where(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
    }.select(col("file")).collect().map(_.getString(0))
    (sel, total)
  }

  /** Manifest-pruned range read: open only the files whose stats
    * intersect the box, then re-apply the exact inclusive predicate as
    * the residual filter (pushed into the parquet scan for row-group
    * skipping within the surviving files). Result is identical to a
    * full-table filter for any layout.
    */
  def readPruned(spark: SparkSession, path: String,
      box: Seq[(String, Long, Long)]): DataFrame = {
    val (sel, _) = selectFiles(spark, path, box)
    val residual = box.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (sel.isEmpty) readTable(spark, path).where(lit(false))
    else spark.read.parquet(sel.toIndexedSeq: _*).where(residual)
  }

  /** Full-table read through the commit log: exactly the files the
    * manifest lists (orphans from crashed appends are invisible, matching
    * [[readPruned]]'s view of the table).
    */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val files = manifest(spark, path).select(col("file"))
      .collect().map(_.getString(0))
    require(files.nonEmpty, s"empty or missing manifest under $path/_manifest")
    spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** Re-cluster the whole table into `dstPath` as one globally z-ordered
    * batch (the maintenance step after a run of appends, each of which
    * is only batch-locally clustered). Crash-safe by construction: the
    * compacted table materializes at a NEW path and `srcPath` stays
    * untouched and readable throughout — the caller swaps paths once the
    * write completes (same contract as the postings-index compaction).
    */
  def compactZOrdered(spark: SparkSession, srcPath: String, dstPath: String,
      nFiles: Int = 64): Unit = {
    require(srcPath != dstPath, "compaction must target a NEW path")
    val meta = spark.read.parquet(s"$srcPath/_layout_meta").head()
    val zCols = meta.getString(0).split(",").toSeq
    val bits = meta.getInt(1)
    writeZOrdered(readTable(spark, srcPath), zCols, dstPath,
      nFiles, bits, batchToken = "base")
  }
}
