package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Silver/gold parquet layout writer. At 100 TB the physical layout IS
  * the query plan: partition columns give pruning, in-file ordering gives
  * min/max row-group skipping, and target file sizing avoids the
  * small-files problem that kills scan parallelism.
  */
object ParquetSink {

  /** One partition-clustered, stat-friendly physical ordering shared by
    * every partitioned write path. */
  private def layoutSorted(df: DataFrame, partitionCols: Seq[String],
      sortCols: Seq[String]): DataFrame =
    if (sortCols.isEmpty) df
    else df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)

  /** Write with hive-style partitions, sorted within files so parquet
    * column statistics (min/max per row group) prune point/range reads.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    layoutSorted(df, partitionCols, sortCols).write
      .partitionBy(partitionCols: _*)
      .mode(mode)
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed managed table: co-locates join keys at write time so
    * bucket-aligned joins/aggregations run with NO exchange — the
    * pre-shuffle trade that pays for itself on every repeated 100 TB
    * fact-fact join.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode(mode)
      .format("parquet")
      .saveAsTable(table)

  /** Upsert-by-partition into an existing partitioned layout: overwrite
    * ONLY the partitions present in `df`, leave every other partition
    * untouched — the parquet-side MERGE a gold layer runs per refresh
    * (and the file twin of JdbcSink's overwrite-by-partition contract).
    * Uses Spark's dynamic partition-overwrite mode scoped to this one
    * write, so a daily job rewrites yesterday's partition without
    * touching (or reading) years of history.
    */
  def overwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit =
    layoutSorted(df, partitionCols, sortCols).write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Z-order-style layout clustering over N numeric columns (2–8): rows
    * are range-partitioned and sorted by the bit-interleaved (Morton) key
    * of the rank-normalized values, so every file is clustered in ALL the
    * dimensions at once. Parquet min/max stats then prune point/range
    * predicates on ANY of them — a plain sort prunes only its own leading
    * column and leaves the other dimensions scattered across all files.
    * Each column gets ⌊63/N⌋ bits (≤16); cost is one min/max agg pass +
    * one range-exchange write, and the interleave itself is codegen'd
    * shift/mask arithmetic.
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      nFiles: Int, saveMode: SaveMode): Unit = {
    require(nFiles > 0)
    df.withColumn("__z", mortonColumn(df, cols))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z") // projection after the sort keeps row order
      .write.mode(saveMode).parquet(path)
  }

  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int, saveMode: SaveMode = SaveMode.Overwrite): Unit =
    writeZOrdered(df, path, Seq(colA, colB), nFiles, saveMode)

  /** The bit-interleaved (Morton) key of `cols`' rank-normalized values —
    * the clustering key behind [[writeZOrdered]], exposed so other layout
    * rewrites ([[ManifestTable.compactZOrdered]]) can range-partition by
    * it. Computes one min/max bounds pass over `df` at call time; the
    * returned expression is pure codegen'd shift/mask arithmetic.
    */
  private[sources] def mortonColumn(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    require(cols.size >= 2 && cols.size <= 8, "z-order needs 2-8 columns")
    import org.apache.spark.sql.functions._
    val k = cols.size
    val bits = math.min(16, 63 / k)
    val cells = (1 << bits) - 1
    // NaN-blind bounds: one NaN would poison max() (NaN sorts largest),
    // the hi > lo guard would then fail, and the whole dimension would
    // silently collapse to a constant.
    def safe(c: String) = {
      val d = col(c).cast("double")
      when(!isnan(d), d)
    }
    val b = df.agg(
      min(safe(cols.head)), max(safe(cols.head)) +:
        cols.tail.flatMap(c => Seq(min(safe(c)), max(safe(c)))): _*).head()
    // empty input / all-null column -> null bounds -> constant dimension;
    // NaN/null rows normalize to cell 0 explicitly (ANSI mode rejects a
    // NaN->long cast) — they cluster together instead of failing the write
    def norm(j: Int) = {
      val (lo, hi) = (
        if (b.isNullAt(2 * j)) 0.0 else b.getDouble(2 * j),
        if (b.isNullAt(2 * j + 1)) 0.0 else b.getDouble(2 * j + 1))
      if (hi > lo) {
        val d = col(cols(j)).cast("double")
        coalesce(
          when(!isnan(d), ((d - lo) / (hi - lo) * cells).cast("long")),
          lit(0L))
      } else lit(0L)
    }
    // bit i of column j lands at interleaved position i*k + j
    (0 until k).map { j =>
      val n = norm(j)
      (0 until bits).map(i =>
        shiftleft(shiftright(n, i).bitwiseAND(lit(1L)), i * k + j))
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Shared file-count sizing for every compaction path. */
  private[sources] def targetFileCount(totalBytes: Long, targetBytes: Long): Int = {
    require(targetBytes > 0)
    math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
  }

  /** Small-file compaction: rewrite a flat parquet directory into
    * ~targetBytes files. Incremental appends (per-batch ingests) accrete
    * files whose count — not size — throttles scan parallelism and
    * floods the driver with footer reads; a periodic compaction pass
    * restores the layout. File count derives from the CURRENT on-disk
    * bytes, so the pass is right-sized without a config guess.
    *
    * NOT for streaming-sink outputs: a `_spark_metadata` transaction log
    * (FileStreamSink) pins the visible file set, and a rename-swap would
    * silently hide every compacted row from log-driven reads — such dirs
    * are refused. Compact a streaming sink's output by rewriting to a
    * NEW path and repointing readers.
    *
    * Crash safety: data is never deleted until the new layout is in
    * place. The window between the two renames leaves `path` briefly
    * absent (readers retry; writers must be paused — the standard
    * maintenance-window contract); a crash inside that window is
    * self-healing — the next [[compact]] call restores the set-aside
    * original before starting over.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}__compact_old")
    // crashed-mid-swap recovery: the original was set aside but the new
    // layout never swapped in - put it back and redo the work
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"compact: could not restore $old to $p")
    require(!fs.exists(new org.apache.hadoop.fs.Path(p, "_spark_metadata")),
      s"compact: $path is a streaming-sink output (_spark_metadata log); " +
        "a rename-swap would hide compacted files from log-driven reads - " +
        "rewrite to a new path instead")
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = targetFileCount(totalBytes, targetBytes)
    fs.delete(tmp, true)
    spark.read.parquet(path).repartition(nFiles).write.parquet(tmp.toString)
    fs.delete(old, true)
    require(fs.rename(p, old), s"compact: could not move $p aside")
    require(fs.rename(tmp, p), s"compact: could not swap $tmp into place")
    fs.delete(old, true)
    nFiles
  }
}
