package graft.ops

import org.apache.spark.sql.SparkSession

/** Output hygiene at corpus scale: a 100 TB pipeline that writes with
  * whatever partitioning its last shuffle left behind produces either
  * the small-files problem (thousands of KB-sized parquet files whose
  * open/footer costs dominate every later scan) or multi-GB files no
  * executor can read-ahead efficiently. The compactor sizes the file
  * count from the DATA, not the accidental partition count.
  */
object Sink {

  /** Compact an existing parquet directory to ~`targetMB` files — the
    * maintenance pass after many small appends (streaming sinks, daily
    * shard admissions). Reads the real on-disk footprint from the
    * filesystem (no estimation needed — the bytes exist), rewrites to a
    * sibling temp dir, then swaps. Returns the new file-partition
    * count. */
  def compactParquet(spark: SparkSession, path: String, targetMB: Int = 256): Int = {
    require(targetMB > 0, s"targetMB must be > 0, got $targetMB")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val parts = math.max(1, (bytes / (targetMB.toLong << 20)).toInt + 1)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    spark.read.parquet(path).repartition(parts)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(hPath, true)
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(s"compaction swap failed for $path")
    parts
  }
}
