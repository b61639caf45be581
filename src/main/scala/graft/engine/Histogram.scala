package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Equi-depth (equal-frequency) histograms — the profiling summary
  * optimizers and data-quality monitors actually want for skewed
  * columns, where the fixed-width histogram (`SparkEntry` q11) puts
  * 99% of rows in one bar.
  *
  * Bucket of a row = ⌊rank · b / n⌋ over the global (value, id) order —
  * the windowless form of `NTILE(b) OVER (ORDER BY value, id)` (same
  * fill rule: lower buckets get the extra row when b ∤ n). Spark plans
  * NTILE as a SINGLE-task window — every row of the table through one
  * partition, the same scale-killer the grouped-quantile and prefix-sum
  * paths avoid. Here the rank comes from
  * [[graft.ops.Prefix.runningTotals]]' two-pass range-sort (one
  * shuffle, O(P) scalars to the driver, and n from its first pass),
  * and the per-bucket reduction is an ordinary keyed agg over b
  * groups.
  *
  * The id tie-break makes bucket assignment deterministic on duplicate
  * values (any engine's NTILE is free to split ties arbitrarily — with
  * a unique id in the sort key, Spark and the oracle agree row-for-row).
  */
object Histogram {

  /** b-bucket equi-depth histogram of `valueCol` (nulls dropped):
    * (bucket, cnt, lo, hi) — bucket ∈ [0, b), cnt its exact row count
    * (⌈n/b⌉ or ⌊n/b⌋), lo/hi its min/max value. `idCol` breaks value
    * ties deterministically. */
  def equiDepth(df: DataFrame, valueCol: String, idCol: String,
                buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val rows = df.select(col(valueCol).cast("double").as("v"),
        col(idCol).as("id"))
      .filter(col("v").isNotNull)
    // rk = 1-based row number; the scan's first pass counts n
    val ranked = graft.ops.Prefix.runningTotals(rows, None, Seq("v", "id"),
      Seq("rk" -> lit(1L)))
    val n = ranked.total.rows
    if (n == 0)
      return rows.select(lit(0L).as("bucket"), lit(0L).as("cnt"),
        col("v").as("lo"), col("v").as("hi")).limit(0)
    // integer division (Spark's `/` on longs is DOUBLE division — at
    // 100 TB row counts rk·b exceeds double's 2^53 integer range, so
    // floor(double) would misbucket; `div` stays in long arithmetic)
    ranked.rows
      .withColumn("bucket", expr(s"(rk - 1) * ${buckets.toLong} div ${n}L"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** 2-d equi-width histogram — heatmap prep, the two-column twin of
    * the reference's histogram plot sink: `xBins`×`yBins` fixed-width
    * cells over the observed extents, one count per non-empty cell.
    * ONE extent aggregation broadcast back + one narrow (bx, by) count
    * — every post-scan frame is ≤ xBins·yBins rows. Values at the
    * upper edge clamp into the last bin (the identical least() rule on
    * both engines); a degenerate extent (lo = hi) puts the column in
    * bin 0. Null rows (either column) are dropped. */
  def equiWidth2d(df: DataFrame, xCol: String, yCol: String,
                  xBins: Int, yBins: Int): DataFrame = {
    require(xBins >= 1 && yBins >= 1,
      s"bins must be >= 1, got $xBins x $yBins")
    val rows = df.select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val ext = rows.agg(
      min("__x").as("__xlo"), max("__x").as("__xhi"),
      min("__y").as("__ylo"), max("__y").as("__yhi"))
    def bin(v: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
            hi: org.apache.spark.sql.Column, b: Int) =
      when(hi === lo, lit(0))
        .otherwise(least(floor((v - lo) / ((hi - lo) / b)).cast("int"),
          lit(b - 1)))
    rows.crossJoin(broadcast(ext))
      .select(bin(col("__x"), col("__xlo"), col("__xhi"), xBins).as("bx"),
        bin(col("__y"), col("__ylo"), col("__yhi"), yBins).as("by"))
      .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
  }
}
