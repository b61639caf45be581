package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed quantiles via range-partitioned sort + targeted
  * rank lookup — O(n log n) shuffle but only the handful of rows at
  * the quantile positions ever reach the driver.
  *
  * Spark's built-in exact `percentile` aggregate buffers every value in
  * an in-memory map per aggregate (fine for grouped small states,
  * ~7 s for 600k ungrouped doubles); the sort is the shape that
  * scales to 100 TB.
  *
  * Interpolation is NumPy/DuckDB `quantile_cont` semantics:
  * h = (n−1)·p, v = v_lo + (v_hi − v_lo)·(h − ⌊h⌋). */
object Quantiles {

  /** Exact quantiles for MANY value expressions in ONE pass: the
    * columns explode into a narrow (column-id, value) stream, ONE
    * range-partitioned shuffle on (column, value) sorts every column
    * across ALL partitions simultaneously, per-partition column counts
    * (a few hundred scalars) come back to the driver to fix global rank
    * offsets, and a second pass over the sorted stream — persisted
    * (memory-and-disk) between the passes so neither the shuffle nor
    * the post-shuffle sort re-executes — emits only the rows at needed
    * ranks. k separate per-column sorts re-deserialize and re-shuffle
    * the frame k×3 times (measured 80 s for 10 columns at 600k rows vs
    * ~8 s fused); a `Window.partitionBy(column)` rank would funnel each
    * column's every row through a single task — the 100 TB
    * scale-killer this shape exists to avoid.
    *
    * NaN policy: NaN is a VALUE (kept, sorts last — Spark and Scala
    * double ordering agree), matching `count()` which includes NaN in
    * n; dropping it would make ranks overrun the stream. */
  def exactMulti(df: DataFrame, values: Seq[(String, Column)],
                 ps: Seq[Double], ns: Map[String, Long]): Map[String, Seq[Double]] = {
    if (values.isEmpty) return Map.empty
    val neededMap: Map[String, Set[Long]] = values.flatMap { case (name, _) =>
      val n = ns.getOrElse(name, 0L)
      if (n == 0) None
      else Some(name -> ps.flatMap { p =>
        val h = (n - 1) * p
        Seq(math.floor(h).toLong, math.ceil(h).toLong)
      }.toSet)
    }.toMap
    if (neededMap.isEmpty) return values.map(_._1 -> ps.map(_ => 0.0)).toMap
    val spark = df.sparkSession
    val pairs = values.map { case (name, v) =>
      struct(lit(name).as("c"), v.cast("double").as("v"))
    }
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val sorted = df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.c").as("c"), col("p.v").as("v"))
      .filter(col("v").isNotNull)
      .repartitionByRange(nPart, col("c"), col("v"))
      .sortWithinPartitions("c", "v")
      .rdd.map(r => (r.getString(0), r.getDouble(1)))
      // persist across the two passes: without it the count pass and the
      // emit pass each re-run the post-shuffle SORT (only the map stage
      // is skipped by shuffle-file reuse) — disk-backed, unpersisted on
      // return
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // pass 1: per-(partition, column) row counts — O(P·k) scalars
    val counts: Array[Map[String, Long]] = sorted
      .mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.Map.empty[String, Long]
        it.foreach { case (c, _) => m.update(c, m.getOrElse(c, 0L) + 1L) }
        Iterator((i, m.toMap))
      }.collect().sortBy(_._1).map(_._2)
    // offsets(i)(c) = rows of column c in partitions before i
    val offsets: Array[Map[String, Long]] =
      counts.scanLeft(Map.empty[String, Long]) { (acc, m) =>
        (acc.keySet ++ m.keySet).iterator
          .map(k => k -> (acc.getOrElse(k, 0L) + m.getOrElse(k, 0L))).toMap
      }.init
    val neededB = spark.sparkContext.broadcast(neededMap)
    val offB = spark.sparkContext.broadcast(offsets)
    // pass 2 (shuffle reuse): emit only rows whose global rank is needed
    val vals: Map[(String, Long), Double] =
      try {
        sorted.mapPartitionsWithIndex { (i, it) =>
          val off = scala.collection.mutable.Map[String, Long](offB.value(i).toSeq: _*)
          val nd = neededB.value
          it.flatMap { case (c, v) =>
            val r = off.getOrElse(c, 0L)
            off.update(c, r + 1L)
            if (nd.get(c).exists(_.contains(r))) Iterator(((c, r), v))
            else Iterator.empty
          }
        }.collect().toMap
      } finally {
        // single-use: release driver+executor copies immediately
        neededB.destroy(); offB.destroy()
      }
    values.map { case (name, _) =>
      val n = ns.getOrElse(name, 0L)
      name -> (if (n == 0) ps.map(_ => 0.0)
      else ps.map { p =>
        val h = (n - 1) * p
        val lo = math.floor(h).toLong
        val vlo = vals((name, lo)); val vhi = vals((name, math.ceil(h).toLong))
        vlo + (vhi - vlo) * (h - lo)
      })
    }.toMap
    } finally sorted.unpersist(blocking = false)
  }

  /** Exact WEIGHTED quantiles, windowless: the q-th weighted quantile
    * is the smallest value whose cumulative weight reaches q·W (the
    * left-continuous inverse CDF — PERCENTILE_DISC convention, no
    * interpolation). The raw table collapses to distinct (value,
    * Σweight) at the scan; cumulative weights ride the shared
    * range-sorted prefix pass ([[graft.ops.Prefix.runningTotals]] — no
    * single-task window); the final pick is |qs| min-when aggregates
    * over the distinct-value frame. Weights are fixed-point at 1e-6
    * resolution (the prefix kernel sums longs exactly; double running
    * sums would drift order-dependently), rows with null value/weight
    * or weight rounding to ≤ 0 are excluded. Capacity: Σweight must
    * stay under 2⁶³/1e6 ≈ 9.2e12 — ample for row-count-like weights at
    * any SF here; corpora beyond that trade resolution for range by
    * lowering the fixed-point scale. Output: (quantile, value)
    * rows in input order of `qs`. */
  def weightedExact(df: DataFrame, valueCol: String, weightCol: String,
                    qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach(q => require(q > 0 && q <= 1, s"quantile $q outside (0,1]"))
    val v = col(valueCol).cast("double")
    val wfp = round(col(weightCol).cast("double") * 1e6).cast("long")
    val g = df.filter(v.isNotNull && col(weightCol).isNotNull && wfp > 0)
      .groupBy(v.as("__v")).agg(sum(wfp).as("__w"))
      .localCheckpoint() // feeds the total AND the prefix pass
    val wTot = g.agg(coalesce(sum("__w"), lit(0L))).collect()(0).getLong(0)
    val cum = graft.ops.Prefix.runningTotals(g, Seq("__v"),
      Seq("__cum" -> col("__w")))
    val picks = qs.zipWithIndex.map { case (q, i) =>
      // q·W in doubles can overshoot an exactly-reached boundary by one
      // ulp (0.55·60e6 = 33000000.000000004 → ceil 33000001, skipping
      // the true PERCENTILE_DISC pick); shave a relative epsilon before
      // the ceil — the oracle applies the identical adjustment.
      val x = q * wTot
      min(when(col("__cum") >= lit(math.ceil(x - x * 1e-12).toLong), col("__v")))
        .as(s"__q$i")
    }
    val one = cum.agg(picks.head, picks.tail: _*)
    val pairs = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("quantile"), col(s"__q$i").as("value"))
    }
    one.select(explode(array(pairs: _*)).as("__p"))
      .select(col("__p.quantile").as("quantile"), col("__p.value").as("value"))
  }

  /** Exact PER-GROUP element pick at a count-derived rank — the grouped
    * twin of [[exactMulti]], for "median per category"-shaped reads
    * (Hampel/MAD fences, per-type robust centers). A
    * `Window.partitionBy(group)` rank funnels each group's every row
    * through ONE task — the 100 TB killer when one group holds most of
    * the data; here ONE range-partitioned shuffle on (group, value)
    * sorts every group across ALL partitions simultaneously,
    * per-(partition, group) counts (O(P·|G|) scalars) fix global rank
    * offsets on the driver, and a shuffle-reusing second pass emits
    * only each group's picked row.
    *
    * `rank1Of(n)` maps a group's row count to the 1-indexed rank to
    * pick (e.g. `n => (n + 1) / 2` = the lower-median element pick).
    * Output: one (group, `outCol`) row per group, group column typed
    * as in the input. Contract: the RESULT is group-cardinality-sized
    * and driver-collected (exactMulti's discipline — the rows at
    * needed ranks, nothing data-proportional); callers broadcast-join
    * it back. Null groups/values are excluded; NaN is a value and
    * sorts last (matching count semantics). */
  def groupedPick(df: DataFrame, gCol: String, vCol: String,
                  rank1Of: Long => Long, outCol: String): DataFrame = {
    val spark = df.sparkSession
    // filter on the CAST value, not the raw column: a non-null input
    // whose double cast yields null (e.g. a non-numeric string) would
    // otherwise survive to getDouble → NPE (exactMulti's rule). NaN
    // casts to NaN, not null, so the NaN-is-a-value policy holds.
    val base = df
      .filter(col(gCol).isNotNull && col(vCol).cast("double").isNotNull)
      .select(col(gCol).as("__g"), col(vCol).cast("double").as("__v"))
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val sorted = base.repartitionByRange(nPart, col("__g"), col("__v"))
      .sortWithinPartitions("__g", "__v")
      .rdd.map(r => (r.get(0), r.getDouble(1)))
      // persist across the two passes (exactMulti's rationale: only the
      // map stage of the shuffle is reused, the post-shuffle sort would
      // re-run)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts: Array[Map[Any, Long]] = sorted
        .mapPartitionsWithIndex { (i, it) =>
          val m = scala.collection.mutable.Map.empty[Any, Long]
          it.foreach { case (g, _) => m.update(g, m.getOrElse(g, 0L) + 1L) }
          Iterator((i, m.toMap))
        }.collect().sortBy(_._1).map(_._2)
      val scan = counts.scanLeft(Map.empty[Any, Long]) { (acc, m) =>
        (acc.keySet ++ m.keySet).iterator
          .map(k => k -> (acc.getOrElse(k, 0L) + m.getOrElse(k, 0L))).toMap
      }
      val offsets: Array[Map[Any, Long]] = scan.init
      // 0-indexed rank to emit per group; an out-of-range rank would
      // silently emit NO row for the group (a caller joining back
      // would misread absence as "group not in input"), so fail fast
      val needed: Map[Any, Long] =
        scan.last.map { case (g, n) =>
          val r = rank1Of(n)
          require(r >= 1 && r <= n,
            s"rank1Of($n) = $r outside [1, $n] for group $g")
          g -> (r - 1L)
        }
      val neededB = spark.sparkContext.broadcast(needed)
      val offB = spark.sparkContext.broadcast(offsets)
      val picked: Array[(Any, Double)] =
        try {
          sorted.mapPartitionsWithIndex { (i, it) =>
            val off = scala.collection.mutable.Map[Any, Long](
              offB.value(i).toSeq: _*)
            val nd = neededB.value
            it.flatMap { case (g, v) =>
              val r = off.getOrElse(g, 0L)
              off.update(g, r + 1L)
              if (nd.get(g).contains(r)) Iterator((g, v)) else Iterator.empty
            }
          }.collect()
        } finally {
          // single-use broadcasts: release driver+executor copies now
          // rather than letting 4 per madOutliers call pile up across
          // a 232-query suite
          neededB.destroy(); offB.destroy()
        }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        base.schema("__g").copy(name = gCol),
        org.apache.spark.sql.types.StructField(
          outCol, org.apache.spark.sql.types.DoubleType)))
      spark.createDataFrame(
        java.util.Arrays.asList(picked.map { case (g, v) =>
          org.apache.spark.sql.Row(g, v) }: _*), schema)
    } finally { sorted.unpersist(blocking = false); () }
  }
}
