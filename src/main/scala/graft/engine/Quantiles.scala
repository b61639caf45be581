package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed quantiles via range-partitioned sort + targeted
  * rank lookup — O(n log n) shuffle but only the handful of rows at
  * the quantile positions ever reach the driver.
  *
  * Every pick rides the engine's one range-scan kernel
  * ([[graft.ops.Prefix.rangeScan]]) as [[pickRanks]], a keyed running
  * count: a keyed (key, value) stream is range-sorted on (key, value) —
  * so a dominant key spreads over ALL partitions instead of funnelling
  * through one task, the 100 TB killer of a `Window.partitionBy(key)`
  * rank — pass 1 counts each key's rows and pass 2 over the pinned sort
  * emits only the rows at the ranks each key needs. The key is a
  * column name ([[exactMulti]]: many columns' quantiles in one sort) or
  * a group value ([[groupedPick]], the grouped profile's hot groups).
  * The weighted form ([[weightedExact]]) is the kernel's running-total
  * instance, and reads its total weight from the same pass 1.
  *
  * Spark's built-in exact `percentile` aggregate buffers every value in
  * an in-memory map per aggregate (fine for grouped small states,
  * ~7 s for 600k ungrouped doubles); the sort is the shape that
  * scales to 100 TB.
  *
  * Interpolation is NumPy/DuckDB `quantile_cont` semantics:
  * h = (n−1)·p, v = v_lo + (v_hi − v_lo)·(h − ⌊h⌋). */
object Quantiles {

  /** The rank pick: the keyed-running-count instance of the shared
    * range scan ([[graft.ops.Prefix.rangeScan]]). `keyed` has two
    * columns, a key of any type and a DOUBLE value; rows with a NULL key
    * or value are dropped, NaN is a VALUE (kept, sorts last — Spark and
    * Scala double ordering agree). The scan sorts on (key, value), so
    * every key spreads across all partitions; pass 1 counts each key's
    * rows, which gives each key's n and each partition's rank carry.
    * `ranksOf(n)` names the 0-based ranks a key of n rows needs, and
    * pass 2 emits only those rows. Output: key → (n, rank → value); a
    * key with no rows is absent, and all NaN keys are one key, as in
    * Spark's grouping. */
  private[engine] def pickRanks(
      keyed: DataFrame,
      ranksOf: Long => Iterable[Long]): Map[Any, (Long, Map[Long, Double])] = {
    import graft.ops.Prefix
    val scan = Prefix.rangeScan(keyed.toDF("k", "v")
        .filter(col("k").isNotNull && col("v").isNotNull),
      Seq(col("k"), col("v")))(Prefix.keyRuns(0, Array.empty))
    try {
      val (carries, totals) = Prefix.carryIn(scan.summaries)
      val needed = totals.map { case (g, t) => g -> ranksOf(t.rows).toSet }
      // each partition ships its first key's carry and the needed ranks
      // of the keys it holds: O(|keys| + P) in all
      val seeds = scan.summaries.zip(carries).map { case (runs, carry) =>
        (carry, runs.map(r => r.key -> needed(r.key)).toMap)
      }
      val picked = scan.seeded(seeds) { case ((carry, nd), it) =>
        val running = new Prefix.Running(0, Array.empty, carry)
        var cur: Prefix.Run = null
        var want = Set.empty[Long]
        it.flatMap { r =>
          val run = running.step(r)
          if (run ne cur) { cur = run; want = nd(run.key) }
          val rank = run.rows - 1L
          if (want.contains(rank)) Iterator(((run.key, rank), r.getDouble(1)))
          else Iterator.empty
        }
      }.collect()
      val byKey = picked.groupMap(_._1._1) { case ((_, r), x) => r -> x }
      totals.map { case (g, t) =>
        Prefix.outKey(g) -> (t.rows, byKey.getOrElse(g, Array.empty).toMap)
      }
    } finally scan.release()
  }

  /** Exact interpolated quantiles `ps` of every key of `keyed` (the
    * [[pickRanks]] input shape) from one sort: each key picks ranks
    * ⌊(n−1)p⌋ and ⌈(n−1)p⌉ and interpolates between them. Keys with no
    * rows are absent. */
  private[engine] def groupedExact(keyed: DataFrame,
                                   ps: Seq[Double]): Map[Any, Seq[Double]] =
    pickRanks(keyed, n => ps.flatMap { p =>
      val h = (n - 1) * p
      Seq(math.floor(h).toLong, math.ceil(h).toLong)
    }).map { case (g, (n, at)) =>
      g -> ps.map { p =>
        val h = (n - 1) * p
        val lo = math.floor(h).toLong
        val vlo = at(lo); val vhi = at(math.ceil(h).toLong)
        vlo + (vhi - vlo) * (h - lo)
      }
    }

  /** Exact quantiles for MANY value expressions in ONE sort: the
    * columns explode into a narrow (column-name, value) stream and
    * [[groupedExact]] keys it by column name, so every column's ranks
    * come out of one shuffle and two passes. k separate per-column
    * sorts re-deserialize and re-shuffle the frame k×3 times (measured
    * 80 s for 10 columns at 600k rows vs ~8 s fused). Each column's n
    * is its non-NULL value count (NaN included), counted by the sort's
    * own first pass. A column with no values reports 0.0 for every p. */
  def exactMulti(df: DataFrame, values: Seq[(String, Column)],
                 ps: Seq[Double]): Map[String, Seq[Double]] = {
    if (values.isEmpty) return Map.empty
    val pairs = values.map { case (name, v) =>
      struct(lit(name).as("c"), v.cast("double").as("v"))
    }
    val qs = groupedExact(df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.c").as("c"), col("p.v").as("v")), ps)
    values.map { case (name, _) =>
      name -> qs.getOrElse(name, ps.map(_ => 0.0))
    }.toMap
  }

  /** Exact WEIGHTED quantiles, windowless: the q-th weighted quantile
    * is the smallest value whose cumulative weight reaches q·W (the
    * left-continuous inverse CDF — PERCENTILE_DISC convention, no
    * interpolation). The raw table collapses to distinct (value,
    * Σweight) at the scan; cumulative weights and the total W ride the
    * shared range scan ([[graft.ops.Prefix.runningTotals]] — no
    * single-task window, no separate total); the final pick is |qs|
    * min-when aggregates over the distinct-value frame. Weights are fixed-point at 1e-6
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
    val cum = graft.ops.Prefix.runningTotals(g, None, Seq("__v"),
      Seq("__cum" -> col("__w")))
    val wTot = cum.total.sums(0)
    val picks = qs.zipWithIndex.map { case (q, i) =>
      // q·W in doubles can overshoot an exactly-reached boundary by one
      // ulp (0.55·60e6 = 33000000.000000004 → ceil 33000001, skipping
      // the true PERCENTILE_DISC pick); shave a relative epsilon before
      // the ceil — the oracle applies the identical adjustment.
      val x = q * wTot
      min(when(col("__cum") >= lit(math.ceil(x - x * 1e-12).toLong), col("__v")))
        .as(s"__q$i")
    }
    val one = cum.rows.agg(picks.head, picks.tail: _*)
    val pairs = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("quantile"), col(s"__q$i").as("value"))
    }
    one.select(explode(array(pairs: _*)).as("__p"))
      .select(col("__p.quantile").as("quantile"), col("__p.value").as("value"))
  }

  /** Exact PER-GROUP element pick at a count-derived rank, for "median
    * per category"-shaped reads (Hampel/MAD fences, per-type robust
    * centers): [[pickRanks]] keyed by the group column, so a group
    * holding most of the data is sorted across all partitions.
    *
    * `rank1Of(n)` maps a group's row count to the 1-indexed rank to
    * pick (e.g. `n => (n + 1) / 2` = the lower-median element pick).
    * Output: one (group, `outCol`) row per group, group column typed
    * as in the input. Contract: the RESULT is group-cardinality-sized
    * and driver-collected (the rows at needed ranks, nothing
    * data-proportional); callers broadcast-join it back. Null groups
    * and values are excluded — the value after its DOUBLE cast, so a
    * non-numeric string is a NULL, not an error; NaN is a value and
    * sorts last. */
  def groupedPick(df: DataFrame, gCol: String, vCol: String,
                  rank1Of: Long => Long, outCol: String): DataFrame = {
    val keyed = df.select(col(gCol).as("__g"), col(vCol).cast("double").as("__v"))
    // an out-of-range rank would silently emit NO row for the group (a
    // caller joining back would misread absence as "group not in
    // input"), so fail fast
    val picked = pickRanks(keyed, { n =>
      val r = rank1Of(n)
      require(r >= 1 && r <= n, s"rank1Of($n) = $r outside [1, $n]")
      Seq(r - 1L)
    })
    val schema = org.apache.spark.sql.types.StructType(Seq(
      keyed.schema("__g").copy(name = gCol),
      org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.DoubleType)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(picked.toSeq.map { case (g, (_, at)) =>
        org.apache.spark.sql.Row(g, at.values.head) }: _*), schema)
  }
}
