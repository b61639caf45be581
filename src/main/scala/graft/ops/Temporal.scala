package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Temporal joins the reference's single-table model never needed but a
  * query engine over event data does — most importantly the backward
  * as-of (point-in-time) join.
  *
  * Spark has no native as-of operator. Per the custom-op preference
  * order, tier (a) — composing existing operators — fully expresses the
  * semantics here, so no custom `SparkPlan` is warranted: tag both
  * inputs, union them, and take a running `last(..., ignoreNulls)` over
  * a (key, time)-sorted window. Physically that is ONE hash exchange on
  * the key and ONE within-partition sort — exactly the plan a dedicated
  * as-of physical operator would produce, with zero join-row explosion
  * (contrast the naive `l.join(r, key && rTime <= lTime)` + argmax,
  * which materializes |matches| rows per left row before pruning).
  *
  * Scale notes: cost is a sort-merge-join-shaped shuffle of |L| + |R|
  * rows. The window form funnels each key through one task (fine while
  * per-key data fits a task's sort budget); for hot keys,
  * [[Temporal.asofJoinBackward]] with `hotKeyRowBound` switches to the
  * engine's one range-scan kernel ([[Prefix.rangeScan]]): a range sort
  * on (key, time) lets a hot key span many sorted partitions, a P-row
  * boundary summary fixes the carry-in payload each partition inherits
  * for the single key that can straddle its leading edge, and a second
  * pass over the pinned sort runs the running-last scan per partition.
  * Same total order, same results, no single-task key.
  */
object Temporal {

  /** Backward as-of join (pandas `merge_asof` direction="backward",
    * DuckDB `ASOF JOIN`): for every left row, attach `payloadCols` from
    * the right row with the greatest `rightTime <= leftTime` within the
    * same key. Left rows with no qualifying right row keep null payload
    * (left-outer semantics).
    *
    * Determinism: right rows tied on `rightTime` are resolved toward
    * the greatest `tieBreak` value, so results are stable across
    * partitionings and match an oracle's `ORDER BY time DESC, tieBreak
    * DESC LIMIT 1`.
    *
    * `tolerance`: optional maximum staleness. When set, a match older
    * than `leftTime - tolerance` is discarded (payload nulled) — e.g.
    * `expr("INTERVAL 7 DAYS")` for timestamp keys.
    *
    * `hotKeyRowBound`: when set, the union is first profiled (one keyed
    * count — cheap next to the join itself) and, if any key exceeds the
    * bound, the per-key window is replaced by the range-partitioned
    * carry-in scan ([[asofViaRangeScan]]) so no key ever funnels
    * through a single task. Results are identical either way.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTime: String, rightTime: String,
                       payloadCols: Seq[String], tieBreak: String,
                       tolerance: Option[Column] = None,
                       hotKeyRowBound: Option[Long] = None): DataFrame = {
    val clash = payloadCols.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty,
      s"payloadCols ${clash.mkString(", ")} already exist on the left side — " +
        "rename them on one side first (the output would be ambiguous)")
    val leftStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    // __rt rides along for the tolerance check; payload fields keep
    // their own names (a payload column named like rightTime still
    // works — struct fields are positional within the struct)
    val payStruct = struct(
      (col(rightTime).as("__rt") +: col(tieBreak).as("__tb") +:
        payloadCols.map(col).toIndexedSeq): _*)
    val lu = left.select(col(leftKey).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__s"), leftStruct.as("__l"))
    val ru = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(col(rightKey).as("__k"), col(rightTime).as("__t"),
        lit(0).as("__s"), payStruct.as("__p"))
    val u = lu.withColumn("__p", lit(null).cast(ru.schema("__p").dataType))
      .unionByName(ru.withColumn("__l", lit(null).cast(lu.schema("__l").dataType)))
    val useHot = hotKeyRowBound.exists { bound =>
      val m = u.groupBy("__k").count().agg(max("count")).head()
      !m.isNullAt(0) && m.getLong(0) > bound
    }
    val matched =
      if (useHot) asofViaRangeScan(u)
      else {
        // rows sorted (time, side, tieBreak): at equal time the right
        // row (side 0) precedes the left row it must be visible to
        // (<= match); among tied right rows the greatest tieBreak sorts
        // last and wins the running last().
        val w = Window.partitionBy("__k")
          .orderBy(col("__t").asc, col("__s").asc, col("__p.__tb").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
          .filter(col("__s") === 1)
      }
    val fresh = tolerance match {
      case Some(tol) => col("__m").isNotNull && col("__m.__rt") >= col("__t") - tol
      case None      => col("__m").isNotNull
    }
    matched.select(
      (left.columns.map(c => col(s"__l.$c").as(c)) ++
        payloadCols.map(c => when(fresh, col(s"__m.$c")).as(c))).toIndexedSeq: _*)
  }

  /** Point-in-interval range join: (point, interval) pairs where
    * `start ≤ t ≤ end`. Spark plans the naive theta join
    * `p.join(iv, t.between(s, e))` as a BroadcastNestedLoopJoin —
    * O(|P|·|I|) comparisons and a broadcast of a whole side; this form
    * BINS the domain instead: intervals explode to the grid cells they
    * overlap, points map to their one cell, and the match becomes an
    * EQUIJOIN on cell followed by the exact containment filter — the
    * standard distributed range-join shape (hash-partitionable,
    * skew-handled by AQE like any equijoin). Cost knob: `binWidth` —
    * an interval emits ~(length/binWidth + 1) rows, a cell holds
    * ~density·binWidth candidate points; set it near the typical
    * interval length. Null times/bounds and inverted intervals
    * (start > end) are dropped. */
  def rangeJoinPointInterval(points: DataFrame, pointId: String, tCol: String,
                             intervals: DataFrame, intervalId: String,
                             startCol: String, endCol: String,
                             binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    val p = points
      .select(col(pointId).as("__pid"), col(tCol).cast("double").as("__t"))
      .filter(col("__t").isNotNull)
      .withColumn("__cell", floor(col("__t") / binWidth))
    val iv = intervals
      .select(col(intervalId).as("__iid"), col(startCol).cast("double").as("__s"),
        col(endCol).cast("double").as("__e"))
      .filter(col("__s").isNotNull && col("__e").isNotNull && col("__s") <= col("__e"))
      .withColumn("__cell",
        explode(sequence(floor(col("__s") / binWidth).cast("long"),
          floor(col("__e") / binWidth).cast("long"))))
    p.join(iv, Seq("__cell"))
      .filter(col("__t") >= col("__s") && col("__t") <= col("__e"))
      .select(col("__pid").as(pointId), col("__t").as(tCol),
        col("__iid").as(intervalId), col("__s").as(startCol),
        col("__e").as(endCol))
  }

  /** The hot-key form of the running-last match, the as-of instance of
    * the shared range scan ([[Prefix.rangeScan]]): instead of one
    * window task per key, the tagged union is range-sorted on
    * (key, time, side, tieBreak) — the SAME total order the window
    * uses, but a hot key now spans as many consecutive sorted
    * partitions as its volume needs. Because keys are contiguous in
    * that order, the only key whose state can straddle a partition
    * boundary is the last key of the previous partition; pass 1
    * summarizes each partition as its (lastKey, lastPayloadOfThatKey),
    * a prefix walk on the driver turns those into the carry-in payload
    * each partition starts from, and pass 2 runs the per-partition
    * running-last scan seeded with that carry. Output schema matches
    * the window branch: the union columns plus the matched payload
    * `__m`. */
  private def asofViaRangeScan(u: DataFrame): DataFrame = {
    val kIdx = u.schema.fieldIndex("__k")
    val pIdx = u.schema.fieldIndex("__p")
    // pass 1: per partition, the last key present and the last right
    // payload within that key's trailing run (null if that run has no
    // right rows); an empty partition summarizes as null
    val scan = Prefix.rangeScan(u,
        Seq(col("__k"), col("__t"), col("__s"), col("__p.__tb"))) { it =>
      var any = false
      var lastKey: Any = null
      var lastPay: Row = null
      it.foreach { r =>
        val k = Prefix.scanKey(r.get(kIdx))
        if (!any || k != lastKey) { lastKey = k; lastPay = null; any = true }
        if (!r.isNullAt(pIdx)) lastPay = r.getStruct(pIdx)
      }
      if (any) (lastKey, lastPay) else null
    }
    // empty partitions take the previous summary, then prefix-walk:
    // partition i's carry key is partition i-1's last key; its payload
    // is the most recent non-null payload among the contiguous earlier
    // partitions ending in that same key.
    val filled = scan.summaries.scanLeft(null: (Any, Row)) { (prev, sm) =>
      if (sm == null) prev else sm
    }.tail
    val carries = Array.tabulate(filled.length) { i =>
      if (i == 0) null
      else filled(i - 1) match {
        case null => null
        case (ck, pay0) =>
          var pay = pay0
          var j = i - 1
          while (pay == null && j > 0 && filled(j - 1) != null &&
            filled(j - 1)._1 == ck) { pay = filled(j - 1)._2; j -= 1 }
          (ck, pay)
      }
    }
    // pass 2: running last() per partition, seeded with the carry for
    // rows of the straddling key; resets whenever the key changes.
    val rdd = scan.seeded(carries) { (carry, it) =>
      var any = false
      var curKey: Any = null
      var lastPay: Row = null
      it.map { r =>
        val k = Prefix.scanKey(r.get(kIdx))
        if (!any || k != curKey) {
          curKey = k; any = true
          lastPay = if (carry != null && carry._1 == k) carry._2 else null
        }
        if (!r.isNullAt(pIdx)) lastPay = r.getStruct(pIdx)
        Row.fromSeq(r.toSeq :+ lastPay)
      }
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      u.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__m", u.schema.fields(pIdx).dataType, nullable = true))
    u.sparkSession.createDataFrame(rdd, outSchema).filter(col("__s") === 1)
  }

  /** Ordered funnel analysis — "of the users who did step 1, how many
    * went on to do step 2 after it, then step 3 after that": the
    * conversion report every event pipeline ships. Step i counts a user
    * when some event of type `steps(i)` has `ts >= ` the user's
    * earliest qualifying step-(i−1) time (first-touch semantics,
    * inclusive ties — an equal timestamp counts, matching the oracle's
    * `>=`).
    *
    * Shape: one narrow filtered agg per step, each joined to the
    * previous step's per-user frame — every shuffle is keyed on the
    * user column, so the co-partitioning is planned once and reused
    * (no Exchange between steps after the first), and each frame holds
    * one row per surviving user. The k per-step counts are O(k)
    * scalars to the driver; no per-user event list is ever collected
    * or sorted. Output: (step, step_name, n_users, conversion) with
    * conversion = n_users / previous step's n_users (1.0 for step 0). */
  def funnel(df: DataFrame, userCol: String, typeCol: String, tsCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val spark = df.sparkSession
    val base = df.select(col(userCol).as("u"), col(typeCol).as("t"),
      col(tsCol).as("ts")).filter(col("u").isNotNull && col("ts").isNotNull)
    var frame = base.filter(col("t") === steps.head)
      .groupBy("u").agg(min(col("ts")).as("pt"))
    var counts = List(frame.count())
    steps.tail.foreach { step =>
      frame = base.filter(col("t") === step)
        .join(frame, "u")
        .filter(col("ts") >= col("pt"))
        .groupBy("u").agg(min(col("ts")).as("pt"))
      counts = frame.count() :: counts
    }
    val ns = counts.reverse
    val rows = steps.zipWithIndex.map { case (name, i) =>
      val conv = if (i == 0) 1.0
      else if (ns(i - 1) == 0) 0.0
      else ns(i).toDouble / ns(i - 1)
      (i.toLong, name, ns(i), conv)
    }
    import spark.implicits._
    rows.toDF("step", "step_name", "n_users", "conversion")
      .withColumn("conversion", round(col("conversion"), 6))
  }

  /** First-order Markov transition matrix over an event stream: for
    * each consecutive (by `tsCol`, ties broken by `tieCol`) pair of
    * events of the same `keyCol`, count the (from_type, to_type)
    * transition and its row-normalized probability — the "what do
    * users do next" summary behavioral pipelines compute per snapshot.
    *
    * Shape: the lead() window is PARTITIONED BY key — each user's
    * events sort inside one task's hash bucket, so unlike a global
    * window this parallelizes across keys (per-key volume is the only
    * skew concern, documented). The transition counts then reduce to
    * ≤ |types|² rows; the per-from normalizer joins on that tiny
    * frame. */
  def transitionMatrix(df: DataFrame, keyCol: String, typeCol: String,
                       tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col("__k")).orderBy(col("__ts"), col("__tie"))
    val pairs = df.select(col(keyCol).as("__k"), col(typeCol).as("__t"),
      col(tsCol).as("__ts"), col(tieCol).as("__tie"))
      .filter(col("__k").isNotNull && col("__ts").isNotNull)
      .withColumn("__next", lead(col("__t"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("__t").as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds both the output and the normalizer
    val totals = pairs.groupBy(col("from_type").as("__ft"))
      .agg(sum("n").as("__tot"))
    pairs.join(broadcast(totals), col("from_type") === col("__ft"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6).as("prob"))
  }

  /** Gap-filled time-bucket resample: per-`unit` (e.g. "hour") event
    * count and value sum over a COMPLETE spine from the first to the
    * last observed bucket — absent buckets appear with n=0 (the
    * "regularize the series before charting/forecasting" step;
    * a plain groupBy silently drops empty buckets).
    *
    * Shape: one narrow groupBy(bucket) over the raw rows (map-side
    * combine), then everything operates on ≤|buckets| rows: the spine
    * is sequence(min, max) exploded from the 1-row extent agg —
    * |buckets| is calendar-bounded (data-size-independent), so the
    * single-task explode is safe at any row count — and the fill
    * join broadcasts the bucket aggregates against it. */
  def resample(df: DataFrame, tsCol: String, valueCol: String,
               unit: String = "hour"): DataFrame = {
    val step = unit.toLowerCase match {
      case "hour" => expr("interval 1 hour")
      case "day" => expr("interval 1 day")
      case "week" => expr("interval 7 day")
      case other => throw new IllegalArgumentException(
        s"unsupported resample unit '$other' (hour|day|week)")
    }
    val b = df.filter(col(tsCol).isNotNull)
      .groupBy(date_trunc(unit, col(tsCol)).as("__b"))
      .agg(count(lit(1)).as("n"),
        round(sum(col(valueCol).cast(DecimalType(38, 6))).cast("double"), 6)
          .as("sum_value"))
      .localCheckpoint() // feeds the extent agg AND the fill join
    val spine = b.agg(min("__b").as("__lo"), max("__b").as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"), step)).as("__s"))
    spine.join(b, col("__s") === col("__b"), "left")
      .select(date_format(col("__s"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** Cumulative-adoption curve: per `unit` bucket, how many keys were
    * seen for the FIRST time, and the running total of distinct keys
    * to date — the windowless form of
    * `SUM(n_new) OVER (ORDER BY day)` (a global running sum is a
    * single-task window; this rides [[Prefix.runningTotal]]'s
    * two-pass range sort instead, and the frame it sorts is already
    * bucket-sized, not row-sized). */
  def cumulativeFirstSeen(df: DataFrame, keyCol: String, tsCol: String,
                          unit: String = "day"): DataFrame = {
    val firstSeen = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("__k"))
      .agg(min(col(tsCol)).as("__first"))
      .groupBy(date_trunc(unit, col("__first")).as("__b"))
      .agg(count(lit(1)).as("n_new"))
    Prefix.runningTotal(firstSeen, "__b", "n_new", "cum_keys")
      .select(date_format(col("__b"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("n_new"), col("cum_keys"))
  }

  /** Trailing moving average over gap-filled `unit` buckets: for each
    * calendar bucket, the mean of the last `window` bucket sums
    * (fewer at the head — the count shrinks with the available
    * history, it never pads). The windowless form of
    * `AVG(s) OVER (ORDER BY bucket ROWS window-1 PRECEDING)` — a
    * global ordered window funnels through one task; instead each
    * bucket EXPLODES into the ≤`window` later buckets its value
    * contributes to, and a plain groupBy re-aggregates. All frames
    * after the first bucket agg are calendar-bounded (buckets ×
    * window rows, data-size-independent), and bucket sums ride
    * DECIMAL(38,6) so the moving sum is exact cross-engine. */
  def movingAverage(df: DataFrame, tsCol: String, valueCol: String,
                    unit: String = "day", window: Int = 7): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val (step, span) = unit.toLowerCase match {
      case "hour" => (expr("interval 1 hour"), expr(s"interval ${window - 1} hour"))
      case "day" => (expr("interval 1 day"), expr(s"interval ${window - 1} day"))
      case "week" => (expr("interval 7 day"), expr(s"interval ${7 * (window - 1)} day"))
      case other => throw new IllegalArgumentException(
        s"unsupported movingAverage unit '$other' (hour|day|week)")
    }
    val zero = lit(0).cast(DecimalType(38, 6))
    val b = df.filter(col(tsCol).isNotNull)
      .groupBy(date_trunc(unit, col(tsCol)).as("__b"))
      .agg(count(lit(1)).as("__n"),
        coalesce(sum(col(valueCol).cast(DecimalType(38, 6))), zero).as("__sum"))
      .localCheckpoint() // feeds the extent agg AND the fill join
    val ext = b.agg(min("__b").as("__lo"), max("__b").as("__hi"))
    val spine = ext.select(explode(sequence(col("__lo"), col("__hi"), step)).as("__s"))
    val filled = spine.join(b, col("__s") === col("__b"), "left")
      .crossJoin(broadcast(ext.select("__hi")))
      .select(col("__s"), col("__hi"),
        coalesce(col("__n"), lit(0L)).as("__n"),
        coalesce(col("__sum"), zero).as("__sum"))
      .localCheckpoint() // feeds the contribution explode AND the identity join
    val moving = filled
      .select(explode(sequence(col("__s"),
        least(col("__s") + span, col("__hi")), step)).as("__t"), col("__sum"))
      .groupBy("__t")
      .agg(sum("__sum").as("__msum"), count(lit(1)).as("__cnt"))
    filled.join(moving, col("__s") === col("__t"))
      .select(date_format(col("__s"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("__n").as("n"),
        round(col("__sum").cast("double"), 6).as("bucket_sum"),
        round(col("__msum").cast("double") / col("__cnt"), 6).as("moving_avg"))
  }

  /** Daily/rolling active keys — the DAU/WAU engagement report: per
    * calendar `unit` bucket, the count of distinct keys active IN that
    * bucket (`active`) and over the trailing `window` buckets
    * (`active_window`, distinct across the whole window — a key active
    * on three days of the week counts once), plus their ratio (the
    * "stickiness" metric). Raw event volume collapses to distinct
    * (key, bucket) at the scan; the rolling count re-explodes each
    * presence row into the ≤`window` buckets it covers and counts
    * distinct keys per target — shuffles carry ≤ |keys|·window rows,
    * and every other frame is calendar-bounded. */
  def activeUsers(df: DataFrame, keyCol: String, tsCol: String,
                  unit: String = "day", window: Int = 7): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val (step, span) = unit.toLowerCase match {
      case "day" => (expr("interval 1 day"), expr(s"interval ${window - 1} day"))
      case "hour" => (expr("interval 1 hour"), expr(s"interval ${window - 1} hour"))
      case other => throw new IllegalArgumentException(
        s"unsupported activeUsers unit '$other' (hour|day)")
    }
    val a = df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"), date_trunc(unit, col(tsCol)).as("__d"))
      .distinct()
      .localCheckpoint() // feeds extent, per-bucket and rolling counts
    val ext = a.agg(min("__d").as("__lo"), max("__d").as("__hi"))
    val spine = ext.select(explode(sequence(col("__lo"), col("__hi"), step)).as("__s"))
    val cur = a.groupBy(col("__d")).agg(count(lit(1)).as("__cur"))
    val roll = a.crossJoin(broadcast(ext.select("__hi")))
      .select(explode(sequence(col("__d"),
        least(col("__d") + span, col("__hi")), step)).as("__t"), col("__k"))
      .groupBy("__t")
      .agg(count_distinct(col("__k")).as("__roll"))
    spine
      .join(cur, col("__s") === col("__d"), "left")
      .join(roll, col("__s") === col("__t"), "left")
      .select(date_format(col("__s"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        coalesce(col("__cur"), lit(0L)).as("active"),
        coalesce(col("__roll"), lit(0L)).as("active_window"),
        round(when(coalesce(col("__roll"), lit(0L)) > 0,
          coalesce(col("__cur"), lit(0L)).cast("double") / col("__roll"))
          .otherwise(lit(0.0)), 6).as("stickiness"))
  }

  /** Conversion-lag quantiles: per key, the delay (seconds) between
    * its FIRST `fromStep` event and its FIRST `toStep` event, counted
    * only when the latter follows the former (first-touch semantics,
    * matching [[funnel]]); summarized as exact PERCENTILE_DISC
    * quantiles via the weighted-quantile kernel. ONE fused keyed agg
    * computes both firsts (conditional mins — no join, no window);
    * the lag frame is ≤|keys| rows and the quantile pick rides the
    * shared prefix sort. Output: (quantile, lag_s) rows. */
  def conversionLag(df: DataFrame, keyCol: String, tsCol: String,
                    typeCol: String, fromStep: String, toStep: String,
                    qs: Seq[Double]): DataFrame = {
    val lags = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(
        min(when(col(typeCol) === fromStep, col(tsCol))).as("__ff"),
        min(when(col(typeCol) === toStep, col(tsCol))).as("__ft"))
      .filter(col("__ff").isNotNull && col("__ft").isNotNull &&
        col("__ft") >= col("__ff"))
      .select((unix_timestamp(col("__ft")) - unix_timestamp(col("__ff")))
        .cast("double").as("lag_s"))
      .withColumn("__w", lit(1.0))
    graft.engine.Quantiles.weightedExact(lags, "lag_s", "__w", qs)
  }

  /** Cohort retention matrix: keys grouped by first-seen `unit` bucket
    * (the cohort), then for each cohort × age (buckets since the
    * cohort) the count and fraction of that cohort active in the aged
    * bucket. The classic product-analytics retention grid.
    *
    * Shape: ONE (key, bucket) distinct (activity presence — raw event
    * volume collapses at the scan's partial agg), a per-key min()
    * window for the cohort (parallel across keys; a key's bucket list
    * is calendar-bounded), one (cohort, age) count agg, and cohort
    * sizes come FREE from the age-0 row (every key is active in its
    * own first bucket by definition) — a calendar-bounded frame,
    * broadcast back. No global window, no per-row join, nothing in
    * any shuffle wider than (key, timestamp). */
  def retention(df: DataFrame, keyCol: String, tsCol: String,
                unit: String = "day"): DataFrame = {
    val unitDays = unit match {
      case "day" => 1
      case "week" => 7
      case u => throw new IllegalArgumentException(
        s"retention unit must be day or week, got $u")
    }
    val activity = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"), date_trunc(unit, col(tsCol)).as("__b"))
      .distinct()
    val aged = activity
      .withColumn("cohort", min("__b").over(Window.partitionBy("__k")))
      .withColumn("age",
        (datediff(col("__b"), col("cohort")) / unitDays).cast("int"))
    val counts = aged.groupBy("cohort", "age")
      .agg(count(lit(1)).as("n_active"))
    val sizes = counts.filter(col("age") === 0)
      .select(col("cohort"), col("n_active").as("n_cohort"))
    counts.join(broadcast(sizes), "cohort")
      .withColumn("retention",
        round(col("n_active").cast("double") / col("n_cohort"), 6))
      .select(col("cohort"), col("age"), col("n_active"), col("n_cohort"),
        col("retention"))
  }

  /** Gap-based sessionization: per key, a new session starts at the
    * first event and whenever the gap to the previous event exceeds
    * `gapMs` milliseconds — the standard clickstream session
    * definition. Returns one row per (key, session): session ordinal
    * (1-based in event-time order), event count, start/end/duration
    * in epoch millis (integer-exact cross-engine; no float time
    * arithmetic anywhere).
    *
    * Shape: ONE window pass partitioned by the key (lag + running sum
    * share the same (ts, id)-ordered frame — Spark plans one sort),
    * then a keyed agg on (key, session). Parallelism is across keys;
    * per-key state is that key's event count, which is the floor any
    * gap-based definition needs (each event's session depends on the
    * full prior chain). A pathological single hot key would serialize
    * — for clickstream keys (users/devices) cardinality is high and
    * per-key volume is bounded, the regime this targets. Ordering ties
    * break on `idCol`, so results are deterministic under replay. */
  def sessionize(df: DataFrame, keyCol: String, idCol: String,
                 tsCol: String, gapMs: Long): DataFrame = {
    require(gapMs >= 1, s"gapMs must be >= 1, got $gapMs")
    val base = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("k"), col(idCol).as("id"),
        unix_millis(col(tsCol)).as("ms"))
    val w = Window.partitionBy("k").orderBy(col("ms"), col("id"))
    base
      .withColumn("new_s",
        when(lag(col("ms"), 1).over(w).isNull ||
          col("ms") - lag(col("ms"), 1).over(w) > gapMs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
      .select(col("k"), col("session_idx"), col("n_events"),
        col("start_ms"), col("end_ms"),
        (col("end_ms") - col("start_ms")).as("duration_ms"))
  }
}
