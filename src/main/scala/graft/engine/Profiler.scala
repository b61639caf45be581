package graft.engine

import org.apache.spark.sql.{Column, DataFrame, GraftActions, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-type statistical profilers (`Latanova_v1.py:173-298`), fused:
  * all numeric, datetime and boolean columns of a table are profiled by
  * ONE moment aggregation plus ONE quantile sort of all their values
  * (the reference re-scans per column), the two run together as
  * concurrent actions; all categorical columns take one more (tiny)
  * grouped count.
  *
  * Numerical parity choices (SURVEY.md §4.5): `stddev_pop` (np.std is
  * ddof=0), exact `percentile` with linear interpolation
  * (np.percentile default), Spark `skewness`/`kurtosis` (population g1
  * / excess g2 = scipy bias=True, fisher=True).
  */
object Profiler {

  /** The moment aggregates of the numeric profile
    * (`Latanova_v1.py:173-191`) over an arbitrary value expression —
    * WITHOUT the quantiles. Spark's exact `percentile` buffers every
    * value per aggregate; k columns × 3 quantiles in one agg was the
    * dominant profiling cost at 600k rows (measured ~100 s). Quantiles
    * come from the distributed sort (Quantiles.exactMulti) instead.
    * Aliases are `<prefix>#<stat>`. */
  def numericExprs(value: Column, prefix: String): Seq[Column] = Seq(
    avg(value).as(s"$prefix#mean"),
    stddev_pop(value).as(s"$prefix#std"),
    min(value).cast(DoubleType).as(s"$prefix#min"),
    max(value).cast(DoubleType).as(s"$prefix#max"),
    skewness(value).as(s"$prefix#skew"),
    kurtosis(value).as(s"$prefix#kurt"),
    count(value).as(s"$prefix#n"))

  private def numericFromRow(row: Row, idx: Map[String, Int], prefix: String,
                             quantiles: Seq[Double]): NumericStats = {
    def d(s: String): Double = {
      val i = idx(s"$prefix#$s")
      if (row.isNullAt(i)) 0.0 else row.getDouble(i)
    }
    val n = row.getLong(idx(s"$prefix#n"))
    NumericStats(
      mean = d("mean"),
      std = if (n > 1) d("std") else 0.0,          // len>1 else 0 (`:181`)
      median = quantiles(1),
      min = d("min"), max = d("max"),
      skewness = if (n > 2) d("skew") else 0.0,    // len>2 else 0 (`:185`)
      kurtosis = if (n > 3) d("kurt") else 0.0,    // len>3 else 0 (`:186`)
      q1 = quantiles(0), q3 = quantiles(2), count = n)
  }

  /** Numeric value expression for a column of any physical type:
    * numeric dtypes pass through, strings go through null-on-failure
    * coercion (pd.to_numeric errors='coerce', `Latanova_v1.py:649`). */
  def numericValue(field: StructField): Column = field.dataType match {
    case t if t.isInstanceOf[NumericType] => col(field.name).cast(DoubleType)
    case _ => Detector.tryNumeric(trim(col(field.name).cast(StringType)))
  }

  /** Timestamp expression for a datetime column: a physical datetime
    * type casts, anything else goes through the multi-format parse
    * (pd.to_datetime errors='coerce', `Latanova_v1.py:278`). */
  private def datetimeValue(field: StructField): Column =
    if (Detector.isDatetime(field.dataType)) col(field.name).cast(TimestampType)
    else Detector.tryParseDate(trim(col(field.name).cast(StringType)))

  /** Profile many numeric/datetime/boolean columns: one moment
    * aggregation and one [[Quantiles.exactMulti]] sort, independent of
    * each other and run as concurrent actions
    * ([[GraftActions.together]]). Returns partial ColumnProfiles
    * (categorical/text filled by the dedicated paths below). */
  def profileScalars(
      df: DataFrame,
      detected: Map[String, (SemanticType, ColumnSignals)]): Map[String, ColumnProfile] = {
    import SemanticType._
    val fields = df.schema.fields.map(f => f.name -> f).toMap

    val numericCols  = detected.collect { case (n, (Integer | Float, _)) => n }.toSeq.sorted
    val datetimeCols = detected.collect { case (n, (Datetime, _)) => n }.toSeq.sorted
    val booleanCols  = detected.collect { case (n, (Boolean, _)) => n }.toSeq.sorted

    val exprs: Seq[Column] =
      numericCols.flatMap(n => numericExprs(numericValue(fields(n)), n)) ++
      datetimeCols.flatMap { n =>
        val parsed = datetimeValue(fields(n))
        numericExprs(unix_timestamp(parsed), n) ++ Seq(
          date_format(min(parsed), "yyyy-MM-dd HH:mm:ss").as(s"$n#mindate"),
          date_format(max(parsed), "yyyy-MM-dd HH:mm:ss").as(s"$n#maxdate"),
          // render-format detection uses the first value's shape
          // (`Latanova_v1.py:284-292`); `first` over scan order.
          first(trim(col(n).cast(StringType)), ignoreNulls = true).as(s"$n#firstval"))
      } ++
      booleanCols.flatMap { n =>
        val b = Detector.coerceBoolean(col(n))
        Seq(
          sum(when(b === true, 1L).otherwise(0L)).as(s"$n#true"),
          sum(when(b === false, 1L).otherwise(0L)).as(s"$n#false"))
      }

    if (exprs.isEmpty) return Map.empty
    val ps = Seq(0.25, 0.5, 0.75)
    val quantileValues =
      numericCols.map(n => n -> numericValue(fields(n))) ++
        // epoch seconds (`dates.astype(np.int64) // 10**9`, `Latanova_v1.py:281`)
        datetimeCols.map(n => n -> unix_timestamp(datetimeValue(fields(n))))
    val (row, quantiles) = GraftActions.together(
      df.agg(exprs.head, exprs.tail: _*).collect()(0),
      Quantiles.exactMulti(df, quantileValues, ps))
    val idx = row.schema.fieldNames.zipWithIndex.toMap

    val numericProfiles = numericCols.map { n =>
      n -> ColumnProfile(n, detected(n)._1, detected(n)._2,
        numeric = Some(numericFromRow(row, idx, n, quantiles(n))))
    }
    val datetimeProfiles = datetimeCols.map { n =>
      val stats = numericFromRow(row, idx, n, quantiles(n))
      val firstVal = if (row.isNullAt(idx(s"$n#firstval"))) "" else row.getString(idx(s"$n#firstval"))
      val fmt =
        if (firstVal.matches("^\\d{4}-\\d{2}-\\d{2}.*")) "YYYY-MM-DD"
        else if (firstVal.matches("^\\d{2}/\\d{2}/\\d{4}.*")) "MM/DD/YYYY"
        else if (firstVal.matches("^\\d{2}-\\d{2}-\\d{4}.*")) "DD-MM-YYYY"
        else null
      def s(k: String) = if (row.isNullAt(idx(s"$n#$k"))) "" else row.getString(idx(s"$n#$k"))
      n -> ColumnProfile(n, detected(n)._1, detected(n)._2,
        datetime = Some(DatetimeStats(stats, s("mindate"), s("maxdate"), fmt)))
    }
    val booleanProfiles = booleanCols.map { n =>
      val t = row.getLong(idx(s"$n#true")); val f = row.getLong(idx(s"$n#false"))
      val cnt = t + f // n_samples counts only coercible values (`Latanova_v1.py:248`)
      n -> ColumnProfile(n, detected(n)._1, detected(n)._2,
        boolean = Some(BooleanStats(
          trueProb = if (cnt == 0) 0.0 else t.toDouble / cnt,
          trueCount = t, falseCount = f, count = cnt,
          format = detected(n)._2.boolFormat)))
    }
    (numericProfiles ++ datetimeProfiles ++ booleanProfiles).toMap
  }

  /** value_counts(normalize=True) (`Latanova_v1.py:255-271`) of every
    * column in `columns`, in ONE pass: rows explode to a narrow
    * (column, value) stream, one groupBy counts it, one collect brings
    * the counts back — fewer than 50 rows per column (the Detector's
    * category cap) — and the driver orders each column's values.
    * Nulls are excluded; values are not trimmed.
    * Order: count desc, then value asc in Spark's binary UTF-8 string
    * order — pandas breaks count ties by first-seen order, which is
    * not reproducible distributed; we document value-order instead
    * (SURVEY.md §2.4). No columns, no Spark job. */
  def profileCategoricals(df: DataFrame,
                          columns: Seq[String]): Map[String, CategoricalStats] = {
    val counted: Map[String, Array[(String, Long)]] =
      if (columns.isEmpty) Map.empty
      else {
        val pairs = columns.map(c =>
          struct(lit(c).as("c"), col(c).cast(StringType).as("v")))
        df.select(explode(array(pairs: _*)).as("p"))
          .select(col("p.c").as("c"), col("p.v").as("v"))
          .filter(col("v").isNotNull)
          .groupBy("c", "v").agg(count(lit(1)).as("cnt"))
          .collect()
          .groupMap(_.getString(0))(r => r.getString(1) -> r.getLong(2))
      }
    def utf8(v: String) = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    columns.map { c =>
      val rows = counted.getOrElse(c, Array.empty[(String, Long)]).sortWith {
        case ((va, na), (vb, nb)) =>
          na > nb || (na == nb && java.util.Arrays.compareUnsigned(utf8(va), utf8(vb)) < 0)
      }
      val total = rows.map(_._2).sum
      val cats = rows.map(_._1).toSeq
      val counts = rows.map(_._2).toSeq
      val probs = counts.map(_.toDouble / total)
      c -> CategoricalStats(
        categories = cats, probabilities = probs, counts = counts,
        mostCommon = cats.headOption.orNull,
        mostCommonProb = probs.headOption.getOrElse(0.0),
        count = total)
    }.toMap
  }

  /** Grouped numeric profile: the full per-column numeric profile of
    * the reference (`Latanova_v1.py:173-191`), computed PER KEY in one
    * grouped aggregation — the "profile by segment/language/source"
    * form the single-table reference never needed but any curation
    * pipeline does.
    *
    * Moment sums: INTEGRAL value columns accumulate in DECIMAL(38,0) —
    * exact at any scale (a 4th-power BIGINT sum overflows near ~1e12
    * rows; decimal matches the oracle's HUGEINT bit-for-bit).
    * FRACTIONAL columns must NOT take that cast (DECIMAL(38,0) rounds
    * 1.4 → 1, corrupting every stat); they use plain double sums, the
    * same trade the scalar profile makes (order-dependent last-ulp
    * noise ~1e-12 of the 6-dp-rounded output). The derived stats use
    * the same scalar formula as the oracle SQL so doubles evaluate
    * bit-identically. Quantiles are Spark's exact linear-interpolation
    * `percentile`, which buffers one group's values in aggregation
    * state — bounded by the largest group. Groups bigger than
    * `hotGroupRowBound` do NOT take that path: a keyed pre-count (one
    * narrow map-side-combined scan) identifies them, the percentile
    * input is masked to null for their rows (nothing buffers), and
    * their quantiles come from ONE sort keyed by the group
    * ([[Quantiles.groupedExact]] — the range-partitioned sort where a
    * dominant group's values spread across all partitions) — stitched
    * back as literal CASE expressions (hot groups are few by
    * definition: at most |rows|/bound of them exist). Both paths use
    * the same (n−1)·p linear interpolation. A null group key never
    * routes hot (isin never matches null) — null groups stay on the
    * buffered path. */
  def groupedNumericProfile(df: DataFrame, keyCol: String,
                            valueCol: String,
                            hotGroupRowBound: Long = 2000000L): DataFrame = {
    val (x, xd) = momentOperands(df, valueCol)
    val clean = df.filter(xd.isNotNull)
    val ps = Seq(0.25, 0.5, 0.75)
    // a null group key never routes hot (filtered here): isin/=== can't
    // address null rows, so a null group stays on the buffered path by
    // construction — and the masking below must not let three-valued
    // logic null OTHER groups out (hence the <=> true)
    val hot: Seq[Any] = clean.groupBy(col(keyCol)).count()
      .filter(col("count") > hotGroupRowBound && col(keyCol).isNotNull)
      .collect().map(_.get(0)).toSeq
    // percentile input masked to null for hot groups — their values
    // never enter aggregation state
    val qIn = if (hot.isEmpty) xd
      else when(col(keyCol).isin(hot: _*) <=> lit(true),
        lit(null).cast(DoubleType)).otherwise(xd)
    val qsCol = if (hot.isEmpty)
      percentile(xd, array(ps.map(lit): _*))
    else {
      val hotQs = Quantiles.groupedExact(
        clean.filter(col(keyCol).isin(hot: _*)).select(col(keyCol), xd), ps)
      hotQs.foldLeft(percentile(qIn, array(ps.map(lit): _*))) { case (acc, (k, qs)) =>
        when(col(keyCol) === lit(k), array(qs.map(lit): _*)).otherwise(acc)
      }
    }
    val sums = momentSums(x, xd)
    profileSelect(clean.groupBy(col(keyCol))
      .agg(sums.head, sums.tail :+ qsCol.as("qs"): _*), Seq(col(keyCol)))
  }

  /** The numeric profile of one column (`Latanova_v1.py:173-191`): n,
    * moments, min/max and exact quartiles — the ungrouped
    * [[groupedNumericProfile]]. The moment sums are one aggregation;
    * the quartiles come from the sort kernel ([[Quantiles.exactMulti]]),
    * whose sort never holds more than a partition however large the
    * column. One output row. */
  def numericProfile(df: DataFrame, valueCol: String): DataFrame = {
    val (x, xd) = momentOperands(df, valueCol)
    val qs = Quantiles.exactMulti(df, Seq(valueCol -> xd),
      Seq(0.25, 0.5, 0.75))(valueCol)
    val sums = momentSums(x, xd)
    profileSelect(df.agg(sums.head, sums.tail :+ array(qs.map(lit): _*).as("qs"): _*),
      Seq.empty)
  }

  /** n, s1..s4, mn, mx: the moment sums of `x` (see [[momentOperands]]). */
  private def momentSums(x: Column, xd: Column): Seq[Column] = Seq(
    count(xd).as("n"),
    sum(x).as("s1"), sum(x * x).as("s2"),
    sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"),
    min(xd).as("mn"), max(xd).as("mx"))

  /** The numeric profile's columns over [[momentSums]] and `qs` (the
    * quartiles' array), after the `lead` columns. Degenerate rows (n
    * too small, or zero variance) report 0 like the reference's
    * len-guards (`Latanova_v1.py:185-186`) — and the guard keeps ANSI
    * mode from raising on the zero divisor. */
  private def profileSelect(g: DataFrame, lead: Seq[Column]): DataFrame = {
    val (mean, std, skew, kurt) = momentStatCols()
    g.select(lead ++ Seq(col("n"),
      round(mean, 6).as("mean"),
      round(std, 6).as("std"),
      round(skew, 6).as("skew"),
      round(kurt, 6).as("kurt"),
      col("mn"), col("mx"),
      round(element_at(col("qs"), 2), 6).as("median"),
      round(element_at(col("qs"), 1), 6).as("q1"),
      round(element_at(col("qs"), 3), 6).as("q3")): _*)
  }

  /** The two value forms moment sums need: (x, the operand of the
    * s1..s4 sums, and xd, the DOUBLE value). Integral columns sum in
    * DECIMAL(38,0), exact at any scale; every other column sums its
    * double — DECIMAL(38,0) would round a fraction away. */
  private def momentOperands(df: DataFrame, valueCol: String): (Column, Column) = {
    val integral = df.schema(valueCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    val xd = col(valueCol).cast(DoubleType)
    (if (integral) col(valueCol).cast(DecimalType(38, 0)) else xd, xd)
  }

  /** Shared scalar moment formula over columns n, s1..s4 — the same
    * expressions the whole profile family (and its oracle fragment)
    * uses: (mean, pop-std, guarded skew, guarded excess kurtosis). */
  private def momentStatCols(): (Column, Column, Column, Column) = {
    val n = col("n").cast(DoubleType)
    val mean = col("s1").cast(DoubleType) / n
    val m2 = col("s2").cast(DoubleType) / n
    val m3 = col("s3").cast(DoubleType) / n
    val m4 = col("s4").cast(DoubleType) / n
    val variance = m2 - mean * mean
    val std = sqrt(variance)
    val skew = when(col("n") > 2 && variance > 0,
      (m3 - lit(3.0) * mean * m2 + lit(2.0) * mean * mean * mean)
        / (std * std * std)).otherwise(lit(0.0))
    val kurt = when(col("n") > 3 && variance > 0,
      (m4 - lit(4.0) * mean * m3 + lit(6.0) * mean * mean * m2
        - lit(3.0) * mean * mean * mean * mean)
        / (variance * variance) - lit(3.0)).otherwise(lit(0.0))
    (mean, std, skew, kurt)
  }

  /** MERGEABLE partial profile state, per shard: the exact moment sums
    * (n, s1..s4, min, max) of `valueCol` for each value of `shardCol`
    * (a day, a file batch, a partition id). Integral columns sum in
    * DECIMAL(38,0), so partials carry NO rounding and merging is
    * associative-exact: [[mergeMoments]] over any shard subset equals
    * the direct single-pass profile bit-for-bit — the incremental-
    * pipeline primitive that re-profiles 100 TB after a daily append
    * by touching ONLY the new day's raw rows. Quantiles are excluded
    * (exact quantiles don't merge; pair with the sort kernel when
    * needed). */
  def partialMoments(df: DataFrame, shardCol: String,
                     valueCol: String): DataFrame = {
    val (x, xd) = momentOperands(df, valueCol)
    val sums = momentSums(x, xd)
    df.filter(xd.isNotNull && col(shardCol).isNotNull)
      .groupBy(col(shardCol).as("shard"))
      .agg(sums.head, sums.tail: _*)
  }

  /** Fold [[partialMoments]] rows into the final profile: one 1-row
    * aggregation (sums of sums, min of mins) + the shared scalar
    * formula. No raw data touched. */
  def mergeMoments(partials: DataFrame): DataFrame = {
    val g = partials.agg(
      coalesce(sum("n"), lit(0L)).as("n"),
      sum("s1").as("s1"), sum("s2").as("s2"),
      sum("s3").as("s3"), sum("s4").as("s4"),
      min("mn").as("mn"), max("mx").as("mx"))
    val (mean, std, skew, kurt) = momentStatCols()
    g.select(col("n"),
      round(mean, 6).as("mean"),
      round(std, 6).as("std"),
      round(skew, 6).as("skew"),
      round(kurt, 6).as("kurt"),
      col("mn"), col("mx"))
  }

  /** Per-group linear trend of `y` against `x` — OLS slope, intercept
    * and Pearson r per key, the "is this metric drifting per segment"
    * monitor. `regr_slope`/`regr_intercept`/`corr` are algebraic
    * aggregates: ONE map-side-combined scan regardless of group count,
    * shuffle carries per-group co-moment tuples only. Rounded to 6 dp
    * (co-moment merge order differs between engines — last-ulp noise
    * is expected). Rows with a null key, x, or y are excluded. */
  def groupedTrend(df: DataFrame, keyCol: String,
                   x: org.apache.spark.sql.Column,
                   y: org.apache.spark.sql.Column): DataFrame =
    df.filter(col(keyCol).isNotNull && x.isNotNull && y.isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"),
        round(regr_slope(y.cast(DoubleType), x.cast(DoubleType)), 6).as("slope"),
        round(regr_intercept(y.cast(DoubleType), x.cast(DoubleType)), 6).as("intercept"),
        round(corr(y.cast(DoubleType), x.cast(DoubleType)), 6).as("r"))

  /** Pairwise Pearson correlations of `cols` in ONE aggregation pass
    * (long format: one row per unordered pair, i < j in the given
    * order). `corr` is an algebraic aggregate — k·(k−1)/2 pairs fuse
    * into a single map-side-combined scan, so the cost at 100 TB is
    * one read of the table regardless of pair count; a per-pair loop
    * would re-scan k²/2 times. Rounded to 6 dp: the co-moment merge
    * order differs between engines, and correlation is scale-free, so
    * last-ulp noise is expected and harmless. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      corr(col(a).cast(DoubleType), col(b).cast(DoubleType)).as(s"$a#$b")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(pairs.map { case (a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        round(col(s"$a#$b"), 6).as("r"))
    }: _*)).as("p")).select(col("p.col_x"), col("p.col_y"), col("p.r"))
  }

  /** Winsorized (clipped-tail) profile: mean/std after clamping the
    * column into its [pLo, pHi] quantile range — the robust-moments
    * summary that survives the heavy tails raw means drown in. Two
    * scans: the cut points come from the distributed sort kernel
    * ([[Quantiles.exactMulti]] — quantile_cont semantics, never a
    * buffered percentile), then one moment pass over the clamped
    * expression. Output: (n, mean, std, lo_cut, hi_cut). */
  def winsorizedProfile(df: DataFrame, colName: String,
                        pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val x = col(colName).cast(DoubleType)
    val clean = df.filter(x.isNotNull)
    val cuts = Quantiles.exactMulti(clean, Seq("x" -> x), Seq(pLo, pHi))("x")
    val v = greatest(lit(cuts.head), least(lit(cuts.last), x))
    clean.agg(
      count(v).as("n"),
      round(avg(v), 6).as("mean"),
      round(stddev_pop(v), 6).as("std"),
      round(lit(cuts.head), 6).as("lo_cut"),
      round(lit(cuts.last), 6).as("hi_cut"))
  }

  /** Robust outlier summary via the Median Absolute Deviation — the
    * heavy-tail-safe alternative to z-scores (one extreme value drags
    * a mean/std threshold arbitrarily; the median/MAD pair has a 50%
    * breakdown point). Flags x as an outlier when
    * |x − median| > k · 1.4826 · MAD (1.4826 = the usual normal
    * consistency constant, so k reads like a z-score k).
    *
    * Shape: two distributed-sort quantile passes (median, then median
    * of deviations — each O(P) driver scalars via the range-sort
    * kernel, no single-task window) + one final counting agg. Output
    * (1 row): (n, median, mad, n_outliers, outlier_frac). */
  def madProfile(df: DataFrame, colName: String, k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val x = col(colName).cast(DoubleType)
    val clean = df.filter(x.isNotNull)
    val med = Quantiles.exactMulti(clean, Seq("x" -> x), Seq(0.5))("x").head
    val mad = Quantiles.exactMulti(clean, Seq("d" -> abs(x - med)), Seq(0.5))("d").head
    // left-assoc (k * 1.4826) * mad — the oracle spells it the same way
    val thr = k * 1.4826 * mad
    clean.agg(
      count(x).as("n"),
      round(lit(med), 6).as("median"),
      round(lit(mad), 6).as("mad"),
      coalesce(sum(when(abs(x - med) > thr, 1L)), lit(0L)).as("n_outliers"),
      round(coalesce(sum(when(abs(x - med) > thr, 1L)), lit(0L))
        .cast(DoubleType) / count(x).cast(DoubleType), 6).as("outlier_frac"))
  }

  /** Completeness / cardinality / entropy summary for several columns
    * in ONE shuffle: rows explode to a narrow (column, value) stream
    * (k× scan traffic, absorbed by map-side combine), distinct
    * (column, value) counts shuffle [the only exchange — bounded by
    * total distinct values, not rows], and per-column Shannon entropy
    * reduces over those counts via H = ln N − (Σ cnt·ln cnt)/N, so the
    * per-value probabilities never need a second pass or a window.
    * Output: (col_name, n, n_null, n_distinct, entropy) — the
    * data-quality triple (completeness, cardinality, concentration)
    * monitoring systems track per snapshot. */
  def columnSummary(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val pairs = cols.map(c =>
      struct(lit(c).as("c"), col(c).cast(StringType).as("v")))
    df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.c").as("c"), col("p.v").as("v"))
      .groupBy("c", "v").agg(count(lit(1)).as("cnt"))
      .groupBy("c").agg(
        coalesce(sum(when(col("v").isNotNull, col("cnt"))), lit(0L)).as("n"),
        coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
        coalesce(sum(when(col("v").isNotNull,
          col("cnt").cast(DoubleType) * log(col("cnt").cast(DoubleType)))),
          lit(0.0)).as("slog"))
      .select(col("c").as("col_name"), col("n"), col("n_null"), col("n_distinct"),
        round(when(col("n") > 0,
          log(col("n").cast(DoubleType)) - col("slog") / col("n").cast(DoubleType))
          .otherwise(lit(0.0)), 6).as("entropy"))
  }

  /** Bounded sample of raw string entries for bootstrap generation
    * (`raw_entries`, `Latanova_v1.py:225,306-309`): the first `cap`
    * non-null values as strings, one LIMIT collect — the engine's only
    * one (the text profile takes its sample here too). At 100 TB the
    * raw column cannot live on the driver — cap and document. A cap
    * ≤ 0 asks for nothing and starts no Spark job. */
  def rawSample(df: DataFrame, column: String, cap: Int = 10000): Seq[String] =
    if (cap <= 0) Seq.empty
    else df.filter(col(column).isNotNull)
      .select(col(column).cast(StringType))
      .limit(cap)
      .collect()
      .map(_.getString(0))
      .toSeq
}
