package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distribution-drift and dependency validation — the statistical
  * tests a curation pipeline runs between dataset versions ("did this
  * refresh shift the data?") and the structural checks a profiler runs
  * once ("is this column a key? does A determine B?"). The reference's
  * validation stage compares synthetic-vs-source moments
  * (`Latanova_v1.py:545-621`); these are the scale-shaped population
  * analogues.
  *
  * Every operator here is exact and oracle-replayable, and none uses a
  * partition-less window: ECDFs come from grouped prefix sums
  * ([[Prefix.runningTotals]] — one range sort, O(|keys| + P) driver
  * traffic), contingency tables from narrow keyed aggs over DISTINCT
  * levels (map-side combine absorbs the raw rows), so everything
  * survives a 100 TB input whose distinct-value footprint fits a
  * shuffle.
  */
object Drift {

  /** Two-sample Kolmogorov–Smirnov statistic
    * D = sup_x |F_a(x) − F_b(x)| between the rows where `group` is
    * true (sample a) and false (sample b), over `value`.
    *
    * Shape: ONE narrow groupBy(value) computes per-distinct-value
    * counts for both samples (the raw table never leaves the scan);
    * the shared-sort prefix pass turns them into ECDF numerators and
    * its first pass yields n_a and n_b; the max reduces. Ties are
    * handled exactly: the ECDF difference is evaluated only at complete
    * distinct values, never mid-run.
    * Output (1 row): (n_a, n_b, ks). */
  def ksTwoSample(df: DataFrame, value: Column, group: Column): DataFrame = {
    val spark = df.sparkSession
    val counts = df
      .select(value.cast("double").as("v"), group.cast("boolean").as("g"))
      .filter(col("v").isNotNull && col("g").isNotNull)
      .groupBy("v").agg(
        sum(when(col("g"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("g"), 1L).otherwise(0L)).as("cb"))
    val cum = Prefix.runningTotals(counts, None, Seq("v"),
      Seq("cum_a" -> col("ca"), "cum_b" -> col("cb")))
    val (na, nb) = (cum.total.sums(0), cum.total.sums(1))
    if (na == 0L || nb == 0L)
      return spark.range(1).select(lit(na).as("n_a"), lit(nb).as("n_b"),
        lit(null).cast("double").as("ks"))
    cum.rows
      .agg(max(abs(col("cum_a").cast("double") / lit(na.toDouble)
        - col("cum_b").cast("double") / lit(nb.toDouble))).as("ks"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), round(col("ks"), 6).as("ks"))
  }

  /** Population Stability Index between a baseline sample (`group`
    * true) and a current sample (false), over equi-depth `bins` of the
    * BASELINE's distribution (cut points from the distributed sort
    * kernel — the standard "bin on the reference, score the drift"
    * setup). Laplace-smoothed (+0.5 per bin) so empty bins stay
    * finite; PSI = Σ (p−q)·ln(p/q). Rule of thumb: <0.1 stable,
    * 0.1–0.25 moderate, >0.25 shifted.
    * Output: one row per bin (bin, n_base, n_cur, psi_contrib) —
    * Σ psi_contrib is the PSI — computed when psi is called and
    * returned as a local frame. */
  def psi(df: DataFrame, value: Column, group: Column, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val rows = df
      .select(value.cast("double").as("v"), group.cast("boolean").as("g"))
      .filter(col("v").isNotNull && col("g").isNotNull)
      .localCheckpoint() // two passes (cuts, counts) over one scan
    val base = rows.filter(col("g"))
    val ps = (1 until bins).map(_.toDouble / bins)
    val cuts = graft.engine.Quantiles.exactMulti(base, Seq("v" -> col("v")), ps)("v")
    // bin = number of cuts <= v (duplicate cuts collapse naturally)
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col("v") >= lit(c), 1).otherwise(0)
    }
    val counted = rows.groupBy(bin.as("bin")).agg(
      sum(when(col("g"), 1L).otherwise(0L)).as("n_base"),
      sum(when(!col("g"), 1L).otherwise(0L)).as("n_cur"))
    // at most `bins` rows: collected once, they give the totals and
    // are the result, so no second aggregate runs over them
    val binRows = counted.collect()
    val (na, nc) = (binRows.map(_.getLong(1)).sum, binRows.map(_.getLong(2)).sum)
    val p = (col("n_base").cast("double") + 0.5) / (lit(na.toDouble) + lit(0.5 * bins))
    val q = (col("n_cur").cast("double") + 0.5) / (lit(nc.toDouble) + lit(0.5 * bins))
    df.sparkSession.createDataFrame(java.util.Arrays.asList(binRows: _*), counted.schema)
      .select(col("bin"), col("n_base"), col("n_cur"),
        round((p - q) * log(p / q), 6).as("psi_contrib"))
  }

  /** Windowless PERCENT_RANK over the whole table — the rank/quantile
    * normalization feature pipelines apply before training ("replace
    * the raw value by its population percentile"). SQL semantics
    * exactly: ties share the rank of their first row,
    * pct = (rank − 1) / (n − 1).
    *
    * Spark plans `percent_rank() OVER (ORDER BY v)` as a SINGLE-task
    * window. Here the rank table is distinct-value-bounded: ONE narrow
    * groupBy(value) count, a shared-sort prefix pass turns counts into
    * ranks (rank(v) = rows before v's run) and counts n and the
    * distinct values on its first pass, and the fact rows take the
    * percentile back via an equi-join on value — which AQE broadcasts
    * whenever the distinct table is small (the common case for the
    * discrete features this transform targets). Null values pass
    * through with a null rank. */
  def percentRank(df: DataFrame, valueCol: String,
                  outCol: String = "pct_rank"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a column named '$outCol'")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__pr_v")).agg(count(lit(1)).as("__pr_cnt"))
    val cum = Prefix.runningTotals(counts, None, Seq("__pr_v"),
      Seq("__pr_cum" -> col("__pr_cnt")))
    val n = cum.total.sums(0)
    val ranked = cum.rows
      .select(col("__pr_v"),
        (when(lit(n) > 1L,
          (col("__pr_cum") - col("__pr_cnt")).cast("double") / lit(math.max(n - 1L, 1L).toDouble))
          .otherwise(lit(0.0))).as(outCol))
    df.join(maybeBroadcastRank(ranked, cum.total.rows),
        df(valueCol) === col("__pr_v"), "left")
      .drop("__pr_v")
  }

  /** The rank table comes out of Prefix's RDD pass with NO catalyst
    * stats, so AQE can't see it's tiny and plans a SortMergeJoin that
    * shuffles the FULL base table against a 50-row frame (measured on
    * q73: two exchanges + sort of 600k rows to join 50). Distinct-
    * value-bounded rank tables broadcast under the cap; a continuous
    * column at corpus scale (distinct ~ n) keeps the shuffle join —
    * the honest route there. */
  private val BroadcastRankLimit = 1000000L
  private def maybeBroadcastRank(ranked: DataFrame, nDistinct: Long): DataFrame =
    if (nDistinct <= BroadcastRankLimit) broadcast(ranked) else ranked

  /** [[percentRank]] within groups — "replace the value by its
    * percentile WITHIN its segment" (per-language quality ranks,
    * per-domain score normalization). Same windowless construction,
    * one level deeper: the rank table is distinct-(group, value)-
    * bounded and rides ONE shared range sort keyed by the group
    * (rank-in-group = the group's running count − count), whose first
    * pass also counts each group's size. Spark's `percent_rank() OVER (PARTITION BY g ORDER BY
    * v)` sorts each group in one task — fine for many small groups,
    * a funnel when one group dominates; this shape never holds more
    * than a sort partition regardless of group skew. Rows with a
    * null group or value get a null rank. */
  def percentRankBy(df: DataFrame, groupCol: String, valueCol: String,
                    outCol: String = "pct_rank"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a column named '$outCol'")
    df.join(rankTableBy(df, groupCol, valueCol, outCol),
        df(groupCol) === col("__g") && df(valueCol) === col("__v"), "left")
      .drop("__g", "__v")
  }

  /** [[percentRankBy]]'s rank table: one row (__g, __v, `outCol`) per
    * distinct non-null (group, value), marked for broadcast when small.
    * A caller that ranks several columns of one frame ranks them as
    * groups of one (column, value) frame and looks each up here. */
  private[graft] def rankTableBy(df: DataFrame, groupCol: String, valueCol: String,
                                 outCol: String): DataFrame = {
    val counts = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val cum = Prefix.runningTotals(counts, Some("__g"), Seq("__v"),
      Seq("__cum" -> col("__cnt")))
    // per-group totals from the scan's first pass: |groups| rows
    val gt = df.sparkSession.createDataFrame(
      cum.byKey.toSeq.map { case (g, t) => Row(g, t.sums(0)) }.asJava,
      StructType(Seq(counts.schema("__g"), StructField("__gt", LongType))))
    val ranked = cum.rows.join(broadcast(gt), "__g")
      .select(col("__g"), col("__v"),
        when(col("__gt") > 1L,
          (col("__cum") - col("__cnt")).cast("double") /
            (col("__gt") - 1L).cast("double"))
          .otherwise(lit(0.0)).as(outCol))
    maybeBroadcastRank(ranked, cum.total.rows)
  }

  /** Pearson chi-square test of independence between two categorical
    * columns: contingency counts from ONE narrow keyed agg, marginals
    * from two aggs over the (tiny) distinct-pair frame, χ² assembled
    * with broadcast joins — the raw table is scanned once and only
    * distinct levels shuffle. Output (1 row): (n, dof, chi2). */
  def chiSquare(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.cast("string").as("a"), b.cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .localCheckpoint() // feeds three consumers below
    val rowTot = cells.groupBy("a").agg(sum("o").as("ra"))
    val colTot = cells.groupBy("b").agg(sum("o").as("cb"))
    val n = cells.agg(sum("o")).collect()(0).getLong(0)
    val dof = (rowTot.count() - 1) * (colTot.count() - 1)
    cells
      .join(broadcast(rowTot), "a").join(broadcast(colTot), "b")
      .select((col("ra").cast("double") * col("cb").cast("double")
        / lit(n.toDouble)).as("e"), col("o").cast("double").as("od"))
      .agg(round(sum((col("od") - col("e")) * (col("od") - col("e")) / col("e")), 6).as("chi2"))
      .select(lit(n).as("n"), lit(dof).as("dof"), col("chi2"))
  }

  /** Mutual information (nats) between two categorical columns — the
    * information-theoretic dependence score feature selection and
    * redundancy audits use where chi-square gives only a test
    * statistic. Same physical shape as [[chiSquare]]: contingency
    * counts from ONE narrow keyed agg (raw rows never leave the
    * scan), marginals from two aggs over the tiny distinct-pair
    * frame, MI = Σ p_ab·ln(p_ab·n² / (n_a·n_b·n)) assembled with
    * broadcast joins. Output (1 row): (n, mi). */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.cast("string").as("a"), b.cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .localCheckpoint() // feeds marginals + the MI sum
    val rowTot = cells.groupBy("a").agg(sum("o").as("ra"))
    val colTot = cells.groupBy("b").agg(sum("o").as("cb"))
    val n = cells.agg(coalesce(sum("o"), lit(0L))).collect()(0).getLong(0)
    // empty/all-null input: zero rows (matching the oracle's GROUP BY
    // over an empty contingency frame), not a (0, 0.0) placeholder
    if (n == 0)
      return cells.select(lit(0L).as("n"), lit(0.0).as("mi")).limit(0)
    val mi = sum((col("o").cast("double") / n) *
      log((col("o").cast("double") * n) /
        (col("ra").cast("double") * col("cb").cast("double"))))
    cells
      .join(broadcast(rowTot), "a").join(broadcast(colTot), "b")
      .agg(round(mi, 6).as("mi"))
      .select(lit(n).as("n"), col("mi"))
  }

  /** Functional-dependency / candidate-key profile for declared column
    * pairs: for each (det, dep), does det → dep hold, and how many
    * determinant values violate it? One narrow two-phase agg per pair
    * (distinct (det, dep) pairs, then per-det distinct-dep counts) —
    * the classic one-pass FD check, unioned. A pair (col, null-dep
    * sentinel "" ) is not supported; nulls on either side are dropped
    * (SQL FD semantics over known values).
    * Output: (det, dep, n_det, n_violations, holds). */
  def functionalDependencies(df: DataFrame,
                             pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one (determinant, dependent) pair")
    pairs.map { case (det, dep) =>
      df.select(col(det).cast("string").as("k"), col(dep).cast("string").as("d"))
        .filter(col("k").isNotNull && col("d").isNotNull)
        .distinct()
        .groupBy("k").agg(count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("n_det"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violations"))
        .select(lit(det).as("det"), lit(dep).as("dep"),
          col("n_det"), col("n_violations"),
          (col("n_violations") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Jensen–Shannon divergence of each group's token unigram
    * distribution against the whole corpus — the text-level drift
    * check a mixture pipeline runs per source/domain ("which slice
    * reads least like the blend it feeds?"); PSI/KS ([[psi]],
    * [[ksTwoSample]]) are its numeric-column cousins.
    *
    * JS(P_g ‖ Q) with Q the corpus distribution and M = (P+Q)/2, in
    * nats. Tokens absent from a group contribute q·ln2 to its
    * KL(Q‖M) side; summed in closed form as ln2·(1 − Σ_present q),
    * so only PRESENT (group, token) pairs are ever materialized: one
    * narrow shuffle for (group, token) counts, token totals reduced
    * from those counts (map-side combine; vocab-sized), group totals
    * broadcast. Nothing scales with the raw token stream but the
    * first keyed agg.
    * Output per group: (group, n_docs, n_tokens, js_nats). */
  def tokenJsDivergence(df: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && col(textCol).isNotNull)
    val pairs = base
      .select(col(groupCol).as("grp"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("grp", "tok").agg(count(lit(1)).as("c_gt"))
    val gTot = pairs.groupBy("grp").agg(sum("c_gt").as("n_tokens"))
    val tTot = pairs.groupBy("tok").agg(sum("c_gt").as("c_t"))
    val nTot = pairs.agg(sum("c_gt").as("n"))
    val nDocs = base.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"))
    val p = col("c_gt").cast("double") / col("n_tokens").cast("double")
    val q = col("c_t").cast("double") / col("n").cast("double")
    val m = (p + q) / 2.0
    pairs
      .join(broadcast(gTot), "grp")
      .join(tTot, "tok")
      .crossJoin(broadcast(nTot))
      .groupBy("grp").agg(
        first("n_tokens").as("n_tokens"),
        sum(lit(0.5) * (p * log(p / m) + q * log(q / m))).as("__js_p"),
        sum(q).as("__q_p"))
      .join(broadcast(nDocs), "grp")
      .select(col("grp").as(groupCol), col("n_docs"), col("n_tokens"),
        round(col("__js_p") + lit(0.5) * log(lit(2.0)) * (lit(1.0) - col("__q_p")),
          6).as("js_nats"))
  }

  /** Robust per-group outlier census via median/MAD — the
    * breakdown-point-0.5 alternative to z-scores (a few extreme values
    * corrupt a mean/std fence but not this one; Hampel's classic
    * identifier). Per group: the LOWER median (the element at position
    * ⌊(n+1)/2⌋ of the sorted values — an exact element pick, no
    * interpolated floats anywhere), the median absolute deviation
    * computed the same way over |x − med|, and the count of values
    * with |x − med| > k·MAD.
    *
    * Shape: two distributed rank-picks ([[graft.engine.Quantiles
    * .groupedPick]] — a range-partitioned sort over (group, value)
    * spread across ALL partitions, never a per-group window funnel)
    * plus one keyed agg. Driver-side contract inherited from
    * groupedPick: each pick collects O(P·|G|) per-partition count-map
    * entries plus the |G|-sized pick frame to the driver and
    * broadcasts the pick back onto the row stream — so group
    * CARDINALITY, not group size, is the bound; a groupCol with
    * millions of distinct values belongs in an approximate kernel
    * (percentile_approx per group), not here. Skew-immune in the
    * other direction: one group holding 90% of the rows costs nothing
    * extra. Determinism: the element pick depends only on the sorted
    * multiset (ties don't matter), and k·MAD is a single
    * multiplication of exact doubles. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
    // Exact lower-median ELEMENT pick per group — by the distributed
    // rank-pick (one range-partitioned sort spread over all partitions;
    // Quantiles.groupedPick), not a Window.partitionBy(g) rank: a
    // skewed group ("90% of events are clicks") would funnel its every
    // row through one sort task. The pick frames are |G|-sized, so
    // they broadcast back onto the row stream.
    def medianOf(in: DataFrame, c: String): DataFrame =
      graft.engine.Quantiles.groupedPick(
        in, "g", c, n => (n + 1) / 2, s"__med_$c")
    val med = medianOf(base, "v")
    val dev = base.join(broadcast(med), Seq("g"))
      .withColumn("d", abs(col("v") - col("__med_v")))
    val mad = medianOf(dev.select("g", "d"), "d")
    dev.join(broadcast(mad), Seq("g"))
      .groupBy("g").agg(
        count(lit(1)).as("n"),
        round(max(col("__med_v")), 6).as("median"),
        round(max(col("__med_d")), 6).as("mad"),
        sum(when(col("d") > lit(k) * col("__med_d"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_frac",
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6))
  }

  /** Reliability diagram + expected-calibration-error terms for any
    * classifier feeding a curation gate (langid router, quality
    * filter, safety classifier): confidence in [0, 1] cut into
    * `nBins` equal-width bins, per bin the count, mean confidence,
    * accuracy, and the bin's ECE contribution
    * wgap = n_b/N · |acc_b − conf_b| — so ECE (Naeini et al. 2015,
    * Guo et al. 2017) is the sum of the wgap column, and a
    * calibrated classifier shows acc ≈ avg_conf in every row. A gate
    * whose threshold assumes calibrated scores ("drop below 0.9")
    * silently mis-filters when this drifts — the audit is one scan.
    *
    * Shape: one groupBy over ≤ nBins groups (map-side combinable) +
    * a broadcast 1-row total; nothing data-proportional shuffles.
    * Cross-engine determinism: confidence sums via DECIMAL(38,12)
    * (no partition-order float accumulation); accuracy and wgap are
    * exact-integer and decimal-difference arithmetic divided once.
    * Rows with null/out-of-range confidence are dropped (a classifier
    * emitting them is broken upstream); conf = 1.0 joins the top bin.
    * Returns (bin, n, avg_conf, acc, wgap), bins with no rows absent. */
  def calibrationReport(df: DataFrame, probCol: String, correctCol: String,
                        nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val p = col(probCol).cast("double")
    val base = df
      .filter(p.isNotNull && p >= 0.0 && p <= 1.0 &&
        col(correctCol).isNotNull)
      .select(calibrationBin(p, nBins).as("bin"),
        p.as("__p"), col(correctCol).cast("int").as("__c"))
    val (n, sp, sc) = calibrationAggs(col("__p"), col("__c"))
    calibrationReadoff(base.groupBy("bin")
      .agg(n.as("n"), sp.as("__sp"), sc.as("__sc")))
  }

  /** The bin-index expression of [[calibrationReport]], exposed so
    * the streaming twin bins with the IDENTICAL formula (floor-scale
    * with the 1.0-joins-top-bin clamp). */
  def calibrationBin(p: Column, nBins: Int): Column =
    least(floor(p * nBins).cast("int"), lit(nBins - 1))

  /** The per-bin aggregate expressions of [[calibrationReport]] —
    * (count, DECIMAL(38,12) confidence sum, long correct sum) — ONE
    * definition so a change to the decimal cast or the sum types can
    * never diverge the streaming twin's state from the batch bins. */
  def calibrationAggs(p: Column, c: Column): (Column, Column, Column) =
    (count(lit(1)), sum(p.cast("decimal(38,12)")), sum(c).cast("long"))

  /** Shared finalize of the calibration family: per-bin sums →
    * (bin, n, avg_conf, acc, wgap). Input schema: (bin, n,
    * __sp = DECIMAL(38,12) confidence sum, __sc = long correct sum).
    * ONE definition so the batch report and the streaming twin (whose
    * state is exactly these mergeable per-bin sums) can never diverge
    * in the finalize arithmetic. */
  def calibrationReadoff(bins: DataFrame): DataFrame = {
    val total = bins.agg(sum(col("n")).as("__n_total"))
    bins.crossJoin(broadcast(total))
      .select(col("bin"), col("n"),
        round(col("__sp").cast("double") / col("n").cast("double"), 6)
          .as("avg_conf"),
        round(col("__sc").cast("double") / col("n").cast("double"), 6)
          .as("acc"),
        round(abs(col("__sc").cast("decimal(38,12)") - col("__sp"))
            .cast("double") / col("__n_total").cast("double"), 6)
          .as("wgap"))
  }

  /** Bootstrap percentile confidence interval for a binary eval
    * metric (accuracy) — the error bar every benchmark readout needs
    * before a 0.3-point delta means anything (Efron 1979; standard
    * eval-harness practice). `nBoot` replicas; replica b draws n rows
    * WITH replacement, the resample indices a pure function of
    * (seed, b, draw): the first 6 hex digits of
    * md5("seed:b:i") as an integer, mod n — the repo's deterministic
    * md5-PRNG discipline ([[graft.engine.Generators]]), so the whole
    * CI replays bit-for-bit in the oracle. Accuracy per replica, then
    * exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`) at alpha/2 and 1−alpha/2.
    *
    * Shape: rows index by the windowless [[graft.ops.Prefix]] global
    * row number over `orderCol` (the q73/q93/aucRoc discipline — a
    * bare `row_number() OVER (ORDER BY ...)` would funnel the whole
    * eval set through ONE task); `orderCol` MUST be a unique key
    * (enforced) — with duplicates the index-to-row mapping, and so the
    * resample itself, would be engine-dependent. The replica×draw grid
    * is a `spark.range`-style cross of two small sequences joined back
    * to the indexed rows on the md5 index; one groupBy(replica) mean +
    * one global percentile agg. Returns ONE row:
    * (n, n_boot, acc, ci_lo, ci_hi). */
  def bootstrapAccuracyCI(df: DataFrame, orderCol: String,
                          correctCol: String, nBoot: Int,
                          seed: String, alpha: Double): DataFrame = {
    require(nBoot >= 2, s"nBoot must be >= 2, got $nBoot")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val base = df.filter(col(orderCol).isNotNull && col(correctCol).isNotNull)
      .select(col(orderCol).as("__o"),
        col(correctCol).cast("int").as("__c"))
    // one agg for both: the row count and the unique-key contract
    val hdr = base.agg(count(lit(1)), countDistinct(col("__o"))).head()
    val n = hdr.getLong(0)
    require(n >= 1, "bootstrapAccuracyCI needs at least one row")
    require(hdr.getLong(1) == n,
      s"orderCol '$orderCol' must be a unique key (the resample " +
        "index-to-row mapping is undefined under duplicates)")
    val indexed = Prefix.rowNumber(base, Seq("__o"), "__idx")
    val spark = df.sparkSession
    val draws = spark.range(nBoot).select(col("id").cast("int").as("b"))
      .crossJoin(spark.range(n).select(col("id").as("i")))
      .withColumn("__idx",
        graft.expressions.Kernels.hexSliceLong(
          md5(concat(lit(seed + ":"), col("b"), lit(":"), col("i"))),
          1, 6) % n)
    val reps = draws.join(indexed, "__idx")
      .groupBy("b").agg(avg(col("__c")).as("racc"))
    val acc = base.agg(avg(col("__c"))).head().getDouble(0)
    reps.agg(
        round(expr(s"percentile(racc, ${alpha / 2})"), 6).as("ci_lo"),
        round(expr(s"percentile(racc, ${1 - alpha / 2})"), 6).as("ci_hi"))
      .select(lit(n).as("n"), lit(nBoot).as("n_boot"),
        round(lit(acc), 6).as("acc"), col("ci_lo"), col("ci_hi"))
  }

  /** Cohen's kappa — chance-corrected agreement between two label
    * columns (two annotators, or model-vs-human on a labeling run):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement rate
    * and p_e = Σ_k p_a(k)·p_b(k) the agreement expected from each
    * side's marginals (Cohen 1960) — the acceptance gate for
    * crowdsourced/model-assisted training labels.
    *
    * Shape: ONE groupBy over the (a, b) confusion cells — the shuffle
    * is label-vocab²-bounded regardless of row count (map-side
    * combine does the data-sized work); marginals and the expected-
    * agreement sum are tiny aggs over that frame (full-outer on the
    * label so a value one side never uses contributes a 0 marginal).
    * Counts stay exact integers; marginal products ride DECIMAL(38,0)
    * (n_a·n_b ≤ n² overflows a long past ~3·10⁹ rows); p_o, p_e and
    * κ are each ONE double division/expression over exact sums —
    * bit-identical cross-engine. κ derives from the UNROUNDED p_o/p_e
    * (rounding first would null out kappa for a true p_e in
    * (0.9999995, 1) and amplify the error by ~1/(1−p_e) near the
    * pole); only the published columns round to 6. Null labels on
    * either side are dropped (an unlabeled row is not a
    * disagreement). Returns ONE row (n, n_agree, po, pe, kappa);
    * kappa is null when p_e = 1 exactly (both raters constant —
    * agreement is undefined, not perfect). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
    val cells = base.groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
      .localCheckpoint() // totals, agree, and both marginals read it
    val d = (c: Column) => c.cast("decimal(38,0)")
    val tot = cells.agg(
      coalesce(sum("__c"), lit(0L)).cast("long").as("__n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__c"))), lit(0L))
        .cast("long").as("__agree"))
    val ma = cells.groupBy(col("__a").as("__k")).agg(sum("__c").as("__na"))
    val mb = cells.groupBy(col("__b").as("__k")).agg(sum("__c").as("__nb"))
    val peSum = ma.join(mb, Seq("__k"), "full_outer")
      .agg(coalesce(sum(d(coalesce(col("__na"), lit(0L))) *
        d(coalesce(col("__nb"), lit(0L)))), d(lit(0)))
        .cast("decimal(38,0)").as("__pe_num"))
    tot.crossJoin(peSum)
      .withColumn("__po",
        col("__agree").cast("double") / col("__n").cast("double"))
      .withColumn("__pe", col("__pe_num").cast("double") /
        (d(col("__n")) * d(col("__n"))).cast("double"))
      .select(col("__n").as("n"), col("__agree").as("n_agree"),
        round(col("__po"), 6).as("po"), round(col("__pe"), 6).as("pe"),
        round(when(col("__pe") < 1.0,
          (col("__po") - col("__pe")) / (lit(1.0) - col("__pe"))), 6)
          .as("kappa"))
  }

  /** Exact ROC-AUC by the rank-sum (Mann–Whitney U) identity with
    * SQL-standard average-rank tie handling:
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ is the sum of the
    * ascending-score ranks of the positives and a tied run shares the
    * mean of its rank range — equivalently, the probability a random
    * positive outscores a random negative counting ties as ½, i.e.
    * the area under the ROC curve with trapezoidal tie segments.
    *
    * Shape: NO global sort of fact rows (`rank() OVER (ORDER BY s)`
    * would be one task at corpus scale). Like [[percentRank]], the
    * rank table is distinct-score-bounded: one narrow
    * groupBy(score) → (cnt, pos), the shared [[graft.ops.Prefix]]
    * sort turns counts into cumulative row positions, and the whole
    * statistic collapses in ONE tiny agg over that frame:
    * 2·R⁺ = Σ_v pos(v)·(2·cum(v) − cnt(v) + 1) (a tied run's rank
    * range [cum−cnt+1, cum] has mean (2cum−cnt+1)/2). All sums ride
    * DECIMAL(38,0) exact-integer accumulation (n⁺·cum products
    * overflow a long near 10¹⁹ pair-rows), and the single final
    * division is the only float op — bit-identical cross-engine.
    * Null scores/labels are dropped; labels coerce via cast to int
    * (nonzero = positive must be pre-mapped by the caller). Returns
    * ONE row (n_pos, n_neg, auc, gini); auc is null when either
    * class is empty (undefined, not 0). */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val base = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("int").as("__y"))
    val counts = base.groupBy("__s")
      .agg(count(lit(1)).as("__cnt"),
        sum(col("__y").cast("long")).as("__pos"))
    val cum = Prefix.runningTotals(counts, None, Seq("__s"),
      Seq("__cum" -> col("__cnt"))).rows
    val d = (c: Column) => c.cast("decimal(38,0)")
    cum.agg(
        coalesce(sum(col("__pos")), lit(0L)).cast("long").as("__np"),
        coalesce(sum(col("__cnt")), lit(0L)).cast("long").as("__n"),
        coalesce(sum(d(col("__pos")) *
          (d(col("__cum")) * 2 - d(col("__cnt")) + 1)), d(lit(0)))
          .cast("decimal(38,0)").as("__twoR"))
      .select(col("__np").as("n_pos"),
        (col("__n") - col("__np")).as("n_neg"),
        round(when(col("__np") > 0L && col("__n") > col("__np"),
          (col("__twoR") - d(col("__np")) * (d(col("__np")) + 1))
            .cast("double") /
            (d(col("__np")) * 2 * (d(col("__n")) - d(col("__np"))))
              .cast("double")), 6).as("auc"))
      .withColumn("gini", round(col("auc") * 2 - 1, 6))
  }

  /** Krippendorff's alpha (nominal) — the multi-rater, missing-data
    * generalization of [[cohenKappa]]: THE labeling-QA statistic when
    * more than two annotators rate training data and not every
    * annotator rates every unit (Krippendorff 2004). Rater identity is
    * irrelevant by design; input is (unit, value) rating rows, units
    * with fewer than two ratings are excluded (the standard treatment
    * of missing data), and α = 1 − D_o/D_e over the coincidence
    * matrix.
    *
    * Exact-integer shape: the coincidence marginal for value c is just
    * its total count n_c over qualifying units, so
    * D_e·n(n−1) = n² − Σ_c n_c² is pure integers; the only fractional
    * piece, D_o·n = Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1), clears its
    * denominators through lcm(1..12) = 27720 after grouping units by
    * m_u (every per-m sum is an exact integer and 27720 is divisible
    * by every m−1 ≤ 12 — real annotation runs use 2–5 raters). Above
    * 13 raters per unit no practical lcm fits, so the per-m terms
    * switch to 10^18-scaled integer floor division
    * (⌊A_m·10^18/(m−1)⌋, still DECIMAL(38,0)-exact and
    * order-independent): per-term error < 1e-18, total < m·1e-18 —
    * twelve orders below the published 6-decimal rounding, and
    * deterministic (unlike a double accumulation, whose partial-sum
    * order varies across partitions). Everything to the final α is
    * DECIMAL(38,0)-exact; α itself is computed from the two unrounded
    * double ratios ([[cohenKappa]]'s r12 lesson) and only the
    * published columns round — bit-identical cross-engine on the
    * ≤13-rater lcm route (the oracle-replayed one).
    *
    * Shuffle shape: ONE data-sized groupBy (unit, value) with map-side
    * combine; everything after is unit-bounded then vocab-bounded.
    * Returns ONE row (n_units, n, do, de, alpha); alpha is null when
    * D_e = 0 (every rating the same single value — agreement
    * undefined, not perfect). */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        valueCol: String): DataFrame = {
    val base = df
      .filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .select(col(unitCol).cast("string").as("__u"),
        col(valueCol).cast("string").as("__v"))
    val cells = base.groupBy("__u", "__v").agg(count(lit(1)).as("__c"))
      .localCheckpoint() // read by the unit stats and the marginals
    val units = cells.groupBy("__u")
      .agg(sum("__c").as("__m"),
        sum(col("__c") * col("__c")).as("__ss"))
      .filter(col("__m") >= 2)
      .localCheckpoint() // read by the m-grouped sums and the bound check
    val maxM = units.agg(coalesce(max("__m"), lit(0L))).head().getLong(0)
    val d = (c: Column) => c.cast("decimal(38,0)")
    // D_o numerator: Σ_m w_m(A_m) with A_m = Σ_{u: m_u = m}
    // (m² − Σ_c n_uc²), published as __do = doNum / (n·DEN).
    // DEN = 27720 (the exact-lcm route, bit-replayed by the oracle)
    // while every m−1 ≤ 12; above 13 raters DEN = 10^6 and each term
    // is the DECIMAL(38,6) division (A_m·10^6)/(m−1) — deterministic
    // half-even-free decimal arithmetic (no double partial-sum order),
    // per-term error ≤ 0.5e-6 in DEN units so |Δ__do| ≤ m·5e-13/n —
    // seven orders below the published 6-decimal rounding.
    val byM = units.groupBy("__m")
      .agg(sum(col("__m") * col("__m") - col("__ss")).as("__A"))
    val denom: Double = if (maxM <= 13) 27720.0 else 1e6
    val termW: Column =
      if (maxM <= 13) d(expr("27720 DIV (__m - 1)")) * d(col("__A"))
      else (d(col("__A")) * d(lit(1000000L))) / (col("__m") - lit(1))
    val doNum = byM.agg(coalesce(sum(termW).cast("decimal(38,6)"),
        lit(0).cast("decimal(38,6)")).as("__do_num"))
    val marg = cells.join(units.select("__u"), Seq("__u"), "left_semi")
      .groupBy("__v").agg(sum("__c").as("__nc"))
    val tot = marg.agg(
      coalesce(sum("__nc"), lit(0L)).cast("long").as("__n"),
      coalesce(sum(d(col("__nc")) * d(col("__nc"))), d(lit(0)))
        .cast("decimal(38,0)").as("__ncsq"))
    val nUnits = units.count()
    // n = 0 (zero qualifying units — every unit single-rated) would
    // publish NaN through 0/0; the documented degenerate treatment is
    // null for do/de/alpha, so gate every ratio on n > 0 (qualifying
    // units have m ≥ 2, so n > 0 implies n ≥ 2 and de's n−1 is safe).
    tot.crossJoin(doNum)
      .withColumn("__do", when(col("__n") > 0L,
        col("__do_num").cast("double") /
          (d(col("__n")).cast("double") * denom)))
      .withColumn("__de", when(col("__n") > 0L,
        (d(col("__n")) * d(col("__n")) - col("__ncsq")).cast("double") /
          (d(col("__n")) * (d(col("__n")) - 1)).cast("double")))
      .select(lit(nUnits).as("n_units"), col("__n").as("n"),
        round(col("__do"), 6).as("do"), round(col("__de"), 6).as("de"),
        round(when(col("__de") > 0.0,
          lit(1.0) - col("__do") / col("__de")), 6).as("alpha"))
  }

  /** Krippendorff's alpha with a GRADED difference metric — the
    * Likert-scale (ordered-rating) form of [[krippendorffAlpha]], where
    * disagreeing by one scale point should cost less than disagreeing
    * by four (Krippendorff 2004 §11.3). `metric` selects the squared
    * difference function over the (integer-coded) values:
    *
    *  - `"interval"`: δ²(c,k) = (c − k)². Closed form — no pair table
    *    at all: Σ_{c≠k} n_uc·n_uk·(c−k)² = 2(m_u·Σv² − (Σv)²), so the
    *    per-unit D_o contribution needs only the unit's (m, Σv, Σv²)
    *    moments, and D_e needs only the global (n, ΣV, ΣV²). Works at
    *    ANY value cardinality.
    *  - `"ordinal"`: δ²(c,k) = (Σ_{g=c..k} n_g − (n_c + n_k)/2)² over
    *    the coincidence marginals n_g — rank distances weighted by how
    *    often intermediate points were used. The half stays exact by
    *    carrying Q_ck = (2·Σ n_g − n_c − n_k)² = 4δ² everywhere (the
    *    4 cancels in D_o/D_e). Needs the V×V value-pair table (V =
    *    scale cardinality — 5, 7, maybe 11; bounded by the nature of
    *    an ordinal scale, asserted ≤ 1000) and a per-unit value-pair
    *    frame (≤ units·V² rows) joined against it broadcast.
    *
    * Same exact-integer shape as the nominal route: values are
    * integer-coded (cast to long; rater UIs emit 1..V), every D_o/D_e
    * numerator is a DECIMAL(38,0) integer, the only fractional piece
    * Σ_u A_u/(m_u−1) clears denominators through lcm(1..12) = 27720
    * after grouping by m_u (above 13 raters: the same 10^6-scaled
    * DECIMAL division fallback, deterministic and order-independent).
    * α is computed from two unrounded double ratios; only the
    * published columns round. ONE data-sized groupBy (unit, value);
    * everything after is unit- then vocab-bounded.
    * Returns ONE row (n_units, n, do, de, alpha); alpha null when
    * D_e = 0 (zero value variance — agreement undefined). */
  def krippendorffAlphaMetric(df: DataFrame, unitCol: String,
                              valueCol: String,
                              metric: String): DataFrame = {
    require(metric == "interval" || metric == "ordinal",
      s"metric must be interval|ordinal, got $metric")
    val base = df
      .filter(col(unitCol).isNotNull && col(valueCol).isNotNull)
      .select(col(unitCol).cast("string").as("__u"),
        col(valueCol).cast("long").as("__v"))
    val cells = base.groupBy("__u", "__v").agg(count(lit(1)).as("__c"))
      .localCheckpoint() // read by unit stats, marginals, and (ordinal) pairs
    val units = cells.groupBy("__u")
      .agg(sum("__c").as("__m"),
        sum(col("__c") * col("__v")).as("__sv"),
        sum(col("__c") * col("__v") * col("__v")).as("__svv"))
      .filter(col("__m") >= 2)
      .localCheckpoint() // read by the m-grouped sums, marginals, count
    val maxM = units.agg(coalesce(max("__m"), lit(0L))).head().getLong(0)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val nUnits = units.count()
    val qCells = cells.join(units.select("__u"), Seq("__u"), "left_semi")
    if (metric == "interval") {
      // A_u = 2(m·Σv² − (Σv)²); D_e numerator 2(n·ΣV²grand − ΣVgrand²)
      val perUnitA = units.select(col("__u"), col("__m"),
        (d(lit(2)) * (d(col("__m")) * d(col("__svv")) -
          d(col("__sv")) * d(col("__sv")))).as("__A"))
      val byM = perUnitA.groupBy("__m")
        .agg(sum(col("__A")).as("__A"))
      val denom: Double = if (maxM <= 13) 27720.0 else 1e6
      val termW: Column =
        if (maxM <= 13) d(expr("27720 DIV (__m - 1)")) * d(col("__A"))
        else (d(col("__A")) * d(lit(1000000L))) / (col("__m") - lit(1))
      val doNum = byM.agg(coalesce(sum(termW).cast("decimal(38,6)"),
        lit(0).cast("decimal(38,6)")).as("__do_num"))
      val tot = units.agg(
        coalesce(sum("__m"), lit(0L)).cast("long").as("__n"),
        coalesce(sum(d(col("__sv"))), d(lit(0)))
          .cast("decimal(38,0)").as("__SV"),
        coalesce(sum(d(col("__svv"))), d(lit(0)))
          .cast("decimal(38,0)").as("__SVV"))
      tot.crossJoin(doNum)
        .withColumn("__do", when(col("__n") > 0L,
          col("__do_num").cast("double") /
            (d(col("__n")).cast("double") * denom)))
        .withColumn("__de", when(col("__n") > 0L,
          (d(lit(2)) * (d(col("__n")) * col("__SVV") -
            col("__SV") * col("__SV"))).cast("double") /
            (d(col("__n")) * (d(col("__n")) - 1)).cast("double")))
        .select(lit(nUnits).as("n_units"), col("__n").as("n"),
          round(col("__do"), 6).as("do"), round(col("__de"), 6).as("de"),
          round(when(col("__de") > 0.0,
            lit(1.0) - col("__do") / col("__de")), 6).as("alpha"))
    } else {
      // ordinal: coincidence marginals + cumulative rank mass
      val marg = qCells.groupBy("__v").agg(sum("__c").as("__nc"))
      val vCount = marg.count()
      require(vCount <= 1000,
        s"ordinal metric expects a scale-bounded value set, got $vCount " +
          "distinct values — use metric=interval for continuous scores")
      // cumulative rank mass via a triangular self-join (≤ V² rows —
      // no partition-less window, keeping the module's contract)
      val cum = marg.as("a").join(marg.as("b"), col("b.__v") <= col("a.__v"))
        .groupBy(col("a.__v").as("__v"))
        .agg(max(col("a.__nc")).as("__nc"), // f.d. on __v; max = the value
          sum(col("b.__nc")).as("__cum"))
      // Q_ck = (2(cum_k − cum_c) + n_c − n_k)² for c < k  (= 4·δ²_ck)
      val qs = cum.as("a").join(cum.as("b"),
          col("a.__v") < col("b.__v"))
        .select(col("a.__v").as("__vc"), col("b.__v").as("__vk"),
          col("a.__nc").as("__ncc"), col("b.__nc").as("__nck"),
          (d(lit(2)) * (d(col("b.__cum")) - d(col("a.__cum"))) +
            d(col("a.__nc")) - d(col("b.__nc"))).as("__q2r"))
        .select(col("__vc"), col("__vk"), col("__ncc"), col("__nck"),
          (col("__q2r") * col("__q2r")).cast("decimal(38,0)").as("__Q"))
        .localCheckpoint() // tiny (≤ V²/2 rows); read by D_o and D_e
      // D_e numerator E = Σ_{c<k} n_c·n_k·Q_ck (ordered pairs halved —
      // the same half as Q = 4δ² folds into the published 2n(n−1) scale)
      val eNum = qs.agg(coalesce(sum(d(col("__ncc")) * d(col("__nck")) *
          col("__Q")), d(lit(0))).cast("decimal(38,0)").as("__E"))
      // per-unit value pairs joined against broadcast Q
      val pairs = qCells.as("x").join(qCells.as("y"),
          col("x.__u") === col("y.__u") && col("x.__v") < col("y.__v"))
        .select(col("x.__u").as("__u"), col("x.__v").as("__vc"),
          col("y.__v").as("__vk"),
          (d(col("x.__c")) * d(col("y.__c"))).as("__cc"))
        .join(broadcast(qs.select("__vc", "__vk", "__Q")),
          Seq("__vc", "__vk"))
      val perUnitB = pairs.groupBy("__u")
        .agg(coalesce(sum(col("__cc") * col("__Q")), d(lit(0)))
          .cast("decimal(38,0)").as("__B"))
      // units with zero within-unit disagreement pairs still contribute
      // m to n but 0 to B — right-join keeps them (B null → 0)
      val byM = units.join(perUnitB, Seq("__u"), "left")
        .groupBy("__m")
        .agg(coalesce(sum(col("__B")), d(lit(0))).as("__A"))
      val denom: Double = if (maxM <= 13) 27720.0 else 1e6
      val termW: Column =
        if (maxM <= 13) d(expr("27720 DIV (__m - 1)")) * d(col("__A"))
        else (d(col("__A")) * d(lit(1000000L))) / (col("__m") - lit(1))
      val doNum = byM.agg(coalesce(sum(termW).cast("decimal(38,6)"),
        lit(0).cast("decimal(38,6)")).as("__do_num"))
      val tot = units.agg(
        coalesce(sum("__m"), lit(0L)).cast("long").as("__n"))
      // D_o = Σ_u B_u/(m_u−1) / (2n)   [B = Σ n_uc·n_uk·Q, c<k; Q=4δ²
      //   and ordered-pair doubling cancel to the single 1/2]
      // D_e = E / (2n(n−1))
      tot.crossJoin(doNum).crossJoin(eNum)
        .withColumn("__do", when(col("__n") > 0L,
          col("__do_num").cast("double") /
            (d(col("__n")).cast("double") * denom * 2.0)))
        .withColumn("__de", when(col("__n") > 0L,
          col("__E").cast("double") /
            (d(col("__n")) * (d(col("__n")) - 1)).cast("double") / 2.0))
        .select(lit(nUnits).as("n_units"), col("__n").as("n"),
          round(col("__do"), 6).as("do"), round(col("__de"), 6).as("de"),
          round(when(col("__de") > 0.0,
            lit(1.0) - col("__do") / col("__de")), 6).as("alpha"))
    }
  }

  /** Bradley–Terry preference-strength aggregation — the pairwise-
    * comparison → per-item strength fit of reward-model / RLHF data QA
    * (Bradley & Terry 1952; the model beneath most "chatbot arena"
    * rankings): P(i beats j) = π_i/(π_i+π_j), fit by Hunter 2004's MM
    * iteration π_i ← W_i / Σ_j n_ij/(π_i+π_j) with W_i = i's total
    * wins and n_ij = matches between i and j. Complements
    * [[cohenKappa]]/[[krippendorffAlpha]] (agreement says raters are
    * consistent; BT says WHICH item they prefer and by how much).
    *
    * Exactness discipline (beyond q83's fixed-point contributions):
    * the loop is INTEGER-ONLY. π rides as P = ⌊π·10⁶⌋; each MM round
    * is three exact integer steps — T_ij = (n_ij·10¹⁵) div (P_i+P_j),
    * S_i = Σ_j T_ij (exact, order-free), P_i′ = (W_i·10¹⁵) div S_i —
    * then a mean-1 renormalize P″ = (P′·N·10⁶) div ΣP′ and the
    * strength floor P ≥ 10³ (ε = 10⁻³: regularizes zero-win items and
    * bounds every divisor away from 0). No double appears inside the
    * loop, so there is NO float-summation-order or float→decimal
    * conversion surface anywhere (doubles above 2⁵³ convert to
    * DECIMAL by shortest-repr on the JVM but by exact binary value in
    * DuckDB — measured, this is why fixed-pointing the double like
    * pageRank does would NOT replay here); multiplications ride
    * DECIMAL(38,0) and the div results land in LONG (T_ij bound:
    * n_ij ≤ 1.8·10⁷ even with BOTH strengths at the ε floor, ~10³×
    * any real per-pair annotation volume). The published strength is
    * the single double op P_i/ΣP, rounded 6dp.
    *
    * Shape: one groupBy builds the unordered pair table (map-side
    * combinable, pair-type-bounded); each round is one keyed join of
    * the symmetric edge view against the N-row strength frame + one
    * groupBy(id) — [[graft.ops.Graph.pageRank]]'s iteration shape,
    * lineage cut on the same cadence. Ties/self-matches are dropped;
    * a winner always exists per row, so every playing pair has a
    * positive-strength member and divisors stay positive even before
    * the ε floor. Returns (item, wins, n_matches, strength).
    *
    * Routing ([[graft.ops.Corpus.lineDedup]]'s size-gate discipline):
    * the sufficient statistic is the DIRECTED pair table (w, l, n) —
    * bounded by distinct items squared, never by match volume (the
    * one groupBy that builds it absorbs any row count map-side; win
    * totals and unordered pair counts both derive from it). When it
    * holds ≤ `maxDriverPairs` rows the 20 rounds run as a
    * driver-local BigInt loop over the collected table: the integer
    * recurrence is replicated op-for-op (div = truncating division on
    * positives; S=0 and T=0 degenerate steps mirror SQL's
    * null→coalesce/greatest-skips-null), and the ONLY double — the
    * final P/ΣP round — is evaluated by the same Spark expression
    * over the computed Long carriers, so both routes are bit-identical
    * (route-parity spec). Above the gate the loop runs distributed
    * with a lineage cut EVERY round: each round references the
    * strength frame four times (two joins + the renormalize total),
    * so k uncut rounds put 4^k copies of it in the plan — at the old
    * cut-every-4 cadence the nested broadcast subplans re-executed
    * exponentially often (measured 258 s on a 7-item fixture; cut
    * every round it is linear, ~20 tiny jobs). */
  def bradleyTerry(matches: DataFrame, winnerCol: String,
                   loserCol: String, iterations: Int = 20,
                   checkpointEvery: Int = 1,
                   maxDriverPairs: Long = 1L << 20): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val spark = matches.sparkSession
    val m = matches
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull)
      .select(col(winnerCol).cast("string").as("w"),
        col(loserCol).cast("string").as("l"))
      .filter(col("w") =!= col("l"))
    // ONE scan of the matches: the directed pair table (w, l, n) is
    // the sufficient statistic — unordered pair counts AND per-item
    // win totals both derive from it without touching the raw rows
    // again (it is pair-type-bounded, so the derivations are cheap)
    val directed = m.groupBy(col("w"), col("l")).agg(count(lit(1)).as("n"))
      .transform(Checkpoints.cut)
    val nDirected = directed.count() // route gate; also the materialize
    if (nDirected <= maxDriverPairs) {
      // ---- driver route: exact BigInt MM over the collected pairs ----
      val de = directed.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
      val wi = de.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._3).sum }
      val pe = de.map { case (w, l, n) =>
          (if (w <= l) (w, l) else (l, w)) -> n }
        .groupBy(_._1).toSeq
        .map { case ((i, j), vs) => (i, j, vs.map(_._2).sum) }
      val ids = pe.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val nItems = ids.length.toLong
      val ni = scala.collection.mutable.Map.empty[String, Long]
      pe.foreach { case (i, j, n) =>
        ni(i) = ni.getOrElse(i, 0L) + n; ni(j) = ni.getOrElse(j, 0L) + n
      }
      val E15 = BigInt(10).pow(15)
      var p = ids.map(_ -> BigInt(1000000L)).toMap
      for (_ <- 1 to iterations) {
        val s = scala.collection.mutable.Map.empty[String, BigInt]
        pe.foreach { case (i, j, nij) =>
          val t = (BigInt(nij) * E15) / (p(i) + p(j))
          s(i) = s.getOrElse(i, BigInt(0)) + t
          s(j) = s.getOrElse(j, BigInt(0)) + t
        }
        val p1 = ids.map { id =>
          val si = s.getOrElse(id, BigInt(0))
          // SQL: x DIV 0 → null → coalesce 0
          id -> (if (si == 0) BigInt(0)
                 else BigInt(wi.getOrElse(id, 0L)) * E15 / si)
        }.toMap
        val t = p1.values.sum
        p = ids.map { id =>
          // SQL: DIV null when t=0; greatest skips nulls → the floor
          id -> (if (t == 0) BigInt(1000L)
                 else (p1(id) * (nItems * 1000000L) / t).max(BigInt(1000L)))
        }.toMap
      }
      val pt = p.values.sum
      // Long carriers are exact here: P ≤ N·10⁶ and ΣP ≤ N²·10⁶, and
      // the gate bounds N ≤ 2·maxDriverPairs — both under 2⁶³ by margins
      val rows = ids.toSeq.map(id =>
        (id, wi.getOrElse(id, 0L), ni(id), p(id).toLong, pt.toLong))
      import spark.implicits._
      rows.toDF("item", "wins", "n_matches", "p", "pt")
        .select(col("item"), col("wins"), col("n_matches"),
          round(col("p").cast("double") / col("pt").cast("double"), 6)
            .as("strength"))
    } else {
      // ---- distributed route: the same recurrence, cut every round ----
      val pairs = directed.groupBy(least(col("w"), col("l")).as("i"),
          greatest(col("w"), col("l")).as("j"))
        .agg(sum(col("n")).as("nij"))
      val wins = directed.groupBy(col("w").as("id")).agg(sum(col("n")).as("wi"))
      // symmetric edge view (id, opp, nij) — reused every round
      val edges = pairs
        .select(col("i").as("id"), col("j").as("opp"), col("nij"))
        .unionByName(pairs
          .select(col("j").as("id"), col("i").as("opp"), col("nij")))
        .transform(Checkpoints.cut)
      val items = edges.groupBy("id").agg(sum(col("nij")).as("ni"))
        .join(wins, Seq("id"), "left")
        .select(col("id"), coalesce(col("wi"), lit(0L)).as("wi"), col("ni"))
        .transform(Checkpoints.cut)
      val nItems = items.count()
      var pi = items.select(col("id"), lit(1000000L).as("p"))
      for (it <- 1 to iterations) {
        val s = edges
          .join(pi.select(col("id").as("opp"), col("p").as("pj")), Seq("opp"))
          .join(pi, Seq("id"))
          .groupBy("id")
          .agg(sum(expr("CAST(nij AS DECIMAL(38,0)) * 1000000000000000 " +
            "DIV (p + pj)").cast("decimal(38,0)")).as("s"))
        val upd = items.join(s, Seq("id"), "left")
          .select(col("id"),
            coalesce(expr("CAST(wi AS DECIMAL(38,0)) * 1000000000000000 " +
              "DIV s"), lit(0L)).as("p1"))
        val tot = upd.agg(sum(col("p1")).as("t"))
        val next = upd.crossJoin(broadcast(tot))
          .select(col("id"),
            greatest(expr(s"CAST(p1 AS DECIMAL(38,0)) * ${nItems * 1000000L} " +
              "DIV t"), lit(1000L)).as("p"))
        pi =
          if (it % checkpointEvery == 0 || it == iterations)
            next.transform(Checkpoints.cut)
          else next
      }
      val fin = pi.agg(sum(col("p")).as("pt"))
      items.join(pi, Seq("id"))
        .crossJoin(broadcast(fin))
        .select(col("id").as("item"), col("wi").as("wins"),
          col("ni").as("n_matches"),
          round(col("p").cast("double") / col("pt").cast("double"), 6)
            .as("strength"))
    }
  }
}
