package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Profile parity against pandas/NumPy ground truth recorded in
  * FIXTURES.md / BASELINE.md (full 500 post-dropna rows). */
class ProfilerSpec extends SparkSpec {

  lazy val fixture: DataFrame = spark.read
    .option("header", "true").option("inferSchema", "true")
    .csv("/root/reference/customer_data_test.csv")
    .na.drop("any")

  lazy val profiles: Map[String, ColumnProfile] = {
    val detected = Detector.detect(fixture)
    Profiler.profileScalars(fixture, detected)
  }

  test("total_spent numeric profile matches pandas ground truth") {
    val p = profiles("total_spent").numeric.get
    assert(math.abs(p.mean - 2542.98) < 0.01)
    assert(math.abs(p.std - 1489.071) < 0.01)     // population std (ddof=0)
    assert(math.abs(p.median - 2569.495) < 0.01)  // exact linear interp
    assert(math.abs(p.q1 - 1181.767) < 0.01)
    assert(math.abs(p.q3 - 3878.62) < 0.01)
    assert(math.abs(p.min - 22.15) < 0.001)
    assert(math.abs(p.max - 4995.35) < 0.001)
    assert(p.count === 500L)
  }

  test("purchase_count and satisfaction_score population std") {
    val pc = profiles("purchase_count").numeric.get
    assert(math.abs(pc.mean - 26.09) < 0.01)
    assert(math.abs(pc.std - 14.491) < 0.01)
    val ss = profiles("satisfaction_score").numeric.get
    assert(math.abs(ss.mean - 5.552) < 0.01)
    assert(math.abs(ss.std - 2.908) < 0.01)
  }

  test("boolean profile counts true/false and detects native format") {
    val b = profiles("is_vip").boolean.get
    assert(b.trueCount + b.falseCount === 500L)
    assert(math.abs(b.trueProb - b.trueCount.toDouble / 500) < 1e-9)
    assert(b.format === BoolFormat.Native)
  }

  test("categorical profile: normalized value_counts over segment") {
    val c = Profiler.profileCategoricals(fixture, Seq("segment"))("segment")
    assert(c.categories.toSet === Set("A", "B", "C"))
    assert(math.abs(c.probabilities.sum - 1.0) < 1e-9)
    assert(c.counts.sum === 500L)
    assert(c.mostCommon === c.categories.head)
    // descending count order
    assert(c.counts === c.counts.sorted.reverse)
  }

  test("TIMESTAMP_NTZ datetime profile equals the TIMESTAMP profile of the same instants") {
    val df = DetectorSpec.timestampTwins(spark)
    val p = Profiler.profileScalars(df, Detector.detect(df, DetectorConfig(strictFormats = true)))
    for ((ntz, ts) <- Seq("ntz_frac" -> "ts_frac", "ntz_whole" -> "ts_whole")) {
      assert(p(ntz).datetime.isDefined, ntz)
      assert(p(ntz).datetime === p(ts).datetime, s"$ntz vs $ts")
    }
    val d = p("ntz_frac").datetime.get
    assert(d.minDate === "2024-01-01 00:00:00")
    assert(d.maxDate === "2024-01-09 07:00:00")
    assert(d.format === "YYYY-MM-DD")
    assert(d.epoch.min === 1704067200.0)
    assert(d.epoch.count === 200L)
  }

  test("profileCategoricals: one pass equals the per-column value counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{asc, count, desc}
    import org.apache.spark.sql.types.StringType
    val grin = "\uD83D\uDE00" // U+1F600, outside the BMP
    val fullA = "\uFF21"       // U+FF21: before U+1F600 in UTF-8, after it in UTF-16
    val a = Seq.fill(3)("a") ++ Seq.fill(3)(" a") ++ Seq.fill(2)("b") ++
      Seq.fill(2)(grin) ++ Seq.fill(2)(fullA) ++ Seq(null, null)
    val b = Seq.fill(4)("x") ++ Seq.fill(4)("y") ++ Seq.fill(4)(null) ++ Seq("x ", "z")
    val n = Seq.fill(5)(1) ++ Seq.fill(5)(10) ++ Seq.fill(4)(2)
    val df = a.indices.map(i => (a(i), b(i), n(i))).toDF("a", "b", "n").repartition(3)
    // the per-column groupBy/orderBy each column used to run
    def perColumn(c: String): CategoricalStats = {
      val rows = df.filter(col(c).isNotNull)
        .groupBy(col(c).cast(StringType).as("value"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("value"))
        .collect()
      val total = rows.map(_.getLong(1)).sum
      val cats = rows.map(_.getString(0)).toSeq
      val counts = rows.map(_.getLong(1)).toSeq
      val probs = counts.map(_.toDouble / total)
      CategoricalStats(cats, probs, counts, cats.headOption.orNull,
        probs.headOption.getOrElse(0.0), total)
    }
    val cols = Seq("a", "b", "n")
    val got = Profiler.profileCategoricals(df, cols)
    assert(got === cols.map(c => c -> perColumn(c)).toMap)
    assert(got("a").categories === Seq(" a", "a", "b", fullA, grin))
    assert(got("a").counts === Seq(3L, 3L, 2L, 2L, 2L))
    assert(got("a").mostCommon === " a" && got("a").count === 12L)
    assert(got("b").categories === Seq("x", "y", "x ", "z"))
    assert(got("n").categories === Seq("1", "10", "2"))
    val (none, jobs) = withJobCount(Profiler.profileCategoricals(df, Nil))
    assert(none.isEmpty && jobs === 0)
  }

  test("correlationMatrix matches df.stat.corr pairwise, one row per unordered pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = Seq.fill(2000)((rnd.nextGaussian(), rnd.nextGaussian(), rnd.nextGaussian()))
      .map { case (a, b, c) => (a, 0.7 * a + 0.3 * b, c) }
      .toDF("x", "y", "z").repartition(8)
    val got = Profiler.correlationMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === Set(("x", "y"), ("x", "z"), ("y", "z")))
    for (((a, b), v) <- got)
      assert(math.abs(v - df.stat.corr(a, b)) < 1e-6, s"corr($a,$b)")
    assert(got(("x", "y")) > 0.8) // strongly correlated by construction
    intercept[IllegalArgumentException] {
      Profiler.correlationMatrix(df, Seq("x"))
    }
  }

  test("winsorizedProfile clamps tails: hand-checked on a stream with planted outliers") {
    import spark.implicits._
    // 98 benign values + 2 huge outliers; p05/p95 cuts tame them
    val base = (1 to 98).map(_.toDouble)
    val df = (base ++ Seq(1e9, -1e9)).toDF("v").repartition(4)
    val r = row1(Profiler.winsorizedProfile(df, "v", 0.05, 0.95))
    assert(r("n") === 100L)
    val lo = r("lo_cut").asInstanceOf[Double]
    val hi = r("hi_cut").asInstanceOf[Double]
    assert(lo > 0 && hi < 100) // cuts inside the benign range
    val clipped = (base ++ Seq(1e9, -1e9)).map(v => math.max(lo, math.min(hi, v)))
    val mean = clipped.sum / clipped.size
    val std = math.sqrt(clipped.map(v => (v - mean) * (v - mean)).sum / clipped.size)
    assert(math.abs(r("mean").asInstanceOf[Double] - mean) < 1e-4)
    assert(math.abs(r("std").asInstanceOf[Double] - std) < 1e-4)
  }

  test("columnSummary: completeness, cardinality and entropy vs hand computation") {
    import spark.implicits._
    val df = Seq(("a", Some("x")), ("a", Some("y")), ("b", None),
      ("a", Some("x")), ("c", Some("z"))).toDF("k", "m").repartition(4)
    val got = Profiler.columnSummary(df, Seq("k", "m"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // k: a,a,b,a,c → H = ln 5 − (3·ln 3)/5
    val hk = math.log(5) - 3 * math.log(3) / 5
    assert(got("k")._1 === 5L && got("k")._2 === 0L && got("k")._3 === 3L)
    assert(math.abs(got("k")._4 - hk) < 1e-6)
    // m: x,y,x,z + one null → H = ln 4 − (2·ln 2)/4
    val hm = math.log(4) - 2 * math.log(2) / 4
    assert(got("m") === ((4L, 1L, 3L, BigDecimal(hm).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("madProfile: median/MAD and outlier flags vs hand computation") {
    import spark.implicits._
    // 1..9 plus one gross outlier; median = 5.5, deviations from 5.5
    // are 4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5 → MAD = 2.5
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).toDF("x").repartition(4)
    val r = Profiler.madProfile(df, "x", k = 3.0).collect()(0)
    assert(r.getLong(0) === 10L)
    assert(r.getDouble(1) === 5.5)
    assert(r.getDouble(2) === 2.5)
    // threshold = 3 · 1.4826 · 2.5 ≈ 11.12 → only 1000.0 flagged
    assert(r.getLong(3) === 1L)
    assert(r.getDouble(4) === 0.1)
  }

  test("madProfile: constant column has MAD 0 and no outliers") {
    import spark.implicits._
    val df = Seq.fill(8)(7.0).toDF("x")
    val r = Profiler.madProfile(df, "x").collect()(0)
    assert(r.getDouble(2) === 0.0)
    assert(r.getLong(3) === 0L)
  }

  test("numericProfile: hand-computed moments and quartiles; a constant column reports 0, not a divide-by-zero") {
    import spark.implicits._
    val r = row1(Profiler.numericProfile(Seq(1.0, 2.0, 3.0, 4.0).toDF("x"), "x"))
    assert(r === Map("n" -> 4L, "mean" -> 2.5, "std" -> 1.118034, "skew" -> 0.0,
      "kurt" -> -1.36, "mn" -> 1.0, "mx" -> 4.0, "median" -> 2.5, "q1" -> 1.75, "q3" -> 3.25))
    // ANSI mode raises on a double 0/0: the guards must hold it off
    val c = row1(Profiler.numericProfile(Seq.fill(5)(3.5).toDF("x"), "x"))
    assert((c("n"), c("std"), c("skew"), c("kurt"), c("median")) === ((5L, 0.0, 0.0, 0.0, 3.5)))
  }

  /** Spark jobs of the robust profiles below, each counted through its
    * collect, as measured: the quantile sort counts its own rows, so
    * no separate count() runs (it would add three jobs). */
  private val WinsorizedJobBudget = 8
  private val MadJobBudget = 13

  test("winsorizedProfile and madProfile stay within their Spark job budgets") {
    import spark.implicits._
    val df = ((1 to 400).map(i => (i * 7919 % 1000).toDouble) ++ Seq(1e9, -1e9))
      .toDF("v").repartition(4)
    val (w, wJobs) = withJobCount(Profiler.winsorizedProfile(df, "v").collect())
    assert(w(0).getLong(0) === 402L)
    assert(wJobs <= WinsorizedJobBudget, s"winsorizedProfile ran $wJobs Spark jobs")
    val (m, mJobs) = withJobCount(Profiler.madProfile(df, "v").collect())
    assert(m(0).getLong(0) === 402L)
    assert(mJobs <= MadJobBudget, s"madProfile ran $mJobs Spark jobs")
  }

  test("datetime profile under strictFormats: ISO render format detected") {
    val detected = Detector.detect(fixture, DetectorConfig(strictFormats = true))
    val p = Profiler.profileScalars(fixture, detected)
    val d = p("join_date").datetime.get
    assert(d.format === "YYYY-MM-DD")
    assert(d.epoch.count === 500L)
    assert(d.minDate.startsWith("20"))
    assert(d.epoch.min <= d.epoch.max)
  }

  test("grouped trend recovers an exact linear relation per group") {
    import spark.implicits._
    // group a: y = 2x + 1 exactly; group b: y = -0.5x + 3 exactly
    val rows = (0 until 50).flatMap { i =>
      Seq(("a", i.toDouble, 2.0 * i + 1.0), ("b", i.toDouble, -0.5 * i + 3.0))
    }
    val got = Profiler.groupedTrend(rows.toDF("g", "x", "y"), "g",
      col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("a") === ((50L, 2.0, 1.0, 1.0)))
    assert(got("b") === ((50L, -0.5, 3.0, -1.0)))
  }

  test("partial moments merge to the direct single-pass profile bit-for-bit") {
    import spark.implicits._
    // integral values → DECIMAL partials: merging must be EXACT, so
    // the merged stats equal a one-shard (direct) computation on every
    // field including the unrounded doubles
    val df = (1L to 997L).map(i => (i % 7, (i * i) % 1000))
      .toDF("shard", "v").repartition(8)
    val merged = Profiler.mergeMoments(
      Profiler.partialMoments(df, "shard", "v")).collect()(0)
    val direct = Profiler.mergeMoments(
      Profiler.partialMoments(df.withColumn("shard", lit(0L)), "shard", "v"))
      .collect()(0)
    assert(merged === direct)
    // sanity on the values themselves
    val xs = (1L to 997L).map(i => ((i * i) % 1000).toDouble)
    assert(merged.getLong(0) === 997L)
    assert(math.abs(merged.getDouble(1) - xs.sum / xs.size) < 1e-6)
    assert(merged.getDouble(5) === xs.min && merged.getDouble(6) === xs.max)
    // a subset of shards is a valid profile of the subset
    val sub = Profiler.mergeMoments(
      Profiler.partialMoments(df.filter(col("shard") < 3), "shard", "v"))
      .collect()(0)
    assert(sub.getLong(0) === df.filter(col("shard") < 3).count())
  }
}
