package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sampler tests: the reference's validation metrics
  * (`Latanova_v1.py:425-494`) enforced as assertions — distributional
  * parity, never bitwise (SURVEY.md §2.6). */
class GeneratorsSpec extends SparkSpec {

  private val n = 20000L

  test("Gaussian numeric: moments within tolerance, clipped, 2-dp floats") {
    val stats = NumericStats(mean = 100.0, std = 15.0, median = 100, min = 50, max = 150,
      skewness = 0, kurtosis = 0, q1 = 90, q3 = 110, count = n)
    val df = spark.range(n).select(Generators.numeric(stats, isInteger = false, seed = 7).as("x"))
    val r = row1(df.agg(avg("x").as("m"), stddev_pop("x").as("s"),
      min("x").as("lo"), max("x").as("hi")))
    assert(math.abs(r("m").asInstanceOf[Double] - 100.0) < 0.5)
    assert(math.abs(r("s").asInstanceOf[Double] - 15.0) < 0.5)
    assert(r("lo").asInstanceOf[Double] >= 50.0)
    assert(r("hi").asInstanceOf[Double] <= 150.0)
    // all values rounded to 2 decimals
    val bad = df.filter(col("x") =!= bround(col("x"), 2)).count()
    assert(bad === 0L)
  }

  test("Gaussian integer: integral output, clipped") {
    val stats = NumericStats(26.09, 14.49, 27, 1, 49, 0, 0, 14, 38, n)
    val df = spark.range(n).select(Generators.numeric(stats, isInteger = true, seed = 8).as("x"))
    val r = row1(df.agg(min("x").as("lo"), max("x").as("hi")))
    assert(r("lo").asInstanceOf[Long] >= 1L)
    assert(r("hi").asInstanceOf[Long] <= 49L)
  }

  test("Bernoulli boolean: probability and format rendering") {
    val stats = BooleanStats(trueProb = 0.3, trueCount = 30, falseCount = 70,
      count = 100, format = BoolFormat.YesNo)
    val df = spark.range(n).select(
      Generators.boolean(Some(stats), Some(BoolFormat.YesNo), seed = 9).as("b"))
    val vals = df.distinct().collect().map(_.getString(0)).toSet
    assert(vals.subsetOf(Set("Yes", "No")))
    val p = df.filter(col("b") === "Yes").count().toDouble / n
    assert(math.abs(p - 0.3) < 0.02)
  }

  test("categorical inverse-CDF sampler matches profile distribution") {
    val stats = CategoricalStats(
      categories = Seq("A", "B", "C"), probabilities = Seq(0.5, 0.3, 0.2),
      counts = Seq(50, 30, 20), mostCommon = "A", mostCommonProb = 0.5, count = 100)
    // SyntheticPipeline.generate's composition: the uniform draw is
    // materialized in its own projection before the when-chain reads it
    val df = spark.range(n).withColumn("u", rand(10))
      .select(Generators.categorical(stats, col("u")).as("c"))
    val counts = df.groupBy("c").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("A").toDouble / n - 0.5) < 0.02)
    assert(math.abs(counts("B").toDouble / n - 0.3) < 0.02)
    assert(math.abs(counts("C").toDouble / n - 0.2) < 0.02)
  }

  test("datetime sampler renders detected format and respects bounds") {
    val epoch = NumericStats(1.6e9, 86400.0 * 100, 1.6e9, 1.55e9, 1.65e9, 0, 0, 0, 0, n)
    val stats = DatetimeStats(epoch, "2019-02-13", "2022-04-19", "MM/DD/YYYY")
    val df = spark.range(1000).select(
      Generators.datetime(stats, Some("MM/DD/YYYY"), seed = 11).as("d"))
    val bad = df.filter(!col("d").rlike("^\\d{2}/\\d{2}/\\d{4}$")).count()
    assert(bad === 0L)
  }

  test("datetime sampler sigma=0 falls back to 30 days (Latanova_v1.py:411)") {
    val epoch = NumericStats(1.6e9, 0.0, 1.6e9, 1.55e9, 1.65e9, 0, 0, 0, 0, n)
    val stats = DatetimeStats(epoch, "", "", null)
    val df = spark.range(2000).select(Generators.datetime(stats, None, seed = 12).as("d"))
    // with the 30-day fallback the draws are not all the same value
    assert(df.distinct().count() > 10)
  }

  test("bootstrap resample draws only profiled entries") {
    val entries = Seq("a@x.com", "b@y.org", "c@z.net")
    val base = spark.range(500).toDF()
    val df = Generators.bootstrap(spark, base, entries, "e", seed = 13)
    assert(df.count() === 500L)
    val vals = df.select("e").distinct().collect().map(_.getString(0)).toSet
    assert(vals.subsetOf(entries.toSet))
  }

  test("pattern fallbacks have the documented shapes (Latanova_v1.py:310-316)") {
    val df = spark.range(200).select(
      Generators.emailFallback(14).as("e"), Generators.phoneFallback(14).as("p"))
    assert(df.filter(!col("e").rlike("^user\\d{4}@example\\.com$")).count() === 0L)
    assert(df.filter(!col("p").rlike("^\\+7 \\d{3} \\d{3}-\\d{2}-\\d{2}$")).count() === 0L)
  }

  test("Deterministic mode: draws are reproducible, in-range, and " +
    "distributionally faithful (uniform moments, IH-normal moments, clip)") {
    val D = Generators.Deterministic
    // reproducible: two evaluations of the same (tag,id,k,j) agree
    val u2 = spark.range(2000).select(
      D.uniform("t", col("id"), 0).as("u1"), D.uniform("t", col("id"), 0).as("u2"))
    assert(u2.filter(col("u1") =!= col("u2")).count() === 0L)
    // uniform: (0,1), mean ~0.5, var ~1/12
    val um = u2.agg(min("u1"), max("u1"), avg("u1"),
      avg(col("u1") * col("u1"))).collect()(0)
    assert(um.getDouble(0) > 0.0 && um.getDouble(1) < 1.0)
    assert(math.abs(um.getDouble(2) - 0.5) < 0.02)
    assert(math.abs(um.getDouble(3) - um.getDouble(2) * um.getDouble(2) - 1.0 / 12) < 0.01)
    // IH(12) pseudo-normal: mean ~0, var ~1, |z| <= 6 by construction
    val zm = spark.range(4000).select(D.normal("z", col("id")).as("z"))
      .agg(avg("z"), avg(col("z") * col("z")), max(abs(col("z")))).collect()(0)
    assert(math.abs(zm.getDouble(0)) < 0.05)
    assert(math.abs(zm.getDouble(1) - 1.0) < 0.08)
    assert(zm.getDouble(2) <= 6.0)
    // clipped int/float generators respect bounds and rounding grid
    val ns = NumericStats(100.0, 20.0, 0, 60.0, 140.0, 0, 0, 0, 0, n)
    val g = spark.range(2000).select(
      D.numericInt(ns, "i", col("id")).as("i"),
      D.numericFloat(ns, "f", col("id")).as("f"))
    assert(g.filter(col("i") < 60 || col("i") > 140).count() === 0L)
    assert(g.filter(col("f") < 60.0 || col("f") > 140.0).count() === 0L)
    assert(g.filter(col("f") =!= round(col("f"), 2)).count() === 0L)
    val gm = g.agg(avg("i"), avg("f")).collect()(0)
    assert(math.abs(gm.getDouble(0) - 100.0) < 2.0)
    assert(math.abs(gm.getDouble(1) - 100.0) < 2.0)
    // Bernoulli share tracks p; categorical shares track probabilities
    val p = 0.3
    val b = spark.range(5000).select(
      D.boolean(p, BoolFormat.TrueFalse, "b", col("id")).as("b"))
    val share = b.filter(col("b") === "True").count().toDouble / 5000
    assert(math.abs(share - p) < 0.03)
    val cs = CategoricalStats(Seq("x", "y", "z"), Seq(0.5, 0.3, 0.2),
      Seq(5, 3, 2), "x", 0.5, 10)
    val c = spark.range(5000).select(
      D.categoricalDet(cs, "c", col("id")).as("c"))
      .groupBy("c").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(c("x") / 5000.0 - 0.5) < 0.03)
    assert(math.abs(c("y") / 5000.0 - 0.3) < 0.03)
    // datetime day render: format + clip window
    val ep = NumericStats(1.6e9, 86400.0 * 50, 0, 1.59e9, 1.61e9, 0, 0, 0, 0, n)
    val dts = DatetimeStats(ep, "", "", "YYYY-MM-DD")
    val dt = spark.range(1000).select(
      D.datetimeDay(dts, "yyyy-MM-dd", "d", col("id")).as("d"))
    assert(dt.filter(!col("d").rlike("^\\d{4}-\\d{2}-\\d{2}$")).count() === 0L)
    assert(dt.filter(col("d") < "2020-05-18" || col("d") > "2021-01-10").count() === 0L)
  }
}
