package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("sort-based exact quantiles match Spark's exact percentile bit-for-bit") {
    val df = spark.range(10007)
      .select((rand(3) * 1e5 - 5e4).as("x")).cache()
    try {
      val ours = Quantiles.exactMulti(df, Seq("x" -> col("x")),
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))("x")
      val builtin = df.agg(percentile(col("x"),
        array(lit(0.01), lit(0.25), lit(0.5), lit(0.75), lit(0.99))))
        .collect()(0).getSeq[Double](0)
      ours.zip(builtin).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ===
          java.lang.Double.doubleToLongBits(b), s"$a vs $b")
      }
    } finally df.unpersist()
  }

  test("exactMulti agrees with per-column exactExpr on random data with nulls and NaN") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 3001).map { i =>
      (if (i % 97 == 0) None else Some(rnd.nextDouble() * 1000 - 500),
        if (i % 89 == 0) Double.NaN else rnd.nextGaussian() * 10,
        i.toDouble)
    }
    val df = rows.toDF("a", "b", "c").cache()
    try {
      val ps = Seq(0.25, 0.5, 0.75)
      val multi = Quantiles.exactMulti(df,
        Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c")), ps)
      // reference: Spark's built-in exact percentile per column, which
      // also skips nulls and sorts NaN last
      for (c <- Seq("a", "b", "c")) {
        val builtin = df.agg(percentile(col(c), array(ps.map(lit): _*)))
          .collect()(0).getSeq[Double](0)
        multi(c).zip(builtin).foreach { case (m, s) =>
          assert(java.lang.Double.doubleToLongBits(m) ===
            java.lang.Double.doubleToLongBits(s), s"col $c: $m vs $s")
        }
      }
      // NaN column: n includes the NaNs, ranks stay in range (no throw),
      // and non-extreme quantiles are real numbers
      assert(!multi("b")(0).isNaN)
    } finally df.unpersist()
  }

  test("edge cases: single row, exact-index quantiles, empty") {
    def exact(df: org.apache.spark.sql.DataFrame, ps: Seq[Double]) =
      Quantiles.exactMulti(df, Seq("x" -> col("x")), ps)("x")
    val one = Seq(42.0).toDF("x")
    assert(exact(one, Seq(0.0, 0.5, 1.0)) === Seq(42.0, 42.0, 42.0))
    // n=5, p=0.25 → h=1.0 exactly (no interpolation)
    val five = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("x")
    assert(exact(five, Seq(0.25, 1.0)) === Seq(2.0, 5.0))
    assert(exact(five.filter(col("x") > 99), Seq(0.5)) === Seq(0.0))
  }

  /** Spark jobs of one weightedExact collect, as measured: the total
    * weight comes from the prefix scan's first pass, with no checkpoint
    * and no separate total. */
  private val WeightedJobBudget = 6

  test("weightedExact stays within its Spark job budget") {
    val we = (1 to 200).map(i => ((i % 41).toDouble, (i % 5 + 1).toDouble)).toDF("v", "w")
    val (rows, jobs) = withJobCount(
      Quantiles.weightedExact(we, "v", "w", Seq(0.25, 0.5, 0.9)).collect())
    assert(rows.length === 3)
    assert(jobs <= WeightedJobBudget, s"weightedExact ran $jobs Spark jobs")
  }

  test("grouped interpolated quantiles match Spark's percentile per group bit-for-bit") {
    val rnd = new scala.util.Random(17)
    // one group holds 90% of the rows with heavy ties (values on a
    // 0.25 grid); NaN and NULL values sit in several groups; a 1-row
    // group, an all-NULL-value group and a NULL key complete the edges
    val rows: Seq[(Option[String], Option[Double])] =
      (0 until 9000).map(i => (Some("hot"),
        if (i % 211 == 0) None else if (i % 307 == 0) Some(Double.NaN)
        else Some(math.floor(rnd.nextDouble() * 40) / 4.0))) ++
      (0 until 900).map(i => (Some("warm"),
        if (i % 50 == 0) Some(Double.NaN) else Some(rnd.nextGaussian() * 100))) ++
      (0 until 37).map(i => (Some("ties"), Some((i % 3).toDouble))) ++
      Seq((Some("one"), Some(-2.5)), (Some("nulls"), None), (Some("nulls"), None)) ++
      (0 until 60).map(i => (None, Some(i.toDouble)))
    val df = rows.toDF("g", "v").repartition(5).cache()
    try {
      val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
      val got = Quantiles.groupedExact(df, ps)
      val want = df.filter(col("g").isNotNull)
        .groupBy("g").agg(percentile(col("v"), array(ps.map(lit): _*)))
        .collect().map(r => r.getString(0) -> Option(r.getSeq[Double](1))).toMap
      // NULL key excluded; a group without values has no row (Spark: NULL)
      assert(got.keySet === Set[Any]("hot", "warm", "ties", "one"))
      assert(want("nulls") === None)
      for ((g, qs) <- got) {
        assert(qs.size === ps.size)
        qs.zip(want(g.asInstanceOf[String]).get).foreach { case (a, b) =>
          assert(java.lang.Double.doubleToLongBits(a) ===
            java.lang.Double.doubleToLongBits(b), s"group $g: $a vs $b")
        }
      }
      assert(got("one") === ps.map(_ => -2.5))
      assert(got("hot").last.isNaN) // NaN sorts last
    } finally df.unpersist()
  }

  test("weighted quantiles: ground truth by expansion, repeated values merge, weight 0 drops") {
    // weights are repetition counts: the weighted quantile of
    // (v, w) equals the unweighted PERCENTILE_DISC over v repeated w
    // times — brute-force that expansion as ground truth
    val data = Seq((10.0, 3.0), (20.0, 1.0), (20.0, 2.0), (30.0, 4.0),
      (5.0, 0.0), (40.0, 2.0))
    val expanded = data.flatMap { case (v, w) =>
      Seq.fill(w.toInt)(v) }.sorted
    val w = data.map(_._2).sum
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 1.0)
    val want = qs.map { q =>
      q -> expanded(math.ceil(q * w).toInt - 1)
    }.toMap
    val got = Quantiles.weightedExact(
      data.toDF("v", "w"), "v", "w", qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got === want)
    // exact cumulative boundary at the fp-overshoot point: 60 unit
    // weights, q = 0.55 → q·W = 33000000.000000004 in fixed-point
    // doubles; PERCENTILE_DISC must still pick the 33rd value
    // (regression: unguarded ceil skipped to the 34th)
    val sixty = (1 to 60).map(i => (i.toDouble, 1.0)).toDF("v", "w")
    val b = Quantiles.weightedExact(sixty, "v", "w", Seq(0.55))
      .collect()(0).getDouble(1)
    assert(b === 33.0)
    // fractional weights at 1e-6 resolution: 0.5/1.5 weights
    val frac = Seq((1.0, 0.5), (2.0, 1.5)).toDF("v", "w")
    val m = Quantiles.weightedExact(frac, "v", "w", Seq(0.25, 0.26, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(m(0.25) === 1.0) // cum 0.5e6 of 2e6 exactly reaches 25%
    assert(m(0.26) === 2.0)
    assert(m(1.0) === 2.0)
  }

  test("groupedPick: window-rank parity under 90% skew, ties, sub-rank groups") {
    val rnd = new scala.util.Random(11)
    // one celebrity group holds 90% of the rows (the shape a
    // Window.partitionBy rank serializes); heavy ties via rounding;
    // a 1-row and a 2-row group exercise the rank edges
    val rows = (0 until 9000).map(i => ("hot", math.floor(rnd.nextDouble() * 20) / 4.0)) ++
      (0 until 950).map(i => ("warm", rnd.nextGaussian())) ++
      Seq(("one", 7.5), ("two", 1.0), ("two", 2.0)) ++
      (0 until 47).map(i => ("cold", i.toDouble))
    val df = rows.toDF("g", "v").repartition(7).cache()
    try {
      val got = Quantiles.groupedPick(df, "g", "v",
          n => (n + 1) / 2, "med")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("g").orderBy(col("v"))
      val want = df
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
        .filter(col("rk") === floor((col("n") + 1) / lit(2)).cast("long"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got === want)
      assert(got("one") === 7.5)   // n=1 → rank 1
      assert(got("two") === 1.0)   // n=2 → lower median
    } finally df.unpersist()
  }

  test("NaN group keys form one group, as in Spark's groupBy") {
    val df = ((1 to 30).map(i => (Double.NaN, i.toDouble)) ++
      (1 to 10).map(i => (1.5, i.toDouble))).toDF("g", "v").repartition(3)
    val picked = Quantiles.groupedPick(df, "g", "v", n => (n + 1) / 2, "med")
      .collect().map(r => r.getDouble(0) -> r.getDouble(1))
    assert(picked.length === 2)
    assert(picked.exists { case (g, m) => g.isNaN && m === 15.0 })
    assert(picked.contains((1.5, 5.0)))
    // the grouped profile's hot path sorts by the same kernel
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getDouble(0).toString -> r.toSeq.tail).toMap
    assert(m(Profiler.groupedNumericProfile(df, "g", "v", hotGroupRowBound = 5L)) ===
      m(Profiler.groupedNumericProfile(df, "g", "v")))
  }
}
