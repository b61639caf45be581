package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DriftSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force two-sample KS on driver arrays (ECDF at every distinct
    * pooled value). */
  private def ksLocal(a: Seq[Double], b: Seq[Double]): Double = {
    val xs = (a ++ b).distinct.sorted
    xs.map { x =>
      math.abs(a.count(_ <= x).toDouble / a.size - b.count(_ <= x).toDouble / b.size)
    }.max
  }

  test("tokenJsDivergence matches a brute-force local JS computation") {
    val docs = Seq(
      ("a", "apple banana apple cherry"),
      ("a", "banana banana date"),
      ("b", "cherry cherry cherry egg egg"),
      ("b", "apple egg fig fig"),
      ("c", "apple banana cherry date egg fig") // close to the blend
    ).toDF("source", "text").repartition(8)
    val out = Drift.tokenJsDivergence(docs, "source", "text")
      .orderBy("source").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b", "c"))

    // brute force: full distributions over the whole vocab
    val toks = Seq(
      "a" -> "apple banana apple cherry banana banana date",
      "b" -> "cherry cherry cherry egg egg apple egg fig fig",
      "c" -> "apple banana cherry date egg fig"
    ).map { case (g, t) => g -> t.split(" ").toSeq }
    val all = toks.flatMap(_._2)
    val vocab = all.distinct
    val qDist = vocab.map(t => t -> all.count(_ == t).toDouble / all.size).toMap
    def js(g: String): Double = {
      val mine = toks.toMap.apply(g)
      val p = vocab.map(t => t -> mine.count(_ == t).toDouble / mine.size).toMap
      vocab.map { t =>
        val (pp, qq) = (p(t), qDist(t)); val m = (pp + qq) / 2
        (if (pp > 0) 0.5 * pp * math.log(pp / m) else 0.0) +
          0.5 * qq * math.log(qq / m)
      }.sum
    }
    out.foreach { r =>
      val g = r.getString(0)
      assert(r.getLong(2) === toks.toMap.apply(g).size.toLong, s"n_tokens $g")
      assert(math.abs(r.getDouble(3) - js(g)) < 1e-6, s"js $g")
    }
    // the balanced slice reads most like the corpus
    val byG = out.map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(byG("c") < byG("a") && byG("c") < byG("b"))
    // divergence is bounded: 0 <= JS <= ln 2
    byG.values.foreach(v => assert(v >= 0.0 && v <= math.log(2.0) + 1e-12))
  }

  test("ksTwoSample matches the brute-force ECDF sup on tied, shuffled data") {
    val rnd = new scala.util.Random(5)
    // integer-valued doubles → heavy ties, the case the grouped form must get right
    val a = Seq.fill(3000)(rnd.nextInt(40).toDouble)
    val b = Seq.fill(2000)(rnd.nextInt(40).toDouble + 4.0) // shifted
    val df = (a.map((_, true)) ++ b.map((_, false)))
      .toDF("v", "g").repartition(16)
    val r = row1(Drift.ksTwoSample(df, col("v"), col("g")))
    assert(r("n_a") === 3000L && r("n_b") === 2000L)
    val want = ksLocal(a, b)
    assert(math.abs(r("ks").asInstanceOf[Double] - want) < 1e-6)
    assert(want > 0.05) // the shift is detectable
    // identical samples → 0
    val same = (a.map((_, true)) ++ a.map((_, false))).toDF("v", "g")
    assert(row1(Drift.ksTwoSample(same, col("v"), col("g")))("ks") === 0.0)
    // no Window operator anywhere in the plan
    val plan = Drift.ksTwoSample(df, col("v"), col("g"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"KS plans a window:\n$plan")
  }

  test("ksTwoSample: empty side yields null ks") {
    val df = Seq((1.0, true), (2.0, true)).toDF("v", "g")
    val r = row1(Drift.ksTwoSample(df, col("v"), col("g")))
    assert(r("n_b") === 0L && r("ks") == null)
  }

  test("psi: zero for identical halves, large for a shifted current sample") {
    val rnd = new scala.util.Random(9)
    val base = Seq.fill(4000)(rnd.nextGaussian())
    val df0 = (base.map((_, true)) ++ base.map((_, false))).toDF("v", "g")
    val psi0 = Drift.psi(df0, col("v"), col("g"), bins = 10)
      .agg(sum("psi_contrib")).collect()(0).getDouble(0)
    assert(math.abs(psi0) < 1e-9) // same sample in both roles
    val shifted = base.map(_ + 1.5)
    val df1 = (base.map((_, true)) ++ shifted.map((_, false))).toDF("v", "g")
    val rows = Drift.psi(df1, col("v"), col("g"), bins = 10).collect()
    val psi1 = rows.map(_.getAs[Double]("psi_contrib")).sum
    assert(psi1 > 0.25, s"shifted distribution reads stable: $psi1")
    // bins cover [0, 10) and baseline counts are equi-depth (±1 plus ties)
    assert(rows.map(_.getAs[Int]("bin")).toSet.subsetOf((0 until 10).toSet))
    assert(rows.map(_.getAs[Long]("n_base")).sum === 4000L)
  }

  /** Spark jobs of one psi collect, as measured: the cut points' sort
    * counts its own baseline rows, so no separate count() runs (it
    * would add two jobs), and the totals are summed from the collected
    * per-bin rows, so no totals aggregate runs either (10 with it). */
  private val PsiJobBudget = 7

  test("psi stays within its Spark job budget") {
    val rnd = new scala.util.Random(4)
    val df = Seq.fill(2000)((rnd.nextGaussian(), rnd.nextBoolean())).toDF("v", "g")
    val (rows, jobs) = withJobCount(Drift.psi(df, col("v"), col("g"), bins = 10).collect())
    assert(rows.map(_.getAs[Long]("n_base")).sum + rows.map(_.getAs[Long]("n_cur")).sum === 2000L)
    assert(jobs <= PsiJobBudget, s"psi ran $jobs Spark jobs")
  }

  /** Spark jobs of one collect each, as measured: every total these
    * operators need (n, n_a and n_b, the distinct values, each group's
    * size) comes from the first pass of their one range scan, so none
    * checkpoints, aggregates or counts its input for it. */
  private val PercentRankJobBudget = 6
  private val PercentRankByJobBudget = 7
  private val KsJobBudget = 6

  test("percentRank stays within its Spark job budget") {
    val df = (1 to 200).map(i => (i.toLong, (i % 17).toDouble)).toDF("id", "v")
    val (rows, jobs) = withJobCount(Drift.percentRank(df, "v").collect())
    assert(rows.length === 200)
    assert(jobs <= PercentRankJobBudget, s"percentRank ran $jobs Spark jobs")
  }

  test("percentRankBy stays within its Spark job budget") {
    // one group holds 90% of the rows
    val df = (1 to 300).map(i => (i.toLong, if (i % 10 < 9) "hot" else s"g${i % 3}",
      (i % 23).toDouble)).toDF("id", "g", "v")
    val (rows, jobs) = withJobCount(Drift.percentRankBy(df, "g", "v").collect())
    assert(rows.length === 300)
    assert(jobs <= PercentRankByJobBudget, s"percentRankBy ran $jobs Spark jobs")
  }

  test("ksTwoSample stays within its Spark job budget") {
    val df = (1 to 200).map(i => (i.toLong, (i % 31).toDouble)).toDF("id", "v")
    val (rows, jobs) = withJobCount(
      Drift.ksTwoSample(df, col("v"), col("id") % 2 === 0).collect())
    assert((rows(0).getLong(0), rows(0).getLong(1)) === ((100L, 100L)))
    assert(jobs <= KsJobBudget, s"ksTwoSample ran $jobs Spark jobs")
  }

  test("chiSquare matches the hand formula on a small contingency, ~0 on independence") {
    // dependent: b == a for 90% of rows
    val rnd = new scala.util.Random(2)
    val dep = Seq.fill(5000) {
      val a = rnd.nextInt(3)
      val b = if (rnd.nextInt(10) == 0) rnd.nextInt(3) else a
      (s"a$a", s"b$b")
    }
    val df = dep.toDF("x", "y").repartition(8)
    val r = row1(Drift.chiSquare(df, col("x"), col("y")))
    assert(r("n") === 5000L && r("dof") === 4L)
    // hand-computed chi2 from the same contingency
    val cells = dep.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val ra = dep.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val cb = dep.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val want = cells.map { case ((x, y), o) =>
      val e = ra(x) * cb(y) / 5000.0; (o - e) * (o - e) / e
    }.sum
    assert(math.abs(r("chi2").asInstanceOf[Double] - want) < 1e-4)
    assert(want > 1000.0) // strongly dependent
  }

  test("percentRank matches the window percent_rank, ties share rank, no Window planned") {
    val rnd = new scala.util.Random(17)
    val df = (1L to 4000L).map(id => (id, rnd.nextInt(50).toDouble))
      .toDF("id", "v").repartition(8)
    val got = Drift.percentRank(df, "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val want = df.withColumn("pr",
      percent_rank().over(org.apache.spark.sql.expressions.Window.orderBy("v")))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size === want.size)
    for ((id, pr) <- want)
      assert(math.abs(got(id) - pr) < 1e-12, s"id=$id")
    val plan = Drift.percentRank(df, "v").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"percentRank plans a window:\n$plan")
    // null values keep a null rank
    val withNull = Seq((1L, Some(2.0)), (2L, None), (3L, Some(1.0)))
      .toDF("id", "v")
    val r = Drift.percentRank(withNull, "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(r(2L) === None)
    assert(r(3L) === Some(0.0) && r(1L) === Some(1.0))
  }

  test("percentRankBy matches the per-group window percent_rank under group skew") {
    val rnd = new scala.util.Random(23)
    // one dominant group (90%) + several small ones
    val df = (1L to 3000L).map { id =>
      val g = if (id <= 2700) "big" else s"g${id % 5}"
      (id, g, rnd.nextInt(40).toDouble)
    }.toDF("id", "g", "v").repartition(8)
    val got = Drift.percentRankBy(df, "g", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val want = df.withColumn("pr", percent_rank().over(
      org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("v")))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.size === want.size)
    for ((id, pr) <- want)
      assert(math.abs(got(id) - pr) < 1e-12, s"id=$id")
    // single-member group ranks 0.0; null group/value rank null
    val edge = Seq((1L, Some("a"), Some(5.0)), (2L, None, Some(1.0)),
      (3L, Some("b"), None)).toDF("id", "g", "v")
    val r = Drift.percentRankBy(edge, "g", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(r(1L) === Some(0.0) && r(2L) === None && r(3L) === None)
  }

  test("mutual information: zero on independence, ln(k) on identity") {
    // independent: every (a, b) pair equally likely → MI = 0
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q") }
      yield (a, b)).toDF("a", "b")
    val mi0 = Drift.mutualInformation(ind, col("a"), col("b")).collect()(0)
    assert(mi0.getLong(0) === 4L)
    assert(math.abs(mi0.getDouble(1)) < 1e-9)
    // identical columns with 3 uniform levels → MI = H = ln(3)
    val idc = Seq("u", "v", "w").map(s => (s, s)).toDF("a", "b")
    val mi1 = Drift.mutualInformation(idc, col("a"), col("b")).collect()(0)
    assert(math.abs(mi1.getDouble(1) - math.log(3.0)) < 1e-6)
  }

  test("functionalDependencies: key FD holds, many-to-many violated") {
    val df = Seq(
      (1L, "alice", "gold"), (2L, "bob", "gold"),
      (3L, "carol", "silver"), (4L, "alice", "bronze"))
      .toDF("id", "name", "tier")
    val got = Drift.functionalDependencies(df,
      Seq("id" -> "name", "name" -> "tier", "tier" -> "name"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(("id", "name")) === ((4L, 0L, true)))      // id is a key
    assert(got(("name", "tier")) === ((3L, 1L, false)))   // alice → gold+bronze
    assert(got(("tier", "name")) === ((3L, 1L, false)))   // gold → alice+bob
  }

  test("madOutliers: hand-computed median/MAD fence, robust to the outlier itself") {
    import spark.implicits._
    // g1: values 1..9 plus a wild 1000 → median of 10 values = 5 (lower),
    // deviations |v-5| = {4,3,2,1,0,1,2,3,4,995} sorted {0,1,1,2,2,3,3,4,4,995}
    // → MAD (lower median, rank 5) = 2; fence 3*2=6 → only 1000 is out
    val rows = ((1 to 9).map(v => ("g1", v.toDouble)) :+ (("g1", 1000.0))) ++
      Seq(("g2", 7.0), ("g2", 7.0), ("g2", 7.0)) // constant group: MAD 0
    val got = Drift.madOutliers(rows.toDF("g", "v"), "g", "v", k = 3.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got("g1") === ((10L, 5.0, 2.0, 1L)))
    assert(got("g2") === ((3L, 7.0, 0.0, 0L))) // 0 > 3*0 false → no outliers
  }

  test("calibrationReport: bins, per-bin stats, and ECE terms match a local fold") {
    val rows = Seq(
      (0.05, 0), (0.08, 1),           // bin 0
      (0.52, 1), (0.55, 0), (0.58, 1), // bin 5
      (0.95, 1), (0.99, 1),           // bin 9
      (1.00, 1),                      // p = 1.0 joins the TOP bin, not bin 10
      (1.50, 1), (-0.2, 0))           // out of range: dropped
    val out = Drift.calibrationReport(rows.toDF("p", "c"), "p", "c", nBins = 10)
      .orderBy("bin").collect()
    val kept = rows.filter { case (p, _) => p >= 0 && p <= 1 }
    val n = kept.size
    val local = kept.groupBy { case (p, _) => math.min((p * 10).toInt, 9) }
    assert(out.map(_.getInt(0)).toSeq === local.keys.toSeq.sorted)
    out.foreach { r =>
      val xs = local(r.getInt(0))
      assert(r.getLong(1) === xs.size.toLong)
      val avgConf = xs.map(_._1).sum / xs.size
      val acc = xs.map(_._2).sum.toDouble / xs.size
      assert(math.abs(r.getDouble(2) - avgConf) < 1e-6)
      assert(math.abs(r.getDouble(3) - acc) < 1e-6)
      val wgap = math.abs(xs.map(_._2).sum - xs.map(_._1).sum) / n
      assert(math.abs(r.getDouble(4) - wgap) < 1e-6)
    }
    // ECE == sum of the wgap column (the documented read-off)
    val ece = out.map(_.getDouble(4)).sum
    val localEce = local.values.map(xs =>
      math.abs(xs.map(_._2).sum - xs.map(_._1).sum) / n).sum
    assert(math.abs(ece - localEce) < 1e-5)
    intercept[IllegalArgumentException] {
      Drift.calibrationReport(rows.toDF("p", "c"), "p", "c", nBins = 0)
    }
  }

  test("calibrationReport: empty and all-out-of-range inputs yield no rows") {
    assert(Drift.calibrationReport(
      Seq.empty[(Double, Int)].toDF("p", "c"), "p", "c", 10).count() === 0L)
    assert(Drift.calibrationReport(
      Seq((1.7, 1), (-0.4, 0)).toDF("p", "c"), "p", "c", 10).count() === 0L)
    // a perfectly calibrated single bin: wgap reflects |sum c - sum p|/N
    val one = Drift.calibrationReport(
      Seq((0.5, 1), (0.5, 0)).toDF("p", "c"), "p", "c", 10)
      .collect()
    assert(one.length === 1)
    assert(one(0).getInt(0) === 5 && one(0).getLong(1) === 2L)
    assert(one(0).getDouble(2) === 0.5 && one(0).getDouble(3) === 0.5)
    assert(one(0).getDouble(4) === 0.0)
  }

  test("bootstrapAccuracyCI: degenerate metrics pin the CI; deterministic; seed-sensitive") {
    val allRight = (0L until 40L).map(i => (i, 1)).toDF("id", "c")
    val r1 = Drift.bootstrapAccuracyCI(allRight, "id", "c",
      nBoot = 50, seed = "s", alpha = 0.05).collect()(0)
    assert(r1.getLong(0) === 40L && r1.getInt(1) === 50)
    assert(r1.getDouble(2) === 1.0 && r1.getDouble(3) === 1.0 &&
      r1.getDouble(4) === 1.0)
    val allWrong = (0L until 40L).map(i => (i, 0)).toDF("id", "c")
    val r0 = Drift.bootstrapAccuracyCI(allWrong, "id", "c",
      nBoot = 50, seed = "s", alpha = 0.05).collect()(0)
    assert(r0.getDouble(2) === 0.0 && r0.getDouble(3) === 0.0 &&
      r0.getDouble(4) === 0.0)
    // mixed: ordered bounds around the point estimate, deterministic
    // across calls, different under a different seed
    val mixed = (0L until 60L).map(i => (i, if (i % 3 == 0) 1 else 0))
      .toDF("id", "c")
    def run(seed: String) = Drift.bootstrapAccuracyCI(mixed, "id", "c",
      nBoot = 80, seed = seed, alpha = 0.1).collect()(0)
    val a = run("sA"); val b = run("sA"); val c = run("sB")
    assert(a.getDouble(3) <= a.getDouble(2) && a.getDouble(2) <= a.getDouble(4))
    assert(a.getDouble(3) === b.getDouble(3) && a.getDouble(4) === b.getDouble(4))
    assert((c.getDouble(3) !== a.getDouble(3)) || (c.getDouble(4) !== a.getDouble(4)))
    intercept[IllegalArgumentException] {
      Drift.bootstrapAccuracyCI(mixed, "id", "c", 1, "s", 0.05)
    }
    // orderCol must be a unique key: under duplicates the resample
    // index-to-row mapping is engine-dependent, so the call refuses
    val dup = (0L until 10L).map(i => (i % 5, 1)).toDF("id", "c")
    intercept[IllegalArgumentException] {
      Drift.bootstrapAccuracyCI(dup, "id", "c", 10, "s", 0.05)
    }
  }

  test("cohenKappa: textbook example, degenerate raters, disjoint label sets") {
    // a: y y n n, b: y n n n -> po = 3/4; marginals a(y)=2 a(n)=2,
    // b(y)=1 b(n)=3 -> pe = (2*1 + 2*3)/16 = 0.5 -> kappa = 0.5
    val ex = Seq(("y", "y"), ("y", "n"), ("n", "n"), ("n", "n")).toDF("a", "b")
    val r = Drift.cohenKappa(ex, "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) === (4L, 3L))
    assert(r.getDouble(2) === 0.75 && r.getDouble(3) === 0.5)
    assert(r.getDouble(4) === 0.5)

    // both raters constant and equal: pe = 1 -> kappa undefined (null)
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val c = Drift.cohenKappa(const, "a", "b").collect()(0)
    assert(c.getDouble(2) === 1.0 && c.getDouble(3) === 1.0 && c.isNullAt(4))

    // disjoint label vocabularies (full-outer marginal path): each
    // side's marginal for the other's label is 0 -> pe = 0, kappa = po = 0
    val disj = Seq(("p", "q"), ("p", "q")).toDF("a", "b")
    val dj = Drift.cohenKappa(disj, "a", "b").collect()(0)
    assert(dj.getLong(1) === 0L && dj.getDouble(3) === 0.0 && dj.getDouble(4) === 0.0)

    // null labels dropped, not counted as disagreement
    val withNull = Seq((Some("y"), Some("y")), (None, Some("y")),
      (Some("y"), None)).toDF("a", "b")
    assert(Drift.cohenKappa(withNull, "a", "b").collect()(0).getLong(0) === 1L)

    // kappa derives from the UNROUNDED po/pe: n = 7, agree = 2,
    // Σ na·nb = 13 gives kappa = (2/7 − 13/49)/(1 − 13/49) = 1/36
    // exactly -> round 0.027778; deriving from the 6-rounded po/pe
    // (the pre-r12 order) yields 0.020408/0.734694 -> 0.027777
    val frac = Seq(("x", "w"), ("y", "x"), ("y", "y"), ("y", "y"),
      ("y", "w"), ("y", "w"), ("y", "w")).toDF("a", "b")
    val fr = Drift.cohenKappa(frac, "a", "b").collect()(0)
    assert((fr.getLong(0), fr.getLong(1)) === (7L, 2L))
    assert(fr.getDouble(4) === 0.027778)
  }

  test("krippendorffAlpha: hand-computed example, missing data, degenerate cases") {
    // u1: a,a (agree)  u2: a,b (disagree)  u3: b,b,b  u4: single (drop)
    // n = 7; D_o = (1/7)·Σ A_u/(m−1) = (1/7)·(0 + 2 + 0) = 2/7
    // n_a = 3, n_b = 4; D_e = (49 − 25)/(7·6) = 4/7; α = 1 − 1/2 = 0.5
    val ratings = Seq(
      ("u1", "a"), ("u1", "a"),
      ("u2", "a"), ("u2", "b"),
      ("u3", "b"), ("u3", "b"), ("u3", "b"),
      ("u4", "a")).toDF("unit", "v")
    val r = Drift.krippendorffAlpha(ratings, "unit", "v").collect()(0)
    assert((r.getLong(0), r.getLong(1)) === (3L, 7L)) // u4 excluded
    assert(r.getDouble(2) === 0.285714 && r.getDouble(3) === 0.571429)
    assert(r.getDouble(4) === 0.5)

    // perfect agreement over >1 value: D_o = 0 -> alpha = 1
    val perfect = Seq(("u1", "x"), ("u1", "x"), ("u2", "y"), ("u2", "y"))
      .toDF("unit", "v")
    assert(Drift.krippendorffAlpha(perfect, "unit", "v")
      .collect()(0).getDouble(4) === 1.0)

    // one single value everywhere: D_e = 0 -> alpha undefined (null)
    val const = Seq(("u1", "x"), ("u1", "x"), ("u2", "x"), ("u2", "x"))
      .toDF("unit", "v")
    assert(Drift.krippendorffAlpha(const, "unit", "v").collect()(0).isNullAt(4))

    // nulls dropped
    val withNull = Seq((Some("u1"), Some("a")), (Some("u1"), None),
      (None, Some("a")), (Some("u1"), Some("b"))).toDF("unit", "v")
    assert(Drift.krippendorffAlpha(withNull, "unit", "v")
      .collect()(0).getLong(1) === 2L)

    // zero qualifying units (every unit single-rated): the documented
    // degenerate treatment is null do/de/alpha, NOT NaN through 0/0
    val singles = Seq(("u1", "a"), ("u2", "b"), ("u3", "a"))
      .toDF("unit", "v")
    val sr = Drift.krippendorffAlpha(singles, "unit", "v").collect()(0)
    assert(sr.getLong(0) === 0L && sr.getLong(1) === 0L)
    assert(sr.isNullAt(2) && sr.isNullAt(3) && sr.isNullAt(4))

    // >13 raters per unit: the 10^6-scaled decimal route (r13 —
    // generalizes the r12 lcm bound). 20-rater units, hand-computed:
    // u1: 10×a + 10×b (A = 400 − 200 = 200, m−1 = 19)
    // u2: 20×a (A = 0)  -> D_o = (200/19)/40 = 5/19
    // n = 40, n_a = 30, n_b = 10 -> D_e = (1600−1000)/(40·39) = 5/13
    // α = 1 − (5/19)/(5/13) = 1 − 13/19 = 6/19 = 0.315789...
    val wide = ((0 until 10).map(_ => ("u1", "a")) ++
      (0 until 10).map(_ => ("u1", "b")) ++
      (0 until 20).map(_ => ("u2", "a"))).toDF("unit", "v")
    val wr = Drift.krippendorffAlpha(wide, "unit", "v").collect()(0)
    assert((wr.getLong(0), wr.getLong(1)) === (2L, 40L))
    assert(wr.getDouble(2) === math.rint(5.0 / 19 * 1e6) / 1e6 ||
      wr.getDouble(2) === 0.263158)
    assert(wr.getDouble(3) === 0.384615)
    assert(math.abs(wr.getDouble(4) - 6.0 / 19) < 1e-6)

    // route consistency: a ≤13-rater dataset forced through the
    // decimal route (by adding a wide dummy unit whose ratings all
    // agree — A = 0 contributes nothing to D_o) shifts alpha only
    // through the marginals, and the decimal arithmetic agrees with
    // the exact lcm value to well under the published rounding
    val both = Seq(("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "b"))
      .toDF("unit", "v")
    val exact = Drift.krippendorffAlpha(both, "unit", "v").collect()(0)
    val forced = Drift.krippendorffAlpha(
      both.union((0 until 14).map(_ => ("u9", "zz")).toDF("unit", "v")),
      "unit", "v").collect()(0)
    // same D_o numerator structure: u9 adds A = 0; verify D_o agrees
    // after rescaling by the n change (4 -> 18): do_forced = do_exact·4/18
    assert(math.abs(forced.getDouble(2) - exact.getDouble(2) * 4 / 18) < 2e-6)
    // the 13-rater boundary itself is allowed (lcm(1..12) covers m-1
    // = 12): 13 all-distinct ratings on one unit + a twin unit with
    // 13 agreeing ones — finite alpha, no throw
    val edge = (0 until 13).map(i => ("u1", s"v$i")).toDF("unit", "v")
      .union((0 until 13).map(_ => ("u2", "v0")).toDF("unit", "v"))
    val er = Drift.krippendorffAlpha(edge, "unit", "v").collect()(0)
    assert(er.getLong(0) === 2L && er.getLong(1) === 26L)
    assert(!er.isNullAt(4))
  }

  test("krippendorffAlphaMetric: interval and ordinal hand-computed, degenerate and graded cases") {
    // u1: {1,3}  u2: {2,3}  u3: {1} (dropped) — n = 4
    // INTERVAL: A_u1 = 2(2·10 − 16) = 8, A_u2 = 2(2·13 − 25) = 2
    //   D_o = (8 + 2)/4 = 2.5; marginals SV = 9, SVV = 23
    //   D_e = 2(4·23 − 81)/(4·3) = 22/12; α = 1 − 2.5·12/22 = −0.363636
    val likert = Seq(("u1", 1L), ("u1", 3L), ("u2", 2L), ("u2", 3L),
      ("u3", 1L)).toDF("unit", "v")
    val ir = Drift.krippendorffAlphaMetric(likert, "unit", "v", "interval")
      .collect()(0)
    assert((ir.getLong(0), ir.getLong(1)) === (2L, 4L))
    assert(ir.getDouble(2) === 2.5)
    assert(ir.getDouble(3) === 1.833333)
    assert(ir.getDouble(4) === -0.363636)
    // ORDINAL: marginals n1=1, n2=1, n3=2; cum 1,2,4
    //   Q(1,2) = (2·1 + 0)² = 4   Q(1,3) = (2·3 + 1 − 2)² = 25
    //   Q(2,3) = (2·2 + 1 − 2)² = 9
    //   B_u1 = Q(1,3) = 25, B_u2 = Q(2,3) = 9 → D_o = 34/(2·4) = 4.25
    //   E = 1·1·4 + 1·2·25 + 1·2·9 = 72 → D_e = 72/(2·4·3) = 3
    //   α = 1 − 4.25/3 = −0.416667 (≠ interval's on the same data)
    val or0 = Drift.krippendorffAlphaMetric(likert, "unit", "v", "ordinal")
      .collect()(0)
    assert((or0.getLong(0), or0.getLong(1)) === (2L, 4L))
    assert(or0.getDouble(2) === 4.25)
    assert(or0.getDouble(3) === 3.0)
    assert(or0.getDouble(4) === -0.416667)

    // graded distance: 1-vs-2 disagreement scores BETTER than 1-vs-5
    // on both metrics (the whole point vs the nominal form, which
    // cannot tell them apart)
    def alphaOf(pairs: Seq[(String, Long)], m: String): Double =
      Drift.krippendorffAlphaMetric(pairs.toDF("unit", "v"), "unit", "v", m)
        .collect()(0).getDouble(4)
    val near = Seq(("a", 1L), ("a", 2L), ("b", 4L), ("b", 5L),
      ("c", 1L), ("c", 1L), ("d", 5L), ("d", 5L))
    val far = Seq(("a", 1L), ("a", 5L), ("b", 5L), ("b", 1L),
      ("c", 1L), ("c", 1L), ("d", 5L), ("d", 5L))
    assert(alphaOf(near, "interval") > alphaOf(far, "interval"))
    assert(alphaOf(near, "ordinal") > alphaOf(far, "ordinal"))

    // perfect agreement -> 1; zero variance -> null; single-rated
    // units excluded and zero qualifying units -> all-null readout
    val perfect = Seq(("u1", 2L), ("u1", 2L), ("u2", 5L), ("u2", 5L))
      .toDF("unit", "v")
    val const = Seq(("u1", 3L), ("u1", 3L), ("u2", 3L), ("u2", 3L))
      .toDF("unit", "v")
    val singles = Seq(("u1", 1L), ("u2", 2L)).toDF("unit", "v")
    for (m <- Seq("interval", "ordinal")) {
      assert(Drift.krippendorffAlphaMetric(perfect, "unit", "v", m)
        .collect()(0).getDouble(4) === 1.0)
      assert(Drift.krippendorffAlphaMetric(const, "unit", "v", m)
        .collect()(0).isNullAt(4))
      val sr = Drift.krippendorffAlphaMetric(singles, "unit", "v", m)
        .collect()(0)
      assert(sr.getLong(0) === 0L && sr.getLong(1) === 0L && sr.isNullAt(4))
    }

    // >13-rater decimal route (shared machinery): 20-rater unit u1
    // with 10×1 + 10×2 plus a 20×1 unit u2, interval metric —
    // u1: sv = 30, svv = 50, A = 2(20·50 − 900) = 200; u2: A = 0
    // D_o = (200/19)/40 = 5/19; n = 40, SV = 50, SVV = 70
    // D_e = 2(40·70 − 2500)/(40·39) = 600/1560 = 5/13
    // α = 1 − (5/19)/(5/13) = 6/19 — same value as the nominal wide
    // case by construction (adjacent values 1,2 make interval ≡ nominal)
    val wide = ((0 until 10).map(_ => ("u1", 1L)) ++
      (0 until 10).map(_ => ("u1", 2L)) ++
      (0 until 20).map(_ => ("u2", 1L))).toDF("unit", "v")
    val wr = Drift.krippendorffAlphaMetric(wide, "unit", "v", "interval")
      .collect()(0)
    assert((wr.getLong(0), wr.getLong(1)) === (2L, 40L))
    assert(wr.getDouble(3) === 0.384615)
    assert(math.abs(wr.getDouble(4) - 6.0 / 19) < 1e-6)

    // bad metric name rejected
    intercept[IllegalArgumentException] {
      Drift.krippendorffAlphaMetric(likert, "unit", "v", "nominal")
    }
  }

  test("aucRoc: hand-computed ties case, perfect/reversed/constant scores, empty class") {
    // scores 1,2,2,3 labels 0,0,1,1: ranks 1, 2.5, 2.5, 4 ->
    // R+ = 6.5, AUC = (6.5 - 3) / (2*2) = 0.875
    val tied = Seq((1.0, 0), (2.0, 0), (2.0, 1), (3.0, 1)).toDF("s", "y")
    val r = Drift.aucRoc(tied, "s", "y").collect()(0)
    assert((r.getLong(0), r.getLong(1)) === (2L, 2L))
    assert(r.getDouble(2) === 0.875)
    assert(r.getDouble(3) === 0.75)

    val perfect = Seq((1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)).toDF("s", "y")
    assert(Drift.aucRoc(perfect, "s", "y").collect()(0).getDouble(2) === 1.0)
    val reversed = Seq((1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0)).toDF("s", "y")
    assert(Drift.aucRoc(reversed, "s", "y").collect()(0).getDouble(2) === 0.0)
    val constant = Seq((5.0, 0), (5.0, 1), (5.0, 0), (5.0, 1)).toDF("s", "y")
    assert(Drift.aucRoc(constant, "s", "y").collect()(0).getDouble(2) === 0.5)

    val onlyPos = Seq((1.0, 1), (2.0, 1)).toDF("s", "y")
    val op = Drift.aucRoc(onlyPos, "s", "y").collect()(0)
    assert(op.isNullAt(2) && op.isNullAt(3))
  }

  test("aucRoc properties: negation complement, monotone-transform invariance") {
    val rnd = new scala.util.Random(29)
    // scores on an exact dyadic grid (multiples of 1/8): ties are EXACT
    // equalities, never 1-ulp near-misses that a transform could
    // collapse or split
    val rows = Seq.fill(1500)(
      (rnd.nextInt(30) / 8.0 + 0.25 * rnd.nextInt(2), rnd.nextInt(2)))
    val df = rows.toDF("s", "y").repartition(8)
    def auc(d: org.apache.spark.sql.DataFrame) =
      Drift.aucRoc(d, "s", "y").collect()(0).getDouble(2)
    val a = auc(df)
    // reversing the score order maps every (avg) rank r -> n + 1 - r,
    // so AUC complements exactly even under ties
    assert(math.abs(a + auc(df.withColumn("s", -col("s"))) - 1.0) < 2e-6)
    // AUC depends on order only. The transform must preserve the TIE
    // structure bit-for-bit, so use an exact binary-FP affine map
    // (power-of-two scale): a transcendental like exp() can collapse
    // two 1-ulp-apart scores into a new tie and legitimately move AUC.
    assert(auc(df.withColumn("s", col("s") * 4.0 + 8.0)) === a)
  }

  test("cohenKappa properties: rater symmetry, label-renaming invariance") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(2000) {
      val a = rnd.nextInt(4)
      val b = if (rnd.nextInt(10) < 7) a else rnd.nextInt(4)
      (s"l$a", s"l$b")
    }
    val df = rows.toDF("a", "b").repartition(8)
    def kappa(d: org.apache.spark.sql.DataFrame, x: String, y: String) =
      Drift.cohenKappa(d, x, y).collect()(0).getDouble(4)
    val k = kappa(df, "a", "b")
    assert(kappa(df, "b", "a") === k) // po and pe are both symmetric
    // bijective label renaming changes nothing (kappa sees identity only)
    val renamed = df.select(concat(lit("x_"), col("a")).as("a"),
      concat(lit("x_"), col("b")).as("b"))
    assert(kappa(renamed, "a", "b") === k)
  }

  test("aucRoc matches the local pair-counting definition on random data with heavy ties") {
    val rnd = new scala.util.Random(23)
    // quantized scores force tie runs; mild signal keeps AUC off 0.5
    val rows = Seq.fill(4000) {
      val y = rnd.nextInt(2)
      val s = math.floor((rnd.nextDouble() + 0.25 * y) * 20) / 20
      (s, y)
    }
    val got = Drift.aucRoc(rows.toDF("s", "y").repartition(16), "s", "y")
      .collect()(0)
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    // P(pos > neg) + P(pos == neg)/2, counted over all pairs
    val wins = (for (p <- pos; q <- neg)
      yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
    val want = math.round(wins / (pos.size.toLong * neg.size) * 1e6) / 1e6
    assert((got.getLong(0), got.getLong(1)) === (pos.size.toLong, neg.size.toLong))
    assert(got.getDouble(2) === want)
  }

  test("bradleyTerry: hand-solved 3-item tournament, one exact MM round") {
    // a beats b twice, b beats c once, c beats a once. From P = 10^6:
    // S_a = 2e15 div 2e6 + 1e15 div 2e6 = 1.5e9 -> P_a' = 2e15 div 1.5e9
    //     = 1333333; P_b' = 666666; P_c' = 1e15 div 1e9 = 1000000.
    // Renormalize (t = 2999999, N = 3): floors leave P unchanged.
    // strengths: 1333333/2999999, 666666/2999999, 1000000/2999999.
    val m = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"))
      .toDF("win", "lose")
    val one = Drift.bradleyTerry(m, "win", "lose", iterations = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(one("a") === ((2L, 3L, 0.444444)))
    assert(one("b") === ((1L, 3L, 0.222222)))
    assert(one("c") === ((1L, 2L, 0.333333)))
  }

  test("bradleyTerry: 20 rounds converge to the double MM fit; " +
      "ties/self-matches dropped; zero-win item floors at epsilon") {
    val m = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"),
      ("a", "a")).toDF("win", "lose") // self-match dropped
    val got = Drift.bradleyTerry(m, "win", "lose", iterations = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // driver-side double MM reference (same mean-1 renormalize, no
    // quantization): strengths must agree to ~1e-4 after 20 rounds
    val n = Map(("a", "b") -> 2.0, ("b", "c") -> 1.0, ("a", "c") -> 1.0)
    def nij(x: String, y: String) =
      n.getOrElse((x, y), n.getOrElse((y, x), 0.0))
    val w = Map("a" -> 2.0, "b" -> 1.0, "c" -> 1.0)
    var pi = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    for (_ <- 1 to 20) {
      val nxt = Seq("a", "b", "c").map { i =>
        val s = Seq("a", "b", "c").filter(_ != i)
          .map(j => nij(i, j) / (pi(i) + pi(j))).sum
        i -> w(i) / s
      }.toMap
      val t = nxt.values.sum
      pi = nxt.map { case (k, v) => k -> v * 3 / t }
    }
    val t = pi.values.sum
    val ref = pi.map { case (k, v) => k -> v / t }
    Seq("a", "b", "c").foreach { k =>
      assert(math.abs(got(k) - ref(k)) < 1e-4, s"$k: ${got(k)} vs ${ref(k)}")
    }
    assert(got("a") > got("c") && got("c") > got("b"))

    // an item that never wins gets the epsilon floor, not 0/NaN
    val z = Seq(("a", "z"), ("a", "z"), ("z", "b") /* z wins once */,
      ("a", "b")).toDF("win", "lose")
    val gz = Drift.bradleyTerry(z, "win", "lose", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(gz("b") > 0.0 && gz("b") < gz("z") && gz("z") < gz("a"))
  }

  test("bradleyTerry: driver and distributed routes are bit-identical") {
    // 5 items, uneven match counts, a zero-win item (e) and a
    // degenerate-heavy shape — the route gate must be invisible
    val rnd = new scala.util.Random(7)
    val items = Seq("a", "b", "c", "d", "e")
    val m = Seq.fill(300) {
      val i = items(rnd.nextInt(5)); val j = items(rnd.nextInt(5))
      // bias: earlier letters win more; e never wins
      if (i <= j && i != "e") (i, j) else (j, i)
    }.filter(p => p._1 != p._2).toDF("win", "lose")
    def run(gate: Long) =
      Drift.bradleyTerry(m, "win", "lose", iterations = 20,
          maxDriverPairs = gate)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    val driver = run(1L << 20)   // pairs ≤ 10 → driver route
    val dist = run(0L)           // gate 0 → distributed route
    assert(driver === dist)
    assert(driver.map(_._4).sum > 0.99) // strengths normalize
  }

  test("bradleyTerry distributed route: 90%-skew celebrity fixture, no single-task funnel") {
    // arena-data reality: one celebrity model appears in ~90% of all
    // comparisons. The distributed route's per-round state is keyed by
    // item id, so the celebrity's row receives one T_ij term per
    // opponent — the skew lands in a groupBy(id).agg(sum(...)), which
    // Spark plans with MAP-SIDE PARTIAL aggregation: each input
    // partition pre-sums its celebrity terms and the exchange carries
    // one partial row per partition, never the full edge list to one
    // task. The parity assertion certifies values under skew; the plan
    // assertion certifies the combinable-aggregate shape that makes
    // the skew harmless (a collect_list/struct carrier would lose it).
    val celeb = "c"
    val others = (0 until 40).map(i => f"x$i%02d")
    val m = (others.zipWithIndex.flatMap { case (x, i) =>
      // celebrity plays everyone, uneven counts, some upsets
      Seq.fill(15 + i % 7)((celeb, x)) ++ Seq.fill(i % 3)((x, celeb))
    } ++ others.sliding(2).flatMap {                 // sparse x-vs-x tail
      case Seq(a, b) => Seq((a, b)); case _ => Nil
    }).toDF("win", "lose")
    def run(gate: Long) =
      Drift.bradleyTerry(m, "win", "lose", iterations = 20,
          maxDriverPairs = gate)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    val driver = run(1L << 20)
    val dist = run(0L)
    assert(driver === dist)
    val cRow = driver.find(_._1 == celeb).get
    assert(cRow._3 > driver.filter(_._1 != celeb).map(_._3).max * 5,
      "fixture must actually be celebrity-skewed")
    // shape receipt: the round aggregation (same groupBy(id).agg(sum)
    // form as Drift.bradleyTerry's distributed round) plans as a
    // partial+final aggregate pair — the map-side combine that absorbs
    // per-key skew before the exchange
    val edges = m.groupBy(col("win").as("id"), col("lose").as("opp"))
      .agg(count(lit(1)).as("nij"))
    val roundShape = edges.groupBy("id").agg(sum(col("nij")).as("s"))
    assert(roundShape.queryExecution.executedPlan.toString.contains("partial_sum"),
      "distributed BT round aggregation must be map-side combinable")
  }
}
