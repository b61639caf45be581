package graft.ops

import graft.SparkSpec

class ProjectionSpec extends SparkSpec {
  import spark.implicits._

  test("PCA(2) of data lying in a 2-D plane preserves pairwise distances") {
    // 4-D points in the plane spanned by e1, e2 (+ fixed offset in e3)
    val pts = Seq(
      (1L, Array(0.0f, 0.0f, 5.0f, 0.0f)),
      (2L, Array(3.0f, 0.0f, 5.0f, 0.0f)),
      (3L, Array(0.0f, 4.0f, 5.0f, 0.0f)),
      (4L, Array(3.0f, 4.0f, 5.0f, 0.0f))).toDF("id", "v")
    val pc = Projection.pca(pts, "id", "v", k = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def d(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    assert(math.abs(d(pc(1L), pc(2L)) - 3.0) < 1e-6)
    assert(math.abs(d(pc(1L), pc(3L)) - 4.0) < 1e-6)
    assert(math.abs(d(pc(1L), pc(4L)) - 5.0) < 1e-6)
    assert(pc(1L).length === 2)
  }

  test("whiten: output is zero-mean with identity covariance") {
    import spark.implicits._
    // deterministic correlated 3-dim data: x2 = x0-ish mix
    val rows = (0 until 400).map { i =>
      val a = math.sin(i * 0.7) * 2.0
      val b = math.cos(i * 1.3)
      val c = 0.8 * a + 0.3 * b + math.sin(i * 2.9) * 0.1
      (i.toLong, Array(a.toFloat, b.toFloat, c.toFloat))
    }
    val df = rows.toDF("id", "vec")
    val out = Projection.whiten(df, "id", "vec", d = 3)
      .collect().map(r => Array(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val n = out.length
    assert(n === 400)
    for (i <- 0 until 3; j <- 0 until 3) {
      val mi = out.map(_(i)).sum / n
      val cij = out.map(v => (v(i) - mi) * (v(j) - mi)).sum / (n - 1)
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(cij - want) < 0.02, s"cov($i,$j)=$cij")
    }
    for (i <- 0 until 3)
      assert(math.abs(out.map(_(i)).sum / n) < 1e-5)
  }

  test("whiten: partition-count invariant (decimal sums are exact)") {
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      (i.toLong, Array((i % 17).toFloat / 7f, (i % 5).toFloat, (i % 3).toFloat - 1f))
    }
    val a = Projection.whiten(rows.toDF("id", "vec").repartition(1),
      "id", "vec", 3).collect().map(r => (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    val b = Projection.whiten(rows.toDF("id", "vec").repartition(11),
      "id", "vec", 3).collect().map(r => (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    assert(a === b)
  }

  test("canonical2d: invariant under rotation, reflection, translation") {
    import spark.implicits._
    // fixed irregular point set (no symmetry that could make the
    // canonical frame ambiguous)
    val pts = Seq((1L, 0.3, 1.7), (2L, -2.1, 0.4), (3L, 1.9, -0.8),
      (4L, 0.0, -2.5), (5L, 2.8, 2.2))
    def canon(rows: Seq[(Long, Double, Double)]) =
      Projection.canonical2d(rows.toDF("id", "x", "y"), "id", "x", "y")
        .collect().map(r => (r.getLong(0),
          math.round(r.getDouble(1) * 1e9), math.round(r.getDouble(2) * 1e9)))
        .sortBy(_._1).toSeq
    val base = canon(pts)
    val th = 1.234
    val (c, s) = (math.cos(th), math.sin(th))
    val moved = pts.map { case (id, x, y) => // rotate + reflect y + translate
      (id, x * c - y * s + 5.5, -(x * s + y * c) - 3.25)
    }
    val got = canon(moved)
    base.zip(got).foreach { case ((ia, xa, ya), (ib, xb, yb)) =>
      assert(ia === ib)
      assert(math.abs(xa - xb) <= 50, s"x drift at id $ia: $xa vs $xb") // ≤5e-8
      assert(math.abs(ya - yb) <= 50, s"y drift at id $ia: $ya vs $yb")
    }
    // canonical frame properties: min-id point on the +x axis, second
    // point in the upper half-plane
    assert(base.find(_._1 == 1L).get._3.abs <= 2) // y₁ ≈ 0
    assert(base.find(_._1 == 1L).get._2 > 0)      // x₁ > 0
    assert(base.find(_._1 == 2L).get._3 >= 0)     // y₂ ≥ 0
  }

  test("whiten: rejects degenerate inputs") {
    import spark.implicits._
    val dup = (0 until 50).map(i => (i.toLong, Array(1f, 2f, 3f)))
    intercept[IllegalArgumentException] { // constant -> zero variance
      Projection.whiten(dup.toDF("id", "vec"), "id", "vec", 3)
    }
    intercept[IllegalArgumentException] { // d out of range
      Projection.whiten(dup.toDF("id", "vec"), "id", "vec", 1)
    }
  }

  test("jlTransform: projection matrix rides a broadcast, not a plan literal") {
    // r10 verdict #7: the typedLit form embedded inDim·outDim doubles
    // in every plan string (~820k literals at 3200x256). At a width
    // where the literal matrix would be ~2.9M chars of plan text, the
    // analyzed plan must stay constant-size.
    import spark.implicits._
    val data = Seq((1L, Array.fill(512)(0.5f))).toDF("id", "vec")
    val out = Projection.jlTransform(data, "id", "vec", inDim = 512, outDim = 64)
    val plan = out.queryExecution.analyzed.toString
    assert(plan.length < 10000, s"plan unexpectedly large: ${plan.length} chars")
    assert(out.count() === 64L)
  }

  test("jlTransform: local parity, determinism, seed sensitivity, distance sanity") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val data = (0L until 25L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("id", "vec")
    val m = 8
    val out = Projection.jlTransform(data, "id", "vec", inDim = 32, outDim = m)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.size === 25 * m)

    // local parity: same md5-parity signs, same left fold
    val scale = 1.0 / math.sqrt(m.toDouble)
    def sign(i: Int, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl0:$i:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) scale else -scale
    }
    val orig = data.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    orig.foreach { case (id, v) =>
      (0 until m).foreach { j =>
        var acc = 0.0
        v.zipWithIndex.foreach { case (x, i) => acc += x * sign(i, j) }
        assert(java.lang.Double.doubleToLongBits(out((id, j))) ===
          java.lang.Double.doubleToLongBits(acc), s"id=$id j=$j")
      }
    }

    // determinism + seed sensitivity
    val again = Projection.jlTransform(data, "id", "vec", 32, m)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again === out)
    val other = Projection.jlTransform(data, "id", "vec", 32, m, seed = "jl1")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(other !== out)

    // JL sanity: squared-distance distortion ratios concentrate near 1
    // (E[ratio] = 1, sd ≈ √(2/m) — loose band at m=8, but every pair
    // must stay within a constant factor and the mean must center)
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted.take(10)
    val pairs = for (a <- ids; b <- ids if a < b) yield (a, b)
    val ratios = pairs.map { case (a, b) =>
      d2((0 until m).map(j => out((a, j))), (0 until m).map(j => out((b, j)))) /
        d2(orig(a), orig(b))
    }
    val meanR = ratios.sum / ratios.size
    assert(meanR > 0.7 && meanR < 1.3, s"mean distortion off-center: $meanR")
    assert(ratios.forall(r => r > 0.15 && r < 3.5),
      s"pair distortion outside constant band: min=${ratios.min} max=${ratios.max}")

    // mismatched-dimension rows are dropped (zip_with would null-pad
    // and poison the fold otherwise), matched rows unaffected
    val mixed = data.unionByName(
      Seq((999L, Array.fill(16)(1.0f))).toDF("id", "vec"))
    val mixedOut = Projection.jlTransform(mixed, "id", "vec", 32, m).collect()
    assert(!mixedOut.exists(_.getLong(0) == 999L))
    assert(mixedOut.length === 25 * m)

    intercept[IllegalArgumentException] {
      Projection.jlTransform(data, "id", "vec", 32, 0)
    }
  }

  test("jlTransform: power-of-two input scaling scales outputs exactly; zero vector maps to zero") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val base = (0L until 10L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val both = (base.map { case (i, v) => (i, v) } ++
      base.map { case (i, v) => (i + 100L, v.map(_ * 4.0f)) }) :+
      ((999L, Array.fill(16)(0.0f)))
    val out = Projection.jlTransform(both.toDF("id", "vec"), "id", "vec", 16, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    base.foreach { case (i, _) =>
      (0 until 8).foreach { j =>
        // x4 is exact in binary floating point, so the fold scales exactly
        assert(java.lang.Double.doubleToLongBits(out((i + 100L, j))) ===
          java.lang.Double.doubleToLongBits(out((i, j)) * 4.0), s"i=$i j=$j")
      }
    }
    (0 until 8).foreach(j => assert(out((999L, j)) === 0.0))
  }

  test("jlTransform: a null ELEMENT inside the vector drops the row (HOF null-propagation parity)") {
    import spark.implicits._
    // right length, one null slot — passes the isNotNull/size filter;
    // the zip_with/aggregate form this replaced nulled the whole fold
    // and posexplode then dropped the row, so no output rows may appear
    val holed = Seq(
      (1L, Array[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Array[java.lang.Float](1.0f, null, 3.0f, 4.0f))
    ).toDF("id", "vec")
    val out = Projection.jlTransform(holed, "id", "vec", 4, 3).collect()
    assert(out.forall(_.getLong(0) == 1L))
    assert(out.length === 3)
  }
}
