package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("kmvDistinct is exact below k (n_kept = true distinct, est exact)") {
    val df = (0 until 1000).map(i => (i % 37, s"s${i % 11}"))
      .toDF("a", "b").repartition(8)
    val got = Sketch.kmvDistinct(df, Seq("a", "b"), k = 256)
      .collect().map(r => r.getString(0) -> (r.getInt(2), r.getDouble(4))).toMap
    assert(got("a") === ((37, 37.0)))
    assert(got("b") === ((11, 11.0)))
  }

  test("kmvDistinct estimate lands near the true cardinality above k") {
    val df = (0 until 20000).map(i => i.toLong).toDF("x").repartition(16)
    val r = Sketch.kmvDistinct(df, Seq("x"), k = 256).collect()(0)
    assert(r.getInt(2) === 256) // kept exactly k
    val est = r.getDouble(4)
    // KMV relative error ~ 1/sqrt(k) ≈ 6%; allow 4 sigma
    assert(math.abs(est - 20000.0) / 20000.0 < 0.25, s"est=$est")
  }

  test("kmvDistinct merge is partition-invariant (same digests any layout)") {
    val vals = (0 until 5000).map(i => s"v$i")
    val a = Sketch.kmvDistinct(vals.toDF("x").repartition(1), Seq("x"), 64)
      .collect()(0)
    val b = Sketch.kmvDistinct(vals.toDF("x").repartition(32), Seq("x"), 64)
      .collect()(0)
    assert(a.getString(3) === b.getString(3)) // kth hash identical
    assert(a.getDouble(4) === b.getDouble(4))
  }

  test("bottom_k_distinct: duplicate-heavy partitions, serialize/merge round trip") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val k = 16
    val agg = graft.expressions.BottomKDistinct(BoundReference(0, StringType, nullable = true), k)
    // 4 partitions of 500 rows, 40 distinct values each (160 overall),
    // every value repeated 12-13 times; the global bottom k draws from
    // all four partitions
    val parts = (0 until 4).map(p => (0 until 500).map(i => f"v${(i * 7 % 40) * 4 + p}%03d"))
    val bufs = parts.map { vals =>
      val buf = agg.createAggregationBuffer()
      // one reused byte array stands in for the scan's row buffer, the
      // value at an offset inside it as in an UnsafeRow: a value the set
      // kept without copying would change with the next row
      val row = new Array[Byte](16)
      vals.foreach { v =>
        System.arraycopy(v.getBytes("UTF-8"), 0, row, 8, 4)
        agg.update(buf, InternalRow(UTF8String.fromBytes(row, 8, 4)))
      }
      agg.deserialize(agg.serialize(buf))
    }
    val got = agg.eval(bufs.reduce(agg.merge)).asInstanceOf[GenericArrayData]
      .array.map(_.toString).toSeq
    assert(got === parts.flatten.distinct.sorted.take(k))
  }

  test("kmvDistinct matches the legacy distinct+orderBy+limit carrier digest-for-digest") {
    // the r18 BottomKDistinct aggregate must keep EXACTLY the digests
    // the three-stage carrier kept: k smallest distinct md5s per column
    val df = (0 until 4000).map(i => (i % 613, s"t${i % 997}"))
      .toDF("a", "b").repartition(16)
    val k = 128
    val got = Sketch.kmvDistinct(df, Seq("a", "b"), k)
      .collect().map(r => r.getString(0) -> (r.getInt(2), r.getString(3))).toMap
    for (c <- Seq("a", "b")) {
      val legacy = df.select(md5(col(c).cast("string").cast("binary")).as("h"))
        .filter(col("h").isNotNull).distinct().orderBy("h").limit(k)
        .agg(count(lit(1)).cast("int"), max(col("h"))).collect()(0)
      assert(got(c) === ((legacy.getInt(0), legacy.getString(1))), s"col $c")
    }
  }

  test("kmvDistinct excludes nulls and handles all-null columns") {
    val df = Seq((Some(1), Option.empty[String]), (None, None), (Some(2), None))
      .toDF("a", "b")
    val got = Sketch.kmvDistinct(df, Seq("a", "b"), k = 16)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(got("a") === 2)
    assert(!got.contains("b")) // no non-null values → no sketch row
  }

  test("countMin point estimates never underestimate and are exact for unique buckets") {
    val items = Seq.fill(500)("heavy") ++ (0 until 300).map(i => s"tail$i")
    val df = items.toDF("item").repartition(8)
    val sk = Sketch.countMin(df, "item", depth = 4, width = 128, salt = "t")
    val cand = Seq("heavy", "tail0", "absent").toDF("item")
    val est = Sketch.countMinEstimate(sk, cand, "item", 4, 128, "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("heavy") >= 500L)
    assert(est("tail0") >= 1L)
    assert(est("absent") >= 0L) // may collide upward, never negative
    // total mass per depth row equals the stream size
    val mass = sk.groupBy("r").agg(sum("cnt").as("m"))
      .collect().map(_.getLong(1)).toSet
    assert(mass === Set(800L))
  }

  test("countMin sketch size is bounded by depth*width regardless of stream size") {
    val df = (0 until 10000).map(i => s"w$i").toDF("item").repartition(16)
    val sk = Sketch.countMin(df, "item", depth = 2, width = 32, salt = "s")
    assert(sk.count() <= 64)
  }

  test("hllDistinct estimate lands near the truth for large cardinality") {
    val df = (0 until 50000).map(i => s"u$i").toDF("x").repartition(16)
    val r = Sketch.hllDistinct(df, Seq("x")).collect()(0)
    val est = r.getDouble(4)
    // m=256 → std err ~1.04/sqrt(256) ≈ 6.5%; allow 4 sigma
    assert(math.abs(est - 50000.0) / 50000.0 < 0.26, s"est=$est")
    assert(r.getInt(2) === 256) // every register hit at 50k distinct
  }

  test("hllDistinct small range uses linear counting and is near-exact") {
    val df = (0 until 1000).map(i => i % 20).toDF("x").repartition(8)
    val r = Sketch.hllDistinct(df, Seq("x")).collect()(0)
    // 20 distinct, 256 registers: collisions unlikely → n_buckets ≈ 20,
    // linear counting m·ln(m/V) within a couple of percent
    assert(r.getInt(2) >= 18 && r.getInt(2) <= 20)
    assert(math.abs(r.getDouble(4) - 20.0) < 2.5, s"est=${r.getDouble(4)}")
  }

  test("hllDistinct is partition-invariant (registers are a commutative max)") {
    val vals = (0 until 3000).map(i => s"k$i")
    val a = Sketch.hllDistinct(vals.toDF("x").repartition(1), Seq("x")).collect()(0)
    val b = Sketch.hllDistinct(vals.toDF("x").repartition(32), Seq("x")).collect()(0)
    assert(a.getInt(2) === b.getInt(2))
    assert(a.getInt(3) === b.getInt(3))
    assert(a.getDouble(4) === b.getDouble(4))
  }

  test("hllDistinct sketches several columns in one scan, excluding nulls") {
    val df = Seq((Some("a"), Some(1)), (Some("b"), None), (Some("a"), Some(2)))
      .toDF("s", "n")
    val got = Sketch.hllDistinct(df, Seq("s", "n"))
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    // linear counting is exact at this size barring a 2-in-256 collision
    assert(math.abs(got("s") - 2.0) < 0.1)
    assert(math.abs(got("n") - 2.0) < 0.1)
  }

  test("hllDistinctBy tracks per-group truth; groups never bleed") {
    val rows = (0 until 4000).map { i =>
      val g = s"g${i % 4}"
      // group g0 has 10 distinct values, g1 100, g2 500, g3 1000
      // (i/4 enumerates 0..999 within each group — no stride aliasing)
      val card = Seq(10, 100, 500, 1000)(i % 4)
      (g, s"$g-v${(i / 4) % card}")
    }
    val got = Sketch.hllDistinctBy(rows.toDF("g", "v").repartition(16), "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(math.abs(got("g0") - 10.0) < 1.0)      // linear counting, near-exact
    assert(math.abs(got("g1") - 100.0) / 100.0 < 0.15)
    assert(math.abs(got("g2") - 500.0) / 500.0 < 0.25)
    assert(math.abs(got("g3") - 1000.0) / 1000.0 < 0.25)
  }

  test("kmvJaccard is EXACT when both vocabularies fit below k") {
    // A = {a..j} (10), B = {f..o} (10), A∩B = {f..j} (5), A∪B = 15
    val a = ('a' to 'j').map(_.toString).toDF("v")
    val b = ('f' to 'o').map(_.toString).toDF("v")
    val r = Sketch.kmvJaccard(a, b, "v", k = 256).collect()(0)
    assert(r.getInt(1) === 15)                        // n_kept = |union|
    assert(r.getDouble(3) === 15.0)                   // union exact
    assert(r.getLong(4) === 5L)                       // n_common
    assert(math.abs(r.getDouble(5) - 5.0 / 15) < 1e-6) // jaccard exact
    assert(math.abs(r.getDouble(6) - 5.0) < 1e-6)     // intersection exact
  }

  test("kmvJaccardByGroup matches pairwise kmvJaccard for every pair") {
    val rows =
      (0 until 100).map(i => ("s1", s"a$i")) ++
      (0 until 100).map(i => ("s2", s"a${i + 50}")) ++   // 50 shared with s1
      (0 until 30).map(i => ("s3", s"z$i"))              // disjoint
    val df = rows.toDF("g", "v").repartition(8)
    val matrix = Sketch.kmvJaccardByGroup(df, "g", "v", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getInt(3), r.getLong(6), r.getDouble(7)))).toMap
    for (Seq(a, b) <- Seq("s1", "s2", "s3").combinations(2)) {
      val pw = Sketch.kmvJaccard(
          df.filter(col("g") === a).select("v"),
          df.filter(col("g") === b).select("v"), "v", k = 64)
        .collect()(0)
      assert(matrix((a, b)) === ((pw.getInt(1), pw.getLong(4), pw.getDouble(5))),
        s"pair ($a,$b)")
    }
    // disjoint pair estimates zero overlap
    assert(matrix(("s1", "s3"))._2 === 0L)
    assert(matrix(("s1", "s3"))._3 === 0.0)
  }

  test("kmvJaccard estimates overlap within sketch error above k") {
    // |A|=6000, |B|=6000, |A∩B|=2000 → union 10000, J = 0.2
    val a = (0 until 6000).map(i => s"x$i").toDF("v").repartition(8)
    val b = (4000 until 10000).map(i => s"x$i").toDF("v").repartition(8)
    val r = Sketch.kmvJaccard(a, b, "v", k = 256).collect()(0)
    assert(r.getInt(1) === 256)
    assert(math.abs(r.getDouble(3) - 10000.0) / 10000.0 < 0.25, s"union=${r.getDouble(3)}")
    assert(math.abs(r.getDouble(5) - 0.2) < 0.1, s"jac=${r.getDouble(5)}")
    assert(math.abs(r.getDouble(6) - 2000.0) / 2000.0 < 0.5, s"inter=${r.getDouble(6)}")
  }

  test("histQuantiles: exact on uniform data, error bounded by bin width") {
    // 0..9999 uniform: q50 ~ 5000, q99 ~ 9900; bin width 10000/256 ~ 39
    val df = (0 until 10000).map(_.toDouble).toDF("v").repartition(8)
    val out = Sketch.histQuantiles(df, "v", nBins = 256,
      qs = Seq(0.5, 0.99, 0.01)).collect()
    assert(out.map(_.getDouble(0)).toSeq === Seq(0.01, 0.5, 0.99)) // sorted
    val got = out.map(r => r.getDouble(0) -> r.getDouble(4)).toMap
    val binW = 9999.0 / 256
    assert(math.abs(got(0.5) - 5000.0) <= binW, s"q50=${got(0.5)}")
    assert(math.abs(got(0.99) - 9900.0) <= binW, s"q99=${got(0.99)}")
    assert(math.abs(got(0.01) - 100.0) <= binW, s"q01=${got(0.01)}")
  }

  test("histQuantiles: constant column, nulls/NaN excluded, bad args") {
    val df = Seq(Some(7.0), Some(7.0), None, Some(Double.NaN))
      .toDF("v")
    val out = Sketch.histQuantiles(df, "v", nBins = 16, qs = Seq(0.0, 1.0))
      .collect()
    assert(out.forall(_.getDouble(4) === 7.0))
    assert(out.forall(_.getLong(1) === 2L)) // n counts the two real values
    intercept[IllegalArgumentException] {
      Sketch.histQuantiles(df, "v", nBins = 1, qs = Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Sketch.histQuantiles(df, "v", nBins = 16, qs = Seq(1.5))
    }
  }

  test("histQuantiles: partition-count invariant (mergeable bin counts)") {
    val vals = (0 until 5000).map(i => (i * 37 % 1000).toDouble)
    val one = Sketch.histQuantiles(vals.toDF("v").repartition(1), "v", 64,
      Seq(0.25, 0.75)).collect().map(_.getDouble(4)).toSeq
    val many = Sketch.histQuantiles(vals.toDF("v").repartition(13), "v", 64,
      Seq(0.25, 0.75)).collect().map(_.getDouble(4)).toSeq
    assert(one === many)
  }

  test("kmvFinish agrees with kmvDistinct's estimator row") {
    import org.apache.spark.sql.functions._
    val df = (0 until 3000).map(i => s"u$i").toDF("v").repartition(6)
    val viaOp = Sketch.kmvDistinct(df, Seq("v"), k = 128).collect()(0)
    val hashes = df.select(md5(col("v").cast("binary")).as("h"))
    val viaFinish = Sketch.kmvFinish(hashes, "h", k = 128).collect()(0)
    // (k, n_kept, kth_hash, est) must match the batch sketch exactly
    assert(viaFinish.getInt(0) === 128)
    assert(viaFinish.getInt(1) === viaOp.getInt(2))
    assert(viaFinish.getString(2) === viaOp.getString(3))
    assert(viaFinish.getDouble(3) === viaOp.getDouble(4))
  }

  test("kmvFinish is exact below k") {
    import org.apache.spark.sql.functions._
    val hashes = (0 until 50).map(i => s"x$i").toDF("v")
      .select(md5(col("v").cast("binary")).as("h"))
    val r = Sketch.kmvFinish(hashes, "h", k = 128).collect()(0)
    assert(r.getInt(1) === 50 && r.getDouble(3) === 50.0)
  }

  test("histQuantilesBy: constant group collapses to bin 0 at the constant; empty input yields no rows") {
    import org.apache.spark.sql.functions._
    val df = Seq(("c", 7.5), ("c", 7.5), ("c", 7.5), ("m", 1.0), ("m", 2.0))
      .toDF("g", "v")
    val out = Sketch.histQuantilesBy(df, "g", "v", nBins = 16,
        qs = Seq(0.5, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(4), r.getDouble(5)))).toMap
    // hi = lo: every row in bin 0, every estimate exactly the constant
    assert(out(("c", 0.5)) === ((0L, 7.5)))
    assert(out(("c", 0.99)) === ((0L, 7.5)))
    // the two-point group still interpolates inside its bins
    assert(out(("m", 0.5))._2 >= 1.0 && out(("m", 0.5))._2 <= 2.0)
    val none = Sketch.histQuantilesBy(
      Seq.empty[(String, Double)].toDF("g", "v"), "g", "v", 16, Seq(0.5))
    assert(none.count() === 0L)
  }

  test("histQuantilesBy equals the global sketch run per group") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(47)
    val rows = (0 until 600).map { i =>
      val g = s"g${i % 3}"
      // distinct per-group shapes so frames genuinely differ
      val v = (i % 3) match {
        case 0 => rnd.nextDouble() * 100
        case 1 => 500 + rnd.nextGaussian() * 20
        case _ => math.exp(rnd.nextDouble() * 5)
      }
      (g, v)
    } :+ (("gnull", Double.NaN)) :+ ((null.asInstanceOf[String], 1.0))
    val df = rows.toDF("g", "v")
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val by = Sketch.histQuantilesBy(df, "g", "v", nBins = 32, qs = qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // null group dropped; NaN-only group has no surviving rows
    assert(by.keys.map(_._1).toSet === Set("g0", "g1", "g2"))
    Seq("g0", "g1", "g2").foreach { g =>
      val solo = Sketch.histQuantiles(df.filter(col("g") === g), "v",
          nBins = 32, qs = qs)
        .collect().map(r => r.getDouble(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      qs.foreach { q =>
        assert(by((g, q)) === solo(q), s"g=$g q=$q")
      }
    }
  }
}
