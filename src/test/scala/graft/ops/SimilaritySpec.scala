package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f)),
    (12L, Array(1.0f, 1.0f)), (13L, Array(-1.0f, 0.0f)),
    (14L, Array(0.9f, 0.1f))).toDF("id", "v")

  private def queries = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "v")

  test("cosine expression: known angles") {
    val df = Seq((Array(1.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.collect()(0).getDouble(0) - math.sqrt(2) / 2) < 1e-12)
  }

  test("brute-force top-k ranks by cosine with id tiebreak") {
    val got = Similarity.bruteForceTopK(queries, corpus, "id", "v", "id", "v", k = 3)
      .orderBy("rank").collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(got.toSeq === Seq((1, 10L), (2, 14L), (3, 12L)))
  }

  test("scalable top-k variant returns identical results") {
    // hand-computed case over a corpus spread across 4 partitions, with
    // exact sim ties (20 duplicates 10; 21 is 11 scaled) that must break
    // toward the lower id across partition heaps
    val spread = corpus.union(Seq((20L, Array(1.0f, 0.0f)), (21L, Array(0.0f, 2.0f)))
      .toDF("id", "v")).repartition(4)
    val qs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("id", "v")
    val got = Similarity.bruteForceTopK(qs, spread, "id", "v", "id", "v", 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val (x, y) = (0.9f.toDouble, 0.1f.toDouble) // vector 14, as stored
    val want = Seq(
      (1L, 1, 10L, 1.0), (1L, 2, 20L, 1.0), (1L, 3, 14L, x / math.sqrt(x * x + y * y)),
      (2L, 1, 11L, 1.0), (2L, 2, 21L, 1.0), (2L, 3, 12L, 1.0 / math.sqrt(2.0)))
    assert(got.map(g => (g._1, g._2, g._3)) === want.map(w => (w._1, w._2, w._3)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w._4) < 1e-12, s"$g vs $w") }
  }

  test("denseFloor: scan-rooted and repartition(n) frames pass, a post-aggregate frame is rejected") {
    val want = spark.sparkContext.defaultParallelism
    assert(Similarity.denseFloor(corpus, "id").rdd.getNumPartitions >= want)
    assert(Similarity.denseFloor(corpus.repartition(want + 1), "id")
      .rdd.getNumPartitions === want + 1)
    val agg = corpus.groupBy("id").agg(first(col("v")).as("v"))
    val e = intercept[Similarity.NotScanRootedException](Similarity.denseFloor(agg, "id"))
    assert(e.getMessage.contains("ENSURE_REQUIREMENTS"))
    intercept[Similarity.NotScanRootedException](
      Similarity.denseFloor(corpus.repartition(col("id")), "id"))
  }

  test("IVF top-k finds the exact-match neighbor with few probes") {
    // 40-vector corpus: 4 obvious clusters along axes
    val base = (0 until 40).map { i =>
      val v = Array.fill(4)(0.01f * (i % 3))
      v(i % 4) = 1.0f
      (i.toLong + 100, v)
    }.toDF("id", "v")
    val q = Seq((1L, { val v = Array(0.0f, 0.0f, 0.0f, 0.0f); v(2) = 1.0f; v }))
      .toDF("id", "v")
    val got = Similarity.ivfTopK(q, base, "id", "v", "id", "v",
      k = 5, nCentroids = 8, nprobe = 4)
      .collect().map(r => r.getAs[Long]("neighbor_id"))
    // all returned neighbors are cluster-2 vectors (id % 4 == 2 - 100 offset)
    assert(got.nonEmpty)
    assert(got.forall(id => (id - 100) % 4 == 2))
  }

  test("cosinePairs honors threshold") {
    val pairs = Similarity.cosinePairs(corpus, "id", "v", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 14L)))    // cos ≈ 0.9939
    assert(!pairs.contains((10L, 12L)))   // cos ≈ 0.707
  }

  test("k-means centroids improve IVF recall on clustered data with bad seeds") {
    // 4 tight clusters along axes in R^4; the 4 LOWEST ids (the seed
    // centroids) all sit in cluster 0, so seed-IVF partitions the space
    // badly; 5 Lloyd rounds must separate the centroids and recover
    // recall with nprobe=1
    val rnd = new scala.util.Random(7)
    // member noise (0.3) is large vs the seeds' spread (0.02), so under
    // seed centroids each member's assignment is driven by its OWN noise
    // → members of one cluster scatter across partitions
    val vecs = (0 until 4).map { i => // ids 0..3: all cluster 0
      (i.toLong, Array.tabulate(4)(j => (if (j == 0) 1.0f else 0.0f) + 0.02f * rnd.nextFloat()))
    } ++ (4 until 84).map { i =>       // ids 4..83: round-robin clusters
      val c = i % 4
      (i.toLong, Array.tabulate(4)(j => (if (j == c) 1.0f else 0.0f) + 0.3f * rnd.nextFloat()))
    }
    val corpus = vecs.toDF("id", "v")
    val qs = Seq((1000L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (1001L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("id", "v")
    def recall(kmIters: Int): Double = {
      val truth = Similarity.bruteForceTopK(qs, corpus, "id", "v", "id", "v", 5)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val got = Similarity.ivfTopK(qs, corpus, "id", "v", "id", "v",
        k = 5, nCentroids = 4, nprobe = 1, kmeansIterations = kmIters)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val seedRecall = recall(0)
    val kmRecall = recall(5)
    assert(kmRecall > seedRecall,
      s"kmeans recall $kmRecall should beat seed recall $seedRecall")
    assert(kmRecall >= 0.9, s"kmeans recall $kmRecall")
  }

  test("hardNegatives: nearest different-label neighbors only, heap form exact") {
    // two tight label clusters + one near-miss cross-label vector: the
    // nearest SAME-label vector must be skipped, the near-miss found
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), "en"),
      (1L, Array(0.99f, 0.1f, 0.0f), "en"),   // closest overall — same label
      (2L, Array(0.9f, 0.2f, 0.0f), "fr"),    // closest cross-label
      (3L, Array(0.0f, 1.0f, 0.0f), "fr"),
      (4L, Array(0.0f, 0.9f, 0.3f), "de"))
      .toDF("id", "v", "lang").repartition(4)
    val got = Similarity.hardNegatives(
        vecs.filter(col("id") === 0), vecs,
        "id", "v", "lang", "id", "v", "lang", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1, 2L), (0L, 2, 3L)).map {
      case (q, rk, n) => (q, rk, n) })
    // ground truth vs a per-query filtered brute force
    val truth = Similarity.bruteForceTopK(
        vecs.filter(col("id") === 0), vecs.filter(col("lang") =!= "en"),
        "id", "v", "id", "v", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === truth.toSeq)
  }

  test("k-means centroids: reliable-checkpoint mode returns identical results") {
    val rnd = new scala.util.Random(3)
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(4)(j => (if (j == i % 3) 1.0f else 0.0f) + 0.2f * rnd.nextFloat()))
    }.toDF("id", "v")
    def run() = Similarity.kmeansCentroids(corpus, "id", "v", k = 3, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try assert(run() === local)
    finally {
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
  }

  test("cosinePairsBlocked tiles a corpus larger than one block") {
    // 120 vectors in 3 directions; blockSize=25 forces the multi-block
    // path (5 blocks) — results must equal the exact join form
    val big = (0 until 120).map { i =>
      val v = Array(0.0f, 0.0f, 0.0f); v(i % 3) = 1.0f + 0.001f * (i / 3)
      (i.toLong, v)
    }.toDF("id", "v")
    val exact = Similarity.cosinePairs(big, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiled = Similarity.cosinePairsBlocked(big, "id", "v", 0.999, blockSize = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(tiled === exact)
    // single-block path agrees too
    val single = Similarity.cosinePairsBlocked(big, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single === exact)
  }

  test("cosinePairsAuto routes: exact below the row threshold, bucketed above") {
    val rnd = new scala.util.Random(29)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 10).map { i =>
      (1000L + i, base(i)._2.map(x => x + 1e-4f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("id", "v")
    val exact = Similarity.cosinePairs(df, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // below threshold → blocked exact kernel
    val small = Similarity.cosinePairsAuto(df, "id", "v", 0.999, maxExactRows = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small === exact)
    // above threshold → bucketed LSH kernel (full recall at defaults here)
    val routed = Similarity.cosinePairsAuto(df, "id", "v", 0.999, maxExactRows = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed === exact)
  }

  test("bucketed near-dup finds all near-identical pairs without an all-pairs join") {
    val rnd = new scala.util.Random(11)
    // 80 well-spread base vectors + 20 near-identical copies (the dups)
    val base = (0 until 80).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    }
    val dups = (0 until 20).map { i =>
      val src = base(i)._2
      (1000L + i, src.map(x => x + 1e-4f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("id", "v")
    val exact = Similarity.cosinePairs(df, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.cosineNearDupBucketed(df, "id", "v", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20)               // every dup pair is above threshold
    assert(bucketed === exact)             // full recall at these settings
  }

  /** Spark jobs of one cosineNearDupBucketed collect on the fixture
    * above, as measured: no side action beyond the result's own. */
  private val BucketedJobBudget = 9

  test("cosineNearDupBucketed stays within its Spark job budget") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 80).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 20).map { i =>
      (1000L + i, base(i)._2.map(x => x + 1e-4f * rnd.nextGaussian().toFloat)) }
    val df = (base ++ dups).toDF("id", "v")
    val (rows, jobs) = withJobCount(
      Similarity.cosineNearDupBucketed(df, "id", "v", 0.999).collect())
    assert(rows.length >= 20)
    assert(jobs <= BucketedJobBudget, s"cosineNearDupBucketed ran $jobs Spark jobs")
  }

  test("cosineNearDupBucketed: hot-bucket re-split keeps exact parity on a clustered corpus") {
    // the q27 sf1 failure shape: a clustered corpus concentrates sign
    // buckets, and occupancy m costs m(m-1)/2 candidates. Fixture: two
    // true-duplicate groups of 30 POSITIVE-SCALED copies each (scaling
    // never flips a projection sign, so each group shares every base
    // AND extension bucket — the un-splittable true-dup mass) plus 40
    // diffuse cluster members (sim ~0.9, below threshold — the
    // splittable skew). maxBucketRows=8 forces the re-split path to
    // execute on every hot bucket; the output must still equal the
    // exact kernel's: re-splitting can separate only pairs that exact
    // verification would reject anyway in this fixture (identical-sign
    // dup groups ride together at any bit count).
    val rnd = new scala.util.Random(41)
    val u1 = Array(1.0f, 0.8f, -0.3f, 0.5f, -0.9f, 0.2f, 0.7f, -0.4f)
    val u2 = u1.map(x => -x)
    val grp1 = (0 until 30).map(i => ((100 + i).toLong, u1.map(_ * (1.0f + i))))
    val grp2 = (0 until 30).map(i => ((200 + i).toLong, u2.map(_ * (1.0f + i))))
    val diffuse = (0 until 40).map { i =>
      (300L + i, u1.map(x => x + 0.5f * rnd.nextGaussian().toFloat))
    }
    val df = (grp1 ++ grp2 ++ diffuse).toDF("id", "v")
    val exact = Similarity.cosinePairs(df, "id", "v", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.cosineNearDupBucketed(df, "id", "v", 0.99,
        maxBucketRows = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both 30-copy groups: all 435 within-group pairs, cosine exactly 1
    assert(exact.size >= 870)
    assert(bucketed === exact)
  }

  test("semantic dedup: within-cluster dups collapse to lowest id, distinct docs survive") {
    val rnd = new scala.util.Random(7)
    // 4 well-separated cluster directions in 8-d; 5 distinct docs per
    // cluster + near-identical copies of the first two docs of cluster 0
    val dirs = (0 until 4).map { c =>
      val v = Array.fill(8)(0.0f); v(c * 2) = 1.0f; v
    }
    val docs = for {
      c <- 0 until 4; i <- 0 until 5
    } yield ((c * 10 + i).toLong,
      dirs(c).zipWithIndex.map { case (x, j) =>
        x + 0.15f * ((i * 31 + j * 17) % 7 - 3) / 3f })
    val dups = Seq(
      (100L, docs(0)._2.map(x => x + 1e-5f * rnd.nextGaussian().toFloat)),
      (101L, docs(1)._2.map(x => x + 1e-5f * rnd.nextGaussian().toFloat)))
    val df = (docs ++ dups).toDF("id", "v")
    val kept = Similarity.semanticDedup(df, "id", "v", nClusters = 4,
      threshold = 0.9999).select("id").collect().map(_.getLong(0)).toSet
    // copies die, originals survive (lowest id in each dup group)
    assert(kept.contains(0L) && kept.contains(1L))
    assert(!kept.contains(100L) && !kept.contains(101L))
    // every distinct doc survives
    assert(docs.map(_._1).toSet.subsetOf(kept))
  }

  test("semantic dedup pairs: bounded to within-cluster comparisons") {
    // two antipodal clusters, one seed centroid in each (ids 1, 2 are
    // the two lowest ids): near-dup pairs INSIDE a cluster surface,
    // and no cross-cluster pair exists above the threshold
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(1.0f, 1e-6f)), (4L, Array(-1.0f, -1e-6f))).toDF("id", "v")
    val pairs = Similarity.semanticDedupPairs(df, "id", "v", nClusters = 2,
      threshold = 0.999).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)))
    assert(pairs.contains((2L, 4L)))
    assert(pairs.size === 2) // no cross-cluster pair even exists
  }

  test("hyperplane LSH bucket: deterministic, groups identical vectors") {
    val bucket = Similarity.hyperplaneBucket(spark, dim = 3, nBits = 8)
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)),
      (3L, Array(-1.0f, -2.0f, -3.0f)), (4L, Array(0.3f, -0.7f, 0.2f)),
      (5L, Array(0.0f, 0.0f, 0.0f)), (6L, null)).toDF("id", "v")
      .select(col("id"), bucket(transform(col("v"), _.cast("double"))).as("b"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L)) // antipodal vectors flip every bit
    assert(m(1L).length === 8 && m(1L).forall(c => c == '0' || c == '1'))
    // golden bit strings of the q112 oracle's formula: the sum of
    // element·component terms, left to right, bit = (sum >= 0)
    assert(m(1L) === "10010110")
    assert(m(4L) === "01101001")
    assert(m(5L) === "11111111") // a zero projection counts as >= 0
    assert(m(6L) === null)
  }

  test("rrfFuse: known ranks fuse to exact reciprocal sums") {
    // ranker A: doc1 > doc2 > doc3; ranker B: doc3 > doc1 (doc2 absent)
    val a = Seq((1L, 9.0), (2L, 5.0), (3L, 1.0)).toDF("id", "s")
    val b = Seq((3L, 0.9), (1L, 0.2)).toDF("id", "s")
    val got = Similarity.rrfFuse(Seq(a, b), "id", "s", k0 = 60)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    def rr(r: Int) = 1.0 / (60.0 + r)
    def rnd6(x: Double) = math.round(x * 1e6) / 1e6
    assert(got(1L) === ((rnd6(rr(1) + rr(2)), 2)))
    assert(got(2L) === ((rnd6(rr(2)), 1)))
    assert(got(3L) === ((rnd6(rr(3) + rr(1)), 2)))
  }

  test("rrfFuse breaks score ties by ascending id") {
    val a = Seq((5L, 1.0), (2L, 1.0), (9L, 1.0)).toDF("id", "s")
    val got = Similarity.rrfFuse(Seq(a), "id", "s")
      .orderBy(desc("rrf")).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 5L, 9L)) // rank 1,2,3 → contributions descend
  }

  test("retrievalMetrics: hand-computed recall/MRR/DCG/nDCG") {
    def ranks(rows: Seq[(Long, Int, Long)]) =
      rows.toDF("query_id", "rank", "neighbor_id")
    // truth for q1: neighbors 101..105 (k=5)
    val truth = ranks((1 to 5).map(r => (1L, r, 100L + r)))
    // retrieved: rank1=101 (hit), rank2=999 (miss), rank3=103 (hit),
    // rank4=998 (miss), rank5=105 (hit)
    val retr = ranks(Seq((1L, 1, 101L), (1L, 2, 999L), (1L, 3, 103L),
      (1L, 4, 998L), (1L, 5, 105L)))
    val r = Similarity.retrievalMetrics(truth, retr, k = 5).collect()(0)
    assert(r.getLong(1) === 5L && r.getLong(2) === 3L)
    assert(r.getDouble(3) === 3.0 / 5)                 // recall
    assert(r.getDouble(4) === 1.0)                     // MRR: first hit rank 1
    val ln2 = math.log(2.0)
    def g(x: Int) = ln2 / math.log(x + 1.0)
    val dcg = g(1) + g(3) + g(5)
    val idcg = (1 to 5).map(g).sum
    assert(math.abs(r.getDouble(5) - dcg) < 1e-12)
    assert(math.abs(r.getDouble(6) - dcg / idcg) < 1e-12)
  }

  test("retrievalMetrics: zero hits and k-truncation") {
    def ranks(rows: Seq[(Long, Int, Long)]) =
      rows.toDF("query_id", "rank", "neighbor_id")
    val truth = ranks(Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L)))
    // rank-4 truth beyond k must not count as relevant at k=3
    val retr = ranks(Seq((1L, 1, 99L), (1L, 2, 98L), (1L, 3, 97L)))
    val r = Similarity.retrievalMetrics(truth, retr, k = 3).collect()(0)
    assert(r.getLong(2) === 0L && r.getDouble(3) === 0.0 &&
      r.getDouble(4) === 0.0 && r.getDouble(5) === 0.0 &&
      r.getDouble(6) === 0.0)
    intercept[IllegalArgumentException] {
      Similarity.retrievalMetrics(truth, retr, k = 0)
    }
  }

  test("knnDensity: outliers score high, clump members low, self dropped") {
    import spark.implicits._
    // 5 near-identical vectors + 1 orthogonal outlier
    val vecs = (0L to 4L).map(i => (i, Array(1f, 0.01f * i, 0f))) :+
      (5L, Array(0f, 0f, 1f))
    val df = vecs.toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(df, df,
      "vec_id", "embedding", "vec_id", "embedding", k = 4)
    val out = Similarity.knnDensity(topk, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.size === 6)
    out.foreach { case (_, (n, _, _)) => assert(n === 3L) }
    val clumpScores = (0L to 4L).map(out(_)._3)
    val outlierScore = out(5L)._3
    // the outlier is far from everything: highest density score
    assert(outlierScore > clumpScores.max + 0.5,
      s"outlier $outlierScore vs clump ${clumpScores.max}")
    // clump members are nearly coincident: avg_sim ~ 1, score ~ 0
    assert(clumpScores.forall(_ < 0.01))
    // avg_sim + density_score = 1 by construction (round-trip)
    out.values.foreach { case (_, a, d) =>
      assert(math.abs(a + d - 1.0) < 2e-6) }
    intercept[IllegalArgumentException] {
      Similarity.knnDensity(topk, k = 0)
    }
  }

  test("simplifiedSilhouette matches a local recomputation and separates clean clusters") {
    val rnd = new scala.util.Random(41)
    // two well-separated direction clusters in 8 dims
    def around(base: Array[Float]): Array[Float] =
      base.map(x => x + rnd.nextFloat() * 0.05f)
    val a = Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f, 0f, 0f, 1f, 0f)
    val data = (0L until 30L).map(i =>
      (i, if (i % 2 == 0) around(a) else around(b))).toDF("vec_id", "embedding")
    val out = Similarity.simplifiedSilhouette(data, "vec_id", "embedding",
      k = 2, iterations = 3).orderBy("centroid_id").collect()
    assert(out.length === 2)
    assert(out.map(_.getLong(1)).sum === 30L)
    // clean separation: strongly positive mean silhouette everywhere
    out.foreach(r => assert(r.getDouble(2) > 0.5, r.toString))

    // local parity: recompute per-point s from the SAME centroids
    val cents = Similarity.kmeansCentroids(data, "vec_id", "embedding", 2, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      val nx = math.sqrt(x.map(p => p * p).sum)
      val ny = math.sqrt(y.map(p => p * p).sum)
      if (nx == 0 || ny == 0) 0.0 else d / (nx * ny)
    }
    val pts = data.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val per = pts.map { case (_, v) =>
      val sims = cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }
      val own = sims(0); val other = sims(1)
      val da = 1 - own._2; val db = 1 - other._2
      (own._1, if (math.max(da, db) == 0) 0.0 else (db - da) / math.max(da, db))
    }
    val want = per.groupBy(_._1).map { case (cid, xs) =>
      cid -> (xs.length.toLong, xs.map(_._2).sum / xs.length)
    }
    out.foreach { r =>
      val (n, m) = want(r.getLong(0))
      assert(r.getLong(1) === n)
      assert(math.abs(r.getDouble(2) - m) < 1e-6)
    }

    intercept[IllegalArgumentException] {
      Similarity.simplifiedSilhouette(data, "vec_id", "embedding", 1, 1)
    }
  }

  test("matryoshkaRecall matches a local brute-force replay; full width is the 1.0 self-audit") {
    val rnd = new scala.util.Random(17)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    val qs = (0L until 3L).map(i => (i, vec()))
    val cs = (10L until 40L).map(i => (i, vec()))
    val dims = Seq(2, 4, 8, 16)
    val k = 5
    val out = Similarity.matryoshkaRecall(
      qs.toDF("id", "v"), cs.toDF("id", "v"), "id", "v", "id", "v", dims, k)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

    def topk(m: Int, q: Array[Float]): Seq[Long] = {
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      val qd = q.take(m).map(_.toDouble).toSeq
      cs.map { case (cid, cv) =>
        (cid, cos(qd, cv.take(m).map(_.toDouble).toSeq)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(k).map(_._1)
    }
    qs.foreach { case (qid, qv) =>
      val truth = topk(dim, qv).toSet
      dims.foreach { m =>
        val overlap = topk(m, qv).count(truth.contains).toLong
        val (gotN, gotR) = out((qid, m))
        assert(gotN === overlap, s"q=$qid m=$m")
        assert(math.abs(gotR - overlap.toDouble / k) < 1e-9)
      }
      assert(out((qid, dim))._2 === 1.0) // full width vs itself
    }
    assert(out.size === qs.size * dims.length)
  }

  test("matryoshkaRecall ignores dimensions beyond dims.max entirely") {
    val rnd = new scala.util.Random(37)
    def vec(n: Int) = Array.fill(n)(rnd.nextFloat() - 0.5f)
    val qs = (0L until 3L).map(i => (i, vec(8)))
    val cs = (10L until 30L).map(i => (i, vec(8)))
    def run(q: Seq[(Long, Array[Float])], c: Seq[(Long, Array[Float])]) =
      Similarity.matryoshkaRecall(q.toDF("id", "v"), c.toDF("id", "v"),
        "id", "v", "id", "v", Seq(2, 4, 8), topK = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
    val base = run(qs, cs)
    // junk tail past dims.max = 8 must be invisible (slices read 1..m)
    val junked = run(qs.map { case (i, v) => (i, v ++ vec(5)) },
      cs.map { case (i, v) => (i, v ++ vec(5)) })
    assert(junked === base)
  }

  test("matryoshkaRecall: short/null vectors dropped, dims validated") {
    val qs = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val cs = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(1.0f, 0.0f)),                   // too short: dropped
      (12L, null.asInstanceOf[Array[Float]])      // null: dropped
    ).toDF("id", "v")
    val rows = Similarity.matryoshkaRecall(qs, cs, "id", "v", "id", "v",
      Seq(2, 4), topK = 5).collect()
    assert(rows.length === 2)
    // only neighbor 10 survives, so overlap is 1 of min(k, corpus)=1 at both widths
    assert(rows.forall(_.getLong(2) === 1L))
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaRecall(qs, cs, "id", "v", "id", "v", Seq(4, 2), 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaRecall(qs, cs, "id", "v", "id", "v", Seq(2, 4), 0)
    }
  }
}
