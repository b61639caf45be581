package graft.engine

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Property-based invariants (SURVEY.md §5): detector totality, clip
  * bounds, render/coerce round-trips. Uses scalacheck Gen directly
  * (fixed seed, explicit sample loop) — the scalatest bridge artifact
  * is not in the offline cache. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("detector totality: any string column classifies without throwing") {
    val cases: Seq[Seq[String]] = Seq(
      Seq.empty,
      Seq(null, null),
      Seq("", "", ""),
      Seq("\u0000weird", "\t", "  "),
      Seq("2024-01-01", "not-a-date", "42"),
      (1 to 200).map(_.toString),
      Seq.fill(100)("same"),
      Seq("true", "FALSE", "1", "y"),
      Seq("ümlaut", "日本語", "emoji 🎉"))
    cases.zipWithIndex.foreach { case (vals, i) =>
      val df = vals.toDF("c")
      val m = Detector.detect(df)
      assert(SemanticType.all.contains(m("c")._1), s"case $i")
    }
  }

  test("boolean render round-trips through the coercer for every format") {
    BoolFormat.all.filter(_ != BoolFormat.Native).foreach { f =>
      val df = spark.range(500).select(
        Generators.boolean(Some(BooleanStats(0.5, 1, 1, 2, f)), Some(f), seed = 21).as("b"))
      val coerced = df.select(Detector.coerceBoolean(col("b")).as("cb"))
      assert(coerced.filter(col("cb").isNull).count() === 0L, s"format ${f.name}")
    }
  }

  test("numeric sampler respects arbitrary clip bounds") {
    val gen = for {
      mean <- Gen.choose(-1e6, 1e6)
      std <- Gen.choose(0.0, 1e5)
      w <- Gen.choose(1.0, 1e5)
    } yield (mean, std, mean - w, mean + w)
    val cases = Gen.listOfN(10, gen)
      .apply(Gen.Parameters.default, Seed(42L)).getOrElse(Nil)
    assert(cases.size === 10)
    cases.foreach { case (mean, std, lo, hi) =>
      val stats = NumericStats(mean, std, mean, lo, hi, 0, 0, lo, hi, 100)
      val r = row1(spark.range(500)
        .select(Generators.numeric(stats, isInteger = false, seed = 5).as("x"))
        .agg(min("x").as("mn"), max("x").as("mx")))
      // bround(clip(x)) can round half-even to 2dp just past the bound
      assert(r("mn").asInstanceOf[Double] >= lo - 0.005)
      assert(r("mx").asInstanceOf[Double] <= hi + 0.005)
    }
  }

  test("date render round-trips through the parser for all 3 formats") {
    val fmts = Seq("YYYY-MM-DD", "MM/DD/YYYY", "DD-MM-YYYY")
    fmts.foreach { f =>
      val epoch = NumericStats(1.6e9, 86400.0 * 50, 1.6e9, 1.5e9, 1.7e9, 0, 0, 0, 0, 100)
      val df = spark.range(300).select(
        Generators.datetime(DatetimeStats(epoch, "", "", f), Some(f), seed = 6).as("d"))
      val parsed = df.select(Detector.tryParseDate(col("d")).as("p"))
      assert(parsed.filter(col("p").isNull).count() === 0L, s"format $f")
    }
  }

  test("fingerprint equality is exactly token-stream equality") {
    val docs = Seq(
      ("a b c", "a  b\tc", true),
      ("a b c", "a b d", false),
      ("Hello!", "hello?", true),
      ("x1 y2", "x1y2", false))
    docs.foreach { case (a, b, same) =>
      val r = Seq((a, b)).toDF("a", "b").select(
        (graft.ops.TextAnalysis.fingerprint(col("a")) ===
          graft.ops.TextAnalysis.fingerprint(col("b"))).as("eq")).collect()(0)
      assert(r.getBoolean(0) === same, s"'$a' vs '$b'")
    }
  }

  test("prefix-filtered jaccard join equals brute force on random corpora") {
    // random word-soup corpora over a small vocabulary (forces heavy
    // shingle sharing, the regime where a buggy prefix bound would
    // drop true pairs) at random thresholds
    val word = Gen.oneOf((0 until 12).map(i => s"w$i"))
    val doc = Gen.chooseNum(3, 14).flatMap(n => Gen.listOfN(n, word))
    val corpus = Gen.listOfN(18, doc)
    val tau = Gen.oneOf(0.2, 0.4, 0.6, 0.8, 1.0)
    var seed = Seed(42L)
    (1 to 4).foreach { round =>
      val docs = corpus(Gen.Parameters.default, seed).get
      val t = tau(Gen.Parameters.default, seed).get
      seed = seed.next
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("id", "text")
      def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .toSet
      val brute = canon(graft.ops.DedupSpec.jaccardPairs(df, "id", "text",
        k = 2, minJaccard = t))
      val pref = canon(graft.ops.Dedup.jaccardJoinPrefix(df, "id", "text",
        minJaccard = t, k = 2))
      assert(pref === brute, s"round $round tau=$t")
    }
  }

  test("containment join: complete vs brute force on random corpora (no prefix false negatives)") {
    val words = Vector("aa","bb","cc","dd","ee","ff","gg","hh","ii","jj")
    def shingles(text: String): Set[String] = {
      val t = text.split(" ").toSeq.filter(_.nonEmpty)
      if (t.isEmpty) Set.empty
      else if (t.size < 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val texts = (0 until 25).map { i =>
        i.toLong -> Seq.fill(4 + rnd.nextInt(9))(words(rnd.nextInt(words.size))).mkString(" ")
      }.toMap
      val corpus = texts.toSeq.toDF("doc_id", "text")
      for (tau <- Seq(0.4, 0.7, 1.0)) {
        val brute = (for {
          a <- texts.keys; b <- texts.keys; if a != b
          sa = shingles(texts(a)); if sa.nonEmpty
          sb = shingles(texts(b))
          c = sa.intersect(sb).size.toDouble / sa.size
          if c >= tau
        } yield (a, b)).toSet
        val fast = graft.ops.Dedup.containmentJoinPrefix(corpus, "doc_id", "text", tau)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(fast === brute, s"seed=$seed tau=$tau")
      }
    }
  }

  test("topKPerGroup: window parity across random skews, k values, tie densities") {
    for (seed <- Seq(5, 6)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 800).map { i =>
        (s"g${if (rnd.nextInt(10) < 7) 0 else rnd.nextInt(4)}", i.toLong,
          rnd.nextInt(12).toDouble) // dense ties
      }
      val df = rows.toDF("grp", "uid", "v").repartition(8)
      for (k <- Seq(1, 4, 50)) {
        val order = Seq(desc("v"), asc("uid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("grp").orderBy(order: _*)
        val plain = df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(1))).toSet
        val salted = graft.ops.Skew.topKPerGroup(df, "grp", col("uid"), k, order)
          .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(1))).toSet
        assert(salted === plain, s"seed=$seed k=$k")
      }
    }
  }

  test("tokenBudgetSample: invariants hold on random corpora") {
    for (seed <- Seq(9, 10)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 120).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(20))("w" + rnd.nextInt(50)).mkString(" "),
          s"s${rnd.nextInt(4)}")
      }.toDF("id", "text", "src")
      for (budget <- Seq(1L, 25L, 10000L)) {
        val got = graft.ops.Corpus.tokenBudgetSample(docs, "id", "text", "src", budget)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        // every pick started under budget; cumulative sums are consistent
        got.foreach { case (_, _, n, cum) =>
          assert(cum - n < budget && n >= 1 && cum >= n)
        }
        // every non-empty source is represented
        val srcs = got.map(_._2).toSet
        assert(srcs === Set("s0", "s1", "s2", "s3"), s"seed=$seed budget=$budget")
        // at the huge budget everything with >= 1 token is taken
        if (budget == 10000L) assert(got.length === 120)
      }
    }
  }
}
