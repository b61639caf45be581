package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "The Quick Brown FOX jumps over the lazy dog near the river bank today!"), // normalized dup of 1
    (4L, "a completely different document about spark shuffles and partition sizes"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (6L, "entirely unrelated text mentioning embeddings vectors and cosine distance"))
    .toDF("id", "text")

  test("exact dedup groups normalized duplicates under min id") {
    val g = Dedup.exact(docs, "id", "text").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(g(1L) === 3L)   // 1,2,3 collapse
    assert(g(4L) === 1L); assert(g(5L) === 1L); assert(g(6L) === 1L)
    val kept = Dedup.exactDedup(docs, "id", "text").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Seq(1L, 4L, 5L, 6L))
  }

  test("shingles: distinct word 3-grams; short docs fall back to whole text") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text")
      .select(col("id"), Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).toSet === Set("a b c", "b c d"))
    assert(sh(2L) === Seq("a b"))
  }

  test("minhash LSH surfaces exact and near duplicates as candidates") {
    val pairs = Dedup.minhashCandidates(docs, "id", "text", numHashes = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(pairs.contains((2L, 3L)))
    // near-dup differs in 1 word of 13 → most bands still collide
    assert(pairs.exists(p => p._1 == 1L && p._2 == 5L || p._1 == 5L))
    assert(!pairs.contains((4L, 6L)))
  }

  private val fox = "the quick brown fox jumps over the lazy dog near the river bank today"

  /** Edge inputs of the MinHash-LSH family: NULL, empty and
    * shorter-than-k texts (one shingle each), a text repeating its
    * shingles next to a shorter one with the same distinct set, a
    * 3-document exact-duplicate cluster (6, 7, 8 — 8 differs only in
    * case and punctuation), a near-dup (9), a doc sharing bands 1 and 3
    * but not band 0 with the cluster (13), an unrelated doc and a NULL
    * id. */
  private def edgeDocs = (Seq(
      1L -> null, 2L -> "", 3L -> "hello world", 4L -> "Hello, World!",
      5L -> "a b c a b c a b c a b c", 6L -> fox, 7L -> fox,
      8L -> "THE QUICK brown fox jumps over the lazy dog near the river bank today!!",
      9L -> "the quick brown fox jumps over the lazy dog near the river bank tonight",
      10L -> "entirely unrelated text mentioning embeddings vectors and cosine distance",
      11L -> "a b c a b c",
      12L -> "the quick brown fox leaps over the lazy cat near the river bank today",
      13L -> "yy quick brown fox jumps over the lazy dog near the river bank today")
    .map { case (i, t) => (Option(i), t) } :+ ((None, fox)))
    .toDF("id", "text")

  /** (id_a, id_b) -> jaccard of `edgeDocs` at numHashes 16, bands 4,
    * k 3, minJaccard 0, frozen from the exploded-stream plan (explode +
    * localCheckpoint, signature groupBy, band self-join + distinct,
    * shingle intersection joins) that the per-document kernel replaced. */
  private val edgePairs = Map(
    (1L, 2L) -> 1.0, (3L, 4L) -> 1.0, (5L, 11L) -> 1.0,
    (6L, 7L) -> 1.0, (6L, 8L) -> 1.0, (7L, 8L) -> 1.0,
    (6L, 9L) -> 11.0 / 13, (7L, 9L) -> 11.0 / 13, (8L, 9L) -> 11.0 / 13,
    (6L, 13L) -> 11.0 / 13, (7L, 13L) -> 11.0 / 13, (8L, 13L) -> 11.0 / 13,
    (9L, 13L) -> 10.0 / 14)

  test("MinHash-LSH edge inputs: frozen pairs, each once, Jaccard equal to brute force") {
    def triples(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSeq
    val all = triples(Dedup.lshJaccardDedup(edgeDocs, "id", "text",
      numHashes = 16, bands = 4, k = 3, minJaccard = 0.0))
    assert(all.map(_._1).distinct.size === all.size)
    assert(all.toMap === edgePairs)
    val brute = DedupSpec.jaccardPairs(edgeDocs, "id", "text", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    all.foreach { case (p, j) => assert(j == brute(p), s"$p") }
    assert(triples(Dedup.lshJaccardDedup(edgeDocs, "id", "text")).toMap ===
      edgePairs.filter(_._2 >= 0.8))
    val cand = Dedup.minhashCandidates(edgeDocs, "id", "text", numHashes = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cand.sorted === edgePairs.keys.toSeq.sorted)
    // 6 and 13 collide in bands 1 and 3 only: the pair is emitted at
    // band 1, once
    val sig = edgeDocs.filter(col("id").isin(6L, 13L))
      .select(col("id"), Dedup.minhashSignature(col("text"), 16, 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert((0 until 4).filter(b => sig(6L).slice(4 * b, 4 * b + 4) ==
      sig(13L).slice(4 * b, 4 * b + 4)) === Seq(1, 3))
  }

  test("lshJaccardDedup stays within its Spark job budget") {
    // one per-document pass and one grouped shuffle: 2 jobs under AQE
    // (8 with the checkpointed shingle stream and its joins)
    val (pairs, jobs) = withJobCount(Dedup.lshJaccardDedup(edgeDocs, "id", "text").collect())
    assert(pairs.length === edgePairs.count(_._2 >= 0.8))
    assert(jobs <= 2, s"lshJaccardDedup ran $jobs Spark jobs")
  }

  test("jaccard verification: dup=1.0, near-dup high, unrelated low") {
    val j = DedupSpec.jaccardPairs(docs, "id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(j((1L, 2L)) - 1.0) < 1e-9)
    assert(math.abs(j((1L, 3L)) - 1.0) < 1e-9)
    assert(j((1L, 5L)) > 0.6 && j((1L, 5L)) < 1.0)
    assert(!j.contains((4L, 6L))) // no shared shingles at all
  }

  test("prefix-filtered jaccard join is identical to brute force at every threshold") {
    for (tau <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val brute = DedupSpec.jaccardPairs(docs, "id", "text", k = 3, minJaccard = tau)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .toSet
      val pref = Dedup.jaccardJoinPrefix(docs, "id", "text", minJaccard = tau, k = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .toSet
      assert(pref === brute, s"tau=$tau")
    }
  }

  test("prefix jaccard: exact-threshold pair survives the one-ulp tau*size overshoot") {
    // doc 1 = 55-token subset of doc 2's 100 tokens → J = 55/100 = 0.55
    // exactly. With tau = 0.55, tau·100 = 55.000000000000007 in
    // doubles: an unguarded ceil/size-ratio filter drops the pair
    // (regression: caught by review, fixed with the relative-epsilon
    // relaxation — candidates only widen, the exact verify still gates)
    val toksB = (0 until 100).map(i => f"tok$i%03d")
    val df = Seq(
      (1L, toksB.take(55).mkString(" ")),
      (2L, toksB.mkString(" "))).toDF("id", "text")
    val brute = DedupSpec.jaccardPairs(df, "id", "text", k = 1, minJaccard = 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute === Set((1L, 2L)))
    val pref = Dedup.jaccardJoinPrefix(df, "id", "text", minJaccard = 0.55, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref === brute)
  }

  test("prefix-filtered jaccard join: planted near-dup corpus parity") {
    // 10 base docs × 4 variants with growing tail perturbations: plenty
    // of pairs straddling the threshold in both directions
    val rows = for {
      i <- 0 until 10
      v <- 0 until 4
    } yield {
      val base = (0 until 12).map(w => s"w${i}_$w").mkString(" ")
      val tail = (0 until v * 3).map(w => s"x${i}_${v}_$w").mkString(" ")
      ((i * 4 + v).toLong, s"$base $tail".trim)
    }
    val df = rows.toDF("id", "text")
    val brute = DedupSpec.jaccardPairs(df, "id", "text", k = 3, minJaccard = 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    val pref = Dedup.jaccardJoinPrefix(df, "id", "text", minJaccard = 0.6, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    assert(brute.nonEmpty)
    assert(pref === brute)
  }

  test("jaccardJoinAuto: route parity at the gate boundary (exact-dup anchors)") {
    // the q194/q195 twin contract for the set-similarity family: the
    // gate flips exact-AllPairs → MinHash-LSH, and the flip must not
    // lose the pairs the operator exists to find. Fixture: 12 distinct
    // docs each with one EXACT copy (J=1 — identical signatures,
    // detected w.p. 1 on both routes) and no near-threshold pairs, so
    // the assertion certifies the route flip, not LSH luck.
    val rows = (0 until 12).flatMap { i =>
      val text = (0 until 10).map(w => s"w${i}_$w").mkString(" ")
      Seq((i.toLong, text), (100L + i, text))
    }
    val df = rows.toDF("id", "text")
    def run(gate: Long) =
      Dedup.jaccardJoinAuto(df, "id", "text", minJaccard = 0.8, k = 3,
          maxExactDocs = gate)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .toSet
    val exactRoute = run(1000L) // 24 docs <= gate: prefix-filter kernel
    val lshRoute = run(4L)      // 24 docs  > gate: MinHash-LSH kernel
    assert(exactRoute === (0 until 12).map(i => (i.toLong, 100L + i, 1000000000L)).toSet)
    assert(lshRoute === exactRoute)
  }

  test("simhash Hamming near-dup: exact dups at dist 0, near dups within tolerance, unrelated absent") {
    val pairs = Dedup.simhashNearDup(docs, "id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0)      // exact dup
    assert(pairs((1L, 3L)) === 0)      // normalized dup — same token stream
    pairs.get((1L, 5L)).foreach(d => assert(d <= 3)) // near dup, if surfaced, is close
    assert(!pairs.contains((4L, 6L)))  // unrelated docs don't verify
    // the Hamming-≤3 guarantee: any surfaced pair's sketch distance is ≤ maxDist
    assert(pairs.values.forall(_ <= 3))
  }

  test("simhash Hamming near-dup guarantee: ALL pairs within dist 3 are found (pigeonhole)") {
    // brute-force ground truth over the sketches themselves (the op's
    // default 64-bit width; parse the MSB-first bit string directly)
    val sk = docs.select(col("id"), TextAnalysis.simHashRow(col("text"), 64))
      .collect().map(r => r.getLong(0) ->
        java.lang.Long.parseUnsignedLong(r.getString(1), 2)).toMap
    val want = (for {
      a <- sk.keys; b <- sk.keys if a < b
      if java.lang.Long.bitCount(sk(a) ^ sk(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashNearDup(docs, "id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  /** Edge inputs of the SimHash family: a NULL and an empty text (both
    * sketch to all zeros), a 3-document exact-duplicate cluster (3, 4,
    * 5 — 5 differs only in case and punctuation), a near-dup sharing
    * bands 0 and 1 with the cluster (6), one sharing bands 2 and 3 (9),
    * two farther variants (7, 8), two texts one token apart whose
    * sketches share no band (10, 11), an unrelated doc and a NULL id. */
  private def simEdgeDocs = (Seq(
      1L -> null, 2L -> "", 3L -> fox, 4L -> fox,
      5L -> "THE QUICK brown fox jumps over the lazy dog near the river bank today!!",
      6L -> "the quick brown fox jumps over the lazy dog near the river bank tonight",
      7L -> "the quick brown fox leaps over the lazy cat near the river bank today",
      8L -> "yy quick brown fox jumps over the lazy dog near the river bank today",
      9L -> "the quick brown fox jumps over the lazy dog by the river bank today",
      10L -> "entirely unrelated text mentioning embeddings vectors and cosine distance",
      11L -> "entirely unrelated text mentioning embeddings vectors and cosine distances",
      12L -> "a completely different document about spark shuffles and partition sizes")
    .map { case (i, t) => (Option(i), t) } :+ ((None, fox)))
    .toDF("id", "text")

  /** (id_a, id_b, dist) of `simEdgeDocs` per (maxDist, nBits, bands),
    * frozen from the checkpointed band self-join + distinct plan that
    * the shared pair generator replaced. */
  private val simEdgePairs = Map(
    (3, 64, 4) -> Seq((1L, 2L, 0), (3L, 4L, 0), (3L, 5L, 0), (3L, 6L, 2), (3L, 9L, 3),
      (4L, 5L, 0), (4L, 6L, 2), (4L, 9L, 3), (5L, 6L, 2), (5L, 9L, 3)),
    (0, 64, 4) -> Seq((1L, 2L, 0), (3L, 4L, 0), (3L, 5L, 0), (4L, 5L, 0)),
    (3, 64, 1) -> Seq((1L, 2L, 0), (3L, 4L, 0), (3L, 5L, 0), (4L, 5L, 0)),
    (6, 64, 8) -> Seq((1L, 2L, 0), (3L, 4L, 0), (3L, 5L, 0), (3L, 6L, 2), (3L, 7L, 5),
      (3L, 8L, 6), (3L, 9L, 3), (4L, 5L, 0), (4L, 6L, 2), (4L, 7L, 5), (4L, 8L, 6),
      (4L, 9L, 3), (5L, 6L, 2), (5L, 7L, 5), (5L, 8L, 6), (5L, 9L, 3), (6L, 8L, 4),
      (6L, 9L, 5)))

  test("simhash near-dup edge inputs: frozen pairs, each once, at every banding") {
    for (((maxDist, nBits, bands), want) <- simEdgePairs) {
      val got = Dedup.simhashNearDup(simEdgeDocs, "id", "text", maxDist, nBits, bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(got.sorted === want, s"(maxDist, nBits, bands) = ($maxDist, $nBits, $bands)")
    }
    // 3 and 6 share bands 0 and 1, 3 and 9 bands 2 and 3 (64 bits, 4
    // bands): each pair is emitted at its first shared band, once
    val sk = simEdgeDocs.filter(col("id").isin(3L, 6L, 9L))
      .select(col("id"), TextAnalysis.simHashRow(col("text"), 64))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shared(a: Long, b: Long) =
      (0 until 4).filter(k => sk(a).slice(16 * k, 16 * k + 16) == sk(b).slice(16 * k, 16 * k + 16))
    assert(shared(3L, 6L) === Seq(0, 1))
    assert(shared(3L, 9L) === Seq(2, 3))
    val e = intercept[IllegalArgumentException](
      Dedup.simhashNearDup(simEdgeDocs, "id", "text", nBits = 128))
    assert(e.getMessage.contains("one 64-bit sketch word"))
  }

  test("simhashNearDup stays within its Spark job budget") {
    // one sketch pass and one grouped shuffle: 2 jobs under AQE (4 with
    // the checkpointed banded frame and its self-join + distinct)
    val (pairs, jobs) = withJobCount(
      Dedup.simhashNearDup(simEdgeDocs, "id", "text", maxDist = 3).collect())
    assert(pairs.length === simEdgePairs((3, 64, 4)).length)
    assert(jobs <= 2, s"simhashNearDup ran $jobs Spark jobs")
  }

  test("boilerplate strip removes common lines, keeps order, handles all-boilerplate docs") {
    val lined = Seq(
      (1L, "HEADER\nalpha beta\nFOOTER"),
      (2L, "HEADER\ngamma delta\nFOOTER"),
      (3L, "HEADER\nepsilon\nFOOTER"),
      (4L, "HEADER\nFOOTER"))
      .toDF("id", "text")
    val out = Dedup.stripBoilerplate(lined, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("alpha beta", 2L)))
    assert(out(3L) === (("epsilon", 2L)))
    assert(out(4L) === (("", 2L)))      // every line was boilerplate
    assert(out.size === 4)
  }

  test("decontaminate removes exact eval-set leaks; plan broadcasts the test side") {
    val train = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta theta iota")).toDF("id", "text")
    val test = Seq((100L, "Delta  Epsilon   ZETA"), // normalized dup of 2
      (101L, "totally different")).toDF("id", "text")
    val kept = Dedup.decontaminate(train, test, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L)) // 2 leaked (tokens equal after normalize)
    val plan = Dedup.decontaminate(train, test, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"anti-join should broadcast the test side:\n$plan")
  }

  test("near-dup decontaminate: paraphrased eval rows remove their train twins (sketch ground truth)") {
    // eval row 100 = normalized copy of docs 1-3's token stream (sketch
    // distance 0 — always caught); 101 is unrelated. Whether doc 5 (the
    // one-token paraphrase) falls inside tolerance is decided by the
    // sketch ground truth below, not assumed.
    val test = Seq(
      (100L, "The QUICK brown fox jumps over the lazy dog near the river bank today!"),
      (101L, "an eval question about something else entirely unrelated to anything"))
      .toDF("id", "text")
    def sketches(df: org.apache.spark.sql.DataFrame, idc: String): Map[Long, Long] =
      df.select(col(idc), TextAnalysis.simHashRow(col("text"), 64))
        .collect().map(r => r.getLong(0) ->
          java.lang.Long.parseUnsignedLong(r.getString(1), 2)).toMap
    val trainSk = sketches(docs, "id")
    val testSk = sketches(test, "id")
    val shouldDrop = trainSk.filter { case (_, h) =>
      testSk.values.exists(t => java.lang.Long.bitCount(h ^ t) <= 3) }.keySet
    // sanity: the normalized copy matches its train twins at distance 0
    assert(Set(1L, 2L, 3L).subsetOf(shouldDrop))
    val kept = Dedup.decontaminateNearDup(docs, "id", test, "text", maxDist = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept === trainSk.keySet -- shouldDrop)
  }

  test("bloom decontaminate: every true leak removed (no false negatives), over-removal bounded, no join in plan") {
    val train = (1L to 2000L).map(i => (i, s"unique training document number $i body"))
      .toDF("id", "text")
    // eval set = 50 of the training docs, normalized differently
    val test = (1L to 50L).map(i => (i + 9000L, s"UNIQUE  training Document number ${i * 7} BODY"))
      .toDF("id", "text")
    // construction is EAGER (the bloom build is a Spark job) — build
    // once, reuse for both the data and the plan assertions
    val out = Dedup.decontaminateBloom(train, test, "text",
      expectedItems = 100L, fpp = 0.01)
    val kept = out.collect().map(_.getLong(0)).toSet
    val leakedIds = (1L to 50L).map(_ * 7L).toSet
    // no false negatives: every leaked doc is gone
    assert(kept.intersect(leakedIds).isEmpty)
    // over-removal bounded: well under 5x the 1% fpp on 1950 clean docs
    val overRemoved = 2000 - kept.size - leakedIds.size
    assert(overRemoved >= 0 && overRemoved <= 100, s"over-removed $overRemoved")
    // the scale point: map-side filter, NO join operator in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"bloom decontaminate should not join:\n$plan")
  }

  test("containment join: finds snippet-in-doc pairs Jaccard misses, brute-force exact") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon"),            // prefix of 1: contained
      (3L, "totally different words everywhere here now"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")) // exact dup of 1
      .toDF("doc_id", "text")
    val got = Dedup.containmentJoinPrefix(docs, "doc_id", "text", minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 2 (3 shingles) fully inside 1 and 4; 1 and 4 mutually contained
    assert(got.keySet === Set((2L, 1L), (2L, 4L), (1L, 4L), (4L, 1L)))
    got.values.foreach(c => assert(c === 1.0))
    // Jaccard at the same threshold misses the snippet pair entirely
    val jac = Dedup.jaccardJoinPrefix(docs, "doc_id", "text", minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)))
    assert(jac.contains((1L, 4L)))
    // brute-force parity on a randomized corpus at a lower threshold
    val rnd = new scala.util.Random(13)
    val words = Vector("w0","w1","w2","w3","w4","w5","w6","w7","w8","w9","wa","wb")
    val corpus = (0 until 40).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    def shingles(text: String): Set[String] = {
      val t = text.split(" ").toSeq
      if (t.size < 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      a <- texts.keys; b <- texts.keys; if a != b
      sa = shingles(texts(a)); sb = shingles(texts(b))
      c = sa.intersect(sb).size.toDouble / sa.size
      if c >= 0.5
    } yield (a, b) -> c).toMap
    val fast = Dedup.containmentJoinPrefix(corpus, "doc_id", "text", minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fast === brute)
  }

  test("admitIncremental: prior near-dups rejected from sketches alone, shard dups collapse") {
    val prior = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different historical content about other things")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // = prior 1 -> rejected
      (11L, "brand new fresh content one two three four"),
      (12L, "brand new fresh content one two three four"),    // dup of 11 -> collapsed
      (13L, "another unrelated incoming document entirely today")).toDF("doc_id", "text")
    val admitted = Dedup.admitIncremental(incoming, "doc_id", "text",
        Dedup.sketchTable(prior, "doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(11L, 13L))
    // the sketch-table route rejects exactly what the text-based
    // near-dup decontamination rejects (band-key parity)
    val viaText = Dedup.decontaminateNearDup(incoming, "doc_id",
        prior.select("text"), "text")
      .collect().map(_.getLong(0)).toSet
    assert(viaText === Set(11L, 12L, 13L)) // cross-corpus half only
  }

  test("admitIncremental at bands=1: exact prior sketch-dups still rejected (mask regression)") {
    // (1L << 64) - 1 == 0 in Scala: the single-band key must be the
    // word itself, not a zero mask that admits everything
    val prior = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact sketch dup
      (11L, "entirely new content for the incoming shard")).toDF("doc_id", "text")
    val admitted = Dedup.admitIncremental(incoming, "doc_id", "text",
        Dedup.sketchTable(prior, "doc_id", "text"),
        maxDist = 0, nBits = 64, bands = 1)
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(11L))
  }

  test("exactKeepBest keeps the max-score copy, min id on ties") {
    val dup = Seq(
      (1L, "same text", 5L),
      (2L, "same text", 9L),
      (3L, "same text", 9L), // ties doc 2 on score: min id wins
      (4L, "other text", 1L)).toDF("id", "text", "score")
    val out = Dedup.exactKeepBest(dup, "id", "text", "score")
      .collect()
      .map(r => r.getAs[Long]("keep_id") ->
        ((r.getAs[Long]("keep_score"), r.getAs[Long]("dup_count")))).toMap
    assert(out === Map(2L -> ((9L, 3L)), 4L -> ((1L, 1L))))
  }

  test("chunkDedupRewrite deletes repeated chunks, first (doc,pos) wins") {
    // doc 1: chunks [a b][c d]; doc 2 repeats [a b] then new [e f];
    // doc 3 repeats doc 1 entirely → rewritten to empty
    val df = Seq(
      (1L, "a b c d"), (2L, "a b e f"), (3L, "a b c d"),
      (4L, "")).toDF("id", "text")
    val got = Dedup.chunkDedupRewrite(df, "id", "text", chunkTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 2L, "a b c d")))
    assert(got(2L) === ((2L, 1L, "e f")))
    assert(got(3L) === ((2L, 0L, "")))
    assert(got(4L) === ((0L, 0L, ""))) // no tokens → no chunks, survives
  }

  test("chunkDedupRewrite dedups repeats WITHIN one doc and keeps tail partials") {
    val df = Seq((7L, "x y x y z")).toDF("id", "text")
    val got = Dedup.chunkDedupRewrite(df, "id", "text", chunkTokens = 2)
      .collect()(0)
    // chunks: [x y][x y][z] → second [x y] deleted, tail partial kept
    assert((got.getLong(1), got.getLong(2), got.getString(3)) ===
      ((3L, 2L, "x y z")))
  }

  test("softDedupWeights: unit mass per distinct content at alpha=1") {
    val docs = Seq(
      (1L, "same text"), (2L, "same  TEXT"), (3L, "same text!"),
      (4L, "unique one"), (5L, "another unique")
    ).toDF("id", "t")
    // fingerprint normalizes case/whitespace/punct -> ids 1,2,3 cluster
    val out = Dedup.softDedupWeights(docs, "id", "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((3L, 1.0 / 3)) && out(2L) === ((3L, 1.0 / 3)) &&
      out(3L) === ((3L, 1.0 / 3)))
    assert(out(4L) === ((1L, 1.0)) && out(5L) === ((1L, 1.0)))
    // total sampling mass = number of distinct contents
    assert(math.abs(out.values.map(_._2).sum - 3.0) < 1e-12)
  }

  test("softDedupWeights: alpha=0.5 uses exact 1/sqrt; bad alpha rejected") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a")).toDF("id", "t")
    val w = Dedup.softDedupWeights(docs, "id", "t", alpha = 0.5)
      .collect().map(_.getDouble(2)).toSet
    assert(w === Set(0.5)) // 1/sqrt(4), exactly representable
    intercept[IllegalArgumentException] {
      Dedup.softDedupWeights(docs, "id", "t", alpha = 0.0)
    }
  }

  test("lshCalibration: S-curve shape, thresholds, config coverage") {
    val out = Dedup.lshCalibration(spark, numHashes = 16,
        sGrid = Seq(0.2, 0.5, 0.8))
      .collect().map(r => ((r.getInt(1), r.getDouble(3)),
        (r.getDouble(4), r.getDouble(5)))).toMap
    // all 5 divisor splits x 3 s-levels
    assert(out.size === 15)
    // detection probability rises with s for a fixed config
    val cfg = (4, 0.2) :: (4, 0.5) :: (4, 0.8) :: Nil
    val ps = cfg.map(out(_)._1)
    assert(ps === ps.sorted)
    // b=16,r=1 is the permissive extreme: p = 1-(1-s)^16
    assert(math.abs(out((16, 0.5))._1 - (1 - math.pow(0.5, 16))) < 1e-6)
    // b=1,r=16 is the strict extreme: p = s^16
    assert(math.abs(out((1, 0.5))._1 - math.pow(0.5, 16)) < 1e-6)
    // s50 of (4,4) is (1/4)^(1/4) ~ 0.7071
    assert(math.abs(out((4, 0.5))._2 - math.pow(0.25, 0.25)) < 1e-6)
    intercept[IllegalArgumentException] {
      Dedup.lshCalibration(spark, 16, Seq(1.5))
    }
  }
}

object DedupSpec {
  /** Brute-force n-gram Jaccard over ALL pairs (a < b) sharing a
    * shingle: |A∩B| / |A∪B| over distinct k-shingle sets, from an
    * exploded shingle self-join plus per-doc set sizes. The reference
    * the candidate-based joins are checked against. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, minJaccard: Double = 0.0): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        explode(Dedup.shinglesFast(col(textCol).cast("string"), k)).as("s"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("l").join(sh.as("r"),
        col("l.s") === col("r.s") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }
}
