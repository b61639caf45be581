package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "banana cherry date"),
    (3L, "apple apple apple apple"),
    (4L, "")
  ).toDF("id", "text")

  test("tfidf: rare terms outscore common ones; ties break by term") {
    val out = Corpus.tfidfTopTerms(docs, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // doc 1: apple tf=2 (df=2), banana/cherry tf=1 (df=2 each)
    // idf equal for all three → apple (tf 2) first; banana beats cherry on term asc
    assert(out((1L, 1L)) === "apple")
    assert(out((1L, 2L)) === "banana")
    // doc 2: date is unique to doc 2 (df=1) → highest idf wins over df=2 terms
    assert(out((2L, 1L)) === "date")
    // doc 3: single term
    assert(out((3L, 1L)) === "apple")
    // empty doc contributes no rows
    assert(!out.keySet.exists(_._1 == 4L))
  }

  test("tfidf formula matches ln((N+1)/(df+1))+1 hand computation") {
    val r = Corpus.tfidfTopTerms(docs, "id", "text", k = 2)
      .filter(col("id") === 2L && col("term") === "date").collect()(0)
    val expected = 1.0 * (math.log(5.0 / 2.0) + 1.0) // N=4 docs, df=1, tf=1
    assert(math.abs(r.getDouble(5) - expected) < 1e-6)
  }

  test("repetition stats: dup-token ratio and top bigram") {
    val out = Corpus.repetitionStats(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4), r.getLong(5), r.getDouble(6)))).toMap
    // doc 3: 4 tokens, 1 distinct → dup ratio 0.75; bigram "apple apple" ×3 of 3
    assert(out(3L) === ((4L, 1L, 0.75, "apple apple", 3L, 1.0)))
    // doc 2: no repeats → ratio 0, each bigram count 1; tie resolves to
    // the lexicographically greatest bigram at the packed-string max
    assert(out(2L)._3 === 0.0)
    assert(out(2L)._5 === 1L)
    assert(out(2L)._4 === "cherry date")
    // empty doc: all-zero row, present
    assert(out(4L) === ((0L, 0L, 0.0, "", 0L, 0.0)))
  }

  test("ngram counts: occurrences and doc frequency above threshold") {
    val d = Seq(
      (1L, "a b c a b c"),     // "a b c" x2, "b c a" x1, "c a b" x1
      (2L, "a b c d"),
      (3L, "xx")               // too short for trigrams
    ).toDF("id", "text")
    val out = Corpus.ngramCounts(d, "id", "text", n = 3, minCount = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("a b c") === ((3L, 2L))) // 2 in doc 1 + 1 in doc 2, 2 docs
    assert(!out.contains("b c a"))      // below minCount
    assert(!out.contains("b c d"))
  }

  test("markup strip removes tags and urls, collapses whitespace") {
    val d = Seq(
      (1L, "<div><b>hello</b> world</div> read https://ex.com/x?y=1 today"),
      (2L, "plain text stays 2 < 3 untouched")
    ).toDF("id", "text")
    val out = d.select(col("id"),
      TextAnalysis.tagCount(col("text")).as("t"),
      TextAnalysis.urlCount(col("text")).as("u"),
      TextAnalysis.stripMarkup(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) === ((4, 1, "hello world read today")))
    // a bare '<' without a closing '>' is not a tag
    assert(out(2L) === ((0, 0, "plain text stays 2 < 3 untouched")))
  }

  test("pii redaction counts and replaces emails then phones") {
    val d = Seq(
      (1L, "reach me at bob@example.com or +1 (415) 555-0100 thanks"),
      (2L, "no pii here, just numbers 12345678 in text"),
      (3L, "two mails a@b.io c.d@e.org and (020) 7946-0958")
    ).toDF("id", "text")
    val out = d.select(col("id"),
      TextAnalysis.emailCount(col("text")).as("e"),
      TextAnalysis.phoneCount(col("text")).as("p"),
      TextAnalysis.redactPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L)._1 === 1)
    assert(out(1L)._2 === 1)
    assert(out(1L)._3 === "reach me at <EMAIL> or <PHONE> thanks")
    assert(out(2L) === ((0, 0, "no pii here, just numbers 12345678 in text")))
    assert(out(3L)._1 === 2)
    assert(out(3L)._2 === 1)
    assert(out(3L)._3.contains("<EMAIL> <EMAIL>"))
    assert(out(3L)._3.contains("<PHONE>"))
  }

  test("overlapping chunking: window/overlap layout, truncated tail, no contained chunk, empty doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 toks, size 8 overlap 4 → [0,8) [4,10)
      (2L, "a b c"),               // shorter than size → one chunk
      (3L, "a b c d e f g h"),     // exactly size → one chunk
      (4L, "!!!"))                 // zero tokens → no chunks
      .toDF("doc_id", "text")
    val got = Corpus.chunkDocuments(docs, "doc_id", "text", chunkSize = 8, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(got((1L, 0L)) === (("a b c d e f g h", 8L)))
    assert(got((1L, 1L)) === (("e f g h i j", 6L)))
    assert(got((2L, 0L)) === (("a b c", 3L)))
    assert(got((3L, 0L)) === (("a b c d e f g h", 8L)))
    assert(got.size === 4)         // doc 4 contributes nothing
    // consecutive chunks share exactly `overlap` tokens
    assert(got((1L, 0L))._1.split(" ").takeRight(4).toSeq ===
      got((1L, 1L))._1.split(" ").take(4).toSeq)
    // chunking is a narrow plan — no shuffle
    val plan = Corpus.chunkDocuments(docs, "doc_id", "text", 8, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking should not shuffle:\n$plan")
  }

  test("n-gram contamination: verbatim leak = 1.0, spliced quote partial, clean = 0, short doc = 0 grams") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val test = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim
      (11L, "intro words then alpha beta gamma delta epsilon closing remark"), // spliced quote
      (12L, "completely fresh content nothing shared with training data at all"),
      (13L, "too short"))                                     // < n tokens
      .toDF("doc_id", "text")
    val got = Corpus.ngramContamination(train, test, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10L) === ((4L, 4L, 1.0)))
    // 11: 6 distinct 5-grams, exactly one ("alpha beta gamma delta
    // epsilon") appears in train
    assert(got(11L)._1 === 6L)
    assert(got(11L)._2 === 1L)
    assert(math.abs(got(11L)._3 - 1.0 / 6.0) < 1e-6)
    assert(got(12L) === ((6L, 0L, 0.0)))
    assert(got(13L) === ((0L, 0L, 0.0)))
  }

  test("shuffleShards: exact permutation, stable under repartitioning, fresh per seed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1L to 500L).map(i => (i, s"doc$i")).toDF("id", "text")
    val a = Corpus.shuffleShards(df.repartition(16), "id", shardSize = 64)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    // exact permutation of 0..n-1
    assert(a.values.toSeq.sorted === (0L until 500L))
    // shard arithmetic
    val row = Corpus.shuffleShards(df, "id", shardSize = 64)
      .filter(col("shuffle_pos") === 130L).collect()(0)
    assert(row.getAs[Long]("shard") === 2L)
    assert(row.getAs[Long]("shard_offset") === 2L)
    // partition-layout independence (the orderBy(rand) failure mode)
    val b = Corpus.shuffleShards(df.repartition(3), "id", shardSize = 64)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(a === b)
    // a different seed is a different epoch permutation
    val c = Corpus.shuffleShards(df, "id", shardSize = 64, seed = "epoch1")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(c !== a)
    assert(c.values.toSeq.sorted === (0L until 500L))
    // and it matches the single-task window ground truth
    val want = df
      .withColumn("k", md5(concat(lit("epoch0"), col("id").cast("string")).cast("binary")))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))) - 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("pos").toLong).toMap
    assert(a === want)
  }

  test("mixtureWeights: uniform target downsamples the dominant domain only") {
    import spark.implicits._
    // web 800 tokens, code 150, books 50 → uniform target 1/3 each.
    // ratios ∝ 1/cur_share: web smallest → everything else scaled so
    // the largest ratio (books) sits at rate 1.0.
    val df = Seq.fill(8)(("web", 100L)) ++ Seq.fill(3)(("code", 50L)) ++
      Seq.fill(1)(("books", 50L))
    val got = Corpus.mixtureWeights(df.toDF("src", "n_tok"), "src", "n_tok")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got("web")._2 === 800L && got("code")._2 === 150L && got("books")._2 === 50L)
    // current shares
    assert(math.abs(got("web")._3 - 0.8) < 1e-9)
    assert(math.abs(got("books")._3 - 0.05) < 1e-9)
    // rates: books ratio = (1/3)/0.05 = 20/3 (max → 1.0);
    // code = (1/3)/0.15 = 20/9 → 1/3; web = (1/3)/0.8 = 5/12 → 0.0625
    assert(got("books")._5 === 1.0)
    assert(math.abs(got("code")._5 - 1.0 / 3) < 1e-6)
    assert(math.abs(got("web")._5 - 0.0625) < 1e-6)
  }

  test("mixtureWeights: explicit targets pin a domain, the rest split the residual") {
    import spark.implicits._
    val df = Seq(("a", 100L), ("b", 100L), ("c", 100L), ("d", 100L))
      .toDF("src", "n_tok")
    val got = Corpus.mixtureWeights(df, "src", "n_tok",
      targets = Map("a" -> 0.7)).collect()
      .map(r => r.getString(0) -> ((r.getDouble(4), r.getDouble(5)))).toMap
    // a pinned at 0.7; b,c,d share 0.3 → 0.1 each
    assert(got("a")._1 === 0.7)
    assert(got("b")._1 === 0.1 && got("c")._1 === 0.1 && got("d")._1 === 0.1)
    // equal current shares (0.25 each): a's ratio is the max → rate 1;
    // others = 0.1/0.7
    assert(got("a")._2 === 1.0)
    assert(math.abs(got("b")._2 - 0.1 / 0.7) < 1e-6)
  }

  test("temperatureWeights: alpha=1 reproduces shares; alpha<1 flattens toward uniform") {
    import spark.implicits._
    // 900 vs 100 tokens
    val df = Seq(("big", 900L), ("small", 100L)).toDF("src", "n_tok")
    val id = Corpus.temperatureWeights(df, "src", "n_tok", alpha = 1.0)
      .collect().map(r => r.getString(0) -> ((r.getDouble(4), r.getDouble(5)))).toMap
    // α=1: target == current share → every ratio 1 → all rates 1.0
    assert(id("big") === ((0.9, 1.0)))
    assert(id("small") === ((0.1, 1.0)))
    val flat = Corpus.temperatureWeights(df, "src", "n_tok", alpha = 0.5)
      .collect().map(r => r.getString(0) -> ((r.getDouble(4), r.getDouble(5)))).toMap
    // α=0.5: targets ∝ {30, 10} → {0.75, 0.25}: small's RELATIVE share
    // grows (0.1 → 0.25), big's shrinks; small holds rate 1.0 and big
    // is downsampled by (0.75/0.9)/(0.25/0.1) = 1/3
    assert(math.abs(flat("big")._1 - 0.75) < 1e-6)
    assert(math.abs(flat("small")._1 - 0.25) < 1e-6)
    assert(flat("small")._2 === 1.0)
    assert(math.abs(flat("big")._2 - 1.0 / 3) < 1e-6)
  }

  test("bm25: matches the textbook formula on a hand-computed corpus") {
    // docs lens: d1=4 d2=3 d3=4 d4=0; N=4, avgdl=11/4
    // query {apple, date}: df(apple)=2 (d1,d3), df(date)=1 (d2)
    val got = Corpus.bm25(docs, "id", "text", Seq("apple", "date"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val n = 4.0; val avgdl = 11.0 / 4.0; val k1 = 1.2; val b = 0.75
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def term(tf: Double, df: Double, dl: Double) =
      idf(df) * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    def r6(x: Double) = math.round(x * 1e6) / 1e6.toDouble
    assert(got(1L) === ((r6(term(2, 2, 4)), 1L)))             // apple x2
    assert(got(2L) === ((r6(term(1, 1, 3)), 1L)))             // date x1
    assert(got(3L) === ((r6(term(4, 2, 4)), 1L)))             // apple x4
    assert(!got.contains(4L))                                 // no match -> absent
    // more matched terms never hurt: a doc holding both query terms
    val both = docs.union(Seq((5L, "apple date")).toDF("id", "text"))
    val g5 = Corpus.bm25(both, "id", "text", Seq("apple", "date"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(g5(5L) === 2L)
  }

  /** Spark jobs of one tokenBudgetSample collect, as measured: one
    * prefix scan keyed by source, with no checkpoint and no per-source
    * totals or offsets pass. */
  private val TokenBudgetJobBudget = 4

  test("tokenBudgetSample stays within its Spark job budget") {
    val docs = (1 to 120).map(i => (i.toLong, s"src${i % 3}", "word " * (i % 7 + 1)))
      .toDF("id", "src", "text")
    val (rows, jobs) = withJobCount(
      Corpus.tokenBudgetSample(docs, "id", "text", "src", 20L).collect())
    assert(rows.map(_.getAs[String]("source")).toSet === Set("src0", "src1", "src2"))
    assert(jobs <= TokenBudgetJobBudget, s"tokenBudgetSample ran $jobs Spark jobs")
  }

  test("tokenBudgetSample: greedy per-source fill, deterministic, boundary doc kept") {
    val corpus = Seq(
      (1L, "a b c d e", "web"),    // 5 tokens each
      (2L, "a b c d e", "web"),
      (3L, "a b c d e", "web"),
      (4L, "a b c d e", "code"),
      (5L, "a b c d e", "code")
    ).toDF("id", "text", "src")
    // budget 7: first doc (5 tok) leaves cum=5 < 7 -> second doc starts
    // under budget and is KEPT (crossing doc included); third exceeds
    val got = Corpus.tokenBudgetSample(corpus, "id", "text", "src", 7L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val bySrc = got.values.groupBy(_._1).view.mapValues(_.size).toMap
    assert(bySrc === Map("web" -> 2, "code" -> 2))
    got.values.foreach { case (_, n, cum) => assert(n === 5L && cum <= 10L) }
    // determinism: same seed -> same picks; different seed may differ
    val again = Corpus.tokenBudgetSample(corpus, "id", "text", "src", 7L)
      .collect().map(_.getLong(0)).toSet
    assert(again === got.keySet)
    // budget 1 still yields one doc per source
    val one = Corpus.tokenBudgetSample(corpus, "id", "text", "src", 1L)
      .collect().map(r => r.getString(1)).groupBy(identity).view.mapValues(_.size).toMap
    assert(one === Map("web" -> 1, "code" -> 1))
  }

  test("collocations: PMI hand parity, minCount floor, top-k order") {
    val corpus = Seq(
      (1L, "new york new york city"),
      (2L, "york city hall"),
      (3L, "new deal")
    ).toDF("id", "text")
    // unigrams: new 3, york 3, city 2, hall 1, deal 1 -> Nu = 10
    // bigrams: "new york" 2, "york city" 2, others 1 -> Nb = 7
    val out = Corpus.collocations(corpus, "text", minCount = 2L, k = 5)
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
    // only the two pairs at cxy >= 2 survive
    assert(out.map(_._1).toSeq ===
      Seq(("york", "city"), ("new", "york"))) // PMI desc
    val m = out.toMap
    def pmi(cxy: Long, c1: Long, c2: Long) =
      math.log((cxy / 7.0) / ((c1 / 10.0) * (c2 / 10.0)))
    assert(math.abs(m(("york", "city"))._2 - BigDecimal(pmi(2, 3, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(m(("new", "york"))._2 - BigDecimal(pmi(2, 3, 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(m(("york", "city"))._1 === 2L && m(("new", "york"))._1 === 2L)

    // k truncates below the survivor count
    assert(Corpus.collocations(corpus, "text", 1L, 2).count() === 2)
  }

  test("collocations plan: global top-k is TakeOrdered, not a window") {
    val plan = Corpus.collocations(docs, "text", 1L, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
  }

  test("bpePairCounts: frequency-weighted char pairs over the vocabulary") {
    val corpus = Seq(
      (1L, "abc abc ab"),
      (2L, "abc xy")
    ).toDF("id", "text")
    // vocab: abc freq 3, ab freq 1, xy freq 1
    // pairs: ab -> 3 (from abc) + 1 (from ab) = 4; bc -> 3; xy -> 1
    val out = Corpus.bpePairCounts(corpus, "text", k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(out.toSeq === Seq("ab" -> 4L, "bc" -> 3L, "xy" -> 1L))
    // k truncates
    assert(Corpus.bpePairCounts(corpus, "text", k = 2).count() === 2)
  }

  test("importanceWeights: target-domain docs score higher; hand formula parity") {
    val corpus = Seq(
      (1L, "alpha alpha beta", "tgt"),
      (2L, "alpha beta beta", "tgt"),
      (3L, "gamma delta gamma", "oth"),
      (4L, "delta gamma delta", "oth"),
      (5L, "alpha gamma", "oth"),
      (6L, "", "oth")
    ).toDF("id", "text", "src")
    val out = Corpus.importanceWeights(
      corpus.filter(col("src") === "tgt"), corpus, corpus, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

    // target-vocab docs score above cross-domain docs
    assert(out(1L)._4 > out(3L)._4)
    assert(out(2L)._4 > out(4L)._4)
    // the mixed doc sits between the pure ones
    assert(out(5L)._4 < out(1L)._4 && out(5L)._4 > out(3L)._4)
    // empty doc: zero tokens, zero scores
    assert(out(6L) === ((0L, 0.0, 0.0, 0.0)))

    // hand replay of doc 1: target LM n=6 v=2; raw LM n=14 v=4;
    // the ratio is the DIFFERENCE OF THE ROUNDED per-LM averages
    // (component rounding is the operator's numeric contract)
    def lp(c: Long, n: Long, v: Long) = math.log((c + 1).toDouble / (n + v))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val at = r6((2.0 * lp(3, 6, 2) + 1.0 * lp(3, 6, 2)) / 3.0)
    val ar = r6((2.0 * lp(4, 14, 4) + 1.0 * lp(3, 14, 4)) / 3.0)
    assert(math.abs(out(1L)._2 - at) < 1e-9)
    assert(math.abs(out(1L)._3 - ar) < 1e-9)
    assert(math.abs(out(1L)._4 - r6(at - ar)) < 1e-9)
  }

  test("windowDupStats: cross-doc shared window flagged; same-doc repeats and short docs are not") {
    val docs = Seq(
      (1L, "aaaabbbbccccdddd"), // windows at 0,4,8
      (2L, "aaaabbbbzzzzyyyy"), // shares window "aaaabbbb" with doc 1
      (3L, "short"),            // below width: no windows
      (4L, "qqqqwwwweeeerrrr"), // all windows unique
      (5L, "gggghhhhgggghhhh")) // repeated window only WITHIN the doc
      .toDF("doc_id", "text")
    val out = Corpus.windowDupStats(docs, "doc_id", "text", width = 8, stride = 4)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Double]("dup_window_frac")))).toMap
    assert(out(1L) === ((3L, 1L, 0.333333)))
    assert(out(2L) === ((3L, 1L, 0.333333)))
    assert(out(3L) === ((0L, 0L, 0.0)))
    assert(out(4L) === ((3L, 0L, 0.0)))
    // fp seen twice in doc 5 but in no other doc: doc-frequency 1, not a dup
    assert(out(5L) === ((3L, 0L, 0.0)))
  }

  test("spanRemoval cuts duplicated windows, keeps the global first occurrence, merges overlaps") {
    val docs = Seq(
      (1L, "aaaabbbbccccdddd"),
      (2L, "aaaabbbbzzzzyyyy"),     // shares window at off 0 with doc 1
      (3L, "mmmmnnnnooooppppqqqq"),
      (4L, "mmmmnnnnooooppppqqqq"), // full copy of doc 3: all windows merge to one span
      (5L, "xxxxmmmmnnnnuuuuvvvv"), // doc 3's window at a SHIFTED offset (4)
      (6L, null.asInstanceOf[String]),
      (7L, "tiny"))                 // below width
      .toDF("doc_id", "text")
    val out = Corpus.spanRemoval(docs, "doc_id", "text", width = 8, stride = 4)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_spans_removed"),
          r.getAs[Long]("n_chars_removed")))).toMap
    assert(out(1L) === (("aaaabbbbccccdddd", 0L, 0L))) // first occurrence survives
    assert(out(2L) === (("zzzzyyyy", 1L, 8L)))         // prefix span cut
    assert(out(3L) === (("mmmmnnnnooooppppqqqq", 0L, 0L)))
    assert(out(4L) === (("", 1L, 20L)))                // overlapping spans merged, all text cut
    assert(out(5L) === (("xxxxuuuuvvvv", 1L, 8L)))     // interior span: gap + suffix rebuild
    assert(out(6L) === ((null, 0L, 0L)))
    assert(out(7L) === (("tiny", 0L, 0L)))
  }

  test("bpeTrain: hand-computed merge order, greedy-leftmost rewrite, " +
    "tie by pair string, early exhaustion; bpeEncode applies in rank order") {
    import spark.implicits._
    // vocab: ab x3, aaab x2.  Round 1: <a><b> wins 5 (vs <a><a> 4).
    // Round 2: <a><a> ties <a><ab> at 2 — '<a><a>' < '<a><ab>' wins.
    // Round 3: <aa><ab> merges; everything is single-symbol after.
    val docs = Seq((1L, "ab ab ab aaab aaab")).toDF("doc_id", "text")
    val merges = Corpus.bpeTrain(docs, "text", nMerges = 10)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // nMerges = 10 but the vocab exhausts after 3 — loop stops, no crash
    assert(merges.toSeq === Seq(
      (1, "a", "b", "ab", 5L),
      (2, "a", "a", "aa", 2L),
      (3, "aa", "ab", "aaab", 2L)))
    val enc = Corpus.bpeEncode(docs, "text",
        merges.toSeq.map(m => (m._2, m._3)))
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(enc("ab") === (("ab", 1L)))
    assert(enc("aaab") === (("aaab", 1L)))
    // first merge alone: aaab segments as a a ab (greedy leftmost scan)
    val enc1 = Corpus.bpeEncode(docs, "text", Seq(("a", "b")))
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(enc1("aaab") === (("a a ab", 3L)))
    assert(enc1("ab") === (("ab", 1L)))
  }

  /** 200 generated three-word docs over a 12-word vocabulary. */
  private def bpeCorpus = spark.range(200).select(col("id").as("doc_id"),
    concat_ws(" ",
      element_at(typedLit(Seq("alpha", "beta", "gamma", "delta", "epsilon")),
        (col("id") % 5 + 1).cast("int")),
      element_at(typedLit(Seq("red", "green", "blue")),
        (col("id") % 3 + 1).cast("int")),
      element_at(typedLit(Seq("apple", "banana", "cherry", "date")),
        (col("id") % 4 + 1).cast("int"))).as("text"))

  test("bpeTrainLocal: bit-identical merge table to bpeTrain (hand case, " +
    "tie-breaks, exhaustion) and on a realistic corpus; vocabCap bound") {
    import spark.implicits._
    // same hand-computed fixture as the bpeTrain test — ties and
    // greedy-leftmost must resolve identically in the driver-local loop
    val docs = Seq((1L, "ab ab ab aaab aaab")).toDF("doc_id", "text")
    val local = Corpus.bpeTrain(docs, "text", nMerges = 10)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(local.toSeq === Seq(
      (1, "a", "b", "ab", 5L),
      (2, "a", "a", "aa", 2L),
      (3, "aa", "ab", "aaab", 2L)))
    // realistic corpus: the 40-merge table of the per-round Spark-job
    // trainer (one replace + recount job per merge, the marker-string
    // algebra the oracle replays), frozen row for row
    val want = Seq(
      (1, "r", "e", "re", 134L),
      (2, "a", "n", "an", 100L),
      (3, "t", "a", "ta", 80L),
      (4, "e", "n", "en", 67L),
      (5, "g", "re", "gre", 67L),
      (6, "gre", "en", "green", 67L),
      (7, "re", "d", "red", 67L),
      (8, "b", "l", "bl", 66L),
      (9, "bl", "u", "blu", 66L),
      (10, "blu", "e", "blue", 66L),
      (11, "a", "p", "ap", 50L),
      (12, "a", "t", "at", 50L),
      (13, "an", "a", "ana", 50L),
      (14, "an", "ana", "anana", 50L),
      (15, "ap", "p", "app", 50L),
      (16, "app", "l", "appl", 50L),
      (17, "appl", "e", "apple", 50L),
      (18, "at", "e", "ate", 50L),
      (19, "b", "anana", "banana", 50L),
      (20, "c", "h", "ch", 50L),
      (21, "ch", "e", "che", 50L),
      (22, "che", "r", "cher", 50L),
      (23, "cher", "r", "cherr", 50L),
      (24, "cherr", "y", "cherry", 50L),
      (25, "d", "ate", "date", 50L),
      (26, "a", "l", "al", 40L),
      (27, "a", "m", "am", 40L),
      (28, "al", "p", "alp", 40L),
      (29, "alp", "h", "alph", 40L),
      (30, "alph", "a", "alpha", 40L),
      (31, "am", "m", "amm", 40L),
      (32, "amm", "a", "amma", 40L),
      (33, "b", "e", "be", 40L),
      (34, "be", "ta", "beta", 40L),
      (35, "d", "e", "de", 40L),
      (36, "de", "l", "del", 40L),
      (37, "del", "ta", "delta", 40L),
      (38, "e", "p", "ep", 40L),
      (39, "ep", "s", "eps", 40L),
      (40, "eps", "i", "epsi", 40L))
    val got = Corpus.bpeTrain(bpeCorpus, "text", nMerges = 40)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got === want)
    // vocabCap keeps only the top words — with cap 1 ("alpha"-family
    // loses to nothing deterministic here, just assert it still runs
    // and returns a valid non-empty table over the single kept word)
    val capped = Corpus.bpeTrain(bpeCorpus, "text", nMerges = 3, vocabCap = 1)
      .collect()
    assert(capped.nonEmpty && capped.length <= 3)
  }

  test("bpeTrain: Spark job count does not grow with nMerges") {
    val corpus = bpeCorpus.cache()
    try {
      corpus.count()
      val (few, jobsFew) = withJobCount(
        Corpus.bpeTrain(corpus, "text", nMerges = 3).collect())
      val (many, jobsMany) = withJobCount(
        Corpus.bpeTrain(corpus, "text", nMerges = 30).collect())
      assert(few.length === 3 && many.length === 30)
      assert(jobsMany === jobsFew,
        s"$jobsFew jobs at 3 merges vs $jobsMany at 30: a job per merge round")
    } finally corpus.unpersist()
  }

  test("bigramLogProb scores seen transitions above unseen, add-one exact") {
    val train = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("id", "text")
    val score = Seq((10L, "the cat"), (11L, "cat the"), (12L, "x"))
      .toDF("id", "text")
    val got = Corpus.bigramLogProb(train, score, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // train bigrams: "the cat"×2, "cat sat", "cat ran"; V=5 (the,cat,sat,ran...
    // tokens: the,cat,sat,ran → V=4); c(the ·)=2, c(cat ·)=2
    def rnd6(x: Double) = math.round(x * 1e6) / 1e6
    val pSeen = (2.0 + 1.0) / (2.0 + 4.0)   // p(cat|the) = 3/6
    val pUnseen = (0.0 + 1.0) / (2.0 + 4.0) // p(the|cat) = 1/6
    assert(got(10L) === ((1L, rnd6(math.log(pSeen)))))
    assert(got(11L) === ((1L, rnd6(math.log(pUnseen)))))
    assert(got(12L) === ((0L, 0.0))) // <2 tokens → no bigrams
  }

  test("bigramLogProb: unseen context scores ln(1/V)") {
    val train = Seq((1L, "a b")).toDF("id", "text")
    val score = Seq((10L, "z q")).toDF("id", "text") // context z unseen
    val got = Corpus.bigramLogProb(train, score, "id", "text").collect()(0)
    // V = 2 (a, b); p(q|z) = (0+1)/(0+2) = 1/2
    assert(got.getLong(1) === 1L)
    assert(math.abs(got.getDouble(2) - math.log(0.5)) < 1e-6)
  }

  test("bpeTrainBytesLocal: hand-computed byte merges across UTF-8 " +
      "boundaries; encode leaves nothing OOV") {
    // "héé"×2 + "aa": héé = 68 c3 a9 c3 a9 — (c3,a9) counts 4 (twice
    // per word), then (68,c3a9) ties (c3a9,c3a9) at 2 and wins on
    // pair-string asc, then the collapsed word, then aa's (61,61).
    val docs = Seq((1L, "héé héé aa")).toDF("id", "text")
    val got = Corpus.bpeTrainBytesLocal(docs, "text", nMerges = 10)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got === Array(
      (1, "c3", "a9", "c3a9", 4L),
      (2, "68", "c3a9", "68c3a9", 2L),
      (3, "68c3a9", "c3a9", "68c3a9c3a9", 2L),
      (4, "61", "61", "6161", 1L))) // then exhausted: 4 rows, not 10
    val table = got.map(m => (m._2, m._3)).toSeq
    // trained words collapse to single pieces; an UNSEEN word with a
    // partially-covered byte mix still encodes (byte base = no OOV)
    val enc = Corpus.bpeEncodeBytes(
        Seq((1L, "héé éz")).toDF("id", "text"),
        "text", table)
      .collect().map(r => r.getString(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(enc("héé") === (("68c3a9c3a9", 1L)))
    assert(enc("éz") === (("c3a9 7a", 2L))) // merge 1 applies, z stays a raw byte
  }

  test("knTrigramLogProb: hand-computed modified-KN on a tiny corpus, " +
      "fallback discounts, backoff chain, short docs") {
    // train: "a b a b a c" → trigrams "a b a"×2, "b a b", "b a c"
    // level-3 bands (2,1,0,0) → invalid → flat D = Y = 2/(2+2) = 0.5
    // cc2: (b,a)=1 (a,b)=1 (a,c)=1 → bands (3,0,0,0) → D = Y = 1.0
    // cu: a=1 b=1 c=1 → D = 1.0; cut=3, g1 = 3/3 = 1; V = 3
    // → p1 = 0 + 1/3 for EVERY word; γ2 = 1 everywhere → p2 chain
    //   collapses: p2 = term2 + 1/3 with term2 = (cc−1)/t2 = 0
    // ctx3: (a,b): t3=2 b2=1 → γ3 = 0.5/2 = 0.25
    //        (b,a): t3=2 b1=2 → γ3 = (0.5·2)/2 = 0.5
    // p("a b a") = (2−0.5)/2 + 0.25/3 = 5/6
    // p("b a b") = p("b a c") = (1−0.5)/2 + 0.5/3 = 5/12
    val train = Seq((2L, "a b a b a c")).toDF("id", "text")
    val score = Seq(
      (2L, "a b a b a c"),   // all-seen doc: avg = (ln(5/6)+ln(5/12))/2
      (3L, "c c b a b"),     // unseen ctx (c,c),(c,b) → pure backoff 1/3
      (5L, "a b")).toDF("id", "text") // <3 tokens → 0 trigrams
    val got = Corpus.knTrigramLogProb(train, score, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def rnd6(x: Double) = math.round(x * 1e6) / 1e6
    val seen = (2 * math.log(5.0 / 6) + 2 * math.log(5.0 / 12)) / 4
    assert(got(2L) === ((4L, rnd6(seen))))
    // doc 3: (c,c,b) ctx unseen → γ3=1 → p2(b|c): (c,b) unseen, ctx2(c)
    // unseen → γ2=1 → p = 1/3; (c,b,a) same 1/3; (b,a,b) seen 5/12
    val back = (2 * math.log(1.0 / 3) + math.log(5.0 / 12)) / 3
    assert(got(3L) === ((3L, rnd6(back))))
    assert(got(5L) === ((0L, 0.0)))
  }

  test("knTrigramLogProb: valid Chen-Goodman bands take the modified " +
      "discounts; every probability stays positive") {
    // Zipf-ish corpus engineered so trigram bands n1..n4 are all >0 and
    // the modified discounts are positive → the non-fallback path runs.
    val reps = Seq.fill(1)("p q r") ++ Seq.fill(2)("s t u") ++
      Seq.fill(3)("v w x") ++ Seq.fill(4)("y z a") ++ Seq.fill(5)("b c d")
    val train = reps.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    // bands over trigram counts {1,2,3,4,5}: n1=n2=n3=n4=1, Y=1/3,
    // D1 = 1−2/3 = 1/3 > 0, D2 = 2−1 = 1 > 0, D3 = 3−4/3 = 5/3 > 0
    val score = Seq((100L, "p q r"), (101L, "q p r")).toDF("id", "text")
    val got = Corpus.knTrigramLogProb(train, score, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // seen singleton trigram: term3 = (1 − 1/3)/1 discounted but > 0;
    // unseen context: pure backoff — both finite and negative
    assert(got(100L) > got(101L))
    assert(got.values.forall(v => !v.isNaN && !v.isInfinite && v < 0))
  }

  test("fimSplit: PSM reassembles the original; passthrough unchanged") {
    val docs = Seq((1L, "abcdefghij"), (2L, "kl"), (3L, ""), (4L, "x"))
      .toDF("id", "t")
    val out = Corpus.fimSplit(docs, "id", "t", fimRate = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    out.foreach { case (id, (isFim, i, j, psm)) =>
      assert(isFim, s"rate=1.0 must gate every row (id=$id)")
      val orig = Map(1L -> "abcdefghij", 2L -> "kl", 3L -> "", 4L -> "x")(id)
      assert(i >= 0 && i <= j && j <= orig.length)
      // <PRE>p<SUF>s<MID>m with p+m+s == original
      val m = "(?s)<PRE>(.*)<SUF>(.*)<MID>(.*)".r
      psm match {
        case m(p, s2, mid) => assert(p + mid + s2 === orig)
        case _ => fail(s"bad PSM shape: $psm")
      }
    }
    // rate 0: nothing gated, text passes through with null cuts
    val none = Corpus.fimSplit(docs, "id", "t", fimRate = 0.0).collect()
    assert(none.forall(r => !r.getBoolean(1) && r.isNullAt(2) &&
      r.getString(4) === Map(1L -> "abcdefghij", 2L -> "kl", 3L -> "",
        4L -> "x")(r.getLong(0))))
    intercept[IllegalArgumentException] {
      Corpus.fimSplit(docs, "id", "t", fimRate = 1.5)
    }
  }

  test("fimSplit: gate is (seed,id)-keyed and content cuts are stable") {
    val docs = (1L to 200L).map(i => (i, s"document number $i padding text"))
      .toDF("id", "t")
    val a = Corpus.fimSplit(docs, "id", "t", fimRate = 0.5, seed = "s1")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val b = Corpus.fimSplit(docs, "id", "t", fimRate = 0.5, seed = "s2")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // different seeds flip some gates; same seed is deterministic
    assert(a != b)
    val a2 = Corpus.fimSplit(docs, "id", "t", fimRate = 0.5, seed = "s1")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(a === a2)
    // the gated fraction is near the rate (16-bit gate, 200 draws)
    val frac = a.values.count(identity).toDouble / a.size
    assert(frac > 0.3 && frac < 0.7, s"gated frac $frac")
  }

  test("bpeFertility: hand-computed per-group piece economics") {
    import spark.implicits._
    // corpus: "ab ab cd" twice in g1; "ab" once in g2.
    // pairs: (a,b) freq over distinct-vocab {ab:?}; with 1 merge "ab"
    // becomes one piece, "cd" stays... train 1 merge and hand-check.
    val docs = Seq(("g1", "ab ab cd"), ("g1", "ab cd cd"), ("g2", "ab"))
      .toDF("g", "text")
    val merges = Corpus.bpeTrain(docs, "text", nMerges = 1)
      .orderBy("merge_rank").collect().map(r => (r.getString(1), r.getString(2)))
    assert(merges.length === 1) // one winning pair
    val out = Corpus.bpeFertility(docs, "text", "g", merges.toSeq)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // the winning merge is (a,b) or (c,d) — freq 3 each, tie-break picks one;
    // merged word -> 1 piece, the other 2-char word -> 2 pieces
    val (nw1, np1, ppw1, cpp1) = out("g1")
    assert(nw1 === 6L)              // 6 word tokens in g1
    assert(np1 === 3 * 1 + 3 * 2)   // 3 merged (1 piece) + 3 unmerged (2)
    assert(math.abs(ppw1 - np1.toDouble / 6) < 1e-6) // op rounds 6 dp
    assert(math.abs(cpp1 - 12.0 / np1) < 1e-6) // 12 chars; op rounds 6 dp
    val (nw2, np2, _, _) = out("g2")
    assert(nw2 === 1L && (np2 === 1L || np2 === 2L))
  }

  test("epochsPerDomain: budget split, epoch cap, truncation flag") {
    import spark.implicits._
    // two domains, tokens 100 and 400; alpha=1 -> proportional shares
    val df = Seq(("a", 100L), ("b", 400L)).toDF("dom", "sz")
    val out = Corpus.epochsPerDomain(df, "dom", "sz",
        budgetTokens = 1000L, alpha = 1.0, maxEpochs = 3.0)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))))
      .toMap
    // shares: a=0.2, b=0.8 -> budgets 200, 800
    val (ba, ea, fa, ta) = out("a")
    assert(ba === 200.0 && ea === 2.0 && fa === 200.0 && !ta)
    val (bb, eb, fb, tb) = out("b")
    assert(bb === 800.0 && eb === 2.0 && fb === 800.0 && !tb)
    // tight cap: budget 1000 all to one 100-token domain, cap 3 epochs
    val one = Seq(("a", 100L)).toDF("dom", "sz")
    val r2 = Corpus.epochsPerDomain(one, "dom", "sz", 1000L, 1.0, 3.0)
      .collect()(0)
    assert(r2.getDouble(4) === 3.0 && r2.getDouble(5) === 300.0 &&
      r2.getBoolean(6)) // truncated: demand 1000 > 300 capacity
    intercept[IllegalArgumentException] {
      Corpus.epochsPerDomain(one, "dom", "sz", 0L, 1.0, 3.0)
    }
  }

  test("maxDupSpans: equals brute-force union of ALL duplicated spans >= L") {
    // Independent ground truth: enumerate EVERY span [s, e) of EVERY
    // length >= L, test duplication by direct substring occurrence
    // counting (overlaps included), union the duplicated ones per doc.
    // maxDupSpans only ever looks at length-L grams — agreeing with
    // this proves the stride-1 run equivalence the operator rests on.
    def brute(docs: Seq[(Long, String)], L: Int): Seq[(Long, Long, Long)] = {
      def occ(sub: String): Int = docs.iterator.map { case (_, t) =>
        var c = 0; var i = t.indexOf(sub)
        while (i >= 0) { c += 1; i = t.indexOf(sub, i + 1) }
        c
      }.sum
      docs.flatMap { case (id, t) =>
        val dupChar = Array.fill(t.length)(false)
        for {
          s <- 0 until t.length
          e <- (s + L) to t.length
          if occ(t.substring(s, e)) > 1
        } (s until e).foreach(dupChar(_) = true)
        // maximal runs of covered chars
        val spans = scala.collection.mutable.Buffer.empty[(Long, Long, Long)]
        var i = 0
        while (i < t.length) {
          if (dupChar(i)) {
            var j = i
            while (j < t.length && dupChar(j)) j += 1
            spans += ((id, i.toLong, j.toLong))
            i = j
          } else i += 1
        }
        spans
      }.sortBy(x => (x._1, x._2))
    }
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "a document with the quick brown fox inside it and more",
      3L -> "unique text nothing shared with anything else here",
      4L -> "tail overlap case: over the lazy dog today is repeated",
      5L -> "zzzzzzzzzzzzzzzz", // self-repeat within one doc
      6L -> "a document with the quick brown fox inside it and more")
    val L = 8
    val got = Corpus.maxDupSpans(docs.toDF("id", "t"), "id", "t", L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(got === brute(docs, L))
    assert(got.nonEmpty) // fixture really exercises the path
    // span_len column is e - s
    val lens = Corpus.maxDupSpans(docs.toDF("id", "t"), "id", "t", L)
      .collect().map(r => (r.getLong(2) - r.getLong(1), r.getLong(3)))
    assert(lens.forall { case (d, l) => d === l })
  }

  test("decontaminateSubstrings: test spans cut everywhere, clean text untouched, no election") {
    val leak = "THE SECRET BENCHMARK ANSWER SEQUENCE XYZ"  // 40 chars
    assert(leak.length === 40)
    val train = Seq(
      (1L, s"prefix one $leak suffix one"),     // embeds the leak
      (2L, s"prefix two $leak suffix two"),     // second occurrence: ALSO cut
      (3L, "completely clean training document here"),
      (4L, leak),                                // the leak verbatim
      (5L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val test = Seq((100L, s"question: $leak please answer")).toDF("id", "t")
    val out = Corpus.decontaminateSubstrings(train, test, "id", "t", 40)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)),
          r.getLong(2), r.getLong(3))).toMap
    assert(out.size === 5)
    // both embedding docs lose the leak at MAXIMAL extent (no
    // first-occurrence survivor): the test doc also flanks the leak
    // with spaces, so the shared span is " leak " — 42 chars
    assert(out(1L)._1 === "prefix onesuffix one")
    assert(out(2L)._1 === "prefix twosuffix two")
    assert(out(1L)._2 === 1L && out(1L)._3 === 42L)
    assert(out(2L)._2 === 1L && out(2L)._3 === 42L)
    // clean doc untouched, verbatim-leak doc fully emptied, null passthrough
    assert(out(3L) === (("completely clean training document here", 0L, 0L)))
    assert(out(4L) === (("", 1L, 40L)))
    assert(out(5L) === ((null, 0L, 0L)))
    // spans extend maximally: a longer shared region is cut as ONE span
    val train2 = Seq((1L, s"aa $leak TAIL MORE SHARED CONTEXT zz")).toDF("id", "t")
    val test2 = Seq((9L, s"$leak TAIL MORE SHARED CONTEXT")).toDF("id", "t")
    val got2 = Corpus.decontaminateSubstrings(train2, test2, "id", "t", 40)
      .collect()(0)
    assert(got2.getString(1) === "aa  zz")
    assert(got2.getLong(2) === 1L)
  }

  test("maxDupSpans: multi-segment all-duplicated doc collapses to one span (bounded merge state)") {
    // The r10 verdict #4 pathology: a long doc whose EVERY window is
    // duplicated used to build one collect_list row holding every raw
    // offset (~4 bytes/char). The segmented merge turns that into one
    // interval per 64 KiB segment before the per-doc group. 150k chars
    // spans 3 segments at the default width — the closed-form answer
    // is a single maximal span covering the whole doc, which also
    // proves the cross-segment stitch merges a 3-segment run.
    val t = "ab" * 75000
    val docs = Seq((1L, t), (2L, t)).toDF("id", "t")
    val got = Corpus.maxDupSpans(docs, "id", "t", 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 0L, 150000L), (2L, 0L, 150000L)))
  }

  test("maxDupSpans: duplicated block crossing the 64 KiB segment boundary stitches to one span") {
    // unique 10-char chunks -> no accidental duplicate 20-grams inside
    // the fillers; the only shared content is the 200-char block, which
    // straddles offset 65536 in doc 1 (starts at 65500), so its run of
    // marked windows lives in two segments and must stitch back into
    // ONE maximal span.
    // chunk = 2 prefix letters + 8 counter digits: the char RIGHT
    // before the block is a counter digit chosen to differ between
    // docs ('9' vs '0') and the chars right after are the prefix pair
    // ("cc" vs "dd") — so no 20-gram crossing a block boundary is
    // shared cross-doc and the span cannot (correctly) extend past
    // the block. Earlier fixture shapes DID share flanks (a common
    // 'Z' terminator, 8 leading counter zeros) and the operator
    // rightly extended the span — the fixture, not the op, was wrong.
    def filler(prefix: String, chunks: Int): String =
      (0 until chunks).map(i => f"$prefix$prefix$i%08d").mkString
    val block = (0 until 20).map(i => f"Q$i%03dWXYZmn").mkString
    assert(block.length === 200)
    val doc1 = filler("a", 6550) + block + filler("c", 430)
    val doc2 = filler("b", 51) + block + filler("d", 400)
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("id", "t")
    val got = Corpus.maxDupSpans(docs, "id", "t", 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 65500L, 65700L), (2L, 510L, 710L)))
  }

  test("decontaminateSubstrings: bloom-prefiltered shuffle route equals the broadcast route") {
    val leak = "THE SECRET BENCHMARK ANSWER SEQUENCE XYZ"
    val train = Seq(
      (1L, s"prefix one $leak suffix one"),
      (2L, s"prefix two $leak suffix two"),
      (3L, "completely clean training document here"),
      (4L, leak),
      (5L, null.asInstanceOf[String])).toDF("id", "t")
    val test = Seq((100L, s"question: $leak please answer")).toDF("id", "t")
    def rows(maxBroadcast: Long) =
      Corpus.decontaminateSubstrings(train, test, "id", "t", 40, maxBroadcast)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    // maxBroadcastWindows = 0 forces the large-test route: DupBloom
    // membership prune at the scan + shuffled left-semi join. The gate
    // may only change the PLAN, never the marking.
    assert(rows(0L) === rows(4000000L))
  }

  test("lineDedup: cross-doc boilerplate lines removed, trim-keyed, null/empty edges") {
    val docs = Seq(
      (1L, "real content one\nSubscribe Now\nmore text"),
      (2L, "other body\n  Subscribe Now  \nfooter stays? no"),
      (3L, "third doc\nSubscribe Now"),
      (4L, "Subscribe Now"),            // the whole doc is boilerplate
      (5L, "unique doc, no shared lines"),
      (6L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val out = Corpus.lineDedup(docs, "id", "t", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)), r.getLong(2))).toMap
    assert(out.size === 6)
    // 'Subscribe Now' appears (trimmed) in docs 1-4 -> removed everywhere;
    // doc 2's padded variant matches via the trim key
    assert(out(1L) === (("real content one\nmore text", 1L)))
    assert(out(2L) === (("other body\nfooter stays? no", 1L)))
    assert(out(3L) === (("third doc", 1L)))
    assert(out(4L) === (("", 1L)))      // all lines removed -> empty doc
    assert(out(5L) === (("unique doc, no shared lines", 0L)))
    assert(out(6L) === ((null, 0L)))
    // below threshold: nothing removed
    val none = Corpus.lineDedup(docs, "id", "t", minDocs = 5)
      .collect().map(_.getLong(2)).sum
    assert(none === 0L)
    intercept[IllegalArgumentException] {
      Corpus.lineDedup(docs, "id", "t", minDocs = 1)
    }
  }

  test("lineDedup: broadcast and bloom-prefiltered shuffled routes mark the same set") {
    // several boilerplate lines at different doc counts + near-miss
    // lines (2 docs under minDocs = 3) that the bloom route must NOT
    // let through, + trim-variant hits
    val docs = (0L until 60L).map { i =>
      val boiler =
        (if (i % 2 == 0) "\nSubscribe Now" else "") +
          (if (i % 3 == 0) "\n  Copyright Footer  " else "") +
          (if (i % 25 == 0) "\nrare pair line" else "") // 3 docs: 0,25,50
      (i, s"unique body $i$boiler\ntail $i")
    }.toDF("id", "t")
    def rows(maxBroadcast: Long) =
      Corpus.lineDedup(docs, "id", "t", minDocs = 3, maxBroadcast)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    // maxBroadcastLines = 0 forces the large-set route: ShardedDupBloom
    // membership prune at the scan + shuffled left-semi join. The gate
    // may only change the PLAN, never the marking.
    val broadcastRoute = rows(1000000L)
    assert(rows(0L) === broadcastRoute)
    assert(broadcastRoute.map(_._3).sum > 0L)

    // empty boilerplate set through the bloom route: a threshold no
    // line reaches must pass every doc through unchanged (the filter
    // builds over an EMPTY frame — geometry floor, zero adds)
    val untouched = Corpus.lineDedup(docs, "id", "t", minDocs = 100, 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(untouched.forall(_._3 === 0L))
    assert(untouched.map(_._2).sorted ===
      docs.collect().map(_.getString(1)).sorted)
  }

  test("conjunctiveTopK: AND semantics, BM25 order, k bound") {
    val docs = Seq(
      (1L, "spark window spark window spark"), // both terms, spark-heavy
      (2L, "spark spark spark"),               // missing 'window'
      (3L, "window spark"),                    // both, fewer hits
      (4L, "merge join sort"),                 // neither
      (5L, "spark window")).toDF("doc_id", "text")
    val out = Corpus.conjunctiveTopK(docs, "doc_id", "text",
      Seq("spark", "window"), k = 2).orderBy("rank").collect()
    // only docs 1/3/5 contain BOTH; k=2 keeps the top 2 by score
    assert(out.length === 2)
    assert(out.map(_.getInt(0)).toSeq === Seq(1, 2))
    val ids = out.map(_.getLong(1)).toSet
    assert(ids.subsetOf(Set(1L, 3L, 5L)) && !ids.contains(2L))
    // scores ranked descending
    assert(out(0).getDouble(2) >= out(1).getDouble(2))
    // widening k surfaces every conjunctive match, and no others
    val all = Corpus.conjunctiveTopK(docs, "doc_id", "text",
      Seq("spark", "window"), k = 10).collect()
    assert(all.map(_.getLong(1)).toSet === Set(1L, 3L, 5L))
    intercept[IllegalArgumentException] {
      Corpus.conjunctiveTopK(docs, "doc_id", "text", Seq("spark"), k = 0)
    }
    // a term absent from the corpus empties the conjunction entirely
    assert(Corpus.conjunctiveTopK(docs, "doc_id", "text",
      Seq("spark", "nonexistentterm"), k = 5).count() === 0L)
    // duplicate query terms must not inflate the required match count
    val dupTerms = Corpus.conjunctiveTopK(docs, "doc_id", "text",
      Seq("spark", "window", "spark"), k = 10).collect()
    assert(dupTerms.map(_.getLong(1)).toSet === Set(1L, 3L, 5L))
  }
}
