package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val doc = "Hello, brave new World 42!"

  test("tokens: lowercase alphanumeric split, empties dropped") {
    val got = Seq(doc).toDF("t")
      .select(TextAnalysis.tokens(col("t")).as("x")).collect()(0).getSeq[String](0)
    assert(got === Seq("hello", "brave", "new", "world", "42"))
  }

  test("token count and subword estimate") {
    val r = row1(Seq(doc).toDF("t").select(
      TextAnalysis.tokenCount(col("t")).as("n"),
      TextAnalysis.subwordCountEstimate(col("t")).as("sw")))
    assert(r("n") === 5)
    // ceil(5/4)+ceil(5/4)+ceil(3/4)+ceil(5/4)+ceil(2/4) = 2+2+1+2+1
    assert(r("sw") === 8L)
  }

  test("language id: stopword evidence with deterministic precedence") {
    val rows = Seq(
      ("the cat and the dog of it", "en"),
      ("der hund ist nicht ein katze und", "de"),
      ("el perro y la casa de que", "es"),
      ("xyzzy qwerty plugh", "und"),
      ("你好世界", "zh")).toDF("t", "expect")
    val got = rows.select(col("expect"), TextAnalysis.langId(col("t")).as("pred")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0), r.toString))
  }

  test("quality score components: clean prose scores 1.0, junk scores low") {
    val prose = "the quick brown fox jumps over the lazy dog and runs far away home"
    val junk = "-- ?! ... ;; :: !!"
    val r = Seq(prose, junk).toDF("t")
      .select(col("t"), round(TextAnalysis.qualityScore(col("t")), 6).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r(prose) === 1.0)
    assert(r(junk) <= 0.4)
  }

  test("fingerprints match engine-independent ground truth (DuckDB-computed)") {
    val r = row1(Seq(doc).toDF("t").select(
      TextAnalysis.fingerprint(col("t")).as("fp"),
      TextAnalysis.rollingHash(col("t")).as("rh"),
      TextAnalysis.simHashRow(col("t"), 16).as("sh")))
    assert(r("fp") === "7c32565e18d2acd284e0945e075371fe")
    assert(r("rh") === 1863709792L)
    assert(r("sh") === "1101001110100100")
  }

  test("fingerprint is normalization-invariant; simhash is near-dup tolerant") {
    val a = "Hello   WORLD foo bar baz qux"
    val b = "hello world! foo, bar; baz. qux"
    val r = Seq((a, b)).toDF("a", "b").select(
      (TextAnalysis.fingerprint(col("a")) === TextAnalysis.fingerprint(col("b"))).as("same_fp"),
      (TextAnalysis.simHashRow(col("a"), 16) === TextAnalysis.simHashRow(col("b"), 16))
        .as("same_sh"))
    val row = r.collect()(0)
    assert(row.getBoolean(0)); assert(row.getBoolean(1))
  }

  test("simHashRow ≡ simHashAgg (and simHash16 at 16 bits) across widths") {
    val docs = Seq(
      (1L, "the quick brown Fox; jumps over 42 lazy dogs!"),
      (2L, "completely different content about spark partitions"),
      (3L, ""), (4L, "one"), (5L, "Unicode stays out: caffè 123 naïve"))
      .toDF("id", "text")
    // 128-bit sketches computed in DuckDB from the same md5 digit/bit
    // family (list_transform over md5 hex digits of each token); a
    // narrower sketch is the prefix of the wider one by construction
    val golden = Map(
      1L -> ("01101010010000001100000010001110010010100001111110011011100101110" +
        "111111011001111110001001011000001100111011100000110000010111101"),
      2L -> ("00011001001100001101001010000111011001101000000001000100100000000" +
        "000000000000101000010100011011011100001110001101100100001010000"),
      3L -> "0" * 128,
      4L -> ("11101101101111110110100101000100101000100001110111011001000111011" +
        "011110001001000011000011001000011010101100111010111101001001110"),
      5L -> ("00001100001100110011101110111010111110111100001001010000001001101" +
        "100100101000100100001011000100011110110110101010000001001011000"))
    Seq(16, 32, 64, 128).foreach { nb =>
      val viaRow = docs.select(col("id"),
        TextAnalysis.simHashRow(col("text"), nb).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(viaRow === golden.map { case (id, g) => id -> g.take(nb) },
        s"sketch divergence from the DuckDB golden at $nb bits")
    }
  }

  test("urlParts decomposes real URLs; junk yields null fields") {
    val rows = Seq(
      "https://www.example.com/a/b/c?x=1&y=2",
      "http://sub.domain.io/",
      "https://host.net",
      "not a url at all").toDF("url")
      .select(col("url"), TextAnalysis.urlParts(col("url")).as("u"))
      .select(col("u.host"), col("u.tld"), col("u.path"), col("u.depth"), col("u.query"))
      .collect()
    assert(rows(0).getString(0) === "www.example.com")
    assert(rows(0).getString(1) === "com")
    assert(rows(0).getString(2) === "/a/b/c")
    assert(rows(0).getInt(3) === 3)
    assert(rows(0).getString(4) === "x=1&y=2")
    assert(rows(1).getString(0) === "sub.domain.io")
    assert(rows(1).getString(1) === "io")
    assert(rows(1).getInt(3) === 0)
    assert(rows(2).getString(2) === "")       // no path
    assert(rows(3).isNullAt(0))               // unparseable -> null host
    // contract edges: case-insensitive hosts, dotless hosts, IPv4
    val edge = Seq(
      "https://WWW.Example.COM/a",
      "http://localhost/x",
      "http://192.168.0.1/a").toDF("url")
      .select(TextAnalysis.urlParts(col("url")).as("u"))
      .select(col("u.host"), col("u.tld")).collect()
    assert(edge(0).getString(0) === "www.example.com") // DNS case folded
    assert(edge(0).getString(1) === "com")
    assert(edge(1).isNullAt(1))               // dotless: no tld, not ""
    assert(edge(2).isNullAt(1))               // IPv4: octet is not a tld
  }

  test("charEntropy: hand-computed values, degenerate and null inputs") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("aaaa")),          // single symbol → 0
      (2L, Some("abab")),          // uniform over 2 → ln 2
      (3L, Some("abcd")),          // uniform over 4 → ln 4
      (4L, Some("aab")),           // 2/3,1/3 mix
      (5L, Some("")), (6L, Option.empty[String]))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.charEntropy(col("t")).as("h"))
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.0 && !got(1L).toString.startsWith("-")) // +0.0, not -0.0
    assert(math.abs(got(2L) - math.log(2)) < 1e-12)
    assert(math.abs(got(3L) - math.log(4)) < 1e-12)
    val expected4 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(got(4L) - expected4) < 1e-12)
    assert(got(5L) === 0.0 && got(6L) === 0.0)
  }

  test("gopherFlags: each rule trips on its own violation") {
    import spark.implicits._
    val goodText = ("the quick brown fox jumps over a lazy dog and we " +
      "have plenty of words that with time keep going on and on ") * 3 // 66 words, stopwords present
    val df = Seq(
      (1L, goodText),                                  // passes all
      (2L, "short text"),                              // wc fails (2 words)
      (3L, Seq.fill(60)("a").mkString(" ")),           // mwl fails (len 1)
      (4L, Seq.fill(60)("#tag#").mkString(" ")),       // sym + stop fail
      (5L, ("the of and that be to have with " +
        Seq.fill(52)("12345").mkString(" ")))          // alpha fails (52/60 digits)
    ).toDF("id", "t")
      .select(col("id"), TextAnalysis.gopherFlags(col("t")).as("g"))
      .select(col("id"), col("g.wc_ok"), col("g.mwl_ok"), col("g.sym_ok"),
        col("g.alpha_ok"), col("g.stop_ok"), col("g.pass"))
    val got = df.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    assert(got(1L) === ((1, 1, 1, 1, 1, 1)))
    assert(got(2L)._1 === 0 && got(2L)._6 === 0)       // word count
    assert(got(3L)._2 === 0)                           // mean word length
    assert(got(4L)._3 === 0 && got(4L)._5 === 0)       // symbols, stopwords
    assert(got(5L)._4 === 0)                           // alphabetic fraction
  }

  test("gopherFlags: empty and null text fail every ratio rule without NaN") {
    import spark.implicits._
    val got = Seq((1L, Some("")), (2L, Option.empty[String]))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.gopherFlags(col("t")).as("g"))
      .select(col("id"), col("g.n_words"), col("g.pass"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got(1L) === ((0L, 0)))
    assert(got(2L) === ((0L, 0)))
  }

  test("encodingAudit: counts replacements, mojibake pairs, controls") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some("clean prose text")),
      (2L, Some("bad \uFFFD here \uFFFD")),         // 2 replacements
      (3L, Some("caf\u00C3\u00A9 na\u00C3\u00AFve")), // 2 mojibake pairs
      (4L, Some("ding\u0007 and\u0000")),           // 2 control chars
      (5L, Some("tab\tok\nnewline ok")),            // exempt whitespace
      (6L, Option.empty[String]))                     // null -> all zero, ok
    val got = rows.toDF("id", "t")
      .select(col("id"), TextAnalysis.encodingAudit(col("t")).as("a"))
      .select(col("id"), col("a.n_replacement"), col("a.n_mojibake"),
        col("a.n_ctrl"), col("a.encoding_ok"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got(1L) === ((0, 0, 0, 1)))
    assert(got(2L) === ((2, 0, 0, 0)))
    assert(got(3L) === ((0, 2, 0, 0)))
    assert(got(4L) === ((0, 0, 2, 0)))
    assert(got(5L) === ((0, 0, 0, 1)))
    assert(got(6L) === ((0, 0, 0, 1)))
  }

  test("phraseCount: overlapping matches, boundaries, and short docs") {
    val rows = Seq(
      (1L, "a a a b"),        // "a a" twice (overlap), "a a a" once
      (2L, "the cat sat"),    // no match
      (3L, "b a a"),          // phrase at the end
      (4L, "a"),              // shorter than the phrase
      (5L, "A, a! b"))        // tokenizer lowercases + strips punct
    val df = rows.toDF("id", "t")
      .select(col("id"), TextAnalysis.tokens(col("t")).as("toks"))
    def counts(p: Seq[String]): Map[Long, Long] =
      df.select(col("id"), TextAnalysis.phraseCount(col("toks"), p).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = counts(Seq("a", "a"))
    assert(two === Map(1L -> 2L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
    val three = counts(Seq("a", "a", "a"))
    assert(three === Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseCount(col("toks"), Seq.empty)
    }
  }

  test("phraseSearch: one scan over all phrases, hits only, no shuffle") {
    val docs = Seq(
      (1L, "fast spark table table value table part"),
      (2L, "slow merge join"),
      (3L, "value table part value table part")).toDF("doc_id", "text")
    val out = TextAnalysis.phraseSearch(docs, "doc_id", "text",
      Seq(Seq("table", "table"), Seq("value", "table", "part")))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = out.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (1L, "table table") -> 1L,
      (1L, "value table part") -> 1L,
      (3L, "value table part") -> 2L))
  }

  test("phraseSearch: a single-token phrase degenerates to the term count") {
    val docs = Seq((1L, "spark and spark and more spark"),
      (2L, "no match here")).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(docs, "doc_id", "text",
        Seq(Seq("spark")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 3L))
    // null text and null id rows are dropped, not errors
    val withNulls = Seq((Some(3L), Some("spark")),
      (Some(4L), None), (None, Some("spark")))
      .map { case (i, t) => (i.map(Long.box).orNull, t.orNull) }
      .toDF("doc_id", "text")
    assert(TextAnalysis.phraseSearch(withNulls, "doc_id", "text",
      Seq(Seq("spark"))).collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("phraseCount matches a local sliding-window model on randomized token streams") {
    val rnd = new scala.util.Random(53)
    val vocab = Array("a", "b", "c")
    val docs = (0L until 80L).map { i =>
      (i, Array.fill(rnd.nextInt(25))(vocab(rnd.nextInt(3))).mkString(" "))
    }
    val phrases = Seq(Seq("a"), Seq("a", "b"), Seq("b", "b"), Seq("a", "b", "a"))
    def localCount(toks: Array[String], p: Seq[String]): Long =
      if (toks.length < p.length) 0L
      else (0 to toks.length - p.length)
        .count(j => p.indices.forall(i => toks(j + i) == p(i))).toLong
    val df = docs.toDF("id", "t")
      .select(col("id"), TextAnalysis.tokens(col("t")).as("toks"))
    phrases.foreach { p =>
      val got = df.select(col("id"), TextAnalysis.phraseCount(col("toks"), p))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        assert(got(id) === localCount(toks, p),
          s"id=$id phrase=$p text='$text'")
      }
    }
  }

  test("piiRedact: counts on original text, fixed redaction order, null passthrough") {
    val df = Seq(
      (1L, "mail bob.smith+x@sub.example.org now"),
      (2L, "server at 192.168.0.1 port open"),
      (3L, "call 555-123-4567 or 555 987 6543"),
      (4L, "a@10.1.2.3.com hides an ip in its domain"),
      (5L, "clean text with no pii at all"),
      (6L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val out = TextAnalysis.piiRedact(df, "id", "t")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)),
          r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) === (("mail <EMAIL> now", 1L, 0L, 0L)))
    assert(out(2L) === (("server at <IP> port open", 0L, 1L, 0L)))
    assert(out(3L) === (("call <PHONE> or <PHONE>", 0L, 0L, 2L)))
    // counts are independent per type on the ORIGINAL text: the IPv4
    // inside the email's domain counts as an IP, but the REWRITE
    // applies email first, so the whole address is <EMAIL>
    assert(out(4L) === (("<EMAIL> hides an ip in its domain", 1L, 1L, 0L)))
    assert(out(5L) === (("clean text with no pii at all", 0L, 0L, 0L)))
    assert(out(6L) === ((null, 0L, 0L, 0L)))
  }

  test("codeFences: tagged/untagged blocks per doc, lazy bodies, fence-free docs absent") {
    val docs = Seq(
      (1L, "intro\n```python\nx = 1\ny = 2\n```\nmid\n```python\nz\n```\nand\n```\nraw\n```"),
      (2L, "no code here at all"),
      (3L, "```sql\nSELECT 1;\n```"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val out = TextAnalysis.codeFences(docs, "id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // two python blocks: bodies "x = 1\ny = 2\n" (12) + "z\n" (2); the
    // lazy quantifier must NOT swallow the text between blocks
    assert(out((1L, "python")) === ((2L, 14L)))
    assert(out((1L, "")) === ((1L, 4L)))     // untagged "raw\n"
    assert(out((3L, "sql")) === ((1L, 10L))) // "SELECT 1;\n"
    assert(out.size === 3)                   // docs 2 and 4 emit nothing
  }

  test("htmlMainContent: nav/share/footer blocks drop, article text " +
      "survives; per-gate behavior; null passthrough") {
    val prose = "The quick brown fox jumps over the lazy dog and " +
      "keeps running through the quiet field"
    val page = "<header><ul><li><a href=\"/\">Home</a></li>" +
      "<li><a href=\"/about\">About Us</a></li></ul></header>" +
      s"<article><p>$prose</p></article>" +
      "<div>Share: <a href=\"#\">Tweet</a> <a href=\"#\">Like</a></div>" +
      "<footer>Copyright 2024 Example Corp - All rights reserved</footer>"
    // a long LINK-HEAVY block: passes length + stopwords, fails the
    // 3x link-density gate (most of its text is anchor text)
    val navPage = "<div>the index of <a href=\"/a\">all the articles " +
      "that you could want to read in the archive</a></div>"
    val df = Seq((1L, page), (2L, navPage), (3L, null.asInstanceOf[String]))
      .toDF("id", "html")
    val got = TextAnalysis.htmlMainContent(df, "id", "html")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2), r.getLong(3)))).toMap
    // page: blocks Home / About Us / article / Share / footer; only
    // the article passes (length >= 25, no links, has stopwords)
    assert(got(1L) === ((Some(prose), 5L, 1L)))
    // link-heavy block: len(text) = 82 >= 25, stopwords present, but
    // link text is 59 chars -> 3*59 > 82 -> dropped
    assert(got(2L) === ((Some(""), 1L, 0L)))
    // null html: null text, zero counts
    assert(got(3L) === ((None, 0L, 0L)))
  }
}
