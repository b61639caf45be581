package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val enText = "the quick brown fox jumps over the lazy dog and " +
    "then the fox sleeps for a while near the river bank today"

  test("curate cleans, filters, dedups and keeps schema") {
    val docs = Seq(
      (1L, s"<p>$enText</p> see https://x.com/a mail bob@x.org"),
      (2L, enText),                       // dup of 1 after cleaning? no — 1 gains <EMAIL> token
      (3L, enText),                       // exact dup of 2 → dropped
      (4L, "der schnelle braune fuchs springt und der hund schlaeft dann"), // de
      (5L, "tiny doc")                    // too short
    ).toDF("id", "text")
    val out = Curation.curate(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.contains(2L) && !out.contains(3L)) // exact dedup keeps min id
    assert(!out.contains(4L))                     // language filter
    assert(!out.contains(5L))                     // length filter
    assert(out.contains(1L))
    val r1 = out(1L)
    val clean = r1.getString(1)
    assert(!clean.contains("<p>") && !clean.contains("https://"))
    assert(clean.contains("<EMAIL>"))
    assert(r1.getString(2) === "en")
    assert(r1.getDouble(3) >= 0.5)
    assert(out.keySet === Set(1L, 2L))
  }

  test("sampleFraction thins the curated output deterministically") {
    val docs = (0L until 400L).map(i => (i, s"$enText unique$i")).toDF("id", "text")
    val full = Curation.curate(docs, "id", "text").count()
    val half = Curation.curate(docs, "id", "text",
      Curation.CurationConfig(sampleFraction = 0.5))
    assert(full === 400L)
    assert(math.abs(half.count() - 200L) < 60)
    // deterministic: same ids both runs
    assert(half.collect().map(_.getLong(0)).toSet ===
      Curation.curate(docs, "id", "text",
        Curation.CurationConfig(sampleFraction = 0.5))
        .collect().map(_.getLong(0)).toSet)
  }

  test("curriculumPhases: difficulty blends length and inverted quality; " +
    "phases cover the cut range") {
    // 12 docs with strictly increasing length; the long tail of
    // "zzz"-padded docs is low-quality (no stopwords, long mean token)
    val good = "the quick brown fox jumps over the lazy dog again and again "
    val docs = (1L to 12L).map(i =>
      (i, (good * i.toInt).trim)).toDF("id", "text")
    val out = Curation.curriculumPhases(docs, "id", "text", phases = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(5), r.getInt(6)))).toMap
    assert(out.size === 12)
    // monotone length => monotone pr_len; equal quality => difficulty
    // strictly increases with doc id, and phases are nondecreasing
    val byId = (1L to 12L).map(out)
    assert(byId.map(_._1) === byId.map(_._1).sorted)
    assert(byId.map(_._2) === byId.map(_._2).sorted)
    assert(byId.map(_._3) === byId.map(_._3).sorted)
    // uniform quality floors difficulty at 0.5 -> first phase here is 1
    assert(byId.head._3 === 1 && byId.last._3 === 2)
    out.values.foreach { case (_, d, p) =>
      assert(d >= 0.0 && d <= 1.0); assert(p >= 0 && p <= 2) }
    // equal quality for all docs => pr_quality 0 for every row =>
    // difficulty = 0.5 * pr_len + 0.5; doc 1 has pr_len 0
    assert(math.abs(byId.head._2 - 0.5) < 1e-9)
    intercept[IllegalArgumentException] {
      Curation.curriculumPhases(docs, "id", "text", phases = 1)
    }
  }

  /** Docs of many lengths whose quality gates vary (short, heavy
    * punctuation, no stopwords), so both ranked columns have ties and
    * several distinct values. */
  private lazy val rankedDocs = (1L to 200L).map { i =>
    val text =
      if (i % 7 == 0) "xqzwvk " * (i % 20 + 12).toInt
      else if (i % 3 == 0) "fox jumps " * (i % 4 + 1).toInt
      else (enText + " ") * (i % 9 + 1).toInt + (if (i % 5 == 0) " !!?? ;;,," * 40 else "")
    (i, text.trim)
  }.toDF("id", "text")

  test("curriculumPhases ranks match the window percent_rank bit for bit") {
    import org.apache.spark.sql.expressions.Window
    val out = Curation.curriculumPhases(rankedDocs, "id", "text")
    val byWindow = out
      .withColumn("w_len", percent_rank().over(Window.orderBy("n_tokens")))
      .withColumn("w_q", percent_rank().over(Window.orderBy("quality")))
      .select(col("id"), round(col("w_len"), 6), round(col("w_q"), 6),
        round(lit(0.5) * col("w_len") + lit(0.5) * (lit(1.0) - col("w_q")), 6))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val got = out.select("id", "pr_len", "pr_quality", "difficulty")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.size === 200)
    assert(got.values.map(_._1).toSet.size > 5 && got.values.map(_._2).toSet.size > 2)
    assert(got === byWindow)
  }

  /** Spark jobs of one curriculumPhases collect, as measured: both
    * columns rank in one range scan over (column, value) pairs (13 with
    * one range scan and one join back per ranked column). */
  private val CurriculumJobBudget = 10

  test("curriculumPhases stays within its Spark job budget") {
    val (rows, jobs) = withJobCount(
      Curation.curriculumPhases(rankedDocs, "id", "text").collect())
    assert(rows.length === 200)
    assert(jobs <= CurriculumJobBudget, s"curriculumPhases ran $jobs Spark jobs")
  }

  test("domainCap: registrable-domain grouping, score ranking, cap") {
    val docs = Seq(
      // foo.co.uk family: 3 docs across subdomains, cap 2 keeps the
      // two longest (multi-part suffix must group them together)
      (1L, "www.foo.co.uk", 10L), (2L, "foo.co.uk", 30L),
      (3L, "cdn.a.foo.co.uk", 20L),
      // bar.com family: subdomain minting must not dodge the cap
      (4L, "a.bar.com", 5L), (5L, "b.bar.com", 5L), (6L, "bar.com", 9L),
      // single-label host passes through
      (7L, "localhost", 1L)
    ).toDF("id", "host", "score")
    val out = Curation.domainCap(docs, "id", "host", "score", maxPerDomain = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(out === Set(
      (2L, "foo.co.uk", 1), (3L, "foo.co.uk", 2),
      (6L, "bar.com", 1), (4L, "bar.com", 2), // tie 5 vs 5 -> min id 4
      (7L, "localhost", 1)))
    intercept[IllegalArgumentException] {
      Curation.domainCap(docs, "id", "host", "score", maxPerDomain = 0)
    }
  }

  test("domainCap: host case-folds before extraction") {
    val docs = Seq((1L, "A.EXample.COM", 2L), (2L, "b.example.com", 1L))
      .toDF("id", "host", "score")
    val out = Curation.domainCap(docs, "id", "host", "score", 1).collect()
    assert(out.length === 1 && out(0).getLong(0) === 1L &&
      out(0).getString(1) === "example.com")
  }

  test("domainCap: malformed hosts canonicalize instead of colliding") {
    val docs = Seq(
      (1L, "a..com", 5L), (2L, "b..com", 5L),     // doubled dot
      (3L, "example.com.", 9L),                   // trailing-dot FQDN
      (4L, "example.com", 8L),
      (5L, null.asInstanceOf[String], 7L)         // null host: dropped
    ).toDF("id", "host", "score")
    val out = Curation.domainCap(docs, "id", "host", "score", 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // a..com / b..com are DIFFERENT sites (a.com vs b.com), both kept;
    // trailing-dot host shares its real domain with id 4 (cap trips)
    assert(out === Set((1L, "a.com"), (2L, "b.com"), (3L, "example.com")))
  }

  test("corpusReport: counts, spreads, dup fraction, cardinalities") {
    val prose = ("the quick brown fox jumps over the lazy dog and then " * 5).trim
    val docs = Seq(
      (1L, prose, "en", "s1"),                       // long, quality-bearing
      (2L, prose, "en", "s2"),                       // exact dup of doc 1
      (3L, "tiny doc", "de", "s1"),                  // short (< 50 tokens)
      (4L, null.asInstanceOf[String], "de", "s3"),   // null text
      (5L, "another short one here", null, "s1"))    // null lang
      .toDF("doc_id", "text", "lang", "source")
    val got = Curation.corpusReport(docs, "doc_id", "text", "lang", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("n_docs") === 5.0)
    assert(got("n_null_text") === 1.0)
    assert(got("n_langs") === 2.0)   // en, de — null lang not counted
    assert(got("n_sources") === 3.0)
    // 4 text-bearing docs, one an exact dup -> 3 distinct fingerprints
    assert(got("dup_frac") === 0.25)
    assert(got("short_frac") === 0.5) // docs 3 and 5 of the 4 with text
    val nts = Seq(prose, prose, "tiny doc", "another short one here")
      .map(_.split(" ").length.toLong)
    assert(got("total_tokens") === nts.sum.toDouble)
    assert(got("min_tokens") === nts.min.toDouble)
    assert(got("max_tokens") === nts.max.toDouble)
    assert(math.abs(got("mean_tokens") - nts.sum.toDouble / 4) < 1e-6)
    assert(got("mean_quality") >= 0.0 && got("mean_quality") <= 1.0)
  }

  test("corpusReport: all-null-text and empty corpora hit the nullif guards, not ANSI errors") {
    // every text null: the ratio denominators are 0 — metrics must be
    // null, never a DIVIDE_BY_ZERO
    val allNull = Seq(
      (1L, null.asInstanceOf[String], "en", "s1"),
      (2L, null.asInstanceOf[String], "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val r1 = Curation.corpusReport(allNull, "doc_id", "text", "lang", "source")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(r1("n_docs") === Some(2.0))
    assert(r1("n_null_text") === Some(2.0))
    assert(r1("mean_tokens") === None)
    assert(r1("mean_quality") === None)
    assert(r1("dup_frac") === None)
    assert(r1("short_frac") === None)
    assert(r1("n_langs") === Some(2.0))

    // fully empty corpus: 11 metric rows, counts zero, ratios null
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val r2 = Curation.corpusReport(empty, "doc_id", "text", "lang", "source")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(r2.size === 11)
    assert(r2("n_docs") === Some(0.0))
    assert(r2("total_tokens") === None) // sum over no rows is null
    assert(r2("mean_tokens") === None)
  }
}
