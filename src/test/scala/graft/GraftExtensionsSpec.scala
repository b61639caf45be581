package graft

import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis

/** The SQL-function surface must produce the SAME expression trees as
  * the Column API — spot-checked value-for-value here. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "The cat sat on the mat, and it was good."),
    (2L, "der hund ist nicht auf der matte"),
    (3L, "")).toDF("id", "text")

  test("SQL functions mirror the Column API value-for-value") {
    GraftExtensions.registerInto(spark)
    docs.createOrReplaceTempView("gx_docs")
    val viaSql = spark.sql(
      """SELECT id, graft_token_count(text) AS nt, graft_lang_id(text) AS lang,
        |  round(graft_quality(text), 6) AS q, graft_fingerprint(text) AS fp,
        |  graft_rolling_hash(text) AS rh, graft_simhash(text) AS sh,
        |  size(graft_shingles(text)) AS nsh, size(graft_minhash(text)) AS nmh
        |FROM gx_docs ORDER BY id""".stripMargin).collect()
    val viaCol = docs.select(col("id"),
        TextAnalysis.tokenCount(col("text")).as("nt"),
        TextAnalysis.langId(col("text")).as("lang"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("q"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.rollingHash(col("text")).as("rh"),
        TextAnalysis.simHashRow(col("text"), 16).as("sh"),
        size(graft.ops.Dedup.shingles(col("text"))).as("nsh"),
        size(graft.ops.Dedup.minhashSignature(col("text"))).as("nmh"))
      .orderBy("id").collect()
    assert(viaSql.map(_.toString).toSeq === viaCol.map(_.toString).toSeq)
    assert(viaSql.head.getAs[String]("lang") === "en")
    assert(viaSql(1).getAs[String]("lang") === "de")
  }

  test("graft_simhash in SQL: NULL, empty, DuckDB golden, input types") {
    GraftExtensions.registerInto(spark)
    def sh(arg: String): String =
      spark.sql(s"SELECT graft_simhash($arg)").collect()(0).getString(0)
    assert(sh("CAST(NULL AS STRING)") === "0" * 16)
    assert(sh("NULL") === "0" * 16)
    assert(sh("''") === "0" * 16)
    // DuckDB-computed 16-bit sketch (TextAnalysisSpec pins the same)
    assert(sh("'Hello, brave new World 42!'") === "1101001110100100")
    // atomic arguments sketch their string form ...
    assert(sh("42") === "0110000011001101")
    assert(sh("42") === sh("'42'"))
    assert(sh("true") === "1100110001010001")
    // ... and nested types are rejected at analysis, not stringified
    Seq("array('a b')", "map('a', 'b')", "named_struct('a', 'b')").foreach { a =>
      intercept[org.apache.spark.sql.AnalysisException](sh(a))
    }
  }

  test("graft_cosine works in SQL over array columns") {
    GraftExtensions.registerInto(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 1.0d)) AS c").collect()(0)
    assert(math.abs(r.getDouble(0) - math.sqrt(2) / 2) < 1e-12)
  }
}
