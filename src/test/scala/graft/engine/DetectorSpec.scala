package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Golden detection tests against the reference's own fixture
  * (`/root/reference/customer_data_test.csv`) — expected types verified
  * by executing the reference ladder (SURVEY.md §1, FIXTURES.md §1). */
class DetectorSpec extends SparkSpec {

  lazy val fixture: DataFrame = spark.read
    .option("header", "true").option("inferSchema", "true")
    .csv("/root/reference/customer_data_test.csv")
    .na.drop("any")

  test("fixture loads 500 rows post-dropna (Latanova_v1.py:14)") {
    assert(fixture.count() === 500L)
  }

  test("referenceCompat ladder reproduces the verified type map incl. phone quirk") {
    val types = Detector.detect(fixture, DetectorConfig())
      .map { case (n, (t, _)) => n -> t.name }
    val expected = Map(
      "customer_id" -> "integer", "name" -> "text", "email" -> "email",
      "phone" -> "phone",
      "address" -> "phone",        // SURVEY.md §1 quirk
      "join_date" -> "phone",      // ISO dates strip to 8 digits
      "last_purchase" -> "phone",
      "total_spent" -> "float", "purchase_count" -> "integer",
      "is_vip" -> "boolean", "segment" -> "categorical",
      "satisfaction_score" -> "integer", "feedback" -> "text")
    expected.foreach { case (c, t) =>
      assert(types(c) === t, s"column $c")
    }
  }

  test("strictFormats mode classifies dates and addresses correctly") {
    val types = Detector.detect(fixture, DetectorConfig(strictFormats = true))
      .map { case (n, (t, _)) => n -> t.name }
    assert(types("join_date") === "datetime")
    assert(types("last_purchase") === "datetime")
    assert(types("address") === "text")
    assert(types("email") === "email")
    assert(types("phone") === "phone")
    assert(types("total_spent") === "float")
  }

  test("boolean rule: <=3 normalized uniques within token set") {
    import spark.implicits._
    val df = Seq("Yes", "No", "yes", "NO", "Yes").toDF("b")
    val m = Detector.detect(df)
    assert(m("b")._1 === SemanticType.Boolean)
    assert(m("b")._2.boolFormat === BoolFormat.YesNo)
  }

  test("numeric-string rule: >=90% coercible strings split integer/float") {
    import spark.implicits._
    val ints = Seq("1", "2", "3", "4", "5", "6", "7", "8", "9", "x").toDF("c")
    assert(Detector.detect(ints)("c")._1 === SemanticType.Integer)
    val floats = Seq("1.5", "2.5", "3.5", "4.5", "5.5", "6.5", "7.5", "8.5", "9.5", "x").toDF("c")
    assert(Detector.detect(floats)("c")._1 === SemanticType.Float)
  }

  test("categorical rule: low unique ratio, under 50 distinct") {
    import spark.implicits._
    val df = (1 to 100).map(i => if (i % 2 == 0) "A" else "B").toDF("c")
    assert(Detector.detect(df)("c")._1 === SemanticType.Categorical)
  }

  test("all-null column is unknown") {
    import spark.implicits._
    val df = Seq[Option[String]](None, None).toDF("c")
    assert(Detector.detect(df)("c")._1 === SemanticType.Unknown)
  }

  test("near-threshold cardinalities: 3 vs 4 boolean tokens, 49 vs 50 categories") {
    import spark.implicits._
    val df = (0 until 2000).map { i =>
      (Seq("yes", "no", "y")(i % 3),
        Seq("yes", "no", "y", "n")(i % 4),
        s"cat${i % 49}",
        s"cat${i % 50}",
        s"unique free text value number $i")
    }.toDF("b", "b4", "cat", "cat50", "txt")
    val types = Detector.detect(df).map { case (n, (t, _)) => n -> t.name }
    assert(types === Map("b" -> "boolean", "b4" -> "categorical",
      "cat" -> "categorical", "cat50" -> "text", "txt" -> "text"))
    val sig = Detector.signals(df).map(s => s.name -> s).toMap
    assert(sig("b").nDistinctNorm === 3L)
    assert(sig("cat").nDistinct === 49L)
    assert(sig("cat50").nDistinct === 50L)
  }

  test("ratio thresholds: one column just over and one just under each") {
    // 20 rows, so each ratio moves in steps of 0.05; `k` of them carry
    // the signal, the rest are distinct filler words (text)
    val n = 20
    def col(k: Int)(f: Int => String): Seq[String] =
      (0 until n).map(i => if (i < k) f(i) else s"filler$i")
    val email = (i: Int) => s"user$i@example.com"
    val phone = (i: Int) => f"555-123-45$i%02d"
    val int = (i: Int) => s"${i + 1}"
    val month = (i: Int) => s"Jan ${i + 1}, 2024"
    val cols = Seq(
      // email/phone: ratio > 0.7
      "email_over" -> col(15)(email), "email_at" -> col(14)(email),
      "phone_over" -> col(15)(phone), "phone_at" -> col(14)(phone),
      // numeric strings: ratio >= 0.9
      "num_at" -> col(18)(int), "num_under" -> col(17)(int),
      // integral share of the numeric values: >= 0.95
      "int_at" -> (0 until n).map(i => if (i < 19) int(i) else "0.5"),
      "int_under" -> (0 until n).map(i => if (i < 18) int(i) else s"$i.5"),
      // parsed dates: ratio >= 0.8
      "date_at" -> col(16)(month), "date_under" -> col(15)(month),
      // categorical: unique ratio <= 0.3
      "cat_at" -> (0 until n).map(i => s"c${i % 6}"),
      "cat_over" -> (0 until n).map(i => s"c${i % 7}"))
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(cols.map(_._2(i)): _*))
    val schema = org.apache.spark.sql.types.StructType(cols.map { case (c, _) =>
      org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType) })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val types = Detector.detect(df).map { case (c, (t, _)) => c -> t.name }
    assert(types === Map(
      "email_over" -> "email", "email_at" -> "text",
      "phone_over" -> "phone", "phone_at" -> "text",
      "num_at" -> "integer", "num_under" -> "text",
      "int_at" -> "integer", "int_under" -> "float",
      "date_at" -> "datetime", "date_under" -> "text",
      "cat_at" -> "categorical", "cat_over" -> "text"))
  }

  test("lenient date formats: slashed ISO, dotted, English month names") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ok = Seq("2024/01/03", "03.01.2024", "Jan 3, 2024", "3 Jan 2024",
      "2024-01-03", "01/03/2024")
    val bad = Seq("Jan 33, 2024", "hello world", "{\"k\":3}", "13.45")
    val got = (ok ++ bad).toDF("c")
      .select(col("c"), Detector.tryParseDate(col("c")).isNotNull.as("p"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    ok.foreach(s => assert(got(s), s"should parse: $s"))
    bad.foreach(s => assert(!got(s), s"should NOT parse: $s"))
    // a column of month-name dates classifies datetime in strict mode
    val df = Seq("Jan 3, 2024", "Feb 14, 2023", "Mar 1, 2022", "Dec 31, 2021").toDF("d")
    assert(Detector.detect(df, DetectorConfig(strictFormats = true))("d")._1
      === SemanticType.Datetime)
  }

  test("TIMESTAMP_NTZ classifies like the same instants as TIMESTAMP, in both ladders") {
    import org.apache.spark.sql.types.NullType
    val df = DetectorSpec.timestampTwins(spark)
    def strip(s: ColumnSignals) = s.copy(name = "", dataType = NullType)
    for (cfg <- Seq(DetectorConfig(), DetectorConfig(strictFormats = true))) {
      val d = Detector.detect(df, cfg)
      for ((ntz, ts) <- Seq("ntz_frac" -> "ts_frac", "ntz_whole" -> "ts_whole")) {
        assert(d(ntz)._1 === d(ts)._1, s"$ntz vs $ts, $cfg")
        assert(strip(d(ntz)._2) === strip(d(ts)._2), s"$ntz vs $ts, $cfg")
      }
      // a sub-second render has 19+ digits, past the phone rule's 15
      assert(d("ntz_frac")._1 === SemanticType.Datetime, cfg)
      assert(d("ntz_frac")._2.dateRatio === 1.0, cfg)
    }
    val strict = Detector.detect(df, DetectorConfig(strictFormats = true))
    assert(strict.values.map(_._1).toSet === Set(SemanticType.Datetime))
  }

  test("boolean coercion expression matches reference token sets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("true", "YES", "1", "t", "Y", "false", "no", "0", "f", "N", "maybe")
      .toDF("c").select(Detector.coerceBoolean(col("c")).as("b"))
    val got = df.collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(got.toSeq === Seq(true, true, true, true, true,
      false, false, false, false, false, null))
  }
}

object DetectorSpec {
  /** 200 hourly instants from 2024-01-01 00:00 UTC, each with a distinct
    * sub-second part, as TIMESTAMP (`ts_frac`) and TIMESTAMP_NTZ
    * (`ntz_frac`), plus the same hours at whole seconds in both types
    * (`ts_whole`, `ntz_whole`). The session timezone is UTC, so each NTZ
    * column holds the wall clock of its TIMESTAMP twin. */
  def timestampTwins(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    import org.apache.spark.sql.types.TimestampNTZType
    val whole = lit(1704067200000000L) + col("id") * 3600000000L
    val frac = timestamp_micros(whole + col("id") * 123L + 1L)
    spark.range(200).select(
      frac.as("ts_frac"), frac.cast(TimestampNTZType).as("ntz_frac"),
      timestamp_micros(whole).as("ts_whole"),
      timestamp_micros(whole).cast(TimestampNTZType).as("ntz_whole"))
  }
}
