package graft.engine

import graft.SparkSpec

/** End-to-end reference-pipeline test on the reference's own fixture:
  * detect → profile → generate → validate, with the reference's
  * validation metrics enforced as tolerances (SURVEY.md §5). */
class SyntheticPipelineSpec extends SparkSpec {

  lazy val fixture = spark.read
    .option("header", "true").option("inferSchema", "true")
    .csv("/root/reference/customer_data_test.csv")

  lazy val result: SyntheticPipeline.Result = SyntheticPipeline.run(
    fixture,
    SyntheticPipeline.Config(
      detector = DetectorConfig(strictFormats = true),
      nSamples = 2000, seed = 42, maxTokens = 4, embedDim = 8))

  test("pipeline produces a synthetic frame with the source schema") {
    assert(result.synthetic.columns.sorted.toSeq === fixture.columns.sorted.toSeq)
    assert(result.synthetic.count() === 2000L)
  }

  test("numeric columns: generated moments within validation tolerance") {
    val v = result.validation("total_spent")
    val o = result.profiles("total_spent").numeric.get
    assert(v("mean_error") < o.std * 0.1, s"mean_error=${v("mean_error")}")
    assert(v("std_error") < o.std * 0.15, s"std_error=${v("std_error")}")
  }

  test("boolean column: true-probability preserved") {
    assert(result.validation("is_vip")("true_prob_error") < 0.05)
  }

  test("categorical column: distribution and top category preserved") {
    val v = result.validation("segment")
    assert(v("avg_prob_error") < 0.05)
    assert(v("top_category_match") === 1.0)
  }

  test("datetime columns generated in detected render format") {
    import org.apache.spark.sql.functions._
    val bad = result.synthetic
      .filter(!col("join_date").rlike("^\\d{4}-\\d{2}-\\d{2}$")).count()
    assert(bad === 0L)
    val v = result.validation("join_date")
    assert(v("mean_epoch_error") < result.profiles("join_date").datetime.get.epoch.std)
  }

  test("email/phone bootstrap: values drawn from source entries") {
    val emails = result.synthetic.select("email").distinct()
      .collect().map(_.getString(0)).toSet
    val source = result.profiles("email").rawSample.toSet
    assert(emails.subsetOf(source))
    assert(emails.size > 10)
  }

  test("text column synthesized via MVN decode from corpus vocabulary") {
    val sample = result.synthetic.select("feedback").limit(20)
      .collect().map(_.getString(0))
    assert(sample.forall(_ != null))
    assert(sample.exists(_.nonEmpty))
  }

  test("text/email/phone columns validate in embedding space") {
    // the reference validates these three types via vectorized moment
    // roll-ups (`Latanova_v1.py:430-454`) — metrics must exist and the
    // MVN text sampler must land near the profiled mean
    for (c <- Seq("feedback", "email", "phone")) {
      val v = result.validation.getOrElse(c, fail(s"no validation metrics for $c"))
      for (k <- Seq("mean_error", "std_error", "skew_error", "kurt_error"))
        assert(v.contains(k) && !v(k).isNaN, s"$c missing/NaN $k")
    }
    val feedback = result.validation("feedback")
    val o = result.profiles("feedback").text.get
    assert(feedback("mean_error") < math.max(0.05, math.abs(o.overallMean) * 0.5),
      s"mean_error=${feedback("mean_error")} overallMean=${o.overallMean}")
  }

  /** Spark jobs profileTable starts on the orders-shaped table below:
    * 14 as measured with the one-pass categorical counts and the native
    * TIMESTAMP_NTZ datetime path (22 with a grouped count per categorical
    * column and the date column parsed as text); the same 14 whether
    * its actions run one after another or together, because the pinned
    * sample is built before they start. */
  private val JobBudget = 14

  /** Spark jobs profileTable starts on the contacts table below (an id,
    * an email and a phone column, text profiles on), as measured: the
    * email and phone raw samples come from their text profiles, so no
    * second LIMIT collect runs per column (two jobs each). */
  private val ContactsJobBudget = 18

  test("email/phone raw samples come from the text profile, no second collect per column") {
    import org.apache.spark.sql.functions.{col, concat, format_string, lit}
    val contacts = spark.range(300).select(
      col("id").as("c_id"),
      concat(lit("user"), col("id"), lit("@example.com")).as("c_email"),
      format_string("+1 (555) %03d-%04d", col("id") % 1000, col("id") * 37 % 10000)
        .as("c_phone"))
    val cfg = SyntheticPipeline.Config(detector = DetectorConfig(strictFormats = true),
      sampleCap = 0)
    val (profiles, jobs) = withJobCount(SyntheticPipeline.profileTable(contacts, cfg))
    assert(profiles("c_email").semanticType === SemanticType.Email)
    assert(profiles("c_phone").semanticType === SemanticType.Phone)
    for (c <- Seq("c_email", "c_phone")) {
      val p = profiles(c)
      assert(p.text.isDefined, s"$c has no text profile")
      assert(p.rawSample.size === 300)
      assert(p.rawSample === Profiler.rawSample(contacts.na.drop("any"), c, cfg.rawSampleCap))
    }
    assert(jobs <= ContactsJobBudget, s"profileTable ran $jobs Spark jobs")
    // a cap ≤ 0 asks for no sample: no LIMIT collect runs
    assert(withJobCount(Profiler.rawSample(contacts, "c_email", 0)) === ((Seq.empty, 0)))
  }

  /** A table with every column type of the reference's fixture, built
    * in the spec so the text-on path (`run`, validate's embedding-space
    * arm, the vocab decode) runs on any host: an id, an email, a phone,
    * multi-word text distinct per row, a yes/no string, a 3-value
    * categorical and an ISO-date string. */
  private lazy val mixed = {
    import org.apache.spark.sql.functions._
    val words = typedLit(Seq("quick", "late", "broken", "great", "slow", "fine", "odd"))
    spark.range(300).select(
      col("id").as("m_id"),
      concat(lit("user"), col("id"), lit("@example.com")).as("m_email"),
      format_string("+1 (555) %03d-%04d", col("id") % 1000, col("id") * 37 % 10000)
        .as("m_phone"),
      concat_ws(" ", element_at(words, (col("id") % 7 + 1).cast("int")), lit("delivery"),
        element_at(words, (col("id") * 3 % 7 + 1).cast("int")), lit("order"),
        col("id").cast("string")).as("m_note"),
      when(col("id") % 3 === 0, "Yes").otherwise("No").as("m_vip"),
      element_at(typedLit(Seq("basic", "plus", "pro")), (col("id") % 3 + 1).cast("int"))
        .as("m_plan"),
      date_format(date_add(lit("2021-01-01").cast("date"), (col("id") * 7 % 365).cast("int")),
        "yyyy-MM-dd").as("m_joined"))
  }
  private val mixedCfg = SyntheticPipeline.Config(
    detector = DetectorConfig(strictFormats = true), nSamples = 200, seed = 7,
    maxTokens = 4, embedDim = 8)
  private lazy val mixedResult = SyntheticPipeline.run(mixed, mixedCfg)

  test("run with text columns on: an in-spec table of every type") {
    import SemanticType._
    import org.apache.spark.sql.types.{LongType, StringType}
    assert(mixedResult.profiles.map { case (n, p) => n -> p.semanticType } === Map(
      "m_id" -> Integer, "m_email" -> Email, "m_phone" -> Phone, "m_note" -> Text,
      "m_vip" -> Boolean, "m_plan" -> Categorical, "m_joined" -> Datetime))
    val schema = mixedResult.synthetic.schema
    assert(schema.fieldNames.toSeq === mixed.columns.sorted.toSeq)
    for (f <- schema.fields)
      assert(f.dataType === (if (f.name == "m_id") LongType else StringType), f.name)
    assert(mixedResult.synthetic.count() === mixedCfg.nSamples)
    assert(mixedResult.validation.keySet === mixedResult.profiles.keySet)
    for (c <- Seq("m_note", "m_email", "m_phone")) {
      val v = mixedResult.validation(c)
      for (k <- Seq("mean_error", "std_error", "skew_error", "kurt_error"))
        assert(v.contains(k) && !v(k).isNaN, s"$c missing/NaN $k")
    }
  }

  /** Spark jobs validate starts on the generated mixed frame, as
    * measured: the scalar profile's two actions and the categorical
    * count, then one tree-aggregate per text/email/phone column. The
    * synthetic profiles ask for no raw sample: 14 when each of those
    * three columns also ran a LIMIT collect. */
  private val MixedValidateJobBudget = 11

  test("validate on the generated mixed frame stays within its Spark job budget") {
    val synth = SyntheticPipeline.generate(spark, mixedResult.profiles, mixedCfg,
      vocabSource = Some(mixed)).cache()
    try {
      assert(synth.count() === mixedCfg.nSamples)
      val (validation, jobs) = withJobCount(
        SyntheticPipeline.validate(synth, mixedResult.profiles, mixedCfg))
      assert(validation.keySet === mixedResult.profiles.keySet)
      assert(jobs <= MixedValidateJobBudget, s"validate ran $jobs Spark jobs")
      val (again, jobs2) = withJobCount(
        SyntheticPipeline.validate(synth, mixedResult.profiles, mixedCfg))
      // a text profile merges its partitions' sums in task completion
      // order: the text metrics repeat up to rounding
      for ((c, m) <- validation; (k, v) <- m)
        assert(math.abs(again(c)(k) - v) <= 1e-9 * math.max(1.0, math.abs(v)), s"$c $k")
      assert(jobs2 === jobs, s"validate ran $jobs, then $jobs2 Spark jobs")
    } finally synth.unpersist()
  }

  /** The benchmark's orders table in small: two integer keys, two
    * categoricals, a float and a TIMESTAMP_NTZ date. */
  private lazy val orders = {
    import org.apache.spark.sql.functions.{col, element_at, lit, timestamp_micros, typedLit}
    import org.apache.spark.sql.types.TimestampNTZType
    val day = 86400000000L
    spark.range(2000).select(
      col("id").as("o_orderkey"),
      (col("id") * 7919 % 500).as("o_custkey"),
      element_at(typedLit(Seq("F", "O", "P")), (col("id") % 3 + 1).cast("int"))
        .as("o_orderstatus"),
      ((col("id") * 104729 % 49900000 + 100000) / 100.0).as("o_totalprice"),
      timestamp_micros(lit(788918400000000L) + col("id") * 6151 % 2404 * day)
        .cast(TimestampNTZType).as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        (col("id") * 13 % 5 + 1).cast("int")).as("o_orderpriority"))
  }
  // the benchmark's synth_tables settings: whole table, strict ladder
  private val ordersCfg = SyntheticPipeline.Config(
    detector = DetectorConfig(strictFormats = true), sampleCap = 0, textColumns = false)
  private lazy val ordersProfiles = SyntheticPipeline.profileTable(orders, ordersCfg)
  /** `body` over the generated frame, cached and built as the
    * benchmark builds it before validating. */
  private def withOrdersSynth[T](body: org.apache.spark.sql.DataFrame => T): T = {
    val s = SyntheticPipeline.generate(spark, ordersProfiles, ordersCfg).cache()
    try {
      assert(s.count() === ordersCfg.nSamples)
      body(s)
    } finally s.unpersist()
  }

  /** Spark jobs validate starts on the generated orders frame, as
    * measured: the scalar profile (moment aggregate and quantile sort)
    * and the one categorical count, the same 8 whether they run one
    * after another or together. */
  private val ValidateJobBudget = 8

  test("profileTable on an orders-shaped table stays within its Spark job budget") {
    val (profiles, jobs) = withJobCount(SyntheticPipeline.profileTable(orders, ordersCfg))
    assert(profiles.map { case (n, p) => n -> p.semanticType } === Map(
      "o_orderkey" -> SemanticType.Integer, "o_custkey" -> SemanticType.Integer,
      "o_orderstatus" -> SemanticType.Categorical, "o_totalprice" -> SemanticType.Float,
      "o_orderdate" -> SemanticType.Datetime, "o_orderpriority" -> SemanticType.Categorical))
    assert(jobs <= JobBudget, s"profileTable ran $jobs Spark jobs")
    // its actions run concurrently; the count must not depend on timing
    val (_, again) = withJobCount(SyntheticPipeline.profileTable(orders, ordersCfg))
    assert(again === jobs, s"profileTable ran $jobs, then $again Spark jobs")
  }

  test("validate on the generated orders frame stays within its Spark job budget") {
    withOrdersSynth { synth =>
      val (validation, jobs) = withJobCount(
        SyntheticPipeline.validate(synth, ordersProfiles, ordersCfg))
      assert(validation.keySet === ordersProfiles.keySet)
      assert(jobs <= ValidateJobBudget, s"validate ran $jobs Spark jobs")
      val (again, jobs2) = withJobCount(
        SyntheticPipeline.validate(synth, ordersProfiles, ordersCfg))
      assert(again === validation)
      assert(jobs2 === jobs, s"validate ran $jobs, then $jobs2 Spark jobs")
    }
  }

  test("every job profileTable and validate start carries the caller's job group and local properties") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = props.add(e.properties)
    }
    val tag = s"tag-${java.util.UUID.randomUUID()}"
    withOrdersSynth { synth =>
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("caller-group", "caller-group")
        sc.setLocalProperty("graft.spec.tag", tag)
        try {
          SyntheticPipeline.validate(synth, SyntheticPipeline.profileTable(orders, ordersCfg),
            ordersCfg)
        } finally {
          sc.clearJobGroup()
          sc.setLocalProperty("graft.spec.tag", null)
        }
        org.apache.spark.ListenerBusDrain(sc)
      } finally sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = props.asScala.toSeq
    assert(seen.nonEmpty)
    for (p <- seen) {
      assert(Option(p).map(_.getProperty("spark.jobGroup.id")) === Some("caller-group"))
      assert(p.getProperty("graft.spec.tag") === tag)
    }
  }
}
