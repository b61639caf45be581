package graft.engine

import org.apache.spark.sql.{Column, DataFrame, GraftActions, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{EmbeddingModel, TextProfiler, TextSynth, Vocab}

/** The reference's end-to-end pipeline (`main()`,
  * `Latanova_v1.py:630-739`), Spark-first:
  *
  *   profile:  seeded sample, cached and built once → detection
  *             (Detector: the fused signal aggregate ∥ the distinct
  *             pass, then the exact date parse for shape-screen
  *             survivors) → the scalar profile (Profiler: the moment
  *             aggregate ∥ the quantile sort) ∥ ONE small grouped
  *             count of all categoricals → text/embedding
  *             tree-aggregate per text/email/phone column
  *             (TextProfiler), one after another.
  *   generate: every column is a projection over one `spark.range(n)` —
  *             no shuffle, codegen'd, embarrassingly parallel
  *             (SURVEY.md §4.3).
  *   validate: the reference's moment-diff metrics
  *             (`validate_synthetic_data`, `Latanova_v1.py:425-494`)
  *             recomputed on the generated frame: the scalar profile
  *             ∥ the categorical count, then each text column.
  *
  * "∥" means concurrent Spark actions
  * ([[org.apache.spark.sql.GraftActions]]): the same plans and jobs as
  * run one after another, but a one-split table's single-task jobs
  * share the cores instead of queueing.
  *
  * Driver state is O(columns) scalars + the text covariance — nothing
  * scales with row count, so the same plan runs at 100 TB. */
object SyntheticPipeline {

  final case class Config(
      detector: DetectorConfig = DetectorConfig(),
      sampleCap: Long = 1000,
      nSamples: Long = 500,
      seed: Long = 42,
      maxTokens: Int = 8,
      embedDim: Int = 16,
      rawSampleCap: Int = 10000,
      textColumns: Boolean = true)

  final case class Result(
      profiles: Map[String, ColumnProfile],
      synthetic: DataFrame,
      validation: Map[String, Map[String, Double]])

  /** Seeded profiling sample (`df.sample(SAMPLE_SIZE, random_state=42)`,
    * `Latanova_v1.py:632-633`): exact-n via orderBy(rand).limit —
    * documented semantic difference from pandas (SURVEY.md §2.2). */
  def sample(df: DataFrame, cfg: Config): DataFrame =
    if (cfg.sampleCap <= 0) df
    else df.orderBy(rand(cfg.seed)).limit(cfg.sampleCap.toInt)

  /** Full profiling phase. Text columns are profiled in embedding space
    * with the deterministic hash-embedding stand-in (the reference's
    * FastText artifact is not published — SURVEY.md §6). */
  def profileTable(df0: DataFrame, cfg: Config = Config()): Map[String, ColumnProfile] = {
    val df = sample(df0.na.drop("any"), cfg).cache()
    try {
      // detection and the profiles below read the cache from concurrent
      // actions: build it once here so none of them plans its build
      GraftActions.built(df)
      val detected = Detector.detect(df, cfg.detector)
      val (scalars, categoricals) = GraftActions.together(
        Profiler.profileScalars(df, detected),
        Profiler.profileCategoricals(df,
          detected.collect { case (n, (SemanticType.Categorical, _)) => n }.toSeq))
      val model = EmbeddingModel(cfg.embedDim, cfg.seed)
      detected.map { case (name, (st, sig)) =>
        import SemanticType._
        val base = scalars.getOrElse(name,
          ColumnProfile(name, st, sig))
        val full = st match {
          case Categorical =>
            base.copy(categorical = categoricals.get(name))
          case Email | Phone =>
            // the reference vectorizes email/phone columns too
            // (`Latanova_v1.py:640-643`) — their embedding-space profile
            // backs the same validation metrics as text columns and
            // already carries the raw sample (None = no non-null rows)
            if (cfg.textColumns) {
              val text = TextProfiler.profile(df, name, model, cfg.maxTokens, cfg.rawSampleCap)
              base.copy(rawSample = text.fold(Seq.empty[String])(_.rawSample), text = text)
            } else base.copy(rawSample = Profiler.rawSample(df, name, cfg.rawSampleCap))
          case Text if cfg.textColumns =>
            base.copy(text = TextProfiler.profile(df, name, model, cfg.maxTokens, cfg.rawSampleCap))
          case _ => base
        }
        name -> full
      }
    } finally df.unpersist()
  }

  /** Synthesis phase: one range frame, every column a projection.
    * Text columns synthesize via the MVN sampler + nearest-word decode
    * against a vocab built from the profiled table. */
  def generate(spark: SparkSession, profiles: Map[String, ColumnProfile],
               cfg: Config = Config(),
               vocabSource: Option[DataFrame] = None): DataFrame = {
    import SemanticType._
    val n = cfg.nSamples
    val names = profiles.keys.toSeq.sorted
    var df: DataFrame = spark.range(n).toDF()
    // independent uniform per categorical column, materialized once
    // (rand re-draws per CaseWhen branch otherwise — see Generators)
    names.zipWithIndex.foreach { case (name, i) =>
      if (profiles(name).semanticType == Categorical)
        df = df.withColumn(s"__u_$i", rand(cfg.seed + 1000 + i))
    }
    val model = EmbeddingModel(cfg.embedDim, cfg.seed)
    var out = df
    names.zipWithIndex.foreach { case (name, i) =>
      val p = profiles(name)
      val seed = cfg.seed + i
      val colExpr: Either[Column, DataFrame => DataFrame] = p.semanticType match {
        case Integer => Left(Generators.numeric(p.numeric.get, isInteger = true, seed))
        case Float => Left(Generators.numeric(p.numeric.get, isInteger = false, seed))
        case Boolean => Left(Generators.boolean(p.boolean, p.boolean.map(_.format), seed))
        case Categorical => Left(Generators.categorical(p.categorical.get, col(s"__u_$i")))
        case Datetime => Left(Generators.datetime(p.datetime.get, p.datetime.flatMap(d => Option(d.format)), seed))
        case Email =>
          if (p.rawSample.nonEmpty)
            Right(base => Generators.bootstrap(base.sparkSession, base, p.rawSample, name, seed))
          else Left(Generators.emailFallback(seed))
        case Phone =>
          if (p.rawSample.nonEmpty)
            Right(base => Generators.bootstrap(base.sparkSession, base, p.rawSample, name, seed))
          else Left(Generators.phoneFallback(seed))
        case Text =>
          p.text match {
            case Some(ts) if ts.rawSample.nonEmpty && vocabSource.isEmpty =>
              // no vocab source → bootstrap from raw entries
              Right(base => Generators.bootstrap(base.sparkSession, base, ts.rawSample, name, seed))
            case Some(ts) =>
              val vocab = Vocab.build(vocabSource.get, name, model)
              Right { base =>
                // both frames descend from spark.range(n): join on id
                val synth = TextSynth.generate(spark, ts, vocab, cfg.maxTokens, n, seed)
                  .withColumnRenamed("value", name)
                base.join(synth, "id")
              }
            case None => Left(lit(null).cast("string"))
          }
        case _ => Left(lit(null).cast("string"))
      }
      out = colExpr match {
        case Left(c) => out.withColumn(name, c)
        case Right(f) => f(out)
      }
    }
    out.select(names.map(col): _*)
  }

  /** Validation phase: absolute moment errors of the synthetic frame vs
    * the source profiles — the reference's metrics, enforceable.
    * `cfg` must carry the same embedding parameters as the profiling
    * run (the text metrics re-vectorize the synthetic column). */
  def validate(synthetic: DataFrame,
               profiles: Map[String, ColumnProfile],
               cfg: Config = Config()): Map[String, Map[String, Double]] = {
    import SemanticType._
    val detected = profiles.map { case (n, p) => n -> (p.semanticType, p.signals) }
    // the scalar profile's two actions and the categorical count read
    // `synthetic` concurrently: build any cache it holds once first
    GraftActions.built(synthetic)
    val (synthProfiles, synthCategoricals) = GraftActions.together(
      Profiler.profileScalars(synthetic, detected),
      Profiler.profileCategoricals(synthetic,
        profiles.collect { case (n, p) if p.semanticType == Categorical => n }.toSeq))
    lazy val model = EmbeddingModel(cfg.embedDim, cfg.seed)
    profiles.flatMap { case (name, p) =>
      val metrics: Option[Map[String, Double]] = p.semanticType match {
        // text/email/phone validate in embedding space: vectorize the
        // synthetic column, diff the mean-of-per-dim moment roll-ups
        // (`validate_synthetic_data`, `Latanova_v1.py:430-454`)
        case Text | Email | Phone if p.text.isDefined =>
          for {
            o <- p.text
            s <- TextProfiler.profile(synthetic, name, model, cfg.maxTokens,
              rawSampleCap = 1)
          } yield Map(
            "mean_error" -> math.abs(o.overallMean - s.overallMean),
            "std_error" -> math.abs(o.overallStd - s.overallStd),
            "skew_error" -> math.abs(o.overallSkew - s.overallSkew),
            "kurt_error" -> math.abs(o.overallKurt - s.overallKurt))
        case Integer | Float =>
          for (o <- p.numeric; s <- synthProfiles.get(name).flatMap(_.numeric)) yield Map(
            "mean_error" -> math.abs(o.mean - s.mean),
            "std_error" -> math.abs(o.std - s.std),
            "median_error" -> math.abs(o.median - s.median),
            "skew_error" -> math.abs(o.skewness - s.skewness),
            "kurt_error" -> math.abs(o.kurtosis - s.kurtosis))
        case Boolean =>
          for (o <- p.boolean; s <- synthProfiles.get(name).flatMap(_.boolean)) yield Map(
            "true_prob_error" -> math.abs(o.trueProb - s.trueProb))
        case Categorical =>
          for (o <- p.categorical; s <- synthCategoricals.get(name)) yield {
            val sm = s.categories.zip(s.probabilities).toMap
            val err = o.categories.zip(o.probabilities).map { case (c, op) =>
              math.abs(op - sm.getOrElse(c, 0.0))
            }.sum / math.max(1, o.categories.size)
            Map("avg_prob_error" -> err,
              "top_category_match" -> (if (s.mostCommon == o.mostCommon) 1.0 else 0.0))
          }
        case Datetime =>
          for (o <- p.datetime; s <- synthProfiles.get(name).flatMap(_.datetime)) yield Map(
            "mean_epoch_error" -> math.abs(o.epoch.mean - s.epoch.mean),
            "std_epoch_error" -> math.abs(o.epoch.std - s.epoch.std))
        case _ => None
      }
      metrics.map(name -> _)
    }
  }

  /** CSV sink with header — the reference's output artifact
    * (`synthetic_data_enhanced.csv`, `Latanova_v1.py:705`). coalesce(1)
    * mirrors the single-file output; drop it for distributed writes. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** detect → profile → generate → validate, the full reference run. */
  def run(df: DataFrame, cfg: Config = Config()): Result = {
    val profiles = profileTable(df, cfg)
    val synthetic = generate(df.sparkSession, profiles, cfg, vocabSource = Some(df)).cache()
    val validation = validate(synthetic, profiles, cfg)
    // release the cache before returning — the frame stays valid
    // (recomputes from the profile literals); a held cache would leak
    // into the caller's session
    synthetic.unpersist(blocking = false)
    Result(profiles, synthetic, validation)
  }
}
