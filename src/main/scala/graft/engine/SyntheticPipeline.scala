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
  *   validate: the generated frame profiled with the source's types
  *             by the same routine as the source (no raw samples),
  *             then the reference's moment-diff metrics
  *             (`validate_synthetic_data`, `Latanova_v1.py:425-494`)
  *             as a pure diff of each column's two profiles.
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
      profileTyped(df, Detector.detect(df, cfg.detector), cfg)
    } finally df.unpersist()
  }

  /** The profiles of `df`'s columns, their semantic types known — the
    * one place a semantic type picks its profile, for the source table
    * and the synthetic frame alike: the scalar profile ∥ ONE grouped
    * count of all categoricals, then the embedding-space profile of
    * each text/email/phone column, one after another. Email/phone
    * columns keep up to `cfg.rawSampleCap` raw entries for bootstrap
    * generation (`Latanova_v1.py:640-643`). */
  private def profileTyped(df: DataFrame,
                           detected: Map[String, (SemanticType, ColumnSignals)],
                           cfg: Config): Map[String, ColumnProfile] = {
    import SemanticType._
    // the scalar profile's two actions and the categorical count read
    // `df` concurrently: build any cache it holds once first
    GraftActions.built(df)
    val (scalars, categoricals) = GraftActions.together(
      Profiler.profileScalars(df, detected),
      Profiler.profileCategoricals(df,
        detected.collect { case (n, (Categorical, _)) => n }.toSeq))
    lazy val model = EmbeddingModel(cfg.embedDim, cfg.seed)
    detected.map { case (name, (st, sig)) =>
      val base = scalars.getOrElse(name, ColumnProfile(name, st, sig))
      name -> (st match {
        case Categorical => base.copy(categorical = categoricals.get(name))
        // an email/phone column's raw sample is its text profile's
        // (None = no non-null rows)
        case Text | Email | Phone if cfg.textColumns =>
          val t = TextProfiler.profile(df, name, model, cfg.maxTokens, cfg.rawSampleCap)
          base.copy(text = t,
            rawSample = if (st == Text) Nil else t.fold(Seq.empty[String])(_.rawSample))
        case Email | Phone => base.copy(rawSample = Profiler.rawSample(df, name, cfg.rawSampleCap))
        case _ => base
      })
    }
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
    * the source profiles — the reference's metrics, enforceable. The
    * synthetic frame is profiled with the source's types by the same
    * routine as the source, then each column's two profiles are
    * diffed ([[metrics]]). `cfg` must carry the same embedding
    * parameters as the profiling run (the text metrics re-vectorize
    * the synthetic column). */
  def validate(synthetic: DataFrame,
               profiles: Map[String, ColumnProfile],
               cfg: Config = Config()): Map[String, Map[String, Double]] = {
    // only columns whose source profile holds the piece their metrics
    // read — exactly those whose self-diff is defined — are profiled
    val compared = profiles.filter { case (_, p) => metrics(p, p).isDefined }
    val synthProfiles = profileTyped(synthetic,
      compared.map { case (n, p) => n -> (p.semanticType, p.signals) },
      cfg.copy(textColumns = true, rawSampleCap = 0))
    compared.flatMap { case (name, p) => metrics(p, synthProfiles(name)).map(name -> _) }
  }

  /** The reference's validation metrics for one column
    * (`validate_synthetic_data`, `Latanova_v1.py:425-494`): absolute
    * differences of the two profiles' moments, by semantic type. None
    * when either side lacks the stats piece its type's metrics read. */
  def metrics(original: ColumnProfile, synthetic: ColumnProfile): Option[Map[String, Double]] = {
    import SemanticType._
    val (o, s) = (original, synthetic)
    o.semanticType match {
      // text/email/phone validate in embedding space: the
      // mean-of-per-dim moment roll-ups (`Latanova_v1.py:430-454`)
      case Text | Email | Phone =>
        for (ot <- o.text; st <- s.text) yield Map(
          "mean_error" -> math.abs(ot.overallMean - st.overallMean),
          "std_error" -> math.abs(ot.overallStd - st.overallStd),
          "skew_error" -> math.abs(ot.overallSkew - st.overallSkew),
          "kurt_error" -> math.abs(ot.overallKurt - st.overallKurt))
      case Integer | Float =>
        for (on <- o.numeric; sn <- s.numeric) yield Map(
          "mean_error" -> math.abs(on.mean - sn.mean),
          "std_error" -> math.abs(on.std - sn.std),
          "median_error" -> math.abs(on.median - sn.median),
          "skew_error" -> math.abs(on.skewness - sn.skewness),
          "kurt_error" -> math.abs(on.kurtosis - sn.kurtosis))
      case Boolean =>
        for (ob <- o.boolean; sb <- s.boolean) yield Map(
          "true_prob_error" -> math.abs(ob.trueProb - sb.trueProb))
      case Categorical =>
        for (oc <- o.categorical; sc <- s.categorical) yield {
          val sm = sc.categories.zip(sc.probabilities).toMap
          val err = oc.categories.zip(oc.probabilities).map { case (c, op) =>
            math.abs(op - sm.getOrElse(c, 0.0))
          }.sum / math.max(1, oc.categories.size)
          Map("avg_prob_error" -> err,
            "top_category_match" -> (if (sc.mostCommon == oc.mostCommon) 1.0 else 0.0))
        }
      case Datetime =>
        for (od <- o.datetime; sd <- s.datetime) yield Map(
          "mean_epoch_error" -> math.abs(od.epoch.mean - sd.epoch.mean),
          "std_epoch_error" -> math.abs(od.epoch.std - sd.epoch.std))
      case Unknown => None
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
