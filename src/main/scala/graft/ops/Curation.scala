package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed end-to-end training-data curation pipeline — the
  * "run every stage a corpus needs" entry point that strings the
  * engine's cleaning, filtering, dedup and sampling operators into one
  * flow:
  *
  *   clean (markup strip + PII redact)        — pure projection
  *   → filter (language / quality / length)   — pure predicates
  *   → exact dedup (keep min id per content)  — one keyed shuffle
  *   → content-keyed sample                   — pure filter
  *
  * Everything before the dedup shuffle fuses into a single scan stage
  * under whole-stage codegen; the predicates sit upstream of the
  * shuffle, so the exchange only carries surviving rows. The stages
  * deliberately run cheapest-first (projection/predicates prune before
  * the shuffle pays, the sample is last so kept-rate statistics are
  * measured on curated data).
  */
object Curation {

  /** Tuning knobs; defaults mirror common corpus-cleaning settings. */
  case class CurationConfig(
      lang: Option[String] = Some("en"),
      minQuality: Double = 0.5,
      minTokens: Int = 5,
      sampleFraction: Double = 1.0)

  /** Curriculum-phase assignment for staged training: rank every
    * document's difficulty as the blend of its length percentile
    * (longer = harder) and its inverted quality percentile (noisier =
    * harder), then cut the [0,1) difficulty into `phases` equal
    * slices — phase 0 trains first. Percentiles come from
    * [[graft.ops.Drift.percentRankBy]]'s windowless distributed kernel
    * (one distinct-value-bounded rank table for both columns, no
    * single-task window), so
    * the assignment is deterministic, engine-portable, and survives
    * any corpus size. Output per doc: (id, n_tokens, quality, pr_len,
    * pr_quality, difficulty, phase). */
  def curriculumPhases(df: DataFrame, idCol: String, textCol: String,
                       phases: Int = 3): DataFrame = {
    require(phases >= 2, s"phases must be >= 2, got $phases")
    // pinned once: the token-count/quality expression chain would
    // otherwise re-evaluate in the rank scan and in BOTH rank joins,
    // each inlining the text scans again — measured 4.8 s -> ~2 s at
    // sf0.1
    val base = df.select(col(idCol).as("id"),
        TextAnalysis.tokenStatsEn(col(textCol)).as("__st"))
      .select(col("id"),
        col("__st").getField("n_tokens").cast("long").as("n_tokens"),
        round(TextAnalysis.qualityFromStats(col("__st")), 6).as("quality"))
      .localCheckpoint()
    // both columns rank in ONE keyed range scan over (column, value)
    // pairs — rank within a column is the windowless percent_rank of
    // that column; token counts rank as doubles, exact below 2^53 — and
    // each takes its rank back from its own slice of the one table
    val ranks = Drift.rankTableBy(base.select(explode(array(
        struct(lit("__prl").as("c"), col("n_tokens").cast("double").as("v")),
        struct(lit("__prq").as("c"), col("quality").as("v")))).as("p")).select("p.*"),
      "c", "v", "__pr")
    val ranked = Seq("__prl" -> "n_tokens", "__prq" -> "quality").foldLeft(base) {
      case (in, (out, v)) =>
        in.join(ranks.filter(col("__g") === out).select(col("__v"), col("__pr").as(out)),
          col(v).cast("double") === col("__v"), "left").drop("__v")
    }
    // The blend uses the UNROUNDED ranks: each is an exact rational
    // k/(n−1), so 0.5·a + 0.5·(1−b) = (k−j+n−1)/(2(n−1)) can never
    // sit exactly on a 6-decimal rounding midpoint (the denominator
    // has a prime factor other than 2 and 5) — whereas blending the
    // ROUNDED 6-decimal ranks with 0.5 weights mints 7th-decimal ·5
    // boundaries where the engines' rounding modes disagree.
    ranked
      .withColumn("pr_len", round(col("__prl"), 6))
      .withColumn("pr_quality", round(col("__prq"), 6))
      .withColumn("difficulty", round(lit(0.5) * col("__prl") +
        lit(0.5) * (lit(1.0) - col("__prq")), 6))
      .withColumn("phase",
        least(floor(col("difficulty") * phases), lit(phases - 1)).cast("int"))
      .select("id", "n_tokens", "quality", "pr_len", "pr_quality",
        "difficulty", "phase")
  }

  /** Per-domain document cap — the RefinedWeb/C4-style guard that stops
    * any single site from dominating a crawl-derived corpus: keep at
    * most `maxPerDomain` documents per REGISTRABLE domain (eTLD+1 via
    * [[TextAnalysis.registrableDomain]], so subdomain-minting can't
    * dodge the cap), preferring the highest `scoreCol` and breaking
    * ties on min id (fully deterministic).
    *
    * Scale shape: one row_number window keyed on the domain — Spark
    * rewrites the rank-≤-cap filter into WindowGroupLimit, so every
    * map task pre-limits its own (domain → cap) rows BEFORE the
    * exchange and the shuffle carries at most cap·|domains| rows per
    * task, not the corpus. Only (id, domain, score) ever shuffles;
    * text stays behind in the scan. A skew-proof alternative for a
    * pathological single-domain corpus is the salted two-level top-k,
    * but the group-limit already bounds any one task's output, so the
    * plain window is the right default.
    *
    * Returns the SURVIVORS: (id, domain, score, rnk), rnk 1..cap. */
  def domainCap(df: DataFrame, idCol: String, hostCol: String,
                scoreCol: String, maxPerDomain: Int): DataFrame = {
    require(maxPerDomain >= 1, s"maxPerDomain must be >= 1, got $maxPerDomain")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("score").desc, col("id"))
    df.select(col(idCol).as("id"),
        TextAnalysis.registrableDomain(lower(col(hostCol))).as("domain"),
        col(scoreCol).as("score"))
      // null/unparseable hosts have no domain to cap under — dropping
      // them beats pooling every null-host row into one shared cap
      .filter(col("domain").isNotNull)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= maxPerDomain)
  }

  /** Returns the curated corpus: (id, text_clean, lang, quality,
    * n_tokens) for every surviving document. */
  def curate(df: DataFrame, idCol: String, textCol: String,
             cfg: CurationConfig = CurationConfig()): DataFrame = {
    // materialized once: Catalyst's CollapseProject + predicate
    // pushdown otherwise re-inline the 5-regex cleaning chain into
    // every derived column, every filter predicate AND the dedup
    // shuffle key (~34 copies in the optimized plan, measured). The
    // cleaned/featured frame is also the stage output a production
    // pipeline persists between curation steps.
    val filtered = cleanAndFilter(df, Seq(col(idCol).as("id")), textCol, cfg)(
      _.localCheckpoint())
    val deduped = Dedup.exactDedup(filtered, "id", "text_clean")
    if (cfg.sampleFraction >= 1.0) deduped
    else Sampling.hashSample(deduped, "id", cfg.sampleFraction)
  }

  /** The clean → featurize → filter stages batch [[curate]] and
    * [[graft.streaming.StreamingProfile.streamingCurate]] share: the
    * `lead` columns, then text_clean, lang, quality and n_tokens, with
    * the rows that fail `cfg`'s language, quality and length gates
    * dropped. `pin` runs on the featured frame before the gates (batch
    * materializes it; a stream cannot). One fused in-kernel curation
    * triple per row (r18): lang + quality + n_tokens from a single
    * [[TextAnalysis.tokenCurateStats]] call (bit-equal to the
    * score-ladder composition, parity spec'd) — the HOF chains
    * tokenized the cleaned text ~6x; the kernel scans its bytes once
    * and the consumers are cheap getFields, so the predicates Catalyst
    * pushes into the stage stay small (the projected score-ladder form
    * overflowed the 64 KB codegen method limit on the stream). */
  private[graft] def cleanAndFilter(df: DataFrame, lead: Seq[Column],
                                    textCol: String, cfg: CurationConfig)(
      pin: DataFrame => DataFrame): DataFrame =
    pin(df.select(lead :+ TextAnalysis.redactPii(
        TextAnalysis.stripMarkup(col(textCol))).as("text_clean"): _*)
      .withColumn("__cs", TextAnalysis.tokenCurateStats(col("text_clean")))
      .withColumn("lang", col("__cs").getField("lang"))
      .withColumn("quality", col("__cs").getField("quality"))
      .withColumn("n_tokens",
        col("__cs").getField("n_tokens").cast("long"))
      .drop("__cs"))
      .filter(cfg.lang.map(l => col("lang") === l).getOrElse(lit(true)))
      .filter(col("quality") >= cfg.minQuality &&
        col("n_tokens") >= cfg.minTokens)

  /** One-call corpus datasheet — the summary table a dataset card /
    * ingestion review wants before any deeper audit: doc and
    * null-text counts, token totals and spread, the short-doc share,
    * mean quality, the exact-dup fraction (distinct token
    * fingerprints vs text-bearing docs), and language/source
    * cardinalities. One (metric, value) row each, so downstream
    * tooling diffs two corpus versions with a single keyed join.
    *
    * Shape: ONE scan computing the per-doc features (token count,
    * quality, fingerprint — all scan-local projections), then a
    * single global aggregate; the three exact count-distincts share
    * the agg via Spark's Expand (3x narrow rows — the honest price of
    * exact cardinalities in a one-call report; the sketch family
    * (q162/q169) is the 100 TB substitute when approximate is
    * acceptable). Quality means sum via DECIMAL(38,12); every ratio
    * divides by a nullif-guarded count, so an empty corpus reports
    * null metrics instead of throwing under ANSI. */
  def corpusReport(df: DataFrame, idCol: String, textCol: String,
                   langCol: String, sourceCol: String): DataFrame = {
    val t = col("__t")
    val base = df.filter(col(idCol).isNotNull)
      .select(col(textCol).as("__t"), col(langCol).as("__lang"),
        col(sourceCol).as("__src"))
      .withColumn("__st", when(t.isNotNull, TextAnalysis.tokenStatsEn(t)))
      .withColumn("__nt", col("__st").getField("n_tokens").cast("long"))
      .withColumn("__q", when(col("__st").isNotNull,
        TextAnalysis.qualityFromStats(col("__st"))))
      .withColumn("__fp", when(t.isNotNull, TextAnalysis.fingerprint(t)))
    base.agg(
        count(lit(1)).as("n_docs"),
        sum(when(t.isNull, 1L).otherwise(0L)).as("n_null"),
        count(col("__nt")).as("n_text"),
        sum(col("__nt")).as("tot_toks"),
        min(col("__nt")).as("min_toks"),
        max(col("__nt")).as("max_toks"),
        sum(when(col("__nt") < 50, 1L).otherwise(0L)).as("n_short"),
        sum(col("__q").cast("decimal(38,12)")).as("sq"),
        count_distinct(col("__fp")).as("n_fp"),
        count_distinct(col("__lang")).as("n_langs"),
        count_distinct(col("__src")).as("n_sources"))
      .select(expr(
        """stack(11,
          |  'n_docs', CAST(n_docs AS DOUBLE),
          |  'n_null_text', CAST(n_null AS DOUBLE),
          |  'total_tokens', CAST(tot_toks AS DOUBLE),
          |  'mean_tokens', round(CAST(tot_toks AS DOUBLE) / nullif(n_text, 0), 6),
          |  'min_tokens', CAST(min_toks AS DOUBLE),
          |  'max_tokens', CAST(max_toks AS DOUBLE),
          |  'short_frac', round(CAST(n_short AS DOUBLE) / nullif(n_text, 0), 6),
          |  'mean_quality', round(CAST(sq AS DOUBLE) / nullif(n_text, 0), 6),
          |  'dup_frac', round(1.0 - CAST(n_fp AS DOUBLE) / nullif(n_text, 0), 6),
          |  'n_langs', CAST(n_langs AS DOUBLE),
          |  'n_sources', CAST(n_sources AS DOUBLE)) AS (metric, value)""".stripMargin))
  }
}
