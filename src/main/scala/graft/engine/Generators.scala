package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthetic-data samplers (`Latanova_v1.py:300-423`), re-expressed as
  * pure column expressions over a seeded `spark.range(n)` — one
  * codegen'd projection, no shuffle, linear scale-out (SURVEY.md §4.3).
  * RNG parity with NumPy is distributional, not bitwise (§2.6 note).
  */
object Generators {

  /** Clipped Gaussian numeric (`generate_synthetic_numeric`,
    * `Latanova_v1.py:346-364`): N(mean,std) clipped to [min,max];
    * integers round half-even to long (np.round is half-even → bround),
    * floats round to 2 decimals. */
  def numeric(stats: NumericStats, isInteger: Boolean, seed: Long): Column = {
    val raw = randn(seed) * lit(stats.std) + lit(stats.mean)
    val clipped = least(greatest(raw, lit(stats.min)), lit(stats.max))
    if (isInteger) bround(clipped).cast(LongType)
    else bround(clipped, 2)
  }

  /** Bernoulli boolean with format rendering
    * (`generate_synthetic_boolean`, `Latanova_v1.py:366-389`);
    * default p=0.5 when no stats. */
  def boolean(stats: Option[BooleanStats], format: Option[BoolFormat], seed: Long): Column = {
    val p = stats.map(_.trueProb).getOrElse(0.5)
    val b = rand(seed) < lit(p)
    format.getOrElse(BoolFormat.TrueFalse) match {
      case BoolFormat.Native => b
      case f => when(b, lit(f.trueToken)).otherwise(lit(f.falseToken))
    }
  }

  /** Inverse-CDF categorical sampler (`generate_synthetic_categorical`,
    * `Latanova_v1.py:391-402`): np.random.choice(categories, p=probs)
    * as a when-chain over cumulative probabilities (K < 50 by the
    * detection rule, so the chain stays small and codegen'd).
    *
    * `u` MUST be a materialized uniform column (one `rand(seed)`
    * evaluated in a prior projection): `rand` is re-drawn at every
    * occurrence inside a CaseWhen, which silently skews the
    * distribution (caught by GeneratorsSpec). */
  def categorical(stats: CategoricalStats, u: Column): Column = {
    if (stats.categories.isEmpty) return lit("")
    val cum = stats.probabilities.scanLeft(0.0)(_ + _).tail
    val head = when(u < lit(cum.head), lit(stats.categories.head))
    val chain = stats.categories.tail.zip(cum.tail).foldLeft(head) {
      case (acc, (cat, hi)) => acc.when(u < lit(hi), lit(cat))
    }
    chain.otherwise(lit(stats.categories.last))
  }

  /** Clipped-Gaussian datetime rendered in the detected format
    * (`generate_synthetic_datetime`, `Latanova_v1.py:404-423`);
    * σ=0 falls back to 30 days exactly like the reference (`:411`). */
  def datetime(stats: DatetimeStats, format: Option[String], seed: Long): Column = {
    val e = stats.epoch
    val std = if (e.std > 0) e.std else 86400.0 * 30
    val raw = randn(seed) * lit(std) + lit(e.mean)
    val clipped = least(greatest(raw, lit(e.min)), lit(e.max))
    val ts = timestamp_seconds(clipped.cast(LongType))
    val fmt = format.orNull match {
      case "MM/DD/YYYY" => "MM/dd/yyyy"
      case "DD-MM-YYYY" => "dd-MM-yyyy"
      case _            => "yyyy-MM-dd" // YYYY-MM-DD and default (`:421-422`)
    }
    date_format(ts, fmt)
  }

  /** Bootstrap resample-with-replacement from profiled raw entries —
    * the email/phone path (`Latanova_v1.py:306-309`). The entries
    * array is bounded (Profiler.rawSample cap) and broadcast-joined:
    * no shuffle of the generated side. */
  def bootstrap(spark: SparkSession, base: DataFrame, entries: Seq[String],
                outName: String, seed: Long): DataFrame = {
    if (entries.isEmpty) return base.withColumn(outName, lit(""))
    import spark.implicits._
    val k = entries.size
    val table = entries.zipWithIndex.toDF(outName, "__bootstrap_idx")
    val withIdx = base.withColumn("__bootstrap_idx",
      floor(rand(seed) * lit(k)).cast(IntegerType))
    withIdx.join(broadcast(table), "__bootstrap_idx").drop("__bootstrap_idx")
  }

  /** Deterministic cross-engine mode of the sampler family (the q150
    * technique generalized): every random draw is an md5-derived
    * 28-bit uniform keyed on (tag, row id, stream, draw) and normals
    * are Irwin–Hall(12) pseudo-normals (Σ of 12 exact uniforms − 6 —
    * mean 0, variance 1, transcendental-free), so any engine that can
    * md5 a string replays the EXACT bits: no ln/cos whose last ulp
    * could differ between libms, no engine-private RNG stream. The
    * seeded `rand`/`randn` forms above stay the production default
    * (cheaper per draw); this mode exists for cross-engine audits and
    * regression oracles, and quantized profile stats should be fed to
    * it (the q159 contract: stats rounded at the q01/q07-proven
    * precisions) so both engines inline bit-identical parameters. */
  object Deterministic {
    /** Uniform in (0,1) on the 2^-28 grid, center-offset: first 7 hex
      * digits of md5("tag#id#k#j") → (v + 0.5) / 2^28. */
    def uniform(tag: String, id: Column, k: Int, j: Int = 0): Column =
      (graft.expressions.Kernels.hexSliceLong(
        md5(concat(lit(s"$tag#"), id.cast(StringType),
          lit(s"#$k#$j")).cast(BinaryType)), 1, 7).cast(DoubleType)
        + lit(0.5)) / lit(268435456.0)

    /** Irwin–Hall(12) pseudo-normal: exact-dyadic uniform sum, 33
      * mantissa bits — bit-identical cross-engine. */
    def normal(tag: String, id: Column, k: Int = 0): Column =
      (0 until 12).map(j => uniform(tag, id, k, j)).reduce(_ + _) - lit(6.0)

    /** Clipped-Gaussian integer; half-UP rounding (floor(x+0.5)) — the
      * documented deterministic-mode divergence from [[numeric]]'s
      * bround half-even, because round-half-even of an arbitrary
      * double is not portably replayable in SQL while floor is. */
    def numericInt(stats: NumericStats, tag: String, id: Column, k: Int = 0): Column = {
      val raw = normal(tag, id, k) * lit(stats.std) + lit(stats.mean)
      val clipped = least(greatest(raw, lit(stats.min)), lit(stats.max))
      floor(clipped + lit(0.5)).cast(LongType)
    }

    /** Clipped-Gaussian float at 2 decimals (floor-half-up at 1e-2). */
    def numericFloat(stats: NumericStats, tag: String, id: Column, k: Int = 0): Column = {
      val raw = normal(tag, id, k) * lit(stats.std) + lit(stats.mean)
      val clipped = least(greatest(raw, lit(stats.min)), lit(stats.max))
      floor(clipped * lit(100.0) + lit(0.5)) / lit(100.0)
    }

    /** Bernoulli with token rendering, one uniform per row. */
    def boolean(trueProb: Double, format: BoolFormat,
                tag: String, id: Column, k: Int = 0): Column = {
      val b = uniform(tag, id, k) < lit(trueProb)
      format match {
        case BoolFormat.Native => b
        case f => when(b, lit(f.trueToken)).otherwise(lit(f.falseToken))
      }
    }

    /** Inverse-CDF categorical — [[categorical]]'s when-chain fed by
      * the md5 uniform (already a materialized single draw, so the
      * CaseWhen re-evaluation hazard of `rand` does not apply: the
      * md5 expression is pure per (tag,id,k,j)). */
    def categoricalDet(stats: CategoricalStats, tag: String, id: Column,
                       k: Int = 0): Column =
      categorical(stats, uniform(tag, id, k))

    /** Clipped-Gaussian datetime rendered as a DAY string: the clipped
      * epoch-seconds draw floors to an epoch day (identical integer
      * arithmetic in any engine — no timezone/timestamp-render
      * dependence) and formats from the proleptic epoch date. */
    def datetimeDay(stats: DatetimeStats, fmt: String,
                    tag: String, id: Column, k: Int = 0): Column = {
      val e = stats.epoch
      val std = if (e.std > 0) e.std else 86400.0 * 30
      val raw = normal(tag, id, k) * lit(std) + lit(e.mean)
      val clipped = least(greatest(raw, lit(e.min)), lit(e.max))
      val day = floor(clipped / lit(86400.0)).cast(IntegerType)
      date_format(date_add(to_date(lit("1970-01-01")), day), fmt)
    }
  }

  /** Pattern fallback generators when a bootstrap source is empty
    * (`Latanova_v1.py:310-316`). */
  def emailFallback(seed: Long): Column =
    format_string("user%d@example.com",
      (floor(rand(seed) * 9000) + 1000).cast(IntegerType))
  def phoneFallback(seed: Long): Column =
    format_string("+7 %d %d-%d-%d",
      (floor(rand(seed + 1) * 900) + 100).cast(IntegerType),
      (floor(rand(seed + 2) * 900) + 100).cast(IntegerType),
      (floor(rand(seed + 3) * 90) + 10).cast(IntegerType),
      (floor(rand(seed + 4) * 90) + 10).cast(IntegerType))
}
