package graft.engine

import org.apache.spark.sql.types.DataType

/** Semantic (inferred) column types — the engine's schema layer above
  * Spark's physical types. Mirrors the reference's detector outcomes
  * (`Latanova_v1.py:124-170`), as a sealed ADT instead of strings. */
sealed abstract class SemanticType(val name: String)
object SemanticType {
  case object Unknown     extends SemanticType("unknown")
  case object Boolean     extends SemanticType("boolean")
  case object Email       extends SemanticType("email")
  case object Phone       extends SemanticType("phone")
  case object Integer     extends SemanticType("integer")
  case object Float       extends SemanticType("float")
  case object Datetime    extends SemanticType("datetime")
  case object Categorical extends SemanticType("categorical")
  case object Text        extends SemanticType("text")
  val all: Seq[SemanticType] =
    Seq(Unknown, Boolean, Email, Phone, Integer, Float, Datetime, Categorical, Text)
}

/** Boolean rendering formats (`Latanova_v1.py:89-121`). Order matters:
  * ties are broken by this declaration order, mirroring the reference's
  * dict-insertion-order tiebreak (`Latanova_v1.py:118`). */
sealed abstract class BoolFormat(val name: String,
                                 val trueToken: String, val falseToken: String)
object BoolFormat {
  case object TrueFalse extends BoolFormat("true_false", "True", "False")
  case object YesNo     extends BoolFormat("yes_no", "Yes", "No")
  case object OneZero   extends BoolFormat("one_zero", "1", "0")
  case object YN        extends BoolFormat("yn", "Y", "N")
  case object TF        extends BoolFormat("tf", "T", "F")
  case object Native    extends BoolFormat("bool", "true", "false")
  val all: Seq[BoolFormat] = Seq(TrueFalse, YesNo, OneZero, YN, TF, Native)
}

/** Detector options. The ladder's thresholds are constants in
  * [[Detector]]. `strictFormats=false` reproduces the reference ladder
  * verbatim, including the documented phone-precedence quirk
  * (SURVEY.md §1); `strictFormats=true` anchors email/phone regexes
  * and checks datetime before the special formats, so ISO dates and
  * street addresses classify correctly. */
final case class DetectorConfig(strictFormats: Boolean = false)

/** One-pass detection signals for a column: every ratio the ladder
  * needs, computed in a single table-wide agg (SURVEY.md §4 point 1). */
final case class ColumnSignals(
    name: String,
    dataType: DataType,
    n: Long,
    nDistinct: Long,       // distinct of trimmed strings (categorical rule)
    nDistinctNorm: Long,   // distinct of lower+trimmed strings (boolean rule)
    allBoolTokens: Boolean,
    emailRatio: Double,
    phoneRatio: Double,
    numericRatio: Double,
    integralRatio: Double,
    /** Exact multi-format parse ratio when the cheap shape screen
      * cleared the detector's dateThreshold; otherwise the SHAPE-regex
      * ratio, an upper bound on the parse ratio (two-phase detection —
      * see Detector.signals). Classify with the same DetectorConfig
      * used for signals(): a lower threshold on the classify side could
      * compare against the unrefined upper bound. */
    dateRatio: Double,
    boolVotes: Map[BoolFormat, Long]) {
  def uniqueRatio: Double = if (n == 0) 0.0 else nDistinct.toDouble / n
  def boolFormat: BoolFormat =
    BoolFormat.all.maxBy(f => boolVotes.getOrElse(f, 0L)) // stable: first max wins
}

/** Full numeric moments profile (`Latanova_v1.py:173-191`): population
  * std (np.std ddof=0), exact linear-interpolation percentiles
  * (np.percentile), population skewness g1 / excess kurtosis g2
  * (scipy bias=True, fisher=True). */
final case class NumericStats(
    mean: Double, std: Double, median: Double,
    min: Double, max: Double,
    skewness: Double, kurtosis: Double,
    q1: Double, q3: Double, count: Long)

final case class BooleanStats(
    trueProb: Double, trueCount: Long, falseCount: Long, count: Long,
    format: BoolFormat)

final case class CategoricalStats(
    categories: Seq[String], probabilities: Seq[Double],
    counts: Seq[Long], mostCommon: String, mostCommonProb: Double, count: Long)

/** Datetime = numeric profile over epoch seconds + rendered bounds +
  * detected render format (`Latanova_v1.py:273-298`). */
final case class DatetimeStats(
    epoch: NumericStats, minDate: String, maxDate: String, format: String)

/** Text profiled in token-embedding space (`Latanova_v1.py:194-226`):
  * per-dimension moments over the fixed (maxTokens*dim)-width vectors,
  * driver-held covariance Cholesky for the MVN sampler, plus a bounded
  * bootstrap sample of raw entries. */
final case class TextStats(
    dim: Int,
    mean: Array[Double],        // per-dimension means (length dim)
    std: Array[Double],         // per-dimension population stds
    overallMean: Double, overallStd: Double,
    // mean-of-per-dim skew/kurt roll-ups — the scalars the reference's
    // text validation diffs (`Latanova_v1.py:437-445`)
    overallSkew: Double, overallKurt: Double,
    covTrace: Double, covLogDet: Double,
    chol: Option[Array[Array[Double]]], // lower-triangular L of cov + 1e-6 I
    count: Long,
    rawSample: Seq[String])     // bounded sample for bootstrap paths

final case class ColumnProfile(
    name: String,
    semanticType: SemanticType,
    signals: ColumnSignals,
    numeric: Option[NumericStats] = None,
    boolean: Option[BooleanStats] = None,
    categorical: Option[CategoricalStats] = None,
    datetime: Option[DatetimeStats] = None,
    text: Option[TextStats] = None,
    rawSample: Seq[String] = Nil)
