package graft.engine

import org.apache.spark.sql.{Column, DataFrame, GraftActions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semantic type detection — the reference's priority ladder
  * (`detect_column_type`, `Latanova_v1.py:124-170`) re-expressed as
  * ONE fused whole-table aggregation producing every signal for every
  * column, plus one narrow distinct-cardinality pass, run together;
  * then a driver-side fold through the ladder. The reference scans
  * each column up to ~6 times per column; at 100 TB two shared scans
  * are the structural win (SURVEY.md §4.1).
  */
object Detector {

  // The reference's ladder thresholds (`Latanova_v1.py:124`, `:76,84`,
  // `:148`, `:164`, `:168`).
  private val UniqueThreshold = 0.3
  private val NumericThreshold = 0.9
  private val SpecialFormatThreshold = 0.7
  private val IntegralThreshold = 0.95
  private val DateThreshold = 0.8
  private val MaxCategories = 50

  /** Boolean token universe (`Latanova_v1.py:135`). */
  val boolTokens: Seq[String] =
    Seq("true", "false", "1", "0", "yes", "no", "y", "n", "t", "f")
  val trueTokens: Seq[String]  = Seq("true", "yes", "1", "y", "t")
  val falseTokens: Seq[String] = Seq("false", "no", "0", "n", "f")

  /** Date formats attempted when parsing strings as datetimes — the 3
    * render formats the reference detects (`Latanova_v1.py:284-292`),
    * ISO timestamp variants, and the common lenient-pandas shapes
    * (slashed ISO, dotted European, English month names). Pandas
    * `to_datetime` is still more lenient; our supported set is explicit
    * and documented. Order matters: earlier formats win ambiguous
    * strings (M/d before any other slashed read — the reference's
    * precedence). Numeric fields use the SINGLE-letter patterns (accept
    * 1–2 digits) to match C strptime's %m/%d leniency — the DuckDB
    * oracle's try_strptime accepts '3.1.2024'; 'MM'-style strict
    * patterns would reject it and diverge. Month names (MMM) stay
    * case-sensitive capitalized — the one documented divergence from
    * strptime's case-insensitive %b. */
  val dateFormats: Seq[String] = Seq(
    "yyyy-M-d", "M/d/yyyy", "d-M-yyyy",
    "yyyy-M-d H:m:s", "yyyy-M-d'T'H:m:s",
    "yyyy/M/d", "d.M.yyyy", "MMM d, yyyy", "d MMM yyyy")

  /** Cheap date-SHAPE pre-gate: numeric triple or month-name shape —
    * every supported format matches one. Used standalone as the
    * phase-1 screen inside the fused signal agg (see [[signals]]). */
  val dateShapeRegex: String =
    "^\\d{1,4}[-/.]\\d{1,2}[-/.]\\d{1,4}|^[A-Za-z]{3,9} \\d{1,2}, \\d{4}|^\\d{1,2} [A-Za-z]{3,9} \\d{4}"

  /** Null-on-failure timestamp parse across all supported formats
    * (pd.to_datetime errors='coerce', `Latanova_v1.py:163,278`).
    * The shape pre-gate skips the multi-format parse attempt for
    * obvious non-dates — failing strptime attempts are
    * exception-driven and dominate detection scans otherwise
    * (measured 30s → ~3s on a 6-column 100k-row signal agg). */
  def tryParseDate(s: Column): Column =
    when(s.rlike(dateShapeRegex),
      coalesce(dateFormats.map(f => try_to_timestamp(s, lit(f))): _*))
      .otherwise(lit(null).cast(TimestampType))

  /** Null-on-failure numeric coercion (pd.to_numeric errors='coerce',
    * `Latanova_v1.py:149`). try_cast is ANSI-mode independent. */
  def tryNumeric(s: Column): Column = s.try_cast(DoubleType)

  private def norm(c: Column): Column = lower(trim(c.cast(StringType)))

  /** Email heuristic: contains '@' and a dot in the domain part
    * (`check_special_formats`, `Latanova_v1.py:71-77`). */
  def emailLoose(c: Column): Column = {
    val s = trim(c.cast(StringType))
    s.contains("@") && element_at(split(s, "@"), -1).contains(".")
  }

  /** Anchored email for strictFormats mode. */
  def emailStrict(c: Column): Column =
    trim(c.cast(StringType)).rlike("^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")

  /** Digit count via the native [[graft.expressions.DigitCount]]
    * expression — equivalent to `length(regexp_replace(s, "\\D", ""))`
    * (Java `\D` is ASCII-only) without materializing a stripped copy of
    * every string. */
  private def digitCount(s: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.DigitCount(
      GraftColumnBridge.expression(s)))
  }

  /** Phone heuristic: 7–15 digits after stripping non-digits
    * (`Latanova_v1.py:78-85`). */
  def phoneLoose(c: Column): Column =
    digitCount(trim(c.cast(StringType))).between(7, 15)

  /** Anchored phone for strictFormats: optional +, then digits/phone
    * punctuation (incl. leading '(' for US-style area codes), 7–15
    * digits total — excludes street addresses (letters). ISO dates DO
    * match the shape; strict mode is safe only because its ladder
    * checks datetime before phone (see classify). */
  def phoneStrict(c: Column): Column = {
    val s = trim(c.cast(StringType))
    s.rlike("^\\+?[0-9()][0-9 ().x-]{5,24}$") && digitCount(s).between(7, 15)
  }

  /** Boolean coercion expression: tokens → true/false/null
    * (`Latanova_v1.py:236-241`). Works on native booleans too. */
  def coerceBoolean(c: Column): Column =
    when(norm(c).isin(trueTokens: _*), lit(true))
      .when(norm(c).isin(falseTokens: _*), lit(false))

  /** All aggregate signal expressions for one column; aliases are
    * `<colName>#<signal>`.
    *
    * Signals whose answer is decided by the PHYSICAL dtype skip their
    * per-row expression battery: a DoubleType column's email ratio is 0
    * and its numeric ratio 1 by construction; a rendered timestamp never
    * try_casts to double; a rendered number never matches a word token.
    * Emitting the full regex/parse ladder for such columns only bloats
    * the codegen'd agg (it was the #1 cost of the 6-column detection
    * scan). The static form `max(when(c.isNotNull, lit(v)))` keeps
    * all-null → null semantics identical to the computed aggregate. */
  private def signalExprs(field: StructField, cfg: DetectorConfig): Seq[Column] = {
    val name = field.name
    val c = col(name)
    val s = trim(c.cast(StringType))
    val ns = norm(c)
    def a(sig: String, e: Column): Column = e.as(s"$name#$sig")
    def ratio(pred: Column): Column =
      avg(when(c.isNotNull, when(pred, 1.0).otherwise(0.0)))
    def static(v: Double): Column = max(when(c.isNotNull, lit(v)))
    def staticL(v: Long): Column = max(when(c.isNotNull, lit(v)))
    val isNum = isNumericType(field.dataType)
    val isDt = isDatetime(field.dataType)
    val isBool = field.dataType == BooleanType
    val stringLike = !isNum && !isDt && !isBool

    val emailPred = if (cfg.strictFormats) emailStrict(c) else emailLoose(c)
    val phonePred = if (cfg.strictFormats) phoneStrict(c) else phoneLoose(c)
    val email = if (stringLike) ratio(emailPred) else static(0.0)
    // phone stays COMPUTED for numerics/datetimes: rendered numbers and
    // dates genuinely hit the 7–15-digit quirk (SURVEY.md §1). It is
    // static only where classify ignores it (strict+numeric) or the
    // render has no digits (boolean).
    val phone =
      if (isBool || (isNum && cfg.strictFormats)) static(0.0)
      else ratio(phonePred)
    val coerced = tryNumeric(s)
    val numeric =
      if (isNum) static(1.0)
      else if (stringLike) ratio(coerced.isNotNull)
      else static(0.0)
    val dc = c.cast(DoubleType)
    val intnum =
      if (isNum) sum(when(c.isNotNull && dc === floor(dc), 1L).otherwise(0L))
      else if (stringLike) sum(when(coerced.isNotNull && coerced === floor(coerced), 1L).otherwise(0L))
      else staticL(0L)
    val numn =
      if (isNum) count(c)
      else if (stringLike) sum(when(coerced.isNotNull, 1L).otherwise(0L))
      else staticL(0L)
    // rendered numbers/booleans never match the D-sep-D-sep-D date shape.
    // String columns get only the cheap SHAPE ratio here (an upper bound
    // on the parse ratio); the exact multi-format parse — whose
    // generated code dominated the fused agg's codegen compile time —
    // runs as a tiny second agg ONLY for columns clearing the shape
    // screen (see signals()).
    val date =
      if (isDt) ratio(c.cast(TimestampType).isNotNull)
      else if (stringLike) ratio(s.rlike(dateShapeRegex))
      else static(0.0)
    // single-pass "all values ⊆ boolTokens" (`Latanova_v1.py:135-136`);
    // a rendered timestamp is never a bool token, a native bool always is
    val nonbool =
      if (isDt) max(when(c.isNotNull, lit(1)))
      else if (isBool) max(when(c.isNotNull, lit(0)))
      else max(when(c.isNotNull, when(ns.isin(boolTokens: _*), 0).otherwise(1)))
    val voteExprs = BoolFormat.all.map { f =>
      val tokens = f match {
        case BoolFormat.TrueFalse => Seq("true", "false")
        case BoolFormat.YesNo     => Seq("yes", "no")
        case BoolFormat.OneZero   => Seq("1", "0")
        case BoolFormat.YN        => Seq("y", "n")
        case BoolFormat.TF        => Seq("t", "f")
        case BoolFormat.Native    => Seq("true", "false")
      }
      val pred = f match {
        // reference's elif chain (`Latanova_v1.py:104-117`): a native
        // bool votes ONLY for 'bool'; string formats vote only when the
        // physical dtype is not boolean
        case BoolFormat.Native => lit(isBool) && c.isNotNull
        // integral longs render "1"/"0" and legitimately vote one_zero
        case BoolFormat.OneZero if isNum => ns.isin(tokens: _*)
        case _ if !stringLike => lit(false)
        case _ => ns.isin(tokens: _*)
      }
      a(s"vote_${f.name}", sum(when(pred, 1L).otherwise(0L)))
    }
    Seq(
      a("n", count(c)),
      a("nonbool", nonbool),
      a("email", email),
      a("phone", phone),
      a("numeric", numeric),
      a("intnum", intnum),
      a("numn", numn),
      a("date", date)
    ) ++ voteExprs
  }

  /** Per-column exact distinct cardinalities — BOTH the trimmed
    * (rank-9 categorical rule, `Latanova_v1.py:166-167`) and the
    * lower+trimmed (rank-3 boolean rule, `:133-134`) variants — via one
    * narrow explode + two-phase aggregation. N count_distinct exprs in
    * one agg would plan as an Expand (N+1 row multiplication of WIDE
    * rows through the shuffle — measured 4x the whole detection scan);
    * the exploded (column, norm?, value) stream shuffles narrow rows
    * once and aggregates each distinct set independently. */
  private def distinctCounts(df: DataFrame,
                             fields: Seq[StructField]): Map[(String, Boolean), Long] = {
    // lower() is injective on rendered numbers/dates/booleans (only the
    // exponent 'E' changes case, uniformly), so for those dtypes ONE
    // stream serves both the trimmed and the lower+trimmed cardinality —
    // halves the exploded row volume on numeric tables. Anything
    // string-rendered in mixed case (StringType, BinaryType, …) still
    // needs the normalized stream.
    def needsNorm(f: StructField) = f.dataType match {
      case BooleanType => false
      case t if isNumericType(t) || isDatetime(t) => false
      case _ => true
    }
    val pairs = fields.flatMap { f =>
      val s = trim(col(f.name).cast(StringType))
      val base = struct(lit(f.name).as("c"), lit(false).as("nrm"), s.as("v"))
      if (needsNorm(f))
        Seq(base, struct(lit(f.name).as("c"), lit(true).as("nrm"), lower(s).as("v")))
      else Seq(base)
    }
    val computed = df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.c"), col("p.nrm"), col("p.v"))
      .groupBy("c", "nrm")
      .agg(count_distinct(col("v")).as("d"))
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2))
      .toMap
    computed ++ fields.filterNot(needsNorm).flatMap { f =>
      computed.get((f.name, false)).map((f.name, true) -> _)
    }
  }

  /** Compute every detection signal for every requested column in ONE
    * aggregation (one table scan, partial+final HashAggregate) plus one
    * narrow distinct-cardinality pass. The two are independent and run
    * as concurrent actions ([[GraftActions.together]]).
    *
    * Date detection is two-phase: the fused agg carries only the cheap
    * shape-regex ratio (an upper bound on the parse ratio); columns
    * clearing the `DateThreshold` screen get their EXACT multi-format
    * parse ratio from a second agg over just those columns. The
    * classification outcome is identical (true ratio ≤ shape ratio, so
    * a column failing the screen can never reach the threshold), but
    * the multi-format strptime battery — whose generated code dominated
    * the fused agg's codegen compile time (30 s at 9 formats × columns)
    * — is built only for genuine date candidates, usually none. */
  def signals(df: DataFrame, cfg: DetectorConfig = DetectorConfig(),
              columns: Seq[String] = Nil): Seq[ColumnSignals] = {
    val fields =
      if (columns.isEmpty) df.schema.fields.toSeq
      else columns.map(n => df.schema(n))
    val exprs = fields.flatMap(f => signalExprs(f, cfg))
    val (row, distincts) = GraftActions.together(
      df.agg(exprs.head, exprs.tail: _*).collect()(0),
      distinctCounts(df, fields))
    val idx = row.schema.fieldNames.zipWithIndex.toMap
    def d(n: String, s: String): Double =
      if (row.isNullAt(idx(s"$n#$s"))) 0.0 else row.getDouble(idx(s"$n#$s"))
    def l(n: String, s: String): Long =
      if (row.isNullAt(idx(s"$n#$s"))) 0L else row.getLong(idx(s"$n#$s"))
    // phase 2: exact parse ratio for shape-screen survivors (one agg)
    val stringLike = fields.filter(f => !isNumericType(f.dataType) &&
      !isDatetime(f.dataType) && f.dataType != BooleanType)
    val dateCandidates = stringLike.filter(f => d(f.name, "date") >= DateThreshold)
    val parsedRatios: Map[String, Double] =
      if (dateCandidates.isEmpty) Map.empty
      else {
        val pExprs = dateCandidates.map { f =>
          val c = col(f.name)
          avg(when(c.isNotNull,
            when(tryParseDate(trim(c.cast(StringType))).isNotNull, 1.0).otherwise(0.0)))
            .as(f.name)
        }
        val pRow = df.agg(pExprs.head, pExprs.tail: _*).collect()(0)
        dateCandidates.zipWithIndex.map { case (f, i) =>
          f.name -> (if (pRow.isNullAt(i)) 0.0 else pRow.getDouble(i))
        }.toMap
      }
    fields.map { f =>
      val n = f.name
      val numn = l(n, "numn")
      ColumnSignals(
        name = n,
        dataType = f.dataType,
        n = l(n, "n"),
        nDistinct = distincts.getOrElse((n, false), 0L),
        nDistinctNorm = distincts.getOrElse((n, true), 0L),
        allBoolTokens = row.isNullAt(idx(s"$n#nonbool")) || row.getInt(idx(s"$n#nonbool")) == 0,
        emailRatio = d(n, "email"),
        phoneRatio = d(n, "phone"),
        numericRatio = d(n, "numeric"),
        integralRatio = if (numn == 0) 0.0 else l(n, "intnum").toDouble / numn,
        dateRatio = parsedRatios.getOrElse(n, d(n, "date")),
        boolVotes = BoolFormat.all.map(f2 => f2 -> l(n, s"vote_${f2.name}")).toMap)
    }
  }

  private def isNumericType(t: DataType): Boolean = t match {
    case _: ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }
  /** Physical datetime types: their rows need no string parse.
    * TIMESTAMP_NTZ is what Spark 4 reads an un-adjusted Parquet
    * timestamp as; with the session timezone at UTC its cast to
    * TimestampType gives the instants its rendered string parses to. */
  def isDatetime(t: DataType): Boolean = t match {
    case _: TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** The ladder itself (`Latanova_v1.py:129-170`), folded over the
    * collected signals — pure driver-side logic, zero extra scans.
    *
    * referenceCompat (default): exact reference precedence, including
    * the quirk that special formats are checked on EVERY column before
    * the numeric/datetime rules (`Latanova_v1.py:138-140`) — so ISO
    * dates, street addresses, and 7–15-digit integer IDs all classify
    * as `phone` (SURVEY.md §1).
    *
    * strictFormats: hoists the datetime rule above email/phone and
    * uses anchored regexes, so those columns classify correctly. */
  def classify(sig: ColumnSignals, cfg: DetectorConfig = DetectorConfig()): SemanticType = {
    import SemanticType._
    val t = SpecialFormatThreshold
    def numericSplit: SemanticType =
      if (sig.integralRatio >= IntegralThreshold) Integer else Float
    if (sig.n == 0) Unknown
    else if (sig.dataType == BooleanType) Boolean
    else if (sig.nDistinctNorm <= 3 && sig.allBoolTokens) Boolean
    else if (cfg.strictFormats && !isNumericType(sig.dataType)
             && (isDatetime(sig.dataType) || sig.dateRatio >= DateThreshold)) Datetime
    else if (sig.emailRatio > t) Email
    else if (sig.phoneRatio > t && !(cfg.strictFormats && isNumericType(sig.dataType))) Phone
    else if (isNumericType(sig.dataType)) numericSplit
    else if (sig.numericRatio >= NumericThreshold && sig.n > 0) numericSplit
    else if (isDatetime(sig.dataType) || sig.dateRatio >= DateThreshold) Datetime
    else if (sig.uniqueRatio <= UniqueThreshold && sig.nDistinct < MaxCategories) Categorical
    else Text
  }

  /** Detect all columns of a table: the [[signals]] scans + driver fold. */
  def detect(df: DataFrame, cfg: DetectorConfig = DetectorConfig(),
             columns: Seq[String] = Nil): Map[String, (SemanticType, ColumnSignals)] = {
    signals(df, cfg, columns).map(s => s.name -> (classify(s, cfg), s)).toMap
  }
}
