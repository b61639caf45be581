package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.CosineSimilarity

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT graft_cosine(a, b)")`
  * works alongside the Column API.
  *
  * Enable with:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(GraftExtensions.apply)        // programmatic, or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}} */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.register(ext)
}

object GraftExtensions {
  import org.apache.spark.sql.{Column, GraftColumnBridge}
  import graft.ops.{Dedup, TextAnalysis}

  val apply: SparkSessionExtensions => Unit = register

  private type FnEntry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private val cosineFn: FnEntry = (
    new FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_cosine takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  /** Lift a Column-combinator operator into a SQL function: the SAME
    * expression tree the Column API builds, reachable from
    * `spark.sql(...)` — no UDF indirection, codegen preserved. */
  private def columnFn(name: String, arity: Int)(f: Seq[Column] => Column): FnEntry = (
    new FunctionIdentifier(name),
    new ExpressionInfo("graft.GraftExtensions", name),
    (children: Seq[Expression]) => {
      require(children.size == arity, s"$name takes exactly $arity argument(s)")
      GraftColumnBridge.resolvedExpression(f(children.map(GraftColumnBridge.column)))
    })

  private val digitCountFn: FnEntry = (
    new FunctionIdentifier("graft_digit_count"),
    new ExpressionInfo(classOf[graft.expressions.DigitCount].getName, "graft_digit_count"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_digit_count takes exactly 1 argument")
      graft.expressions.DigitCount(children.head)
    })

  private val interleaveFn: FnEntry = (
    new FunctionIdentifier("graft_interleave"),
    new ExpressionInfo(classOf[graft.expressions.InterleaveBits].getName, "graft_interleave"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_interleave takes exactly 2 arguments")
      // widen int/short/byte args like a builtin would (the expression
      // itself can't use ImplicitCastInputTypes — private[sql] types)
      val widened = children.map(c =>
        org.apache.spark.sql.catalyst.expressions.Cast(c,
          org.apache.spark.sql.types.LongType))
      graft.expressions.InterleaveBits(widened.head, widened(1))
    })

  private val dotFn: FnEntry = (
    new FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[graft.expressions.DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_dot takes exactly 2 arguments")
      graft.expressions.DotProduct(children.head, children(1))
    })

  private val l2normFn: FnEntry = (
    new FunctionIdentifier("graft_l2norm"),
    new ExpressionInfo(classOf[graft.expressions.L2Norm].getName, "graft_l2norm"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_l2norm takes exactly 1 argument")
      graft.expressions.L2Norm(children.head)
    })

  private val hammingFn: FnEntry = (
    new FunctionIdentifier("graft_hamming"),
    new ExpressionInfo(classOf[graft.expressions.HammingDistance].getName, "graft_hamming"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_hamming takes exactly 2 arguments")
      graft.expressions.HammingDistance(children.head, children(1))
    })

  private val fns: Seq[FnEntry] = Seq(
    cosineFn,
    dotFn,
    l2normFn,
    hammingFn,
    digitCountFn,
    interleaveFn,
    columnFn("graft_tokens", 1)(cs => TextAnalysis.tokens(cs.head)),
    columnFn("graft_token_count", 1)(cs => TextAnalysis.tokenCount(cs.head)),
    columnFn("graft_subword_count", 1)(cs => TextAnalysis.subwordCountEstimate(cs.head)),
    columnFn("graft_quality", 1)(cs => TextAnalysis.qualityScore(cs.head)),
    columnFn("graft_punct_ratio", 1)(cs => TextAnalysis.punctRatio(cs.head)),
    columnFn("graft_stopword_ratio", 1)(cs => TextAnalysis.stopwordRatio(cs.head)),
    columnFn("graft_lang_id", 1)(cs => TextAnalysis.langId(cs.head)),
    columnFn("graft_fingerprint", 1)(cs => TextAnalysis.fingerprint(cs.head)),
    columnFn("graft_rolling_hash", 1)(cs => TextAnalysis.rollingHash(cs.head)),
    // lower() keeps the tokenizer's input contract: atomic types cast
    // to string, arrays/maps/structs are rejected at analysis
    columnFn("graft_simhash", 1)(cs =>
      TextAnalysis.simHashRow(org.apache.spark.sql.functions.lower(cs.head), 16)),
    columnFn("graft_shingles", 1)(cs => Dedup.shingles(cs.head)),
    columnFn("graft_minhash", 1)(cs => Dedup.minhashSignature(cs.head)))

  def register(ext: SparkSessionExtensions): Unit =
    fns.foreach(ext.injectFunction)

  /** Register into an already-running session (extensions are normally
    * applied at builder time; this covers shared-session setups). */
  def registerInto(spark: org.apache.spark.sql.SparkSession): Unit =
    fns.foreach(f => spark.sessionState.functionRegistry
      .registerFunction(f._1, f._2, f._3))
}
