package graft.engine

import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** [[SyntheticPipeline.metrics]] is a pure diff of two profiles: the
  * reference's validation formulas (`Latanova_v1.py:425-494`) checked
  * without Spark. */
class ValidationMetricsSpec extends AnyFunSuite {
  import SemanticType._

  private def profile(name: String, st: SemanticType): ColumnProfile =
    ColumnProfile(name, st, ColumnSignals(name, StringType, 10, 5, 5, allBoolTokens = false,
      0.0, 0.0, 0.0, 0.0, 0.0, Map.empty))
  private def numeric(mean: Double, std: Double, median: Double, skew: Double, kurt: Double) =
    NumericStats(mean, std, median, min = 0.0, max = 10.0, skew, kurt, q1 = 1.0, q3 = 9.0, count = 10)
  private def text(mean: Double, std: Double, skew: Double, kurt: Double) =
    TextStats(dim = 2, mean = Array(mean, mean), std = Array(std, std),
      overallMean = mean, overallStd = std, overallSkew = skew, overallKurt = kurt,
      covTrace = 1.0, covLogDet = 0.0, chol = None, count = 10, rawSample = Nil)
  private def categorical(cats: Seq[String], probs: Seq[Double]) =
    CategoricalStats(cats, probs, probs.map(p => (p * 100).toLong), cats.head, probs.head, 100)

  test("numeric columns: absolute moment errors") {
    for (st <- Seq(Integer, Float)) {
      val o = profile("x", st).copy(numeric = Some(numeric(5.0, 2.0, 4.5, 0.5, -1.0)))
      val s = profile("x", st).copy(numeric = Some(numeric(5.5, 1.5, 5.0, -0.25, 1.0)))
      assert(SyntheticPipeline.metrics(o, s) === Some(Map(
        "mean_error" -> 0.5, "std_error" -> 0.5, "median_error" -> 0.5,
        "skew_error" -> 0.75, "kurt_error" -> 2.0)))
    }
  }

  test("boolean columns: true-probability error") {
    def b(p: Double) = profile("b", Boolean).copy(boolean =
      Some(BooleanStats(p, (p * 100).toLong, 100 - (p * 100).toLong, 100, BoolFormat.YesNo)))
    assert(SyntheticPipeline.metrics(b(0.25), b(0.5)) === Some(Map("true_prob_error" -> 0.25)))
  }

  test("categorical columns: mean probability error over the source's categories, top match") {
    val o = profile("c", Categorical).copy(categorical =
      Some(categorical(Seq("a", "b", "c"), Seq(0.5, 0.25, 0.25))))
    // "c" never drawn: its whole source probability is error
    val s = profile("c", Categorical).copy(categorical =
      Some(categorical(Seq("a", "b"), Seq(0.75, 0.25))))
    assert(SyntheticPipeline.metrics(o, s) === Some(Map(
      "avg_prob_error" -> (0.25 + 0.0 + 0.25) / 3, "top_category_match" -> 1.0)))
    val flipped = profile("c", Categorical).copy(categorical =
      Some(categorical(Seq("b", "a"), Seq(0.75, 0.25))))
    assert(SyntheticPipeline.metrics(o, flipped).map(_("top_category_match")) === Some(0.0))
  }

  test("datetime columns: epoch mean and std errors") {
    def d(mean: Double, std: Double) = profile("d", Datetime).copy(datetime = Some(
      DatetimeStats(numeric(mean, std, mean, 0.0, 0.0), "2020-01-01", "2021-01-01", "YYYY-MM-DD")))
    assert(SyntheticPipeline.metrics(d(1000.0, 50.0), d(1250.0, 40.0)) === Some(Map(
      "mean_epoch_error" -> 250.0, "std_epoch_error" -> 10.0)))
  }

  test("text, email and phone columns: embedding-space roll-up errors") {
    for (st <- Seq(Text, Email, Phone)) {
      val o = profile("t", st).copy(text = Some(text(0.5, 1.0, 0.25, -0.5)))
      val s = profile("t", st).copy(text = Some(text(0.25, 0.5, 0.0, 0.5)))
      assert(SyntheticPipeline.metrics(o, s) === Some(Map(
        "mean_error" -> 0.25, "std_error" -> 0.5, "skew_error" -> 0.25, "kurt_error" -> 1.0)))
    }
  }

  test("a stats piece missing on either side gives no metrics") {
    val withPiece: Seq[ColumnProfile] = Seq(
      profile("x", Integer).copy(numeric = Some(numeric(1, 1, 1, 0, 0))),
      profile("x", Float).copy(numeric = Some(numeric(1, 1, 1, 0, 0))),
      profile("b", Boolean).copy(boolean = Some(BooleanStats(0.5, 1, 1, 2, BoolFormat.Native))),
      profile("c", Categorical).copy(categorical = Some(categorical(Seq("a"), Seq(1.0)))),
      profile("d", Datetime).copy(datetime =
        Some(DatetimeStats(numeric(1, 1, 1, 0, 0), "", "", null))),
      profile("t", Text).copy(text = Some(text(0, 1, 0, 0))),
      profile("e", Email).copy(text = Some(text(0, 1, 0, 0))),
      profile("p", Phone).copy(text = Some(text(0, 1, 0, 0))))
    for (p <- withPiece) {
      val bare = profile(p.name, p.semanticType)
      assert(SyntheticPipeline.metrics(p, p).isDefined, p.semanticType)
      assert(SyntheticPipeline.metrics(p, bare) === None, p.semanticType)
      assert(SyntheticPipeline.metrics(bare, p) === None, p.semanticType)
    }
    // an email/phone profile with a raw sample but no text profile
    // (text columns off) is not compared
    val sampled = profile("e", Email).copy(rawSample = Seq("a@b.c"))
    assert(SyntheticPipeline.metrics(sampled, sampled) === None)
    val unknown = profile("u", Unknown)
    assert(SyntheticPipeline.metrics(unknown, unknown) === None)
  }
}
