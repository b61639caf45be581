package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val trades = Seq(
    (1L, "a", 100L), (2L, "a", 205L), (3L, "a", 310L),
    (4L, "b", 150L), (5L, "b", 90L)
  ).toDF("trade_id", "sym", "t")

  private lazy val quotes = Seq(
    ("a", 90L, 10.0), ("a", 100L, 11.0), ("a", 200L, 12.0),
    ("b", 100L, 20.0), ("c", 50L, 30.0)
  ).toDF("sym", "qt", "px")

  private def run(tol: Option[org.apache.spark.sql.Column] = None) =
    Temporal.asofJoinBackward(trades, quotes, "sym", "sym", "t", "qt",
      payloadCols = Seq("px"), tieBreak = "qt", tolerance = tol)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap

  test("backward as-of picks latest right row at-or-before left time") {
    val m = run()
    assert(m(1L) === Some(11.0)) // qt=100 matches exactly (<= is inclusive)
    assert(m(2L) === Some(12.0)) // latest of {90,100,200}
    assert(m(3L) === Some(12.0))
    assert(m(4L) === Some(20.0))
    assert(m(5L) === None)       // no quote at or before t=90 for b
  }

  test("tolerance nulls out stale matches") {
    val m = run(tol = Some(lit(20L)))
    assert(m(1L) === Some(11.0)) // age 0
    assert(m(2L) === Some(12.0)) // age 5
    assert(m(3L) === None)       // age 110 > 20
    assert(m(4L) === None)       // age 50 > 20
  }

  test("ties on right time resolve to greatest tieBreak") {
    val r2 = quotes.unionByName(Seq(("a", 100L, 99.0)).toDF("sym", "qt", "px"))
    // two quotes at qt=100 for sym a; tieBreak=px → 99.0 wins
    val m = Temporal.asofJoinBackward(trades, r2, "sym", "sym", "t", "qt",
      payloadCols = Seq("px"), tieBreak = "px")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(m(1L) === Some(99.0))
    assert(m(2L) === Some(12.0)) // later quote still beats the tied pair
  }

  test("left rows keep cardinality and order-independence (left-outer)") {
    val out = Temporal.asofJoinBackward(trades, quotes, "sym", "sym", "t", "qt",
      payloadCols = Seq("px"), tieBreak = "qt")
    assert(out.count() === trades.count())
    assert(out.columns.toSeq === Seq("trade_id", "sym", "t", "px"))
  }

  test("randomized parity with the naive join+argmax ground truth") {
    val rnd = new scala.util.Random(7)
    val ls = (1L to 300L).map(i =>
      (i, s"k${rnd.nextInt(8)}", rnd.nextInt(1000).toLong))
    val rs = (1L to 200L).map(i =>
      (i + 1000L, s"k${rnd.nextInt(10)}", rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val lDf = ls.toDF("lid", "k", "t")
    val rDf = rs.toDF("rid", "k", "rt", "px")
    val got = Temporal.asofJoinBackward(lDf, rDf, "k", "k", "t", "rt",
      payloadCols = Seq("rid"), tieBreak = "rid")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    // ground truth: for each left row, max (rt, rid) among right rows of
    // the same key with rt <= t
    val byKey = rs.groupBy(_._2)
    ls.foreach { case (lid, k, t) =>
      val want = byKey.getOrElse(k, Seq.empty)
        .filter(_._3 <= t)
        .sortBy(r => (r._3, r._1))
        .lastOption.map(_._1)
      assert(got(lid) === want, s"left $lid key $k t $t")
    }
  }

  test("hot-key path: skewed corpus (one key = 50% of rows) matches the window path, no per-key window task") {
    val rnd = new scala.util.Random(11)
    // half of all rows on key "hot", the rest across 20 cold keys
    def key(i: Int) = if (i % 2 == 0) "hot" else s"k${i % 20}"
    val ls = (1L to 2000L).map(i => (i, key(rnd.nextInt(1000)), rnd.nextInt(5000).toLong))
    val rs = (1L to 1000L).map(i =>
      (i + 10000L, key(rnd.nextInt(1000)), rnd.nextInt(5000).toLong, rnd.nextDouble()))
    val lDf = ls.toDF("lid", "k", "t")
    val rDf = rs.toDF("rid", "k", "rt", "px")
    def results(bound: Option[Long]) =
      Temporal.asofJoinBackward(lDf, rDf, "k", "k", "t", "rt",
        payloadCols = Seq("rid", "px"), tieBreak = "rid", hotKeyRowBound = bound)
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4))))).toMap
    val viaWindow = results(None)
    val viaScan = results(Some(100L)) // hot key far exceeds 100 rows
    assert(viaScan === viaWindow)
    // plan assertion: the hot path must contain NO Window operator (the
    // per-key funnel) — its match phase is the range-partitioned scan
    val hotPlan = Temporal.asofJoinBackward(lDf, rDf, "k", "k", "t", "rt",
      payloadCols = Seq("px"), tieBreak = "rid", hotKeyRowBound = Some(100L))
      .queryExecution.executedPlan.toString
    assert(!hotPlan.contains("Window"), s"hot path still windows per key:\n$hotPlan")
    // and a bound nothing exceeds keeps the window form
    val coldPlan = Temporal.asofJoinBackward(lDf, rDf, "k", "k", "t", "rt",
      payloadCols = Seq("px"), tieBreak = "rid", hotKeyRowBound = Some(10000000L))
      .queryExecution.executedPlan.toString
    assert(coldPlan.contains("Window"), s"cold corpus should keep the window:\n$coldPlan")
  }

  test("hot-key path: carry-in crosses partitions whose middle has no right rows") {
    // one key, rights only at the very start; lefts spread over a long
    // timeline so the range partitioner splits the key across partitions
    // and most partitions must inherit the carry from partition 0
    val lDf = (1L to 500L).map(i => (i, "only", i * 10L)).toDF("lid", "k", "t")
    val rDf = Seq((9000L, "only", 1L, 42.0)).toDF("rid", "k", "rt", "px")
    val got = Temporal.asofJoinBackward(lDf, rDf, "k", "k", "t", "rt",
      payloadCols = Seq("px"), tieBreak = "rid", hotKeyRowBound = Some(10L))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(got.size === 500)
    assert(got.values.forall(_ === Some(42.0)))
  }

  /** Spark jobs of one hot-path as-of collect, as measured: the hot-key
    * probe, then the range scan's two passes over one pinned sort. */
  private val AsofHotJobBudget = 7

  test("hot-key path stays within its Spark job budget") {
    val lDf = (1L to 300L).map(i => (i, "only", i * 10L)).toDF("lid", "k", "t")
    val rDf = (1L to 300L).map(i => (i + 9000L, "only", i * 10L - 5L, i.toDouble))
      .toDF("rid", "k", "rt", "px")
    val (rows, jobs) = withJobCount(Temporal.asofJoinBackward(lDf, rDf, "k", "k", "t", "rt",
      payloadCols = Seq("px"), tieBreak = "rid", hotKeyRowBound = Some(100L)).collect())
    // every left row t = 10i sees the right row at 10i - 5, px = i
    assert(rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap ===
      (1L to 300L).map(i => i -> i.toDouble).toMap)
    assert(jobs <= AsofHotJobBudget, s"hot-path as-of ran $jobs Spark jobs")
  }

  test("range join: binned equijoin matches the theta-join ground truth, no nested loop in plan") {
    val rnd = new scala.util.Random(17)
    val pts = (1L to 2000L).map(i => (i, rnd.nextDouble() * 1000)).toDF("pid", "t")
    val ivs = (1L to 60L).map { i =>
      val s = rnd.nextDouble() * 990
      (i + 5000L, s, s + rnd.nextDouble() * 30) // widths 0..30, some spanning many bins
    }.toDF("iid", "s", "e")
    val got = Temporal.rangeJoinPointInterval(pts, "pid", "t", ivs, "iid", "s", "e", 10.0)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val want = pts.as("p").join(ivs.as("i"),
        col("p.t") >= col("i.s") && col("p.t") <= col("i.e"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got === want)
    assert(want.nonEmpty) // the comparison actually compared something
    // inverted and null-bounded intervals are dropped, not matched
    val bad = Seq((9000L, 50.0, 40.0)).toDF("iid", "s", "e")
    assert(Temporal.rangeJoinPointInterval(pts, "pid", "t", bad, "iid", "s", "e", 10.0)
      .count() === 0L)
    // the scale point: an EQUIJOIN plans, never a nested loop/cartesian
    val plan = Temporal.rangeJoinPointInterval(pts, "pid", "t", ivs, "iid", "s", "e", 10.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join fell back to a nested loop:\n$plan")
  }

  test("null right keys never match; plan has a single exchange on the key") {
    val rNull = quotes.unionByName(
      Seq((null.asInstanceOf[String], 40L, 1.0)).toDF("sym", "qt", "px"))
    val m = Temporal.asofJoinBackward(trades, rNull, "sym", "sym", "t", "qt",
      payloadCols = Seq("px"), tieBreak = "qt")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(m(5L) === None) // the null-key quote at t=40 must not leak in
    val plan = Temporal.asofJoinBackward(trades, quotes, "sym", "sym", "t", "qt",
      payloadCols = Seq("px"), tieBreak = "qt")
      .queryExecution.executedPlan.toString
    // union + window: no join operator, no nested-loop blowup
    assert(!plan.contains("Join"), s"unexpected join in as-of plan:\n$plan")
  }

  test("funnel: first-touch ordering, inclusive ties, out-of-order steps excluded") {
    import spark.implicits._
    // u1: full ordered funnel; u2: clicked BEFORE viewing (click must
    // not count), then purchased after the view — but with no click
    // after the view, the purchase can't count either; u3: view+click
    // at the SAME ts (inclusive tie counts), no purchase; u4: only view
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 15L),
      (3L, "view", 7L), (3L, "click", 7L),
      (4L, "view", 1L), (4L, "other", 2L))
      .toDF("u", "t", "ts")
    val got = Temporal.funnel(ev, "u", "t", "ts", Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("view") === ((0L, 4L, 1.0)))
    assert(got("click") === ((1L, 2L, 0.5)))      // u1, u3 (tie counts)
    assert(got("purchase") === ((2L, 1L, 0.5)))   // u1 only
  }

  test("transitionMatrix: counts consecutive pairs per key, row-normalized") {
    import spark.implicits._
    // u1: a→b→a ; u2: a→b ; u3: single event (no transitions);
    // tie at u1 ts=20 broken by id (3 before 4): a→b→a, not a→a→b
    val ev = Seq(
      (1L, "a", 10L, 1L), (1L, "b", 20L, 3L), (1L, "a", 20L, 4L),
      (2L, "a", 5L, 5L), (2L, "b", 6L, 6L),
      (3L, "c", 1L, 7L))
      .toDF("u", "t", "ts", "id")
    val got = Temporal.transitionMatrix(ev, "u", "t", "ts", "id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      ("a", "b") -> ((2L, 1.0)),   // both a's lead to b
      ("b", "a") -> ((1L, 1.0))))
  }

  test("resample fills gaps with zero and keeps observed buckets") {
    import spark.implicits._
    val ev = Seq(
      ("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:50:00", 2.0),
      ("2024-01-01 03:05:00", 4.0)) // hours 1 and 2 are empty
      .toDF("s", "v").withColumn("ts", to_timestamp(col("s")))
    val got = Temporal.resample(ev, "ts", "v", unit = "hour")
      .orderBy("bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got === Array(
      ("2024-01-01 00:00:00", 2L, 3.0),
      ("2024-01-01 01:00:00", 0L, 0.0),
      ("2024-01-01 02:00:00", 0L, 0.0),
      ("2024-01-01 03:00:00", 1L, 4.0)))
  }

  test("cumulativeFirstSeen counts each key once, at its first bucket") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 09:00:00"), (1L, "2024-01-03 09:00:00"),
      (2L, "2024-01-01 12:00:00"),
      (3L, "2024-01-03 01:00:00"), (3L, "2024-01-04 01:00:00"))
      .toDF("u", "s").withColumn("ts", to_timestamp(col("s")))
    val got = Temporal.cumulativeFirstSeen(ev, "u", "ts", unit = "day")
      .orderBy("bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got === Array(
      ("2024-01-01 00:00:00", 2L, 2L),
      ("2024-01-03 00:00:00", 1L, 3L)))
  }

  test("movingAverage: trailing mean over gap-filled buckets, short head windows") {
    import spark.implicits._
    val ev = Seq(
      ("2024-01-01 10:00:00", 2.0), ("2024-01-01 11:00:00", 4.0), // day 1: 6
      ("2024-01-02 10:00:00", 3.0),                               // day 2: 3
      // day 3 empty → 0
      ("2024-01-04 10:00:00", 9.0))                               // day 4: 9
      .toDF("s", "v").withColumn("ts", to_timestamp(col("s")))
    val got = Temporal.movingAverage(ev, "ts", "v", unit = "day", window = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got === Array(
      ("2024-01-01 00:00:00", 2L, 6.0, 6.0),          // head: 1-bucket window
      ("2024-01-02 00:00:00", 1L, 3.0, 4.5),          // (6+3)/2
      ("2024-01-03 00:00:00", 0L, 0.0, 1.5),          // (3+0)/2 — gap counted
      ("2024-01-04 00:00:00", 1L, 9.0, 4.5)))         // (0+9)/2
  }

  test("activeUsers: per-bucket and rolling distinct counts, stickiness") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 09:00:00"), (2L, "2024-01-01 10:00:00"),
      (1L, "2024-01-02 09:00:00"), (1L, "2024-01-02 10:00:00"), // same day twice
      (3L, "2024-01-03 09:00:00"))
      .toDF("u", "s").withColumn("ts", to_timestamp(col("s")))
    val got = Temporal.activeUsers(ev, "u", "ts", unit = "day", window = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got === Array(
      ("2024-01-01 00:00:00", 2L, 2L, 1.0),
      ("2024-01-02 00:00:00", 1L, 2L, 0.5),   // {1} today, {1,2} in window
      ("2024-01-03 00:00:00", 1L, 2L, 0.5)))  // {3} today, {1,3} in window
  }

  test("conversionLag: first-touch lags, non-converters excluded, disc quantiles") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", "2024-01-01 10:00:00"), (1L, "buy", "2024-01-01 10:30:00"),
      (1L, "buy", "2024-01-01 11:00:00"),  // later buy ignored (first-touch)
      (2L, "view", "2024-01-01 10:00:00"), (2L, "buy", "2024-01-01 10:05:00"),
      (3L, "buy", "2024-01-01 09:00:00"), (3L, "view", "2024-01-01 10:00:00"), // buy precedes view
      (4L, "view", "2024-01-01 10:00:00")) // never converts
      .toDF("u", "t", "s").withColumn("ts", to_timestamp(col("s")))
    val got = Temporal.conversionLag(ev, "u", "ts", "t", "view", "buy",
      qs = Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got === Map(0.5 -> 300.0, 1.0 -> 1800.0))
  }

  test("retention: cohort sizes from age 0, fractions per cohort x age") {
    import spark.implicits._
    // cohort Jan-1: users 1,2 (1 returns day 1 and 2; 2 never returns)
    // cohort Jan-2: user 3 (returns day 1)
    val ev = Seq(
      (1L, "2024-01-01 09:00:00"), (1L, "2024-01-02 09:00:00"),
      (1L, "2024-01-02 10:00:00"), // same bucket twice — counted once
      (1L, "2024-01-03 09:00:00"),
      (2L, "2024-01-01 23:00:00"),
      (3L, "2024-01-02 01:00:00"), (3L, "2024-01-03 01:00:00"))
      .toDF("u", "s").withColumn("ts", to_timestamp(col("s")))
    val got = Temporal.retention(ev, "u", "ts", unit = "day")
      .withColumn("cohort", date_format(col("cohort"), "yyyy-MM-dd"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === Map(
      ("2024-01-01", 0) -> ((2L, 2L, 1.0)),
      ("2024-01-01", 1) -> ((1L, 2L, 0.5)),
      ("2024-01-01", 2) -> ((1L, 2L, 0.5)),
      ("2024-01-02", 0) -> ((1L, 1L, 1.0)),
      ("2024-01-02", 1) -> ((1L, 1L, 1.0))))
  }

  test("retention: week unit buckets ages by whole weeks") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 09:00:00"),  // week of Jan 1 (Monday)
      (1L, "2024-01-10 09:00:00"),  // next week → age 1
      (2L, "2024-01-03 12:00:00"))  // same week as cohort → age 0 only
      .toDF("u", "s").withColumn("ts", to_timestamp(col("s")))
    val got = Temporal.retention(ev, "u", "ts", unit = "week")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toList
      .sortBy(_._1)
    assert(got === List((0, 2L, 2L), (1, 1L, 2L)))
  }

  test("sessionize splits on gaps, counts sessions per key in time order") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(m * 60000L)
    // user 1: events at 0,10,20 min (one session), then 60,65 (second);
    // user 2: single event
    val ev = Seq(
      (1L, 100L, ts(0)), (1L, 101L, ts(10)), (1L, 102L, ts(20)),
      (1L, 103L, ts(60)), (1L, 104L, ts(65)),
      (2L, 200L, ts(5))).toDF("u", "id", "ts")
    val got = Temporal.sessionize(ev, "u", "id", "ts", gapMs = 30 * 60000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(5)))).toMap
    assert(got((1L, 1L)) === ((3L, 20 * 60000L)))
    assert(got((1L, 2L)) === ((2L, 5 * 60000L)))
    assert(got((2L, 1L)) === ((1L, 0L)))
  }

  test("sessionize: a gap of exactly gapMs does NOT split (strict >)") {
    import java.sql.Timestamp
    val ev = Seq((1L, 1L, new Timestamp(0L)), (1L, 2L, new Timestamp(1000L)))
      .toDF("u", "id", "ts")
    val one = Temporal.sessionize(ev, "u", "id", "ts", gapMs = 1000L).collect()
    assert(one.length === 1 && one(0).getLong(2) === 2L)
    val two = Temporal.sessionize(ev, "u", "id", "ts", gapMs = 999L).collect()
    assert(two.length === 2)
  }
}
