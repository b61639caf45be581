package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PrefixSpec extends SparkSpec {
  import spark.implicits._

  test("runningTotal matches the single-task window ground truth on shuffled multi-partition data") {
    val rnd = new scala.util.Random(13)
    val rows = rnd.shuffle((1L to 5000L).toList).map(i => (i, rnd.nextInt(100).toLong))
    val df = rows.toDF("k", "v").repartition(16)
    val got = Prefix.runningTotal(df, "k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = df.withColumn("cum",
      sum("v").over(org.apache.spark.sql.expressions.Window.orderBy("k")
        .rowsBetween(Long.MinValue, 0)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === want)
    // and the point: the distributed form plans NO Window operator
    val plan = Prefix.runningTotal(df, "k", "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"prefix sum still windows:\n$plan")
  }

  test("runningTotal: null values count as 0, all columns survive") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("k", "v").withColumn("tag", concat(lit("row"), col("k")))
    val got = Prefix.runningTotal(df, "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(got === Array((1L, "row1", 5L), (2L, "row2", 5L), (3L, "row3", 12L)))
  }

  test("keyed runningTotals match SUM OVER (PARTITION BY k ORDER BY o ROWS UNBOUNDED PRECEDING), totals included") {
    import org.apache.spark.sql.expressions.Window
    // 40 rows, 12 distinct (k, o) sort keys, 64 shuffle partitions: the
    // range partitioner cuts one partition per distinct sort key, so
    // the hot key (30 rows) spans five partitions and one partition is
    // empty. A NULL key, a NaN key and NULL values ride along. Tied
    // rows (same k and o) carry the same v, so the running totals are
    // the same multiset whatever order the ties take.
    val rows: Seq[(Long, Option[Double], Long, Option[Long])] =
      (1L to 30L).map(i => (i, Some(2.0), i % 5, if (i % 5 == 3) None else Some(i % 5 * 10))) ++
        Seq((31L, Some(1.0), 1L, Some(5L)), (32L, Some(1.0), 1L, Some(5L)),
          (33L, Some(1.0), 0L, Some(7L)),
          (34L, Some(Double.NaN), 3L, Some(1L)), (35L, Some(Double.NaN), 3L, Some(1L)),
          (36L, Some(Double.NaN), 2L, None), (37L, Some(Double.NaN), 9L, Some(4L)),
          (38L, None, 4L, Some(10L)), (39L, None, 4L, Some(10L)), (40L, None, 1L, Some(30L)))
    val df = rows.toDF("id", "k", "o", "v")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      // the fixture has the shape it claims
      val parts = Prefix.rangeScan(df, Seq(col("k"), col("o")))(
        it => it.map(r => Option(r.get(1)).map(_.toString)).toSet)
      parts.release()
      assert(parts.summaries.exists(_.isEmpty))
      assert(parts.summaries.count(_.contains(Some("2.0"))) > 1)
      val got = Prefix.runningTotals(df, Some("k"), Seq("o"),
        Seq("cum" -> col("v"), "n" -> lit(1L)))
      assert(got.rows.columns.toSeq === Seq("id", "k", "o", "v", "cum", "n"))
      val w = Window.partitionBy("k").orderBy("o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("cum", sum(coalesce(col("v"), lit(0L))).over(w))
        .withColumn("n", count(lit(1)).over(w))
      def multiset(d: org.apache.spark.sql.DataFrame) =
        d.select("k", "o", "v", "cum", "n").collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(","))
      assert(multiset(got.rows) === multiset(want))
      // the totals pass 1 counted equal a groupBy's (keys as strings:
      // NaN never equals itself in a Scala map)
      val byKey = df.groupBy("k").agg(sum(coalesce(col("v"), lit(0L))), count(lit(1)))
        .collect().map(r => String.valueOf(r.get(0)) ->
          Prefix.Totals(IndexedSeq(r.getLong(1), r.getLong(2)), r.getLong(2))).toMap
      assert(got.byKey.map { case (k, t) => String.valueOf(k) -> t } === byKey)
      assert(got.total === Prefix.Totals(IndexedSeq(rows.flatMap(_._4).sum, 40L), 40L))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("packSequences: bins, offsets and boundary crossings from hand-computed layout") {
    // budget 10; docs of 4, 5, 3, 10, 0, 2 tokens at positions
    // [0,4) [4,9) [9,12) [12,22) [22,22) [22,24)
    val df = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 10L), (5L, 0L), (6L, 2L))
      .toDF("id", "n")
    val got = Prefix.packSequences(df, "id", "n", budget = 10)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("start_pos"), r.getAs[Long]("bin"),
        r.getAs[Long]("bin_offset"), r.getAs[Boolean]("crosses")))
    assert(got === Array(
      (1L, 0L, 0L, 0L, false),
      (2L, 4L, 0L, 4L, false),   // ends at 8 — fits
      (3L, 9L, 0L, 9L, true),    // 9..11 crosses into bin 1
      (4L, 12L, 1L, 2L, true),   // 12..21 crosses into bin 2
      (5L, 22L, 2L, 2L, false),  // empty doc never crosses
      (6L, 22L, 2L, 2L, false)))
  }
}
