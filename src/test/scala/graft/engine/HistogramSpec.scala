package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

class HistogramSpec extends SparkSpec {
  import spark.implicits._

  test("equiDepth matches the NTILE window ground truth, including duplicate values") {
    val rnd = new scala.util.Random(11)
    // duplicates on purpose: value range much smaller than row count
    val rows = (1L to 5000L).map(id => (id, rnd.nextInt(200).toDouble))
    val df = rows.toDF("id", "v").repartition(16)
    val b = 7
    val got = Histogram.equiDepth(df, "v", "id", b)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val n = rows.size.toLong
    val want = df
      .withColumn("rk", (row_number().over(Window.orderBy("v", "id")) - 1).cast("long"))
      .withColumn("bucket", expr(s"rk * $b div $n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min("v").as("lo"), max("v").as("hi"))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got === want)
    // equal depth: bucket sizes differ by at most 1 and sum to n
    val sizes = got.map(_._2)
    assert(sizes.sum === n)
    assert(sizes.max - sizes.min <= 1)
    // and bucket value ranges are non-overlapping and ordered
    got.sliding(2).foreach { case Array(a, c) => assert(a._4 <= c._3) case _ => }
  }

  test("equiDepth plans no Window operator and drops nulls") {
    val df = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)), (4L, Some(2.0)))
      .toDF("id", "v")
    val h = Histogram.equiDepth(df, "v", "id", 3)
    val plan = h.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"equi-depth still windows:\n$plan")
    val got = h.orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got === Array((0L, 1L, 1.0), (1L, 1L, 2.0), (2L, 1L, 3.0)))
  }

  test("equiDepth: empty input and single bucket") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(Histogram.equiDepth(empty, "v", "id", 4).collect().isEmpty)
    val df = Seq((1L, 5.0), (2L, 1.0), (3L, 9.0)).toDF("id", "v")
    val one = Histogram.equiDepth(df, "v", "id", 1).collect()
    assert(one.length === 1)
    assert((one(0).getLong(1), one(0).getDouble(2), one(0).getDouble(3)) === ((3L, 1.0, 9.0)))
  }

  /** Spark jobs of one equiDepth collect, as measured: n comes from the
    * rank scan's first pass, with no count() of the input. */
  private val EquiDepthJobBudget = 5

  test("equiDepth stays within its Spark job budget") {
    val df = (1 to 200).map(i => (i.toLong, (i % 37).toDouble)).toDF("id", "v")
    val (rows, jobs) = withJobCount(Histogram.equiDepth(df, "v", "id", 8).collect())
    assert(rows.map(_.getAs[Long]("cnt")).sum === 200L)
    assert(jobs <= EquiDepthJobBudget, s"equiDepth ran $jobs Spark jobs")
  }

  test("2-d equi-width histogram: known cells, edge clamp, degenerate axis") {
    // x in [0, 10], y in [0, 4]; 2x2 grid → cell width 5 and 2
    val df = Seq(
      (0.0, 0.0), (4.9, 1.9),   // cell (0,0)
      (5.0, 0.0),               // cell (1,0)
      (0.0, 2.0),               // cell (0,1)
      (10.0, 4.0), (10.0, 4.0)) // upper edges clamp into (1,1)
      .toDF("x", "y")
    val got = Histogram.equiWidth2d(df, "x", "y", 2, 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === Map((0, 0) -> 2L, (1, 0) -> 1L, (0, 1) -> 1L, (1, 1) -> 2L))
    // degenerate y extent: everything lands in by=0
    val flat = Seq((1.0, 7.0), (2.0, 7.0)).toDF("x", "y")
    val g2 = Histogram.equiWidth2d(flat, "x", "y", 2, 4)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(g2 === Map((0, 0) -> 1L, (1, 0) -> 1L))
  }
}
