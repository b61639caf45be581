package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** reference Morton interleave, bit by bit */
  private def morton(a: Long, b: Long): Long = {
    var z = 0L
    for (j <- 0 until 32) {
      z |= ((a >> j) & 1L) << (2 * j)
      z |= ((b >> j) & 1L) << (2 * j + 1)
    }
    z
  }

  test("zvalue matches the bit-by-bit reference on boundary and random inputs") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL), (0xFFFFFFFFL, 0xFFFFFFFFL),
      (123456789L, 987654321L), (65535L, 65536L))
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zvalue(col("a"), col("b")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) === morton(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("codegen and interpreted paths agree; SQL function registered") {
    graft.GraftExtensions.registerInto(spark)
    val sql = spark.sql("SELECT graft_interleave(CAST(12345 AS BIGINT), CAST(67890 AS BIGINT)) AS z")
      .collect()(0).getLong(0)
    assert(sql === morton(12345L, 67890L))
    // null propagation
    val n = spark.sql("SELECT graft_interleave(CAST(NULL AS BIGINT), CAST(1 AS BIGINT)) AS z").collect()(0)
    assert(n.isNullAt(0))
    // INT arguments widen like a builtin (registration-point cast)
    val i = spark.sql("SELECT graft_interleave(3, 5) AS z").collect()(0).getLong(0)
    assert(i === morton(3L, 5L))
  }

  test("zvalue interleaves monotonically within a quadrant (prefix property)") {
    // all points with both dims < 2^8 sort before any point with a dim ≥ 2^16
    val small = morton(255L, 255L)
    val big = morton(65536L, 0L)
    assert(small < big)
  }
}
