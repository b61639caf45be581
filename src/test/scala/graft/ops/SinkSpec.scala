package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinkSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sink").resolve("out").toString

  private def parquetFiles(path: String): Array[java.io.File] =
    new java.io.File(path).listFiles.filter(_.getName.endsWith(".parquet"))

  test("compactParquet: many small files collapse to few, data intact") {
    val out = tmpDir()
    val df = spark.range(20000).select(col("id"), concat(lit("v"), col("id")).as("v"))
    df.repartition(40).write.parquet(out) // 40 tiny files
    assert(parquetFiles(out).length === 40)
    val before = spark.read.parquet(out).orderBy("id").collect()
    val parts = Sink.compactParquet(spark, out, targetMB = 64)
    assert(parts < 40)
    assert(parquetFiles(out).length === parts)
    val after = spark.read.parquet(out).orderBy("id").collect()
    assert(after.toSeq === before.toSeq)
  }
}
