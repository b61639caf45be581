package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM via Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local("4",
    "spark.app.name" -> "graft-test",
    // keep saveAsTable output (BucketingSpec) out of the repo tree
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  import org.apache.spark.sql.DataFrame
  /** collect a single row of doubles by column name */
  def row1(df: DataFrame): Map[String, Any] = {
    val r = df.collect()(0)
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
  }
}
