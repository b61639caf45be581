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
  /** `body`'s result and the number of Spark jobs it started. Its jobs
    * carry a fresh job group; the listener bus is drained before they
    * are counted. */
  def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-run-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
  /** collect a single row of doubles by column name */
  def row1(df: DataFrame): Map[String, Any] = {
    val r = df.collect()(0)
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
  }
}
