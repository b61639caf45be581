package graft.streaming

import graft.SparkSpec
import graft.streaming.MicroBatchHarness.Feed
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end guards for the shared micro-batch oracle harness: the
  * empty-sink path (a streaming query whose every batch is filtered
  * away contributes NO rows, and the result must be an empty,
  * correctly-schema'd frame — the schema pinned from the built plan,
  * since nothing was emitted to infer it from), both sinks, the
  * no-data-batch skip and the checkpoint leak guard. */
class MicroBatchHarnessSpec extends SparkSpec {
  import spark.implicits._

  test("MicroBatchHarness: all-filtered stream yields empty frame with pinned schema") {
    val batches = Seq(
      Seq((1L, "a"), (2L, "b")),
      Seq((3L, "c")),
      Seq.empty[(Long, String)])
    val out = MicroBatchHarness.run(spark, Seq(Feed(Seq("id", "s"), batches)),
      "graft-test-empty", Seq("id", "s"), OutputMode.Append()) { case Seq(stream) =>
      stream.filter(col("id") < 0) // nothing ever survives
    }
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("id", "s"))
    assert(out.schema("id").dataType.typeName === "long")
    assert(out.schema("s").dataType.typeName === "string")
  }

  test("MicroBatchHarness: non-empty stream round-trips rows and column subset") {
    val batches = Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c")))
    val out = MicroBatchHarness.run(spark, Seq(Feed(Seq("id", "s"), batches)),
      "graft-test-rows", Seq("id"), OutputMode.Append()) { case Seq(stream) =>
      stream.filter(col("id") =!= 2L)
    }
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    assert(out.columns.toSeq === Seq("id"))
  }

  test("MicroBatchHarness: all-filtered two-source stream yields empty frame") {
    val a = Seq(Seq((1L, 10L)), Seq((2L, 20L)))
    val b = Seq(Seq((1L, 100L)), Seq.empty[(Long, Long)])
    val out = MicroBatchHarness.run(spark,
      Seq(Feed(Seq("id", "va"), a), Feed(Seq("id", "vb"), b)),
      "graft-test-empty2", Seq("id", "va")) { case Seq(sa, _) =>
      sa.filter(col("va") < 0)
    }
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("id", "va"))
  }

  test("noop sink conf: empty frame with pinned schema; driver sink returns the rows") {
    val batches = Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c")))
    def run(s: org.apache.spark.sql.SparkSession) =
      MicroBatchHarness.run(s, Seq(Feed(Seq("id", "s"), batches)),
        "graft-test-sink", Seq("id", "s"),
        batchIdCol = Some("batch_id")) { case Seq(stream) => stream }
    // a child session: its conf is its own, the shared session's
    // stays on the default driver sink
    val noopSession = spark.newSession()
    noopSession.conf.set(MicroBatchHarness.SinkConf, "noop")
    val noop = run(noopSession)
    assert(noop.count() === 0L)
    assert(noop.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("id", "long"), ("s", "string"), ("batch_id", "long")))
    val driver = run(spark)
    assert(driver.schema === noop.schema)
    assert(driver.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq === Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)))
    noopSession.conf.set(MicroBatchHarness.SinkConf, "bogus")
    intercept[IllegalArgumentException](run(noopSession))
  }

  test("checkpoint dir is removed when build throws") {
    val prefix = s"graft-test-leak-${java.util.UUID.randomUUID()}"
    def leaked = Option(MicroBatchHarness.scratchRoot.listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.startsWith(prefix))
    val err = intercept[IllegalStateException] {
      MicroBatchHarness.run(spark,
        Seq(Feed(Seq("id"), Seq(Seq(Tuple1(1L))))), prefix, Seq("id")) {
        _ => throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage === "build failed")
    assert(leaked.isEmpty, s"leaked: ${leaked.mkString(", ")}")
  }

  test("no-data-batch skip: fewer triggers, identical emitted union for a watermarked append agg") {
    // a watermarked 10s-window count in append mode — the operator
    // class whose emissions RIDE the watermark (windows finalize when
    // it passes their end). With the skip on, Spark runs no
    // watermark-advance no-data batches; the trailing empty feed
    // supplies the final emission instead. The UNION must be
    // bit-identical; the trigger count must strictly drop.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val batchCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
        { batchCounter.incrementAndGet(); () }
      override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // ts spread over 3 windows; each batch advances the watermark past
    // the previous batch's windows so intermediate emissions happen
    val batches = Seq(
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05"))),
      Seq((3L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"))),
      Seq((4L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"))))
    def run(skip: Boolean): (Int, Seq[(Long, Long)]) = {
      batchCounter.set(0)
      spark.streams.addListener(listener)
      try {
        val out = MicroBatchHarness.run(spark, Seq(Feed(Seq("id", "ts"), batches)),
          "graft-test-nodata", Seq("wstart", "n"),
          OutputMode.Append(), skipNoDataBatches = skip) { case Seq(stream) =>
          stream.withWatermark("ts", "1 second")
            .groupBy(window(col("ts"), "10 seconds").as("w"))
            .agg(count(lit(1)).as("n"))
            .select(unix_timestamp(col("w.start")).as("wstart"), col("n"))
        }
        // drain async listener events before reading the counter:
        // poll until the count has been stable for 500 ms (a single
        // fixed sleep races late-delivered progress events on a
        // loaded host and makes the exact-count assertion flaky)
        spark.streams.resetTerminated()
        var last = -1
        var stableSince = System.nanoTime()
        while ({
          val cur = batchCounter.get()
          if (cur != last) { last = cur; stableSince = System.nanoTime() }
          System.nanoTime() - stableSince < 500L * 1000 * 1000
        }) Thread.sleep(50)
        (batchCounter.get(),
          out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
      } finally spark.streams.removeListener(listener)
    }
    val (nSkip, rowsSkip) = run(skip = true)
    val (nFull, rowsFull) = run(skip = false)
    // the two finalized windows emit ([0,10) and [60,70)); the last
    // window's end (130 s) is past the final watermark in BOTH routes,
    // so it stays in state — exactly why the real harness feeds a
    // sentinel inside its last batch
    assert(rowsSkip === rowsFull)
    assert(rowsSkip.map(_._2) === Seq(2L, 1L))
    // skip route: 3 data + 1 trailing empty = 4; stock route: 3 data +
    // >= 2 no-data watermark advances (Spark may coalesce) — strictly more
    assert(nSkip < nFull, s"expected fewer triggers, got $nSkip vs $nFull")
    assert(nSkip === 4)
  }

  test("streaming calibration state is batch-split invariant (mergeability)") {
    // the q206 composition: update-mode per-bin sums, max-merged, then
    // the shared readoff — the FINAL result must not depend on how the
    // rows were cut into micro-batches (that is what makes the state
    // a mergeable summary rather than an order artifact)
    val rnd = new scala.util.Random(67)
    val rows = (0 until 90).map(_ => (rnd.nextDouble(), rnd.nextInt(2)))
    def run(splits: Seq[Seq[(Double, Int)]]): Seq[(Int, Long, Double, Double, Double)] = {
      val perTrigger = MicroBatchHarness.run(spark, Seq(Feed(Seq("p", "c"), splits)),
          "graft-test-calib", Seq("bin", "n", "sp", "sc"),
          OutputMode.Update()) { case Seq(stream) =>
        val (n, sp, sc) = graft.ops.Drift.calibrationAggs(col("p"), col("c"))
        stream.groupBy(graft.ops.Drift.calibrationBin(col("p"), 10).as("bin"))
          .agg(n.as("n"), sp.as("sp"), sc.as("sc"))
      }
      val fin = perTrigger.groupBy("bin")
        .agg(max_by(struct(col("n"), col("sp"), col("sc")), col("n")).as("f"))
        .select(col("bin"), col("f.n").as("n"),
          col("f.sp").cast("decimal(38,12)").as("__sp"),
          col("f.sc").as("__sc"))
      graft.ops.Drift.calibrationReadoff(fin).orderBy("bin").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSeq
    }
    val evenSplit = run(rows.grouped(30).toSeq)
    val skewSplit = run(Seq(rows.take(5), rows.slice(5, 80), rows.drop(80)))
    val oneBatch = run(Seq(rows))
    assert(evenSplit === skewSplit)
    assert(evenSplit === oneBatch)
    // and all three equal the BATCH report of the same rows
    import spark.implicits._
    val batch = graft.ops.Drift.calibrationReport(
        rows.toDF("p", "c"), "p", "c", 10)
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(evenSplit === batch)
  }
}
