package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.engine.{ColumnProfile, DetectorConfig, SemanticType, SyntheticPipeline}
import graft.ops.{Curation, Dedup, Sketch, TextAnalysis}
import graft.streaming.StreamingProfile
import graft.text.{EmbeddingModel, TextProfiler}

/** One benchmark workload: the steps of a pass, the output checks run on
  * the checked (warm-up) pass, and the useful-work ratios of a traced
  * run. `signature` summarises a pass's outputs so every timed pass can
  * be compared with the checked one. */
trait Workload {
  type Out
  def steps: Seq[String]
  def inputRows: Long
  def pass(c: Ctx, checked: Boolean): Out
  def signature(out: Out): Any
  def checks(c: Ctx, out: Out): Unit
  def usefulWork(c: Ctx, out: Out): Unit = ()
}

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "synth_tables" => new SynthTables(c)
    case "llm_corpus" => new LlmCorpus(c)
    case "stream_events" => new StreamEvents(c)
    case other => sys.error(s"unknown workload $other")
  }

  def longs(df: DataFrame, cols: String*): Array[Seq[Long]] =
    df.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => r.getAs[Number](i).longValue))
}

/** The paper's path: profile the whole orders table, generate, validate
  * and write the synthetic table as CSV; then profile the text column. */
final class SynthTables(c: Ctx) extends Workload {
  private val cfg = SyntheticPipeline.Config(
    detector = DetectorConfig(strictFormats = true), sampleCap = 0,
    nSamples = c.o.param("n_samples").toLong, seed = c.o.seed, textColumns = false)

  final case class TableOut(rows: Long, profiles: Map[String, ColumnProfile],
                            validation: Map[String, Map[String, Double]])
  type Out = (TableOut, Boolean)

  val steps = Seq("engine.profile", "engine.generate", "engine.validate",
    "engine.load", "text.profile")
  val inputRows: Long = c.input("orders").count() + c.input("documents").count()

  def pass(c: Ctx, checked: Boolean): Out = {
    val profiles = c.step("engine.profile") {
      SyntheticPipeline.profileTable(c.input("orders"), cfg)
    }
    val synth = c.step("engine.generate") {
      val s = SyntheticPipeline.generate(c.spark, profiles, cfg).cache()
      c.noop(s)
      s
    }
    val out = try {
      val validation = c.step("engine.validate") {
        SyntheticPipeline.validate(synth, profiles, cfg)
      }
      c.step("engine.load") { SyntheticPipeline.writeCsv(synth, s"${c.o.work}/csv/orders") }
      val rows = if (checked) c.checking(synth.count()) else -1L
      TableOut(rows, profiles, validation)
    } finally synth.unpersist()
    val text = c.step("text.profile") {
      TextProfiler.profile(c.input("documents"), "text",
        EmbeddingModel(cfg.embedDim, cfg.seed), cfg.maxTokens, cfg.rawSampleCap)
    }
    (out, text.isDefined)
  }

  def signature(out: Out): Any =
    (out._1.profiles.map { case (n, p) => n -> p.semanticType.name },
      out._1.validation.keySet, out._2)

  /** The synthetic-pipeline verdict bands of the engine's own oracle row
    * for this path: per generated column, moment errors within bands. */
  private def withinBand(p: ColumnProfile, m: Map[String, Double]): Boolean =
    p.semanticType match {
      case SemanticType.Integer | SemanticType.Float =>
        val std = p.numeric.get.std
        m("mean_error") <= 0.1 * std && m("std_error") <= 0.15 * std
      case SemanticType.Boolean => m("true_prob_error") < 0.05
      case SemanticType.Categorical => m("avg_prob_error") < 0.05
      case SemanticType.Datetime => m("mean_epoch_error") <= p.datetime.get.epoch.std
      case _ => p.text.forall { o =>
        m("mean_error") < math.max(0.05, math.abs(o.overallMean) * 0.5) &&
          m("std_error") < math.max(0.05, o.overallStd * 0.5)
      }
    }

  def checks(c: Ctx, out: Out): Unit = {
    val t = out._1
    c.check("orders.synthetic_rows", t.rows == cfg.nSamples,
      s"${t.rows} rows, expected ${cfg.nSamples}")
    val bad = t.validation.collect { case (n, m) if !withinBand(t.profiles(n), m) => n }
    c.check("orders.validation_bands", bad.isEmpty && t.validation.nonEmpty,
      s"outside bands: ${bad.mkString(",")}; validated ${t.validation.size} columns")
    c.check("documents.text_profile", out._2, if (out._2) "" else "no text profile")
  }
}

/** LLM-data curation over a corpus with seeded exact and near
  * duplicates. */
final class LlmCorpus(c: Ctx) extends Workload {
  private val docs = c.input("documents")
  type Out = (Array[Long], Array[(Long, Long)], Array[(Long, Long)], Map[String, Double])

  val steps = Seq("ops.curate", "ops.token_stats", "ops.dedup_exact",
    "ops.dedup_minhash", "ops.dedup_simhash", "ops.kmv")
  val inputRows: Long = docs.count()
  private val kmvCols = Seq("doc_id", "text")

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    Workloads.longs(df, "id_a", "id_b").map(p => (p(0), p(1)))

  def pass(c: Ctx, checked: Boolean): Out = {
    c.step("ops.curate") { c.noop(Curation.curate(docs, "doc_id", "text")) }
    c.step("ops.token_stats") {
      c.noop(docs.select(col("doc_id"), TextAnalysis.tokenCurateStats(col("text")).as("st")))
    }
    val survivors = c.step("ops.dedup_exact") {
      Workloads.longs(Dedup.exactDedup(docs, "doc_id", "text"), "doc_id").map(_.head)
    }
    val mh = c.step("ops.dedup_minhash") { pairs(Dedup.lshJaccardDedup(docs, "doc_id", "text")) }
    val sh = c.step("ops.dedup_simhash") { pairs(Dedup.simhashNearDup(docs, "doc_id", "text")) }
    val kmv = c.step("ops.kmv") {
      Sketch.kmvDistinct(docs, kmvCols, 256).select("col_name", "est").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    (survivors, mh, sh, kmv)
  }

  def signature(out: Out): Any =
    (out._1.sorted.toSeq, out._2.sorted.toSeq, out._3.sorted.toSeq, out._4)

  def checks(c: Ctx, out: Out): Unit = {
    val (survivors, mh, _, _) = out
    val distinctFp = docs.select(countDistinct(TextAnalysis.fingerprint(col("text"))))
      .first().getLong(0)
    c.check("dedup_exact.survivors", survivors.length == distinctFp,
      s"${survivors.length} survivors, $distinctFp distinct fingerprints")
    val truth = c.input("truth_dups")
    val alive = survivors.toSet
    val exact = Workloads.longs(truth.filter(col("kind") === "exact"), "doc_id", "dup_of")
    val exactFound = exact.count(p => !alive.contains(math.max(p(0), p(1))))
    val exactRecall = exactFound.toDouble / math.max(1, exact.length)
    c.check("dedup_exact.seeded_recall",
      exactRecall >= c.o.param("exact_recall_floor").toDouble, f"recall $exactRecall%.4f")
    val near = Workloads.longs(truth.filter(col("kind") === "near"), "doc_id", "dup_of")
      .map(p => (math.min(p(0), p(1)), math.max(p(0), p(1))))
    val found = mh.toSet
    val nearRecall = near.count(found.contains).toDouble / math.max(1, near.length)
    c.useful("ops.dedup_minhash.seeded_recall") = nearRecall
    c.check("dedup_minhash.seeded_recall",
      nearRecall >= c.o.param("near_recall_floor").toDouble, f"recall $nearRecall%.4f")
  }

  override def usefulWork(c: Ctx, out: Out): Unit = {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text").count()
    c.useful("ops.dedup_minhash.pair_yield") = out._2.length.toDouble / math.max(1L, cand)
    val errs = kmvCols.map { k =>
      val exact = docs.select(countDistinct(col(k))).first().getLong(0).toDouble
      math.abs(out._4(k) - exact) / exact
    }
    c.useful("ops.kmv.rel_err") = errs.sum / errs.size
  }
}

/** One event of the replayed stream. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** Open-loop stream: a generator thread replays the events in timestamp
  * order into a MemoryStream at a fixed offered rate while two streaming
  * queries (windowed numeric profile, watermark dedup) consume it. */
final class StreamEvents(c: Ctx) extends Workload {
  private val enc = Encoders.product[Ev]
  private val events: Array[Ev] =
    c.input("events").orderBy("ts", "event_id").as(enc).collect()
  private val rate = c.o.param("rate_per_s").toDouble
  private val tickNs = (c.o.param("tick_ms").toDouble * 1e6).toLong
  /** Events fed, and awaited, before the open loop starts: each query's
    * first micro-batch (planning, state-store set-up) runs before any
    * timed event is due. */
  private val prime = c.o.param("prime_events").toInt
  private val trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(
    c.o.param("trigger_ms").toLong)
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private val lateness = mutable.ArrayBuffer.empty[Double]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  type Out = (Long, Option[(Seq[Row], Long)])

  val steps = Seq("streaming.start", "streaming.trigger")
  val inputRows: Long = events.length.toLong

  /** Feeds every event at its due time (event i is due i/rate seconds
    * after the start), in ticks of `tick_ms`. Returns, per added chunk,
    * (source offset, first event, end event) and the epoch ms of t0. */
  private def feed(mems: Seq[MemoryStream[Ev]]): (Seq[(Long, Int, Int)], Double) = {
    val nsPer = 1e9 / rate
    val chunks = mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val t0 = System.nanoTime() - (prime * nsPer).toLong
    val e0 = System.currentTimeMillis() - (System.nanoTime() - t0) / 1e6
    var sent = prime
    var tick = (prime * nsPer / tickNs).toLong
    while (sent < events.length) {
      tick += 1
      val at = t0 + tick * tickNs
      val wait = at - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      if (c.pass >= 1) lateness += (now - at) / 1e6
      val due = math.min(events.length.toLong, ((now - t0) / nsPer).toLong + 1).toInt
      if (due > sent) {
        val chunk = events.slice(sent, due).toSeq
        val offs = mems.map(_.addData(chunk).json().trim.toLong).distinct
        require(offs.size == 1, s"streams out of step at offsets $offs")
        chunks += ((offs.head, sent, due))
        sent = due
      }
    }
    (chunks.toSeq, e0)
  }

  /** Blocks until `q` has reported a micro-batch ending at or after
    * source offset `off` (processAllAvailable alone can return before
    * the progress of the last batch is posted). */
  private def awaitCommitted(q: org.apache.spark.sql.streaming.StreamingQuery,
                             off: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    q.processAllAvailable()
    while (!commits(q).exists(_._1 >= off)) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"stream did not reach offset $off")
      Thread.sleep(5)
    }
  }

  /** Epoch ms at which each micro-batch of `q` committed, by end offset. */
  private def commits(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[(Long, Double)] =
    q.recentProgress.toSeq.filter(p => p.sources.nonEmpty && p.sources.head.endOffset != null)
      .map { p =>
      val end = p.sources.head.endOffset.trim.toLong
      end -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").toDouble)
    }.sortBy(_._1)

  def pass(c: Ctx, checked: Boolean): Out = {
    val spark = c.spark
    // one source per query: a MemoryStream serves a single consumer
    val mems = Seq.fill(2)(MemoryStream[Ev](spark, c.o("cores").toInt)(enc))
    val ckpt = s"${c.o.work}/stream/p${c.pass}"
    val rows = mutable.ArrayBuffer.empty[Row]
    val trig = c.newId()
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val start0 = System.nanoTime()
    val (qp, qd) = c.step("streaming.start") {
      // jobs of the stream threads belong to the trigger span: the
      // threads inherit the submitting thread's local properties
      spark.sparkContext.setLocalProperty(Trace.SpanKey, trig.toString)
      spark.conf.set(noData, "false")
      // state partitions bind at query start; restored right after
      spark.conf.set("spark.sql.shuffle.partitions", c.o.param("state_partitions"))
      val (qp, qd) = try {
        (StreamingProfile.windowedNumericProfile(mems(0).toDF(), "ts", "event_type", "value")
          .writeStream.option("checkpointLocation", s"$ckpt/profile").outputMode("append")
          .trigger(trigger)
          .foreachBatch { (b: DataFrame, _: Long) =>
            if (checked) rows.synchronized { rows ++= b.collect(); () } else c.noop(b)
          }.start(),
        StreamingProfile.streamingDedup(mems(1).toDF(), "ts", "props")
          .writeStream.option("checkpointLocation", s"$ckpt/dedup").outputMode("append")
          .trigger(trigger)
          .foreachBatch { (b: DataFrame, _: Long) => c.noop(b) }.start())
      } finally spark.conf.set("spark.sql.shuffle.partitions", c.o("cores"))
      (qp, qd)
    }
    val startS = (System.nanoTime() - start0) / 1e9
    try {
      val (chunks, e0) = c.step("streaming.trigger", trig) {
        val first = mems.map(_.addData(events.take(prime).toSeq).json().trim.toLong).max
        Seq(qp, qd).foreach(q => awaitCommitted(q, first))
        val fed = feed(mems)
        Seq(qp, qd).foreach(q => awaitCommitted(q, fed._1.last._1))
        // then one empty batch carries the final watermark, so the
        // windows it closes are emitted (the result is then complete)
        val last = mems.map(_.addData(Seq.empty[Ev]).json().trim.toLong).max
        Seq(qp, qd).foreach(q => awaitCommitted(q, last))
        fed
      }
      // the pass's wall time follows the feed schedule and the trigger
      // clock; the engine's own time is query start plus every batch
      val progress = Seq(qp, qd).flatMap(_.recentProgress.toSeq)
      def ms(p: StreamingQueryProgress) = p.durationMs.get("triggerExecution").toDouble
      c.passBusyS = Some(startS + progress.map(ms).sum / 1000.0)
      // batch 0 of each query holds the priming events and the query's
      // set-up; the later batches carry the open-loop feed
      if (c.pass >= 1) batchMs ++= progress.filter(_.batchId > 0).map(ms)
      c.extra("batch_ms_p50") = Ctx.quantile(batchMs.toSeq, 0.5)
      c.extra("batch_ms_max") = if (batchMs.isEmpty) Double.NaN else batchMs.max
      val cs = Seq(commits(qp), commits(qd))
      val nsPer = 1e9 / rate
      if (c.pass >= 1) chunks.foreach { case (off, from, end) =>
        val done = cs.map(_.find(_._1 >= off).map(_._2).getOrElse(Double.NaN)).max
        (from until end).foreach(i => latencies += done - (e0 + i * nsPer / 1e6))
      }
      c.extra("event_lat_ms_p50") = Ctx.quantile(latencies.toSeq, 0.5)
      c.extra("event_lat_ms_p95") = Ctx.quantile(latencies.toSeq, 0.95)
      c.extra("event_lat_n") = latencies.size
      val processed = qp.recentProgress.map(_.numInputRows).sum
      val wm = Option(qp.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
        .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)
      (processed, if (checked) Some((rows.toSeq, wm)) else None)
    } finally {
      qp.stop()
      qd.stop()
      spark.conf.unset(noData)
    }
  }

  def signature(out: Out): Any = out._1

  def checks(c: Ctx, out: Out): Unit = {
    c.check("stream.all_events_processed", out._1 == events.length,
      s"${out._1} of ${events.length} events processed")
    val (rows, wm) = out._2.get
    val v = col("value")
    val batch = c.input("events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(v).as("n"), avg(v).as("mean"), stddev_pop(v).as("std"),
        min(v).as("min"), max(v).as("max"))
      .filter(col("window.end").cast("timestamp").cast("long") * 1000L <= wm)
      .select(col("window.start").cast("timestamp").cast("long").as("ws"), col("event_type"),
        col("n"), col("mean"), col("std"), col("min"), col("max"))
      .collect()
    def key(ws: Long, t: String) = s"$ws/$t"
    val expect = batch.map(r => key(r.getLong(0), r.getString(1)) -> r).toMap
    val got = rows.map(r => key(r.getAs[java.sql.Timestamp](0).getTime / 1000L,
      r.getString(1)) -> r).toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val bad = expect.count { case (k, e) =>
      got.get(k).forall { g =>
        g.getLong(2) != e.getLong(2) || !close(g.getDouble(3), e.getDouble(3)) ||
          !close(g.getDouble(4), e.getDouble(4)) || g.getDouble(5) != e.getDouble(5) ||
          g.getDouble(6) != e.getDouble(6)
      }
    }
    c.check("stream.windows_match_batch",
      bad == 0 && got.size == expect.size && expect.nonEmpty,
      s"${expect.size} batch windows, ${got.size} streamed, $bad differ, watermark $wm")
  }

  override def usefulWork(c: Ctx, out: Out): Unit =
    c.useful("loadgen.late_ms_p95") = Ctx.quantile(lateness.toSeq, 0.95)
}
