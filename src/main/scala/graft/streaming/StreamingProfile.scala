package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the engine's profiling operators —
  * the SURVEY.md §7 stretch: the same moment/count aggregations,
  * expressed incrementally over an event stream.
  *
  * All operators take the streaming DataFrame (from `readStream`) and
  * return a streaming result; sinks/triggers are the caller's choice.
  * Watermarks bound state; the aggregation state per window/key is the
  * same O(1) moment tuple the batch profiler collects, so state size is
  * windows × keys, never rows. */
object StreamingProfile {

  /** Tumbling-window numeric profile of `valueCol` per `keyCol`:
    * count / mean / pop-std / min / max, incrementally maintained.
    * Late data beyond `watermark` is dropped (documented semantics). */
  def windowedNumericProfile(events: DataFrame, tsCol: String, keyCol: String,
                             valueCol: String, window: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame = {
    val v = col(valueCol)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(
        count(v).as("n"),
        avg(v).as("mean"),
        stddev_pop(v).as("std"),
        min(v).as("min"),
        max(v).as("max"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("mean"), col("std"), col("min"), col("max"))
  }

  /** Streaming value_counts (the categorical profile) per window. */
  def windowedValueCounts(events: DataFrame, tsCol: String, keyCol: String,
                          window: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col(keyCol), col("cnt"))

  /** Per-user session state for [[sessionize]]. */
  case class SessionState(lastMs: Long, nSessions: Long, nEvents: Long)
  case class SessionUpdate(userId: Long, nSessions: Long, nEvents: Long)

  /** Stateful sessionization with `mapGroupsWithState`: counts sessions
    * per user with a gap threshold — the streaming twin of the batch
    * lag-window sessionize (SparkEntry q18). State is one (ts, counts)
    * tuple per live user. Production would add a state timeout
    * (ProcessingTime/EventTime) to reap idle users — note that
    * processing-time timeouts keep scheduling batches, so tests using
    * processAllAvailable() must run without one. */
  def sessionize(events: Dataset[(Long, Long)], gapMs: Long = 1800000L)
  : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](
        GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[SessionState]) =>
          val sorted = batch.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { ts =>
            val newSession = st.lastMs == Long.MinValue || ts - st.lastMs > gapMs
            st = SessionState(ts,
              st.nSessions + (if (newSession) 1 else 0),
              st.nEvents + 1)
          }
          state.update(st)
          SessionUpdate(userId, st.nSessions, st.nEvents)
      }
  }

  /** Bottom-k state for [[streamingKmv]] — the sorted digest list IS
    * the whole sketch (≤ k 32-hex strings per key). */
  case class KmvState(hs: List[String])

  /** STREAMING KMV distinct sketch with `flatMapGroupsWithState` —
    * the custom-state form the sketch family's other streaming proofs
    * (HLL/histogram/count–min, which ride built-in update-mode aggs)
    * can't express: bottom-k needs an ORDERED capped set, so the
    * state is explicit. Each trigger folds the batch's digests into
    * the per-key bottom-k TreeSet and EMITS the current sketch rows
    * (flatMap — many rows per group per trigger); because min-merge
    * is the KMV union, the bottom-k of all emissions equals the batch
    * sketch of the full stream, which is what the oracle checks.
    *
    * `keys` in production are column names ([[graft.ops.Sketch
    * .kmvDistinct]]'s layout) — state stays k-bounded per key however
    * long the stream runs. Input: (key, md5-hex digest). */
  def streamingKmv(hashes: Dataset[(String, String)], k: Int)
  : Dataset[(String, String)] = {
    import hashes.sparkSession.implicits._
    hashes.groupByKey(_._1)
      .flatMapGroupsWithState[KmvState, (String, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, batch, state: GroupState[KmvState]) =>
          val set = new java.util.TreeSet[String]()
          state.getOption.foreach(_.hs.foreach(set.add))
          batch.foreach { case (_, h) =>
            if (set.add(h) && set.size > k) { set.pollLast(); () }
          }
          import scala.jdk.CollectionConverters._
          state.update(KmvState(set.asScala.toList))
          set.asScala.toList.iterator.map(h => (key, h))
      }
  }

  /** Streaming exact-dedup: drop events whose content fingerprint was
    * already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` (NOT plain `dropDuplicates`, whose
    * state is only evicted when the event-time column is part of the
    * key — keyed on the digest alone it grows forever): state per
    * sketch is dropped once the watermark passes it, so state size is
    * bounded by the horizon's distinct-content count. */
  def streamingDedup(events: DataFrame, tsCol: String, textCol: String,
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming NEAR-dup: drop events whose SimHash sketch collides
    * with an earlier event inside the watermark horizon —
    * sketch-equality near-duplicate suppression (formatting noise and
    * token reorders hash identically; SimHash is order-invariant).
    * The 64-bit default matches the batch path's
    * ([[graft.ops.Dedup.simhashNearDup]]): at 16 bits, 65k distinct
    * sketch values mean genuinely different documents start colliding
    * — and being WRONGLY dropped — once the watermark horizon holds
    * more than a few thousand events. Sketched by the one-pass row
    * kernel ([[graft.ops.TextAnalysis.simHashRow]]); same
    * watermark-bounded machinery as [[streamingDedup]], keyed on the
    * sketch instead of the exact digest. */
  def streamingNearDup(events: DataFrame, tsCol: String, textCol: String,
                       watermark: String = "2 hours",
                       nBits: Int = 64): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .withColumn("__sh", graft.ops.TextAnalysis.simHashRow(col(textCol), nBits))
      .dropDuplicatesWithinWatermark("__sh")
      .drop("__sh")

  /** Streaming twin of [[graft.ops.Dedup.admitIncremental]] — admit
    * only stream rows that are NOT near-dups of the persisted corpus
    * sketch table and not sketch-duplicates of an earlier stream row
    * inside the watermark horizon. The prior check is `bands` chained
    * stream-static LEFT ANTI joins (one per band key, static side
    * broadcast per micro-batch — a refreshed sketch snapshot under the
    * same view is picked up without restart), each carrying the full
    * Hamming `maxDist` verify in its join condition; a row dropped by
    * ANY band matches the batch route's any-band semantics exactly.
    * The intra-stream stage is sketch-EQUALITY
    * (`dropDuplicatesWithinWatermark` on the word — watermark state
    * cannot hold band tables), the documented weaker-than-batch
    * tolerance shared with [[streamingNearDup]]. */
  def streamingAdmit(events: DataFrame, tsCol: String, textCol: String,
                     priorSketches: DataFrame, maxDist: Int = 3,
                     nBits: Int = 64, bands: Int = 4,
                     watermark: String = "2 hours"): DataFrame = {
    import graft.ops.Dedup
    var cur = events.withColumn("__sh", Dedup.sketchWord(col(textCol), nBits))
    for (b <- 0 until bands) {
      val pb = priorSketches.select(
        Dedup.bandKey(col("h"), nBits, bands, b).as("__pk"), col("h").as("__ph"))
      cur = cur.join(org.apache.spark.sql.functions.broadcast(pb),
        Dedup.bandKey(col("__sh"), nBits, bands, b) === col("__pk") &&
          bit_count(col("__sh").bitwiseXOR(col("__ph"))) <= maxDist,
        "left_anti")
    }
    cur.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sh")
      .drop("__sh")
  }

  /** Stream-static enrichment: each streaming row picks up its
    * dimension attributes via a broadcast hash join — Structured
    * Streaming re-plans the static side per micro-batch, so a dim
    * refresh (new snapshot under the same path/view) is picked up on
    * the next batch without restarting the query. The streaming side
    * never shuffles for the join. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Stream-stream INTERVAL join — the impressions×conversions pattern:
    * match left and right events on `key` where the right event's time
    * falls in [left.ts, left.ts + maxDelay]. Both sides carry
    * watermarks and the join condition carries the time bound, which
    * is exactly what lets Spark derive a state-eviction horizon for
    * EACH side: buffered state is bounded by watermark + maxDelay, not
    * the stream's history (an equality-only stream-stream join has no
    * such bound and would buffer both sides forever). Inner join, so
    * append-mode safe; output columns are the left columns (aliased
    * `l`) then the right's (`r`) — callers select/rename from there. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   maxDelay: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $maxDelay"))
  }

  /** Streaming twin of [[graft.ops.Curation.curate]]: the cleaning and
    * filtering stages are stateless projections/predicates that run
    * unchanged on a stream (the same [[graft.ops.Curation]] stage
    * function, same codegen), and so is the hash sample; the
    * exact-dedup stage swaps in the watermark-bounded
    * `dropDuplicatesWithinWatermark` keyed on the content fingerprint —
    * the batch window-on-fingerprint form has no streaming equivalent,
    * and unbounded dropDuplicates state would grow forever. */
  def streamingCurate(docs: DataFrame, tsCol: String, idCol: String,
                      textCol: String,
                      cfg: graft.ops.Curation.CurationConfig =
                        graft.ops.Curation.CurationConfig(),
                      watermark: String = "2 hours"): DataFrame = {
    import graft.ops.{Curation, Sampling, TextAnalysis}
    val filtered = Curation.cleanAndFilter(docs,
      Seq(col(tsCol).as("ts"), col(idCol).as("id")), textCol, cfg)(identity)
    val deduped = filtered
      .withWatermark("ts", watermark)
      .withColumn("__fp", TextAnalysis.fingerprint(col("text_clean")))
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
    if (cfg.sampleFraction >= 1.0) deduped
    else Sampling.hashSample(deduped, "id", cfg.sampleFraction)
  }

  /** Streaming PSI drift monitor — the incremental twin of
    * [[graft.ops.Drift.psi]]: per tumbling window, score the live
    * value distribution against a STATIC baseline (its equi-depth cut
    * points and smoothed bin probabilities, computed once offline from
    * the reference snapshot). All per-bin counts are columns of ONE
    * windowed aggregation (bins are static, so no chained streaming
    * agg is needed — append mode works), and the PSI assembles
    * statelessly on top; state is one count tuple per open window.
    * `baseProbs` must be strictly positive (pre-smoothed) and have
    * `cuts.size + 1` entries. Output per closed window:
    * (window_start, n, psi). */
  def windowedPsi(stream: DataFrame, tsCol: String, valueCol: String,
                  cuts: Seq[Double], baseProbs: Seq[Double],
                  windowDur: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame = {
    require(baseProbs.size == cuts.size + 1,
      s"need cuts+1 baseline probabilities, got ${baseProbs.size} for ${cuts.size} cuts")
    require(baseProbs.forall(_ > 0), "baseline probabilities must be > 0 (pre-smoothed)")
    val b = baseProbs.size
    val v = col(valueCol).cast("double")
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(v >= lit(c), 1).otherwise(0)
    }
    val aggs = (0 until b).map(i =>
      sum(when(col("__bin") === i, 1L).otherwise(0L)).as(s"c$i"))
    val counted = stream
      .withWatermark(tsCol, watermark)
      .filter(v.isNotNull)
      .withColumn("__bin", bin)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), windowDur))
      .agg(aggs.head, aggs.tail: _*)
    val n = (0 until b).map(i => col(s"c$i")).reduce(_ + _)
    val psi = (0 until b).map { i =>
      val q = (col(s"c$i").cast("double") + 0.5) / (n.cast("double") + lit(0.5 * b))
      val p = lit(baseProbs(i))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    counted.select(col("window.start").as("window_start"),
      n.as("n"), round(psi, 6).as("psi"))
  }
}
