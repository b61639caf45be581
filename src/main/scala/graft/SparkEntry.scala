package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.engine.{Detector, DetectorConfig, Histogram, Profiler}
import graft.ops.{Bucketing, Corpus, Curation, Dedup, Drift, Expectations, Frequent, Graph, IvfIndex, Layout, Multimodal, Prefix, Quantize, Sampling, Similarity, Sink, Sketch, Skew, Snapshot, Svg, Temporal, TextAnalysis}
import graft.streaming.{MicroBatchHarness, StreamingProfile}
import graft.streaming.MicroBatchHarness.{Feed, rmTree, scratchDir}

/** The query registry: every deterministic operator of the engine is
  * registered here as a (SparkSession, sfDir) => DataFrame query; its
  * DuckDB-equivalent SQL twin lives in [[Oracle.sql]] under the same
  * name.
  *
  * Cross-engine float parity strategy (SURVEY.md §4.5): all sums go
  * through exact DECIMAL(38,6) accumulation; derived statistics (mean,
  * std, skew, kurt) are computed from those exact sums with the SAME
  * scalar formula on both sides, so IEEE double evaluation is
  * bit-identical; outputs are rounded to 6 dp. Hash-based operators
  * (dedup, fingerprints) use md5 only — identical in both engines.
  */
object SparkEntry {

  /** Table loader. The events table's `ts` physical type has varied
    * across testdata generations: TIMESTAMP(NANOS) (Spark 4 reads it
    * as long under spark.sql.legacy.parquet.nanosAsLong, set in
    * Session.local — floor(ns/1000) back to micros), and un-adjusted
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ under Spark 4's default
    * inferTimestampNTZ). Normalize both to TimestampType: the session
    * timezone is pinned to UTC, so the NTZ wall-clock cast preserves
    * the same instants DuckDB sees reading the file natively. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }

  /** Flagship: full detect→profile pipeline over sf0.001 lineitem —
    * one scan for the detection ladder, one for the per-type profiles,
    * summarized one row per column. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val df = t(spark, "/root/testdata/sf0.001", "lineitem")
    val detected = Detector.detect(df, DetectorConfig(strictFormats = true))
    val profiles = Profiler.profileScalars(df, detected)
    import spark.implicits._
    detected.toSeq.sortBy(_._1).map { case (name, (st, sig)) =>
      val p = profiles.get(name).flatMap(_.numeric)
      (name, st.name, sig.n, sig.nDistinct,
        p.map(_.mean).getOrElse(Double.NaN), p.map(_.std).getOrElse(Double.NaN))
    }.toDF("column", "semantic_type", "n", "n_distinct", "mean", "std")
  }

  // ---------------------------------------------------------------
  // shared expression builders (Spark side)
  // ---------------------------------------------------------------

  private val dec = DecimalType(38, 6)

  /** value_counts(normalize=True): count + probability per value. The
    * total comes from a 1-row agg over the grouped counts joined back by
    * broadcast — NOT a partition-less window, which would funnel every
    * grouped row through one task (collapses on high-cardinality
    * columns; the q11 bounds pattern). */
  private def valueCounts(df: DataFrame, colName: String): DataFrame = {
    val counts = df.filter(col(colName).isNotNull)
      .groupBy(col(colName).cast(StringType).as("value"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(total))
      .withColumn("prob", round(col("cnt").cast("double") / col("total"), 6))
      .drop("total")
      .orderBy(desc("cnt"), asc("value"))
  }

  /** Union a table with duplicated copies of its first rows (dup
    * injection for dedup demos) — Spark side. */
  private def withDups(df: DataFrame, idCol: String, below: Long, shift: Long): DataFrame =
    df.unionByName(df.filter(col(idCol) < below)
      .withColumn(idCol, col(idCol) + shift))

  /** Shared shard prep for the streaming dedup-family harnesses
    * (q148/q152/q154): bucket docs into three time-ordered shards by
    * id range, pre-dedup each shard on `key` (min doc_id wins, so
    * which-row-survives INSIDE a micro-batch is deterministic — the
    * CROSS-shard suppression stays the streaming query's own state),
    * and collect the timestamped feed. */
  private def dedupShards(s: SparkSession, dup: DataFrame, key: Column)
      : Seq[Seq[(Long, String, Int, java.sql.Timestamp)]] = {
    import s.implicits._
    val wmin = Window.partitionBy("__b", "__k")
    val rows = dup
      .withColumn("__b", when(col("doc_id") < 200, 0)
        .when(col("doc_id") < 400, 1).otherwise(2))
      .withColumn("__k", key)
      .withColumn("__mn", min("doc_id").over(wmin))
      .filter(col("doc_id") === col("__mn"))
      .select(col("doc_id"), col("text"), col("__b"))
      .as[(Long, String, Int)].collect()
    (0 to 2).map(b => rows.toSeq.collect { case (id, tx, `b`) =>
      (id, tx, b, java.sql.Timestamp.valueOf(s"2024-01-01 00:0$b:00")) })
  }

  /** Shared calibration-row derivation (q204 batch report, q206
    * streaming twin): langid over the four stopword counts,
    * confidence = Laplace-smoothed posterior share of the winning
    * language, (win + 1)/(total + 4) — the Dirichlet(1,1,1,1)
    * posterior mean over the candidates: evidence-aware (one stopword
    * hit is a weak win, twenty are near-certain), never divides by
    * zero, and spreads across bins where the raw share degenerates to
    * 1.0 on single-language text. Returns (doc_id, conf, correct). */
  private def calibScored(s: SparkSession, d: String): DataFrame = {
    val c = col("text")
    t(s, d, "documents").select(
        col("doc_id"), col("lang").as("lang_actual"), c,
        TextAnalysis.stopwordCount(c, "en").as("sw_en"),
        TextAnalysis.stopwordCount(c, "de").as("sw_de"),
        TextAnalysis.stopwordCount(c, "es").as("sw_es"),
        TextAnalysis.stopwordCount(c, "fr").as("sw_fr"))
      .withColumn("lang_pred", TextAnalysis.langIdFromCounts(c,
        col("sw_en"), col("sw_de"), col("sw_es"), col("sw_fr")))
      .filter(col("lang_pred").isin("en", "de", "es", "fr"))
      .select(col("doc_id"),
        ((greatest(col("sw_en"), col("sw_de"), col("sw_es"), col("sw_fr"))
          + lit(1)).cast("double") /
          (col("sw_en") + col("sw_de") + col("sw_es") + col("sw_fr")
            + lit(4)).cast("double")).as("conf"),
        (col("lang_pred") === col("lang_actual")).cast("int").as("correct"))
  }

  /** Fixture of the curation rows (q52, q154): markup and a URL
    * wrapped around every 4th text, an email and a phone number
    * appended to every 3rd, so each cleaning stage has work to do. */
  private def injectMarkupPii(docs: DataFrame): DataFrame =
    docs
      .withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(lit("<html><p class=\"x\">"), col("text"),
            lit("</p> see https://example.com/a?b=1 now</html>")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" contact alice.smith@example.org or +1 (415) 555-0100")))
          .otherwise(col("text")))

  /** The exactly rank-2 6-D embedding of the PCA rows (q114, q196):
    * (id, emb) for customers 1..50, with emb = a·u + b·v in the
    * orthonormal basis u = 1/√6·(1,…,1), v = 1/√6·(1,−1,…). */
  private def rank2Embedding(s: SparkSession, d: String): DataFrame = {
    val su = 1.0 / math.sqrt(6.0)
    val base = t(s, d, "customer").filter(col("c_custkey") <= 50)
      .select(col("c_custkey").as("id"),
        (col("c_acctbal").cast("double") / 1000.0).as("a"),
        (col("c_custkey").cast("double") / 10.0).as("b"))
    val vec = array((0 until 6).map { j =>
      col("a") * lit(su) + col("b") * lit(if (j % 2 == 0) su else -su)
    }: _*)
    base.select(col("id"), vec.as("emb"))
  }

  /** Audio-codec round-trip shared by q106 (WAV) and q119 (FLAC): the
    * md5 of each text picks (channels, rate, durMs), `encode` writes
    * them into a real container and the byte-level reader parses it
    * back. Rates are multiples of 8 kHz, so the encoded byte and
    * sample counts are exact and the duration round-trips to the
    * millisecond. */
  private def audioRoundTrip(s: SparkSession, d: String,
                             encode: (Int, Int, Long) => Array[Byte]): DataFrame = {
    val docs = t(s, d, "documents").filter(col("text").isNotNull)
    val fix = udf { (text: String) =>
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      def u(i: Int) = dg(i) & 0xff
      val rate = Array(8000, 16000, 32000, 48000)(u(0) % 4)
      val channels = 1 + (u(1) % 2)
      val durMs = 500L + (u(2) * 256L + u(3)) % 60000L
      encode(channels, rate, durMs)
    }
    val withP = docs.select(col("doc_id"), fix(col("text")).as("payload"))
    Multimodal.decode(withP, "payload")
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        col("decoded.channels").as("channels"),
        col("decoded.sample_rate").as("sample_rate"),
        col("decoded.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** The three simulated raters of the Krippendorff rows (q222, q228,
    * q229) over the embeddings labels: rater 0 rates every unit, rater
    * 1 skips vec_id % 4 == 0 and shifts vec_id % 7 == 0 by one, rater
    * 2 skips vec_id % 3 == 1 and shifts vec_id % 11 == 0 by `shift2`,
    * so units carry 1..3 ratings. `rating` maps a (shifted) label to
    * the rated value; returns (unit, v). */
  private def threeRaters(s: SparkSession, d: String, shift2: Int)
      (rating: Column => Column): DataFrame = {
    val e = t(s, d, "embeddings")
      .filter(col("label").isNotNull && col("vec_id").isNotNull)
    def rater(rows: DataFrame, label: Column): DataFrame =
      rows.select(col("vec_id").as("unit"), rating(label).as("v"))
    def shifted(m: Int, by: Int): Column =
      col("label") + when(col("vec_id") % m === 0, by).otherwise(0)
    rater(e, col("label"))
      .union(rater(e.filter(col("vec_id") % 4 =!= 0), shifted(7, 1)))
      .union(rater(e.filter(col("vec_id") % 3 =!= 1), shifted(11, shift2)))
  }

  /** Scaffold of the persisted-IVF lifecycle queries (q230-q235): the
    * index lives in a tmpfs scratch dir (the streaming-checkpoint
    * discipline); `run` gets the embeddings table and the index path,
    * and its (tiny) result is materialized eagerly so the rmTree in
    * finally leaves no graft_ivf* residue. */
  private def ivfLifecycle(s: SparkSession, d: String, prefix: String)
      (run: (DataFrame, String) => DataFrame): DataFrame = {
    val e = t(s, d, "embeddings")
    val scratch = scratchDir(prefix)
    try run(e, s"$scratch/idx").localCheckpoint(true)
    finally rmTree(scratch)
  }

  /** First id of the corpus's high half: (max(vec_id) + 1) div 2. */
  private def ivfCut(corpus: DataFrame): Long =
    corpus.agg(expr("(max(vec_id) + 1) DIV 2")).collect()(0).getLong(0)

  /** Builds a 16-cell index on the low-id half of the corpus (the
    * non-query rows, vec_id >= 5) and admits the high half by
    * assignment-only append; returns the cut. */
  private def ivfBuildAppend(s: SparkSession, e: DataFrame, path: String): Long = {
    val corpus = e.filter(col("vec_id") >= 5)
    val cut = ivfCut(corpus)
    IvfIndex.build(corpus.filter(col("vec_id") < cut),
      "vec_id", "embedding", path, nCells = 16)
    IvfIndex.append(s, path, corpus.filter(col("vec_id") >= cut),
      "vec_id", "embedding")
    cut
  }

  /** Cosine top-10 of the five query vectors (vec_id < 5) over the
    * index at `path`, 4 probed cells. */
  private def ivfSearchTop10(s: SparkSession, e: DataFrame, path: String): DataFrame =
    IvfIndex.search(s, path, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nprobe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")

  // ---------------------------------------------------------------
  // fixture parameters shared with the oracle (graft.Oracle reads them)
  // ---------------------------------------------------------------

  // q34 parameters (the md5 embedding component both engines share
  // lives in graft.text.Md5Embedder: first 7 hex digits of
  // md5("token#j") → 28-bit int → uniform [-1, 1)); Q35VocabCap is
  // deliberately below the test corpus's ~30 distinct tokens so the
  // capped-vocab path and the in-vocab filter are genuinely exercised
  private[graft] val Q34MaxTokens = 4
  private[graft] val Q34Dim = 4
  private[graft] val Q35VocabCap = 16

  // q150 parameters: a fixed "trained" MVN text profile — mean vector
  // and lower-triangular Cholesky factor L (positive diagonal in
  // (0.25, 0.75), off-diagonals in (-0.3, 0.3)) — derived from the
  // deterministic FNV hash, so the Spark query and the SQL-build-time
  // oracle inline bit-identical double literals. The PROFILED
  // (mean, L) of the production path can't feed an oracle (a Cholesky
  // factorization is not SQL-expressible); the sampler algebra is
  // what this row pins.
  private[graft] val Q150N = 200L
  private[graft] val Q159N = 500L
  private[graft] val Q161Vocab = 20
  private[graft] val Q161Bucket = 8

  /** 28-bit md5 hash (Md5Embedder's layout — `Oracle.hash31Sql` twin). */
  private def q161Hash(s: String): Int = {
    val d = graft.Digests.md5(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xff) << 20) | ((d(1) & 0xff) << 12) |
      ((d(2) & 0xff) << 4) | ((d(3) & 0xff) >>> 4)
  }

  /** Fixture weight (r, j) of matrix `tag`: low 8 hash bits scaled to
    * [-0.5, 0.496] — dyadic /256, exact in float32, so the value
    * survives the .bin round-trip bit-for-bit and per-dim feature sums
    * stay EXACT (order-independent) on both engines. */
  private[graft] def q161Weight(tag: String, r: Int, j: Int): Float =
    (((q161Hash(s"$tag#$r#$j") % 256) / 256.0) - 0.5).toFloat
  private[graft] def q150Mean(j: Int): Double =
    graft.text.HashEmbeddings.component("q150mean", j, 150L)
  private[graft] def q150L(j: Int, k: Int): Double =
    if (k > j) 0.0
    else if (k == j)
      0.5 + 0.25 * graft.text.HashEmbeddings.component("q150diag", j, 150L)
    else 0.3 * graft.text.HashEmbeddings.component(s"q150L#$j", k, 150L)

  // q37 parameters: small enough that the inlined-literal oracle SQL
  // stays readable, large enough that buckets genuinely split the corpus
  private[graft] val Q37Bits = 8
  private[graft] val Q37Tables = 2
  private[graft] val Q37Seed = 42L
  private[graft] val Q37Dim = 64 // embeddings.parquet element count (TESTDATA.md)

  private[graft] val Q38K = 8
  private[graft] val Q38Iters = 2
  // q142 IVF-PQ coarse index: few enough cells that the oracle's
  // centroid CTE stays readable, probes < cells so pruning is real
  private[graft] val IvfCells = 8
  private[graft] val IvfProbe = 2

  private[graft] val Q202Terms = Seq("spark", "vector", "window")
  private[graft] val Q203Phrases =
    Seq(Seq("table", "table"), Seq("value", "table", "part"),
      Seq("fast", "spark"))

  // ---------------------------------------------------------------
  // the queries
  // ---------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- snapshot diff: two deterministic derivations of orders stand
    // in for version N / N+1; the delta classifies each key ---
    "q74_snapshot_diff" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val old = orders.filter(col("o_orderkey") % 97 =!= 0)
      val neu = orders.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      Snapshot.diff(old, neu, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // --- robust outlier summary (median/MAD, two sort-kernel passes) ---
    "q75_mad_outliers" -> ((s, d) =>
      Profiler.madProfile(t(s, d, "orders"), "o_totalprice", k = 3.0)),

    // --- domain-mixture sampling rates (uniform target over sources) ---
    "q76_mixture_weights" -> ((s, d) =>
      Corpus.mixtureWeights(t(s, d, "documents"), "source", "n_chars")
        .orderBy("domain")),

    // --- multi-level rollup totals (region → nation → grand total) in
    // ONE scan: ROLLUP plans a single Expand over the joined fact, so
    // the three aggregation levels share one shuffle instead of three
    // scans. Expressed via spark.sql: the DataFrame rollup API trips
    // Spark 4's ambiguous-self-join detector whenever the grouping
    // columns flow through a join (the Expand re-projects each
    // grouping attribute once per grouping set); the SQL path carries
    // no per-Dataset id tags and plans identically. ---
    "q77_rollup_revenue" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("q77_orders")
      t(s, d, "customer").createOrReplaceTempView("q77_customer")
      t(s, d, "nation").createOrReplaceTempView("q77_nation")
      t(s, d, "region").createOrReplaceTempView("q77_region")
      s.sql(
        """SELECT r_name, n_name, count(1) AS n_orders,
          |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
          |FROM q77_orders
          |  JOIN q77_customer ON o_custkey = c_custkey
          |  JOIN q77_nation ON c_nationkey = n_nationkey
          |  JOIN q77_region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)
          |ORDER BY r_name, n_name""".stripMargin)
    }),

    // --- cross-tab pivot: events per type per day-of-week, one shuffle
    // (explicit pivot values — no extra distinct-collect pass) ---
    "q78_pivot_events" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("dow", dayofweek(col("ts")).cast(LongType))
        .groupBy("dow")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("dow")),

    // --- first-order event-type transition matrix (keyed window —
    // parallel across users, never a global sort) ---
    "q79_transitions" -> ((s, d) =>
      Temporal.transitionMatrix(t(s, d, "events"), "user_id", "event_type",
        "ts", "event_id")
        .orderBy("from_type", "to_type")),

    // --- gap-filled hourly resample (complete calendar spine) ---
    "q80_resample_hourly" -> ((s, d) =>
      Temporal.resample(t(s, d, "events"), "ts", "value", unit = "hour")
        .orderBy("bucket")),

    // --- cumulative-adoption curve (windowless running distinct-user
    // total via the two-pass prefix sum) ---
    "q81_cumulative_users" -> ((s, d) =>
      Temporal.cumulativeFirstSeen(t(s, d, "events"), "user_id", "ts",
        unit = "day")
        .withColumnRenamed("cum_keys", "cum_users")
        .orderBy("bucket")),

    // --- audience overlap: Jaccard of item audiences over the same
    // bounded presence/pair shapes as the co-occurrence matrix ---
    "q107_audience_overlap" -> ((s, d) =>
      Frequent.audienceOverlap(t(s, d, "events"), "user_id", "event_type")
        .orderBy("item_a", "item_b")),

    // --- real audio-codec check, oracle-replayable like q31: md5-text
    // metadata serialized into ACTUAL RIFF/WAVE headers, parsed back by
    // the real byte-level reader; the oracle computes the same
    // channels/rate/duration arithmetic without seeing the bytes.
    // Rates are multiples of 8 kHz so byteRate·durMs/1000 is exact and
    // the declared duration round-trips to the millisecond ---
    "q106_multimodal_audio" -> ((s, d) =>
      audioRoundTrip(s, d, (channels, rate, durMs) =>
        Multimodal.wavFixture(channels, rate, rate.toLong * channels * 2 * durMs / 1000L))),

    // --- real video-codec check, the MP4 twin of q106: md5-derived
    // metadata serialized into ACTUAL ISO-BMFF boxes (ftyp + moov with
    // mvhd/tkhd), parsed back by the real box-walk reader; timescale
    // 1000 makes the declared duration round-trip exactly ---
    "q108_multimodal_video" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val fix = udf { (text: String) =>
        val dg = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        def u(i: Int) = dg(i) & 0xff
        val w = 160 + (u(0) * 256 + u(1)) % 3681          // 160..3840
        val h = 90 + (u(2) * 256 + u(3)) % 2071           // 90..2160
        val durMs = 1000L + (u(4).toLong * 65536 + u(5) * 256 + u(6)) % 600000L
        Multimodal.mp4Fixture(w, h, durMs)
      }
      val withP = docs.select(col("doc_id"), fix(col("text")).as("payload"))
      Multimodal.decode(withP, "payload")
        .select(col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"),
          col("decoded.duration_ms").as("duration_ms"))
        .orderBy("doc_id")
    }),

    // --- content-real image embedding check: md5-seeded pixel rasters
    // serialized into ACTUAL PNGs (deflate + scanline filters), decoded
    // back pixel-exactly by the real inflater path, and reduced to a
    // 16-bucket luminance histogram; the oracle re-derives the pixel
    // stream from (w, h, seeds) without ever seeing the payload ---
    "q109_image_histogram" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val fix = udf { (text: String) =>
        val dg = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        def u(i: Int) = dg(i) & 0xff
        val w = 8 + u(0) % 16
        val h = 8 + u(1) % 16
        // encoder filter varies by digest too: the decoded histogram
        // must be invariant to how the bytes were filtered
        Multimodal.pngPixelFixture(w, h, u(2), 1 + u(3) % 255, filterType = u(4) % 3)
      }
      val withP = docs.select(col("doc_id"), fix(col("text")).as("payload"))
      withP.select(col("doc_id"),
          posexplode(Multimodal.embedImage(col("payload"), 16)))
        .select(col("doc_id"), col("pos").cast("int").as("bucket"),
          round(col("col"), 6).as("frac"))
        .orderBy("doc_id", "bucket")
    }),

    // --- Bloom decontamination, oracle-graduated: with a 20x-oversized
    // filter at fpp 1e-9 the false-positive over-removal on this corpus
    // is deterministically zero (verified at both scales), so the
    // survivor set must EQUAL the exact anti-join's (the
    // no-false-negative half of the contract is what the filter
    // guarantees by construction) ---
    "q110_decontaminate_bloom" -> ((s, d) => {
      val train = t(s, d, "documents")
      val test = train.filter(col("doc_id") % 10 === 0).select(col("text"))
      Dedup.decontaminateBloom(train, test, "text",
          expectedItems = math.max(100L, 20L * test.count()), fpp = 1e-9)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // --- bucketed join, oracle-graduated: both sides written bucketed
    // on the join key (16 buckets) so the join plans with no Exchange
    // (asserted in BucketingSpec); the oracle's plain join proves
    // result parity — bucketing is a layout choice, not a semantics
    // change ---
    "q111_bucketed_join" -> ((s, d) => {
      val orders = t(s, d, "orders").select(col("o_custkey"), col("o_totalprice"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Bucketing.writeBucketed(orders, "graft_q111_orders", "o_custkey", 16)
      Bucketing.writeBucketed(cust, "graft_q111_cust", "o_custkey", 16)
      Bucketing.bucketedJoin(s, "graft_q111_orders", "graft_q111_cust", "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast(dec)).cast("double"), 6).as("total"))
        .orderBy("c_mktsegment")
    }),

    // --- hyperplane-LSH bucket populations, oracle-graduated: the
    // oracle receives the md5/FNV-seeded hyperplane components as SQL
    // literals (computed at SQL-build time from the same public
    // formula) and replays the sign-bit string with left-associated
    // double arithmetic — bit strings and their populations must match
    // exactly ---
    "q112_hyperplane_buckets" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      val bucket = Similarity.hyperplaneBucket(s, dim = 64, nBits = 6, seed = 42L)
      e.select(bucket(transform(col("embedding"), _.cast("double"))).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // --- batch twin of the streaming interval join (same code path:
    // StreamingProfile.intervalJoin on batch frames — watermarks are
    // no-ops in batch, the join condition is identical), so the one
    // streaming op without an oracle-checked twin now has one ---
    "q113_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("pts"))
      graft.streaming.StreamingProfile.intervalJoin(l, r, "user_id", "ts", "pts",
          maxDelay = "1 hour")
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id", "purchase_id")
    }),

    // --- PCA, oracle-graduated via an eigenbasis-invariant check: the
    // input is an EXACTLY rank-2 6-D embedding built from two customer
    // columns in a rotated orthonormal basis (u = 1/√6·(1,…,1),
    // v = 1/√6·(1,−1,…)); the top-2 PCA projection of such data is an
    // isometry on row differences, so every pairwise projected distance
    // must equal sqrt(Δa² + Δb²) — which the oracle computes from the
    // coefficients without eigendecomposing anything. Rounded to 4 dp
    // (the eigensolver's ~1e-12 noise is far below that) ---
    "q114_pca_isometry" -> ((s, d) => {
      val projected = graft.ops.Projection.pca(
        rank2Embedding(s, d), "id", "emb", k = 2)
      projected.as("l").join(projected.as("r"), col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          round(sqrt(
            pow(element_at(col("l.pc"), 1) - element_at(col("r.pc"), 1), 2) +
            pow(element_at(col("l.pc"), 2) - element_at(col("r.pc"), 2), 2)), 4)
            .as("dist"))
        .orderBy("id_a", "id_b")
    }),

    // --- BM25 retrieval scores over the shared tokenizer: the corpus
    // vocabulary dies at the scan (map-side term filter); per-doc
    // totals summed in fixed term order for cross-engine determinism ---
    "q115_bm25_scores" -> ((s, d) =>
      Corpus.bm25(t(s, d, "documents"), "doc_id", "text",
          Seq("spark", "shuffle", "hash", "merge", "window"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- hard-negative mining: top-k nearest neighbors with a
    // DIFFERENT language label, the contrastive-training pair miner;
    // label filter applied at the scan, per-partition heap top-k ---
    "q116_hard_negatives" -> ((s, d) => {
      val lang = t(s, d, "documents").select(col("doc_id").as("vec_id"), col("lang"))
      val e = t(s, d, "embeddings").join(lang, "vec_id")
      Similarity.hardNegatives(
          e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", "lang", "vec_id", "embedding", "lang", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // --- token-budget selection per source: greedy fill of each
    // source's budget in the content-permuted order; per-source
    // cumulative sums from the shared prefix pass, no per-source
    // window; output size is budget-bounded, scale-invariant ---
    "q117_token_budget" -> ((s, d) =>
      Corpus.tokenBudgetSample(t(s, d, "documents"), "doc_id", "text",
          "source", budgetPerSource = 2000L)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- FLAC twin of q106: md5-derived metadata serialized into real
    // STREAMINFO headers, parsed back by the byte-level reader; rates
    // are multiples of 8 kHz so samples = rate·durMs/1000 is exact and
    // the duration round-trips to the millisecond ---
    "q119_multimodal_flac" -> ((s, d) =>
      audioRoundTrip(s, d, (channels, rate, durMs) =>
        Multimodal.flacFixture(channels, rate, rate.toLong * durMs / 1000L))),

    // --- URL decomposition round-trip: md5-derived URLs assembled by
    // concat, decomposed by Spark's REAL parse_url grammar; the oracle
    // re-assembles the expected components from the same hex digits
    // without ever parsing — a genuine parser check ---
    "q121_url_parse" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val h = md5(col("text").cast("binary"))
      val tld = element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
        (conv(substring(h, 13, 1), 16, 10).cast("int") % 4) + 1)
      val deep = conv(substring(h, 14, 1), 16, 10).cast("int") % 2 === 0
      val path = when(deep,
          concat(lit("/p"), substring(h, 7, 2), lit("/q"), substring(h, 9, 2)))
        .otherwise(concat(lit("/p"), substring(h, 7, 2)))
      val url = concat(lit("https://h"), substring(h, 1, 6), lit("."), tld,
        path, lit("?x="), substring(h, 11, 2))
      docs.select(col("doc_id"), TextAnalysis.urlParts(url).as("u"))
        .select(col("doc_id"), col("u.host").as("host"), col("u.tld").as("tld"),
          col("u.path").as("path"), col("u.depth").as("depth"),
          col("u.query").as("query"))
        .orderBy("doc_id")
    }),

    // --- time travel: per-key state AS OF a timestamp from the event
    // changelog — one max_by aggregation, |keys|-row shuffle however
    // deep the history (never a per-key window over all changes) ---
    "q122_asof_snapshot" -> ((s, d) =>
      Snapshot.asOf(t(s, d, "events"), "user_id", "ts", "event_id",
          Seq("event_type", "value"), lit("2024-01-15 00:00:00").cast("timestamp"))
        .orderBy("user_id")),

    // --- streaming incremental admission under a REAL micro-batch
    // trigger: three daily shards fed through a MemoryStream into
    // StreamingProfile.streamingAdmit (band anti-joins vs the persisted
    // prior sketch table + watermark-bounded intra-stream sketch dedup),
    // each shard one micro-batch, admitted rows landed by a
    // foreachBatch parquet sink and read back. Shards are pre-deduped
    // on exact sketch (min doc_id wins) so which-row-survives inside a
    // micro-batch is deterministic — cross-shard suppression is the
    // streaming query's own state, exercised end-to-end. The MemoryStream
    // feed is a test-harness source (driver-side by design); the
    // admission operator itself is the same distributed plan the batch
    // twin (q120) runs. ---
    "q123_streaming_admit" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      // Persist the prior sketches to parquet and stream against the
      // FILE table — the production shape ("persisted sketch table"),
      // and necessary for performance: Structured Streaming re-plans
      // the static join side every micro-batch, so an unmaterialized
      // sketch expression would recompute the digest of the whole
      // prior corpus once per band per batch (bands × batches times).
      // tmpfs scratch (same backing as the harness checkpoints): the
      // static join side is re-read once per band per micro-batch.
      // Deleted after the harness returns — the result is driver-
      // buffered by then, and leaked tmpfs pages would shrink the
      // memory the benchmarks measure.
      val priorRoot = scratchDir("graft-prior-sketch")
      val priorDir = priorRoot.toString + "/sketches"
      try {
      Dedup.sketchTable(docs.filter(col("doc_id") < 400), "doc_id", "text")
        .write.mode("overwrite").parquet(priorDir)
      val prior = s.read.parquet(priorDir)
      // One pass prepares all three shards: shard id from the doc_id
      // range, per-(shard, sketch) exact dedup (min doc_id wins) so
      // which-row-survives inside a micro-batch is deterministic, one
      // collect feeding the test-harness source.
      val wmin = Window.partitionBy("__b", "__h")
      val shardRows = docs.filter(col("doc_id") >= 400)
        .withColumn("__b", when(col("doc_id") < 600, 0)
          .when(col("doc_id") < 800, 1).otherwise(2))
        .withColumn("__h", Dedup.sketchWord(col("text"), 64))
        .withColumn("__mn", min("doc_id").over(wmin))
        .filter(col("doc_id") === col("__mn"))
        .select(col("doc_id"), col("text"), col("__b"))
        .as[(Long, String, Int)].collect()
      val shards: Seq[Seq[(Long, String, Int, java.sql.Timestamp)]] =
        (0 to 2).map(b => shardRows.toSeq.collect { case (id, tx, `b`) =>
          (id, tx, b, java.sql.Timestamp.valueOf(s"2024-01-01 00:0$b:00")) })
      MicroBatchHarness.run(s, Seq(Feed(Seq("doc_id", "text", "batch", "ts"), shards)),
        "graft-stream-admit", Seq("doc_id", "batch")) { case Seq(stream) =>
        StreamingProfile.streamingAdmit(stream, "ts", "text", prior)
      }.orderBy("doc_id")
      } finally rmTree(priorRoot) // covers the sketch write too
    }),

    // --- streaming drift monitor under a REAL micro-batch trigger:
    // baseline deciles + smoothed bin probabilities computed offline
    // from the pre-split events (the reference snapshot), then the
    // live weeks fed through a MemoryStream into
    // StreamingProfile.windowedPsi (per-day tumbling windows, append
    // mode), landed by a foreachBatch parquet sink and read back. A
    // sentinel event past the horizon advances the watermark so every
    // real window closes; the sentinel's own window stays open and is
    // never emitted. The MemoryStream feed is a test-harness source
    // (driver-side by design); the windowed aggregation is the same
    // distributed plan a Kafka source would run. ---
    "q133_streaming_psi" -> ((s, d) => {
      import s.implicits._
      val bins = 10
      val ev = t(s, d, "events").filter(col("value").isNotNull)
      val split = lit("2024-01-08 00:00:00").cast("timestamp")
      val base = ev.filter(col("ts") < split)
        .select(col("value").cast("double").as("v"))
      val nBase = base.count()
      val cuts = graft.engine.Quantiles.exactMulti(base, Seq("v" -> col("v")),
        (1 until bins).map(_.toDouble / bins))("v")
      val binE = cuts.foldLeft(lit(0)) { (acc, c) =>
        acc + when(col("v") >= lit(c), 1).otherwise(0) }
      val baseCounts = base.groupBy(binE.as("bin"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val probs = (0 until bins).map(i =>
        (baseCounts.getOrElse(i, 0L) + 0.5) / (nBase + 0.5 * bins))
      val live = ev.filter(col("ts") >= split)
        .withColumn("__b",
          when(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"), 0)
          .when(col("ts") < lit("2024-01-22 00:00:00").cast("timestamp"), 1)
          .otherwise(2))
        .select(col("event_id"), col("ts"),
          col("value").cast("double").as("value"), col("__b"))
        .as[(Long, java.sql.Timestamp, Double, Int)].collect()
      // the sentinel rides IN the last data batch (not a 4th batch):
      // the watermark updates after the batch either way, and the
      // automatic no-data batch then closes every real window — same
      // append-mode emission set, two fewer triggers (~0.5 s of
      // per-trigger machinery, R12-STREAMIO)
      val batches: Seq[Seq[(Long, java.sql.Timestamp, Double, Int)]] =
        (0 to 2).map { b =>
          val rows = live.toSeq.filter(_._4 == b)
          if (b == 2) rows :+
            ((-1L, java.sql.Timestamp.valueOf("2024-02-05 00:00:00"), 0.0, 3))
          else rows
        }
      MicroBatchHarness.run(s, Seq(Feed(Seq("event_id", "ts", "value", "batch"), batches)),
        "graft-stream-psi", Seq("window_start", "n", "psi")) { case Seq(stream) =>
        StreamingProfile.windowedPsi(stream, "ts", "value", cuts, probs,
          windowDur = "24 hours", watermark = "24 hours")
      }.select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("n"), col("psi"))
        .orderBy("window_start")
    }),

    // --- small-files maintenance end-to-end: 12 shard appends leave a
    // fragmented parquet directory (≥12 part files), compactParquet
    // rewrites it to the size-derived file count, and the query returns
    // aggregates over the COMPACTED directory — content parity with the
    // source table is the oracle check, and the file-count contract
    // (before > after == returned partition count) is enforced by a
    // require() that reds the row if compaction ever stops working. ---
    "q124_compact_sink" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull)
        .select("doc_id", "source", "n_chars")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-compact").toString + "/docs"
      // fixture: the small-file debris of 12 appends x 4 part files.
      // r17: materialized in ONE write job (48-way round-robin = the
      // same 48-small-file directory state) instead of 12 sequential
      // jobs — the operator under test is compactParquet, whose input
      // (file count, total bytes, rows) and output (files_after, the
      // aggregated rows) are identical either way; the 12-job loop
      // charged ~1.3 s of pure job-scheduling overhead to a query
      // that measures compaction.
      docs.repartition(48).write.mode("append").parquet(dir)
      val hPath = new org.apache.hadoop.fs.Path(dir)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      def partFiles(): Int = fs.listStatus(hPath)
        .count(_.getPath.getName.startsWith("part-"))
      val before = partFiles()
      val parts = Sink.compactParquet(s, dir, targetMB = 256)
      val after = partFiles()
      require(before >= 12 && after == parts && after < before,
        s"compaction contract violated: before=$before after=$after parts=$parts")
      s.read.parquet(dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("files_after", lit(after))
        .orderBy("source")
    }),

    // --- full-width text profile probe: the reference's production
    // shape (fasttext D=100 × maxTokens=32 → 3200-dim mean/cov — 10.2M
    // covariance cells) through the lazy-alloc treeAggregate and the
    // driver Cholesky. No SQL oracle (a 3200-dim covariance replay is
    // not sanely SQL-expressible — rows-only per the driver contract,
    // like the samplers); correctness at this width is pinned by the
    // brute-force-parity spec in TextPipelineSpec, and this entry puts
    // the width's runtime in BENCH_LOG every round. ---
    "q125_text_profile_wide" -> ((s, d) => {
      import graft.text.{Md5Embedder, TextProfiler}
      val stats = TextProfiler.profile(t(s, d, "documents"), "text",
        Md5Embedder(100), maxTokens = 32, rawSampleCap = 1).get
      import s.implicits._
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (0 until 8).map(i => (i, r6(stats.mean(i)), r6(stats.std(i)),
          r6(stats.covTrace), stats.chol.isDefined, stats.count))
        .toDF("dim_idx", "mean", "std", "cov_trace", "chol_ok", "n_docs")
    }),

    // --- symmetric int8 embedding quantization: the 4x storage cut in
    // front of the ANN kernels. Pure projection (array HOFs, zero
    // shuffle); the oracle replays scale/clamp/residual with the same
    // double-precision operation order. qvec is serialized to a
    // comma-joined string (both engines render TINYINT identically) so
    // the comparison harness can sort/hash the column — array-typed
    // result columns are unhashable on the oracle side ---
    "q126_quantize_int8" -> ((s, d) =>
      Quantize.int8Symmetric(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          concat_ws(",", transform(col("qvec"), _.cast("string"))).as("qvec"),
          col("n_clipped"), col("err_l2"))
        .orderBy("vec_id")),

    // --- token-distribution JS divergence per source vs the corpus:
    // which slice reads least like the blend it feeds ---
    "q127_token_js_divergence" -> ((s, d) =>
      Drift.tokenJsDivergence(t(s, d, "documents"), "source", "text")
        .orderBy("source")),

    // --- ANN directly on the quantized column: integer dot products,
    // scales cancel from the cosine — exact arithmetic end to end ---
    "q128_ann_int8" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Quantize.int8TopK(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // --- leakage-free splits: near-dup clusters (q48's fixture) never
    // straddle train/val/test — the split key is the CC representative ---
    "q129_leakage_free_split" -> ((s, d) => {
      val base = t(s, d, "documents")
      val dup = base.unionByName(base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", concat(col("text"), lit(" nearmarker"))))
      Sampling.assignSplitsLeakageFree(dup, "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")
    }),

    // --- product quantization: all m per-subspace Lloyd trainings
    // share the same jobs (subspace = grouping key); each vector
    // becomes m codes — the stored index, raw vectors droppable ---
    "q130_pq_codes" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cb = Quantize.pqTrain(e, "vec_id", "embedding",
        dim = 64, m = 4, k = 8, iterations = 2)
      Quantize.pqEncode(e, "vec_id", "embedding", cb, dim = 64, m = 4)
        .select(col("id").as("vec_id"), col("subspace"), col("code"))
        .orderBy("vec_id", "subspace")
    }),

    // --- PQ-ADC ANN: per-query distance tables (m·k entries,
    // broadcast) summed over each corpus vector's codes — the scoring
    // join never touches a raw corpus vector ---
    "q131_pq_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Quantize.pqTopKAdc(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding",
        dim = 64, m = 4, k = 8, iterations = 2, topK = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adist"), 6).as("adist"))
        .orderBy("query_id", "rank")
    }),

    // --- k-anonymity: re-identification risk over quasi-identifier
    // tuples — the governance gate before a dataset (or its synthetic
    // twin) is released ---
    "q138_k_anonymity" -> ((s, d) =>
      Expectations.kAnonymity(t(s, d, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10)),

    // --- l-diversity: q138's companion release gate — every QI group
    // must also carry >= l distinct sensitive values (homogeneity
    // attack), with the entropy form exp(H) catching skewed groups a
    // distinct count overstates; sensitive attr = account-balance band ---
    "q143_l_diversity" -> ((s, d) =>
      Expectations.lDiversity(
        t(s, d, "customer").withColumn("bal_band",
          floor(col("c_acctbal") / 2000).cast("int")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 3)),

    // --- content-real audio embedding (the audio twin of q109):
    // md5-seeded 16-bit PCM bodies inside REAL RIFF/WAVE containers,
    // fully decoded back sample-by-sample and reduced to a 16-bucket
    // amplitude histogram — the oracle re-derives every sample
    // arithmetically from the seeds without seeing a payload byte ---
    "q144_audio_histogram" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val fix = udf { (text: String) =>
        val dg = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        def u(i: Int) = dg(i) & 0xff
        val channels = 1 + (u(0) % 2)
        val rate = Array(8000, 16000, 32000, 48000)(u(1) % 4)
        val n = 64 + (u(2) * 256 + u(3)) % 960
        Multimodal.wavPcmFixture(channels, rate, n,
          u(4) * 256 + u(5), 1 + u(6) % 255)
      }
      // n recomputed expression-side (same md5 digits as the fixture)
      // so the published fraction rounds through INTEGER arithmetic:
      // the count c is recovered exactly from frac·n, and
      // round-half-up(c/n, 6) = (2·c·10⁶ + n) div (2n), an identical
      // integer on both engines — a plain double round(c/n, 6) splits
      // ties like 41/640 = 0.0640625 differently across engines
      // (caught by the r13 sf1 verify: 43 rows off at the 7th digit;
      // sf0.01/sf0.1 never landed on a tie). Non-tie values are
      // unchanged, so the sf0.01 oracle row is identical.
      val nSamp = (lit(64) +
        conv(substring(md5(col("text")), 5, 4), 16, 10).cast("long") % 960)
        .cast("int")
      val withP = docs.select(col("doc_id"), fix(col("text")).as("payload"),
        nSamp.as("__n"))
      withP.select(col("doc_id"), col("__n"),
          posexplode(Multimodal.embedAudio(col("payload"), 16)))
        .withColumn("__c", round(col("col") * col("__n"), 0).cast("long"))
        .select(col("doc_id"), col("pos").cast("int").as("bucket"),
          (expr("(__c * 2000000 + __n) div (2 * __n)").cast("double") / 1e6)
            .as("frac"))
        .orderBy("doc_id", "bucket")
    }),

    // --- content-real VIDEO embedding (closes the multimodal family:
    // q109 image / q144 audio / this): md5-seeded monochrome frame
    // rasters serialized into REAL YUV4MPEG2 streams (the standard
    // uncompressed video container), every frame's luma plane decoded
    // back pixel-exactly and reduced to a 16-bucket luminance
    // histogram. The frame RATE varies by digest while the pixels
    // don't depend on it — the embedding must be container-invariant,
    // and the oracle re-derives all pixels arithmetically from the
    // seeds without seeing a payload byte. Compressed codecs (MP4)
    // still fall back to the md5 embedding by contract. ---
    "q146_video_histogram" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val fix = udf { (text: String) =>
        val dg = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        def u(i: Int) = dg(i) & 0xff
        val w = 8 + u(0) % 8
        val h = 8 + u(1) % 8
        val nf = 2 + u(2) % 4
        Multimodal.y4mFixture(w, h, nf,
          u(3) * 256 + u(4), 1 + u(5) % 255, fpsNum = 25 + (u(6) % 2) * 5)
      }
      val withP = docs.select(col("doc_id"), fix(col("text")).as("payload"))
      withP.select(col("doc_id"),
          posexplode(Multimodal.embedVideo(col("payload"), 16)))
        .select(col("doc_id"), col("pos").cast("int").as("bucket"),
          round(col("col"), 6).as("frac"))
        .orderBy("doc_id", "bucket")
    }),

    // --- the PRODUCTION route of the int8 ANN gate under the oracle:
    // maxExactRows forced below the corpus size, so int8TopKAuto routes
    // to IVF over the quantized components — seeded centroids (16
    // lowest-id quantized corpus vectors), cosine cell assignment,
    // nprobe=4 probed cells per query. q128 oracles the exact kernel;
    // this row proves the scale route's full algebra (quantize →
    // centroid seed → assign → probe → rank) against a SQL replay —
    // the quadratic kernel never runs here. ---
    "q147_ann_int8_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Quantize.int8TopKAuto(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding", k = 10,
        maxExactRows = 100L, nCentroids = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // --- streaming NEAR-dup suppression under a REAL micro-batch
    // trigger (q123's harness shape, minus the prior-corpus stage):
    // near-dup copies of early documents are injected with shifted ids,
    // the corpus is fed in three time-ordered shards, and sketch-equal
    // rows arriving after their first occurrence are dropped by the
    // watermark-bounded streaming state. Shards are pre-deduped on the
    // 64-bit SimHash word (min doc_id wins) so which-row-survives
    // inside a micro-batch is deterministic; CROSS-shard suppression is
    // the streaming query's own state, exercised end-to-end. ---
    "q148_streaming_neardup" -> ((s, d) => {
      import s.implicits._
      // null texts out up front: a null sketch is one key VALUE to the
      // streaming dedup state but never equal to anything in the SQL
      // replay's NOT EXISTS — the corpus has none, pinned here so that
      // stays true by construction
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
        .filter(col("text").isNotNull)
      val shards = dedupShards(s, dup, Dedup.sketchWord(col("text"), 64))
      MicroBatchHarness.run(s, Seq(Feed(Seq("doc_id", "text", "batch", "ts"), shards)),
        "graft-stream-neardup", Seq("doc_id", "batch")) { case Seq(stream) =>
        StreamingProfile.streamingNearDup(stream, "ts", "text")
      }.orderBy("doc_id")
    }),

    // --- the MVN→decode text generator under the oracle (deterministic
    // mode): the production sampler draws z ~ N(0, I) per row with
    // seeded randn and decodes y = mean + L·z to nearest vocab words —
    // replayable everywhere EXCEPT the randn draw, which no other
    // engine reproduces. Here z comes from md5 Irwin-Hall(12) pseudo-
    // normals (transcendental-free, bit-identical cross-engine) and (mean, L) is a fixed FNV-derived "trained" profile,
    // so the full sampling algebra (pseudo-normal → affine MVN map →
    // per-slot nearest-word decode over the REAL capped vocab and the
    // REAL batched decode kernel) runs under the hard signal; only the
    // entropy source is swapped. q32 keeps the rows-only contract for
    // the genuinely seeded path. ---
    "q150_mvn_text_decode" -> ((s, d) => {
      import graft.text.{Md5Embedder, Vocab}
      val docs = t(s, d, "documents")
      val vocab = Vocab.build(docs, "text", Md5Embedder(Q34Dim), cap = Q35VocabCap)
      val bcV = s.sparkContext.broadcast(vocab)
      val mt = 2
      val width = mt * Q34Dim
      def u(k: Int, j: Int): Column =
        (conv(substring(md5(concat(lit("q150z#"), col("id").cast("string"),
          lit(s"#$k#$j")).cast("binary")), 1, 7), 16, 10).cast("double")
          + lit(0.5)) / lit(268435456.0)
      // Irwin–Hall(12) pseudo-normal: Σ of 12 md5-derived uniforms − 6
      // (mean 0, variance 1 — the classic transcendental-free normal
      // approximation). Each uniform is (2v+1)/2^29 — exactly
      // representable — and the 12-term sum needs 33 mantissa bits, so
      // z, y, and the decode argmax are BIT-identical across engines:
      // no ln/cos whose last ulp could differ between JVM Math and
      // another engine's libm and flip a near-tied nearest-word pick.
      val z = (0 until width).map(k =>
        (0 until 12).map(j => u(k, j)).reduce(_ + _) - lit(6.0))
      val y = (0 until width).map(j =>
        (0 to j).foldLeft(lit(q150Mean(j)): Column) { (acc, k) =>
          acc + lit(q150L(j, k)) * z(k) })
      val dec = udf { (v: Seq[Double]) => bcV.value.decode(v.toArray, mt) }
      s.range(Q150N)
        .select(col("id").as("gen_id"), dec(array(y: _*)).as("decoded"))
        .orderBy("gen_id")
    }),

    // --- streaming value_counts (the categorical profile) under a REAL
    // micro-batch trigger (q133's harness shape): per-day tumbling
    // windows of event_type counts, the events table fed in three
    // weekly batches; a sentinel past the horizon advances the
    // watermark so every real window closes, and the sentinel's own
    // window stays open and is never emitted. ---
    "q149_streaming_value_counts" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .withColumn("__b",
          when(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"), 0)
          .when(col("ts") < lit("2024-01-22 00:00:00").cast("timestamp"), 1)
          .otherwise(2))
        .select(col("event_id"), col("ts"), col("event_type"), col("__b"))
        .as[(Long, java.sql.Timestamp, String, Int)].collect()
      // sentinel rides IN the last data batch (q133's rationale): same
      // append-mode emission set, two fewer triggers
      val batches: Seq[Seq[(Long, java.sql.Timestamp, String, Int)]] =
        (0 to 2).map { b =>
          val rows = ev.toSeq.filter(_._4 == b)
          if (b == 2) rows :+
            ((-1L, java.sql.Timestamp.valueOf("2024-02-05 00:00:00"),
              "sentinel", 3))
          else rows
        }
      MicroBatchHarness.run(s, Seq(Feed(Seq("event_id", "ts", "event_type", "batch"), batches)),
        "graft-stream-vc", Seq("window_start", "event_type", "cnt")) { case Seq(stream) =>
        StreamingProfile.windowedValueCounts(stream, "ts", "event_type",
          window = "24 hours", watermark = "24 hours")
      }.select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("cnt"))
        .orderBy("window_start", "event_type")
    }),

    // --- streaming numeric profile under a REAL micro-batch trigger
    // (q149's harness): per-day tumbling windows of value moments per
    // event_type — count / mean / pop-std / min / max incrementally
    // maintained, every real window closed by the sentinel-advanced
    // watermark. Null values ride through: the aggregates skip them,
    // and an all-null group profiles as (0, null, ...) both sides. ---
    "q151_streaming_numeric_profile" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .withColumn("__b",
          when(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"), 0)
          .when(col("ts") < lit("2024-01-22 00:00:00").cast("timestamp"), 1)
          .otherwise(2))
        .select(col("event_id"), col("ts"), col("event_type"),
          col("value").cast("double"), col("__b"))
        .as[(Long, java.sql.Timestamp, String, Option[Double], Int)].collect()
      val batches: Seq[Seq[(Long, java.sql.Timestamp, String, Option[Double], Int)]] =
        // sentinel in the last data batch (q133's rationale)
        (0 to 2).map { b =>
          val rows = ev.toSeq.filter(_._5 == b)
          if (b == 2) rows :+
            ((-1L, java.sql.Timestamp.valueOf("2024-02-05 00:00:00"),
              "sentinel", Option(0.0), 3))
          else rows
        }
      MicroBatchHarness.run(s, Seq(Feed(Seq("event_id", "ts", "event_type", "value", "batch"),
        batches)), "graft-stream-np",
        Seq("window_start", "event_type", "n", "mean", "std", "min", "max")) { case Seq(stream) =>
        StreamingProfile.windowedNumericProfile(stream, "ts", "event_type",
          "value", window = "24 hours", watermark = "24 hours")
      }.select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n"),
          round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
          round(col("min"), 6).as("min"), round(col("max"), 6).as("max"))
        .orderBy("window_start", "event_type")
    }),

    // --- streaming EXACT dedup under a REAL micro-batch trigger
    // (q148's harness keyed on the content fingerprint instead of the
    // SimHash sketch): injected exact copies arriving in later shards
    // are dropped by dropDuplicatesWithinWatermark state. ---
    "q152_streaming_dedup" -> ((s, d) => {
      import s.implicits._
      // same null-text pin as q148
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
        .filter(col("text").isNotNull)
      val shards = dedupShards(s, dup, TextAnalysis.fingerprint(col("text")))
      MicroBatchHarness.run(s, Seq(Feed(Seq("doc_id", "text", "batch", "ts"), shards)),
        "graft-stream-dedup", Seq("doc_id", "batch")) { case Seq(stream) =>
        StreamingProfile.streamingDedup(stream, "ts", "text")
      }.orderBy("doc_id")
    }),

    // --- stream-static enrichment under a REAL micro-batch trigger:
    // orders stream in three batches, the customer dimension joins by
    // BROADCAST per micro-batch (stateless — no watermark, no state
    // store); the emitted union must equal the batch left join. ---
    "q153_streaming_enrich" -> ((s, d) => {
      import s.implicits._
      val dim = t(s, d, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"), col("c_nationkey"))
      val ords = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 3).cast("int").as("__b"))
        .as[(Long, Long, Int)].collect()
      val batches: Seq[Seq[(Long, Long, Int)]] =
        (0 to 2).map(b => ords.toSeq.filter(_._3 == b))
      MicroBatchHarness.run(s, Seq(Feed(Seq("o_orderkey", "o_custkey", "batch"), batches)),
        "graft-stream-enrich",
        Seq("o_orderkey", "o_custkey", "c_mktsegment", "c_nationkey")) { case Seq(stream) =>
        StreamingProfile.enrich(stream, dim, "o_custkey")
      }.orderBy("o_orderkey")
    }),

    // --- the FULL streaming curation pipeline under a REAL micro-batch
    // trigger: q52's cleaning/filter algebra verbatim (stateless stages
    // run unchanged on the stream), the exact-dedup stage swapped for
    // watermark-bounded fingerprint state, the id-hash sample last.
    // Shards pre-deduped on the CLEANED-content fingerprint (min doc_id
    // wins) for deterministic within-batch survivorship; cross-shard
    // suppression is the streaming state. ---
    "q154_streaming_curate" -> ((s, d) => {
      import s.implicits._
      // same null-text pin as q148
      val dup = injectMarkupPii(withDups(t(s, d, "documents"), "doc_id", 50, 10000)
        .filter(col("text").isNotNull))
      val shards = dedupShards(s, dup, TextAnalysis.fingerprint(
        TextAnalysis.redactPii(TextAnalysis.stripMarkup(col("text")))))
      MicroBatchHarness.run(s, Seq(Feed(Seq("doc_id", "text", "batch", "ts"), shards)),
        "graft-stream-curate",
        Seq("id", "text_clean", "lang", "quality", "n_tokens")) { case Seq(stream) =>
        StreamingProfile.streamingCurate(stream, "ts", "doc_id", "text",
          Curation.CurationConfig(lang = Some("en"), minQuality = 0.5,
            minTokens = 5, sampleFraction = 0.5))
      }.select(col("id").as("doc_id"), col("text_clean"), col("lang"),
          round(col("quality"), 6).as("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // --- stateful streaming sessionize under a REAL micro-batch
    // trigger (q123's harness shape): the events table is fed in three
    // time-ordered shards through mapGroupsWithState — per-user
    // (last_ts, counts) state carries across micro-batches, so the
    // final per-user totals must equal the batch lag-window sessionize
    // (q18's oracle algebra). Output = each user's LAST update row
    // (max batch id), i.e. the state after the stream drains ---
    "q145_streaming_sessionize" -> ((s, d) => {
      import s.implicits._
      val tagged = t(s, d, "events")
        .withColumn("__b",
          when(col("ts") < lit("2024-01-11 00:00:00").cast("timestamp"), 0)
          .when(col("ts") < lit("2024-01-21 00:00:00").cast("timestamp"), 1)
          .otherwise(2))
        .select(col("user_id").cast("long"), unix_millis(col("ts")),
          col("__b"))
        .as[(Long, Long, Int)].collect()
      val batches: Seq[Seq[(Long, Long)]] =
        (0 to 2).map(b => tagged.toSeq.collect { case (u, ts, `b`) => (u, ts) })
      // mapGroupsWithState emits updated groups per batch; the
      // read-off needs each emission's batch id
      MicroBatchHarness.run(s, Seq(Feed(Seq("_1", "_2"), batches)),
          "graft-stream-sessionize", Seq("userId", "nSessions", "nEvents"),
          OutputMode.Update(), batchIdCol = Some("batch_id")) {
        case Seq(stream) =>
          StreamingProfile.sessionize(stream.as[(Long, Long)], gapMs = 1800000L)
            .toDF()
      }.groupBy(col("userId").as("user_id"))
        .agg(max_by(col("nSessions"), col("batch_id")).as("n_sessions"),
          max_by(col("nEvents"), col("batch_id")).as("n_events"))
        .orderBy("user_id")
    }),

    // --- char-window exact-substring dedup coverage: the sliding-
    // window form of suffix-based dedup — catches copies that cross
    // token/passage boundaries (q55 chunks would miss them) ---
    "q139_window_dedup" -> ((s, d) =>
      Corpus.windowDupStats(withDups(t(s, d, "documents"), "doc_id", 50, 10000),
        "doc_id", "text", width = 40, stride = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- exact dedup, keep-best canonical selection: the copy with the
    // highest synthetic crawl stamp survives, not the min id — the
    // production cluster-collapse rule; stamp = first two md5 hex
    // digits of the id so the oracle can replay it ---
    "q140_keep_best" -> ((s, d) => {
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
        .withColumn("crawl_ts",
          (expr("instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1") * 16 +
            expr("instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1"))
            .cast(LongType))
      Dedup.exactKeepBest(dup, "doc_id", "text", "crawl_ts")
        .orderBy("fp")
    }),

    // --- exact-substring span REMOVAL (Lee et al. 2022): duplicated
    // windows are cut out of every doc but the globally first
    // occurrence, and the text is rebuilt — the rewrite form of
    // dedup, not just the q139 coverage report ---
    "q141_span_removal" -> ((s, d) =>
      Corpus.spanRemoval(withDups(t(s, d, "documents"), "doc_id", 50, 10000),
        "doc_id", "text", width = 40, stride = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- MAXIMAL duplicated substrings (Lee et al. 2022 ExactSubstr,
    // the suffix-array-grade report): every span of length >= 40 that
    // occurs more than once in the corpus, per occurrence, at its
    // full maximal extent — stride-1 duplicated-L-gram runs ARE the
    // SA/LCP answer (equivalence proven brute-force in CorpusSpec),
    // with no suffix array built and text never entering a shuffle ---
    "q197_max_dup_spans" -> ((s, d) =>
      Corpus.maxDupSpans(withDups(t(s, d, "documents"), "doc_id", 50, 10000),
        "doc_id", "text", minLen = 40)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")),

    // --- the REWRITE at the same full precision: q141's span-removal
    // operator at stride 1, so no duplicate can hide off the stride
    // grid — every repeat >= the window length is cut at its maximal
    // extent from all but the globally first occurrence. q197 reports
    // what a suffix array would; this row cuts it ---
    "q198_exact_substr_rewrite" -> ((s, d) =>
      Corpus.spanRemoval(withDups(t(s, d, "documents"), "doc_id", 50, 10000),
        "doc_id", "text", width = 40, stride = 1)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- 1-bit sign binarization: the compression endpoint of the
    // quantization family (float32 → int8 → PQ → 1 bit/dim); 32 dims
    // per BIGINT word, a pure codegen'd projection ---
    "q199_binary_sign" -> ((s, d) =>
      Quantize.binarySign(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          concat_ws(",", transform(col("words"), _.cast("string"))).as("words"),
          col("n_pos"))
        .orderBy("vec_id")),

    // --- binary ANN: Hamming candidate scan over the packed sign bits
    // (16 bytes/vector at d=64), exact cosine rerank of the candidate
    // set only — hash proposes, float arithmetic decides ---
    "q200_hamming_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Quantize.hammingTopK(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding", k = 10, cand = 40)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hd"), round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // --- simplified silhouette over q38's kmeans clusters: the
    // linear-time (one broadcast-centroid pass, no pairwise distances)
    // cluster-quality certification — per-cluster mean of
    // (b − a)/max(a,b) with a/b = cosine distance to own / nearest
    // other centroid ---
    "q201_silhouette" -> ((s, d) =>
      Similarity.simplifiedSilhouette(t(s, d, "embeddings"),
        "vec_id", "embedding", k = Q38K, iterations = Q38Iters)
        .orderBy("centroid_id")),

    // --- conjunctive (AND) retrieval: docs containing EVERY query
    // term, BM25-ranked top-20 — the posting intersection realized as
    // term counting, global top-k via TakeOrderedAndProject ---
    "q202_conjunctive_search" -> ((s, d) =>
      Corpus.conjunctiveTopK(t(s, d, "documents"), "doc_id", "text",
        Q202Terms, k = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy("rank")),

    // --- exact-phrase search: positional phrase queries collapsed to
    // one fused conjunctive predicate per window start — one corpus
    // scan for all phrases, no postings table, no shuffle before the
    // hit filter ---
    "q203_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseSearch(t(s, d, "documents"), "doc_id", "text",
        Q203Phrases)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "phrase")),

    // --- calibration audit of the langid router: confidence = winning
    // language's share of stopword hits, reliability bins + per-bin
    // ECE contributions — the check a threshold-gated classifier
    // filter needs before "drop below 0.9" means anything ---
    "q204_calibration_ece" -> ((s, d) =>
      Drift.calibrationReport(calibScored(s, d), "conf", "correct",
          nBins = 10)
        .orderBy("bin")),

    // --- STREAMING calibration twin: the per-bin (count, DECIMAL
    // conf sum, correct sum) state is a bounded-group streaming
    // aggregation (≤ nBins keys); per-trigger cumulative emissions
    // max-merge to the batch sums, and the SHARED readoff must equal
    // the batch report of the same rows — proven by reusing q204's
    // oracle verbatim ---
    "q206_streaming_calibration" -> ((s, d) => {
      import s.implicits._
      val rows = calibScored(s, d)
        .filter(col("conf").isNotNull && col("conf") >= 0.0 &&
          col("conf") <= 1.0 && col("correct").isNotNull)
        .select(col("doc_id"), col("conf"), col("correct"))
        .as[(Long, Double, Int)].collect()
      val batches = (0 to 2).map(b =>
        rows.toSeq.filter(_._1 % 3 == b).map { case (_, p, c) => (p, c) })
      val perTrigger = MicroBatchHarness.run(s, Seq(Feed(Seq("p", "c"), batches)),
          "graft-stream-calib", Seq("bin", "n", "sp", "sc"),
          OutputMode.Update()) { case Seq(stream) =>
        // the SHARED bin/aggregate definitions — the streaming state
        // is byte-for-byte the batch report's per-bin sums
        val (n, sp, sc) = Drift.calibrationAggs(col("p"), col("c"))
        stream.groupBy(Drift.calibrationBin(col("p"), 10).as("bin"))
          .agg(n.as("n"), sp.as("sp"), sc.as("sc"))
      }
      val fin = perTrigger.groupBy("bin")
        .agg(max_by(struct(col("n"), col("sp"), col("sc")), col("n")).as("f"))
        .select(col("bin"), col("f.n").as("n"),
          col("f.sp").cast("decimal(38,12)").as("__sp"),
          col("f.sc").as("__sc"))
      Drift.calibrationReadoff(fin).orderBy("bin")
    }),

    // --- IVF-pruned binary ANN: the corpus-scale route of q200 —
    // each query Hamming-scans only its nprobe nearest cells' packed
    // words, candidates rerank through the shared exact-cosine tail
    // (the q30/q147 gate discipline applied to sign bits) ---
    "q207_hamming_ann_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Quantize.hammingTopKIvf(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding", k = 10, cand = 40,
        nCentroids = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hd"), round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // --- JL random projection (Achlioptas ±1 signs): 64 → 16 dims as
    // one map-only literal-matrix projection — the sketching step in
    // front of LSH/clustering when d is large ---
    "q208_jl_projection" -> ((s, d) =>
      graft.ops.Projection.jlTransform(t(s, d, "embeddings"), "vec_id", "embedding",
        inDim = 64, outDim = 16)
        .select(col("vec_id"), col("j"), round(col("out"), 6).as("out"))
        .orderBy("vec_id", "j")),

    // --- corpus datasheet: the one-call (metric, value) summary a
    // dataset card wants — counts, token spread, short/dup fractions,
    // mean quality, lang/source cardinalities; one scan + one agg ---
    "q205_corpus_report" -> ((s, d) =>
      Curation.corpusReport(t(s, d, "documents"), "doc_id", "text",
        "lang", "source")
        .orderBy("metric")),

    // --- cross-corpus exact-substring DECONTAMINATION rewrite: every
    // train span whose 40-grams all occur in the test slice is cut at
    // maximal extent from EVERY train doc (no election — benchmark
    // text must survive nowhere); the action form of q57's report ---
    "q210_decontaminate_rewrite" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Corpus.decontaminateSubstrings(docs,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        minLen = 40)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- size-gated binary ANN: the auto-route of the sign-bit
    // family (the int8 q128 gate discipline applied to packed words).
    // maxFlatRows = 100 < the 495-vector corpus, so the gate's
    // LIMIT-bounded probe routes THIS registration to the IVF-pruned
    // scan — the production path; flat-route parity is q200's row and
    // the route-invariance spec ---
    "q211_hamming_ann_auto" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Quantize.hammingTopKAuto(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding", k = 10, cand = 40,
        maxFlatRows = 100L, nCentroids = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hd"), round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // --- cross-document LINE-level boilerplate removal (CCNet /
    // RefinedWeb): lines whose trimmed text recurs in >= 30 distinct
    // docs are dropped from every doc. The corpus has no newlines, so
    // the fixture derives multi-line docs in-query (the ' table '
    // token becomes '\n'; every doc_id % 3 == 0 doc gains a shared
    // footer line) — the oracle replays the same derivation ---
    "q212_line_boilerplate" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(regexp_replace(col("text"), " table ", "\n"),
              lit("\nsubscribe to our newsletter")))
            .otherwise(regexp_replace(col("text"), " table ", "\n")))
      Corpus.lineDedup(docs, "doc_id", "text", minDocs = 30)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- PII detection + redaction: emails / IPv4s / US-style phones
    // counted on the original text and rewritten <EMAIL>/<IP>/<PHONE>
    // in one codegen'd projection. The synthetic corpus carries no
    // PII, so the fixture injects a deterministic contact tail per
    // doc (email always; IP on even ids; phone on ids % 5 == 0) —
    // replayed verbatim by the oracle ---
    "q213_pii_redact" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("text", concat(
          col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example.org"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" from 10.1."), (col("doc_id") % 200).cast("string"),
              lit(".9"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))))
      TextAnalysis.piiRedact(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- bootstrap percentile CI for an eval accuracy: 200 md5-seeded
    // resample replicas over a deterministic probe metric (label
    // parity vs sign of dim 1), exact interpolated percentiles — the
    // error bar a benchmark delta needs before it means anything ---
    "q214_bootstrap_ci" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .filter(col("embedding").isNotNull && col("label").isNotNull)
        .withColumn("correct",
          (col("label") % 2 ===
            when(element_at(col("embedding"), 1) > 0f, 1).otherwise(0))
            .cast("int"))
      Drift.bootstrapAccuracyCI(e, "vec_id", "correct",
        nBoot = 200, seed = "bs0", alpha = 0.05)
    }),

    // --- Cohen's kappa: chance-corrected agreement between two label
    // columns — the acceptance gate for crowdsourced/model-assisted
    // training labels. Rater B = rater A nudged on every 7th row, so
    // the statistic is non-trivial; confusion cells are the only
    // data-sized shuffle ---
    "q218_cohen_kappa" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .filter(col("label").isNotNull && col("vec_id").isNotNull)
        .select((col("label") % 3).cast("int").as("a"),
          ((col("label") + when(col("vec_id") % 7 === 0, 1).otherwise(0)) % 3)
            .cast("int").as("b"))
      Drift.cohenKappa(e, "a", "b")
    }),

    // --- Krippendorff's alpha (nominal): the multi-rater,
    // missing-data agreement gate — three simulated raters over the
    // embeddings labels, raters 1/2 skipping units (vec_id%4==0 /
    // %3==1 respectively), so units can carry 1..3 ratings and the
    // single-rating exclusion path is exercised ---
    "q222_krippendorff_alpha" -> ((s, d) =>
      Drift.krippendorffAlpha(
        threeRaters(s, d, 2)(l => (l % 3).cast("string")), "unit", "v")),

    // --- Krippendorff's alpha, INTERVAL metric: the Likert-scale
    // agreement gate where disagreeing 1-vs-5 must cost more than
    // 1-vs-2. Same 3-rater simulation as q222 on a 1..5 scale; the
    // closed per-unit-moment form needs no value-pair table at all ---
    "q228_krippendorff_interval" -> ((s, d) =>
      Drift.krippendorffAlphaMetric(
        threeRaters(s, d, 3)(l => (l % 5 + 1).cast("long")), "unit", "v",
        "interval")),

    // --- Krippendorff's alpha, ORDINAL metric: rank distances
    // weighted by how often intermediate scale points were used
    // (Krippendorff's own recommendation for Likert data) — the V×V
    // Q table rides the coincidence marginals, so the same ratings
    // give a DIFFERENT alpha than q228 when the scale is used
    // unevenly ---
    "q229_krippendorff_ordinal" -> ((s, d) =>
      Drift.krippendorffAlphaMetric(
        threeRaters(s, d, 3)(l => (l % 5 + 1).cast("long")), "unit", "v",
        "ordinal")),

    // --- fenced-code-block extraction: per-(doc, language) block and
    // char counts — the code-data prep pass of a mixed-corpus
    // pipeline. The corpus has no fences, so the fixture injects
    // deterministic python/untagged/sql blocks (oracle replays) ---
    "q219_code_fences" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("text", concat(
          col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit("\n```python\nprint("),
              (col("doc_id") % 100).cast("string"),
              lit(")\nx = 1\n```\nand\n```\nplain block\n```")))
            .otherwise(lit("")),
          when(col("doc_id") % 6 === 0,
            concat(lit("\n```sql\nSELECT "),
              (col("doc_id") % 10).cast("string"), lit(";\n```")))
            .otherwise(lit(""))))
      TextAnalysis.codeFences(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "lang")
    }),

    // --- exact ROC-AUC (rank-sum / Mann-Whitney, average-rank ties):
    // the classifier-eval headline number without a global fact sort —
    // the rank table is distinct-score-bounded, the statistic is one
    // tiny agg over it. Score = first embedding dim nudged by the
    // label so the curve is non-trivial; deterministic, oracle-replayed ---
    "q217_auc_roc" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .filter(col("embedding").isNotNull && col("label").isNotNull)
        .select((col("label") % 2).cast("int").as("y"),
          (element_at(col("embedding"), 1).cast("double") +
            (col("label") % 2).cast("double") * 0.3).as("score"))
      Drift.aucRoc(e, "score", "y")
    }),

    // --- matryoshka (prefix-dim) recall curve: exact cosine top-10
    // over the first 8/16/32/64 dims vs the full-width top-10 as
    // ground truth — the MRL truncation audit ("how many dims can
    // storage drop"), all widths scored in ONE corpus scan ---
    "q215_matryoshka_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.matryoshkaRecall(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding",
        dims = Seq(8, 16, 32, 64), topK = 10)
        .orderBy("query_id", "m")
    }),

    // --- per-source frequent tokens: each source's own token head at
    // its own support (q62's global two-phase Misra-Gries discipline,
    // keyed per group — a small domain's head is not drowned by a
    // large one) ---
    "q216_frequent_tokens_by" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Frequent.frequentItemsByGroup(
        docs.select(col("source"),
          explode(TextAnalysis.tokens(col("text").cast("string"))).as("tok")),
        col("source"), col("tok"), support = 0.005)
        .withColumnRenamed("grp", "source")
        .orderBy("source", "item")
    }),

    // --- PQ recall audit: ADC top-10 vs the exact L2 top-10 — the
    // index-quality eval a deployment runs before trusting ANN ---
    "q137_pq_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Quantize.pqRecallAudit(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding",
        dim = 64, m = 4, k = 8, iterations = 2, topK = 10)
        .orderBy("query_id")
    }),

    // --- IVF-PQ ANN: q131's ADC scoring pruned by an inverted-file
    // coarse index — each query scores codes only in its nProbe
    // nearest cells, the composition that makes per-query cost
    // sub-linear in the corpus at scale. The cell count is SIZED TO
    // THE CORPUS (nCentroidsFor — the q195 lesson: a pinned cell
    // count means cells grow with the data and the probe stage decays
    // to a corpus scan) ABOVE an explicit 2048-row gate (the q194
    // pattern): minC=8 alone would NOT hold the historical 8 cells at
    // sf0.1 (1995 vectors / 125 per cell = 16), so the gate — not the
    // floor — is what keeps every benchmark corpus (sf0.01 ≈ 500,
    // sf0.1 ≈ 1995) on the fixed-8-cell plan the DuckDB oracle
    // replays; past the gate cells track corpus size (~125/cell) ---
    "q142_ivfpq_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") >= 5)
      val n = corpus.filter(col("embedding").isNotNull).count()
      Quantize.ivfPqTopKAdc(
        e.filter(col("vec_id") < 5), corpus,
        "vec_id", "embedding", "vec_id", "embedding",
        dim = 64, m = 4, k = 8, iterations = 2,
        nCells = if (n <= 2048L) IvfCells
                 else Quantize.nCentroidsFor(n, minC = IvfCells),
        nProbe = IvfProbe, topK = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adist"), 6).as("adist"))
        .orderBy("query_id", "rank")
    }),

    // --- DSIR importance weights: avg per-token log-likelihood ratio
    // of a target-domain unigram LM vs the raw-corpus LM — the
    // data-selection score for "reads like the target domain" ---
    "q132_importance_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Corpus.importanceWeights(
        docs.filter(col("source").isin("src0", "src1", "src2", "src3")),
        docs, docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- curriculum phases: blend of length percentile and inverted
    // quality percentile, cut into 3 training stages — both ranks via
    // the windowless distributed percent-rank kernel ---
    "q135_curriculum" -> ((s, d) =>
      Curation.curriculumPhases(t(s, d, "documents"), "doc_id", "text",
          phases = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- BPE merge candidates: adjacent char pairs inside words,
    // weighted by word frequency — tokenizer training's first
    // iteration, run over the distinct vocabulary only ---
    "q136_bpe_pairs" -> ((s, d) =>
      Corpus.bpePairCounts(t(s, d, "documents"), "text", k = 50)
        .orderBy(desc("cnt"), col("pair"))),

    // --- FULL BPE tokenizer training (q136 is round one of this):
    // iteratively merge the globally most frequent adjacent symbol
    // pair and rewrite the vocabulary, ten rounds — one distributed
    // vocab scan, then a driver-local merge loop. The merge table is
    // the trained tokenizer, and the oracle replays every round with
    // the marker-string replace algebra ---
    "q155_bpe_train" -> ((s, d) =>
      Corpus.bpeTrain(t(s, d, "documents"), "text", nMerges = 10)
        .orderBy("merge_rank")),

    // --- BPE encode with the trained table: merges applied in rank
    // order over the corpus vocabulary (the reference sequential
    // segmenter), one replace-chain projection ---
    "q156_bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Corpus.bpeTrain(docs, "text", nMerges = 10)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      Corpus.bpeEncode(docs, "text", merges.toSeq).orderBy("w")
    }),

    // --- BYTE-level BPE training (GPT-2/tiktoken base alphabet, r12
    // verdict #4): whitespace words, UTF-8 bytes as hex symbols, so
    // nothing is ever OOV and merges cross multibyte boundaries. The
    // fixture text is ASCII, so e→é is injected identically in both
    // engines to make the multibyte path real: é's two bytes (c3 a9)
    // appear in every affected word and must coalesce via merges ---
    "q224_bpe_bytes_train" -> ((s, d) =>
      Corpus.bpeTrainBytesLocal(
        t(s, d, "documents").withColumn("text",
          regexp_replace(col("text"), "e", "\u00e9")),
        "text", nMerges = 10).orderBy("merge_rank")),

    // --- byte-level encode with the trained table: the corpus
    // vocabulary segmented to hex-byte pieces in merge-rank order ---
    "q225_bpe_bytes_encode" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text",
        regexp_replace(col("text"), "e", "\u00e9"))
      val merges = Corpus.bpeTrainBytesLocal(docs, "text", nMerges = 10)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      Corpus.bpeEncodeBytes(docs, "text", merges.toSeq)
    }),

    // --- HTML main-content extraction (r12 verdict #7): documents
    // wrapped in a nav-header / share-bar / copyright-footer page
    // shell — identical construction in both engines — then block-
    // split and scored with jusText's signals as integer gates. The
    // article block survives; every boilerplate block fails length,
    // link-density, or the stopword gate ---
    "q227_html_main_content" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      val html = docs.select(col("doc_id"), concat(
        lit("<header><ul><li><a href=\"/\">Home</a></li>" +
          "<li><a href=\"/about\">About Us</a></li>" +
          "<li><a href=\"/contact\">Contact</a></li></ul></header>" +
          "<article><p>"),
        coalesce(col("text"), lit("")),
        lit("</p></article><div>Share this page: <a href=\"#\">Tweet</a>" +
          " <a href=\"#\">Like</a></div>" +
          "<footer>Copyright 2024 Example Corp - All rights reserved" +
          "</footer>")).as("html"))
      TextAnalysis.htmlMainContent(html, "doc_id", "html")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- Bradley-Terry preference aggregation (r12 verdict #6): a
    // 7-item round-robin derived from orders — matchup (key%7 vs
    // (key DIV 7)%7), higher index wins except every 4th order
    // (upsets) — 20 integer-exact MM rounds recover the monotone
    // strength ladder. Complements kappa/alpha: agreement vs WHICH
    // item wins and by how much ---
    "q226_bradley_terry" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderkey").isNotNull)
        .select((col("o_orderkey") % 7).as("a"),
          (expr("o_orderkey DIV 7") % 7).as("b"),
          (col("o_orderkey") % 4 === 0).as("up"))
        .filter(col("a") =!= col("b"))
        .select(
          when(col("up"), least(col("a"), col("b")))
            .otherwise(greatest(col("a"), col("b"))).as("winner"),
          when(col("up"), greatest(col("a"), col("b")))
            .otherwise(least(col("a"), col("b"))).as("loser"))
      Drift.bradleyTerry(o, "winner", "loser", iterations = 20)
        .orderBy("item")
    }),

    // --- unigram-LM tokenizer trainer (Kudo 2018 — the OTHER trainer
    // modern LLM pipelines use beside BPE): Viterbi hard-EM over a
    // seeded fixed vocabulary with the exact-integer log table, so
    // the oracle replays both EM rounds bit-for-bit via staged CTEs ---
    "q220_unigram_train" -> ((s, d) =>
      Corpus.unigramTrainLocal(t(s, d, "documents"), "text")),

    // --- unigram encode: every trained word segmented under the
    // final post-EM scores (the third Viterbi pass) ---
    "q221_unigram_encode" -> ((s, d) =>
      Corpus.unigramEncode(t(s, d, "documents"), "text")),

    // --- interpolated modified-Kneser-Ney 3-gram perplexity scoring
    // (the KenLM slot of the CCNet quality stack, r12 verdict #2):
    // model fit on the even-id half with counts-of-counts discounts +
    // continuation-count lower orders, every doc scored by avg
    // trigram log-prob. Same train/score split as q167 so unseen
    // trigrams, contexts, and words all exercise the backoff chain ---
    "q223_kn_trigram_logprob" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      Corpus.knTrigramLogProb(docs.filter(col("doc_id") % 2 === 0), docs,
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- `.vec` model-artifact load (the file-format level of
    // `Latanova_v1.py:19`'s FastText load): a word2vec/fastText TEXT
    // file is materialized from nation (words + exactly-representable
    // components, so text round-trip is bit-exact), then read back
    // through the DISTRIBUTED VecFormat.read parse; oracle recomputes
    // the vectors straight from the table ---
    "q157_vec_load" -> ((s, d) => {
      val rows = t(s, d, "nation")
        .select(
          regexp_replace(lower(col("n_name")), "[^a-z]", "_").as("word"),
          array(
            col("n_nationkey") * lit(0.25d),
            col("n_regionkey") * lit(1.5d) - lit(3.0d),
            (col("n_nationkey") % 7) * lit(0.5d) - lit(1.5d),
            length(col("n_name")) * lit(0.125d)).as("vec"))
        .collect()  // 25-row dimension-table fixture write, bounded
      val path = java.nio.file.Files.createTempFile("graft_vec", ".vec")
      val sb = new StringBuilder
      sb.append(rows.length).append(' ').append(4).append('\n')
      rows.foreach { r =>
        sb.append(r.getString(0))
        r.getSeq[Double](1).foreach(v => sb.append(' ').append(v))
        sb.append('\n')
      }
      java.nio.file.Files.write(path, sb.result().getBytes("UTF-8"))
      // localCheckpoint materializes eagerly so the temp file can go
      val out = graft.text.VecFormat.read(s, path.toString)
        .select(col("word"), posexplode(col("vector")))
        .select(col("word"), col("pos").as("j"), col("col").as("v"))
        .orderBy("word", "j")
        .localCheckpoint()
      java.nio.file.Files.deleteIfExists(path)
      out
    }),

    // --- end-to-end synthetic pipeline in DETERMINISTIC mode (the
    // q150 technique composed across ALL scalar generator families —
    // VERDICT r8 #7): profile orders (exact decimal-sum moments,
    // quantized at the q01/q07-proven precisions), then generate 500
    // rows of integer/float clipped Gaussians, Bernoulli, inverse-CDF
    // categorical, and day-rendered datetime from md5 Irwin–Hall
    // draws. Every draw and every profile parameter is bit-identical
    // cross-engine, so the whole pipeline hash-matches — the
    // value-level twin q32 (genuinely seeded, rows-only by contract)
    // cannot have. Epoch moments are computed CENTERED on min(epoch)
    // so the decimal squares stay exact and the variance subtraction
    // keeps ~8 significant digits instead of cancelling at 1e18. ---
    "q159_synthetic_deterministic" -> ((s, d) => {
      import graft.engine.{BoolFormat, DatetimeStats, Generators, NumericStats, Profiler}
      val o = t(s, d, "orders")
      val dec6 = DecimalType(38, 6)
      val e = unix_timestamp(col("o_orderdate"))
      val mnE = o.agg(min(e)).collect()(0).getLong(0)
      val ec = e - lit(mnE)
      val r = o.agg(
        count(lit(1)).as("n"),
        sum(col("o_custkey").cast(dec6)).as("s_ck"),
        sum((col("o_custkey") * col("o_custkey")).cast(dec6)).as("ss_ck"),
        min(col("o_custkey")).cast("double").as("mn_ck"),
        max(col("o_custkey")).cast("double").as("mx_ck"),
        sum(col("o_totalprice").cast(dec6)).as("s_tp"),
        sum((col("o_totalprice") * col("o_totalprice")).cast(dec6)).as("ss_tp"),
        min(col("o_totalprice")).as("mn_tp"),
        max(col("o_totalprice")).as("mx_tp"),
        sum(ec.cast(dec6)).as("s_e"),
        sum((ec * ec).cast(DecimalType(38, 0))).as("ss_e"),
        max(e).cast("double").as("mx_e"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("bt")
      ).collect()(0)
      val n = r.getLong(0).toDouble
      // Spark SQL round semantics exactly: BigDecimal.valueOf (the
      // shortest-repr path) + HALF_UP — what the oracle's round() must
      // agree with, as every round(...,6) row already proves it does
      def rnd(x: Double, dp: Int): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue
      def dd(i: Int): Double = r.getDecimal(i).doubleValue
      def stats(sIdx: Int, ssIdx: Int, mn: Double, mx: Double, dp: Int,
                off: Double = 0.0): NumericStats = {
        val m = dd(sIdx) / n
        NumericStats(mean = off + rnd(m, dp),
          std = rnd(math.sqrt(dd(ssIdx) / n - m * m), dp),
          median = 0, min = mn, max = mx, skewness = 0, kurtosis = 0,
          q1 = 0, q3 = 0, count = n.toLong)
      }
      val ckStats = stats(1, 2, r.getDouble(3), r.getDouble(4), 6)
      val tpStats = stats(5, 6, r.getDouble(7), r.getDouble(8), 6)
      val eStats = stats(9, 10, mnE.toDouble, r.getDouble(11), 2, off = mnE.toDouble)
      val dtStats = DatetimeStats(eStats, "", "", "YYYY-MM-DD")
      val pBool = r.getLong(12).toDouble / n
      val catStats = Profiler.profileCategoricals(o, Seq("o_orderstatus"))("o_orderstatus")
      val id = col("id")
      val D = Generators.Deterministic
      s.range(Q159N).select(
        id.as("gen_id"),
        D.numericInt(ckStats, "q159ck", id).as("num_int"),
        D.numericFloat(tpStats, "q159tp", id).as("num_float"),
        D.boolean(pBool, BoolFormat.TrueFalse, "q159b", id).as("bool_val"),
        D.categoricalDet(catStats, "q159c", id).as("cat_val"),
        D.datetimeDay(dtStats, "yyyy-MM-dd", "q159d", id).as("dt_val")
      ).orderBy("gen_id")
    }),

    // --- SVG plot sink: the RENDERED-figure analogue of the
    // reference's matplotlib screens (`Latanova_v1.py:496-628`) — the
    // q11 histogram buckets and the o_orderstatus value counts render
    // to complete SVG documents with all-integer geometry, so the
    // bytes themselves sit behind the hash oracle. Closes VERDICT r8
    // "missing #2" at the artifact level. ---
    "q160_plot_svg" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val bounds = li.agg(min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      val bucket = least(greatest(
        floor((col("l_extendedprice") - col("lo")) / (col("hi") - col("lo")) * 50),
        lit(0)), lit(49))
      val hist = li.crossJoin(broadcast(bounds))
        .groupBy(bucket.cast(IntegerType).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val vc = t(s, d, "orders")
        .filter(col("o_orderstatus").isNotNull)
        .groupBy(col("o_orderstatus").cast(StringType).as("value"))
        .agg(count(lit(1)).as("cnt"))
      Svg.histogram(hist, "bucket", "cnt", 50, "l_extendedprice histogram")
        .select(lit("histogram_extendedprice").as("plot"), col("svg"))
        .unionByName(
          Svg.barChart(vc, "value", "cnt", 10, "o_orderstatus counts")
            .select(lit("bar_orderstatus").as("plot"), col("svg")))
        .orderBy("plot")
    }),

    // --- fastText supervised classifier inference at corpus scale
    // (the engine behind CCNet-style language-ID / quality filters):
    // a deterministic 2-label model (md5-derived float32-exact
    // weights over the top-20 corpus vocabulary) round-trips through
    // the PUBLIC .bin binary format (write → load), then classifies
    // every document in one broadcast projection — getLine feature
    // hashing (word ids + wrapping-uint64 word-ngram buckets), hidden
    // mean, argmax logit. The oracle replays the FNV-1a fold, the
    // sign-extended wrapping ngram hash, and the exact-dyadic linear
    // algebra in SQL. ---
    "q161_fasttext_classify" -> ((s, d) => {
      import graft.text.{FastTextBin, FastTextClassify, Tokenize}
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val vocab = docs
        .select(explode(Tokenize.tokens(col("text"))).as("tok"))
        .groupBy("tok").count()
        .orderBy(desc("count"), asc("tok")).limit(Q161Vocab)
        .collect().map(_.getString(0))
      require(vocab.length == Q161Vocab,
        s"q161 expects >= $Q161Vocab distinct tokens, got ${vocab.length}")
      val inMat = Array.tabulate((Q161Vocab + Q161Bucket) * 4) { i =>
        q161Weight("q161w", i / 4, i % 4)
      }
      val outMat = Array.tabulate(2 * 4)(i => q161Weight("q161o", i / 4, i % 4))
      val model = FastTextBin.Model(dim = 4, minn = 0, maxn = 0,
        bucket = Q161Bucket, wordNgrams = 2,
        words = vocab, labels = Array("__label__keep", "__label__drop"),
        matrix = inMat, rows = (Q161Vocab + Q161Bucket).toLong,
        output = outMat, outputRows = 2L)
      // round-trip through the public binary format — the artifact path
      val p = java.nio.file.Files.createTempFile("graft_q161", ".bin")
      FastTextBin.write(model, p.toString)
      val loaded = FastTextBin.load(p.toString)
      val out = FastTextClassify.classify(
          docs.select("doc_id", "text"), "text", loaded)
        .select(col("doc_id"), col("label"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")
        .localCheckpoint()
      java.nio.file.Files.deleteIfExists(p)
      out
    }),

    // --- KMV bottom-k distinct sketches: four lineitem columns in ONE
    // scan. The value stream never shuffles — per-task capped TreeSets
    // emit their bottom-k, the global merge sees ≤ P·k digests per
    // column — so the count_distinct replacement carries O(k) state
    // per column at ANY corpus size; md5-keyed, so the kth hash and
    // the estimate itself replay exactly in the oracle ---
    "q162_kmv_distinct" -> ((s, d) =>
      Sketch.kmvDistinct(t(s, d, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"), k = 256)
        .orderBy("col_name")),

    // --- count–min frequency sketch over the corpus token stream: one
    // map-side-combining agg whose group space is depth·width rows
    // REGARDLESS of corpus size — the fixed-memory frequency summary
    // that replaces a vocab-sized count table at 100 TB ---
    "q163_countmin_sketch" -> ((s, d) =>
      Sketch.countMin(
          t(s, d, "documents").filter(col("text").isNotNull)
            .select(explode(TextAnalysis.tokens(col("text"))).as("item")),
          "item", depth = 4, width = 64, salt = "cm")
        .orderBy("r", "b")),

    // --- count–min point estimates vs ground truth for the top-20
    // tokens: est = min over rows of the hashed counters, joined to
    // the exact counts — overcount ≥ 0 EVERYWHERE is the CM guarantee,
    // exhibited per item, not just asserted. The sketch broadcasts
    // (≤ depth·width rows); candidates never shuffle ---
    "q164_countmin_estimate" -> ((s, d) => {
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
      val sketch = Sketch.countMin(toks, "item", depth = 4, width = 64, salt = "cm")
      val truth = toks.groupBy("item").agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), asc("item")).limit(20)
        .localCheckpoint() // feeds the probe AND the compare join
      Sketch.countMinEstimate(sketch, truth, "item", depth = 4, width = 64,
          salt = "cm")
        .join(truth, Seq("item"))
        .select(col("item"), col("true_cnt"), col("est"),
          (col("est") - col("true_cnt")).as("overcount"))
        .orderBy("item")
    }),

    // --- hybrid retrieval via reciprocal-rank fusion: the BM25 sparse
    // ranker (q115's scorer, top-50) fused with the dense cosine
    // ranker (q28's heap-form top-k, query = vec 0) — rank-only
    // combination, no score calibration, the standard hybrid-search
    // recipe. Both candidate tables are k-bounded before the fuse ---
    "q165_rrf_hybrid" -> ((s, d) => {
      val sparse = Corpus.bm25(t(s, d, "documents"), "doc_id", "text",
          Seq("spark", "shuffle", "hash", "merge", "window"))
        .orderBy(desc("bm25"), asc("id")).limit(50)
        .select(col("id"), col("bm25").as("score"))
      val emb = t(s, d, "embeddings")
      val dense = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0), emb,
          "vec_id", "embedding", "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("id"), col("sim").as("score"))
      Similarity.rrfFuse(Seq(sparse, dense), "id", "score", k0 = 60)
        .withColumnRenamed("id", "doc_id")
        .orderBy(desc("rrf"), asc("doc_id"))
    }),

    // --- chunk-level dedup REWRITE: first-(doc,pos)-occurrence wins
    // over non-overlapping 12-token chunks; duplicated spans are
    // DELETED and each doc's survivors re-joined — the span-removal
    // transform of exact-substring training-data dedup (q55 only
    // reports the rate). Chunk text never shuffles for the election:
    // md5 fingerprints carry it ---
    "q166_chunk_dedup" -> ((s, d) =>
      Dedup.chunkDedupRewrite(
          withDups(t(s, d, "documents"), "doc_id", 50, 10000),
          "doc_id", "text", chunkTokens = 12)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- bigram-LM scoring: add-one-smoothed transition model fit on
    // the even-id half, every doc scored by avg bigram log-prob — one
    // Markov order above q56's unigram scorer, the word-salad detector
    // unigram stats can't see. Same train/score split so unseen
    // transitions are genuinely exercised ---
    "q167_bigram_logprob" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id").isNotNull)
      Corpus.bigramLogProb(docs.filter(col("doc_id") % 2 === 0), docs,
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- HyperLogLog distinct sketches, md5-registered so the
    // registers AND the estimate replay in the oracle (unlike
    // approx_count_distinct's implementation-defined sketch). One
    // (column, bucket)-keyed agg with a |cols|·256-row group space at
    // any corpus size; Z accumulates as an exact integer so the
    // estimate rounds once from identical values cross-engine. The
    // four columns span both estimator regimes: l_returnflag/l_suppkey
    // hit linear counting, the keys hit the raw α·m²/Z path ---
    "q169_hll_distinct" -> ((s, d) =>
      Sketch.hllDistinct(t(s, d, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"))
        .orderBy("col_name")),

    // --- character-level Shannon entropy, the quality signal q20's
    // token heuristics can't see (base64/minified payloads score
    // near-uniform, spam runs score near-zero); order-deterministic
    // left fold over sorted distinct chars, one codegen'd projection,
    // no shuffle at all ---
    "q170_char_entropy" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          length(coalesce(col("text"), lit(""))).cast("long").as("n_chars"),
          round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"))
        .orderBy("doc_id")),

    // --- per-GROUP HLL: distinct users per event type from one
    // (group, bucket)-keyed register agg — each group's sketch merges
    // independently; group space |groups|·256 at any size ---
    "q172_hll_by_group" -> ((s, d) =>
      Sketch.hllDistinctBy(t(s, d, "events"), "event_type", "user_id")
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")),

    // --- KMV set operations: union cardinality, Jaccard resemblance,
    // and intersection estimate between the even-doc and odd-doc
    // token VOCABULARIES, computed from the two bottom-k sketches
    // alone — "how much do these corpora overlap" without joining
    // the corpora ---
    "q173_kmv_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
      def toks(p: Int) = docs.filter(col("doc_id") % 2 === p)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      Sketch.kmvJaccard(toks(0), toks(1), "tok", k = 256)
    }),

    // --- STREAMING HLL: the register table maintained as REAL
    // streaming aggregation state (update-mode groupBy on the
    // stream), per-trigger register updates landed by the harness,
    // final estimate from the max-merge of all emissions — HLL union
    // mergeability demonstrated under a live micro-batch trigger; the
    // estimate must equal the batch sketch of the same stream ---
    "q174_streaming_hll" -> ((s, d) => {
      import s.implicits._
      val rows = t(s, d, "events").filter(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          (col("event_id") % 3).cast("int").as("__b"))
        .as[(Long, Long, Int)].collect()
      val batches = (0 to 2).map(b => rows.toSeq.filter(_._3 == b))
      val perTrigger = MicroBatchHarness.run(s,
          Seq(Feed(Seq("event_id", "user_id", "batch"), batches)),
          "graft-stream-hll", Seq("bucket", "mrank"),
          OutputMode.Update()) { case Seq(stream) =>
        Sketch.hllRegisters(
          stream.select(md5(col("user_id").cast("string").cast("binary")).as("h")),
          Seq.empty)
      }
      Sketch.hllEstimate(
          perTrigger.groupBy("bucket").agg(max(col("mrank")).as("mrank")),
          Seq.empty)
        .withColumnRenamed("__m", "m")
    }),

    // --- robust outlier census: per-event-type median/MAD fences
    // (Hampel identifier, k=3) — exact element picks, no interpolated
    // floats, the breakdown-resistant twin of z-score screens ---
    "q177_mad_outliers" -> ((s, d) =>
      Drift.madOutliers(t(s, d, "events"), "event_type", "value", k = 3.0)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")),

    // --- per-domain document cap (RefinedWeb-style): md5-derived
    // hosts with subdomains + multi-part public suffixes, capped at 4
    // docs per REGISTRABLE domain preferring longest text — the
    // WindowGroupLimit plan pre-limits per map task before the
    // exchange, so the shuffle is cap-bounded, not corpus-bounded ---
    "q178_domain_cap" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val h = md5(col("text").cast("binary"))
      val suffix = element_at(
        array(lit("com"), lit("org"), lit("co.uk"), lit("com.au")),
        (conv(substring(h, 2, 1), 16, 10).cast("int") % 4) + 1)
      val sub = element_at(array(lit(""), lit("www."), lit("cdn.")),
        (conv(substring(h, 3, 1), 16, 10).cast("int") % 3) + 1)
      val host = concat(sub, lit("d"), substring(h, 1, 1), lit("."), suffix)
      Curation.domainCap(docs.withColumn("host", host),
          "doc_id", "host", "n_chars", maxPerDomain = 4)
        .orderBy("domain", "rnk")
    }),

    // --- Unicode NFC cleanup through the native codegen expression:
    // md5-picked decomposed letter+combining-mark pairs, control
    // chars and whitespace runs injected, then cleaned — composition
    // must shrink the codepoint count exactly as DuckDB's
    // utf8proc nfc_normalize says ---
    "q179_nfc_clean" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val h = md5(col("text").cast("binary"))
      val letter = element_at(array(lit("a"), lit("e"), lit("o")),
        (conv(substring(h, 4, 1), 16, 10).cast("int") % 3) + 1)
      val mark = element_at(
        array(lit("\u0301"), lit("\u0300"), lit("\u0308")),
        (conv(substring(h, 5, 1), 16, 10).cast("int") % 3) + 1)
      val raw = concat(substring(col("text"), 1, 12), lit("\u0007 "),
        letter, mark, lit("\t x\r"), lit("  tail "))
      docs.select(col("doc_id"), length(raw).as("n_raw"),
          TextAnalysis.cleanText(raw).as("cleaned"),
          length(TextAnalysis.cleanText(raw)).as("n_clean"))
        .orderBy("doc_id")
    }),

    // --- soft deduplication: every doc keeps a 1/dup_count training
    // weight over its exact-content cluster (clustered on the first-8
    // -char truncation so clusters actually form) — one digest-keyed
    // window, no join-back, text never shuffles ---
    "q180_soft_dedup" -> ((s, d) =>
      Dedup.softDedupWeights(
          t(s, d, "documents").filter(col("text").isNotNull)
            .select(col("doc_id"), substring(col("text"), 1, 8).as("content")),
          "doc_id", "content", alpha = 1.0)
        .orderBy("id")),

    // --- fill-in-the-middle training transform: deterministic 50%
    // gate on (seed, id), content-derived cut points, PSM re-emit —
    // pure projection, zero shuffles, character arithmetic replayed
    // exactly by the oracle ---
    "q181_fim_split" -> ((s, d) =>
      Corpus.fimSplit(t(s, d, "documents").filter(col("text").isNotNull),
          "doc_id", "text", fimRate = 0.5, seed = "fim0")
        .orderBy("id")),

    // --- mergeable histogram quantile sketch: 256 fixed bins over
    // the (min,max) frame, partials merge by adding counts, quantile
    // read-off interpolates in the first bin reaching ceil(q·n) —
    // the constant-state percentile path for a 100 TB profile ---
    "q182_hist_quantiles" -> ((s, d) =>
      Sketch.histQuantiles(t(s, d, "lineitem"), "l_extendedprice",
        nBins = 256, qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99))),

    // --- per-group histogram quantiles: the grouped profile pass
    // (p25/p50/p90/p99 per return flag) — every stage keyed, sketch
    // state |groups|·nBins, raw values scanned exactly twice ---
    "q209_hist_quantiles_by" -> ((s, d) =>
      Sketch.histQuantilesBy(t(s, d, "lineitem"), "l_returnflag",
          "l_extendedprice", nBins = 64, qs = Seq(0.25, 0.5, 0.9, 0.99))
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag", "q")),

    // --- retrieval-quality certification: IVF (nprobe=4/16) scored
    // against the exact brute-force truth — per-query recall@10,
    // MRR@10, binary nDCG@10; DCG folds left-associated over sorted
    // hit ranks so no float sum rides on partition order ---
    "q183_retrieval_metrics" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val c = e.filter(col("vec_id") >= 5)
      val truth = Similarity.bruteForceTopK(q, c,
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
      val retr = Similarity.ivfTopK(q, c,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, nCentroids = 16, nprobe = 4)
      Similarity.retrievalMetrics(truth, retr, k = 10)
        .select(col("query_id"), col("n_truth"), col("n_hits"),
          round(col("recall"), 6).as("recall"),
          round(col("mrr"), 6).as("mrr"),
          round(col("dcg"), 6).as("dcg"),
          round(col("ndcg"), 6).as("ndcg"))
        .orderBy("query_id")
    }),

    // --- tokenizer fertility by language: the trained 10-merge BPE
    // vocab scored per lang — pieces-per-word / chars-per-piece from
    // integer sums over the vocabulary-bounded (lang, word) join ---
    "q184_bpe_fertility" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Corpus.bpeTrain(docs, "text", nMerges = 10)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      Corpus.bpeFertility(docs, "text", "lang", merges.toSeq)
        .withColumnRenamed("g", "lang")
        .orderBy("lang")
    }),

    // --- ZCA whitening of the first 4 embedding dims: exact
    // DECIMAL(38,12) moment sums → driver-side Cholesky (pinned
    // association order) → map-only forward substitution with μ/L as
    // literals; the oracle recomputes the whole chain in SQL ---
    "q185_whiten_embeddings" -> ((s, d) =>
      graft.ops.Projection.whiten(t(s, d, "embeddings"), "vec_id", "embedding",
          d = 4)
        .orderBy("vec_id")),

    // --- epochs-per-domain under a 300k-token budget (τ=0.5
    // temperature shares, ≤4 epochs): the data-constrained repeat
    // plan, all arithmetic on the |domains|-row mixture frame ---
    "q186_token_epochs" -> ((s, d) =>
      Corpus.epochsPerDomain(t(s, d, "documents"), "lang", "n_chars",
          budgetTokens = 300000L, alpha = 0.5, maxEpochs = 4.0)
        .withColumnRenamed("domain", "lang")
        .orderBy("lang")),

    // --- STREAMING histogram-quantile sketch: the 64-bin count table
    // lives as update-mode streaming aggregation state under a live
    // trigger (known (lo,hi) frame — the production one-pass mode);
    // per-trigger emissions max-merge to the batch bin table, and the
    // shared read-off must equal the batch sketch of the same rows ---
    "q187_streaming_histq" -> ((s, d) => {
      import s.implicits._
      val sub = t(s, d, "lineitem")
        .filter(col("l_extendedprice").isNotNull &&
          col("l_orderkey") % 20 === 0)
        .select(col("l_extendedprice").cast("double").as("value"),
          (col("l_orderkey") % 3).cast("int").as("__b"))
      val fr = sub.agg(min("value").as("lo"), max("value").as("hi"),
        count(lit(1)).as("n")).collect()(0)
      if (fr.isNullAt(0)) // empty subset: no frame, empty sketch
        Sketch.histQuantileReadoff(
          Seq.empty[(Double, Double, Long)].toDF("lo", "hi", "n"),
          Seq.empty[(Long, Long)].toDF("bin", "cnt"), 64,
          qs = Seq(0.25, 0.5, 0.9, 0.99)) // same list as the live path
      else {
        val (lo, hi, n) = (fr.getDouble(0), fr.getDouble(1), fr.getLong(2))
        val rows = sub.as[(Double, Int)].collect()
        val batches = (0 to 2).map(b => rows.toSeq.filter(_._2 == b))
        val perTrigger = MicroBatchHarness.run(s, Seq(Feed(Seq("value", "batch"), batches)),
            "graft-stream-histq", Seq("bin", "cnt"),
            OutputMode.Update()) { case Seq(stream) =>
          stream.groupBy(Sketch.histBin(col("value"), lit(lo), lit(hi), 64)
              .as("bin"))
            .agg(count(lit(1)).as("cnt"))
        }
        val bins = perTrigger.groupBy("bin").agg(max("cnt").as("cnt"))
        val frame = Seq((lo, hi, n)).toDF("lo", "hi", "n")
        Sketch.histQuantileReadoff(frame, bins, 64,
          qs = Seq(0.25, 0.5, 0.9, 0.99))
      }
    }),

    // --- STREAMING count–min: the SAME Sketch.countMin operator code
    // runs as update-mode aggregation state under a live trigger
    // (depth×width group space is stream-safe by construction);
    // per-trigger counter emissions max-merge to exactly the batch
    // sketch — the third mergeable sketch proven under a trigger ---
    "q188_streaming_countmin" -> ((s, d) => {
      import s.implicits._
      // Feed DOCUMENTS, tokenize INSIDE the stream: the tokenize +
      // explode runs on the 8 source partitions per trigger (the
      // production shape — a Kafka source carries documents, not
      // pre-exploded tokens), and the driver feed carries one row per
      // doc instead of one per token. The r14 sf1 run measured the
      // token-collect form at ×9.9 wall at data ×10 — ~5M token
      // strings boxed through the driver; per-doc it is ~20k rows.
      // Emissions are identical: same token→batch mapping (batch =
      // doc_id % 3 either way), and the update-mode (r, b) counters
      // depend only on which batch each token arrives in.
      val rows = t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          (col("doc_id") % 3).cast("int").as("__b"))
        .as[(Long, String, Int)].collect()
      val batches = (0 to 2).map(b => rows.toSeq.filter(_._3 == b))
      val perTrigger = MicroBatchHarness.run(s, Seq(Feed(Seq("doc_id", "text", "batch"),
          batches)), "graft-stream-cm", Seq("r", "b", "cnt"),
          OutputMode.Update()) { case Seq(stream) =>
        Sketch.countMin(
          stream.select(explode(TextAnalysis.tokens(col("text"))).as("item")),
          "item", depth = 4, width = 64, salt = "cm9")
      }
      perTrigger.groupBy("r", "b").agg(max("cnt").as("cnt"))
        .orderBy("r", "b")
    }),

    // --- LSH banding calibration: the (bands, rows)·similarity
    // detection-probability table every near-dup run is tuned from —
    // 1−(1−s^r)^b over all divisor splits of 16 hashes plus the s50
    // threshold, pure arithmetic, nothing scans ---
    "q189_lsh_calibration" -> ((s, d) =>
      Dedup.lshCalibration(s, numHashes = 16,
        sGrid = Seq(0.1, 0.3, 0.5, 0.7, 0.8, 0.9))),

    // --- KNN-density scores over the embedding corpus (D4-style
    // pruning signal): self-retrieval top-11, self-match dropped,
    // avg cosine of the 10 nearest folded in rank order — outliers
    // score high, clump members low. This row is the EXACT ground
    // truth twin of q195's gated IVF route; above maxExactQueries the
    // query side drops to a deterministic id-stride CERTIFICATION
    // SAMPLE (pqRecallAudit's contract: ground truth at scale is
    // sampled — each sampled id still scores exactly against the FULL
    // corpus, so cost is S·n, linear in the corpus, never n²; the r13
    // full-suite sf1 run caught the ungated kernel at wall ×56 at
    // data ×10). Bench corpora (sf0.01 = 500, sf0.1 = 2000) sit under
    // the gate, so the oracle row and bench history are unchanged ---
    "q194_knn_density" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val maxExactQueries = 2048L
      val n = e.filter(col("embedding").isNotNull).count()
      val q = if (n <= maxExactQueries) e
        else e.filter(
          pmod(col("vec_id"), lit((n + maxExactQueries - 1) / maxExactQueries))
            === 0)
      Similarity.knnDensity(
          Similarity.bruteForceTopK(q, e,
            "vec_id", "embedding", "vec_id", "embedding", k = 11),
          k = 10)
        .orderBy("id")
    }),

    // --- the PRODUCTION route of the density score: the same
    // knnDensity read-off fed by the GATED int8→IVF self-retrieval
    // (q147's plan shape) — maxExactRows forced below the corpus size
    // so the quadratic kernel never runs; the plan is centroid-seeded
    // cell assignment + nprobe-bounded probing. The centroid count is
    // SIZED TO THE CORPUS (nCentroidsFor: constant ~125-vector cells,
    // so per-query candidates stay ~nprobe·125 at any width — the r12
    // SF1-SCALELAW run caught the previous pinned K=16 going wall
    // ×29 at data ×10) ABOVE an explicit 2048-row gate: the minC=16
    // floor covers the benchmark corpora only up to n=2000 (sf0.1 is
    // 1995 — one more batch of vectors would have flipped the oracle's
    // pinned LIMIT 16 plan), so like q142/q194 the GATE, not the
    // floor, is what freezes the oracle-replayed cell count. q194
    // keeps the exact kernel as ground truth; THIS row certifies the
    // composition a 100 TB corpus actually executes ---
    "q195_knn_density_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.filter(col("embedding").isNotNull).count()
      Similarity.knnDensity(
          Quantize.int8TopKAuto(e, e,
            "vec_id", "embedding", "vec_id", "embedding", k = 11,
            maxExactRows = 100L,
            nCentroids = if (n <= 2048L) 16
                         else Quantize.nCentroidsFor(n),
            nprobe = 4,
            corpusSizeHint = Some(n)),
          k = 10)
        .orderBy("id")
    }),

    // --- the PCA scatter FIGURE under a byte-level oracle (the last
    // artifact of Latanova_v1.py:496-628 without one): q114's
    // isometric 6-dim embedding → spark.ml PCA → canonical planar
    // realization (centroid + min-id rotation + reflection, which
    // erases every eigensolver artifact) → fixed-point scatter
    // render. The oracle re-derives the canonical coords from the
    // generating (a,b) plane directly — no eigensolver in SQL — and
    // replays the identical micro-unit quantization + integer pixel
    // grid, so the SVG documents match byte-for-byte ---
    "q196_pca_scatter_svg" -> ((s, d) => {
      val scores = graft.ops.Projection.pca(rank2Embedding(s, d), "id", "emb", k = 2)
        .select(col("id"), element_at(col("pc"), 1).as("px"),
          element_at(col("pc"), 2).as("py"))
      val canon = graft.ops.Projection.canonical2d(scores, "id", "px", "py")
      Svg.scatter(canon, "x", "y", "id", "pca projection")
        .select(lit("scatter_pca").as("plot"), col("svg"))
    }),

    // --- STREAMING KMV via flatMapGroupsWithState — the CUSTOM-state
    // streaming sketch (bottom-k needs an ordered capped set no
    // built-in agg expresses); per-trigger sketch emissions min-merge
    // to the batch bottom-k, read off by the shared estimator ---
    "q193_streaming_kmv" -> ((s, d) => {
      import s.implicits._
      val rows = t(s, d, "events").filter(col("user_id").isNotNull)
        .select(md5(col("user_id").cast("string").cast("binary")).as("h"),
          (col("event_id") % 3).cast("int").as("__b"))
        .as[(String, Int)].collect()
      val batches = (0 to 2).map(b => rows.toSeq.filter(_._2 == b))
      val perTrigger = MicroBatchHarness.run(s, Seq(Feed(Seq("h", "batch"), batches)),
          "graft-stream-kmv", Seq("key", "h_out"),
          OutputMode.Update()) { case Seq(stream) =>
        graft.streaming.StreamingProfile.streamingKmv(
          stream.select(lit("user_id").as("k"), col("h"))
            .as[(String, String)], k = 64)
          .toDF("key", "h_out")
      }
      Sketch.kmvFinish(perTrigger, "h_out", k = 64)
    }),

    // --- Aho–Corasick blocklist scan: per-term overlapping substring
    // counts for a 6-term list in ONE automaton pass per doc (native
    // expression carrying the automaton as a codegen reference) —
    // the shape that holds when the blocklist has 10k terms ---
    "q191_blocklist_scan" -> ((s, d) => {
      val terms = Seq("spark", "shuffle", "window", "merge", "the", "a big")
      val counts = TextAnalysis.termCounts(col("text"), terms)
      t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id") +: counts.as("c") +: Nil: _*)
        .select(col("doc_id") +:
          terms.zipWithIndex.map { case (tm, i) =>
            element_at(col("c"), i + 1).as("n_" + tm.replace(" ", "_"))
          } :+
          aggregate(col("c"), lit(0), (a, x) => a + x).as("total") :+
          (aggregate(col("c"), lit(0), (a, x) => a + x) > 0).cast("int")
            .as("flagged"): _*)
        .orderBy("doc_id")
    }),

    // --- composed safety/keep decision: encoding health + quality
    // floor + token-count band + zero blocklist hits, every signal an
    // already-oracled operator — the end-to-end corpus admission
    // verdict in one codegen projection ---
    "q192_safety_filter" -> ((s, d) => {
      val bad = Seq("merge", "window")
      val text = col("text")
      val q = TextAnalysis.qualityFromStats(col("__st"))
      val nt = col("__st").getField("n_tokens").cast("long")
      val enc = TextAnalysis.encodingAudit(text).getField("encoding_ok")
      val hits = TextAnalysis.blocklistHits(text, bad)
      t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokenStatsEn(text).as("__st"),
          enc.as("__enc"), hits.as("__hits"))
        .select(col("doc_id"), round(q, 6).as("quality"), nt.as("n_tokens"),
          col("__enc").as("encoding_ok"), col("__hits").as("blocklist_hits"),
          (col("__enc") === 1 && q >= 0.5 && nt >= 10 && nt <= 10000 &&
            (col("__hits") === 0)).cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // --- encoding-health audit: U+FFFD, double-decoded "Ã?"
    // mojibake pairs, and control chars counted per doc over
    // md5-gated synthetic corruption — the re-decode triage signal,
    // one codegen projection ---
    "q190_encoding_audit" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val g = (conv(substring(md5(col("text").cast("binary")), 6, 1), 16, 10)
        .cast("int") % 8)
      val injected = when(g <= 2, concat(col("text"), lit(" x\u00C3\u00A9y")))
        .when(g === 3, concat(col("text"), lit("\uFFFD\uFFFD")))
        .when(g === 4, concat(lit("\u0007"), col("text")))
        .otherwise(col("text"))
      docs.select(col("doc_id"),
          TextAnalysis.encodingAudit(injected).as("a"))
        .select(col("doc_id"), col("a.n_replacement"), col("a.n_mojibake"),
          col("a.n_ctrl"), col("a.encoding_ok"))
        .orderBy("doc_id")
    }),

    // --- pairwise SOURCE-OVERLAP matrix from per-source KMV
    // sketches: which sources share vocabulary, estimated for all
    // 190 source pairs from ONE corpus scan reduced to ≤ 20·64
    // digests — the sketch-powered answer to "which crawls duplicate
    // each other" that never joins the corpora ---
    "q176_source_overlap" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
      Sketch.kmvJaccardByGroup(toks, "source", "tok", k = 64)
        .withColumnRenamed("ga", "source_a")
        .withColumnRenamed("gb", "source_b")
        .orderBy("source_a", "source_b")
    }),

    // --- Gopher-style quality rules (Rae et al. 2021 Table A1
    // subset): five per-doc flags + the composite pass, each ratio a
    // single exact-integer division — the published-recipe filter
    // beside q20's ad-hoc score ---
    "q175_gopher_rules" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.gopherFlags(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
          col("g.wc_ok"), col("g.mwl_ok"), col("g.sym_ok"),
          col("g.alpha_ok"), col("g.stop_ok"), col("g.pass"))
        .orderBy("doc_id")),

    // --- gap-based sessionization of the event stream (30-min gap):
    // one per-user window pass + keyed agg, all time arithmetic in
    // integer epoch-millis so sessions replay exactly ---
    "q171_sessionize" -> ((s, d) =>
      Temporal.sessionize(t(s, d, "events"), "user_id", "event_id", "ts",
          gapMs = 30L * 60 * 1000)
        .withColumnRenamed("k", "user_id")
        .orderBy("user_id", "session_idx")),

    // --- STREAM–STREAM watermarked interval join under a real
    // micro-batch trigger: clicks and views as two independent
    // streams, inner-joined per user on "view within the hour before
    // the click". Cross-batch matches exercise the join STATE (a
    // batch-0 click pairs with a batch-2 view); the long watermark
    // keeps eviction out of the oracle window while the plumbing —
    // two watermarks + interval condition, the production state-bound
    // — is the real plan. Must equal the batch interval join. ---
    "q168_streaming_join" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      def side(tpe: String) = ev.filter(col("event_type") === tpe)
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("event_id") % 3).cast("int").as("__b"))
        .as[(Long, Long, java.sql.Timestamp, Int)].collect()
      val clicks = side("click"); val views = side("view")
      def batches(rows: Array[(Long, Long, java.sql.Timestamp, Int)]) =
        (0 to 2).map(b => rows.toSeq.filter(_._4 == b))
      MicroBatchHarness.run(s,
          Seq(Feed(Seq("click_id", "user_id", "c_ts", "cb"), batches(clicks)),
            Feed(Seq("view_id", "v_user_id", "v_ts", "vb"), batches(views))),
          "graft-stream-join",
          Seq("user_id", "click_id", "view_id")) { case Seq(a, b) =>
        a.withWatermark("c_ts", "365 days")
          .join(b.withWatermark("v_ts", "365 days"),
            expr("user_id = v_user_id AND " +
              "v_ts >= c_ts - interval 1 hour AND v_ts <= c_ts"))
          .select(col("user_id"), col("click_id"), col("view_id"))
      }.orderBy("user_id", "click_id", "view_id")
    }),

    // --- collocation mining: top-k adjacent-token pairs by PMI —
    // the phrase-induction pass of tokenizer/vocab pipelines ---
    "q134_collocations" -> ((s, d) =>
      Corpus.collocations(t(s, d, "documents"), "text",
          minCount = 5L, k = 30)
        .orderBy(desc("pmi"), col("w1"), col("w2"))),

    // --- salted skew join: result-invariant vs the plain join (the
    // oracle computes the plain join — identical output proves it) ---
    "q104_salted_join" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_suppkey").as("suppkey"),
        col("l_extendedprice"), col("l_discount"))
      val sup = t(s, d, "supplier").select(
        col("s_suppkey").as("suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, sup, "suppkey", saltFactor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .cast("double"), 6).as("revenue"))
        .orderBy("s_nationkey")
    }),

    // --- hot-key diagnostic: top-N key shares, deterministic cut ---
    "q105_skew_report" -> ((s, d) =>
      Skew.keySkewReport(
        t(s, d, "events").filter(col("user_id").isNotNull), "user_id", 10)),

    // --- 2-d equi-width histogram (heatmap prep): one extent agg +
    // one (bx,by) count; frames bounded by the cell grid ---
    "q101_hist2d" -> ((s, d) =>
      graft.engine.Histogram.equiWidth2d(
        t(s, d, "lineitem"), "l_quantity", "l_extendedprice", 10, 8)
        .orderBy("bx", "by")),

    // --- mutual information between categoricals: contingency from
    // one narrow agg, MI assembled on the distinct-pair frame ---
    "q102_mutual_info" -> ((s, d) =>
      Drift.mutualInformation(t(s, d, "orders"),
        col("o_orderstatus"), col("o_orderpriority"))),

    // --- per-group linear trend: algebraic regr aggregates, one
    // map-side-combined scan ---
    "q103_trend" -> ((s, d) =>
      graft.engine.Profiler.groupedTrend(
        t(s, d, "events").filter(col("ts").isNotNull), "event_type",
        (unix_timestamp(col("ts")) -
          unix_timestamp(to_timestamp(lit("2024-01-01 00:00:00"))))
          .cast("double") / 86400.0,
        col("value"))
        .orderBy("key")),

    // --- language confusion matrix: declared metadata vs detected
    // langId — the metadata-QA op; ≤|langs|² frame after one scan ---
    "q100_lang_confusion" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("lang").isNotNull)
        .select(col("lang").as("declared"),
          TextAnalysis.tokenStatsLangs(col("text")).as("__st"))
        .select(col("declared"),
          TextAnalysis.langIdFromStats(col("__st")).as("detected"))
        .groupBy("declared", "detected").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = docs.groupBy("declared").agg(sum("n").as("__t"))
      docs.join(broadcast(tot), "declared")
        .select(col("declared"), col("detected"), col("n"),
          round(col("n").cast("double") / col("__t"), 6).as("frac"))
        .orderBy("declared", "detected")
    }),

    // --- incremental profile: per-shard exact moment partials merged
    // into the direct single-pass profile bit-for-bit ---
    "q99_incremental_profile" -> ((s, d) =>
      graft.engine.Profiler.mergeMoments(
        graft.engine.Profiler.partialMoments(
          t(s, d, "documents"), "lang", "n_chars"))),

    // --- funnel conversion-lag quantiles: one fused keyed agg for
    // both firsts, PERCENTILE_DISC over the ≤|keys| lag frame ---
    "q98_conversion_lag" -> ((s, d) =>
      Temporal.conversionLag(t(s, d, "events"), "user_id", "ts",
        "event_type", fromStep = "view", toStep = "purchase",
        qs = Seq(0.5, 0.9, 0.99))
        .withColumn("lag_s", col("value").cast("long")).drop("value")
        .orderBy("quantile")),

    // --- exact weighted quantiles: distinct-value collapse + shared
    // prefix pass; PERCENTILE_DISC convention, fixed-point weights ---
    "q97_weighted_quantiles" -> ((s, d) =>
      graft.engine.Quantiles.weightedExact(
        t(s, d, "lineitem"), "l_extendedprice", "l_quantity",
        Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy("quantile")),

    // --- referential-integrity expectation: parent reduces to distinct
    // keys, orphan probe is a broadcastable left-anti join ---
    "q95_referential" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val cust = t(s, d, "customer")
      Expectations.checkReferential(orders, "o_custkey", cust, "c_custkey")
        .unionByName(
          Expectations.checkReferential(orders, "o_custkey",
            cust.filter(col("c_custkey") < 700), "c_custkey")
            .withColumn("rule", concat(col("rule"), lit("@lt700"))))
        .orderBy("rule")
    }),

    // --- Benford first-digit screen: one scan, arithmetic on 9 rows ---
    "q96_benford" -> ((s, d) =>
      Expectations.benford(t(s, d, "orders"), "o_totalprice")
        .orderBy("digit")),

    // --- per-group percent rank, windowless: rank table from one
    // shared range sort + per-group offsets; survives group skew ---
    "q93_percent_rank_by" -> ((s, d) =>
      Drift.percentRankBy(
        t(s, d, "events").select("event_id", "event_type", "value")
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        "event_type", "value")
        .select(col("event_id"), col("event_type"),
          round(col("pct_rank"), 6).as("pct_rank"))
        .orderBy("event_id")),

    // --- item co-occurrence matrix: distinct presence rows, per-key
    // pair join bounded by the item vocabulary ---
    "q94_cooccurrence" -> ((s, d) =>
      Frequent.coOccurrence(t(s, d, "events"), "user_id", "event_type")
        .orderBy("item_a", "item_b")),

    // --- CDC merge: changelog compacts to latest-per-key in ONE
    // max_by shuffle, then anti-join + union against the base ---
    "q91_cdc_merge" -> ((s, d) => {
      val base = t(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val changes = t(s, d, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_orderpriority").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 < 2, lit("delete"))
          .otherwise(lit("upsert")).as("op"))
      Snapshot.applyChangeLog(base, changes, "c_custkey", "seq", "op")
        .orderBy("c_custkey")
    }),

    // --- SCD-2 version history: per-key lead chains valid_from/to ---
    "q92_scd2" -> ((s, d) =>
      Snapshot.scd2(
        t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        "o_custkey", "o_orderkey")
        .select(col("o_custkey"), col("valid_from"), col("valid_to"),
          col("is_current"), col("o_totalprice"))
        .orderBy("o_custkey", "valid_from")),

    // --- trailing moving average, windowless: each bucket explodes
    // into the ≤window buckets it feeds; calendar-bounded frames ---
    "q89_moving_average" -> ((s, d) =>
      Temporal.movingAverage(t(s, d, "events"), "ts", "value",
        unit = "day", window = 7)
        .orderBy("bucket")),

    // --- DAU/WAU engagement report: distinct (key, day) at the scan,
    // rolling distinct via the contribution explode ---
    "q90_active_users" -> ((s, d) =>
      Temporal.activeUsers(t(s, d, "events"), "user_id", "ts",
        unit = "day", window = 7)
        .orderBy("bucket")),

    // --- declarative data-expectations report (k row rules fused into
    // ONE scan + a distinct-count uniqueness rule) ---
    "q82_expectations" -> ((s, d) => {
      val df = t(s, d, "orders")
      Expectations.report(df,
        rules = Seq(
          Expectations.rowRule("notnull(o_custkey)", col("o_custkey").isNotNull),
          Expectations.rowRule("positive(o_totalprice)", col("o_totalprice") > 0),
          Expectations.rowRule("cap(o_totalprice)", col("o_totalprice") <= 400000),
          Expectations.rowRule("set(o_orderstatus)",
            col("o_orderstatus").isin("O", "F", "P")),
          Expectations.rowRule("pattern(o_orderpriority)",
            col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")),
          Expectations.rowRule("recent(o_orderdate)",
            col("o_orderdate") < lit("2000-01-01").cast("timestamp"))),
        uniqueKeys = Seq(Seq("o_orderkey")))
        .orderBy("rule")
    }),

    // --- fixed-iteration PageRank over the part↔supplier co-purchase
    // graph (symmetrized; exact fixed-point sums — see Graph.pageRank) ---
    "q83_pagerank" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      // LONG keys end-to-end (r14): the whole iteration runs on packed
      // long vertex ids — part k ↦ 2k, supplier k ↦ 2k+1 (a bijection:
      // the p/s namespaces are disjoint by parity) — decoded to the
      // published "p…"/"s…" strings only in the final projection.
      // Ranks are a pure function of graph structure, so values are
      // bit-identical under the bijection, but every internal shuffle
      // (degree agg, contribution agg, rank joins ×3 rounds) moves
      // 8-byte keys instead of ~10-char strings. The distinct runs on
      // the raw (pk, sk) pairs BEFORE symmetrization (|lineitem| rows,
      // narrowest form), and pageRank is told assumeDistinct — the
      // union of a distinct directed set with its parity-disjoint
      // reverse is provably duplicate-free, so the internal re-dedup
      // of 11.8M sym edges is skipped outright.
      val pairs = li.select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = pairs.select(
        (col("pk") * 2).as("a"), (col("sk") * 2 + 1).as("b"))
      val sym = edges.unionByName(
        edges.select(col("b").as("a"), col("a").as("b")))
      Graph.pageRank(sym, "a", "b", iterations = 3, assumeDistinct = true)
        .select(
          concat(when(pmod(col("id"), lit(2)) === 0, lit("p")).otherwise(lit("s")),
            expr("CAST(id DIV 2 AS STRING)")).as("id"),
          round(col("pr"), 6).as("pr"))
        .orderBy("id")
    }),

    // --- exact Jaccard similarity join via prefix filtering: same
    // result set as brute force (no LSH false negatives) while the
    // O(n²) pair space never materializes — the oracle verifies with
    // an all-pairs plan, this side with the prefix-filtered join.
    // Size-routed (r14): the bench corpora (≤5050 docs) sit under the
    // 8192-doc gate, so the oracle row and bench history are
    // unchanged; above it the router flips to MinHash-LSH candidates
    // + the same exact verification (q24's machinery) — the r13 sf1
    // run measured the exact route at ×7.7 for data ×10 (linear-work
    // saturation on a rotation-disjoint corpus), the cliff the gate
    // makes unreachable for production callers ---
    "q84_jaccard_join_prefix" -> ((s, d) => {
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
      Dedup.jaccardJoinAuto(dup, "doc_id", "text", minJaccard = 0.8, k = 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // --- containment join: ordered pairs where ≥90% of a's shingles
    // appear in b — the quote/boilerplate-inclusion relation Jaccard
    // misses; snippets (first 12 tokens) of the first 100 docs are
    // injected so true containments exist, and the oracle brute-forces
    // all pairs while this side joins prefixes only ---
    "q118_containment_join" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
        .select("doc_id", "text")
      val snip = docs.select((col("doc_id") + 20000).as("doc_id"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 12), " ").as("text"))
      Dedup.containmentJoinPrefix(docs.unionByName(snip), "doc_id", "text",
          minContainment = 0.9)
        .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")
    }),

    // --- incremental near-dup admission: the daily-append shape —
    // incoming shard tested against the PRIOR corpus's persisted
    // sketch table (one long per historical doc; history text never
    // re-read), then intra-shard near-dups collapse via CC ---
    "q120_incremental_admit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prior = docs.filter(col("doc_id") < 400)
      val incoming = docs.filter(col("doc_id") >= 400)
        .select("doc_id", "text", "n_chars")
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 30000).as("doc_id"),
            concat(col("text"), lit(" nearmarker")).as("text"), col("n_chars")))
      Dedup.admitIncremental(incoming, "doc_id", "text",
          Dedup.sketchTable(prior, "doc_id", "text"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // --- SemDeDup semantic dedup: k-means clusters bound the pair
    // space (Σ|cluster|² ≈ n²/k, cluster id = the one join key), CC
    // chains within-cluster near-dup pairs, lowest id survives ---
    "q85_semantic_dedup" -> ((s, d) => {
      val dup = withDups(t(s, d, "embeddings"), "vec_id", 50, 10000)
      Similarity.semanticDedup(dup, "vec_id", "embedding", nClusters = 16,
        threshold = 0.99, kmeansIterations = 0, ccRounds = 3)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // --- cohort retention matrix: cohort sizes ride the age-0 row
    // (every key is active in its first bucket), so the only frames
    // after the (key, bucket) distinct are calendar-bounded ---
    "q86_retention" -> ((s, d) =>
      Temporal.retention(t(s, d, "events"), "user_id", "ts", unit = "day")
        .withColumn("cohort", date_format(col("cohort"), "yyyy-MM-dd"))
        .orderBy("cohort", "age")),

    // --- temperature-scaled mixture rates: target share ∝ tokens^α,
    // the multilingual upsample-low-resource rule, no hand target map ---
    "q87_temperature_mixture" -> ((s, d) =>
      Corpus.temperatureWeights(t(s, d, "documents"), "lang", "n_chars",
        alpha = 0.5)
        .orderBy("domain")),

    // --- exact frequent tokens (two-phase Misra-Gries: the tail never
    // shuffles; result identical to the naive full groupBy) ---
    "q62_frequent_tokens" -> ((s, d) =>
      Frequent.frequentTokens(t(s, d, "documents"), "text", support = 0.001)
        .orderBy("item")),

    // --- equi-depth histogram (windowless NTILE via the two-pass
    // distributed rank; id tie-break pins bucket edges cross-engine) ---
    "q63_equidepth_histogram" -> ((s, d) =>
      Histogram.equiDepth(t(s, d, "events"), "value", "event_id",
        buckets = 8)
        .select(col("bucket"), col("cnt"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
        .orderBy("bucket")),

    // --- pairwise correlation matrix in one scan ---
    "q64_correlation_matrix" -> ((s, d) =>
      Profiler.correlationMatrix(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_x", "col_y")),

    // --- winsorized robust profile (quantile-clipped moments) ---
    "q65_winsorized_profile" -> ((s, d) =>
      Profiler.winsorizedProfile(t(s, d, "lineitem"),
        "l_extendedprice", pLo = 0.01, pHi = 0.99)),

    // --- two-sample KS drift (windowless ECDF via grouped prefix sums;
    // even/odd event split should show near-zero drift) ---
    "q66_ks_drift" -> ((s, d) =>
      Drift.ksTwoSample(t(s, d, "events"), col("value"),
        col("event_id") % 2 === 0)),

    // --- PSI drift over equi-depth deciles of the baseline sample ---
    "q67_psi_drift" -> ((s, d) =>
      Drift.psi(t(s, d, "events"), col("value"), col("event_id") % 2 === 0,
        bins = 10)
        .select(col("bin").cast(LongType).as("bin"), col("n_base"),
          col("n_cur"), col("psi_contrib"))
        .orderBy("bin")),

    // --- chi-square independence over a contingency of distinct levels ---
    "q68_chi_square" -> ((s, d) =>
      Drift.chiSquare(t(s, d, "lineitem"), col("l_returnflag"),
        col("l_linestatus"))),

    // --- functional-dependency / candidate-key profile ---
    "q69_functional_deps" -> ((s, d) =>
      Drift.functionalDependencies(t(s, d, "orders"),
        Seq("o_orderkey" -> "o_custkey", "o_custkey" -> "o_orderpriority",
          "o_orderpriority" -> "o_orderstatus"))
        .orderBy("det", "dep")),

    // --- completeness/cardinality/entropy summary, k columns one shuffle ---
    "q70_column_summary" -> ((s, d) =>
      Profiler.columnSummary(t(s, d, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
        .orderBy("col_name")),

    // --- deterministic corpus shuffle + shard layout (epoch permutation) ---
    "q71_shuffle_shards" -> ((s, d) =>
      Corpus.shuffleShards(t(s, d, "documents"), "doc_id", shardSize = 64)
        .select("doc_id", "shuffle_pos", "shard", "shard_offset")
        .orderBy("doc_id")),

    // --- ordered funnel (view → click → purchase, first-touch) ---
    "q72_funnel" -> ((s, d) =>
      Temporal.funnel(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
        .orderBy("step")),

    // --- windowless PERCENT_RANK normalization (rank via grouped
    // prefix sums; fact rows re-join the distinct-bounded rank table) ---
    "q73_percent_rank" -> ((s, d) =>
      Drift.percentRank(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity")), "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("pct_rank"), 6).as("pct_rank"))
        .orderBy("l_orderkey", "l_linenumber")),

    // --- per-column statistical profiling (engine core) ---
    "q01_profile_extendedprice" -> ((s, d) => Profiler.numericProfile(t(s, d, "lineitem"), "l_extendedprice")),
    "q02_profile_totalprice" -> ((s, d) => Profiler.numericProfile(t(s, d, "orders"), "o_totalprice")),
    "q03_profile_quantity" -> ((s, d) => Profiler.numericProfile(t(s, d, "lineitem"), "l_quantity")),

    "q04_value_counts_priority" -> ((s, d) => valueCounts(t(s, d, "orders"), "o_orderpriority")),
    "q05_value_counts_mktsegment" -> ((s, d) => valueCounts(t(s, d, "customer"), "c_mktsegment")),
    "q06_value_counts_returnflag" -> ((s, d) => valueCounts(t(s, d, "lineitem"), "l_returnflag")),

    "q07_profile_datetime_orders" -> ((s, d) => {
      val df = t(s, d, "orders")
      val e = unix_timestamp(col("o_orderdate"))
      val moments = df.agg(
        count(col("o_orderdate")).as("n"),
        sum(e.cast(dec)).as("s1"),
        sum((e * e).cast(DecimalType(38, 0))).as("s2"),
        min(e).as("mn_epoch"), max(e).as("mx_epoch"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"),
        percentile(e, lit(0.5)).as("med"))
      val n = col("n").cast("double")
      val mean = col("s1").cast("double") / n
      // 2-dp rounding: epoch stats are ~1e8-1e9; 6-dp would demand more
      // significant digits than cross-engine double math guarantees
      // (variance cancellation leaves ~1e-6 noise on std)
      moments.select(col("n"),
        round(mean, 2).as("mean_epoch"),
        round(sqrt(col("s2").cast("double") / n - mean * mean), 2).as("std_epoch"),
        col("mn_epoch"), col("mx_epoch"), col("min_date"), col("max_date"),
        round(col("med"), 2).as("median_epoch"))
    }),

    "q08_boolean_profile_events" -> ((s, d) => {
      val df = t(s, d, "events")
      val b = (col("event_type") === "click")
      df.agg(
        sum(when(b, 1L).otherwise(0L)).as("true_count"),
        sum(when(!b, 1L).otherwise(0L)).as("false_count"),
        count(lit(1)).as("n"))
        .withColumn("true_prob",
          round(col("true_count").cast("double") / col("n"), 6))
    }),

    // --- detection-ladder signals (engine core) ---
    "q09_detect_signals_orders" -> ((s, d) => {
      val df = t(s, d, "orders")
      val dateStr = date_format(col("o_orderdate"), "yyyy-MM-dd")
      val keyStr = col("o_orderkey").cast(StringType)
      df.agg(
        count(lit(1)).as("n"),
        // the documented phone-precedence quirk: ISO dates strip to 8 digits
        round(avg(when(length(regexp_replace(dateStr, "\\D", "")).between(7, 15), 1.0).otherwise(0.0)), 6).as("date_phone_ratio"),
        round(avg(when(keyStr.rlike("@[^@]*\\."), 1.0).otherwise(0.0)), 6).as("key_email_ratio"),
        round(avg(when(keyStr.try_cast(DoubleType).isNotNull, 1.0).otherwise(0.0)), 6).as("key_numeric_ratio"),
        count_distinct(col("o_orderpriority")).as("priority_distinct"),
        round(count_distinct(col("o_orderpriority")).cast("double") / count(lit(1)), 6).as("priority_unique_ratio"))
    }),

    "q10_bool_votes_lineitem" -> ((s, d) => {
      val df = t(s, d, "lineitem")
      val rf = lower(trim(col("l_returnflag")))
      val ls = lower(trim(col("l_linestatus")))
      df.agg(
        count(lit(1)).as("n"),
        sum(when(rf.isin("y", "n"), 1L).otherwise(0L)).as("rf_vote_yn"),
        sum(when(rf.isin("t", "f"), 1L).otherwise(0L)).as("rf_vote_tf"),
        sum(when(rf.isin("true", "false"), 1L).otherwise(0L)).as("rf_vote_truefalse"),
        sum(when(ls.isin("t", "f"), 1L).otherwise(0L)).as("ls_vote_tf"),
        count_distinct(rf).as("rf_distinct_norm"),
        max(when(rf.isin(Detector.boolTokens: _*), 0).otherwise(1)).as("rf_nonbool"))
    }),

    // --- histogram prep / binning ---
    "q11_histogram_extendedprice" -> ((s, d) => {
      val df = t(s, d, "lineitem")
      val bounds = df.agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      val x = col("l_extendedprice")
      val bucket = least(greatest(
        floor((x - col("lo")) / (col("hi") - col("lo")) * 50), lit(0)), lit(49))
      df.crossJoin(broadcast(bounds))
        .groupBy(bucket.cast(IntegerType).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    }),

    // --- scalar string/regex expression surface ---
    "q12_string_ops_customer" -> ((s, d) => {
      t(s, d, "customer").select(
        col("c_custkey"),
        lower(col("c_name")).as("name_lower"),
        length(col("c_name")).as("name_len"),
        regexp_replace(col("c_name"), "\\D", "").as("digits"),
        substring(col("c_name"), 1, 8).as("prefix"),
        when(col("c_name").rlike("^Customer#\\d+$"), 1).otherwise(0).as("shape_ok"))
        .orderBy("c_custkey")
    }),

    // --- semi-structured: JSON props ---
    "q13_json_events" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(sum(col("k")).cast("double") / count(col("k")), 6).as("avg_k"))
        .orderBy("event_type")
    }),

    // --- window functions / top-k ---
    "q14_topk_users_by_type" -> ((s, d) => {
      val per = t(s, d, "events")
        .groupBy("event_type", "user_id")
        .agg(sum(col("value").cast(dec)).as("total_dec"), count(lit(1)).as("n_events"))
      // event_type is 5-valued: a plain per-type window would sort every
      // user of a type in ONE task at scale — the salted two-phase
      // top-k is result-identical with bounded tasks
      Skew.topKPerGroup(per, "event_type", col("user_id"), k = 3,
          orderCols = Seq(desc("total_dec"), asc("user_id")))
        .select(col("event_type"), col("rank"), col("user_id"),
          round(col("total_dec").cast("double"), 6).as("total"), col("n_events"))
        .orderBy("event_type", "rank")
    }),

    // --- joins + aggregation ---
    "q15_revenue_by_segment" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val customer = t(s, d, "customer")
      orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast(dec)).cast("double"), 6).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    "q16_q1_lineitem" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity").cast(dec)).cast("double"), 6).as("sum_qty"),
          round(sum(col("l_extendedprice").cast(dec)).cast("double"), 6).as("sum_base_price"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec)).cast("double"), 6).as("sum_disc_price"),
          round(sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // --- time windows (batch form of the streaming aggregation) ---
    "q17_hourly_events" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast(dec)).cast("double"), 6).as("sum_value"))
        .orderBy("hour", "event_type")
    }),

    "q18_sessionize_events" -> ((s, d) => {
      val df = t(s, d, "events")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gap = (unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w))
      df.withColumn("new_session",
          when(gap.isNull || gap > 1800000L, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // --- text analysis (north star) ---
    "q19_token_stats" -> ((s, d) => {
      // one fused byte pass per doc (TokenStats), projected once — the
      // HOF chain tokenized each doc 3x (count, subwords, mean length)
      val st = col("__st")
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokenStats(col("text")).as("__st"))
        .select(
          col("doc_id"),
          st.getField("n_tokens").as("n_tokens"),
          st.getField("sum_subwords").as("n_subwords"),
          round(TextAnalysis.meanTokenLenFromStats(st), 6).as("mean_token_len"))
        .orderBy("doc_id")
    }),

    "q20_quality_scores" -> ((s, d) => {
      val st = col("__st")
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokenStatsEn(col("text")).as("__st"))
        .select(
          col("doc_id"),
          round(TextAnalysis.punctRatioFromStats(st), 6).as("punct_ratio"),
          round(TextAnalysis.stopwordRatioFromStats(st), 6).as("stopword_ratio"),
          round(TextAnalysis.qualityFromStats(st), 6).as("quality"))
        .orderBy("doc_id")
    }),

    "q21_langid" -> ((s, d) => {
      val st = col("__st")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang").as("lang_actual"),
          TextAnalysis.tokenStatsLangs(col("text")).as("__st"))
        .select(col("doc_id"), col("lang_actual"),
          st.getField("stops").getItem(0).as("sw_en"),
          st.getField("stops").getItem(1).as("sw_de"),
          st.getField("stops").getItem(2).as("sw_es"),
          st.getField("stops").getItem(3).as("sw_fr"),
          TextAnalysis.langIdFromStats(st).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q22_fingerprints" -> ((s, d) => {
      val c = col("text")
      val docs = t(s, d, "documents")
      docs.select(
        col("doc_id"),
        TextAnalysis.fingerprint(c).as("fp"),
        TextAnalysis.rollingHash(c).as("rolling"),
        TextAnalysis.simHashRow(c, 16).as("simhash"))
        .orderBy("doc_id")
    }),

    // --- deduplication (north star) ---
    "q23_dedup_exact" -> ((s, d) => {
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
      Dedup.exact(dup, "doc_id", "text")
        .select("fp", "keep_id", "dup_count")
        .orderBy("keep_id")
    }),

    "q24_dedup_minhash" -> ((s, d) => {
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
      Dedup.minhashCandidates(dup, "doc_id", "text", numHashes = 16, bands = 4)
        .orderBy("id_a", "id_b")
    }),

    // LSH candidates verified by exact Jaccard — the composition that
    // avoids all-pairs work (Dedup.lshJaccardDedup)
    "q25_dedup_jaccard" -> ((s, d) => {
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
      Dedup.lshJaccardDedup(dup, "doc_id", "text", numHashes = 16, bands = 4,
        k = 3, minJaccard = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "q26_dedup_simhash" -> ((s, d) => {
      val dup = withDups(t(s, d, "documents"), "doc_id", 50, 10000)
      dup.groupBy(TextAnalysis.simHashRow(col("text"), 16).as("simhash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy("keep_id")
    }),

    // size-routed (r13): the exact blocked kernel is O(n²) compares by
    // construction — fine at bench corpora (≤ 2050 vectors, under the
    // gate, so oracle row and bench history are unchanged), but the
    // full-suite sf1 run measured it ×7.8 at data ×10 and the curve
    // only steepens; above the gate the hyperplane-LSH bucketed kernel
    // (q37's path) takes over
    "q27_dedup_embedding" -> ((s, d) => {
      val dup = withDups(t(s, d, "embeddings"), "vec_id", 50, 10000)
      Similarity.cosinePairsAuto(dup, "vec_id", "embedding", 0.99,
        maxExactRows = 4096)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    }),

    // --- similarity search (north star) ---
    "q28_ann_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // IVF two-stage ANN — oracle-checked end to end (centroid seed =
    // lowest ids, nprobe=4 of 16 clusters)
    "q30_ann_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, nCentroids = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("query_id", "rank")
    }),

    // --- the detection ladder end-to-end: classify every events column
    // with the reference precedence (SURVEY.md §1), oracle replays the
    // same ladder in SQL ---
    "q33_detect_types_events" -> ((s, d) => {
      import s.implicits._
      val detected = graft.engine.Detector.detect(t(s, d, "events"))
      detected.toSeq.sortBy(_._1)
        .map { case (n, (st, sig)) => (n, st.name, sig.n, sig.nDistinct) }
        .toDF("col_name", "semantic_type", "n", "n_distinct")
    }),

    // --- full reference pipeline: profile → synthesize → validate.
    // The samplers are non-SQL-expressible, so the row can never be
    // value-replayed (the deterministic twin q159 is); since r12 the
    // row still carries a CHECKED signal beyond its row count: it
    // returns the reference's own validation readout
    // (`validate_synthetic_data`, Latanova_v1.py:425-494) as a verdict
    // frame — per generated column, the exact sample count and a
    // within-tolerance flag at the spec-enforced bands
    // (SyntheticPipelineSpec §5 tolerances) — and the oracle asserts
    // every flag TRUE and n = nSamples. The run is seeded, so the
    // verdict is deterministic; a sampler regression (bias, wrong
    // moments, dropped rows) flips a flag or the count and reds the
    // row. ---
    "q32_synthetic_pipeline" -> ((s, d) => {
      import graft.engine.{SyntheticPipeline, DetectorConfig, SemanticType}
      val orders = t(s, d, "orders")
      val cfg = SyntheticPipeline.Config(
        detector = DetectorConfig(strictFormats = true),
        nSamples = 1000, seed = 42, textColumns = false)
      val result = SyntheticPipeline.run(orders, cfg)
      val nRows = result.synthetic.count()
      import s.implicits._
      result.validation.toSeq.map { case (name, m) =>
        val p = result.profiles(name)
        val ok = p.semanticType match {
          case SemanticType.Integer | SemanticType.Float =>
            // constant columns (std = 0) generate constants: non-strict
            // bound keeps 0 <= 0 true
            val std = p.numeric.get.std
            m("mean_error") <= 0.1 * std && m("std_error") <= 0.15 * std
          case SemanticType.Boolean => m("true_prob_error") < 0.05
          case SemanticType.Categorical =>
            // probability-error band only: top-category IDENTITY is not
            // a stable statistic when the source is near-uniform
            // (o_orderpriority is ~0.2 x 5 — any draw can flip the
            // argmax while every probability is within band)
            m("avg_prob_error") < 0.05
          case SemanticType.Datetime =>
            m("mean_epoch_error") <= p.datetime.get.epoch.std
          case _ => // text/email/phone: embedding-space moment bands
            val o = p.text.get
            m("mean_error") < math.max(0.05, math.abs(o.overallMean) * 0.5) &&
              m("std_error") < math.max(0.05, o.overallStd * 0.5)
        }
        (name, p.semanticType.name, nRows, ok)
      }.sortBy(_._1)
        .toDF("col_name", "semantic_type", "n_rows", "within_band")
    }),

    // --- text vector-space profile (TextProfiler math, oracle-checked):
    // per-dimension mean/std + covariance trace over the maxTokens×dim
    // concat vectorization of documents.text. The embedding is the
    // pure-function md5 embedder (engine-portable), so executors derive
    // every token's vector on demand — the treeAggregate path runs with
    // zero OOV and ZERO driver-side vocabulary (no collect of any
    // size); the oracle recomputes every moment from scratch in SQL. ---
    "q34_text_vector_profile" -> ((s, d) => {
      import graft.text.{Md5Embedder, TextProfiler}
      val docs = t(s, d, "documents")
      val stats = TextProfiler.profile(docs, "text", Md5Embedder(Q34Dim),
        Q34MaxTokens, rawSampleCap = 1).get
      import s.implicits._
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (0 until Q34MaxTokens * Q34Dim).map(i =>
        (i, r6(stats.mean(i)), r6(stats.std(i)), r6(stats.covTrace)))
        .toDF("dim_idx", "mean", "std", "cov_trace")
    }),

    // --- nearest-word decode, oracle-checked as a round-trip over the
    // CAPPED production vocab: Vocab.build takes the top-`Q35VocabCap`
    // tokens by (frequency desc, token asc) — a distributed TakeOrdered,
    // never an uncapped collect — and the round-trip assertion runs on
    // the docs whose first maxTokens tokens are all in-vocab (argmax
    // cosine over the md5 embedder returns the original token there).
    // The oracle rebuilds the same frequency-capped vocab in SQL and
    // emits "the first maxTokens tokens" for the same doc subset. This
    // exercises the real Vocab.build/decode kernel (broadcast vocab,
    // one-pass batched argmax scan) end to end. ---
    "q35_decode_roundtrip" -> ((s, d) => {
      import graft.text.{Md5Embedder, Tokenize, Vectorize, Vocab}
      val docs = t(s, d, "documents")
      val model = Md5Embedder(Q34Dim)
      val vocab = Vocab.build(docs, "text", model, cap = Q35VocabCap)
      val bcV = s.sparkContext.broadcast(vocab)
      val bcW = s.sparkContext.broadcast(vocab.words.toSet)
      val mt = 2
      val inVocab = udf { (text: String) =>
        text != null &&
          Tokenize.tokensLocal(text).take(mt).forall(bcW.value.contains)
      }
      val dec = udf { (text: String) =>
        if (text == null) null
        else bcV.value.decode(Vectorize.vectorizeLocal(model, mt)(text), mt)
      }
      docs.filter(inVocab(col("text")))
        .select(col("doc_id"), dec(col("text")).as("decoded"))
        .orderBy("doc_id")
    }),

    // --- multimodal feature extraction: payload → stub embedding
    // (md5-derived, oracle-replayable) — the bridge from binary
    // payloads into the similarity/dedup family ---
    "q36_multimodal_embed" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      docs.select(col("doc_id"),
          posexplode(Multimodal.embedStub(col("payload"), 4)))
        // + 0.0: IEEE -0.0 → 0.0 (mirrored in the oracle; one sf1 row
        // rounded to zero from below and the engines disagreed on the
        // sign of zero)
        .select(col("doc_id"), col("pos").as("j"),
          (round(col("col"), 6) + lit(0.0)).as("v"))
        .orderBy("doc_id", "j")
    }),

    // --- embedding near-dup at scale: multi-table random-hyperplane
    // LSH + exact verify of bucket-mates (the near-linear path that
    // replaces q27's O(n²) pair join) — oracle replays the same
    // deterministic hyperplanes from inlined literals ---
    "q37_neardup_bucketed" -> ((s, d) => {
      val dup = withDups(t(s, d, "embeddings"), "vec_id", 50, 10000)
      Similarity.cosineNearDupBucketed(dup, "vec_id", "embedding", 0.99,
        nBits = Q37Bits, nTables = Q37Tables, seed = Q37Seed)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    }),

    // --- Lloyd k-means over the vector column (the IVF centroid
    // refinement path), oracle-checked per (centroid, dimension) ---
    "q38_kmeans_centroids" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = Q38K, iterations = Q38Iters)
        .select(col("centroid_id"), posexplode(col("cv")))
        .select(col("centroid_id"), col("pos").cast(LongType).as("pos"),
          round(col("col"), 6).as("v"))
        .orderBy("centroid_id", "pos")
    }),

    // --- SimHash near-dup with Hamming tolerance (banded candidate
    // join + exact popcount verify; fixture = near copies that differ
    // by one appended token) ---
    "q39_simhash_hamming" -> ((s, d) => {
      val base = t(s, d, "documents")
      val dup = base.unionByName(base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", concat(col("text"), lit(" nearmarker"))))
      Dedup.simhashNearDup(dup, "doc_id", "text", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("dist").cast(LongType).as("dist"))
        .orderBy("id_a", "id_b")
    }),

    // --- line-level boilerplate strip (C4-style corpus cleaning;
    // fixture = docs line-ified on ' table ' with injected header and
    // footer lines) ---
    "q40_line_dedup" -> ((s, d) => {
      val lined = t(s, d, "documents").select(col("doc_id"),
        concat(lit("follow us on example dot com\n"),
          expr("replace(text, ' table ', '\n')"),
          lit("\nsubscribe to the newsletter")).as("text"))
      Dedup.stripBoilerplate(lined, "doc_id", "text", minDocs = 10)
        .select(col("id").as("doc_id"), col("text_clean"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // --- backward as-of join: each event picks up the user's latest
    // order at event time (point-in-time enrichment; single exchange +
    // sort, no join explosion — see Temporal.asofJoinBackward) ---
    "q41_asof_join" -> ((s, d) => {
      val events = t(s, d, "events").select("event_id", "user_id", "ts")
      Temporal.asofJoinBackward(events, t(s, d, "orders"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        payloadCols = Seq("o_orderkey", "o_totalprice"),
        tieBreak = "o_orderkey")
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    }),

    // --- TF-IDF keyword extraction: corpus document frequency +
    // per-doc top-5 terms (keyed aggs only, no collect) ---
    "q42_tfidf" -> ((s, d) =>
      Corpus.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rank")),

    // --- Gopher-style repetition signals: dup-token ratio (pure
    // expression) + top-bigram share (keyed agg) per document ---
    "q43_repetition" -> ((s, d) =>
      Corpus.repetitionStats(t(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- PII redaction (corpus scrubbing): counts + redacted text;
    // fixture injects a known email/phone into every third doc ---
    "q44_pii_redact" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" contact alice.smith@example.org or +1 (415) 555-0100")))
          .otherwise(col("text")))
      docs.select(col("doc_id"),
        TextAnalysis.emailCount(col("text")).cast(LongType).as("n_emails"),
        TextAnalysis.phoneCount(col("text")).cast(LongType).as("n_phones"),
        TextAnalysis.redactPii(col("text")).as("text_redacted"))
        .orderBy("doc_id")
    }),

    // --- stratified content-keyed sampling: per-language downsampling
    // as a pure narrow filter (reproducible across engines/runs) ---
    "q45_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedHashSample(
        t(s, d, "documents").select("doc_id", "lang"), "doc_id", "lang",
        fractions = Map("en" -> 0.3, "de" -> 0.8, "zh" -> 1.0),
        default = 0.5)
        .orderBy("doc_id")),

    // --- exact-n-per-key deterministic sample (content-defined
    // priority reservoir) ---
    "q46_sample_per_key" -> ((s, d) =>
      Sampling.samplePerKey(
        t(s, d, "documents").select("doc_id", "lang"), "lang", "doc_id", 3)
        .orderBy("doc_id")),

    // --- deterministic train/val/test split: content-keyed labels,
    // pure narrow projection, stable under corpus growth ---
    "q88_split_assignment" -> ((s, d) =>
      Sampling.assignSplits(
        t(s, d, "documents").select("doc_id", "lang"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")),

    // --- connected components (bounded min-label propagation) over a
    // two-hop chain fixture: i — i+10000 — i+20000 ---
    "q47_cc_labels" -> ((s, d) => {
      val ids = t(s, d, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 50)
      val edges = ids
        .select(col("doc_id").as("src"), (col("doc_id") + 10000).as("dst"))
        .unionByName(ids.select((col("doc_id") + 10000).as("src"),
          (col("doc_id") + 20000).as("dst")))
      Graph.minLabelPropagation(edges, "src", "dst", rounds = 3)
        .orderBy("id")
    }),

    // --- end-to-end corpus dedup: near-dup pairs → components → keep
    // the minimum-id representative per cluster ---
    "q48_dedup_corpus" -> ((s, d) => {
      val base = t(s, d, "documents")
      val dup = base.unionByName(base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", concat(col("text"), lit(" nearmarker"))))
      Dedup.dedupCorpus(dup, "doc_id", "text", maxDist = 3, rounds = 3)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // --- grouped numeric profile: the full reference profile per
    // language (segment-wise curation form) ---
    "q49_grouped_profile" -> ((s, d) =>
      graft.engine.Profiler.groupedNumericProfile(
        t(s, d, "documents"), "lang", "n_chars")
        .orderBy("lang")),

    // --- Z-order (Morton) value: the data-layout kernel, oracle-checked
    // bit-for-bit (native codegen expression vs arithmetic replay) ---
    "q50_zorder" -> ((s, d) => {
      val e = t(s, d, "events")
      e.select(col("event_id"),
        Layout.zvalue(col("user_id"), floor(col("value")).cast(LongType)).as("z"))
        .orderBy("event_id")
    }),

    // --- markup strip (web-scrape cleaning): tag/URL counts + cleaned
    // text; fixture wraps every fourth doc in tags + a trailing URL ---
    "q51_markup_strip" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(lit("<html><p class=\"x\">"), col("text"),
            lit("</p> see https://example.com/a?b=1 now</html>")))
          .otherwise(col("text")))
      docs.select(col("doc_id"),
        TextAnalysis.tagCount(col("text")).cast(LongType).as("n_tags"),
        TextAnalysis.urlCount(col("text")).cast(LongType).as("n_urls"),
        TextAnalysis.stripMarkup(col("text")).as("text_clean"))
        .orderBy("doc_id")
    }),

    // --- the composed curation pipeline: clean → filter → dedup →
    // sample, one flow (fixture injects markup AND PII so every
    // cleaning stage has work to do) ---
    "q52_curation_pipeline" -> ((s, d) => {
      val docs = injectMarkupPii(t(s, d, "documents"))
      Curation.curate(docs, "doc_id", "text",
        Curation.CurationConfig(lang = Some("en"), minQuality = 0.5,
          minTokens = 5, sampleFraction = 0.5))
        .select(col("id").as("doc_id"), col("text_clean"), col("lang"),
          round(col("quality"), 6).as("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // --- train/test decontamination: drop training docs whose content
    // fingerprint appears in the (10%-overlapping) eval set ---
    "q53_decontaminate" -> ((s, d) => {
      val train = t(s, d, "documents")
      val test = train.filter(col("doc_id") % 10 === 0)
        .select(col("text"))
      Dedup.decontaminate(train, test, "text")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // --- corpus n-gram table (LM features / n-gram contamination) ---
    "q54_ngram_counts" -> ((s, d) =>
      Corpus.ngramCounts(t(s, d, "documents"), "doc_id", "text",
        n = 3, minCount = 5)
        .orderBy("ngram")),

    // --- binned point-in-interval range join (equijoin on grid cells +
    // exact containment — never a nested-loop): every event value
    // against ~100 events as [value, value+5] intervals. The interval
    // side is SIZE-BOUNDED: a fixed interval-id stride would make both
    // sides grow with the data and the MATCH OUTPUT grow n² (the r13
    // full-suite sf1 run measured 446k → 44.5M matches at data ×10 —
    // no plan fixes a quadratic result set). Production range joins
    // have a bounded dimension side (calibration bands, time buckets,
    // blocklists), so above 100k events the stride scales to hold
    // ~100 intervals and the output grows linearly with the points.
    // Bench corpora (sf0.01 = 10k, sf0.1 = 100k events) keep stride
    // 1000 — the oracle row and bench history are unchanged ---
    "q61_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val points = ev.select(col("event_id"), col("value"))
      val nEv = ev.count()
      val stride = math.max(1000L, nEv / 100L)
      val intervals = ev.filter(col("event_id") % stride === 0)
        .select(col("event_id").as("interval_id"), col("value").as("lo"),
          (col("value") + 5.0).as("hi"))
      Temporal.rangeJoinPointInterval(points, "event_id", "value",
        intervals, "interval_id", "lo", "hi", binWidth = 5.0)
        .select(col("event_id"), col("interval_id"),
          round(col("value"), 6).as("value"), round(col("lo"), 6).as("lo"))
        .orderBy("event_id", "interval_id")
    }),

    // --- overlapping context-window chunking (RAG/LM layout: 12-token
    // windows, 4-token overlap) ---
    "q60_chunk_documents" -> ((s, d) =>
      Corpus.chunkDocuments(t(s, d, "documents"), "doc_id", "text",
        chunkSize = 12, overlap = 4)
        .orderBy("id", "chunk_idx")),

    // --- weighted sample without replacement (Efraimidis–Spirakis,
    // content-derived priorities): sample docs ∝ n_chars, k=100 ---
    "q59_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(t(s, d, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
        .orderBy("skey", "doc_id")),

    // --- sequence packing (concatenate-and-cut training layout): doc →
    // (bin, offset, crosses) via the distributed prefix sum — no
    // single-task window; oracle replays with SUM OVER (ORDER BY) ---
    "q58_sequence_pack" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        coalesce(TextAnalysis.tokenCount(col("text")).cast(LongType), lit(0L))
          .as("n_tokens"))
      Prefix.packSequences(docs, "doc_id", "n_tokens", budget = 512)
        .select(col("doc_id"), col("n_tokens"), col("cum"), col("start_pos"),
          col("bin"), col("bin_offset"), col("crosses"))
        .orderBy("doc_id")
    }),

    // --- n-gram contamination report: fixture = 50 verbatim leaks
    // (contamination 1.0) + 50 alphabet-rotated twins (disjoint token
    // space → ~0) against the full corpus as training data ---
    "q57_ngram_contamination" -> ((s, d) => {
      val train = t(s, d, "documents")
      val leaked = train.filter(col("doc_id") < 50)
      val test = leaked.unionByName(leaked
        .withColumn("doc_id", col("doc_id") + 20000)
        .withColumn("text", translate(lower(col("text")),
          "abcdefghijklmnopqrstuvwxyz0123456789",
          "bcdefghijklmnopqrstuvwxyza1234567890")))
      Corpus.ngramContamination(train, test, "doc_id", "text", n = 5)
        .orderBy("id")
    }),

    // --- passage-level exact dedup stats (chunked substring dedup) ---
    "q55_passage_dup" -> ((s, d) =>
      Corpus.passageDupStats(
        withDups(t(s, d, "documents"), "doc_id", 50, 10000),
        "doc_id", "text", passageTokens = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // --- unigram-LM quality score (CCNet-style corpus-relative) ---
    "q56_unigram_lm" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Corpus.unigramLogProb(docs.filter(col("doc_id") % 2 === 0), docs,
        "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // --- multimodal plumbing (stub codec, real schema/batching) ---
    "q31_multimodal_meta" -> ((s, d) => {
      // real-codec check, oracle-replayable: serialize md5(text)-derived
      // dimensions into an ACTUAL PNG header (even ids) or JPEG SOF0
      // (odd ids), then parse them back with the real byte-level header
      // reader — any mis-read byte breaks the oracle compare, whose
      // width/height formulas never see the image bytes at all
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val fix = udf { (text: String, id: Long) =>
        if (text == null) null
        else {
          val dg = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          def u(i: Int) = dg(i) & 0xff
          val w = 64 + (u(0) * 256 + u(1)) % 1985
          val h = 64 + (u(2) * 256 + u(3)) % 1985
          if (id % 2 == 0) Multimodal.pngFixture(w, h)
          else Multimodal.jpegFixture(w, h)
        }
      }
      val payloads = docs.select(col("doc_id"), col("text"),
        fix(col("text"), col("doc_id")).as("payload"))
      val ingested = Multimodal.ingest(payloads, "payload", "image", "image/*")
      Multimodal.decode(ingested, "payload")
        .select(col("doc_id"),
          col("meta.n_bytes").as("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("digest"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"),
          col("decoded.duration_ms").as("duration_ms"))
        .orderBy("doc_id")
    }),

    // --- persistable/appendable IVF index: build on the LOW-id half,
    // admit the high-id half by assignment-only append (no retraining
    // — the daily-shard shape), search the persisted tables. The low
    // half contains the union's 16 lowest ids, so the frozen centroids
    // EQUAL a full rebuild's — the oracle replays rebuild-then-search
    // over the union (q30's plan) and the row proves append-then-search
    // ≡ rebuild-then-search value-for-value ---
    "q230_ivf_index_append" -> ((s, d) =>
      ivfLifecycle(s, d, "graft_ivf_") { (e, path) =>
        ivfBuildAppend(s, e, path)
        ivfSearchTop10(s, e, path)
      }),

    // --- the index's CDC shape: a change batch DELETES some admitted
    // ids and UPSERTS others (assignment against the frozen centroids,
    // tombstone-superseding their old rows), compaction folds the
    // tombstones into the code files, and search over the compacted
    // index must equal a REBUILD over the edited corpus — the oracle
    // replays exactly that (delete-then-search ≡
    // rebuild-without-deleted, upsert-then-search ≡
    // rebuild-with-the-new-vectors). Edits touch only ids above the
    // centroid seed range, so the frozen quantizer equals the
    // rebuild's and parity is value-for-value ---
    "q233_ivf_index_cdc" -> ((s, d) =>
      ivfLifecycle(s, d, "graft_ivfc_") { (e, path) =>
        val cut = ivfBuildAppend(s, e, path)
        // one CDC batch over the appended half: vec_id ≡ 0 (mod 7)
        // deletes, vec_id ≡ 3 (mod 7) upserts its REVERSED embedding
        // (SQL-replayable via list_reverse)
        val changes = e
          .filter(col("vec_id") >= 5 && col("vec_id") >= cut &&
            (col("vec_id") % 7 === 0 || col("vec_id") % 7 === 3))
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
            lit(1L).as("seq"),
            when(col("vec_id") % 7 === 0, lit("delete"))
              .otherwise(lit("upsert")).as("op"))
        IvfIndex.applyChanges(s, path, changes,
          "vec_id", "embedding", "seq", "op")
        IvfIndex.compact(s, path)
        ivfSearchTop10(s, e, path)
      }),

    // --- the REFINED persisted build: Lloyd-trained coarse quantizer
    // (kmeansIterations > 0) frozen into the index, searched
    // end-to-end — the oracle replays the full Lloyd recursion (q38's
    // seeded-centroid machinery) and then the IVF probe/score/top-k
    // over the refined centroids, value-checking the production build
    // mode the lifecycle spec drives ---
    "q234_ivf_index_refined" -> ((s, d) =>
      ivfLifecycle(s, d, "graft_ivfr_") { (e, path) =>
        IvfIndex.build(e.filter(col("vec_id") >= 5), "vec_id", "embedding", path,
          nCells = 16, kmeansIterations = 2)
        ivfSearchTop10(s, e, path)
      }),

    // --- the index's retrain trigger: per-cell PSI of the appended
    // generations against the build-time cell population (categorical
    // Laplace-smoothed PSI over the K trained cells) — the drift
    // instrument that says when assignment-only admission has decayed
    // the quantizer enough to rebuild ---
    "q231_ivf_index_drift" -> ((s, d) =>
      ivfLifecycle(s, d, "graft_ivfd_") { (e, path) =>
        ivfBuildAppend(s, e, path)
        IvfIndex.driftReport(s, path, threshold = 0.2)
          .orderBy("centroid_id")
      }),

    // --- the PQ-CODED persisted index (the 100 TB storage shape: m
    // small ints per vector instead of dim doubles): build trains the
    // coarse cells + PQ codebook on the low half, append admits the
    // high half by encode-and-assign only, search is ADC over the
    // persisted (cell, codes) tables. iterations = 0 keeps the
    // codebook at the deterministic lowest-id seed, so the frozen
    // index EQUALS a rebuild's (Lloyd refinement would differ by
    // construction — the documented approximation driftReport governs)
    // and the oracle replays REBUILD-then-search over the union ---
    "q232_ivfpq_index_append" -> ((s, d) =>
      ivfLifecycle(s, d, "graft_ivfpq_") { (e, path) =>
        val corpus = e.filter(col("vec_id") >= 5)
        val cut = ivfCut(corpus)
        val n = corpus.filter(col("embedding").isNotNull).count()
        IvfIndex.buildPq(corpus.filter(col("vec_id") < cut), "vec_id", "embedding",
          path, dim = 64, m = 4, k = 8, iterations = 0,
          nCells = if (n <= 2048L) IvfCells
                   else Quantize.nCentroidsFor(n, minC = IvfCells))
        IvfIndex.appendPq(s, path, corpus.filter(col("vec_id") >= cut),
          "vec_id", "embedding", dim = 64, m = 4)
        IvfIndex.searchPq(s, path, e.filter(col("vec_id") < 5),
            "vec_id", "embedding", dim = 64, m = 4, nProbe = IvfProbe, topK = 10)
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            round(col("adist"), 6).as("adist"))
          .orderBy("query_id", "rank")
      }),

    // --- the full maintenance lifecycle: build → append → driftReport
    // (the instrument MATERIALIZED, not just constructed) → REBUILD
    // (Lloyd-refined retrain from the index's own live code rows —
    // no access to the original corpus — under the crash-recoverable
    // staged swap) → search. The rebuild trains on the union corpus,
    // so the oracle is exactly q234's kmeans-replay (K = 16, 2 Lloyd
    // rounds over the non-query rows) followed by the IVF
    // probe/score/top-k: the lifecycle's end state must equal a
    // refined build from scratch, value for value ---
    "q235_ivf_index_rebuild" -> ((s, d) =>
      ivfLifecycle(s, d, "graft_ivfrb_") { (e, path) =>
        ivfBuildAppend(s, e, path)
        // the retrain instrument runs end-to-end regardless of its
        // verdict — the lifecycle under test is drift → rebuild
        IvfIndex.driftReport(s, path, threshold = 0.2)
          .write.format("noop").mode("overwrite").save()
        IvfIndex.rebuild(s, path, nCells = 16, kmeansIterations = 2)
        ivfSearchTop10(s, e, path)
      }))
}
