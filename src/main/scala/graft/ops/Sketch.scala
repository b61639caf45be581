package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable data sketches for corpus-scale statistics — the summaries
  * a 100 TB profile pass computes when the exact answer would shuffle
  * the full distinct universe:
  *
  *  - '''KMV (k-minimum-values) distinct sketch''' — cardinality
  *    estimation from the k smallest value hashes (Bar-Yossef et al.
  *    2002; the bottom-k form surveyed in Beyer et al., SIGMOD 2007,
  *    "On synopses for distinct-value estimation under multiset
  *    operations"). Per-partition state is a capped ordered set of k
  *    16-byte digests, merge is set-union-then-truncate, so the plan
  *    ships O(P·k) digests instead of shuffling |distinct| rows the
  *    way `count_distinct` does. The estimator is deterministic
  *    (md5-keyed), so unlike HyperLogLog's implementation-defined
  *    registers it replays bit-for-bit in the DuckDB oracle.
  *  - '''Count–min sketch''' — fixed-size (depth × width) frequency
  *    summary (Cormode & Muthukrishnan 2005). The sketch build is one
  *    map-side-combining aggregation whose group space is bounded by
  *    d·w REGARDLESS of corpus size; point estimates never
  *    underestimate (min over d counters ≥ true count).
  *
  * Both sketches hash with md5 only, so every number they emit is
  * oracle-replayable — the engine's sketch row and the SQL replay
  * agree exactly, not just statistically.
  */
object Sketch {

  /** Bits of the digest used when a hash must become a number: the
    * first 48 (12 hex digits) — exactly representable in a double, and
    * decodable digit-by-digit in the oracle. */
  private val FracBits = 48
  private val FracDenom = math.pow(2.0, FracBits) // 2^48, exact

  /** Allocation-free `conv(substring(h, pos, len), 16, 10)` — same
    * value on the md5-hex domain, decoded in place by the native
    * [[graft.expressions.RadixSliceLong]] kernel (r17: the two conv
    * chains of the HLL register scan cost more than the md5 itself). */
  private def hexSliceLong(c: Column, pos: Int, len: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.RadixSliceLong(
      GraftColumnBridge.expression(c), pos, len, 16))
  }

  /** The k smallest distinct values of `h` per group, ascending —
    * [[graft.expressions.BottomKDistinct]] as an aggregate Column. */
  private def bottomKDistinct(h: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.BottomKDistinct(
      GraftColumnBridge.expression(h), k).toAggregateExpression())
  }

  /** `49 − bit_length(w)` — the HLL rank, replacing the per-row
    * `bin()`+regex render with one LZCNT ([[graft.expressions.BitLength64]];
    * bit-equal, see that kernel's doc). */
  private def hllRank(w: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    lit(49) - GraftColumnBridge.column(graft.expressions.BitLength64(
      GraftColumnBridge.expression(w)))
  }

  /** KMV distinct-count sketches for `colNames` of `df`, all built in
    * ONE scan. Output, one row per column:
    * (col_name, k, n_kept, kth_hash, est) where
    *  - n_kept = |bottom-k set| (< k ⟺ the column's true distinct
    *    count is n_kept, and est is then exact),
    *  - kth_hash = the largest kept digest,
    *  - est = (k−1) / frac(kth_hash) with frac = the digest's first 48
    *    bits as a fraction of 2^48 — the classic KMV estimator.
    *
    * Scale shape: the value stream never shuffles. Each task keeps one
    * capped TreeSet of ≤ k digests per column (O(cols·k·16B) state),
    * emits its bottom-k, and the global merge sees ≤ P·k rows per
    * column — the union's k smallest ARE the global bottom-k, the
    * standard KMV merge property, so the result is identical to a
    * single-machine pass. Nulls are excluded (count_distinct
    * semantics). Values hash as md5(CAST(v AS STRING)) — the oracle
    * replays the exact digests, not just the estimate. */
  def kmvDistinct(df: DataFrame, colNames: Seq[String], k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(colNames.nonEmpty, "colNames must be non-empty")
    val pairs = df.select(explode(array(colNames.map(c =>
        struct(lit(c).as("n"),
          md5(col(c).cast("string").cast("binary")).as("h"))): _*)).as("x"))
      .select(col("x.n").as("col_name"), col("x.h").as("h"))
      .filter(col("h").isNotNull)
    // ONE mergeable bottom-k aggregate ([[graft.expressions
    // .BottomKDistinct]]): each task reduces its value stream to ≤ k
    // digests per column map-side (bounded state, nothing but
    // sketch-sized arrays ever shuffle), the single exchange replaces
    // the r17 three-stage carrier (typed mapPartitions serde boundary →
    // dropDuplicates exchange → rank-window exchange), and the
    // ascending output array IS the sketch: size = n_kept,
    // element_at(-1) = kth_hash — identical values, 3 exchanges → 1.
    val merged = pairs.groupBy("col_name")
      .agg(bottomKDistinct(col("h"), k).as("hs"))
      .select(col("col_name"), size(col("hs")).as("n_kept"),
        element_at(col("hs"), -1).as("kth_hash"))
    val frac = conv(substring(col("kth_hash"), 1, FracBits / 4), 16, 10)
      .cast("long").cast("double") / lit(FracDenom)
    merged.select(
      col("col_name"), lit(k).as("k"), col("n_kept"), col("kth_hash"),
      round(when(col("n_kept") < k, col("n_kept").cast("double"))
        .otherwise(lit((k - 1).toDouble) / frac), 6).as("est"))
  }

  /** HyperLogLog distinct sketches for `colNames`, all in ONE scan —
    * the Flajolet–Fu­sy–Gandouet–Meunier 2007 estimator with md5 as
    * the hash, which makes every register value (and therefore the
    * estimate itself) deterministic and oracle-replayable, unlike
    * `approx_count_distinct`'s implementation-defined registers.
    *
    * Register layout per value: bucket = first 8 hash bits (m = 256
    * registers), w = the next 48 bits, register update
    * M[bucket] = max(rank) with rank = (leading zeros of w) + 1
    * ∈ [1, 49] — computed as 49 − bitlength via `length(ltrim(bin(w),
    * '0'))`, the same closed form both engines evaluate.
    *
    * Cross-engine float strategy: Z = Σ 2^−M[j] is accumulated as the
    * INTEGER S = Σ 2^(49−M[j]) (≤ m·2^49 < 2^58, exact in a long both
    * engines), so the raw estimate α·m²·2^49 / S rounds exactly once
    * from identical integers. Small-range correction: if E ≤ 2.5 m and
    * V = empty registers > 0, E = m·ln(m/V) (linear counting) — `ln`
    * parity is already proven by the LM-score oracles.
    *
    * Scale shape: the value stream feeds ONE aggregation keyed on
    * (column, bucket) whose group space is |cols|·m regardless of
    * corpus size — partial aggregation collapses every task to ≤ m
    * rows per column before the (sketch-sized) shuffle. Returns one
    * row per column: (col_name, m, n_buckets, max_rank, est). Columns
    * with no non-null values produce no row (count_distinct = 0). */
  def hllDistinct(df: DataFrame, colNames: Seq[String]): DataFrame = {
    require(colNames.nonEmpty, "colNames must be non-empty")
    val pairs = df.select(explode(array(colNames.map(c =>
        struct(lit(c).as("n"),
          md5(col(c).cast("string").cast("binary")).as("h"))): _*)).as("x"))
      .select(col("x.n").as("col_name"), col("x.h").as("h"))
      .filter(col("h").isNotNull)
    hllEstimate(hllRegisters(pairs, Seq("col_name")), Seq("col_name"))
      .withColumnRenamed("__m", "m")
  }

  /** Per-GROUP HyperLogLog distinct counts — [[hllDistinct]] with the
    * register space keyed on (group, bucket): distinct `valueCol`
    * values per `groupCol`, each group's sketch merging independently
    * (register max is commutative within AND across groups). Group
    * space is |groups|·m regardless of corpus size. Returns
    * (group, m, n_buckets, max_rank, est), one row per non-null
    * group with ≥ 1 non-null value. */
  def hllDistinctBy(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val pairs = df
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        md5(col(valueCol).cast("string").cast("binary")).as("h"))
      .filter(col("h").isNotNull)
    hllEstimate(hllRegisters(pairs, Seq("g")), Seq("g"))
      .withColumnRenamed("__m", "m")
  }

  /** HLL register table of a keyed digest stream: (keys..., bucket,
    * mrank). The shared first half of every HLL variant (including
    * the streaming per-micro-batch emission, where the caller merges
    * register tables by a further max — the HLL union). */
  def hllRegisters(pairs: DataFrame, keyCols: Seq[String]): DataFrame =
    pairs
      // ONE 14-hex-digit decode (56 bits, exact in a long), split by
      // shift/mask: bucket = top 8 bits, w = the next 48 — identical
      // values to the former two conv(substring) chains at a fraction
      // of the per-row cost (no string slice, render, or re-parse)
      .withColumn("__v", hexSliceLong(col("h"), 1, 14))
      .withColumn("bucket", shiftright(col("__v"), 48).cast("int"))
      .withColumn("w", col("__v").bitwiseAND(lit((1L << 48) - 1)))
      .withColumn("rank", hllRank(col("w")))
      .groupBy((keyCols :+ "bucket").map(col): _*).agg(max(col("rank")).as("mrank"))

  /** Estimate from an HLL register table: the exact-integer Z
    * accumulator + both estimator regimes (see [[hllDistinct]]).
    * Returns (keys..., __m, n_buckets, max_rank, est). */
  def hllEstimate(regs: DataFrame, keyCols: Seq[String]): DataFrame = {
    val m = HllM
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val sums = regs.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).cast("int").as("n_buckets"),
      max(col("mrank")).as("max_rank"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - mrank)")).as("s_present"))
    val s = col("s_present") +
      (lit(m.toLong) - col("n_buckets")) * lit(1L << 49)
    val v = lit(m) - col("n_buckets") // empty registers
    val rawEst = lit(alpha * m * m) * lit((1L << 49).toDouble) / s.cast("double")
    sums.select(keyCols.map(col) ++ Seq(
      lit(m).as("__m"), col("n_buckets"), col("max_rank"),
      round(when(rawEst <= lit(2.5 * m) && v > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
        .otherwise(rawEst), 6).as("est")): _*)
  }

  /** Register count of [[hllRegisters]] (m = 2^8). */
  val HllM = 256

  /** KMV SET OPERATIONS between two value multisets — the property
    * that makes bottom-k sketches more than counters (Beyer et al.,
    * SIGMOD 2007): from A's and B's bottom-k digest sets alone,
    * estimate |A ∪ B| (KMV on the merged bottom-k), the Jaccard
    * resemblance ρ = |K_k(A∪B) ∩ K(A) ∩ K(B)| / |K_k(A∪B)|, and
    * |A ∩ B| ≈ ρ·|A ∪ B| — the sketch-level answer to "how much do
    * these two corpora's vocabularies overlap" without ever joining
    * the corpora. When the union keeps fewer than k digests the sets
    * are complete and every output is EXACT.
    *
    * Scale: each side reduces to its bottom-k in ONE mergeable
    * aggregate (≤ k digests of state per task, sketch-sized exchange —
    * never the side's distinct-value universe); everything after runs
    * on ≤ 2k rows.
    * Returns one row: (k, n_kept, kth_hash, d_union_est, n_common,
    * jaccard_est, d_intersect_est). */
  def kmvJaccard(a: DataFrame, b: DataFrame, valueCol: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // one bottom-k aggregate per side: every task contributes ≤ k
    // digests (no distinct exchange over the side's full value
    // universe — the pre-r18 shape shuffled every distinct digest
    // before TakeOrdered could cap it)
    def bottomK(df: DataFrame) = df
      .select(md5(col(valueCol).cast("string").cast("binary")).as("h"))
      .filter(col("h").isNotNull)
      .agg(bottomKDistinct(col("h"), k).as("hs"))
      .select(explode(col("hs")).as("h"))
    val ha = bottomK(a).localCheckpoint() // feeds union AND membership
    val hb = bottomK(b).localCheckpoint()
    val u = ha.unionByName(hb).distinct().orderBy("h").limit(k)
    val agg = u
      .join(ha.withColumn("ina", lit(1)), Seq("h"), "left")
      .join(hb.withColumn("inb", lit(1)), Seq("h"), "left")
      .agg(
        count(lit(1)).cast("int").as("n_kept"),
        max(col("h")).as("kth_hash"),
        sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
    kmvSetEstimates(agg, k, Seq.empty)
  }

  /** Pairwise [[kmvJaccard]] across the GROUPS of one frame — the
    * corpus-overlap MATRIX (which sources share vocabulary, which
    * crawls duplicate each other) computed entirely from per-group
    * bottom-k sketches: each task reduces the raw value stream to a
    * capped per-group bottom-k (the [[kmvDistinct]] TreeSet partial —
    * bounded state, no shuffle of the stream), so the group-ranked
    * merge window runs on ≤ P·k digests per group, never the group's
    * vocabulary; every pairwise union/membership/estimate runs on
    * that ≤ |groups|·k sketch table. Pair space is |groups|²/2 ROWS
    * (not values) — trivial for the hundreds-of-sources regime this
    * targets; the corpus itself is scanned exactly once.
    *
    * Returns (ga, gb, k, n_kept, kth_hash, d_union_est, n_common,
    * jaccard_est, d_intersect_est) for every unordered group pair
    * ga < gb; exact whenever the pair's union fits below k. */
  def kmvJaccardByGroup(df: DataFrame, groupCol: String, valueCol: String,
                        k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val pairs0 = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        md5(col(valueCol).cast("string").cast("binary")).as("h"))
      .filter(col("h").isNotNull)
    // per-group bottom-k as ONE mergeable aggregate (the kmvDistinct
    // carrier): capped map-side partials, a single sketch-sized
    // exchange, no Row-encoded mapPartitions boundary and no rank
    // window — identical digests kept (the bottom-k of a union is the
    // union's bottom-k)
    val hk = pairs0.groupBy("g")
      .agg(bottomKDistinct(col("h"), k).as("hs"))
      .select(col("g"), explode(col("hs")).as("h"))
      .localCheckpoint() // feeds pair expansion twice + membership twice
    val groups = hk.select("g").distinct()
    val pairs = groups.as("a").join(groups.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("ga"), col("b.g").as("gb"))
    val aSide = pairs.join(hk.withColumnRenamed("g", "ga"), Seq("ga"))
      .select("ga", "gb", "h")
    val bSide = pairs.join(hk.withColumnRenamed("g", "gb"), Seq("gb"))
      .select("ga", "gb", "h")
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("ga", "gb").orderBy("h")
    val u = aSide.unionByName(bSide).dropDuplicates("ga", "gb", "h")
      .withColumn("rk", row_number().over(wp)).filter(col("rk") <= k)
    val agg = u
      .join(hk.select(col("g").as("ga"), col("h"), lit(1).as("ina")),
        Seq("ga", "h"), "left")
      .join(hk.select(col("g").as("gb"), col("h"), lit(1).as("inb")),
        Seq("gb", "h"), "left")
      .groupBy("ga", "gb").agg(
        count(lit(1)).cast("int").as("n_kept"),
        max(col("h")).as("kth_hash"),
        sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
    kmvSetEstimates(agg, k, Seq("ga", "gb"))
  }

  /** Shared estimator tail of the KMV set-operation family: from
    * (keys..., n_kept, kth_hash, n_common) to the union / Jaccard /
    * intersection estimates — ONE definition so the single-pair and
    * matrix forms can never drift. */
  private def kmvSetEstimates(agg: DataFrame, k: Int,
                              keyCols: Seq[String]): DataFrame = {
    val frac = conv(substring(col("kth_hash"), 1, FracBits / 4), 16, 10)
      .cast("long").cast("double") / lit(FracDenom)
    val dUnion = when(col("n_kept") < k, col("n_kept").cast("double"))
      .otherwise(lit((k - 1).toDouble) / frac)
    val jac = col("n_common").cast("double") / col("n_kept").cast("double")
    agg.select(keyCols.map(col) ++ Seq(
      lit(k).as("k"), col("n_kept"), col("kth_hash"),
      round(dUnion, 6).as("d_union_est"),
      col("n_common"),
      round(jac, 6).as("jaccard_est"),
      round(jac * dUnion, 6).as("d_intersect_est")): _*)
  }

  /** The exact double literal of [[hllDistinct]]'s α·m² pre-factor,
    * rendered so the oracle evaluates the SAME IEEE constant. */
  def hllAlphaM2Literal: String = {
    val m = 256
    (0.7213 / (1.0 + 1.079 / m) * m * m).toString
  }

  /** Count–min sketch table of an item stream: (r, b, cnt) for r in
    * [0, depth), b = H_r(item) in [0, width). ONE aggregation whose
    * map-side combine collapses every partition to ≤ depth·width
    * partial rows — the shuffle is sketch-sized, never corpus-sized.
    * H_r(item) = first 28 bits of md5("<salt><r>#" + item) mod width
    * (the [[TextAnalysis.tokenHash31]] digest family — the oracle
    * replays it digit-by-digit). Null items are excluded. */
  def countMin(items: DataFrame, itemCol: String, depth: Int, width: Int,
               salt: String): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    val it = items.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    it.select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmBucket(col("item"), r, width, salt).as("b"))): _*)).as("x"))
      .groupBy(col("x.r").as("r"), col("x.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from a count–min sketch for a (small) candidate
    * item frame: est(item) = min over r of sketch(r, H_r(item)) — the
    * CM upper bound (≥ true count, never below). The sketch is
    * ≤ depth·width rows, so the probe join broadcasts it; candidates
    * never shuffle. Output: (item, est). */
  def countMinEstimate(sketch: DataFrame, candidates: DataFrame,
                       itemCol: String, depth: Int, width: Int,
                       salt: String): DataFrame = {
    val cand = candidates.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    cand.select(col("item"), explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmBucket(col("item"), r, width, salt).as("b"))): _*)).as("x"))
      .select(col("item"), col("x.r").as("r"), col("x.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** KMV estimate row from a frame of digests (the read-off shared by
    * the batch sketch's final stanza and the streaming variant's
    * merged emissions): distinct → bottom-k → (k, n_kept, kth_hash,
    * est) with the exact [[kmvDistinct]] estimator (n_kept below k is
    * the exact count; at k the (k−1)/frac(kth) estimate). All frames
    * here are sketch-sized. */
  def kmvFinish(hashes: DataFrame, hCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val frac = conv(substring(col("kth_hash"), 1, FracBits / 4), 16, 10)
      .cast("long").cast("double") / lit(FracDenom)
    hashes.select(col(hCol).as("h")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy("h")))
      .filter(col("rk") <= k)
      .agg(count(lit(1)).cast("int").as("n_kept"), max(col("h")).as("kth_hash"))
      .select(lit(k).as("k"), col("n_kept"), col("kth_hash"),
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) / frac), 6).as("est"))
  }

  /** Mergeable fixed-bin histogram quantile sketch — the constant-state
    * alternative to exact rank selection when a 100 TB profile pass
    * wants approximate percentiles in one combine-friendly aggregation:
    * given a (min, max) frame, every partition reduces to ≤ `nBins`
    * (bin → count) rows, partial maps merge by ADDING counts (the
    * mergeability property t-digest/KLL buy with randomness — here the
    * bin frame is fixed, so the sketch is fully deterministic and
    * oracle-replayable), and the quantile read-off interpolates inside
    * the first bin whose cumulative count reaches ceil(q·n).
    *
    * Two scans by design: one for the (min, max, n) frame, one for the
    * bin counts (a production pipeline reuses an already-known frame
    * and pays ONE). Estimation error is bounded by one bin width
    * (max−min)/nBins. All arithmetic is integer until each final
    * division/interpolation, in a pinned association order, so the
    * estimates are bit-portable across engines.
    *
    * Output, one row per requested quantile: (q, n, target_rank, bin,
    * est) ordered by q. Constant column (min = max) puts every row in
    * bin 0 and every estimate at the constant. Nulls are excluded. */
  def histQuantiles(df: DataFrame, valueCol: String, nBins: Int,
                    qs: Seq[Double]): DataFrame = {
    require(nBins >= 2 && nBins <= 65536, s"nBins must be in [2,65536], got $nBins")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val x = df.select(col(valueCol).cast("double").as("x"))
      .filter(col("x").isNotNull && !isnan(col("x")))
    val frame = x.agg(min("x").as("lo"), max("x").as("hi"),
      count(lit(1)).as("n"))
    // bin index: floor(((x−lo)/(hi−lo))·nBins) clamped into [0,nBins−1]
    // — the expression shape (divide FIRST, then scale) is part of the
    // cross-engine contract; one definition ([[histBin]]) shared with
    // the streaming variant
    val bins = x.crossJoin(broadcast(frame))
      .select(histBin(col("x"), col("lo"), col("hi"), nBins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    histQuantileReadoff(frame, bins, nBins, qs)
  }

  /** Per-group [[histQuantiles]] — the grouped profile pass a corpus
    * runs per source/language/domain ("p50/p99 document length by
    * source") without one job per group: the (lo, hi, n) frame
    * becomes one row PER GROUP, bins become (g, bin) keys, and the
    * read-off's cumulative window partitions by group — so every
    * stage is a keyed aggregation over ≤ |groups|·nBins sketch rows,
    * and the raw values still cross the wire exactly twice (frame
    * scan + bin scan), regardless of group count. Same estimator,
    * same bin formula ([[histBin]]), same interpolation arithmetic as
    * the global form — per-group results equal running
    * [[histQuantiles]] on each group's rows alone (spec-enforced).
    * Null groups and null/NaN values are excluded. Output, one row
    * per (g, q): (g, q, n, target_rank, bin, est). */
  def histQuantilesBy(df: DataFrame, groupCol: String, valueCol: String,
                      nBins: Int, qs: Seq[Double]): DataFrame = {
    require(nBins >= 2 && nBins <= 65536, s"nBins must be in [2,65536], got $nBins")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val x = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull && !isnan(col("x")))
    val frame = x.groupBy("g").agg(min("x").as("lo"), max("x").as("hi"),
      count(lit(1)).as("n"))
    val bins = x.join(frame, "g")
      .select(col("g"), histBin(col("x"), col("lo"), col("hi"), nBins).as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("cnt"))
    val cum = bins.withColumn("cum",
      sum("cnt").over(Window.partitionBy("g").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val quants = frame.select(col("g"),
        explode(array(qs.distinct.sorted.map(lit): _*)).as("q"),
        col("n"), col("lo"), col("hi"))
      .withColumn("target_rank", greatest(ceil(col("q") * col("n")), lit(1L)))
    quants.join(cum.withColumnRenamed("g", "__cg"),
        col("g") === col("__cg") && col("cum") >= col("target_rank"))
      .groupBy("g", "q", "n", "lo", "hi", "target_rank")
      .agg(min(struct(col("bin"), col("cnt"), col("cum"))).as("b"))
      .select(col("g"), col("q"), col("n"), col("target_rank"),
        col("b.bin").as("bin"),
        (col("lo") + (col("b.bin") +
          (col("target_rank") - (col("b.cum") - col("b.cnt"))).cast("double") /
            col("b.cnt")) *
          ((col("hi") - col("lo")) / nBins)).as("est"))
      .orderBy("g", "q")
  }

  /** Quantile read-off from an already-built (bin, cnt) table and a
    * 1-row (lo, hi, n) frame — shared by the batch [[histQuantiles]]
    * and the streaming variant (whose bin table is live aggregation
    * state): interpolate inside the first bin whose cumulative count
    * reaches ceil(q·n). Everything here runs on sketch-sized frames
    * (≤ nBins rows), so the global-order window and the joins are
    * broadcast-cheap at any corpus size. */
  def histQuantileReadoff(frame: DataFrame, bins: DataFrame, nBins: Int,
                          qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = bins.withColumn("cum",
      sum("cnt").over(Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val quants = frame.select(
        explode(array(qs.distinct.sorted.map(lit): _*)).as("q"),
        col("n"), col("lo"), col("hi"))
      .withColumn("target_rank", greatest(ceil(col("q") * col("n")), lit(1L)))
    // first bin whose cumulative count reaches the target rank — the
    // probe side is ≤ nBins rows, so the join broadcasts
    quants.join(broadcast(cum), col("cum") >= col("target_rank"))
      .groupBy("q", "n", "lo", "hi", "target_rank")
      .agg(min(struct(col("bin"), col("cnt"), col("cum"))).as("b"))
      .select(col("q"), col("n"), col("target_rank"), col("b.bin").as("bin"),
        (col("lo") + (col("b.bin") +
          (col("target_rank") - (col("b.cum") - col("b.cnt"))).cast("double") /
            col("b.cnt")) *
          ((col("hi") - col("lo")) / nBins)).as("est"))
      .orderBy("q")
  }

  /** The bin-index expression of [[histQuantiles]], exposed so the
    * streaming variant bins rows with the IDENTICAL formula (divide
    * first, then scale — the cross-engine contract). `lo`/`hi` are the
    * known frame bounds. */
  def histBin(x: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
              hi: org.apache.spark.sql.Column, nBins: Int)
      : org.apache.spark.sql.Column =
    when(hi === lo, lit(0L))
      .otherwise(least(greatest(
        floor((x - lo) / (hi - lo) * nBins), lit(0L)), lit(nBins - 1L)))

  /** Row-r count–min bucket of an item: 28-bit md5 prefix mod width. */
  private def cmBucket(item: org.apache.spark.sql.Column, r: Int, width: Int,
                       salt: String): org.apache.spark.sql.Column =
    pmod(hexSliceLong(md5(concat(lit(s"$salt$r#"), item).cast("binary")), 1, 7),
      lit(width.toLong)).cast("int")

  /** DuckDB fragment decoding `nDigits` hex digits of `hexExpr`
    * starting at 1-based `start` into a BIGINT — the positional form
    * shared by every hash-replay oracle here. */
  def hexIntSql(hexExpr: String, start: Int, nDigits: Int): String =
    (0 until nDigits).map { i =>
      s"(instr('0123456789abcdef', substr($hexExpr, ${start + i}, 1)) - 1) * ${1L << (4 * (nDigits - 1 - i))}"
    }.mkString("(", " + ", ")")

  /** The DuckDB fragment that replays [[kmvDistinct]]'s frac(kth_hash)
    * — first 12 hex digits decoded positionally. Kept beside the Spark
    * expression so the two can never drift apart. */
  def kmvFracSql(hashExpr: String): String = {
    val digits = (0 until FracBits / 4).map { i =>
      s"(instr('0123456789abcdef', substr($hashExpr, ${i + 1}, 1)) - 1) * ${math.pow(16.0, (FracBits / 4 - 1 - i).toDouble).toLong}"
    }.mkString("(", " + ", ")")
    s"(CAST($digits AS DOUBLE) / ${FracDenom.toLong}.0)"
  }

  /** The DuckDB fragment that replays [[cmBucket]]. */
  def cmBucketSql(itemExpr: String, r: Int, width: Int, salt: String): String = {
    val h = s"md5('$salt$r#' || $itemExpr)"
    val v = (0 until 7).map { i =>
      s"(instr('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${1L << (4 * (6 - i))}"
    }.mkString("(", " + ", ")")
    s"CAST($v % $width AS INT)"
  }
}
