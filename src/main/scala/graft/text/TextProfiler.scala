package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Profiler, TextStats}

/** Text-column profiling in embedding space
  * (`calculate_text_statistics`, `Latanova_v1.py:194-226`).
  *
  * Distributed layout: one map stage vectorizes entries (no shuffle),
  * then a single treeAggregate accumulates (n, Σx, Σxxᵀ) — mean vector
  * and sample covariance (np.cov ddof=1) in ONE pass. Per-dimension
  * std/skew/kurt roll-ups come from the same moment accumulator
  * (Σx², Σx³, Σx⁴ per dim). Everything that reaches the driver is
  * O(d²) for d = maxTokens·dim — scale-independent.
  */
object TextProfiler {

  /** Moment + covariance accumulator. d is maxTokens*dim.
    *
    * Arrays allocate LAZILY on first add/merge: the treeAggregate zero
    * value is serialized into every task binary, and an eagerly
    * allocated d²-double xxt at the reference's real width (d=3200 →
    * 82 MB) made each stage broadcast a ~156 MB task closure — a
    * driver-to-every-executor storm at cluster scale. Empty, the
    * accumulator serializes to a few bytes; each task allocates its own
    * arrays on first use. */
  private final class Acc(var d: Int) extends java.io.Externalizable {
    def this() = this(0) // Externalizable deserialization constructor
    var n: Long = 0L
    var s1: Array[Double] = null  // Σx
    var s2: Array[Double] = null  // Σx²
    var s3: Array[Double] = null  // Σx³
    var s4: Array[Double] = null  // Σx⁴
    // Σ x xᵀ, UPPER TRIANGLE ONLY, packed row-major: cell (i, j≥i) at
    // off(i) + j - i. The matrix is symmetric — carrying d² cells would
    // double both the inner-loop memory traffic and (worse) the bytes
    // serialized per partition accumulator in the tree reduction, which
    // is the dominant cost of the whole profile at d=3200.
    var xxt: Array[Double] = null
    @inline private def off(i: Int): Int = i * d - i * (i - 1) / 2
    private def alloc(): Unit = if (s1 == null) {
      s1 = new Array[Double](d); s2 = new Array[Double](d)
      s3 = new Array[Double](d); s4 = new Array[Double](d)
      xxt = new Array[Double](d * (d + 1) / 2)
    }
    /** Packed Σxxᵀ value at (i, j) for i <= j. */
    def xxtAt(i: Int, j: Int): Double = xxt(off(i) + j - i)
    /** Rank-k Σxxᵀ update over `m` rows stored ROW-major in `buf`
      * (row r at [r·d, r·d+d)). A per-row rank-1 update is
      * memory-bound — it streams the whole d²/2-cell triangle through
      * DRAM for EVERY row (41 MB × rows at d=3200, the measured
      * wall-time dominator of the wide profile); summing a
      * cache-resident row block per triangle cell streams the triangle
      * once per m rows. The triangle kernel dispatches per JVM:
      * [[SimdTriangle]] (Panama vector lanes across j — the row-major
      * layout is what makes the b-side loads and the packed-xxt
      * read-modify-write contiguous vector ops) when the incubator
      * module is resolvable, [[ScalarTriangle]] otherwise —
      * BIT-IDENTICAL by construction (the canonical per-cell chain
      * order is documented on ScalarTriangle), so the flag is pure
      * throughput and a mixed cluster still yields one answer. */
    def addBatch(buf: Array[Double], m: Int): Acc = {
      if (m == 0) return this
      alloc()
      n += m
      // per-dim moment sums, row-outer (contiguous reads in the
      // row-major layout); each s*(i) still accumulates rows in
      // ascending r — the same order as every previous layout
      var r = 0
      while (r < m) {
        val ro = r * d
        var i = 0
        while (i < d) {
          val v = buf(ro + i); val v2 = v * v
          s1(i) += v; s2(i) += v2; s3(i) += v2 * v; s4(i) += v2 * v2
          i += 1
        }
        r += 1
      }
      // `warmed` (not `available`): first touch per JVM runs the
      // time-bounded JIT warmup — without it the Vector API's
      // interpreted/C1 cliff made the first cold profile pass ~15x
      // its compiled wall (see SimdSupport.warmed)
      if (SimdSupport.warmed) SimdTriangle.update(xxt, buf, m, d)
      else ScalarTriangle.update(xxt, buf, m, d)
      this
    }
    def merge(o: Acc): Acc =
      if (o.n == 0) this
      else if (n == 0) o
      else {
        n += o.n
        var i = 0
        while (i < d) { s1(i) += o.s1(i); s2(i) += o.s2(i); s3(i) += o.s3(i); s4(i) += o.s4(i); i += 1 }
        i = 0
        val m = d * (d + 1) / 2
        while (i < m) { xxt(i) += o.xxt(i); i += 1 }
        this
      }
    // Bulk byte-buffer (de)serialization: default Java serialization
    // moves double[] element-by-element (~0.3 GB/s) — at d=3200 each
    // partition accumulator is a 41 MB triangle, and the tree
    // reduction's ser+deser of P of them was a measured chunk of the
    // whole wide profile. A bulk DoubleBuffer copy is ~memcpy speed.
    private def writeArr(out: java.io.ObjectOutput, a: Array[Double]): Unit = {
      val bytes = new Array[Byte](a.length * 8)
      java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().put(a)
      out.write(bytes)
    }
    private def readArr(in: java.io.ObjectInput, len: Int): Array[Double] = {
      val bytes = new Array[Byte](len * 8)
      in.readFully(bytes)
      val a = new Array[Double](len)
      java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(a)
      a
    }
    def writeExternal(out: java.io.ObjectOutput): Unit = {
      out.writeInt(d); out.writeLong(n); out.writeBoolean(s1 != null)
      if (s1 != null) {
        writeArr(out, s1); writeArr(out, s2); writeArr(out, s3); writeArr(out, s4)
        writeArr(out, xxt)
      }
    }
    def readExternal(in: java.io.ObjectInput): Unit = {
      d = in.readInt(); n = in.readLong()
      if (in.readBoolean()) {
        s1 = readArr(in, d); s2 = readArr(in, d); s3 = readArr(in, d)
        s4 = readArr(in, d); xxt = readArr(in, d * (d + 1) / 2)
      }
    }
  }

  /** Lower Cholesky of a symmetric positive-definite matrix (row-major
    * d×d). Returns None if not PD — callers then use the reference's
    * iid-Gaussian fallback (`Latanova_v1.py:321-332`).
    *
    * Blocked right-looking factorization: per 64-column panel, the
    * diagonal block factors serially (O(d·nb²) total), then the panel
    * solve and the trailing-triangle update — the O(d³) bulk — run
    * row-parallel on the driver's cores via the common fork-join pool.
    * Rows are disjoint write targets and each cell's inner reduction
    * runs serially, so the result is deterministic regardless of
    * thread scheduling. ~6x over the serial left-looking form at
    * d=3200, the production width's driver-side bottleneck. */
  def cholesky(a: Array[Double], d: Int): Option[Array[Array[Double]]] = {
    val nb = 64
    val l = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) { // seed the lower triangle; factor in place
      System.arraycopy(a, i * d, l(i), 0, i + 1)
      i += 1
    }
    // 4 independent accumulator chains in the inner reductions: the
    // JIT won't reassociate FP sums, so a single chain is bound by
    // add latency; splitting it ~3x'es the scalar throughput.
    @inline def dot(x: Array[Double], y: Array[Double], from: Int, until: Int): Double = {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var k = from
      val u4 = until - 3
      while (k < u4) {
        s0 += x(k) * y(k); s1 += x(k + 1) * y(k + 1)
        s2 += x(k + 2) * y(k + 2); s3 += x(k + 3) * y(k + 3)
        k += 4
      }
      var s = s0 + s1 + s2 + s3
      while (k < until) { s += x(k) * y(k); k += 1 }
      s
    }
    var k0 = 0
    while (k0 < d) {
      val kEnd = math.min(k0 + nb, d)
      // 1. diagonal block, serial (small: nb² cells)
      i = k0
      while (i < kEnd) {
        val li = l(i)
        var j = k0
        while (j <= i) {
          val s = li(j) - dot(li, l(j), k0, j)
          if (i == j) {
            if (s <= 0.0 || s.isNaN) return None
            li(i) = math.sqrt(s)
          } else li(j) = s / l(j)(j)
          j += 1
        }
        i += 1
      }
      if (kEnd < d) {
        // 2. panel solve, rows below the block — independent rows
        java.util.stream.IntStream.range(kEnd, d).parallel().forEach { i =>
          val li = l(i)
          var j = k0
          while (j < kEnd) {
            li(j) = (li(j) - dot(li, l(j), k0, j)) / l(j)(j)
            j += 1
          }
        }
        // 3. trailing update: cell (i,j) -= panel_i · panel_j — reads
        // only phase-2 output, writes only row i
        java.util.stream.IntStream.range(kEnd, d).parallel().forEach { i =>
          val li = l(i)
          var j = kEnd
          while (j <= i) {
            li(j) -= dot(li, l(j), k0, kEnd)
            j += 1
          }
        }
      }
      k0 = kEnd
    }
    Some(l)
  }

  def profile(df: DataFrame, textCol: String, model: Embedder,
              maxTokens: Int, rawSampleCap: Int = 10000): Option[TextStats] = {
    val spark = df.sparkSession
    val d = maxTokens * model.dim
    val bcModel = spark.sparkContext.broadcast(model)

    val entries = df.filter(col(textCol).isNotNull)
      .select(col(textCol).cast("string"))
    // Per-partition: memoize token→vector (a pure-function embedder
    // recomputes `dim` digests per token OCCURRENCE — at D=100 that is
    // 3200 md5 calls per 32-token doc and dominated the profile wall
    // time; corpora repeat tokens constantly, so a capped per-partition
    // cache removes almost all of it), and fold rows into ONE local
    // accumulator so only P accumulators ever serialize.
    // Below d = 1024 the rows accumulate in the partitions they arrive in.
    // Wide accumulators trade compute parallelism against the bytes the
    // tree reduction must serialize (P × d²/2 doubles): at d=3200 each
    // accumulating partition ships a 41 MB triangle, so partition count
    // trades row-work parallelism (T_rows ∝ n/P) against merge+shuffle
    // volume (T_ship ∝ P). Both unit costs scale as d², so the optimum
    // P* = √(n·c_row/c_ship) has a d-INDEPENDENT constant — measured at
    // d=3200: c_row ≈ 4 ms/doc/core, c_ship ≈ 60 ms/accumulator →
    // P* ≈ √(n/16). The r14 fixed cores/2 was tuned on the sf0.1
    // corpus (ship-dominated, 16 parts: 3.6 s vs 32: 4.4) but starved
    // the 10× corpus where row work dominates (13.8 s treeAggregate at
    // 16 parts, sf1 ratio ×4.9) — √n picks both regimes correctly and
    // keeps ship volume growing sublinearly on a real cluster. The
    // count is one narrow scan, trivial next to the d² row work.
    val rdd = if (d < 1024) entries.rdd else {
      // LIMIT-bounded sizing probe (the auto-gate discipline): scans
      // at most 131072 rows at ANY corpus size; past the cap
      // √(131072/20) ≈ 81 ≥ any local core count, so huge corpora
      // size straight to all cores without a full count
      val nRows = entries.limit(131072).count()
      val accParts = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(2L, math.round(math.sqrt(nRows / 20.0)))).toInt
      val rdd0 = entries.rdd
      // repartition, not coalesce: a single-file table arrives as ONE
      // partition and coalesce cannot raise parallelism — the whole
      // accumulate would run on one core (measured: 17 s of a 21 s wide
      // profile). The row shuffle is trivial next to the d² work.
      if (rdd0.getNumPartitions != accParts) rdd0.repartition(accParts) else rdd0
    }
    val acc = rdd
      .mapPartitions { it =>
        val m = bcModel.value
        val cache = new java.util.HashMap[String, Array[Double]]()
        val cached = new Embedder {
          val dim: Int = m.dim
          def lookup(t: String): Array[Double] = {
            var v = cache.get(t)
            if (v == null) {
              v = m.lookup(t)
              if (cache.size < 65536) cache.put(t, v)
            }
            v
          }
        }
        val a = new Acc(d)
        val blockRows = 64
        val buf = new Array[Double](blockRows * d)
        var nb = 0
        it.foreach { r =>
          val x = Vectorize.vectorizeLocal(cached, maxTokens)(r.getString(0))
          System.arraycopy(x, 0, buf, nb * d, d)
          nb += 1
          if (nb == blockRows) { a.addBatch(buf, nb); nb = 0 }
        }
        a.addBatch(buf, nb)
        Iterator.single(a)
      }
      .treeAggregate(new Acc(d))((a, b) => a.merge(b), (a, b) => a.merge(b))
    if (acc.n == 0) return None

    val n = acc.n.toDouble
    val mean = acc.s1.map(_ / n)
    // population central moments per dim (np.std ddof=0; scipy g1/g2)
    val m2 = new Array[Double](d); val m3 = new Array[Double](d); val m4 = new Array[Double](d)
    var i = 0
    while (i < d) {
      val mu = mean(i)
      m2(i) = acc.s2(i) / n - mu * mu
      m3(i) = acc.s3(i) / n - 3 * mu * acc.s2(i) / n + 2 * mu * mu * mu
      m4(i) = acc.s4(i) / n - 4 * mu * acc.s3(i) / n + 6 * mu * mu * acc.s2(i) / n - 3 * mu * mu * mu * mu
      i += 1
    }
    val std = m2.map(v => math.sqrt(math.max(v, 0.0)))
    val skew = (0 until d).map(j => if (m2(j) > 0) m3(j) / math.pow(m2(j), 1.5) else 0.0)
    val kurt = (0 until d).map(j => if (m2(j) > 0) m4(j) / (m2(j) * m2(j)) - 3.0 else 0.0)

    // sample covariance (np.cov default ddof=1, `Latanova_v1.py:206`)
    // + the reference's 1e-6·I jitter before factorization (`:221,320`)
    val cov = new Array[Double](d * d)
    val denom = if (acc.n > 1) (n - 1.0) else 1.0
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = (acc.xxtAt(i, j) - n * mean(i) * mean(j)) / denom
        cov(i * d + j) = c; cov(j * d + i) = c
        j += 1
      }
      i += 1
    }
    var trace = 0.0
    i = 0; while (i < d) { trace += cov(i * d + i); i += 1 }
    val jittered = cov.clone()
    i = 0; while (i < d) { jittered(i * d + i) += 1e-6; i += 1 }
    val chol = cholesky(jittered, d)
    // logdet from the Cholesky we already have — O(d) instead of a
    // second O(d³) LU like np.linalg.det (SURVEY.md §4.4)
    val logDet = chol.map(l => 2.0 * (0 until d).map(j => math.log(l(j)(j))).sum)
      .getOrElse(Double.NaN)

    Some(TextStats(
      dim = d,
      mean = mean, std = std,
      overallMean = mean.sum / d,
      overallStd = std.sum / d,
      overallSkew = skew.sum / d,
      overallKurt = kurt.sum / d,
      covTrace = trace,
      covLogDet = logDet,
      chol = chol,
      count = acc.n,
      rawSample = Profiler.rawSample(df, textCol, rawSampleCap)))
  }
}

/** Multivariate-Gaussian text synthesis + nearest-word decode
  * (`generate_synthetic_text`, `Latanova_v1.py:300-344`).
  * x = μ + L·z with z iid standard normal, per-row seeded — a pure
  * function of (seed, row id): embarrassingly parallel, reproducible,
  * no shuffle. Falls back to iid N(overall_mean, overall_std) when the
  * covariance is not PD, exactly like the reference (`:321-332`). */
object TextSynth {
  def generate(spark: SparkSession, stats: TextStats, vocab: Vocab,
               maxTokens: Int, n: Long, seed: Long): DataFrame = {
    val bcStats = spark.sparkContext.broadcast(stats)
    val bcVocab = spark.sparkContext.broadcast(vocab)
    val gen = udf { (id: Long) =>
      val st = bcStats.value
      val d = st.dim
      val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + id)
      val x = new Array[Double](d)
      st.chol match {
        case Some(l) =>
          val z = Array.fill(d)(rng.nextGaussian())
          var i = 0
          while (i < d) {
            var s = st.mean(i)
            var k = 0
            while (k <= i) { s += l(i)(k) * z(k); k += 1 }
            x(i) = s
            i += 1
          }
        case None =>
          var i = 0
          while (i < d) { x(i) = st.overallMean + st.overallStd * rng.nextGaussian(); i += 1 }
      }
      bcVocab.value.decode(x, maxTokens)
    }
    spark.range(n).select(col("id"), gen(col("id")).as("value"))
  }
}
