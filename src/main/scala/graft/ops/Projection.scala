package graft.ops

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dimensionality reduction for visualization prep — the reference's
  * PCA 2-D projection of original+synthetic text vectors
  * (`Latanova_v1.py:541-546`), on `spark.ml`'s distributed PCA.
  *
  * Fit cost is one covariance tree-aggregate (O(d²) driver state) +
  * driver-side eigendecomposition; transform is a map-only projection —
  * the same shape as the text profiler, so it scales with row count. */
object Projection {

  /** Project an Array[Float|Double] embedding column to k principal
    * components. Returns idCol + `pc` (array of k doubles). */
  def pca(df: DataFrame, idCol: String, vecCol: String, k: Int = 2): DataFrame = {
    val withVec = df.select(col(idCol),
      array_to_vector(transform(col(vecCol), _.cast("double"))).as("__v"))
    val model = new PCA().setInputCol("__v").setOutputCol("__pc").setK(k)
      .fit(withVec)
    model.transform(withVec)
      .select(col(idCol), vector_to_array(col("__pc")).as("pc"))
  }

  /** ZCA-style whitening of the first `d` embedding dimensions:
    * y = L⁻¹(x − μ) where C = LLᵀ is the Cholesky factor of the sample
    * covariance — the decorrelation step in front of quantizers and
    * linear probes (whitened space makes Euclidean = Mahalanobis).
    *
    * Determinism is the design driver: the moment sums accumulate in
    * DECIMAL(38,12) (exact, partition-order-free), the covariance /
    * Cholesky / forward-substitution formulas are pinned to one
    * left-to-right association (Cholesky–Banachiewicz row order), and
    * the tiny d×d factorization runs driver-side from the EXACT sums
    * (O(d²) state — the same shape spark.ml's PCA uses for its
    * Gramian). The transform itself is a map-only projection with μ/L
    * inlined as literals: no shuffle, no UDF, survives any row count.
    *
    * `d` is capped at 8: the unrolled substitution expression tree
    * grows with d², and past that the packed-triangle Aggregator path
    * ([[graft.text.TextProfiler]]) plus a mapPartitions solve is the
    * right tool. Rows with null / short vectors are excluded.
    * Returns (idCol, y1..yd) rounded to 6 dp. */
  def whiten(df: DataFrame, idCol: String, vecCol: String, d: Int): DataFrame = {
    require(d >= 2 && d <= 8, s"d must be in [2,8], got $d")
    import org.apache.spark.sql.types.DecimalType
    val base = df.filter(col(vecCol).isNotNull && size(col(vecCol)) >= d)
    def xi(i: Int) = element_at(col(vecCol), i + 1).cast("double")
    val sumAggs =
      (0 until d).map(i => sum(xi(i).cast(DecimalType(38, 12))).as(s"s1_$i")) ++
      (for { i <- 0 until d; j <- i until d }
        yield sum((xi(i) * xi(j)).cast(DecimalType(38, 12))).as(s"s2_${i}_$j"))
    val r = base.agg(count(lit(1)).as("n"), sumAggs: _*).collect()(0)
    val n = r.getLong(0)
    require(n > d, s"need more than $d rows to estimate a $d-dim covariance")
    def dec(name: String): Double = {
      val v = r.getDecimal(r.fieldIndex(name))
      // non-ANSI Spark returns null on decimal-sum overflow — surface
      // it as an actionable error, not an NPE three frames later
      require(v != null,
        s"moment sum $name overflowed DECIMAL(38,12) — rescale the input")
      v.doubleValue
    }
    val s1 = (0 until d).map(i => dec(s"s1_$i"))
    def s2(i: Int, j: Int): Double =
      if (i <= j) dec(s"s2_${i}_$j") else dec(s"s2_${j}_$i")
    val m = (0 until d).map(i => s1(i) / n)
    // c_ij = (S2_ij − S1_i·S1_j/n)/(n−1) — this exact order is the
    // cross-engine contract (the oracle repeats it verbatim)
    def cov(i: Int, j: Int): Double = (s2(i, j) - s1(i) * s1(j) / n) / (n - 1)
    val L = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- 0 to i) {
      var acc = cov(i, j)
      for (k <- 0 until j) acc -= L(i)(k) * L(j)(k) // left-to-right
      L(i)(j) = if (i == j) math.sqrt(acc) else acc / L(j)(j)
      require(!L(i)(j).isNaN && (i != j || L(i)(j) > 0),
        s"covariance not positive definite at ($i,$j)")
    }
    // forward substitution, unrolled: y_i = (x_i − μ_i − Σ_{k<i} L_ik·y_k)/L_ii
    val ys = (0 until d).foldLeft(Vector.empty[Column]) { (acc, i) =>
      var e = xi(i) - lit(m(i))
      for (k <- 0 until i) e = e - lit(L(i)(k)) * acc(k)
      acc :+ (e / lit(L(i)(i)))
    }
    base.select(col(idCol) +:
      (0 until d).map(i => round(ys(i), 6).as(s"y${i + 1}")): _*)
  }

  /** Canonical planar realization of a 2-D score set — removes the
    * eigenbasis ambiguity of PCA output (component signs, rotation
    * within an eigenspace, and spark.ml's uncentered x·V offset are
    * all solver artifacts) by mapping the configuration to a canonical
    * congruent copy that depends only on the point GEOMETRY:
    *  1. center on the score centroid;
    *  2. rotate the minimum-id point onto the positive x-axis;
    *  3. reflect so the second-minimum-id point has y ≥ 0.
    * Any two isometric realizations of the same points canonicalize to
    * the same coordinates (up to solver float noise ~1e-12), which is
    * what lets a PCA FIGURE sit behind a cross-engine hash oracle: the
    * oracle re-derives the canonical coords from the generating data
    * without ever running an eigensolver.
    *
    * The two reference rows are a driver-bounded limit(2) collect.
    * Requires ≥ 2 points and the min-id point off-centroid. Returns
    * (idCol, x, y) doubles. */
  /** Reflection dead-band of [[canonical2d]] — shared with the q196
    * oracle SQL so both engines apply the identical threshold. */
  val CanonReflectEps: Double = 1e-9

  def canonical2d(df: DataFrame, idCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val cen = df.agg(avg(col(xCol).cast("double")).as("__cx"),
      avg(col(yCol).cast("double")).as("__cy"))
    val centered = df.crossJoin(broadcast(cen))
      .select(col(idCol), (col(xCol).cast("double") - col("__cx")).as("__u"),
        (col(yCol).cast("double") - col("__cy")).as("__v"))
      // materialized once: the refs collect below and the returned
      // projection would otherwise each re-execute the upstream plan
      // (for q196 that includes the spark.ml PCA transform — measured
      // as the whole chain running twice)
      .localCheckpoint()
    val refs = centered.orderBy(col(idCol)).limit(2).collect()
    require(refs.length >= 2, "canonical2d needs at least 2 points")
    val (u1, v1) = (refs(0).getDouble(1), refs(0).getDouble(2))
    val n1 = math.sqrt(u1 * u1 + v1 * v1)
    require(n1 > 0, "canonical2d: min-id point coincides with the centroid")
    val (cth, sth) = (u1 / n1, v1 / n1)
    val y2 = -refs(1).getDouble(1) * sth + refs(1).getDouble(2) * cth
    // ε-guarded reflection: when the second point is (near-)collinear
    // with the rotation axis, y2 is 0 up to solver noise (~1e-12) that
    // DIFFERS between the eigensolver side and the oracle's exact
    // arithmetic — a strict `< 0` would then mirror the whole figure
    // on one engine only. 1e-9 sits well above the noise and well
    // below the 1e-6 quantization step; the oracle applies the same
    // threshold, so both engines pick +1 in the degenerate band.
    val fl = if (y2 < -CanonReflectEps) -1.0 else 1.0
    centered.select(col(idCol),
      (col("__u") * lit(cth) + col("__v") * lit(sth)).as("x"),
      ((col("__u") * lit(-sth) + col("__v") * lit(cth)) * lit(fl)).as("y"))
  }

  /** Johnson–Lindenstrauss random projection with Rademacher (±1)
    * entries (Achlioptas 2003 — database-friendly projections: the
    * sign matrix preserves pairwise distances with the same JL
    * guarantee as Gaussian entries, no transcendentals needed):
    * out_j = (1/√m) Σ_i v_i · s(i,j), s(i,j) = ±1 keyed by
    * md5(seed:i:j)'s first hex digit. The sketching step in front of
    * LSH / clustering when d is large: a 768-dim corpus projects to
    * m=64 at 12x less ANN scan cost with bounded distortion.
    *
    * The matrix depends only on (seed, i, j) — derived DRIVER-SIDE
    * once (m·d md5 calls, no data pass) and shipped as a BROADCAST
    * variable, so the transform is a pure map-only projection (no
    * shuffle) and the whole chain replays in the oracle from the same
    * md5 parity. A plan-literal matrix (typedLit) was the first form;
    * at real embedding widths (3200-in × 256-out) that embeds ~820k
    * doubles in every plan string — the broadcast keeps the plan
    * constant-size and ships the matrix once per executor. The matvec
    * runs as one tight primitive-double loop per row (no per-element
    * boxing, ~d·m FMAs — faster than the zip_with/aggregate HOF chain
    * it replaces), summing in ascending i per j: the SAME left fold
    * over i as before — bit-stable cross-engine, q208's oracle
    * replays unchanged. Returns one row per
    * (id, j, out) — out UNROUNDED; callers round for display.
    * Rows with null vectors, a length ≠ `inDim`, OR a null element
    * inside the vector are DROPPED (element nulls null-propagate to
    * a null projection, exactly as the HOF fold did; posexplode then
    * skips the row): a mixed-dimension or null-holed corpus is an
    * upstream bug this surfaces by omission (diff the row counts to
    * count the drops). */
  def jlTransform(df: DataFrame, idCol: String, vecCol: String,
                  inDim: Int, outDim: Int, seed: String = "jl0"): DataFrame = {
    require(inDim >= 1 && outDim >= 1,
      s"dims must be >= 1, got inDim=$inDim outDim=$outDim")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    def sign(i: Int, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) scale else -scale
    }
    // row-major [j][i] so the inner loop walks one matrix row linearly
    val mat: Array[Array[Double]] = Array.tabulate(outDim, inDim)((j, i) => sign(i, j))
    val bc = df.sparkSession.sparkContext.broadcast(mat)
    // boxed element type: a null SLOT inside the array must propagate
    // to a null output (the zip_with/aggregate form this replaced
    // nulled the fold; posexplode then drops the row) — Seq[Double]
    // would NPE in the deserializer instead
    val project = udf { (v: scala.collection.Seq[java.lang.Double]) =>
      val m = bc.value
      val n = v.length
      val x = new Array[Double](n)
      var ok = true
      var i = 0
      while (ok && i < n) {
        val e = v(i)
        if (e == null) ok = false else { x(i) = e.doubleValue(); i += 1 }
      }
      if (!ok) null
      else Array.tabulate(m.length) { j =>
        val row = m(j)
        var acc = 0.0
        var k = 0
        while (k < n) { acc += x(k) * row(k); k += 1 }
        acc
      }
    }
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === inDim)
      .select(col(idCol),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .select(col(idCol), posexplode(project(col("__v"))))
      .select(col(idCol), col("pos").cast("int").as("j"),
        col("col").as("out"))
  }
}
