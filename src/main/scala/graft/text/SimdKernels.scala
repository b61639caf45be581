package graft.text

/** SIMD capability gate for the Panama Vector API
  * (`jdk.incubator.vector`). The module is an INCUBATOR module: it is
  * present in every JDK 17+ image but only resolvable when the JVM
  * started with `--add-modules=jdk.incubator.vector` (build.sbt's
  * forked javaOptions and scripts/_jvmflags.sh both pass it; on a real
  * cluster the flag must reach the EXECUTOR JVMs —
  * `spark.executor.extraJavaOptions` — or each executor independently
  * falls back to the scalar kernel). Detection is per-JVM and lazy.
  *
  * The vector and scalar kernels are BIT-IDENTICAL by construction
  * (same per-cell chain structure, same fused multiply-adds — see
  * [[ScalarTriangle]]), so capability is a pure throughput property:
  * a heterogeneous cluster where only some executors resolve the
  * module still produces exactly one answer. */
private[graft] object SimdSupport {
  lazy val available: Boolean =
    try { Class.forName("jdk.incubator.vector.DoubleVector"); true }
    catch { case _: Throwable => false }

  /** JIT warmup gate (r17). The Vector API has a COMPILATION CLIFF:
    * until C2 compiles the kernel (and inlines the DoubleVector
    * intrinsics), every lane operation is an interpreted/C1 method
    * call on a boxed vector — measured ~15x the compiled wall on the
    * first cold q125 profile pass (51 s vs 3.3 s; the r16 bench
    * shipped an 83 s sample from exactly this). Tiered compilation
    * promotes on invocation counts, so a burst of tiny update() calls
    * pushes the kernel and the vector intrinsics to tier 4 BEFORE the
    * first real block lands on it. Time-bounded (~hundreds of ms,
    * once per JVM, only when the module is present): the loop stops
    * early the moment a probe call runs at compiled speed. Results
    * are unaffected — the warmup computes into scratch arrays. */
  lazy val warmed: Boolean = {
    if (available) {
      val d = 16; val m = 64
      val buf = new Array[Double](m * d)
      var k = 0
      while (k < buf.length) { buf(k) = (k % 7) * 0.25 + 0.5; k += 1 }
      val xxt = new Array[Double](d * (d + 1) / 2)
      val deadline = System.nanoTime() + 1500L * 1000 * 1000
      var fast = 0
      var i = 0
      // 3 consecutive sub-3µs calls = C2 code is in; hard caps keep
      // this bounded on any JIT behavior
      while (fast < 3 && i < 60000 && System.nanoTime() < deadline) {
        val t0 = System.nanoTime()
        SimdTriangle.update(xxt, buf, m, d)
        val dt = System.nanoTime() - t0
        fast = if (dt < 3000L) fast + 1 else 0
        i += 1
      }
    }
    available
  }
}

/** Scalar twin of [[SimdTriangle]] — the fallback when the incubator
  * module is absent, and the j-edge kernel the vector path itself uses
  * for the last `d−j` cells of a row that don't fill a vector.
  *
  * CANONICAL per-cell arithmetic (both kernels implement exactly
  * this, which is what makes them bit-identical):
  * for cell (i, j), over block rows r = 0 … m−1 of the ROW-major
  * buffer (row r at `[r·d, r·d+d)`),
  *  - four independent fused chains over the main body
  *    `mMain = m & ~3`: chain c accumulates rows r ≡ c (mod 4) as
  *    `s_c = fma(a, b, s_c)` — independent chains because the JIT
  *    will not reassociate FP reductions, so a single chain is bound
  *    by FMA latency;
  *  - combine LEFT-ASSOCIATIVELY: `s = ((s0 + s1) + s2) + s3`;
  *  - tail rows `[mMain, m)` fold in sequentially: `s = fma(a, b, s)`;
  *  - the block sum lands with `xxt(cell) += s`.
  * `Math.fma` is the single-rounding fused op — identical to the
  * vector lanewise FMA on every JVM (it is exactly specified, with a
  * slow-but-exact fallback where the CPU lacks FMA). */
private[text] object ScalarTriangle {

  /** Σ over rows of buf(r,i)·buf(r,j) in the canonical chain order. */
  @inline def cell(buf: Array[Double], m: Int, d: Int,
                   i: Int, j: Int): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    val mMain = m & ~3
    var r = 0
    var ro = 0
    while (r < mMain) {
      s0 = Math.fma(buf(ro + i), buf(ro + j), s0)
      s1 = Math.fma(buf(ro + d + i), buf(ro + d + j), s1)
      s2 = Math.fma(buf(ro + 2 * d + i), buf(ro + 2 * d + j), s2)
      s3 = Math.fma(buf(ro + 3 * d + i), buf(ro + 3 * d + j), s3)
      r += 4; ro += 4 * d
    }
    var s = ((s0 + s1) + s2) + s3
    while (r < m) {
      s = Math.fma(buf(r * d + i), buf(r * d + j), s)
      r += 1
    }
    s
  }

  /** Accumulate the packed upper triangle: for every (i, j ≥ i),
    * `xxt(off(i) + j − i) += cell(i, j)`. Row i's cells are contiguous
    * in the packed layout (base = off(i) − i, position base + j). */
  def update(xxt: Array[Double], buf: Array[Double], m: Int, d: Int): Unit = {
    var i = 0
    while (i < d) {
      val base = i * d - i * (i - 1) / 2 - i
      var j = i
      while (j < d) {
        xxt(base + j) += cell(buf, m, d, i, j)
        j += 1
      }
      i += 1
    }
  }
}

/** Panama-vector triangle update: vector lanes run ACROSS j (row i's
  * packed cells are contiguous in both xxt and each buffer row, so
  * the b-side loads and the xxt read-modify-write are plain contiguous
  * vector ops), while the chain structure over r is the SAME four
  * fused chains as [[ScalarTriangle]] — lanes never mix rows, so each
  * lane computes exactly the scalar cell value, bit for bit. The
  * chain combine is lanewise vector adds in the same left-associative
  * order, and the j-tail (< one vector of cells) runs the scalar cell
  * kernel itself.
  *
  * Throughput: the scalar kernel retires ~1 MAC/cycle/core (4 chains
  * against a 4-cycle FMA latency); this kernel retires lanes·chains
  * MACs per iteration against the same latency wall and is in
  * practice load-port/L2 bound at ~6–8 MACs/cycle — the
  * R15-Q125-FLOOR receipt measured the wide profile compute-bound on
  * exactly this update (5×10¹¹ MACs at d=3200), so the kernel's
  * speedup is the profile's speedup.
  *
  * This object must only be LOADED behind [[SimdSupport.available]] —
  * its class init references the incubator module. */
private[text] object SimdTriangle {
  import jdk.incubator.vector.DoubleVector
  private val SP = DoubleVector.SPECIES_PREFERRED
  private val L = SP.length()

  def update(xxt: Array[Double], buf: Array[Double], m: Int, d: Int): Unit = {
    val mMain = m & ~3
    var i = 0
    while (i < d) {
      val base = i * d - i * (i - 1) / 2 - i
      val jEndV = i + ((d - i) / L) * L
      var j = i
      while (j < jEndV) {
        var acc0 = DoubleVector.zero(SP)
        var acc1 = DoubleVector.zero(SP)
        var acc2 = DoubleVector.zero(SP)
        var acc3 = DoubleVector.zero(SP)
        var r = 0
        var ro = 0
        while (r < mMain) {
          acc0 = DoubleVector.broadcast(SP, buf(ro + i))
            .fma(DoubleVector.fromArray(SP, buf, ro + j), acc0)
          acc1 = DoubleVector.broadcast(SP, buf(ro + d + i))
            .fma(DoubleVector.fromArray(SP, buf, ro + d + j), acc1)
          acc2 = DoubleVector.broadcast(SP, buf(ro + 2 * d + i))
            .fma(DoubleVector.fromArray(SP, buf, ro + 2 * d + j), acc2)
          acc3 = DoubleVector.broadcast(SP, buf(ro + 3 * d + i))
            .fma(DoubleVector.fromArray(SP, buf, ro + 3 * d + j), acc3)
          r += 4; ro += 4 * d
        }
        var sv = acc0.add(acc1).add(acc2).add(acc3)
        while (r < m) {
          sv = DoubleVector.broadcast(SP, buf(r * d + i))
            .fma(DoubleVector.fromArray(SP, buf, r * d + j), sv)
          r += 1
        }
        DoubleVector.fromArray(SP, xxt, base + j).add(sv)
          .intoArray(xxt, base + j)
        j += L
      }
      while (j < d) {
        xxt(base + j) += ScalarTriangle.cell(buf, m, d, i, j)
        j += 1
      }
      i += 1
    }
  }
}
