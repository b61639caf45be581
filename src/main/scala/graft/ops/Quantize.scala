package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding compression for vector-heavy training corpora. At 100 TB
  * an `Array[Float]` embedding column is routinely the widest thing in
  * the table (a 768-dim float vector is 3 KB/row); symmetric int8
  * quantization cuts it 4x with bounded cosine error, which is the
  * difference between an ANN index that fits executor memory and one
  * that spills. The reference ships raw float vectors only
  * (`Latanova_v1.py:23-43`); this is the storage-scale path a Spark
  * deployment adds in front of [[Similarity]]'s kernels.
  *
  * Everything is a pure per-row expression chain (array HOFs —
  * `transform`/`aggregate` — inside whole-stage codegen): zero
  * shuffles, zero UDFs, trivially parallel at any scale.
  */
object Quantize {

  /** Map a double array-column element through the shared quantizer
    * formula: round-half-up of x/scale, clamped to [-127, 127]. */
  private def q8(x: Column, scale: Column): Column =
    least(greatest(floor(x / scale + lit(0.5)), lit(-127.0)), lit(127.0))

  /** Symmetric per-vector int8 quantization: scale = max|v| / 127,
    * q_i = clamp(round(v_i / scale)) as an int8. Per-vector (not
    * per-corpus) scaling needs no global pass and no broadcast state —
    * each row quantizes independently, so the operator is a pure
    * projection that survives any scale-up untouched.
    *
    * Output per row: (id, scale, qvec array<byte>, n_clipped,
    * err_l2 — the L2 norm of the dequantization residual, the number
    * a pipeline monitors to catch embedding-distribution drift
    * breaking its quantizer). All arithmetic is double-precision with
    * the exact same operation order the DuckDB oracle replays, so the
    * results hash-match bit-for-bit cross-engine (the residual sum is
    * a left fold, deterministic on both sides). Zero vectors (scale 0)
    * quantize to all-zeros with zero error. */
  def int8Symmetric(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val withV = df
      .filter(col(vecCol).isNotNull)
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__amax", array_max(transform(col("__v"), x => abs(x))))
      .withColumn("scale", col("__amax") / lit(127.0))
    withV
      .withColumn("qvec",
        when(col("__amax") === 0.0,
          transform(col("__v"), _ => lit(0).cast("byte")))
        .otherwise(
          transform(col("__v"), x => q8(x, col("scale")).cast("byte"))))
      .withColumn("n_clipped",
        when(col("__amax") === 0.0, lit(0))
        .otherwise(aggregate(col("__v"), lit(0), (c, x) =>
          c + when(abs(floor(x / col("scale") + lit(0.5))) > 127.0, 1)
            .otherwise(0))))
      .withColumn("err_l2",
        when(col("__amax") === 0.0, lit(0.0))
        .otherwise(round(sqrt(aggregate(col("__v"), lit(0.0), (acc, x) => {
          val r = x - q8(x, col("scale")) * col("scale")
          acc + r * r
        })), 6)))
      .select(col(idCol), col("scale"), col("qvec"), col("n_clipped"),
        col("err_l2"))
  }

  /** Dequantize back to doubles — the read path of [[int8Symmetric]].
    * A pure projection; composes with the cosine kernels directly. */
  def dequantize(df: DataFrame, qvecCol: String, scaleCol: String,
                 as: String = "vec"): DataFrame =
    df.withColumn(as,
      transform(col(qvecCol), q => q.cast("double") * col(scaleCol)))

  // ---------------------------------------------------------------
  // Product quantization (PQ): the compression step beyond int8.
  // ---------------------------------------------------------------

  /** Sum of squared differences between two double-array columns —
    * the L2² kernel PQ assigns and scores with (no sqrt: monotone, so
    * rankings are identical and one transcendental cheaper). */
  private[ops] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Explode a vector column into its `m` contiguous subvectors:
    * one row per (id, subspace). Pure projection + generator — no
    * shuffle; the subspace id becomes an ordinary grouping key so ALL
    * m per-subspace trainings below share the same Spark jobs. */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
                         m: Int, subDim: Int): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(array((0 until m).map(s =>
          slice(transform(col(vecCol), _.cast("double")),
            s * subDim + 1, subDim)): _*)))
      .withColumnRenamed("pos", "subspace")
      .withColumnRenamed("col", "sv")

  /** Nearest-centroid code per (id, subspace): broadcast-join the
    * codebook on the subspace key, then a map-side `min_by` argmin
    * (L2², ties → lowest centroid id). One narrow agg, no window. */
  private def assignCodes(sub: DataFrame, codebook: DataFrame): DataFrame =
    sub.join(broadcast(codebook), "subspace")
      .withColumn("__d2", l2sq(col("sv"), col("cv")))
      .groupBy("id", "subspace")
      .agg(min_by(col("centroid_id"), struct(col("__d2"), col("centroid_id")))
        .as("code"),
        first(col("sv")).as("sv"))

  /** Train PQ codebooks: split each vector into `m` contiguous
    * subspaces and run Lloyd k-means in every subspace SIMULTANEOUSLY
    * — the subspace id rides along as a grouping key, so each round
    * is one corpus scan + one narrow (subspace, code, pos) shuffle
    * for all m codebooks together, not m sequential trainings.
    * Seeds = the k lowest-id vectors' subvectors (deterministic,
    * oracle-replayable — same convention as
    * [[Similarity.kmeansCentroids]]); clusters that lose every member
    * keep their previous centroid. Returns (subspace, centroid_id,
    * cv: array<double>).
    *
    * Scale story: a trained codebook is m·k subvectors (~KB) and each
    * corpus vector compresses to m small codes — 64 dims of float32
    * (256 B) become 4 codes (4 B at k ≤ 256): 64x. The ADC search
    * ([[pqTopKAdc]]) then never touches raw vectors at all. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, k: Int, iterations: Int,
              checkpointEvery: Int = 2): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val sub = subvectors(df, idCol, vecCol, m, subDim)
    var codebook = subvectors(
        df.orderBy(col(idCol)).limit(k), idCol, vecCol, m, subDim)
      .select(col("subspace"), col("id").as("centroid_id"),
        col("sv").as("cv"))
      .transform(Checkpoints.cut)
    var it = 0
    while (it < iterations) {
      val assigned = assignCodes(sub, codebook)
      val means = assigned
        .select(col("subspace"), col("code"), posexplode(col("sv")))
        .groupBy("subspace", "code", "pos").agg(avg("col").as("m"))
        .groupBy("subspace", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("newCv"))
        .withColumnRenamed("code", "centroid_id")
      val next = codebook.join(means, Seq("subspace", "centroid_id"), "left")
        .select(col("subspace"), col("centroid_id"),
          coalesce(col("newCv"), col("cv")).as("cv"))
      it += 1
      codebook =
        if (it % checkpointEvery == 0 || it == iterations)
          next.transform(Checkpoints.cut)
        else next
    }
    codebook
  }

  /** PQ-encode a corpus against a trained codebook: each vector
    * becomes m (subspace, code) rows. This IS the stored index —
    * raw vectors can be dropped after this projection. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, dim: Int, m: Int): DataFrame =
    // NO denseFloor here: the persisted-index writers (IvfIndex
    // buildPq/appendPq) feed this straight into a partitioned parquet
    // write, where extra tasks mean extra files per (gen, cell) dir —
    // measured +1.5 s on q232's append lifecycle when the floor leaked
    // in. The transient ADC scorers floor the RESULT at their call
    // sites instead.
    assignCodes(subvectors(df, idCol, vecCol, m, dim / m), codebook)
      .select(col("id"), col("subspace"), col("code"))

  /** PQ ANN via asymmetric distance computation (ADC): per query,
    * compute the exact L2² from each query subvector to every codebook
    * centroid (an m·k distance table, ~KB — broadcast), then score
    * each corpus vector as the SUM of its codes' table entries. The
    * scoring join touches only the (id, subspace, code) index — never
    * a raw corpus vector — so the per-query cost is m lookups per
    * candidate regardless of dimensionality: that is the 100 TB ANN
    * shape. Approximate by construction (quantization error), like
    * every PQ index; [[int8TopK]]/[[Similarity.bruteForceTopK]] are
    * the exact baselines. Returns (query_id, rank, neighbor_id,
    * adist) with rank by ascending ADC distance, ties → lowest id.
    * The distance table scales as |queries|·m·k rows and is broadcast
    * — size query BATCHES accordingly (thousands of queries per call
    * is fine; the corpus side is unbounded). */
  def pqTopKAdc(queries: DataFrame, corpus: DataFrame,
                qIdCol: String, qVecCol: String,
                cIdCol: String, cVecCol: String,
                dim: Int, m: Int, k: Int, iterations: Int,
                topK: Int): DataFrame = {
    val codebook = pqTrain(corpus, cIdCol, cVecCol, dim, m, k, iterations)
    val codes = pqEncode(corpus, cIdCol, cVecCol, codebook, dim, m)
    val dtab = adcTables(queries, qIdCol, qVecCol, codebook, m, dim / m)
    // final top-k on the mergeable bounded heap (r17): ascending ADC
    // distance rides the heap's (sim DESC, id ASC) order as sim =
    // −adist — identical ranks and tie-breaks to the old rank window
    // (negation is exact; the heap compares with ==, so ±0.0 can't
    // split), with O(k) state per query instead of a full per-query
    // sort behind an exchange of every scored candidate.
    adcTopK(codes.join(broadcast(dtab), Seq("subspace", "code")), topK)
  }

  /** Shared ADC scoring tail: sum the per-code table entries per
    * (query, candidate), then bounded-heap top-k by ascending adist
    * (ties → lowest neighbor id). Input needs (query_id, id, d2). */
  private def adcTopK(scoredCodes: DataFrame, topK: Int): DataFrame =
    Similarity.topKFromScored(
      scoredCodes
        .groupBy(col("query_id"), col("id").as("neighbor_id"))
        .agg(sum(col("d2")).as("adist"))
        .select(col("query_id"), col("neighbor_id"),
          (-col("adist")).as("sim")),
      topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("sim")).as("adist"))

  /** Per-query ADC distance tables: exact L2² from each query
    * subvector to every codebook centroid — |queries|·m·k rows, the
    * broadcast side of every ADC scoring join. */
  private[ops] def adcTables(queries: DataFrame, qIdCol: String, qVecCol: String,
                        codebook: DataFrame, m: Int, subDim: Int): DataFrame =
    subvectors(queries, qIdCol, qVecCol, m, subDim)
      .join(broadcast(codebook), "subspace")
      .select(col("id").as("query_id"), col("subspace"),
        col("centroid_id").as("code"), l2sq(col("sv"), col("cv")).as("d2"))

  /** IVF-PQ: the coarse-pruned form of [[pqTopKAdc]] — the composition
    * that makes a PQ index sub-linear PER QUERY at corpus scale. The
    * corpus is partitioned once into `nCells` inverted-file cells
    * (nearest coarse centroid by L2; centroids = the nCells lowest-id
    * corpus vectors, the same deterministic oracle-replayable seed
    * convention as [[graft.ops.Similarity.ivfTopK]]), and each query
    * scores codes ONLY in its `nProbe` nearest cells: per-query work
    * falls from |corpus|·m table lookups to ~|corpus|·m·nProbe/nCells,
    * while the ADC scoring join still never touches a raw corpus
    * vector. Recall < [[pqTopKAdc]]'s by construction (a true neighbor
    * in an unprobed cell is lost — the standard IVF trade dialed by
    * nProbe/nCells); [[pqRecallAudit]]'s exact side bounds both.
    * Returns (query_id, rank, neighbor_id, adist), rank by ascending
    * ADC distance, ties → lowest neighbor id. */
  def ivfPqTopKAdc(queries: DataFrame, corpus: DataFrame,
                   qIdCol: String, qVecCol: String,
                   cIdCol: String, cVecCol: String,
                   dim: Int, m: Int, k: Int, iterations: Int,
                   nCells: Int, nProbe: Int, topK: Int): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells, got nProbe=$nProbe nCells=$nCells")
    val cv = corpus.filter(col(cVecCol).isNotNull)
      .select(col(cIdCol).as("id"),
        transform(col(cVecCol), _.cast("double")).as("__v"))
    val cells = cv.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cell_id"), col("__v").as("ccv"))
    // corpus → cell: broadcast the (tiny) centroid table, map-side
    // argmin per vector — one narrow agg keyed on the corpus id.
    // (NO denseFloor: the argmin is light per row and the r18 closing
    // burst measured the floor net-negative on this family — see
    // Similarity.ivfTopK's note; the floor stays only on the truly
    // dense brute-force/int8/exact-audit kernels.)
    val assigned = cv.crossJoin(broadcast(cells))
      .withColumn("__d2", l2sq(col("__v"), col("ccv")))
      .groupBy("id")
      .agg(min_by(col("cell_id"), struct(col("__d2"), col("cell_id"))).as("cell"))
    val codebook = pqTrain(corpus, cIdCol, cVecCol, dim, m, k, iterations)
    val codes = pqEncode(corpus, cIdCol, cVecCol, codebook, dim, m)
    val dtab = adcTables(queries, qIdCol, qVecCol, codebook, m, dim / m)
    // query → its nProbe nearest cells (same broadcast centroid table).
    // Probe pick on the mergeable bounded heap when cell ids are
    // longs (sim = −d2 gives the window's exact (d2 ASC, cell ASC)
    // order — see probeTopAgg); non-long ids keep the rank window.
    val cellIsLong = cells.schema("cell_id").dataType ==
      org.apache.spark.sql.types.LongType
    val qd = queries.filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"),
        transform(col(qVecCol), _.cast("double")).as("__qv"))
      .crossJoin(broadcast(cells))
      .withColumn("__d2", l2sq(col("__qv"), col("ccv")))
    val probes =
      if (cellIsLong)
        qd.groupBy("query_id")
          .agg(Similarity.probeTopAgg(-col("__d2"), col("cell_id"), nProbe,
            cellIsLong = true).as("__top"))
          .select(col("query_id"), explode(col("__top")).as("__t"))
          .select(col("query_id"), col("__t.id").as("cell_id"))
      else {
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("__d2").asc, col("cell_id").asc)
        qd.withColumn("__rn", row_number().over(wp)).filter(col("__rn") <= nProbe)
          .select(col("query_id"), col("cell_id"))
      }
    // prune-then-score: the cell join fans each corpus code out to the
    // queries probing its cell ONLY; the ADC table join then needs the
    // query id in its key (unlike the full-scan form, where every code
    // row scored against every query). Final top-k rides the same
    // bounded heap as pqTopKAdc.
    adcTopK(
      codes.join(assigned, "id")
        .join(broadcast(probes), col("cell") === col("cell_id"))
        .join(broadcast(dtab), Seq("query_id", "subspace", "code")),
      topK)
  }

  /** Recall@k audit of the PQ-ADC index against the exact L2 top-k —
    * the evaluation every ANN deployment runs before trusting its
    * index (and re-runs when the embedding distribution drifts).
    * Returns one row per query: (query_id, n_overlap, recall).
    * The exact side is a brute-force scan over the audit query set —
    * run it on a SAMPLED query set at scale; the PQ side is the
    * production codes-only search being audited. */
  def pqRecallAudit(queries: DataFrame, corpus: DataFrame,
                    qIdCol: String, qVecCol: String,
                    cIdCol: String, cVecCol: String,
                    dim: Int, m: Int, k: Int, iterations: Int,
                    topK: Int,
                    maxExactCompares: Long = 100000000L): DataFrame = {
    // The exact side is an unavoidable |queries|·|corpus| scan — the
    // guard makes an unsampled full-corpus audit unreachable at default
    // settings (the cosine family's cosinePairsAuto convention): a
    // caller auditing a big corpus must sample the query set down, or
    // raise the bound explicitly and own the cost. The query count is a
    // full scan of the (by contract sampled, so small) audit set; the
    // corpus probe is LIMIT-bounded at the refusal threshold + 1, so on
    // a corpus far past the bound — or one that is an expensive derived
    // pipeline — the guard stops after the first
    // maxExactCompares/qn + 1 rows instead of materializing everything
    // twice.
    val qn = queries.filter(col(qVecCol).isNotNull).count()
    if (qn > 0) {
      val perQuery = maxExactCompares / qn
      // A per-query allowance past Int.MaxValue can't be probed by a
      // LIMIT count (and the cheap early-stop no longer matters next
      // to a multi-billion-row audit): fall back to the full count so
      // the bound is ENFORCED at any size, never silently skipped.
      val cn =
        if (perQuery < Int.MaxValue)
          corpus.filter(col(cVecCol).isNotNull).limit(perQuery.toInt + 1).count()
        else corpus.filter(col(cVecCol).isNotNull).count()
      require(cn <= perQuery,
        s"pqRecallAudit's exact side is a brute-force |queries|x|corpus| scan " +
          s"($qn x >=$cn compares > $maxExactCompares): run the audit on a " +
          "SAMPLED query set, or raise maxExactCompares explicitly")
    }
    val pq = pqTopKAdc(queries, corpus, qIdCol, qVecCol, cIdCol, cVecCol,
      dim, m, k, iterations, topK)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"),
        transform(col(qVecCol), _.cast("double")).as("__qv"))
    val cv = Similarity.denseFloor(
      corpus.filter(col(cVecCol).isNotNull)
        .select(col(cIdCol).as("neighbor_id"),
          transform(col(cVecCol), _.cast("double")).as("__cv")), "neighbor_id")
    // exact side's top-k on the same bounded heap as the ADC side
    // (sim = −d2 ⇒ the window's (d2 ASC, id ASC) order exactly)
    val exact = Similarity.topKFromScored(
        qv.crossJoin(cv)
          .select(col("query_id"), col("neighbor_id"),
            (-l2sq(col("__qv"), col("__cv"))).as("sim")),
        topK)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    pq.join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id").agg(
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("recall",
        round(col("n_overlap").cast("double") / lit(topK.toDouble), 6))
  }

  /** Brute-force cosine top-k over int8-QUANTIZED vectors — the ANN
    * baseline run directly on the compressed column, proving the 4x
    * storage cut costs no join machinery. Per-vector scales cancel out
    * of the cosine (cos(s_a·qa, s_b·qb) = qa·qb / (‖qa‖‖qb‖)), so
    * scoring is pure integer dot products: Σq_i² and qa·qb are exact
    * in 64-bit (and far below 2^53, so the double division is
    * bit-identical cross-engine — no float-sum ordering anywhere).
    * Zero-norm vectors are excluded from both sides (cosine
    * undefined). Same shape as [[Similarity.bruteForceTopK]]: exact
    * quadratic baseline; the quantized vectors feed the bucketed
    * LSH/IVF kernels unchanged for the scale path. */
  def int8TopK(queries: DataFrame, corpus: DataFrame,
               qIdCol: String, qVecCol: String,
               cIdCol: String, cVecCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, id: String, vec: String,
             idAs: String, p: String): DataFrame =
      int8Symmetric(df, id, vec).select(
        col(id).as(idAs), col("qvec").as(p + "q"),
        aggregate(transform(col("qvec"), q => q.cast("long") * q.cast("long")),
          lit(0L), _ + _).as(p + "n"))
    val qs = prep(queries, qIdCol, qVecCol, "query_id", "q_")
      .filter(col("q_n") > 0)
    val cs = Similarity.denseFloor(
      prep(corpus, cIdCol, cVecCol, "neighbor_id", "c_")
        .filter(col("c_n") > 0), "neighbor_id")
    val dot = aggregate(
      zip_with(col("q_q"), col("c_q"), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), _ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    qs.crossJoin(cs)
      .withColumn("sim", dot.cast("double") /
        (sqrt(col("q_n").cast("double")) * sqrt(col("c_n").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Size-routed int8 ANN — the [[Similarity.cosinePairsAuto]]
    * convention for this family: the exact integer-kernel crossJoin
    * ([[int8TopK]]) while the corpus is small enough that
    * |queries|·|corpus| compares are affordable, the IVF-pruned path
    * above `maxExactRows`. Cosine is invariant to the per-vector
    * quantization scale, so the scale route runs
    * [[Similarity.ivfTopK]] DIRECTLY on the quantized components (cast
    * back to double — exact, no dequantize multiply): same
    * (query_id, rank, neighbor_id, sim) contract, approximate recall
    * above the threshold, dialed by nCentroids/nprobe (nprobe =
    * nCentroids probes every cell and degenerates to the exact
    * ranking). Production callers use THIS entry point — the quadratic
    * kernel is simply unreachable past the threshold.
    *
    * Routing cost: a caller that already knows the corpus size passes
    * it as `corpusSizeHint` and the gate costs nothing; otherwise the
    * probe is a LIMIT-bounded count — it scans at most
    * `maxExactRows + 1` rows (with the same isNotNull filter the
    * kernels apply, so null-vector rows the kernels would drop don't
    * push a small corpus over the threshold) and stops early on a huge
    * corpus instead of paying a full count() scan before any work. */
  // ---------------------------------------------------------------
  // Binary (1-bit) sign quantization: the compression endpoint.
  // ---------------------------------------------------------------

  /** Sign-bit binarization (Charikar 2002 SRP with the identity
    * hyperplanes): dimension i contributes bit (v_i > 0), packed
    * 32 dims per BIGINT word — a 64-dim float vector becomes two
    * longs, a 16x storage cut vs float32 (256 B -> 16 B; 32x only vs
    * float64). Ties at exactly 0.0 pack as 0. Words
    * hold values in [0, 2^32), so the packing involves no sign-bit
    * edge cases in either engine (the DuckDB oracle replays the same
    * shifts on BIGINT).
    *
    * Pure projection (one array HOF chain, codegen'd, no shuffle).
    * Output: (id, words: array<bigint> of ceil(d/32), n_pos). Rows
    * with a null vector are dropped; a zero-length vector packs to an
    * empty word array. */
  def binarySign(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        transform(col(vecCol), _.cast("double")).as("__v"))
      .withColumn("words",
        when(size(col("__v")) === 0, expr("CAST(array() AS ARRAY<BIGINT>)"))
          .otherwise(expr(
            """transform(sequence(0, CAST(ceil(size(__v) / 32.0) AS INT) - 1), w ->
              |  aggregate(sequence(w * 32, least(w * 32 + 31, size(__v) - 1)),
              |    CAST(0 AS BIGINT),
              |    (acc, i) -> acc + IF(element_at(__v, i + 1) > 0.0D,
              |      shiftleft(CAST(1 AS BIGINT), i - w * 32),
              |      CAST(0 AS BIGINT))))""".stripMargin)))
      .withColumn("n_pos",
        aggregate(col("__v"), lit(0),
          (acc, x) => acc + when(x > 0.0, 1).otherwise(0)))
      .select(col(idCol), col("words"), col("n_pos"))

  /** Hamming distance between two packed sign-bit columns (equal word
    * counts): sum of per-word popcounts of the XOR — the native
    * codegen [[graft.expressions.HammingDistance]] expression
    * (Long.bitCount(a ^ b) inlined into the generated loop; the
    * zip_with/aggregate HOF form boxes every word and measured ~2x
    * SLOWER than the native-dot exact scan it must undercut).
    * Integer-exact, same result as the HOF composition. */
  def hammingDist(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.HammingDistance(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** Two-stage binary ANN — the standard hash-then-rerank pipeline
    * (scan compact sign bits for candidates, re-score only candidates
    * with exact float cosine):
    *
    *  1. '''Candidate scan''': queries' packed words broadcast against
    *     the corpus' packed words (16 bytes/vector at d=64 — the whole
    *     binary index for a billion vectors fits a few executors'
    *     memory); per-query `cand` nearest by Hamming distance, ties
    *     toward the lower neighbor id. The scan shuffles per-partition
    *     bounded heaps only (|Q|·cand·P rows — the
    *     [[Similarity.bruteForceTopK]] discipline), never the
    *     |Q|·|C| score space.
    *  2. '''Rerank''': the |Q|·cand candidate id pairs broadcast-join
    *     back to the full float vectors and re-score with exact double
    *     cosine; final top-k by (sim desc, neighbor_id asc).
    *
    * sign(cos) concentrates around the true angle (P[bit differs] =
    * θ/π per Goemans–Williamson), so Hamming rank ≈ cosine rank and
    * `cand` ≈ 4k recovers most of the exact top-k; the output contract
    * is DEFINED as this two-stage result (deterministic, both stages
    * pinned by integer arithmetic + id tie-breaks), so the row is
    * hash-replayable in the oracle — same discipline as the LSH
    * dedup family (sketch proposes, exact arithmetic decides).
    * Output: (query_id, rank, neighbor_id, hd, sim). */
  def hammingTopK(queries: DataFrame, corpus: DataFrame,
                  qIdCol: String, qVecCol: String,
                  cIdCol: String, cVecCol: String,
                  k: Int, cand: Int): DataFrame = {
    require(cand >= k, s"cand ($cand) must be >= k ($k)")
    val qb = binarySign(queries, qIdCol, qVecCol)
      .select(col(qIdCol).as("query_id"), col("words").as("__qw"))
      .hint("broadcast")
    val cb = binarySign(corpus, cIdCol, cVecCol)
      .select(col(cIdCol).as("neighbor_id"), col("words").as("__cw"))
    val scored = qb.crossJoin(cb)
      .withColumn("hd", hammingDist(col("__qw"), col("__cw")))
      .select("query_id", "neighbor_id", "hd")
    cosineRerank(hammingTopCand(scored, cand),
      queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k)
  }

  /** Shared candidate-selection tail of the binary-ANN family: exact
    * global top-`cand` per query over (query_id, neighbor_id, hd),
    * ties toward the lower neighbor id. ONE definition (like
    * [[cosineRerank]]) so the flat and IVF routes can never diverge
    * in the candidate contract.
    *
    * Rides [[Similarity.topKFromScored]]'s mergeable bounded-heap
    * kernel with sim = −hd (hd ASC, neighbor ASC ≡ sim DESC, id ASC;
    * small-int negation and the double round-trip are exact):
    * O(cand) primitives of aggregation state per query at all times —
    * the previous per-(query, partition) collect_list buffered every
    * candidate in the group (a whole probed cell on the IVF route)
    * and paid a rank Window over the survivors. */
  private def hammingTopCand(scored: DataFrame, cand: Int): DataFrame =
    Similarity.topKFromScored(
        scored.select(col("query_id"), col("neighbor_id"),
          (-col("hd")).cast("double").as("sim")), cand)
      .select(col("query_id"), col("neighbor_id"),
        (-col("sim")).cast("long").as("hd"))

  /** Shared rerank tail of the binary-ANN family: the |Q|·cand
    * candidate id pairs broadcast-join back to the full float vectors
    * and re-score with exact double cosine; final top-k by
    * (sim desc, neighbor_id asc). ONE definition so the flat-scan and
    * IVF-pruned routes can never diverge in the rerank contract. */
  private def cosineRerank(cands: DataFrame,
                           queries: DataFrame, qIdCol: String, qVecCol: String,
                           corpus: DataFrame, cIdCol: String, cVecCol: String,
                           k: Int): DataFrame = {
    val qv = queries.filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).as("query_id"),
        transform(col(qVecCol), _.cast("double")).as("__qv"))
    val cv = corpus.filter(col(cVecCol).isNotNull)
      .select(col(cIdCol).as("neighbor_id"),
        transform(col(cVecCol), _.cast("double")).as("__cv"))
    val wk = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    broadcast(cands)
      .join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("sim", Similarity.cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "hd", "sim")
  }

  /** IVF-pruned binary ANN — the corpus-scale route of
    * [[hammingTopK]], completing the family's gate discipline (each
    * ANN variant pairs its exact/flat kernel with an inverted-file
    * composition: q30 for floats, q147 for int8, this for sign bits):
    * the binary index is annotated with its coarse cell (the shared
    * deterministic centroid source — seed = lowest ids, optional Lloyd
    * rounds), each query Hamming-scans ONLY its `nprobe` nearest
    * cells' words (~nprobe/nCentroids of the index per query instead
    * of all of it), candidates rerank through the shared exact-cosine
    * tail. Per-query cost: nCentroids probe dots + the probed cells'
    * popcounts + cand rerank dots. Both stages pinned by the same
    * tie-breaks as the flat route, so the output contract stays
    * deterministic and oracle-replayable. */
  def hammingTopKIvf(queries: DataFrame, corpus: DataFrame,
                     qIdCol: String, qVecCol: String,
                     cIdCol: String, cVecCol: String,
                     k: Int, cand: Int,
                     nCentroids: Int = 16, nprobe: Int = 4,
                     kmeansIterations: Int = 0): DataFrame = {
    require(cand >= k, s"cand ($cand) must be >= k ($k)")
    require(nprobe >= 1 && nprobe <= nCentroids,
      s"nprobe ($nprobe) must be in [1, nCentroids=$nCentroids]")
    val cents = Similarity.centroidsFor(corpus, cIdCol, cVecCol,
      nCentroids, kmeansIterations)
    val cb = binarySign(corpus, cIdCol, cVecCol)
      .select(col(cIdCol).as("neighbor_id"), col("words").as("__cw"))
      .join(Similarity.assignToCentroid(corpus, cIdCol, cVecCol, cents,
          "centroid_id", "cv")
        .select(col("id").as("neighbor_id"), col("centroid_id").as("cell")),
        "neighbor_id")
    val qProbes = {
      val cvs = cents.select(col("centroid_id").as("cell"),
        transform(col("cv"), _.cast("double")).as("__ccv"))
      val j = queries.filter(col(qVecCol).isNotNull)
        .select(col(qIdCol).as("query_id"),
          transform(col(qVecCol), _.cast("double")).as("__qv"))
        .crossJoin(broadcast(cvs))
        .withColumn("__sim", Similarity.cosine(col("__qv"), col("__ccv")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("__sim").desc, col("cell").asc)
      j.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= nprobe)
        .select("query_id", "cell")
    }
    val qb = binarySign(queries, qIdCol, qVecCol)
      .select(col(qIdCol).as("query_id"), col("words").as("__qw"))
    val scored = qb.join(qProbes, "query_id").hint("broadcast")
      .join(cb, "cell")
      .withColumn("hd", hammingDist(col("__qw"), col("__cw")))
      .select("query_id", "neighbor_id", "hd")
    cosineRerank(hammingTopCand(scored, cand),
      queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, k)
  }

  /** Size-gated binary ANN — the auto-route of the sign-bit family,
    * completing the gate discipline ([[int8TopKAuto]]'s contract for
    * packed words): flat [[hammingTopK]] is O(|Q|·|C|) popcounts and
    * nothing else stops a caller pointing it at a billion-row corpus.
    * At or below `maxFlatRows` non-null-vector corpus rows the flat
    * scan runs (exact Hamming candidates — the ground-truth contract);
    * above it the scan is pruned to `nprobe` of `nCentroids` IVF
    * cells ([[hammingTopKIvf]]). Routing cost mirrors the int8 gate:
    * `corpusSizeHint` skips the probe entirely; otherwise a
    * LIMIT-bounded count scans at most maxFlatRows + 1 rows (same
    * isNotNull filter the kernels apply) and stops early on a huge
    * corpus. At nprobe = nCentroids the two routes are spec-proven
    * identical (every cell probed — the q147/q207 parity pattern), so
    * the gate can never change results for a corpus that straddles
    * the threshold with full probing. */
  def hammingTopKAuto(queries: DataFrame, corpus: DataFrame,
                      qIdCol: String, qVecCol: String,
                      cIdCol: String, cVecCol: String,
                      k: Int, cand: Int,
                      maxFlatRows: Long = 1000000L,
                      nCentroids: Int = 16, nprobe: Int = 4,
                      corpusSizeHint: Option[Long] = None): DataFrame =
    if (corpusSizeHint.getOrElse {
          // LIMIT-bounded probe while the threshold fits an Int; past
          // that a LIMIT can't decide the route, so fall back to the
          // full count — the gate must never silently route a corpus
          // larger than the threshold to the quadratic kernel
          if (maxFlatRows < Int.MaxValue - 1L)
            corpus.filter(col(cVecCol).isNotNull)
              .limit(maxFlatRows.toInt + 1).count()
          else corpus.filter(col(cVecCol).isNotNull).count()
        } <= maxFlatRows)
      hammingTopK(queries, corpus, qIdCol, qVecCol, cIdCol, cVecCol, k, cand)
    else
      hammingTopKIvf(queries, corpus, qIdCol, qVecCol, cIdCol, cVecCol,
        k, cand, nCentroids, nprobe)

  /** IVF centroid count for a corpus of `n` vectors at a target cell
    * size: K = max(minC, ⌈n / cellTarget⌉) while that stays within
    * `maxC`, then √-scaled past it (below). Fixed K is the classic
    * IVF scale trap — per-query candidates are nprobe·(n/K), so a
    * corpus growing under a pinned K turns the probe stage quadratic
    * in total (the r12 SF1-SCALELAW run caught q195 at wall ×29 for
    * data ×10 exactly this way — balanced cells, just 10× bigger); at
    * constant cell size the candidate set per query stays
    * ~nprobe·cellTarget regardless of corpus width. `maxC` is a SOFT
    * cap on the centroid broadcast: past it K grows as
    * √(⌈n/cellTarget⌉·maxC), splitting the growth evenly between
    * broadcast size and cell size (each ∝ √n) instead of letting
    * either regrow linearly. The default target (125) makes the
    * benchmark corpora (500 / 2000 vectors) land exactly on their
    * historical K = 16 floor, so the oracle rows and bench history
    * are unchanged. */
  def nCentroidsFor(n: Long, cellTarget: Long = 125L,
                    minC: Int = 16, maxC: Int = 4096): Int = {
    require(cellTarget >= 1 && minC >= 1 && maxC >= minC,
      s"bad centroid sizing ($cellTarget, $minC, $maxC)")
    val want = (n + cellTarget - 1) / cellTarget
    if (want <= maxC.toLong) math.max(minC.toLong, want).toInt
    else {
      // Past the soft cap, a HARD clamp is the trap it exists to
      // avoid, one scale up: K pinned at maxC regrows cells linearly
      // (at cellTarget=125/maxC=4096 the cap binds at ~512k vectors,
      // and ~×250 later the q195 shape is back). Classic IVF sizing
      // says K ∝ √n there — take K = √(want·maxC), the geometric mean
      // of the linear rule and the cap: continuous at the crossover
      // (want = maxC ⇒ K = maxC), and BOTH the centroid broadcast (K)
      // and the per-query candidate set (nprobe·n/K =
      // nprobe·cellTarget·√(want/maxC)) now grow as √n instead of one
      // of them growing linearly. Int range holds to want·maxC <
      // 2⁶² — beyond any corpus this addresses.
      math.max(minC.toLong,
        math.ceil(math.sqrt(want.toDouble * maxC.toDouble)).toLong)
        .min(Int.MaxValue.toLong).toInt
    }
  }

  def int8TopKAuto(queries: DataFrame, corpus: DataFrame,
                   qIdCol: String, qVecCol: String,
                   cIdCol: String, cVecCol: String, k: Int,
                   maxExactRows: Long = 1000000L,
                   nCentroids: Int = 256, nprobe: Int = 32,
                   corpusSizeHint: Option[Long] = None): DataFrame =
    if (corpusSizeHint.getOrElse {
          // LIMIT-bounded probe while the threshold fits an Int; past
          // that a LIMIT can't decide the route, so fall back to the
          // full count — the gate must never silently route a corpus
          // larger than the threshold to the quadratic kernel
          if (maxExactRows < Int.MaxValue - 1L)
            corpus.filter(col(cVecCol).isNotNull)
              .limit(maxExactRows.toInt + 1).count()
          else corpus.filter(col(cVecCol).isNotNull).count()
        } <= maxExactRows)
      int8TopK(queries, corpus, qIdCol, qVecCol, cIdCol, cVecCol, k)
    else {
      def q8d(df: DataFrame, id: String, vec: String): DataFrame =
        int8Symmetric(df, id, vec).select(col(id),
          transform(col("qvec"), _.cast("double")).as("__q8"))
      Similarity.ivfTopK(
        q8d(queries, qIdCol, qVecCol), q8d(corpus, cIdCol, cVecCol),
        qIdCol, "__q8", cIdCol, "__q8", k, nCentroids, nprobe)
    }
}
