package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (Array[Float|Double]).
  *
  * Scale strategy:
  *  - [[bruteForceTopK]] — exact cosine top-k; the QUERY side must be
  *    small (it is broadcast), the corpus side streams. Cost O(|Q|·|C|·d)
  *    in native codegen'd kernels, then per-partition bounded heaps
  *    merged by one tiny |Q|·k·P-row shuffle — no global window.
  *  - [[ivfTopK]] — IVF-style two-stage search: assign every vector to
  *    its nearest of K centroids (one broadcast pass), then search only
  *    the probed clusters. At 100 TB this is the difference between
  *    scanning the corpus per query and scanning ~nprobe/K of it.
  *  - [[cosinePairs]] — all-pairs above a threshold, for near-dup; at
  *    scale the corpus side should be LSH-bucketed first (Dedup's
  *    MinHash/SimHash families) — the brute pair join is provided for
  *    exactness and small n.
  */
object Similarity {

  /** dot(a,b) as a codegen'd expression over two array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** L2 norm of an array column. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  /** Cosine similarity of two array columns (0 when either norm is 0)
    * — the native codegen'd [[graft.expressions.CosineSimilarity]]
    * expression: a primitive loop inlined into WholeStageCodegen, no
    * boxing. Elements are cast to double first — float inputs
    * accumulate in double exactly like the DuckDB oracle. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    val ad = transform(a, _.cast("double")); val bd = transform(b, _.cast("double"))
    GraftColumnBridge.column(graft.expressions.CosineSimilarity(
      GraftColumnBridge.expression(ad), GraftColumnBridge.expression(bd)))
  }

  /** The HOF-composition form of [[cosine]] (zip_with + aggregate) —
    * kept for reference/fallback; ~10x slower than the expression. */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double")); val bd = transform(b, _.cast("double"))
    val d = dot(ad, bd); val na = norm(ad); val nb = norm(bd)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }

  /** Native codegen dot-product kernel for the hot pair scans.
    * Catalyst's higher-order array functions evaluate per element with
    * boxing (~10x slower on a 150k-pair scan, measured), and a Scala
    * UDF boxes both arrays into Seq[Double] and breaks whole-stage
    * codegen at the call boundary; [[graft.expressions.DotProduct]]
    * inlines the primitive loop into the generated stage instead.
    * Left-to-right accumulation == the old UDF == the aggregate()
    * expression == the oracle, so results are bit-identical. */
  private def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  private def normNative(a: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.L2Norm(
      GraftColumnBridge.expression(a)))
  }

  /** Project (id, vec:double[], norm) once — every pair then costs one
    * dot product instead of re-walking both arrays for norms. */
  private[ops] def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       id: String, v: String, n: String): DataFrame =
    df.select(col(idCol).as(id), transform(col(vecCol), _.cast("double")).as(v))
      .withColumn(n, normNative(col(v)))

  /** Raise a compute-dense scan's parallelism to the session default
    * when the source supplies fewer partitions. The brute/ADC/assign
    * kernels run O(|Q|) dot products PER CORPUS ROW inside a
    * broadcast join that inherits the scan's partitioning — a corpus
    * that arrives as one or two parquet splits (row-group-bounded, so
    * `files.maxPartitionBytes` cannot split further) serializes the
    * whole scoring loop on as many cores. At production scale the
    * scan supplies >= cores splits and this is the identity; the
    * repartition hashes on the id column (no round-robin pre-sort),
    * and every consumer below is partition-invariant (per-row scores,
    * mergeable bounded-heap top-k with deterministic tie-breaks).
    *
    * PRECONDITION: `df` is scan-rooted — its physical plan has no
    * shuffle exchange other than an explicit `repartition(n)`. Below a
    * planner-inserted exchange (aggregate, join, sort) or a
    * `repartition(col)` the planned partition count is
    * spark.sql.shuffle.partitions, not the count AQE coalesces to at
    * run time, and the floor would silently do nothing; such a frame
    * throws [[NotScanRootedException]]. `repartition(n)` fixes its
    * count, which AQE never coalesces. */
  private[ops] def denseFloor(df: DataFrame, keyCol: String): DataFrame = {
    val qe = df.queryExecution
    val planned = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    planned.collectFirst {
      case e: ShuffleExchangeLike if e.shuffleOrigin != REPARTITION_BY_NUM => e
    }.foreach { e =>
      throw new NotScanRootedException(s"denseFloor needs a scan-rooted " +
        s"frame, found ${e.nodeName} (${e.shuffleOrigin}) in its plan")
    }
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (qe.toRdd.getNumPartitions < want) df.repartition(want, col(keyCol))
    else df
  }

  /** A frame given to [[denseFloor]] has a shuffle exchange whose
    * partition count AQE may change. */
  final class NotScanRootedException(message: String)
    extends IllegalArgumentException(message)

  /** sim = dot/(na*nb) with precomputed norms — same expression shape
    * (sqrt'd norms multiplied, then one division) as [[cosine]]. */
  private[ops] def pairSim(va: Column, vb: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dotNative(va, vb) / (na * nb))

  /** Exact top-k neighbors for each query vector. `queries` is
    * collected and broadcast (must be small); ties broken by corpus id
    * ascending. No global window: per-partition top-k heaps merged by
    * one tiny shuffle of |Q|·k·P rows — the form that survives a
    * 1000-executor corpus scan. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int): DataFrame = {
    val scored = withNorm(queries, qId, qVec, "query_id", "__qv", "__qn")
      .hint("broadcast")
      .crossJoin(denseFloor(
        withNorm(corpus, cId, cVec, "neighbor_id", "__cv", "__cn"), "neighbor_id"))
      .withColumn("sim", pairSim(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
      .select("query_id", "neighbor_id", "sim")
    topKFromScored(scored, k)
  }

  /** Shared tail of the heap-form top-k family: partial top-k per
    * shuffle partition via a bounded sorted slice, then the final exact
    * top-k over ≤ |Q|·k·P survivor rows. One definition so a tie-break
    * or NaN-handling fix can never diverge between the plain, the
    * label-filtered ([[hardNegatives]]), and the per-prefix-dim
    * ([[matryoshkaRecall]]) forms. Input: (keyCols..., neighbor_id,
    * sim); `keyCols` is the per-list key (default the single
    * query_id). */
  private[ops] def topKFromScored(scored: DataFrame, k: Int,
                                  keyCols: Seq[String] = Seq("query_id")): DataFrame = {
    val keys = keyCols.map(col)
    if (scored.schema("neighbor_id").dataType ==
        org.apache.spark.sql.types.LongType) {
      // Native path: ONE mergeable bounded-heap aggregate
      // ([[graft.expressions.BoundedTopK]]) — k primitives of state
      // per group at all times, partial-aggregated map-side, rank =
      // array position. The legacy form below buffered EVERY scored
      // candidate per (group, partition) as a boxed struct before
      // sorting (10M allocations on the 20k-query sf1 IVF
      // self-retrieval) and paid a rank window on the survivors.
      import org.apache.spark.sql.GraftColumnBridge
      val agg = GraftColumnBridge.column(
        graft.expressions.BoundedTopK(
          GraftColumnBridge.expression(col("sim")),
          GraftColumnBridge.expression(col("neighbor_id")), k)
          .toAggregateExpression())
      scored.groupBy(keys: _*).agg(agg.as("__top"))
        .select(keys :+ posexplode(col("__top")).as(Seq("__pos", "__t")): _*)
        .select(keyCols.map(col) ++ Seq(
          (col("__pos") + 1).cast("int").as("rank"),
          col("__t.id").as("neighbor_id"), col("__t.sim").as("sim")): _*)
    } else {
      // generic-id fallback: per-partition sorted slices + rank window
      val partial = scored
        .groupBy(keys :+ spark_partition_id().as("__p"): _*)
        .agg(slice(array_sort(collect_list(struct(
          (-col("sim")).as("negSim"), col("neighbor_id")))), 1, k).as("heap"))
        .select(keys :+ explode(col("heap")).as("h"): _*)
        .select(keys :+ col("h.neighbor_id").as("neighbor_id") :+
          (-col("h.negSim")).as("sim"): _*)
      val w = Window.partitionBy(keys: _*).orderBy(desc("sim"), col("neighbor_id"))
      partial.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(keyCols.map(col) ++ Seq(col("rank"), col("neighbor_id"), col("sim")): _*)
    }
  }

  /** Per-group top-`n` cells under (sim DESC, cell ASC) for the probe
    * picks of the IVF family — the SAME bounded-heap kernel as the
    * final top-k ([[graft.expressions.BoundedTopK]]) when the cell id
    * is a long: O(n) primitives of aggregation state per group,
    * partial-aggregated map-side, so a √-rule centroid count
    * ([[nCentroidsFor]] reaches tens of thousands of cells at corpus
    * scale) never buffers K structs per query. Non-long cell ids keep
    * the bounded sorted-slice form (O(K) buffered per group —
    * acceptable only at small fixed K, and the only shape a generic
    * id type supports). Both forms order identically and expose the
    * picked cell at `__t.id` after explode. */
  private[ops] def probeTopAgg(sim: Column, cell: Column, n: Int,
                               cellIsLong: Boolean): Column =
    if (cellIsLong) {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(graft.expressions.BoundedTopK(
        GraftColumnBridge.expression(sim),
        GraftColumnBridge.expression(cell), n).toAggregateExpression())
    } else
      slice(array_sort(collect_list(struct(
        (-sim).as("negSim"), cell.as("id")))), 1, n)

  /** Matryoshka (prefix-dimension) retrieval audit — for each query
    * and each prefix length m in `dims`, the recall@`topK` of exact
    * cosine retrieval over the FIRST m dimensions against the
    * full-width (`dims.max`) exact top-k as ground truth. The curve
    * this emits is the decision input for MRL-style embedding
    * truncation ("how many dims can storage drop before recall
    * falls"), the same audit shape as [[graft.ops.Quantize]]'s PQ
    * recall (q137) with prefix-slicing as the compressor.
    *
    * ONE corpus scan scores every prefix width: queries are exploded
    * |dims|-fold BEFORE the broadcast (|Q|·|dims| rows, each carrying
    * its pre-sliced, pre-normed prefix), the corpus side slices and
    * norms per pair row, and per-(query, m) bounded heaps ride the
    * shared [[topKFromScored]] tail — |Q|·|dims|·k·P survivor rows,
    * never the score space. Prefix dot products and norms left-fold
    * ascending (the [[dot]]/[[norm]] kernels), so ranks replay
    * bit-stable in the oracle. Ties break toward the lower neighbor
    * id; zero-norm prefixes score 0 (the [[cosine]] guard). Rows with
    * null vectors or length < dims.max are dropped from both sides.
    * Output: (query_id, m, n_overlap, recall) — recall ∈ [0,1]
    * rounded to 6; the m = dims.max row is the self-audit 1.0. */
  def matryoshkaRecall(queries: DataFrame, corpus: DataFrame,
                       qId: String, qVec: String, cId: String, cVec: String,
                       dims: Seq[Int], topK: Int): DataFrame = {
    require(dims.nonEmpty && dims == dims.sorted && dims.distinct == dims &&
      dims.head >= 1, s"dims must be distinct ascending positive, got $dims")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val full = dims.max
    val q = queries
      .filter(col(qVec).isNotNull && size(col(qVec)) >= full)
      .select(col(qId).as("query_id"),
        transform(col(qVec), _.cast("double")).as("__qfull"))
      .withColumn("m", explode(typedLit(dims)))
      .withColumn("__qv", slice(col("__qfull"), lit(1), col("m")))
      .withColumn("__qn", normNative(col("__qv")))
      .drop("__qfull")
    val c = corpus
      .filter(col(cVec).isNotNull && size(col(cVec)) >= full)
      .select(col(cId).as("neighbor_id"),
        transform(col(cVec), _.cast("double")).as("__cv"))
    val scored = q.hint("broadcast").crossJoin(c)
      .withColumn("__cs", slice(col("__cv"), lit(1), col("m")))
      .withColumn("sim",
        pairSim(col("__qv"), col("__cs"), col("__qn"), normNative(col("__cs"))))
      .select("query_id", "m", "neighbor_id", "sim")
    val top = topKFromScored(scored, topK, Seq("query_id", "m"))
      .localCheckpoint() // truth + overlap both read it; never rescan
    val truth = top.filter(col("m") === full)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    top.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id", "m")
      .agg(count(col("__hit")).as("n_overlap"))
      .withColumn("recall",
        round(col("n_overlap").cast("double") / topK, 6))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    * label (near-miss negatives — the pairs that teach an embedding to
    * discriminate, per the standard dense-retrieval recipe). Same
    * mechanics as [[bruteForceTopK]] — broadcast queries, ONE
    * corpus scan, per-partition bounded heaps, |Q|·k·P-row final
    * shuffle — with the label-mismatch predicate applied at the scan,
    * before anything shuffles (a same-label corpus row costs one
    * comparison, never a dot product). Null labels compare null-safely:
    * null equals null (two unlabeled rows are NOT negatives of each
    * other) and differs from every real label — the SQL
    * `IS DISTINCT FROM` semantics the oracle replays. Ties break
    * toward the lower neighbor id. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    qId: String, qVec: String, qLabel: String,
                    cId: String, cVec: String, cLabel: String,
                    k: Int): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qLabel).as("__ql"),
        transform(col(qVec), _.cast("double")).as("__qv"))
      .withColumn("__qn", normNative(col("__qv")))
      .hint("broadcast")
    val c = corpus.select(col(cId).as("neighbor_id"), col(cLabel).as("__cl"),
        transform(col(cVec), _.cast("double")).as("__cv"))
      .withColumn("__cn", normNative(col("__cv")))
    val scored = q.crossJoin(c)
      .filter(!(col("__ql") <=> col("__cl")))
      .withColumn("sim", pairSim(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
      .select("query_id", "neighbor_id", "sim")
    topKFromScored(scored, k)
  }

  /** IVF assignment: nearest centroid id for each vector. `centroids`
    * must be small (broadcast). Deterministic ties → lowest centroid id.
    * For numeric centroid ids the argmax runs as a max_by aggregation —
    * map-side partials, no sort; the K-way fan-out collapses back to
    * one row per vector before ever shuffling. Non-numeric ids (where
    * the negated tie-break key can't be built) keep the window form. */
  def assignToCentroid(df: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, centId: String, centVec: String): DataFrame = {
    val joined = withNorm(df, idCol, vecCol, "id", "__v", "__n")
      .crossJoin(broadcast(withNorm(centroids, centId, centVec, "centroid_id", "__cv", "__cn")))
      .withColumn("sim", pairSim(col("__v"), col("__cv"), col("__n"), col("__cn")))
    val numericId = centroids.schema(centId).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    if (numericId)
      joined.groupBy("id")
        .agg(
          max_by(col("centroid_id"), struct(col("sim"), -col("centroid_id"))).as("centroid_id"),
          first(col("__v")).as("vec"), first(col("__n")).as("vecnorm"))
        .select("id", "centroid_id", "vec", "vecnorm")
    else {
      val w = Window.partitionBy("id").orderBy(desc("sim"), col("centroid_id"))
      joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("id"), col("centroid_id"), col("__v").as("vec"), col("__n").as("vecnorm"))
    }
  }

  /** Shared centroid source of the clustering family: the `k`
    * lowest-id vectors (the deterministic, oracle-replayable seed) or
    * `kmeansIterations` Lloyd rounds refining them — ONE definition so
    * a change to the seeding rule can never leave ivfTopK and the
    * semantic dedup computing different clusters. */
  private[ops] def centroidsFor(corpus: DataFrame, cId: String, cVec: String,
                           k: Int, kmeansIterations: Int): DataFrame =
    if (kmeansIterations > 0)
      kmeansCentroids(corpus, cId, cVec, k, kmeansIterations)
    else corpus.orderBy(col(cId)).limit(k)
      .select(col(cId).as("centroid_id"), col(cVec).as("cv"))

  /** Lloyd k-means over a vector column, pure DataFrame ops: seed
    * centroids = the `k` lowest-id vectors (deterministic), then
    * `iterations` rounds of assign-to-nearest (broadcast centroids, one
    * corpus scan) + per-cluster mean (posexplode → groupBy(cluster, pos)
    * avg → re-assembled array). Each round's centroids are
    * lineage-cut ([[Checkpoints.cut]] — reliable when a checkpoint dir
    * is set) so plans don't stack across iterations.
    * Clusters that lose every member keep their previous centroid.
    * Per round: one scan + one narrow (cluster, pos) shuffle — no
    * driver-side vectors beyond the k centroids themselves. */
  def kmeansCentroids(corpus: DataFrame, cId: String, cVec: String,
                      k: Int, iterations: Int = 5,
                      checkpointEvery: Int = 2): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    var centroids = corpus.orderBy(col(cId)).limit(k)
      .select(col(cId).as("centroid_id"),
        transform(col(cVec), _.cast("double")).as("cv"))
      .transform(Checkpoints.cut)
    var it = 0
    while (it < iterations) {
      val assigned = assignToCentroid(corpus, cId, cVec, centroids, "centroid_id", "cv")
      val means = assigned
        .select(col("centroid_id"), posexplode(col("vec")))
        .groupBy("centroid_id", "pos").agg(avg("col").as("m"))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("newCv"))
      val next = centroids.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("newCv"), col("cv")).as("cv"))
      it += 1
      // same cut cadence as the Graph loops: lineage bounded between cuts
      centroids =
        if (it % checkpointEvery == 0 || it == iterations) next.transform(Checkpoints.cut)
        else next
    }
    centroids
  }

  /** IVF top-k: cluster the corpus once (centroids = the `nCentroids`
    * lowest-id vectors — the deterministic, oracle-replayable seed — or
    * `kmeansIterations` > 0 Lloyd rounds refining them), then for each
    * query probe the `nprobe` nearest clusters only. Returns the same
    * schema as [[bruteForceTopK]]; recall < 1 by construction (ANN). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, nCentroids: Int = 16, nprobe: Int = 4,
              kmeansIterations: Int = 0): DataFrame = {
    val centroids = centroidsFor(corpus, cId, cVec, nCentroids, kmeansIterations)
    // NO denseFloor on the assignment: its per-row work is one
    // O(nCentroids) argmin (light), and the cell scoring below runs
    // post-shuffle anyway — the r18 closing burst measured the floor
    // NET-NEGATIVE here (q30 +34%, q195 +28% pooled medians: probe +
    // exchange overhead for no loop to parallelize). The floor pays
    // only on the truly dense |Q|·|C| kernels (bruteForceTopK family).
    val assigned = assignToCentroid(corpus, cId, cVec, centroids,
      "centroid_id", "cv")
    // query → its nprobe nearest centroids. A MAP-SIDE group-top, not
    // a rank window: the window form shuffled |Q|·K rows EACH CARRYING
    // the query vector through a per-query sort (r14 q195 receipt:
    // 20k queries × 160 centroids × 64-dim arrays ≈ GBs through one
    // exchange); [[probeTopAgg]] partial-aggregates the top-nprobe
    // heap per partition (O(nprobe) state per query — never the K
    // buffered structs the old slice form held), so the exchange
    // moves one bounded row per query. Ordering semantics identical
    // ((sim DESC, centroid_id ASC) both forms).
    val cellIsLong = centroids.schema("centroid_id").dataType ==
      org.apache.spark.sql.types.LongType
    val qProbes = withNorm(queries, qId, qVec, "query_id", "__qv", "__qn")
      .crossJoin(broadcast(withNorm(centroids, "centroid_id", "cv",
        "centroid_id", "__cv", "__cn")))
      .withColumn("sim", pairSim(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
      .groupBy("query_id")
      .agg(first(col("__qv")).as("__qv"), first(col("__qn")).as("__qn"),
        probeTopAgg(col("sim"), col("centroid_id"), nprobe, cellIsLong).as("__top"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__t.id").as("centroid_id"))
    val scored = qProbes.hint("broadcast")
      .join(assigned, "centroid_id")
      .withColumn("sim", pairSim(col("__qv"), col("vec"), col("__qn"), col("vecnorm")))
      .select(col("query_id"), col("id").as("neighbor_id"), col("sim"))
    // final top-k via the shared heap form (partial per-partition
    // slices + one tiny merge) — the probe join's |Q|·nprobe·cellSize
    // scored rows never cross a full per-query sort exchange
    topKFromScored(scored, k)
  }

  /** All pairs (a < b) with cosine ≥ threshold. Exact O(n²) form —
    * bucket with LSH first at scale (see class doc). */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val v = withNorm(df, idCol, vecCol, "id", "v", "n")
    v.as("l").join(v.as("r"), col("l.id") < col("r.id"))
      .withColumn("sim", pairSim(col("l.v"), col("r.v"), col("l.n"), col("r.n")))
      .filter(col("sim") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("sim"))
  }

  /** All pairs (a < b) with cosine ≥ threshold — blocked EXECUTOR-SIDE
    * form. The id space is cut into blocks of ≤ `blockSize` vectors
    * (approximate id quantiles: only O(nBlocks) scalar cut points ever
    * reach the driver); each row is shuffled to every block PAIR it
    * participates in — as the streaming side of pairs (b, j≥b) and as
    * the buffered side of pairs (i≤b, b) — and each pair key cogroups
    * one buffered block against one streamed block in a tight primitive
    * loop. Same O(n²) flops and identical accumulation order as
    * [[cosinePairs]], but:
    *  - NO driver funnel: the former implementation collected every
    *    block to the driver and broadcast it, i.e. the whole corpus
    *    crossed the driver NIC once per run; now all data movement is
    *    executor-to-executor shuffle of (nBlocks+1) corpus copies.
    *  - Executor memory bounded by `blockSize` vectors (the buffered
    *    side of one cogroup key), independent of corpus size.
    *  - Parallelism = nBlocks·(nBlocks+1)/2 block-pair tasks; the block
    *    count is raised above the memory-derived minimum when needed so
    *    small corpora still fan out across the cluster.
    * Correctness holds for ANY cuts (blocks partition the id space);
    * quantile cuts only balance the work. At corpus sizes where
    * (nBlocks+1)× shuffle replication is unaffordable, use the
    * near-linear [[cosineNearDupBucketed]] (or [[cosinePairsAuto]],
    * which routes by size). */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, blockSize: Int = 200000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // cuts come from an id-only scan: column pruning keeps the norm
    // kernel and the vectors themselves out of these two passes
    val ids = df.select(col(idCol).cast("long").as("id"))
    val total = ids.count()
    val byMem = math.max(1L, math.ceil(total.toDouble / blockSize).toLong)
    // enough block pairs to occupy the cluster even when one block
    // would fit in memory: nb(nb+1)/2 ≥ defaultParallelism
    val byPar = math.ceil(math.sqrt(2.0 * spark.sparkContext.defaultParallelism)).toLong
    val nBlocks = math.max(byMem, math.min(byPar, math.max(1L, total / 2))).toInt
    val cuts: Array[Long] =
      if (nBlocks <= 1) Array.empty
      else ids.stat.approxQuantile("id",
        (1 until nBlocks).map(_.toDouble / nBlocks).toArray, 0.001)
        .map(_.toLong).distinct.sorted
    val nb = cuts.length + 1
    val blkOf = udf { (id: Long) =>
      var b = 0
      while (b < cuts.length && id >= cuts(b)) b += 1
      b
    }
    val rows = withNorm(df, idCol, vecCol, "id", "v", "n")
      .withColumn("blk", blkOf(col("id")))
      .as[(Long, Seq[Double], Double, Int)]
    // row in block b → streamed ("a") side of pairs (b, j) for j ≥ b,
    // buffered ("b") side of pairs (i, b) for i ≤ b. The diagonal key
    // (b, b) sees the block on both sides; id_a < id_b dedups it.
    val streamed = rows.flatMap { case (id, vec, n, b) =>
      (b until nb).map(j => (b * nb + j, id, vec, n)) }
    val buffered = rows.flatMap { case (id, vec, n, b) =>
      (0 to b).map(i => (i * nb + b, id, vec, n)) }
    streamed.groupByKey(_._1).cogroup(buffered.groupByKey(_._1)) { (_, ls, rs) =>
      val blk = rs.map { case (_, id, vec, n) => (id, vec.toArray, n) }
        .toArray.sortBy(_._1)
      ls.flatMap { case (_, ida, va, na) =>
        val a = va.toArray
        val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var idx = 0
        while (idx < blk.length) {
          val (idb, b, nbm) = blk(idx)
          if (idb > ida && na != 0.0 && nbm != 0.0) {
            var s = 0.0; var i = 0
            while (i < a.length) { s += a(i) * b(i); i += 1 }
            val sim = s / (na * nbm)
            if (sim >= threshold) res += ((ida, idb, sim))
          }
          idx += 1
        }
        res
      }
    }.toDF("id_a", "id_b", "sim")
  }

  /** Size-routed near-dup pairs: the exact blocked kernel while the
    * corpus is small enough that O(n²) compares are affordable, the
    * near-linear hyperplane-LSH kernel above `maxExactRows`. The exact
    * kernel is the oracle baseline; the bucketed kernel is the 100 TB
    * path — this router is what production callers should use so the
    * quadratic path is simply unreachable past the threshold. The
    * default gate (100k rows → 1e10 compares ≈ minutes at the
    * measured in-block pair rate) is the largest corpus where "exact
    * because we can afford it" still holds; the old 1M default meant
    * 1e12 compares — hours — before the router ever flipped. */
  def cosinePairsAuto(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, maxExactRows: Long = 100000L,
                      blockSize: Int = 200000): DataFrame = {
    val n = df.select(idCol).count()
    if (n <= maxExactRows)
      cosinePairsBlocked(df, idCol, vecCol, threshold, blockSize)
    else {
      // bucket-count sizing (the nCentroidsFor discipline): with a
      // FIXED nBits the per-bucket mass grows with the corpus and the
      // within-bucket candidate volume decays to n²/2^nBits — size the
      // bit count so expected bucket occupancy stays ~64 vectors and
      // candidates grow ~linearly instead
      val nBits = math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, n / 64L - 1L)))
      cosineNearDupBucketed(df, idCol, vecCol, threshold, nBits = nBits)
    }
  }

  /** Random-hyperplane LSH bucket for a double-array vector column:
    * `nBits` sign bits of projections onto deterministic md5-seeded
    * hyperplanes — the bucketed (near-linear) path for [[cosinePairs]]
    * at scale. Vectors agreeing on all bits land in one bucket; cos
    * similarity ⇒ high collision probability (Charikar's SimHash for
    * vectors). The hyperplanes are broadcast as a primitive matrix and
    * each row costs O(nBits·dim) multiply-adds in a tight loop (an
    * expression tree of nBits·dim terms blows past codegen method
    * limits at real embedding widths, 768+). A NULL vector has no
    * bucket (NULL). */
  def hyperplaneBucket(spark: org.apache.spark.sql.SparkSession,
                       dim: Int, nBits: Int = 8, seed: Long = 42L): Column => Column = {
    val planes = Array.tabulate(nBits, dim) { (b, j) =>
      graft.text.HashEmbeddings.component(s"$b#$j", 0, seed)
    }
    val bc = spark.sparkContext.broadcast(planes)
    val f = udf { (v: Seq[Double]) =>
      if (v == null) null
      else {
        val p = bc.value
        val sb = new java.lang.StringBuilder(p.length)
        var b = 0
        while (b < p.length) {
          val row = p(b)
          var s = 0.0; var j = 0
          val n = math.min(row.length, v.length)
          while (j < n) { s += v(j) * row(j); j += 1 }
          sb.append(if (s >= 0) '1' else '0')
          b += 1
        }
        sb.toString
      }
    }
    c => f(c)
  }

  /** Near-duplicate pairs (cosine ≥ threshold) at scale: multi-table
    * random-hyperplane LSH + exact verification of bucket-mates only —
    * the near-linear default that replaces the O(n²) pair join.
    * `nTables` independent bucket tables (seeds seed+t) are unioned, so
    * a pair is a candidate if it collides in ANY table; per-pair recall
    * ≈ 1-(1-(1-θ/π)^nBits)^nTables (≥ 0.999 for cos ≥ 0.999 at the
    * defaults). Shuffles: one narrow (table, bucket, id) self-join —
    * bucket-size bounded — plus two id-keyed joins to fetch vectors for
    * the exact cosine check. No driver collect, no broadcast of the
    * corpus. */
  def cosineNearDupBucketed(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nBits: Int = 8,
                            nTables: Int = 4, seed: Long = 42L,
                            maxBucketRows: Long = 256L): DataFrame = {
    val spark = df.sparkSession
    // materialize (id, vec, norm) once: the nTables bucket scans and the
    // two verification joins would otherwise each re-evaluate the norm
    // kernel over the full corpus (~nTables+2 scans). Null vectors have
    // no bucket or cosine — filtered up front.
    val v = withNorm(df.filter(col(vecCol).isNotNull), idCol, vecCol, "id", "v", "n")
      .localCheckpoint()
    val dim = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    // Hot-bucket re-split (r14, the q27 sf1 lesson): on a CLUSTERED
    // corpus the sign-bit buckets are skewed — bucket occupancy m
    // contributes m(m−1)/2 candidate pairs, so one hot bucket
    // dominates the whole verify join (measured ×8.9 at data ×10 on
    // the rotated-copy sf1 corpus). Every row therefore also carries
    // `extBits` EXTENSION sign bits from independent hyperplanes
    // (seed-offset), and buckets above `maxBucketRows` are re-split by
    // appending ceil(log2(m/256)) of them — enough to bring expected
    // occupancy back to ~256 when the hot bucket is a diffuse cluster.
    // EXACT duplicates have identical sign bits under EVERY hyperplane,
    // so a re-split can never separate them (recall 1.0 for J=1 pairs
    // stays); near-but-not-identical pairs in a split bucket keep
    // multi-table recall (each table re-splits independently). A
    // bucket of true exact copies cannot split (identical extensions)
    // — its verify work is genuine duplicate mass, not skew.
    val extBits = 16
    // materialized once: counts and BOTH sides of the
    // candidate self-join read this frame — unmaterialized, each
    // consumer re-runs the (nBits+extBits)·dim hyperplane projections
    // over the corpus (measured ~3 s/scan at the 10× tree, ~4 scans)
    val tabled = (0 until nTables).map { t =>
      val bucket = hyperplaneBucket(spark, dim, nBits, seed + t)
      val ext = hyperplaneBucket(spark, dim, extBits, seed + 7791L + t)
      v.select(col("id"), lit(t).as("tbl"), bucket(col("v")).as("bucket"),
        ext(col("v")).as("__ext"))
    }.reduce(_ unionByName _).localCheckpoint()
    val counts = tabled.groupBy("tbl", "bucket").agg(count(lit(1)).as("__m"))
    val refined = tabled.join(counts, Seq("tbl", "bucket"))
      .withColumn("__need",
        when(col("__m") <= maxBucketRows, lit(0))
          .otherwise(least(lit(extBits), greatest(lit(1),
            ceil(log(2.0, col("__m").cast("double") / 64.0)).cast("int")))))
      .withColumn("bucket",
        concat(col("bucket"), expr("substring(__ext, 1, __need)")))
      .select("id", "tbl", "bucket")
    // Verification rides the bucket self-join itself (r14): vectors are
    // carried INTO the join, the cosine is computed on the spot, and
    // only pairs PASSING the threshold reach the distinct. The previous
    // shape (id-only candidates → distinct → two corpus-wide fetch
    // joins) shuffled the skew-inflated candidate table three times —
    // measured as the dominant term of the sf1 ×8.9 (2.7M candidates
    // for a 20k corpus). Payload trade: the self-join shuffles
    // nTables·n vector rows (dim·8 B each) instead of O(candidates)
    // id rows + 2 corpus joins — the carried form wins whenever
    // candidates/n exceeds ~nTables (always true once buckets are
    // occupied), and duplicate cross-table candidates cost one extra
    // multiply-add pass each instead of an extra shuffled row.
    val rv = refined.join(v, Seq("id"))
    rv.as("l").join(rv.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .withColumn("sim", pairSim(col("l.v"), col("r.v"), col("l.n"), col("r.n")))
      .filter(col("sim") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("sim"))
      .distinct()
  }

  /** SemDeDup-style semantic near-duplicate PAIRS: cluster the embedding
    * space (k-means), then compare vectors WITHIN each cluster only —
    * cosine ≥ `threshold` pairs, (id_a < id_b, sim). The within-cluster
    * restriction is what makes pairwise comparison tractable at corpus
    * scale: candidate volume drops from n² to Σ|cluster|² ≈ n²/k, and
    * the cluster id is the ONE shuffle key of the pair join — no global
    * pair space ever materializes, and k grows with the corpus so
    * cluster sizes stay bounded. Cross-cluster near-dups are missed by
    * construction — the documented recall trade of this family (the
    * hyperplane-LSH form [[cosineNearDupBucketed]] is the alternative
    * when probabilistic per-pair recall is preferred over cluster
    * locality). `kmeansIterations` = 0 keeps the deterministic lowest-id
    * centroid seed (oracle-replayable); > 0 runs Lloyd refinement
    * rounds for better cluster balance. */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         nClusters: Int, threshold: Double,
                         kmeansIterations: Int = 0): DataFrame = {
    val corpus = df.filter(col(vecCol).isNotNull)
    val centroids = centroidsFor(corpus, idCol, vecCol, nClusters, kmeansIterations)
    val assigned = assignToCentroid(corpus, idCol, vecCol,
        centroids, "centroid_id", "cv")
      .select(col("centroid_id"), col("id"), col("vec"), col("vecnorm"))
    assigned.as("l").join(assigned.as("r"),
        col("l.centroid_id") === col("r.centroid_id") &&
        col("l.id") < col("r.id"))
      .withColumn("sim",
        pairSim(col("l.vec"), col("r.vec"), col("l.vecnorm"), col("r.vecnorm")))
      .filter(col("sim") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("sim"))
  }

  /** SemDeDup semantic deduplication end-to-end: within-cluster cosine
    * pairs → connected components (duplicate groups may chain across
    * pairs) → keep the lowest-id member of each group. Returns the
    * surviving rows of `df` with their original schema. Docs in no pair
    * never enter the label frame — the anti-join keeps them for free
    * (same tail as the SimHash/Jaccard corpus dedups). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double,
                    kmeansIterations: Int = 0, ccRounds: Int = 3): DataFrame = {
    val pairs = semanticDedupPairs(df, idCol, vecCol, nClusters, threshold,
      kmeansIterations).select("id_a", "id_b")
    val drop = Graph.minLabelPropagation(pairs, "id_a", "id_b", ccRounds)
      .filter(col("lbl") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Reciprocal-rank fusion of ranker outputs (Cormack, Clarke &
    * Büttcher, SIGIR 2009): each ranker contributes 1/(k0 + rank) for
    * the documents it returned, and the fused score is the fixed-order
    * sum of contributions — the standard way to combine a sparse (BM25)
    * and a dense (embedding-cosine) retriever without score
    * calibration, since only RANKS enter the formula.
    *
    * `rankings` are candidate tables (id, score); rank_i is
    * row_number by (score desc, id asc) WITHIN table i. CONTRACT: each
    * input is a ranker's top-N output (k-bounded — e.g.
    * [[bruteForceTopK]] / [[graft.ops.Corpus.bm25]]+limit), so the
    * single-partition rank window orders N rows, not a corpus — same
    * bound as a TakeOrderedAndProject result. The fuse itself is an
    * id-keyed outer join over ≤ Σ N rows. Contributions add in
    * `rankings` order, left-associated, so the double sum is
    * evaluation-order-identical cross-engine.
    *
    * Returns (id, rrf round 6, n_rankers), one row per id seen by any
    * ranker. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, scoreCol: String,
              k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rankings must be non-empty")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val ranked = rankings.zipWithIndex.map { case (df, i) =>
      val w = Window.orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(idCol).as("id"), col(scoreCol))
        .withColumn(s"__c$i",
          lit(1.0) / (lit(k0.toDouble) + row_number().over(w).cast("double")))
        .select(col("id"), col(s"__c$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    joined.select(col("id"),
      round(rankings.indices.map(i => coalesce(col(s"__c$i"), lit(0.0)))
        .reduce(_ + _), 6).as("rrf"),
      rankings.indices.map(i =>
          when(col(s"__c$i").isNotNull, 1).otherwise(0))
        .reduce(_ + _).as("n_rankers"))
  }

  /** KNN-density score per point — the embedding-space signal behind
    * density/diversity pruning (the D4-style step after SemDeDup):
    * a point whose k nearest neighbors are all far away is an
    * outlier/OOD candidate; a point in an ultra-dense clump is
    * redundant. Input is any ANN-family frame (query_id, rank,
    * neighbor_id, sim) from a SELF-retrieval with k+1 requested (the
    * self-match is dropped here) — brute-force for exactness, or
    * [[ivfTopK]] for the corpus-scale path, so the density pass
    * inherits whatever retrieval shape the corpus size demands.
    *
    * avg_sim folds LEFT-ASSOCIATED over the rank-sorted top-k slice
    * (the q183 discipline — no partition-order float sums), so the
    * score is bit-stable and oracle-replayable. Returns (id,
    * n_neighbors, avg_sim, density_score = 1 − avg_sim). */
  def knnDensity(selfTopK: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val slice0 = slice(sort_array(collect_list(
      struct(col("rank"), col("sim")))), 1, k)
    val foldSum = aggregate(transform(slice0, x => x.getField("sim")),
      lit(0.0), (a, x) => a + x)
    selfTopK.filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id").as("id"))
      .agg(least(count(lit(1)), lit(k.toLong)).as("n_neighbors"),
        (foldSum / least(count(lit(1)), lit(k.toLong)).cast("double"))
          .as("__avg"))
      .select(col("id"), col("n_neighbors"),
        round(col("__avg"), 6).as("avg_sim"),
        round(lit(1.0) - col("__avg"), 6).as("density_score"))
  }

  /** Simplified silhouette (centroid-based, cosine distance) — the
    * linear-time cluster-quality certification a corpus-scale
    * clustering (semantic dedup cells, IVF coarse index, curriculum
    * clusters) runs instead of the O(n²) full silhouette: per point,
    * a = cosine distance to its OWN centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a) / max(a, b) — the standard
    * simplified-silhouette form (Hruschka et al. 2004), which needs
    * one broadcast centroid pass, never pairwise distances.
    *
    * Centroids come from the family's shared deterministic source
    * ([[kmeansCentroids]] — seed = k lowest ids, `iterations` Lloyd
    * rounds), so the whole chain replays in the oracle. Per-point s is
    * pure double arithmetic (bit-stable cross-engine); the per-cluster
    * mean sums via DECIMAL(38,12) so no partition-order float
    * accumulation enters the result. Per-id top-2 centroid selection
    * is a k-bounded sorted slice inside one aggregation — no window,
    * map-side combinable. Requires k ≥ 2 (b is undefined for one
    * cluster). Returns (centroid_id, n, mean_sil); clusters that own
    * no points are absent. */
  def simplifiedSilhouette(corpus: DataFrame, idCol: String, vecCol: String,
                           k: Int, iterations: Int): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2 clusters, got $k")
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iterations)
    val sims = withNorm(corpus, idCol, vecCol, "id", "__v", "__n")
      .crossJoin(broadcast(withNorm(cents, "centroid_id", "cv",
        "centroid_id", "__cv", "__cn")))
      .withColumn("sim", pairSim(col("__v"), col("__cv"), col("__n"), col("__cn")))
      .select("id", "centroid_id", "sim")
    // own = best (sim desc, centroid_id asc); b from the runner-up —
    // one k-bounded collect per id, ordered by the same tie-break
    val top2 = sims.groupBy("id")
      .agg(slice(array_sort(collect_list(
        struct((-col("sim")).as("ns"), col("centroid_id")))), 1, 2).as("t"))
      .select(col("id"),
        col("t")(0).getField("centroid_id").as("centroid_id"),
        (lit(1.0) - (-col("t")(0).getField("ns"))).as("__a"),
        (lit(1.0) - (-col("t")(1).getField("ns"))).as("__b"))
    val s = when(greatest(col("__a"), col("__b")) === 0.0, lit(0.0))
      .otherwise((col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
    top2.withColumn("__s", s)
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n"),
        round(sum(col("__s").cast("decimal(38,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_sil"))
  }

  /** Retrieval-quality metrics — the evaluation half of the ANN family:
    * given a ground-truth ranking (brute-force exact top-k) and a
    * candidate retrieval (IVF/PQ/LSH), per-query recall@k, MRR@k, and
    * binary-relevance nDCG@k. This is how an ANN index's speed/recall
    * trade-off is certified before it replaces the exact path at scale.
    *
    * Both inputs use the family schema (query_id, rank, neighbor_id).
    * Shape: one (query_id, neighbor_id)-keyed left join (both sides
    * already k-bounded per query, so the join input is |Q|·k rows —
    * broadcastable at any corpus size) + one per-query aggregation.
    *
    * Cross-engine determinism: DCG sums fold LEFT-ASSOCIATED over the
    * SORTED hit-rank list (ln(2)/ln(r+1) gains — same libm-exact ln(2)
    * both engines), never a float SUM whose partition order can drift;
    * recall and MRR are single exact divisions. Queries absent from
    * `retrieved` are absent from the output (an ANN that returns
    * nothing for a query is a routing bug its recall audit — q137 —
    * catches upstream). Returns (query_id, n_truth, n_hits, recall,
    * mrr, dcg, ndcg). */
  def retrievalMetrics(truth: DataFrame, retrieved: DataFrame,
                       k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ln2 = lit(math.log(2.0)) // 0.6931471805599453, libm-exact in any engine
    def gainOf(r: Column): Column = ln2 / log(r.cast("double") + lit(1.0))
    def foldGains(ranks: Column): Column =
      coalesce(aggregate(transform(ranks, gainOf(_)), lit(0.0), (a, x) => a + x),
        lit(0.0))
    val tr = truth.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__t_rank"))
    val re = retrieved.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__r_rank"))
    val nt = tr.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
    val perQ = re.join(tr, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(when(col("__t_rank").isNotNull, 1).otherwise(0)).as("n_hits"),
        min(when(col("__t_rank").isNotNull, col("__r_rank")))
          .as("__first_hit"),
        sort_array(collect_list(when(col("__t_rank").isNotNull,
          col("__r_rank")))).as("__hit_ranks"))
    perQ.join(nt, Seq("query_id"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth")).as("recall"),
        coalesce(lit(1.0) / col("__first_hit"), lit(0.0)).as("mrr"),
        foldGains(col("__hit_ranks")).as("dcg"),
        (foldGains(col("__hit_ranks")) /
          foldGains(sequence(lit(1L), least(col("n_truth"), lit(k.toLong)))))
          .as("ndcg"))
  }
}
