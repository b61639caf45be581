package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Persistable, appendable IVF index — the capability gap between
  * "run ANN search as a query" ([[Similarity.ivfTopK]], which re-trains
  * centroids and re-assigns the corpus on every call) and what a
  * production corpus actually needs: build the index ONCE, admit each
  * daily shard by ASSIGNMENT ONLY (no retraining — the append cost is
  * one broadcast-centroid pass over the shard, independent of the
  * historical corpus size), search against the persisted tables, and
  * retrain only when a drift trigger fires.
  *
  * On-disk layout under `path` (plain parquet, readable by any engine):
  *  - `centroids/` — (centroid_id, cv: double[]) — the trained coarse
  *    quantizer, frozen at build time;
  *  - `codes/gen=G/centroid_id=C/…` — (id, vec: double[], vecnorm),
  *    hive-partitioned by (gen, centroid_id): a search that probes
  *    `nprobe` cells reads exactly those cells' files (partition
  *    pruning — the scan cost is nprobe/K of the corpus, on disk as in
  *    memory), and each generation owns its OWN directory. `gen`
  *    stamps the build (0) vs each append/CDC batch (1, 2, …) — the
  *    drift report reads it to compare the build-time cell
  *    distribution against everything admitted since.
  *
  * Concurrency contract:
  *  - Generation numbers are minted by [[allocateGen]]: claim files
  *    under `_gens/` created with create-no-overwrite (atomic on HDFS
  *    and the object-store committers; additionally serialized under a
  *    JVM-wide per-path lock, so concurrent writers sharing a driver —
  *    the common Spark shape — can never mint the same gen). Two
  *    concurrent appends therefore land as two DISTINCT generations.
  *  - The physical append writes only its own `codes/gen=G/` directory
  *    — no shared `_temporary` staging with any other writer — so
  *    concurrent appends cannot corrupt each other, and a CRASHED
  *    append is invisible (its gen directory holds only uncommitted
  *    task files, which readers ignore; the claimed gen is simply
  *    skipped).
  *  - Maintenance ops ([[rebuild]], [[compact]]) swap whole tables and
  *    require exclusive write access. The exclusivity is ENFORCED, not
  *    just documented: maintenance takes the `_maintenance.lock` claim
  *    file (create-no-overwrite, the gen allocator's atomicity
  *    discipline) and every mutating entry point ([[append]],
  *    [[appendPq]], [[applyChanges]]) FAILS LOUDLY
  *    while it is held — an append racing a swap would otherwise write
  *    its gen directory into a tree the swap then deletes wholesale
  *    (silent row loss, the failure the old prose-only contract could
  *    not catch). A maintenance op that CRASHED leaves the lock behind
  *    by design: writers stay blocked (loudly, with the recovery step
  *    named in the error) until an operator confirms the process is
  *    dead and calls [[releaseMaintenanceLock]]; the next entry point
  *    then repairs the swap state. READ paths ([[search]],
  *    [[searchPq]], [[driftReport]]) are never blocked: they complete
  *    a COMMITTED swap if they find one (idempotent, tolerant of a
  *    racing completer) and otherwise read the live tables — they
  *    never touch an uncommitted `__staged` dir, so a reader racing a
  *    live rebuild cannot delete its in-flight staging.
  *  - The swap itself is crash-recoverable (staged sibling + commit
  *    marker): the marker is created only after the expected staged
  *    tables are verified present ([[commitSwap]]), so a crash
  *    anywhere leaves either the OLD index intact (pre-marker; orphan
  *    staging is swept by the next maintenance op, under the lock) or
  *    a completable committed swap (post-marker, completed by any
  *    entry point) — never a silently-filtered or half-missing index.
  *
  * Filesystem contract (claim files + commit marker): the atomicity of
  * `create(…, overwrite = false)` is what gen allocation, the
  * maintenance lock, and the swap commit point rely on. That holds on
  * HDFS and local filesystems (and object stores fronted by an atomic
  * metadata layer); it does NOT hold on plain S3A without a committer
  * — S3 PUT is last-writer-wins, so two writers can both "create" the
  * same claim. On plain S3, serialize writers externally or run under
  * an S3A committer/consistency layer.
  *
  * Search parity contract: [[search]] over build(A) + append(B) is
  * bit-identical to [[Similarity.ivfTopK]] over A∪B whenever A
  * contains the union's `nCells` lowest ids (the deterministic seed
  * rule — Lloyd-refined builds carry the same guarantee only if the
  * refinement is also run on A alone), because the frozen centroids
  * then equal what a full rebuild would train. The q230 oracle row
  * value-checks exactly this equivalence; when A does NOT dominate
  * the seed set, append-then-search is the documented approximation
  * (assign-only admission), and [[driftReport]] is the instrument
  * that says when the approximation has decayed enough to retrain.
  *
  * Retrain trigger: PSI between the build-generation cell population
  * and the appended population (categorical form over cells, Laplace
  * +0.5 per cell — [[Drift.psi]]'s smoothing over index cells instead
  * of value bins). PSI > ~0.2 means the admitted data lands in
  * systematically different cells than the quantizer was trained for
  * — cell sizes skew, probe recall decays, rebuild. */
object IvfIndex {

  private val StagedDir = "__staged"
  private val MaintLockName = "_maintenance.lock"

  /** JVM-wide per-path locks: gen allocation and swap completion each
    * serialize within a JVM (the local / shared-driver shape); the
    * cross-JVM story is the claim-file protocol (see class doc). */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(key: String): Object =
    pathLocks.computeIfAbsent(key, _ => new Object)

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def maintLock(path: String): Path =
    new Path(s"$path/$MaintLockName")

  /** Take the maintenance lock (create-no-overwrite — atomic on the
    * filesystems named in the class-doc contract). Loud failure when
    * held: the holder is either a LIVE maintenance op (wait for it) or
    * a CRASHED one (confirm the process is dead, then
    * [[releaseMaintenanceLock]]). */
  private def acquireMaintenanceLock(fs: FileSystem, path: String): Unit =
    try fs.create(maintLock(path), false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.PathExistsException =>
        throw new IllegalStateException(
          s"index at $path is locked by a maintenance op " +
            s"($MaintLockName present): another rebuild/compact is " +
            "running, or a previous one crashed. If the holder is dead, " +
            "recover with IvfIndex.releaseMaintenanceLock(spark, path).")
    }

  /** Release a maintenance lock left behind by a CRASHED rebuild or
    * compact. Operator escape hatch — only call after confirming the
    * locking process is dead; releasing under a live maintenance op
    * re-opens the lost-append window the lock exists to close. The
    * next entry point repairs any half-finished swap state. */
  def releaseMaintenanceLock(spark: SparkSession, path: String): Unit =
    fsFor(spark, path).delete(maintLock(path), false): Unit

  /** Loud write-path gate (class-doc contract): mutating entry points
    * must not run while a maintenance swap may delete their output. */
  private def requireNoMaintenanceLock(fs: FileSystem, path: String): Unit =
    if (fs.exists(maintLock(path)))
      throw new IllegalStateException(
        s"cannot write to index at $path: a maintenance op holds " +
          s"$MaintLockName (rebuild/compact would silently drop rows " +
          "written during its swap). Wait for it to finish; if it " +
          "crashed, recover with IvfIndex.releaseMaintenanceLock.")

  /** Train the coarse quantizer on `corpus` and persist the index.
    * Overwrites any index at `path` — including tombstones, gen
    * claims, the maintenance lock, and any staged maintenance
    * leftovers (a destructive full reset by definition — do not run
    * it concurrently with anything). */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            path: String, nCells: Int, kmeansIterations: Int = 0): Unit = {
    val fs = fsFor(corpus.sparkSession, path)
    for (d <- Seq("codes", "tombstones", "_gens", StagedDir,
        s"$StagedDir.commit", s"$StagedDir.old", MaintLockName))
      fs.delete(new Path(s"$path/$d"), true)
    val centroids = Similarity.centroidsFor(
      corpus.filter(col(vecCol).isNotNull), idCol, vecCol,
      nCells, kmeansIterations)
      .select(col("centroid_id"), transform(col("cv"), _.cast("double")).as("cv"))
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    writeGen(assignGen(corpus, idCol, vecCol, centroids), s"$path/codes",
      gen = 0, "centroid_id")
  }

  /** Admit a shard: assign against the PERSISTED centroids (one
    * broadcast pass over the shard — cost independent of the
    * historical corpus) and append its code rows as an atomically
    * allocated next generation, written into that generation's OWN
    * directory (no existing file or shared staging dir is touched —
    * see the class-doc concurrency contract). */
  def append(spark: SparkSession, path: String, shard: DataFrame,
             idCol: String, vecCol: String): Unit = {
    repairWrite(spark, path)
    val centroids = spark.read.parquet(s"$path/centroids")
    val g = allocateGen(spark, path)
    writeGen(assignGen(shard, idCol, vecCol, centroids), s"$path/codes",
      g, "centroid_id")
  }

  /** (id, vec, vecnorm, centroid_id) — [[Similarity.assignToCentroid]]'s
    * deterministic nearest-centroid rule (ties → lowest cell id), the
    * same rule ivfTopK applies. The generation is NOT a data column —
    * it is the directory the rows land in ([[writeGen]]). */
  private def assignGen(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame =
    Similarity.assignToCentroid(df.filter(col(vecCol).isNotNull),
        idCol, vecCol, centroids, "centroid_id", "cv")
      .select(col("id"), col("vec"), col("vecnorm"), col("centroid_id"))

  /** Write one generation's rows to `codesDir/gen=G/`, hive-partitioned
    * by the cell column below that — the layout readers discover as
    * (…data…, gen, cellCol) partitions. Each generation owns its own
    * directory: appends never share write staging with each other or
    * with history. */
  private def writeGen(df: DataFrame, codesDir: String, gen: Int,
                       cellCol: String): Unit =
    df.write.mode("overwrite").partitionBy(cellCol)
      .parquet(s"$codesDir/gen=$gen")

  /** Gen of a pure claim file name (`gen-N`), None for anything else
    * (in-flight CDC intents `gen-N.cdc` are NOT claims here — they
    * carry their own gen via the prefix and must survive pruning). */
  private def claimGen(name: String): Option[Int] =
    if (name.startsWith("gen-") && name.drop(4).forall(_.isDigit))
      name.drop(4).toIntOption
    else None

  /** Any gen number a `_gens/` entry references (claims AND intents) —
    * the allocation floor must clear both. */
  private def anyGen(name: String): Option[Int] =
    if (name.startsWith("gen-"))
      name.drop(4).takeWhile(_.isDigit).toIntOption
    else None

  /** Mint the next generation number atomically: one past the max of
    * (claim/intent files under `_gens/`, code-row gens, tombstone gens
    * — the latter two so a delete-only batch advances the clock and a
    * pre-claim-era index keeps counting), claimed by create-no-
    * overwrite under the JVM-wide per-path lock. Two concurrent
    * writers can never mint the same gen (class-doc contract).
    *
    * Housekeeping + safety, both piggybacked on the listing this call
    * already pays for:
    *  - pure claim files at or below the persisted max are PRUNED —
    *    their data has landed, they carry no information the persisted
    *    tables don't, and on a long-lived append-only index they would
    *    otherwise grow the listing cost of every allocation linearly
    *    with batch count. A claim ABOVE the persisted max (an in-flight
    *    or crashed writer) is never touched, and `.cdc` intents are
    *    never pruned (they are the in-flight CDC signal
    *    [[requireNoInflightWriters]] reads).
    *  - after claiming, the maintenance lock is re-checked: if a
    *    rebuild/compact acquired it after our entry gate, our claim may
    *    have landed after its in-flight scan — back out (delete the
    *    claim) and fail loudly rather than write rows its swap would
    *    delete. Either the scan sees our claim or we see its lock;
    *    both orders are safe. */
  private[ops] def allocateGen(spark: SparkSession, path: String): Int = {
    val lock = lockFor(path)
    lock.synchronized {
      val fs = fsFor(spark, path)
      val dir = new Path(s"$path/_gens")
      fs.mkdirs(dir)
      val names = fs.listStatus(dir).map(_.getPath.getName)
      val persisted = persistedGenMax(spark, path)
      names.foreach { n =>
        if (claimGen(n).exists(_ <= persisted))
          fs.delete(new Path(dir, n), false): Unit
      }
      val claimed = names.flatMap(anyGen).foldLeft(0)(math.max)
      var g = math.max(claimed, persisted) + 1
      var claimedOk = false
      var attempts = 0
      while (!claimedOk) {
        try {
          fs.create(new Path(dir, f"gen-$g%08d"), false).close()
          claimedOk = true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException =>
            // claimed by a concurrent out-of-JVM writer — take the next
            attempts += 1
            require(attempts < 10000, s"gen allocation livelock at $path")
            g += 1
        }
      }
      if (fs.exists(maintLock(path))) {
        fs.delete(new Path(dir, f"gen-$g%08d"), false)
        throw new IllegalStateException(
          s"aborting write to $path: a maintenance op took " +
            s"$MaintLockName during gen allocation — rows written now " +
            "could be dropped by its swap. Retry after it finishes.")
      }
      g
    }
  }

  /** Max generation visible in the persisted tables (0 when empty).
    *
    * The codes side reads the FILESYSTEM, not the table (r17): `gen`
    * is a hive partition directory, so the max visible gen is the
    * highest `codes/gen=N/` holding COMMITTED output — the job-commit
    * `_SUCCESS` marker, or (for deployments that disable the marker)
    * any visible data file outside `_temporary`. That matches the
    * row-visibility rule the old `max("gen")` scan computed — an
    * in-flight or crashed writer's gen dir holds only uncommitted
    * task staging and counts for NEITHER — with ONE deliberate
    * difference: a committed-but-EMPTY generation (a zero-row batch
    * leaves `_SUCCESS` and no data files) counts here where the old
    * row scan could not see it. That is the safer floor — the gen WAS
    * allocated and committed, so claims at it must stay burned or a
    * later writer could reuse the number and collide with its
    * tombstones — and it only moves the clock forward, never back.
    * It avoids paying a Spark job
    * (file listing + planning + a task per file) on EVERY gen
    * allocation; on a long-lived index the scan grew linearly with
    * history while this walks gens newest-first and stops at the
    * first committed one. The tombstone side keeps the (small-table)
    * scan: tombstones are written append-mode with no per-gen
    * directory, so the filesystem carries no gen information for
    * them, and only CDC lifecycles pay it. */
  private def persistedGenMax(spark: SparkSession, path: String): Int = {
    val fs = fsFor(spark, path)
    val codesDir = new Path(s"$path/codes")
    def committed(d: Path): Boolean =
      fs.exists(new Path(d, "_SUCCESS")) || {
        val it = fs.listFiles(d, true)
        var found = false
        while (!found && it.hasNext) {
          val f = it.next().getPath
          // a data file is visible iff no path component below the gen
          // dir is hidden (_temporary task staging, dot-files) — the
          // same rule Spark's file index applies when reading
          val rel = f.toUri.getPath.stripPrefix(d.toUri.getPath)
            .split('/').filter(_.nonEmpty)
          if (rel.nonEmpty && rel.forall(c =>
              !c.startsWith("_") && !c.startsWith(".")))
            found = true
        }
        found
      }
    val codeMax =
      if (!fs.exists(codesDir)) 0
      else fs.listStatus(codesDir).iterator
        .flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith("gen="))
            n.drop(4).toIntOption.map(g => (g, st.getPath))
          else None
        }
        .toSeq.sortBy(-_._1)
        .collectFirst { case (g, p) if committed(p) => g }
        .getOrElse(0)
    val tombMax = tombstonesOpt(spark, path) match {
      case Some(t) =>
        t.agg(coalesce(max("tomb_gen"), lit(0)).cast("int")).collect()(0).getInt(0)
      case None => 0
    }
    math.max(codeMax, tombMax)
  }

  /** Top-k search against the persisted index: queries probe their
    * `nprobe` nearest centroids, and the codes scan is restricted to
    * those cells — with the partitioned layout that restriction is
    * PARTITION PRUNING on disk, not a post-scan filter. Same probe
    * rule, scoring expression, and tie-breaks as
    * [[Similarity.ivfTopK]], and the same KERNELS end to end: both the
    * probe pick and the final top-k ride the mergeable bounded-heap
    * aggregate ([[graft.expressions.BoundedTopK]] via
    * [[Similarity.probeTopAgg]] / [[Similarity.topKFromScored]]) —
    * O(nprobe) probe state and O(k) result state per query at all
    * times (never the K buffered centroid structs a √-rule cell count
    * would make of a collect_list), no Window anywhere in the plan.
    *
    * Probe-side broadcast is GATED on the query-batch size: the probe
    * frame carries nprobe copies of every query vector, so a large
    * batch (≳100k × dim 100 ≈ GBs) would blow the broadcast ceiling —
    * above `maxBroadcastQueries` the probes join the codes by shuffle
    * instead ([[Quantize.int8TopKAuto]]'s LIMIT-probe discipline: the
    * routing count scans at most maxBroadcastQueries + 1 query rows;
    * `querySizeHint` skips the probe). Both routes are value-identical
    * — the join key and every downstream expression are the same.
    *
    * Rows superseded or deleted by [[applyChanges]] are dropped via
    * the tombstone table AFTER cell pruning (a broadcast anti-filter
    * over the bounded candidate set — see [[applyChanges]] for the
    * tombstone-size contract; [[compact]] folds them away). One
    * documented exception: after a CDC batch crashed between its codes
    * and tombstone writes, an upserted id is live in two generations
    * until the batch is re-run, and search can return it at two ranks
    * (the CDC section's write-ordering note has the full contract). */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             qId: String, qVec: String, k: Int, nprobe: Int,
             maxBroadcastQueries: Long = 100000L,
             querySizeHint: Option[Long] = None): DataFrame = {
    repairRead(spark, path)
    val centroids = spark.read.parquet(s"$path/centroids")
    val codes = spark.read.parquet(s"$path/codes")
    val cellIsLong = centroids.schema("centroid_id").dataType ==
      org.apache.spark.sql.types.LongType
    val qProbes = Similarity.withNorm(queries, qId, qVec, "query_id", "__qv", "__qn")
      .crossJoin(broadcast(
        Similarity.withNorm(centroids, "centroid_id", "cv",
          "centroid_id", "__cv", "__cn")))
      .withColumn("sim",
        Similarity.pairSim(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
      .groupBy("query_id")
      .agg(first(col("__qv")).as("__qv"), first(col("__qn")).as("__qn"),
        Similarity.probeTopAgg(col("sim"), col("centroid_id"), nprobe,
          cellIsLong).as("__top"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__t.id").as("centroid_id"))
    val probesJoined =
      if (smallBatch(queries, qVec, maxBroadcastQueries, querySizeHint))
        qProbes.hint("broadcast").join(codes, "centroid_id")
      else qProbes.join(codes, "centroid_id")
    val scored = dropTombstoned(spark, path, probesJoined)
      .withColumn("sim",
        Similarity.pairSim(col("__qv"), col("vec"), col("__qn"), col("vecnorm")))
      .select(col("query_id"), col("id").as("neighbor_id"), col("sim"))
    Similarity.topKFromScored(scored, k)
  }

  /** LIMIT-bounded query-batch routing probe (the
    * [[Quantize.int8TopKAuto]] discipline): scans at most
    * `maxBroadcast + 1` query rows to decide, never the full batch —
    * unless the threshold exceeds Int range, where a LIMIT can't
    * decide and the full count is the only safe answer. */
  private def smallBatch(queries: DataFrame, qVec: String,
                         maxBroadcast: Long, hint: Option[Long]): Boolean =
    hint.getOrElse {
      if (maxBroadcast < Int.MaxValue - 1L)
        queries.filter(col(qVec).isNotNull)
          .limit(maxBroadcast.toInt + 1).count()
      else queries.filter(col(qVec).isNotNull).count()
    } <= maxBroadcast

  // ------------------------------------------------------------------
  // PQ-coded variant: the index stores (centroid, code) tables ONLY —
  // m small ints per vector instead of dim doubles (64-dim float ≈
  // 256 B → 4 B at m=4). This is the storage shape a 100 TB corpus
  // actually persists; the IVF-flat tables above are the exact-scoring
  // sibling for corpora whose vectors fit the budget.
  // ------------------------------------------------------------------

  /** Train (coarse cells + PQ codebook) on `corpus` and persist:
    * `cells/` (cell_id, ccv), `codebook/` (subspace, centroid_id, cv),
    * `codes/gen=G/cell=C/…` (id, codes: int[m] subspace-ordered). With
    * `iterations = 0` the codebook is the deterministic lowest-id seed
    * (training-free): append-then-search is then BIT-IDENTICAL to
    * rebuild-then-search whenever the build shard holds the union's
    * seed ids — the q232 oracle contract. Lloyd refinement (> 0)
    * trains a better codebook but makes the frozen index an
    * approximation of a rebuild by construction (refinement means
    * depend on the training corpus); [[driftReport]] on the cell
    * populations is the signal for when to pay the rebuild. */
  def buildPq(corpus: DataFrame, idCol: String, vecCol: String,
              path: String, dim: Int, m: Int, k: Int, iterations: Int,
              nCells: Int): Unit = {
    val fs = fsFor(corpus.sparkSession, path)
    for (d <- Seq("codes", "tombstones", "_gens", StagedDir,
        s"$StagedDir.commit", s"$StagedDir.old", MaintLockName))
      fs.delete(new Path(s"$path/$d"), true)
    val cv = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), transform(col(vecCol), _.cast("double")).as("__v"))
    val cells = cv.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cell_id"), col("__v").as("ccv"))
    cells.coalesce(1).write.mode("overwrite").parquet(s"$path/cells")
    val codebook = Quantize.pqTrain(corpus, idCol, vecCol, dim, m, k, iterations)
    codebook.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    writeGen(encodeGen(corpus, idCol, vecCol, cells, codebook, dim, m),
      s"$path/codes", gen = 0, "cell")
  }

  /** Admit a shard against the FROZEN cells + codebook (assignment and
    * encoding only — no retraining; cost ∝ shard). Same atomic gen
    * allocation + own-directory write as [[append]]. */
  def appendPq(spark: SparkSession, path: String, shard: DataFrame,
               idCol: String, vecCol: String, dim: Int, m: Int): Unit = {
    repairWrite(spark, path)
    val cells = spark.read.parquet(s"$path/cells")
    val codebook = spark.read.parquet(s"$path/codebook")
    val g = allocateGen(spark, path)
    writeGen(encodeGen(shard, idCol, vecCol, cells, codebook, dim, m),
      s"$path/codes", g, "cell")
  }

  /** (id, codes int[m], cell) for one generation: PQ-encode with the
    * given codebook (nearest sub-centroid per subspace, ties → lowest
    * code — [[Quantize.pqEncode]]'s rule) and assign the coarse cell
    * by L2 argmin (ties → lowest cell — ivfPqTopKAdc's rule). */
  private def encodeGen(df: DataFrame, idCol: String, vecCol: String,
                        cells: DataFrame, codebook: DataFrame,
                        dim: Int, m: Int): DataFrame = {
    val cv = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), transform(col(vecCol), _.cast("double")).as("__v"))
    val assigned = cv.crossJoin(broadcast(cells))
      .withColumn("__d2", Quantize.l2sq(col("__v"), col("ccv")))
      .groupBy("id")
      .agg(min_by(col("cell_id"), struct(col("__d2"), col("cell_id"))).as("cell"))
    val codeArr = Quantize.pqEncode(df, idCol, vecCol, codebook, dim, m)
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code")).as("codes"))
    codeArr.join(assigned, "id")
      .select(col("id"), col("codes"), col("cell"))
  }

  /** ADC top-k against the persisted PQ index: queries probe their
    * nProbe nearest cells (L2 to the frozen coarse centroids), the
    * codes scan is restricted to those cells (partition pruning on
    * the `cell` layout), and scoring is the standard asymmetric
    * distance sum over the per-query (subspace, code) → d2 table —
    * no raw corpus vector is ever read. Same probe/score/tie rules
    * as [[Quantize.ivfPqTopKAdc]]; the probe pick rides the same
    * O(nProbe)-state heap aggregate as [[search]]. */
  def searchPq(spark: SparkSession, path: String, queries: DataFrame,
               qId: String, qVec: String, dim: Int, m: Int,
               nProbe: Int, topK: Int,
               maxBroadcastQueries: Long = 100000L,
               querySizeHint: Option[Long] = None): DataFrame = {
    repairRead(spark, path)
    val cells = spark.read.parquet(s"$path/cells")
    val codebook = spark.read.parquet(s"$path/codebook")
    val codes = spark.read.parquet(s"$path/codes")
    val cellIsLong = cells.schema("cell_id").dataType ==
      org.apache.spark.sql.types.LongType
    val dtab = Quantize.adcTables(queries, qId, qVec, codebook, m, dim / m)
    // heap probe pick: sim = -d2 makes the heap's (sim DESC, id ASC)
    // exactly ORDER BY d2 ASC, cell_id ASC — no per-query rank window,
    // O(nProbe) aggregation state per query
    val probes = queries.filter(col(qVec).isNotNull)
      .select(col(qId).as("query_id"), transform(col(qVec), _.cast("double")).as("__qv"))
      .crossJoin(broadcast(cells))
      .withColumn("__d2", Quantize.l2sq(col("__qv"), col("ccv")))
      .groupBy("query_id")
      .agg(Similarity.probeTopAgg(-col("__d2"), col("cell_id"), nProbe,
        cellIsLong).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__t.id").as("cell_id"))
    // the probe/dtab frames hold only scalars (no query vectors), but
    // they still scale with |Q| — gate their broadcast on batch size
    // like [[search]]; the shuffled route is value-identical
    val small = smallBatch(queries, qVec, maxBroadcastQueries, querySizeHint)
    val cand = dropTombstoned(spark, path,
      if (small) codes.join(broadcast(probes), col("cell") === col("cell_id"))
      else codes.join(probes, col("cell") === col("cell_id")))
    val expl = cand
      .select(col("query_id"), col("id"), posexplode(col("codes")).as(Seq("subspace", "code")))
    val scored = (if (small) expl.join(broadcast(dtab), Seq("query_id", "subspace", "code"))
                  else expl.join(dtab, Seq("query_id", "subspace", "code")))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("d2")).as("adist"))
      // heap kernel orders (sim DESC, id ASC); adist ASC == -adist
      // DESC, and double negation round-trips bit-exactly
      .select(col("query_id"), col("neighbor_id"), (-col("adist")).as("sim"))
    Similarity.topKFromScored(scored, topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("sim")).as("adist"))
  }

  // ------------------------------------------------------------------
  // CDC: deletes + upserts over the persisted code tables. A parquet
  // layout can't rewrite rows in place, so changes land as TOMBSTONES
  // (`tombstones/` — (id, tomb_gen)): batch g tombstones every changed
  // key at gen g (killing that id's rows with gen < g) and appends the
  // upserted vectors at gen g — so a delete drops the id, an upsert
  // atomically supersedes every older generation of it, and a
  // re-insert after a delete works because the new row's gen is never
  // below its tombstone's. Search applies the tombstone filter AFTER
  // cell pruning as a broadcast anti-filter — O(|tombstones|) extra
  // state, the steady-state CDC regime ([[Snapshot.applyChangeLog]]'s
  // contract); when deletes accumulate, [[compact]] folds them into
  // the code files and clears the table.
  //
  // Write ordering (crash safety): the upserted CODE rows land first,
  // the tombstones last. A crash between the two leaves the upserted
  // ids temporarily DUPLICATED (old + new generation both live), never
  // silently deleted, which is what the tombstones-first order risked
  // (tombstones without their upserts convert the batch's upserts into
  // deletes). The duplicate window is part of search's contract: until
  // the crashed batch is RE-RUN (the re-run's higher-gen tombstones
  // supersede both copies), a search can return the same neighbor_id
  // at two ranks — stale and new vector. The window is detectable (the
  // batch's `.cdc` intent file survives the crash, and maintenance
  // refuses to run while one exists) and the remedy is always "re-run
  // the batch"; search does not pay a per-query max-gen dedup exchange
  // for a state that only a crash can produce and only until its
  // documented repair.
  // ------------------------------------------------------------------

  /** Apply one CDC batch to the IVF-flat index at `path`. `changes`
    * carries (idCol, vecCol, seqCol, opCol): rows compact to their
    * latest per key by `seqCol` (max_by — no window), `opCol` ==
    * `deleteOp` deletes the key, anything else upserts it (assignment
    * against the FROZEN centroids — no retraining, cost ∝ batch).
    * Note [[driftReport]] counts tombstoned rows until [[compact]]
    * runs — drift is about what the quantizer ADMITTED, and a
    * delete-heavy workload should compact before reading drift. */
  def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
                   idCol: String, vecCol: String, seqCol: String,
                   opCol: String, deleteOp: String = "delete"): Unit = {
    repairWrite(spark, path)
    val centroids = spark.read.parquet(s"$path/centroids")
    val g = allocateGen(spark, path)
    withCdcIntent(spark, path, g) {
      val latest = latestPerKey(changes, idCol, vecCol, seqCol, opCol)
      writeGen(assignGen(latest.filter(col("__op") =!= lit(deleteOp)),
        "id", "__vec", centroids), s"$path/codes", g, "centroid_id")
      latest.select(col("id"), lit(g).as("tomb_gen"))
        .write.mode("append").parquet(s"$path/tombstones")
    }
  }

  /** Bracket a CDC batch with an in-flight intent file
    * (`_gens/gen-G.cdc`): created before the batch's first table write,
    * removed after its last. [[requireNoInflightWriters]] reads these —
    * a CDC batch is TWO writes (codes, then tombstones), and the bare
    * gen claim stops protecting it the moment the codes land (the claim
    * is then at/below the persisted max), so maintenance needs a signal
    * that spans the whole batch. A crash mid-batch leaves the intent
    * behind ON PURPOSE: maintenance then fails loudly instead of
    * folding a half-applied batch into a rebuild (the error names the
    * file; re-run the batch — which supersedes the partial writes —
    * then delete the stale intent). */
  private def withCdcIntent(spark: SparkSession, path: String, g: Int)
                           (body: => Unit): Unit = {
    val fs = fsFor(spark, path)
    val intent = new Path(s"$path/_gens", f"gen-$g%08d.cdc")
    fs.create(intent, false).close()
    body
    // success path only: a thrown body is a crashed batch — keep the
    // intent so maintenance stays blocked until the batch is re-run
    fs.delete(intent, false): Unit
  }

  /** Latest change row per key ([[Snapshot.applyChangeLog]]'s max_by
    * compaction): (id, __vec, __op). Null keys are dropped. */
  private def latestPerKey(changes: DataFrame, idCol: String, vecCol: String,
                           seqCol: String, opCol: String): DataFrame =
    changes.filter(col(idCol).isNotNull)
      .groupBy(col(idCol).as("id"))
      .agg(max_by(struct(col(vecCol).as("v"), col(opCol).as("o")),
        col(seqCol)).as("__w"))
      .select(col("id"), col("__w.v").as("__vec"), col("__w.o").as("__op"))

  private def tombstonesOpt(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Drop candidate rows superseded/deleted by tombstones: a row dies
    * iff some tombstone for its id has tomb_gen > gen. Applied after
    * cell pruning, so the join input is the bounded candidate set; the
    * tombstone side collapses to one row per deleted id and
    * broadcasts. No tombstone table ⇒ pass-through (zero cost for the
    * append-only lifecycle). */
  private def dropTombstoned(spark: SparkSession, path: String,
                             cand: DataFrame): DataFrame =
    tombstonesOpt(spark, path) match {
      case None => cand
      case Some(t) =>
        val latest = t.groupBy("id").agg(max("tomb_gen").as("__tg"))
        cand.join(broadcast(latest), Seq("id"), "left")
          .filter(col("__tg").isNull || col("gen") >= col("__tg"))
          .drop("__tg")
    }

  // ------------------------------------------------------------------
  // Maintenance swaps (rebuild, compact): crash-recoverable via a
  // staged sibling + commit marker. Protocol:
  //   1. write the replacement tables COMPLETELY under `__staged/`
  //      (the live tables are still being read — no self-overwrite);
  //   2. create the `__staged.commit` marker (the commit point);
  //   3. rename each staged child over its live twin, drop the
  //      tombstones and gen claims the staged tables folded in/reset,
  //      drop the staging dir and the marker.
  // A crash before (2) leaves the OLD index fully intact (the orphan
  // staging dir is discarded on the next open); a crash after (2) is
  // completed by [[repairIfNeeded]] on the next open — each step of
  // (3) is idempotent (a child already renamed has no staged twin
  // left), so repair can itself crash and re-run. At no point can a
  // reader see rebuilt rows paired with stale tombstones, or a missing
  // codes table.
  // ------------------------------------------------------------------

  /** Read-path repair: complete a COMMITTED swap if one is pending,
    * touch nothing else. One existence probe on the no-op path.
    * Uncommitted staging (no marker) is a LIVE maintenance op's
    * in-flight work — or a crashed one's orphan, swept by the next
    * maintenance op under the lock — and a read path must never
    * delete it (r16 advice: a reader racing a live rebuild used to
    * discard its staging). */
  private def repairRead(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    val marker = new Path(s"$path/$StagedDir.commit")
    if (fs.exists(marker))
      completeSwap(fs, path, new Path(s"$path/$StagedDir"), marker)
  }

  /** Write-path gate + repair: fail loudly while a maintenance op
    * holds the lock (class-doc contract — the gate that turns
    * silent row loss into an error), then complete any committed
    * swap a crashed-and-unlocked maintenance op left pending. */
  private def repairWrite(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    requireNoMaintenanceLock(fs, path)
    val marker = new Path(s"$path/$StagedDir.commit")
    if (fs.exists(marker))
      completeSwap(fs, path, new Path(s"$path/$StagedDir"), marker)
  }

  /** Abort maintenance while any append/CDC writer may be in flight:
    * a bare gen claim above the persisted max is an append whose data
    * has not landed (or a crashed one), a `.cdc` intent is a CDC batch
    * between its codes and tombstone writes (or a crashed one) — a
    * swap racing either would delete its rows (append) or strand its
    * tombstones against a reset generation clock (CDC). Runs AFTER the
    * lock is taken: any writer that starts later sees the lock
    * (entry gate + [[allocateGen]]'s post-claim re-check) and aborts
    * itself, so the scan-vs-claim race has no unsafe interleaving. */
  private def requireNoInflightWriters(fs: FileSystem, spark: SparkSession,
                                       path: String): Unit = {
    val dir = new Path(s"$path/_gens")
    if (!fs.exists(dir)) return
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val intents = names.filter(_.endsWith(".cdc")).sorted
    if (intents.nonEmpty)
      throw new IllegalStateException(
        s"cannot run maintenance on $path: in-flight (or crashed) CDC " +
          s"batch intents present under _gens/: ${intents.mkString(", ")}. " +
          "Wait for live batches; for a crashed batch, re-run it (the " +
          "re-run supersedes its partial writes), then delete the stale " +
          "intent file.")
    val persisted = persistedGenMax(spark, path)
    val open = names.filter(n => claimGen(n).exists(_ > persisted)).sorted
    if (open.nonEmpty)
      throw new IllegalStateException(
        s"cannot run maintenance on $path: gen claims with no persisted " +
          s"data under _gens/: ${open.mkString(", ")} — an append is in " +
          "flight (wait for it) or crashed (its claim is safe to delete " +
          "after confirming the writer is dead).")
  }

  /** Steps (2)–(3) of the swap protocol: verify the staged tables the
    * caller promised are actually present, then mark and complete.
    * Verifying BEFORE the marker is what makes completeSwap's
    * post-marker cleanup unconditional-and-correct: a marker can never
    * commit a half-staged swap (r16 advice — e.g. new codes paired
    * with old centroids), so once it exists, renaming everything under
    * `__staged/` and clearing tombstones + gen claims is always the
    * right completion, no matter how many times it is re-run. */
  private def commitSwap(fs: FileSystem, path: String,
                         expected: Seq[String]): Unit = {
    val staged = new Path(s"$path/$StagedDir")
    val marker = new Path(s"$path/$StagedDir.commit")
    val missing = expected.filterNot(c => fs.exists(new Path(staged, c)))
    if (missing.nonEmpty)
      throw new java.io.IOException(
        s"refusing to commit maintenance swap at $path: staged tables " +
          s"missing ${missing.mkString(", ")} — the staging write did " +
          "not complete; the live index is untouched.")
    fs.create(marker, false).close()
    completeSwap(fs, path, staged, marker)
  }

  /** Step (3): idempotent completion — safe to re-run after a crash at
    * any point, and tolerant of CONCURRENT completers (a reader that
    * saw the marker races the maintenance writer's own completion; on
    * a crashed post-marker swap, several readers may race each other).
    * Rename-first protocol: the live twin moves to a `__staged.old/`
    * trash dir before the staged table moves in — at no point does a
    * failed racer leave the destination DELETED (the old delete-then-
    * rename form let a slow racer delete the table its faster twin had
    * just renamed in). In-JVM racers are fully serialized by the
    * per-path lock; cross-JVM racers rely on rename atomicity only. */
  private def completeSwap(fs: FileSystem, path: String,
                           staged: Path, marker: Path): Unit =
    lockFor(s"$path#swap").synchronized {
      if (!fs.exists(marker)) return // a racer finished the whole swap
      val trash = new Path(s"$path/$StagedDir.old")
      if (fs.exists(staged)) {
        fs.mkdirs(trash)
        for (st <- fs.listStatus(staged)) {
          val name = st.getPath.getName
          val dst = new Path(path, name)
          val old = new Path(trash, name)
          if (fs.exists(dst)) {
            // a stale trash twin from a crashed prior attempt blocks
            // the rename — clear it first
            fs.delete(old, true)
            if (!fs.rename(dst, old) && fs.exists(dst))
              throw new java.io.IOException(
                s"maintenance swap at $path: cannot move live $name aside")
          }
          if (!fs.rename(st.getPath, dst) &&
              !(fs.exists(dst) && !fs.exists(st.getPath)))
            throw new java.io.IOException(
              s"maintenance swap failed for $dst")
        }
      }
      // the staged tables folded tombstones in (compact) or reset the
      // generation clock (rebuild) — both invalidate the old
      // tombstones and gen claims. The commit-time verification above
      // makes this unconditional cleanup correct whenever the marker
      // exists, including re-runs that renamed nothing.
      fs.delete(trash, true)
      fs.delete(new Path(s"$path/tombstones"), true)
      fs.delete(new Path(s"$path/_gens"), true)
      fs.delete(staged, true)
      fs.delete(marker, true): Unit
    }

  /** Retrain the IVF-flat index IN PLACE from its own live rows — the
    * lifecycle step [[driftReport]]'s `retrain` flag asks for: the
    * flat code rows carry the raw vectors, so build → append → drift
    * → rebuild → search needs no access to the original corpus. The
    * new index trains on the live set (tombstones applied), writes to
    * the staged sibling while the old tables are still being read,
    * then swaps under the crash-recoverable protocol above —
    * generation resets to 0 (the rebuild IS the new base population
    * the next drift reads against). The PQ index has no in-place twin
    * by construction (its code rows hold m ints, not vectors — re-run
    * [[buildPq]] on the corpus). Requires exclusive access (class-doc
    * concurrency contract). */
  def rebuild(spark: SparkSession, path: String, nCells: Int,
              kmeansIterations: Int = 0): Unit = {
    val fs = fsFor(spark, path)
    acquireMaintenanceLock(fs, path)
    try {
      // under the lock: finish a committed swap a crashed predecessor
      // left, sweep its uncommitted staging, and refuse to race any
      // writer that got in before the lock
      repairRead(spark, path)
      fs.delete(new Path(s"$path/$StagedDir"), true)
      requireNoInflightWriters(fs, spark, path)
      val live = dropTombstoned(spark, path, spark.read.parquet(s"$path/codes"))
        .select(col("id"), col("vec"))
      // build reads $path/codes (via `live`) WHILE writing to the staged
      // sibling — no self-overwrite; the swap is rename-only
      build(live, "id", "vec", s"$path/$StagedDir", nCells, kmeansIterations)
      commitSwap(fs, path, expected = Seq("centroids", "codes"))
    } finally releaseMaintenanceLock(spark, path)
  }

  /** Fold tombstones into the code files: rewrite `codes/` keeping
    * only live rows (same filter [[search]] applies), preserving the
    * (gen, cell) partitioning — drift history survives — then drop
    * the tombstone table, all under the crash-recoverable swap
    * protocol above. Only the flat index takes CDC batches, so only it
    * has tombstones to fold. Requires exclusive access. */
  def compact(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    acquireMaintenanceLock(fs, path)
    try {
      repairRead(spark, path)
      fs.delete(new Path(s"$path/$StagedDir"), true)
      requireNoInflightWriters(fs, spark, path)
      tombstonesOpt(spark, path) match {
        case None => ()
        case Some(t) =>
          val latest = t.groupBy("id").agg(max("tomb_gen").as("__tg"))
          val live = spark.read.parquet(s"$path/codes")
            .join(broadcast(latest), Seq("id"), "left")
            .filter(col("__tg").isNull || col("gen") >= col("__tg"))
            .drop("__tg")
          live.write.mode("overwrite").partitionBy("gen", "centroid_id")
            .parquet(s"$path/$StagedDir/codes")
          commitSwap(fs, path, expected = Seq("codes"))
      }
    } finally releaseMaintenanceLock(spark, path)
  }

  /** Per-cell drift of the admitted generations against the build:
    * (centroid_id, n_base, n_cur, psi_contrib, psi_total, retrain).
    * PSI over the cell CATEGORIES (Laplace +0.5/cell over the K
    * trained cells, so empty sides stay finite); retrain = total
    * above `threshold` (0.2 — between the classic 0.1 "moderate" and
    * 0.25 "shifted" rules, the conservative side for an index whose
    * probe recall decays monotonically with cell skew). */
  def driftReport(spark: SparkSession, path: String,
                  threshold: Double = 0.2,
                  cellCol: String = "centroid_id",
                  cellsDir: String = "centroids"): DataFrame = {
    repairRead(spark, path)
    val k = spark.read.parquet(s"$path/$cellsDir").count()
    // ONE codes scan (r17): the per-cell count table is K rows —
    // bounded by the trained cell count, never the corpus — and is
    // read three times below (the totals collect, the per-cell frame,
    // the broadcast PSI total). Un-checkpointed, each read re-scanned
    // the full codes table; cut once, everything downstream runs on
    // the K-row block. Values unchanged — same aggregation, computed
    // once instead of three times.
    val counted = spark.read.parquet(s"$path/codes")
      .withColumnRenamed(cellCol, "centroid_id")
      .groupBy("centroid_id")
      .agg(sum(when(col("gen") === 0, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("gen") > 0, 1L).otherwise(0L)).as("n_cur"))
      .localCheckpoint(true)
    val tot = counted.agg(
      coalesce(sum("n_base"), lit(0L)), coalesce(sum("n_cur"), lit(0L))).collect()(0)
    val (na, nc) = (tot.getLong(0), tot.getLong(1))
    val p = (col("n_base").cast("double") + 0.5) / (lit(na.toDouble) + lit(0.5 * k))
    val q = (col("n_cur").cast("double") + 0.5) / (lit(nc.toDouble) + lit(0.5 * k))
    val perCell = counted.select(col("centroid_id"), col("n_base"), col("n_cur"),
      ((p - q) * log(p / q)).as("__contrib"))
    perCell
      .crossJoin(broadcast(perCell.agg(sum("__contrib").as("__total"))))
      .select(col("centroid_id"), col("n_base"), col("n_cur"),
        round(col("__contrib"), 6).as("psi_contrib"),
        round(col("__total"), 6).as("psi_total"),
        (col("__total") > threshold).as("retrain"))
  }
}
