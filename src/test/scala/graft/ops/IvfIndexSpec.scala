package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  // 4 well-separated direction clusters in 8-d, 10 members each, ids
  // interleaved so the LOW-id half (the build shard) still contains
  // members of every cluster AND the 4 lowest ids overall (the
  // centroid-seed dominance the append-parity contract requires)
  private def corpus = (0 until 40).map { i =>
    val v = Array.fill(8)(0.05f * ((i / 4) % 3))
    v((i % 4) * 2) = 1.0f
    (i.toLong, v)
  }.toDF("id", "v")

  private def queries = Seq(
    (100L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
    (101L, Array(0f, 0f, 1.0f, 0f, 0f, 0f, 0f, 0f))).toDF("id", "v")

  private def tmpPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ivfspec-$tag")
      .toString + "/idx"

  test("append-then-search equals rebuild-then-search (centroid-seed dominance)") {
    val path = tmpPath("parity")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    IvfIndex.append(spark, path, corpus.filter(col("id") >= 20), "id", "v")
    val got = IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    val rebuilt = Similarity.ivfTopK(queries, corpus, "id", "v", "id", "v",
        k = 5, nCentroids = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    assert(got === rebuilt)
    assert(got.size === 10)
  }

  test("appends land as new generations; drift report splits base vs current") {
    val path = tmpPath("gen")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    IvfIndex.append(spark, path, corpus.filter(col("id") >= 20 && col("id") < 30), "id", "v")
    IvfIndex.append(spark, path, corpus.filter(col("id") >= 30), "id", "v")
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.select("gen").distinct().as[Int].collect().sorted.toSeq === Seq(0, 1, 2))
    assert(codes.count() === 40)
    // the on-disk layout is (gen, cell)-partitioned: each generation
    // owns its own directory (concurrent appends never share write
    // staging) and within it the cell dirs are the physical property
    // the search's probed-cells restriction prunes on
    val genDirs = new java.io.File(s"$path/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("gen="))
    assert(genDirs.sorted.toSeq === Seq("gen=0", "gen=1", "gen=2"))
    val dirs = new java.io.File(s"$path/codes/gen=0").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("centroid_id="))
    assert(dirs.length === 4)
    val rep = IvfIndex.driftReport(spark, path).collect()
    assert(rep.map(_.getAs[Long]("n_base")).sum === 20L)
    assert(rep.map(_.getAs[Long]("n_cur")).sum === 20L)
    // build and appends draw from the SAME cluster mix here — PSI must
    // read stable (well under the retrain threshold)
    assert(math.abs(rep.head.getAs[Double]("psi_total")) < 0.1)
    assert(!rep.head.getAs[Boolean]("retrain"))
  }

  test("PQ index: append-then-search equals rebuild ivfPqTopKAdc at zero training iterations") {
    val path = tmpPath("pq")
    IvfIndex.buildPq(corpus.filter(col("id") < 20), "id", "v", path,
      dim = 8, m = 2, k = 4, iterations = 0, nCells = 4)
    IvfIndex.appendPq(spark, path, corpus.filter(col("id") >= 20), "id", "v",
      dim = 8, m = 2)
    val got = IvfIndex.searchPq(spark, path, queries, "id", "v",
        dim = 8, m = 2, nProbe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    val rebuilt = Quantize.ivfPqTopKAdc(queries, corpus, "id", "v", "id", "v",
        dim = 8, m = 2, k = 4, iterations = 0, nCells = 4, nProbe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    assert(got === rebuilt)
    assert(got.nonEmpty)
    // the persisted code rows carry NO raw vectors — the m-int storage
    // shape is the point of the PQ variant
    val cols = spark.read.parquet(s"$path/codes").columns.toSet
    assert(cols === Set("id", "codes", "gen", "cell"))
    // drift report reads the PQ layout through the shared machinery
    val rep = IvfIndex.driftReport(spark, path, cellCol = "cell", cellsDir = "cells")
      .collect()
    assert(rep.map(_.getAs[Long]("n_base")).sum === 20L)
    assert(rep.map(_.getAs[Long]("n_cur")).sum === 20L)
  }

  test("both search paths ride the BoundedTopK heap — no Window anywhere in the plan") {
    val path = tmpPath("plan")
    IvfIndex.build(corpus, "id", "v", path, nCells = 4)
    val plan = IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bounded_top_k"), s"flat search lost the heap kernel:\n$plan")
    assert(!plan.contains("Window"), s"flat search reintroduced a rank window:\n$plan")
    val pqPath = tmpPath("planpq")
    IvfIndex.buildPq(corpus, "id", "v", pqPath, dim = 8, m = 2, k = 4,
      iterations = 0, nCells = 4)
    val pqPlan = IvfIndex.searchPq(spark, pqPath, queries, "id", "v",
        dim = 8, m = 2, nProbe = 2, topK = 5)
      .queryExecution.executedPlan.toString
    assert(pqPlan.contains("bounded_top_k"), s"PQ search lost the heap kernel:\n$pqPlan")
    assert(!pqPlan.contains("Window"), s"PQ search reintroduced a rank window:\n$pqPlan")
  }

  test("query-batch broadcast gate: forced shuffled route is value-identical on both paths") {
    val path = tmpPath("gate")
    IvfIndex.build(corpus, "id", "v", path, nCells = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    val bc = IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2)
    // maxBroadcastQueries = 0 forces the shuffled probe join (the
    // large-batch route); the LIMIT probe decides from ≤ 1 query row
    val sh = IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2,
      maxBroadcastQueries = 0L)
    assert(rows(bc) === rows(sh))
    assert(rows(bc).nonEmpty)
    val pqPath = tmpPath("gatepq")
    IvfIndex.buildPq(corpus, "id", "v", pqPath, dim = 8, m = 2, k = 4,
      iterations = 0, nCells = 4)
    val pbc = IvfIndex.searchPq(spark, pqPath, queries, "id", "v",
      dim = 8, m = 2, nProbe = 2, topK = 5)
    val psh = IvfIndex.searchPq(spark, pqPath, queries, "id", "v",
      dim = 8, m = 2, nProbe = 2, topK = 5, maxBroadcastQueries = 0L)
    assert(rows(pbc) === rows(psh))
    assert(rows(pbc).nonEmpty)
  }

  test("CDC: delete+upsert-then-search equals rebuild over the edited corpus; " +
    "compact folds tombstones; re-insert after delete works") {
    val path = tmpPath("cdc")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    IvfIndex.append(spark, path, corpus.filter(col("id") >= 20), "id", "v")
    // one batch: delete ids 36..39, upsert id 20 into cluster-2's
    // direction — all edits above the 4-lowest-id centroid seed range
    val newVec = { val a = Array.fill(8)(0.0f); a(4) = 1.0f; a }
    val changes = ((36 to 39).map(i => (i.toLong, Array.empty[Float], 1L, "delete")) :+
      ((20L, newVec, 1L, "upsert"))).toDF("id", "v", "seq", "op")
    IvfIndex.applyChanges(spark, path, changes, "id", "v", "seq", "op")
    val edited = corpus.filter(col("id") < 36 && col("id") =!= 20L)
      .unionByName(Seq((20L, newVec)).toDF("id", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    val got = rows(IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2))
    val want = rows(Similarity.ivfTopK(queries, edited, "id", "v", "id", "v",
      k = 5, nCentroids = 4, nprobe = 2))
    assert(got === want)
    // deleted ids never surface, the upserted row surfaces at its NEW
    // location: full-probe search over everything
    val all = IvfIndex.search(spark, path, corpus.select("id", "v"), "id", "v",
      k = 40, nprobe = 4)
    assert(rows(all).forall { case (_, _, n, _) => n < 36 })
    // compaction: tombstones fold into the code files, results unchanged
    assert(new java.io.File(s"$path/tombstones").exists())
    IvfIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(spark.read.parquet(s"$path/codes").count() === 36)
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("id") === 20L).count() === 1)
    assert(rows(IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2))
      === want)
    // re-insert a deleted id in a SECOND batch (delete-only clocks
    // advance too — the tombstone from batch 1 must not kill it)
    IvfIndex.applyChanges(spark, path,
      Seq((37L, newVec, 2L, "upsert")).toDF("id", "v", "seq", "op"),
      "id", "v", "seq", "op")
    val back = IvfIndex.search(spark, path, corpus.select("id", "v"), "id", "v",
      k = 40, nprobe = 4)
    assert(rows(back).exists { case (_, _, n, _) => n == 37L })
  }

  test("lifecycle: refined build → shifted append → drift fires → rebuild → recall recovers") {
    val path = tmpPath("life")
    // production build mode: Lloyd-refined coarse quantizer, frozen
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path,
      nCells = 4, kmeansIterations = 2)
    // the admitted shard is a NEW direction (e1 + 0.3·e2) the frozen
    // quantizer never trained on — it collapses into one cell
    val shard = (20 until 40).map { i =>
      val a = Array.fill(8)(0.0f); a(1) = 1.0f; a(2) = 0.3f; (i.toLong, a)
    }.toDF("id", "v")
    IvfIndex.append(spark, path, shard, "id", "v")
    // the drift instrument fires: admitted population vs build
    val rep = IvfIndex.driftReport(spark, path).collect()
    assert(rep.head.getAs[Double]("psi_total") > 0.2)
    assert(rep.head.getAs[Boolean]("retrain"))
    // a query aimed at the new direction, pulled slightly toward e0:
    // the STALE quantizer routes it to the e0 cell (no shard members),
    // the retrained one routes it to the shard's cell
    val q2 = Seq((200L, { val a = Array.fill(8)(0.0f); a(0) = 0.3f; a(1) = 1.0f; a }))
      .toDF("id", "v")
    val live = corpus.filter(col("id") < 20).unionByName(shard)
    val truth = Similarity.bruteForceTopK(q2, live, "id", "v", "id", "v", 5)
      .collect().map(_.getLong(2)).toSet
    def recallAt5(res: org.apache.spark.sql.DataFrame): Double = {
      val got = res.collect().map(_.getLong(2)).toSet
      (got & truth).size.toDouble / truth.size
    }
    val pre = recallAt5(IvfIndex.search(spark, path, q2, "id", "v", k = 5, nprobe = 1))
    IvfIndex.rebuild(spark, path, nCells = 4, kmeansIterations = 2)
    val post = recallAt5(IvfIndex.search(spark, path, q2, "id", "v", k = 5, nprobe = 1))
    assert(pre === 0.0, s"stale-quantizer recall unexpectedly fine: $pre")
    assert(post === 1.0, s"rebuilt-quantizer recall: $post")
    // rebuild resets the generation clock — the retrained index IS the
    // new base population the next driftReport reads against
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.select("gen").distinct().as[Int].collect().toSeq === Seq(0))
    assert(codes.count() === 40)
    assert(!new java.io.File(s"$path/tombstones").exists())
    // the staged swap left no residue: staging dir, commit marker, and
    // gen claims are all gone (the gen clock restarts from the rebuilt
    // tables)
    assert(!new java.io.File(s"$path/__staged").exists())
    assert(!new java.io.File(s"$path/__staged.commit").exists())
    assert(!new java.io.File(s"$path/_gens").exists())
    // and the clock did restart: the next append is gen 1
    IvfIndex.append(spark, path, queries, "id", "v")
    assert(spark.read.parquet(s"$path/codes")
      .select("gen").distinct().as[Int].collect().sorted.toSeq === Seq(0, 1))
  }

  test("concurrent appends mint distinct serialized generations (atomic allocator)") {
    val path = tmpPath("conc")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    // two appends racing on one index: the allocator must serialize
    // their generation claims, and the per-generation directories keep
    // their physical writes disjoint
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(IvfIndex.append(spark, path,
      corpus.filter(col("id") >= 20 && col("id") < 30), "id", "v"))
    val b = Future(IvfIndex.append(spark, path,
      corpus.filter(col("id") >= 30), "id", "v"))
    Await.result(a, 120.seconds); Await.result(b, 120.seconds)
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.select("gen").distinct().as[Int].collect().sorted.toSeq === Seq(0, 1, 2))
    assert(codes.count() === 40)
    assert(codes.select("id").distinct().count() === 40)
    // the raw allocator, hammered in-JVM: every claim distinct
    val claims = (1 to 8).map(_ => Future(IvfIndex.allocateGen(spark, path)))
    val gens = claims.map(Await.result(_, 60.seconds))
    assert(gens.distinct.size === 8)
  }

  test("crash repair: readers IGNORE an uncommitted staged dir (a live rebuild's " +
    "in-flight staging is never a reader's to delete); maintenance sweeps it") {
    val path = tmpPath("crash1")
    IvfIndex.build(corpus, "id", "v", path, nCells = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    val before = rows(IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2))
    // either a maintenance op crashed AFTER staging but BEFORE the
    // commit marker, or a LIVE one is mid-staging: garbage under
    // __staged, no marker — indistinguishable to a reader, so the
    // read path must neither fail nor touch it (r16 advice: the old
    // read-path repair deleted a live rebuild's staging)
    val staged = new java.io.File(s"$path/__staged/codes")
    staged.mkdirs()
    java.nio.file.Files.write(staged.toPath.resolve("junk"), Array[Byte](1, 2, 3))
    val after = rows(IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2))
    assert(after === before)
    assert(new java.io.File(s"$path/__staged/codes/junk").exists(),
      "read path must leave uncommitted staging alone")
    // the next maintenance op owns the staging dir (it holds the lock)
    // and sweeps the orphan before staging its own work
    IvfIndex.rebuild(spark, path, nCells = 4)
    assert(!new java.io.File(s"$path/__staged").exists())
    assert(rows(IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2))
      === before)
  }

  test("maintenance exclusivity: writers fail loudly under _maintenance.lock; " +
    "releaseMaintenanceLock recovers; rebuild releases its own lock") {
    val path = tmpPath("lock")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    // a maintenance op holds the lock (live, or crashed without release)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$path/_maintenance.lock"))
    val shard = corpus.filter(col("id") >= 20)
    val e1 = intercept[IllegalStateException] {
      IvfIndex.append(spark, path, shard, "id", "v")
    }
    assert(e1.getMessage.contains("_maintenance.lock"))
    val e2 = intercept[IllegalStateException] {
      IvfIndex.applyChanges(spark, path,
        Seq((5L, Array.empty[Float], 1L, "delete")).toDF("id", "v", "seq", "op"),
        "id", "v", "seq", "op")
    }
    assert(e2.getMessage.contains("_maintenance.lock"))
    // a second maintenance op must refuse too (single maintenance writer)
    val e3 = intercept[IllegalStateException] {
      IvfIndex.rebuild(spark, path, nCells = 4)
    }
    assert(e3.getMessage.contains("releaseMaintenanceLock"))
    // operator confirms the holder is dead → release → writers flow again
    IvfIndex.releaseMaintenanceLock(spark, path)
    IvfIndex.append(spark, path, shard, "id", "v")
    assert(spark.read.parquet(s"$path/codes").count() === 40)
    // a maintenance op releases its own lock on the way out
    IvfIndex.rebuild(spark, path, nCells = 4)
    assert(!new java.io.File(s"$path/_maintenance.lock").exists())
    IvfIndex.append(spark, path,
      queries.select(col("id") + 1000L as "id", col("v")), "id", "v")
    assert(spark.read.parquet(s"$path/codes").count() === 42)
  }

  test("maintenance refuses while a writer may be in flight: open gen claims " +
    "and crashed CDC intents both block, loudly") {
    val path = tmpPath("inflight")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    IvfIndex.append(spark, path, corpus.filter(col("id") >= 20), "id", "v")
    // an append claimed gen 99 but its data has not landed — in flight
    // or crashed; rebuild cannot tell, so it must not proceed
    val openClaim = java.nio.file.Paths.get(s"$path/_gens/gen-00000099")
    java.nio.file.Files.createFile(openClaim)
    val e1 = intercept[IllegalStateException] {
      IvfIndex.rebuild(spark, path, nCells = 4)
    }
    assert(e1.getMessage.contains("gen-00000099"))
    assert(!new java.io.File(s"$path/_maintenance.lock").exists(),
      "a refused maintenance op must not leave its lock behind")
    java.nio.file.Files.delete(openClaim)
    // a CDC batch crashed between its codes and tombstone writes: the
    // intent survives and blocks maintenance until the batch is re-run
    val intent = java.nio.file.Paths.get(s"$path/_gens/gen-00000003.cdc")
    java.nio.file.Files.createFile(intent)
    val e2 = intercept[IllegalStateException] {
      IvfIndex.compact(spark, path)
    }
    assert(e2.getMessage.contains("gen-00000003.cdc"))
    java.nio.file.Files.delete(intent)
    IvfIndex.rebuild(spark, path, nCells = 4)
    assert(spark.read.parquet(s"$path/codes").count() === 40)
  }

  test("gen-claim housekeeping: claims at/below the persisted max are pruned " +
    "by the next allocation; CDC intents are never pruned") {
    val path = tmpPath("prune")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    IvfIndex.append(spark, path,
      corpus.filter(col("id") >= 20 && col("id") < 30), "id", "v")
    IvfIndex.append(spark, path, corpus.filter(col("id") >= 30), "id", "v")
    def gens() = new java.io.File(s"$path/_gens").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).sorted.toSeq
    // append #2's allocation already pruned claim gen-1 (its data had
    // landed — persisted max was 1 at that point); gen-2's claim is
    // the newest and survives until the next allocation
    assert(gens() === Seq("gen-00000002"))
    // a stale intent must survive pruning — it is the in-flight signal
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$path/_gens/gen-00000001.cdc"))
    IvfIndex.append(spark, path,
      queries.select(col("id") + 2000L as "id", col("v")), "id", "v")
    assert(gens() === Seq("gen-00000001.cdc", "gen-00000003"),
      "landed claims pruned, intent kept, new claim present")
  }

  test("crash repair: a committed swap is completed on the next open — " +
    "rebuilt rows are never paired with stale tombstones") {
    val path = tmpPath("crash2")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    IvfIndex.append(spark, path, corpus.filter(col("id") >= 20), "id", "v")
    // delete ids 36..39 → tombstones exist
    IvfIndex.applyChanges(spark, path,
      (36 to 39).map(i => (i.toLong, Array.empty[Float], 1L, "delete"))
        .toDF("id", "v", "seq", "op"),
      "id", "v", "seq", "op")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    val want = rows(IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2))
    // simulate compact() crashing right after its commit point: the
    // staged live-rows table and the marker exist, nothing renamed yet
    val live = spark.read.parquet(s"$path/codes").filter(col("id") < 36)
    live.write.mode("overwrite").partitionBy("gen", "centroid_id")
      .parquet(s"$path/__staged/codes")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$path/__staged.commit"))
    // next open repairs: swap completed, tombstones + claims cleared,
    // search results identical to the pre-crash tombstone-filtered view
    val got = rows(IvfIndex.search(spark, path, queries, "id", "v", k = 5, nprobe = 2))
    assert(got === want)
    assert(!new java.io.File(s"$path/__staged").exists())
    assert(!new java.io.File(s"$path/__staged.commit").exists())
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(spark.read.parquet(s"$path/codes").count() === 36)
  }

  test("drift report flags a genuinely shifted append") {
    val path = tmpPath("shift")
    IvfIndex.build(corpus.filter(col("id") < 20), "id", "v", path, nCells = 4)
    // append ONLY cluster-0 vectors: the admitted population collapses
    // into one cell — the quantizer-decay shape the trigger exists for
    IvfIndex.append(spark, path,
      corpus.filter(col("id") >= 20 && col("id") % 4 === 0), "id", "v")
    val rep = IvfIndex.driftReport(spark, path).collect()
    assert(rep.head.getAs[Double]("psi_total") > 0.2)
    assert(rep.head.getAs[Boolean]("retrain"))
  }
}
