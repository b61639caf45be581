package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("min-label propagation labels chains, stars and singleton edges") {
    // components: {1,2,3,4} (chain), {10,11,12} (star on 10), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 21L)).toDF("src", "dst")
    val lbl = Graph.minLabelPropagation(edges, "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("bounded rounds are a deterministic refinement on long chains") {
    // a 6-hop path needs 5 rounds to fully converge; with 2 rounds the
    // far end must still hold an intermediate (but deterministic) label
    val chain = (1L until 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val l2 = Graph.minLabelPropagation(chain, "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2(3L) === 1L)   // within 2 hops of the minimum
    assert(l2(7L) === 5L)   // r1: 7←6, r2: 7←(6's r1 label 5)
    val l6 = Graph.minLabelPropagation(chain, "src", "dst", rounds = 6)
      .collect().map(r => r.getLong(1)).toSet
    assert(l6 === Set(1L))  // fully converged
  }

  test("graph loops: reliable-checkpoint mode returns identical results") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (4L, 1L), (11L, 10L)).toDF("src", "dst")
    def run() = (
      Graph.minLabelPropagation(edges, "src", "dst", rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      Graph.pageRank(edges, "src", "dst", iterations = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    val (localCc, localPr) = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      val (relCc, relPr) = run()
      assert(relCc === localCc)
      assert(relPr === localPr)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty) // back to local mode
  }

  test("dedupCorpus keeps one representative per near-dup cluster and all singletons") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),       // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta"),  // near dup of 1/2
      (9L, "the quick brown fox jumps over dogs")   // unrelated singleton
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text", maxDist = 3, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(9L))          // untouched singleton survives
    assert(kept.contains(1L))          // minimum id is the representative
    assert(!kept.contains(2L))         // exact dup dropped
    // 3 may or may not pair with {1,2} depending on sketch distance;
    // whatever happens must be consistent: kept iff its label is itself
    assert(kept.size == 2 || kept.size == 3)
  }

  test("grouped numeric profile matches a hand-computed group") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 10.0), ("c", 1.4), ("c", 1.6)).toDF("k", "v")
    val out = graft.engine.Profiler.groupedNumericProfile(df, "k", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getLong(1) === 4L)                        // n
    assert(math.abs(a.getDouble(2) - 2.5) < 1e-9)      // mean
    assert(math.abs(a.getDouble(3) - math.sqrt(1.25)) < 1e-6) // pop std
    assert(a.getDouble(8) === 2.5)                     // median
    assert(a.getDouble(9) === 1.75)                    // q1 (np.percentile interp)
    assert(a.getDouble(10) === 3.25)                   // q3
    assert(out("b").getLong(1) === 1L)
    // fractional values must NOT be truncated by the exact-sum path
    val c = out("c")
    assert(math.abs(c.getDouble(2) - 1.5) < 1e-9)   // mean of 1.4, 1.6
    assert(math.abs(c.getDouble(3) - 0.1) < 1e-6)   // pop std
  }

  test("grouped profile hot-group path: 90%-skewed group matches buffered path, values never buffer") {
    import org.apache.spark.sql.functions._
    // 90% of rows in one group; deterministic integer values so both
    // interpolation paths agree bit-for-bit
    val rows = (1 to 9000).map(i => ("dominant", (i * 7919 % 10000).toDouble)) ++
      (1 to 500).map(i => ("small_a", i.toDouble)) ++
      (1 to 500).map(i => ("small_b", (i * 3).toDouble))
    val df = spark.createDataFrame(rows).toDF("k", "v")
    val buffered = graft.engine.Profiler.groupedNumericProfile(df, "k", "v")
    val hot = graft.engine.Profiler.groupedNumericProfile(df, "k", "v",
      hotGroupRowBound = 1000L)
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(m(hot) === m(buffered))
    // the dominant group's values are masked out of the percentile
    // aggregate (no single-task buffering): its quantiles arrive as
    // literal CASE arms, visible in the plan; and the percentile input
    // is the isin-guarded CASE, not the raw value column
    val plan = hot.queryExecution.executedPlan.toString
    assert(plan.contains("dominant"),
      s"hot-group literal CASE missing from plan:\n$plan")
    // the percentile aggregate's input must be the null-masked CASE,
    // not the raw value column (Catalyst renders the single-key isin
    // as `(k = dominant) <=> true`)
    assert(plan.contains("percentile(CASE WHEN"),
      s"percentile input should be masked for hot groups:\n$plan")
  }

  test("grouped profile hot-group path: dominant NULL group stays buffered, other groups unaffected") {
    import org.apache.spark.sql.functions._
    val rows = (1 to 2000).map(i => (null.asInstanceOf[String], i.toDouble)) ++
      (1 to 1500).map(i => ("hotkey", i.toDouble)) ++
      (1 to 100).map(i => ("small", (i * 2).toDouble))
    val df = spark.createDataFrame(rows).toDF("k", "v")
    val buffered = graft.engine.Profiler.groupedNumericProfile(df, "k", "v")
    val hot = graft.engine.Profiler.groupedNumericProfile(df, "k", "v",
      hotGroupRowBound = 500L) // null (2000) and hotkey (1500) both exceed
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => Option(r.get(0)) -> r.toSeq.tail).toMap
    // null group must neither crash the hot path nor lose its quantiles;
    // small groups must not be nulled by three-valued isin logic
    assert(m(hot) === m(buffered))
    assert(m(hot).keySet === Set(None, Some("hotkey"), Some("small")))
  }

  test("pageRank: symmetric regular graph converges to uniform ranks") {
    import spark.implicits._
    // 4-cycle, symmetrized: every node has degree 2 — PageRank is
    // exactly uniform 1/4 at every iteration
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("s", "t")
    val sym = e.unionByName(e.select(col("t").as("s"), col("s").as("t")))
    val got = Graph.pageRank(sym, "s", "t", iterations = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set("a", "b", "c", "d"))
    got.values.foreach(v => assert(math.abs(v - 0.25) < 1e-9))
  }

  test("pageRank: star graph matches the hand-iterated recurrence") {
    import spark.implicits._
    // hub h ↔ leaves l1..l3 (symmetric). N=4, d=0.85.
    // pr⁰ = 1/4 each; hub deg 3, leaf deg 1.
    // pr¹(h) = 0.15/4 + 0.85·(3·(1/4)/1) = 0.675
    // pr¹(l) = 0.15/4 + 0.85·((1/4)/3)  = 0.10833…
    // pr²(h) = 0.15/4 + 0.85·(3·0.108333…) = 0.3137499…
    // pr²(l) = 0.15/4 + 0.85·(0.675/3)     = 0.22875
    val e = Seq(("h", "l1"), ("h", "l2"), ("h", "l3")).toDF("s", "t")
    val sym = e.unionByName(e.select(col("t").as("s"), col("s").as("t")))
    val got = Graph.pageRank(sym, "s", "t", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val prL1 = 0.15 / 4 + 0.85 * (0.25 / 3)
    assert(math.abs(got("h") - (0.15 / 4 + 0.85 * 3 * prL1)) < 1e-6)
    assert(math.abs(got("l2") - (0.15 / 4 + 0.85 * (0.675 / 3))) < 1e-6)
    // symmetric graph: no dangling leak — total mass stays 1
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  test("pageRank: duplicate input edges do not double-count") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "b"), ("b", "a")).toDF("s", "t")
    val got = Graph.pageRank(e, "s", "t", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // after dedup this is the symmetric 2-node graph → uniform 1/2
    got.values.foreach(v => assert(math.abs(v - 0.5) < 1e-9))
  }

  test("pageRank: broadcast and shuffle routes are bit-identical") {
    import spark.implicits._
    // irregular directed graph with dangling mass, hub skew and an
    // isolated 2-cycle — ranks must match to the BIT across routes
    // (the per-round sums are order-free fixed-point longs, so join
    // strategy cannot change any value)
    val rnd = new scala.util.Random(83)
    val edges = (Seq.tabulate(400)(i => (s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}")) ++
      Seq(("x1", "x2"), ("x2", "x1"), ("hub", "n1"), ("n1", "hub")))
      .toDF("s", "t")
    val bcast = Graph.pageRank(edges, "s", "t", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val shuffle = Graph.pageRank(edges, "s", "t", iterations = 3,
        broadcastNodes = 0L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bcast === shuffle)
  }
}
