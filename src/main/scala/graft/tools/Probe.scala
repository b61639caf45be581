package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{Bench, Session, SparkEntry}
import graft.streaming.{MicroBatchHarness, StateStores}
import graft.streaming.MicroBatchHarness.Feed

/** Ad-hoc local probe (not part of the driver contract).
  *
  * Usage: `graft.tools.Probe <sfDir> <mode>...`, modes:
  *  - `time:<query>` — 3 samples of Bench's per-query step
  *  - `plan:<query>` — the formatted physical plan
  *  - `parts` — scan-partition count per table
  *  - `stream-state:<nKeys>` — streaming dedup over nKeys keys under
  *    the current GRAFT_STATE_STORE provider
  *  - `make-sf1` / `make-sf10` — write a 10x / 100x tree from sfDir
  *  - `entry` — the flagship detect→profile pipeline
  *  - `<query>` — 2 timed `count()` runs
  * Timings are appended to PROBE_LOG.jsonl. */
object Probe {

  // growing-corpus generators for the scale trees: each copy-set is
  // fully token-disjoint (per-set alphabet+digit rotation over
  // LOWERCASED text — a prefix alone leaves copies ~95%
  // Jaccard-similar), so the corpus GROWS with new content instead of
  // stacking near-dups; embeddings rotate indices (an isometry:
  // within-set pairwise cosines preserved, directions generic vs other
  // sets). The id offset 1000000L keys the copy-set.
  private val rotL = "abcdefghijklmnopqrstuvwxyz"
  private val rotD = "0123456789"
  private def rotatedDocs(docs: DataFrame, mult: Int): DataFrame =
    (0 until mult).map { m =>
      val sh = rotL.drop(m % rotL.length) + rotL.take(m % rotL.length) +
        rotD.drop(m % rotD.length) + rotD.take(m % rotD.length)
      docs
        .withColumn("doc_id", col("doc_id") + lit(m * 1000000L))
        .withColumn("text", translate(lower(col("text")), rotL + rotD, sh))
    }.reduce(_ unionByName _)

  private def rotatedEmb(emb: DataFrame, dim: Int, mult: Int): DataFrame =
    (0 until mult).map { m =>
      val r = m % dim
      val rot =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      emb.withColumn("vec_id", col("vec_id") + lit(m * 1000000L))
        .withColumn("embedding", rot)
    }.reduce(_ unionByName _)

  /** Append one probe measurement to PROBE_LOG.jsonl (cwd, committed
    * alongside BENCH_LOG.jsonl): a scale claim without a logged row
    * does not exist. A failed write is reported on stderr; a read-only
    * cwd does not fail the probe itself. Fields: ts, sha (Session.sha, the bench pooling
    * key), probe (the subcommand), sf (the dir the sample ran
    * against), q, run, sec + free-form extras. */
  private def probeLog(probe: String, sf: String, q: String, run: Int,
                       sec: Double, extra: (String, String)*): Unit = try {
    val extras = extra.map { case (k, v) => s""","$k":$v""" }.mkString
    java.nio.file.Files.write(java.nio.file.Paths.get("PROBE_LOG.jsonl"),
      (f"""{"ts":"${java.time.Instant.now()}","sha":"${Session.sha}",""" +
        f""""probe":"$probe","sf":"$sf","q":"$q","run":$run,""" +
        f""""sec":$sec%.3f$extras}""" + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit
  } catch {
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[probe] could not append to PROBE_LOG.jsonl: $e")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus)
    val qs = SparkEntry.queries
    args.drop(1).foreach {
      case n if n.startsWith("time:") =>
        val q = n.stripPrefix("time:")
        time(spark, sfDir, q, qs(q))
      case n if n.startsWith("plan:") =>
        val q = n.stripPrefix("plan:")
        println(s"===== PLAN $q =====")
        println(qs(q)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case "parts" =>
        Seq("documents", "embeddings", "events", "orders", "lineitem",
          "customer").foreach { t =>
          val df = spark.read.parquet(s"$sfDir/$t.parquet")
          println(s"PARTS $t partitions=${df.rdd.getNumPartitions}")
        }
      case n if n.startsWith("stream-state:") =>
        streamState(spark, sfDir, n.stripPrefix("stream-state:").toInt)
      case "make-sf1" => makeSf1(spark, sfDir)
      case "make-sf10" => makeSf10(spark, sfDir)
      case "entry" =>
        val rows = SparkEntry.entry(spark).collect()
        println(s"PROBE entry: ${rows.length} rows")
        rows.foreach(r => println(s"  $r"))
      case n if qs.contains(n) =>
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          val cnt = qs(n)(spark, sfDir).count()
          println(f"PROBE $n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($cnt rows)")
        }
      case n => System.err.println(s"[probe] unknown mode or query: $n")
    }
    spark.stop()
  }

  /** Bench's exact per-query step, 3 samples, for isolating in-suite
    * walls. */
  private def time(spark: SparkSession, sfDir: String, q: String,
                   fn: Bench.Query): Unit =
    (1 to 3).foreach { i =>
      val dt = Bench.runIsolated(spark, sfDir, fn).fold(e => throw e, identity)
      probeLog("time", sfDir, q, i, dt)
      println(f"TIME $q run$i: $dt%.2f s")
    }

  /** State-at-scale A/B — where does RocksDB's disk-bounded state store
    * beat the in-heap HDFS map? A streaming dedup whose state grows
    * with the CORPUS (one fingerprint per key ever admitted), not with
    * the batch: a micro-batched dropDuplicates over nKeys distinct
    * long keys (4 batches, 20% of each batch re-probing the previous
    * batch's keys so state is read, not only written) under the
    * CURRENT provider — run it once per GRAFT_STATE_STORE value and
    * diff the walls. */
  private def streamState(spark: SparkSession, sfDir: String, nKeys: Int): Unit = {
    import spark.implicits._
    val nBatches = 4
    val per = nKeys / nBatches
    val batches = (0 until nBatches).map { b =>
      val fresh = (0 until per).map(i => Tuple1(b.toLong * per + i))
      val reprobe = if (b == 0) Seq.empty[Tuple1[Long]]
        else (0 until per / 5).map(i => Tuple1((b - 1).toLong * per + i))
      fresh ++ reprobe
    }
    val store = StateStores.tag
    val t0 = System.nanoTime()
    val out = MicroBatchHarness.run(spark, Seq(Feed(Seq("id"), batches)),
        s"graft-state-ab-$store-$nKeys", Seq("n"), OutputMode.Update()) {
      case Seq(stream) =>
        stream.dropDuplicates("id").groupBy().agg(count(lit(1)).as("n"))
    }
    val finalN = out.collect().map(_.getLong(0)).max
    val dt = (System.nanoTime() - t0) / 1e9
    probeLog("stream-state", sfDir, s"dedup$nKeys", 1, dt,
      "state_store" -> s""""$store"""", "n_keys" -> nKeys.toString,
      "final_distinct" -> finalN.toString)
    println(f"STREAM-STATE store=$store keys=$nKeys wall=$dt%.2f s " +
      s"final_distinct=$finalN")
  }

  /** A 10x tree of every table, written to SPARK_GRAFT_SF1_DIR (default
    * /tmp/graft_sf1). documents/embeddings grow CONTENT-disjoint (the
    * rotation generators). Key shifts are CONSISTENT across tables
    * (the same m*1e8 offset on every surrogate key), so fact-dim joins
    * match within a copy-set and join/graph/distinct volume genuinely
    * grows 10x instead of stacking duplicate keys. Timestamps stay
    * unchanged — calendar-bounded frames (resample/retention spines)
    * keep their size and the data becomes 10x DENSER per bucket, which
    * is the realistic scale-up. events.value gets a per-copy epsilon so
    * |distinct| — the KS/histogram cost driver — grows with the data.
    * region/nation are fixed-size dims by definition. */
  private def makeSf1(spark: SparkSession, sfDir: String): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    rotatedDocs(docs, 10).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    rotatedEmb(emb, 64, 10).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    def shifted(t: String, keys: Seq[String], eps: Option[String] = None)
        : Unit = {
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      (0 until 10).map { m =>
        val off = m * 100000000L
        val k = keys.foldLeft(base)((d, c) => d.withColumn(c, col(c) + off))
        eps.fold(k)(c => k.withColumn(c, col(c) + lit(m * 1.7e-4)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    shifted("orders", Seq("o_orderkey", "o_custkey"))
    shifted("customer", Seq("c_custkey"))
    shifted("supplier", Seq("s_suppkey"))
    shifted("part", Seq("p_partkey"))
    shifted("events", Seq("event_id", "user_id"), eps = Some("value"))
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"MAKE-SF1 wrote $out: " +
      Seq("documents", "embeddings", "lineitem", "orders", "customer",
        "supplier", "part", "events", "region", "nation").map { t =>
        s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}"
      }.mkString(" "))
  }

  /** A 100x tree of the heavy tables only (documents, embeddings,
    * lineitem — all the sf10 query set reads), written to
    * SPARK_GRAFT_SF10_DIR (default /tmp/graft_sf10). Same generators as
    * make-sf1: content rotations cycle at 26 (letters) / 64 (dims), so
    * a 100x corpus carries genuine exact-duplicate families (~4
    * identical copies per doc) — the realistic shape of a crawl at
    * that scale. lineitem shifts every key by m·1e8 per copy. */
  private def makeSf10(spark: SparkSession, sfDir: String): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft_sf10")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    rotatedDocs(docs, 100).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    rotatedEmb(emb, 64, 100).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    (0 until 100).map { m =>
      val off = m * 100000000L
      Seq("l_orderkey", "l_partkey", "l_suppkey")
        .foldLeft(li)((d, c) => d.withColumn(c, col(c) + off))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    println(s"MAKE-SF10 wrote $out: " +
      Seq("documents", "embeddings", "lineitem").map { t =>
        s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}"
      }.mkString(" "))
  }
}
