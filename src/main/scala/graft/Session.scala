package graft

import org.apache.spark.sql.SparkSession

/** The one local-session setup and provenance stamp shared by Bench,
  * Verify, Probe and the test suites. */
object Session {

  /** Local cores from SPARK_GRAFT_CPUS (default 4). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Builds (or returns the running) local session on `cpus` cores.
    * `conf` pairs are applied after the shared settings, so a caller
    * can add keys or override one. */
  def local(cpus: String, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Spark 4 reads it only
      // as long (SparkEntry converts back to micros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // streaming checkpoint logs (offset/commit WAL, state-store
      // metadata) ride the FileContext API; its default local impl
      // shadows every write with a .crc file — measured ~30 ms per
      // walCommit/commitOffsets ON TMPFS. RawLocalFs drops the
      // checksum shadow for FileContext users ONLY (parquet and all
      // data IO use the FileSystem API, untouched); harness
      // checkpoints are deleted-after-run scratch, and production
      // points checkpoints at durable storage with its own integrity.
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      // streaming state store: default HDFS-backed map;
      // GRAFT_STATE_STORE=rocksdb switches the whole streaming family
      // to the disk-bounded RocksDB provider (see StateStores)
      .config("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.StateStores.providerClass)
      .config("spark.ui.enabled", "false")
    val s = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Code-version stamp: the git TREE hash of src/main/scala (not HEAD
    * — committing logs or docs must not orphan same-code samples),
    * suffixed `-dirty` when the working tree differs from it, since a
    * dirty tree runs code the hash does not describe. "unknown"
    * outside a git checkout. */
  lazy val sha: String = try {
    import scala.sys.process.Process
    val base = Process(
      Seq("git", "rev-parse", "--short", "HEAD:src/main/scala")).!!.trim
    val dirty = Process(
      Seq("git", "status", "--porcelain", "src/main/scala")).!!.trim.nonEmpty
    if (dirty) s"$base-dirty" else base
  } catch { case _: Throwable => "unknown" }
}
