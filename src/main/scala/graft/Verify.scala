package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * Oracle.sql as oracle_sql.json, for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q55,q56 restricts the dump (dev loop; unset
    // dumps everything).
    val only = Session.only
    def selected(name: String): Boolean = Session.selects(only, name)
    val failures = SparkEntry.queries.filter(kv => selected(kv._1)).toSeq
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = Oracle.sql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance stamp (r16 verdict #3): the effective state-store
    // provider (and friends) ride WITH the correctness dump, so a
    // "15/15 streaming rows green under rocksdb" claim is carried by
    // the artifact itself, not by prose around it. The driver ignores
    // extra files; our own receipts (PLANS.md, committed rocksdb
    // sweeps) quote this file.
    Files.writeString(Paths.get(s"$outDir/verify_env.json"),
      s"""{"ts":"${java.time.Instant.now()}","sha":"${Session.sha}",""" +
        s""""sf":${q(sfDir)},""" +
        s""""state_store":"${graft.streaming.StateStores.tag}",""" +
        s""""stream_sink":"driver",""" +
        s""""simd":${graft.text.SimdSupport.available}}""")
    // failure manifest: one {"q", "error"} per query that threw, `[]`
    // on a clean run — a missing output dir is then explained by data,
    // not only by stderr
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (n, e) => s"""{"q":${q(n)},"error":${q(e)}}""" }
        .mkString("[", ",", "]"))
    spark.stop()
  }
}
