package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot comparison — the "what changed between dataset version N
  * and N+1" primitive every periodically-refreshed corpus needs
  * (incremental re-training, cache invalidation, audit trails). The
  * reference regenerates its synthetic table wholesale each run
  * (`Latanova_v1.py:630-671`); at 100 TB a refresh must instead be
  * DIFFED so downstream stages reprocess only the delta.
  *
  * Scale shape: each side is first reduced to (key, fingerprint) —
  * one narrow projection, so the join shuffles key + 8 bytes per row
  * instead of the full row width — then a single full outer join on
  * the key classifies every row as added / removed / changed /
  * unchanged. No driver-side state; cost is two scans + one
  * key-partitioned shuffle regardless of column count.
  */
object Snapshot {

  /** TIME TRAVEL: reconstruct per-key state as of `asOf` from an
    * append-only changelog — the lakehouse "AS OF" read expressed as
    * ONE keyed aggregation: filter to changes at or before the
    * timestamp, then `max_by` the payload struct on (ts, seq). The
    * map-side combine keeps one candidate row per (partition, key), so
    * the shuffle carries |keys| rows no matter how deep the history —
    * unlike the per-key window form, which ships every historical
    * change to the key's task. `seqCol` breaks ts ties
    * deterministically (changelogs batch at the same timestamp).
    * Output: key + ts + seq + payloadCols of the winning change. */
  def asOf(changelog: org.apache.spark.sql.DataFrame, keyCol: String,
           tsCol: String, seqCol: String, payloadCols: Seq[String],
           asOf: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val clash = payloadCols.toSet.intersect(Set(keyCol, tsCol, seqCol))
    require(clash.isEmpty,
      s"payloadCols ${clash.mkString(", ")} collide with the key/ts/seq columns — " +
        "the carried struct would have duplicate fields")
    require(tsCol != seqCol && keyCol != tsCol && keyCol != seqCol,
      s"key/ts/seq columns must be distinct, got ($keyCol, $tsCol, $seqCol)")
    val carried = tsCol +: seqCol +: payloadCols
    changelog
      .filter(col(tsCol) <= asOf && col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(max_by(struct(carried.map(col): _*),
        struct(col(tsCol), col(seqCol))).as("__s"))
      .select(col(keyCol) +: carried.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Row-level delta between `oldDf` and `newDf`, keyed by `keyCols`.
    *
    * Output: the key columns plus `change` ∈
    * {'added','removed','changed'} (unchanged rows are dropped — at
    * scale they are the overwhelming majority and emitting them would
    * make the delta as large as the snapshot). Both inputs must have
    * the same non-key columns; rows with a null key are excluded (a
    * keyed diff is undefined without a key). Value comparison is
    * null-safe: a column going NULL→non-NULL (or back) counts as a
    * change, via a 64-bit fingerprint over all non-key columns
    * (internal to one Spark job, so engine-portability of the hash is
    * not required; the CLASSIFICATION is what an oracle replays).
    */
  def diff(oldDf: DataFrame, newDf: DataFrame,
           keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val valueCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    require(valueCols == newDf.columns.filterNot(keyCols.contains).toSeq,
      "snapshots must share the same non-key columns in the same order")
    val notNullKey = keyCols.map(col(_).isNotNull).reduce(_ && _)
    // xxhash64 hashes NULL to the seed, which would collide a NULL with
    // the absence of data; prefix each value with an is-null marker so
    // (NULL) and ('') fingerprint differently.
    def fp(df: DataFrame) = df.filter(notNullKey).select(
      keyCols.map(col) :+
        xxhash64(valueCols.flatMap(c =>
          Seq(col(c).isNull.cast("int"), col(c).cast("string"))): _*).as("__fp"): _*)
    val o = fp(oldDf).withColumnRenamed("__fp", "__fp_old")
    val n = fp(newDf).withColumnRenamed("__fp", "__fp_new")
    o.join(n, keyCols, "full_outer")
      .withColumn("change",
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") =!= col("__fp_new"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** CDC MERGE: apply a changelog to a base snapshot, latest change
    * per key wins (the compaction every incremental table format runs;
    * `MERGE INTO` semantics with upsert + delete). `changes` must
    * carry the base's columns plus `seqCol` (a PER-KEY-UNIQUE version
    * number — the argmax is undefined on duplicated sequence values)
    * and `opCol` (`deleteOp` ⇒ drop the key; anything else ⇒ upsert).
    *
    * Shape: ONE key shuffle compacts the changelog to its latest row
    * per key (max_by aggregation — map-side partials, no window, no
    * sort), then a left-anti join removes superseded/deleted base rows
    * and the surviving upserts union back in. With a small changelog
    * against a huge base — the steady-state CDC regime — AQE
    * broadcasts the compacted changelog and the base never shuffles;
    * both big ⇒ key-partitioned SMJ. Either way nothing exceeds
    * O(|changes|) state per task. Null-key changes are dropped. */
  def applyChangeLog(base: DataFrame, changes: DataFrame, keyCol: String,
                     seqCol: String, opCol: String,
                     deleteOp: String = "delete"): DataFrame = {
    val payload = base.columns.toSeq
    require(payload.contains(keyCol), s"base has no key column '$keyCol'")
    require(!payload.contains(seqCol) && !payload.contains(opCol),
      s"'$seqCol'/'$opCol' must not collide with base columns")
    val others = payload.filterNot(_ == keyCol)
    val latest = changes.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(max_by(struct((others.map(col) :+ col(opCol)): _*), col(seqCol))
        .as("__w"))
      .select(col(keyCol) +:
        others.map(c => col(s"__w.$c").as(c)) :+
        col(s"__w.$opCol").as("__op"): _*)
      .localCheckpoint() // feeds the anti-join AND the union arm
    base.join(latest.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(latest.filter(col("__op") =!= lit(deleteOp)).drop("__op")
        .select(payload.map(col): _*))
  }

  /** SCD-2 history from a changelog: every change row becomes a
    * version with `valid_from` = its sequence value, `valid_to` = the
    * key's next sequence value (NULL ⇒ current version, flagged
    * `is_current`). A per-key lead window — parallel across keys, a
    * key's version chain is the only per-task state (same bound as any
    * keyed windowed op). `seqCol` must be per-key-unique for a
    * deterministic chain. */
  def scd2(changes: DataFrame, keyCol: String, seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(seqCol))
    changes.filter(col(keyCol).isNotNull)
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
