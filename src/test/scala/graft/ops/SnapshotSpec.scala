package graft.ops

import graft.SparkSpec

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val old = Seq(
    (1L, "a", 10.0),   // unchanged
    (2L, "b", 20.0),   // changed (value)
    (3L, "c", 30.0),   // removed
    (4L, null.asInstanceOf[String], 40.0), // null→non-null = changed
    (5L, "e", 50.0)    // unchanged
  ).toDF("k", "s", "v")

  private val neu = Seq(
    (1L, "a", 10.0),
    (2L, "b", 21.0),
    (4L, "d", 40.0),
    (5L, "e", 50.0),
    (6L, "f", 60.0)    // added
  ).toDF("k", "s", "v")

  test("diff classifies added / removed / changed and drops unchanged") {
    val got = Snapshot.diff(old, neu, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "changed", 3L -> "removed",
      4L -> "changed", 6L -> "added"))
  }

  test("null keys are excluded from both sides") {
    val o = Seq((Some(1L), "a"), (None, "x")).toDF("k", "s")
    val n = Seq((Some(1L), "a"), (None, "y")).toDF("k", "s")
    assert(Snapshot.diff(o, n, Seq("k")).count() === 0L)
  }

  test("composite keys and NULL vs empty-string values are distinguished") {
    val o = Seq((1L, 1L, Some("")), (1L, 2L, Some("z"))).toDF("k1", "k2", "s")
    val n = Seq((1L, 1L, None: Option[String]), (1L, 2L, Some("z"))).toDF("k1", "k2", "s")
    val got = Snapshot.diff(o, n, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got === Map((1L, 1L) -> "changed"))
  }

  test("identical snapshots produce an empty diff") {
    assert(Snapshot.diff(old, old, Seq("k")).count() === 0L)
  }

  test("mismatched non-key columns are rejected") {
    val bad = Seq((1L, "a")).toDF("k", "other")
    intercept[IllegalArgumentException] {
      Snapshot.diff(old, bad, Seq("k"))
    }
  }

  test("applyChangeLog: latest change wins, deletes drop, inserts appear, untouched survive") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a1", 10L, "upsert"),  // superseded...
      (1L, "a2", 20L, "upsert"),  // ...by this (higher seq)
      (2L, "xx", 11L, "delete"),  // key 2 removed
      (9L, "new", 12L, "upsert"), // brand-new key
      (4L, "gone", 13L, "delete") // delete of an absent key — no-op
    ).toDF("k", "v", "seq", "op")
    val got = Snapshot.applyChangeLog(base, changes, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a2", 3L -> "c", 9L -> "new"))
  }

  test("applyChangeLog: delete then re-insert resolves by sequence, not op") {
    val base = Seq((1L, "a")).toDF("k", "v")
    val changes = Seq(
      (1L, "x", 1L, "delete"),
      (1L, "back", 2L, "upsert")).toDF("k", "v", "seq", "op")
    val got = Snapshot.applyChangeLog(base, changes, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "back"))
  }

  test("scd2 chains versions per key with an open current interval") {
    val ch = Seq(
      (1L, 10L, "v1"), (1L, 20L, "v2"), (1L, 30L, "v3"),
      (2L, 15L, "only")).toDF("k", "seq", "v")
    val got = Snapshot.scd2(ch, "k", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5))).toSet
    assert(got === Set(
      (1L, 10L, Some(20L), false),
      (1L, 20L, Some(30L), false),
      (1L, 30L, None, true),
      (2L, 15L, None, true)))
  }

  test("asOf reconstructs per-key state at a timestamp with deterministic tie-break") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val log = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "created", 10.0),
      (1L, ts("2024-01-02 10:00:00"), 2L, "updated", 20.0),
      (1L, ts("2024-01-05 10:00:00"), 3L, "deleted", 0.0),   // after the cut
      (2L, ts("2024-01-03 09:00:00"), 4L, "created", 5.0),
      (2L, ts("2024-01-03 09:00:00"), 5L, "updated", 7.0),   // ts tie -> seq wins
      (3L, ts("2024-01-08 00:00:00"), 6L, "created", 1.0))   // entirely after
      .toDF("k", "ts", "seq", "kind", "v")
    val got = Snapshot.asOf(log, "k", "ts", "seq", Seq("kind", "v"),
        org.apache.spark.sql.functions.lit("2024-01-04 00:00:00").cast("timestamp"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3), r.getDouble(4)))).toMap
    assert(got === Map(
      1L -> ((2L, "updated", 20.0)),
      2L -> ((5L, "updated", 7.0))))   // key 3 has no state yet
  }
}
