package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Merge

/** CDC merge semantics on hand-built change streams (the cross-engine
  * check is the gated x_merge_* trio; these pin the corner cases small
  * data states exactly).
  */
class MergeSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // (key, version, tie, state, op)
  private lazy val stream = Seq(
    (1L, ts("2024-01-01 00:00:00"), 1L, "a", "up"),
    (1L, ts("2024-01-02 00:00:00"), 2L, "b", "up"),
    (2L, ts("2024-01-01 00:00:00"), 3L, "a", "up"),
    (2L, ts("2024-01-03 00:00:00"), 4L, "x", "del"), // delete wins: key 2 gone
    (3L, ts("2024-01-01 00:00:00"), 5L, "a", "del"),
    (3L, ts("2024-01-02 00:00:00"), 6L, "c", "up"),  // re-insert after delete
    (4L, ts("2024-01-01 00:00:00"), 7L, "a", "up"),
    (4L, ts("2024-01-01 00:00:00"), 8L, "b", "up")   // same version: tie decides
  ).toDF("k", "v", "t", "state", "op")

  test("compact keeps latest per key, applies deletes, breaks ties") {
    val got = Merge.compact(stream, "k", "v", "t", col("op") === "del")
      .select("k", "state").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "b", 3L -> "c", 4L -> "b"))
  }

  test("upsert applies a batch over a snapshot: update, insert, delete") {
    val snap = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a", "up"),
      (2L, ts("2024-01-01 00:00:00"), 2L, "b", "up")
    ).toDF("k", "v", "t", "state", "op")
    val batch = Seq(
      (1L, ts("2024-01-05 00:00:00"), 10L, "a2", "up"),  // update key 1
      (2L, ts("2024-01-05 00:00:00"), 11L, "x", "del"),  // delete key 2
      (9L, ts("2024-01-05 00:00:00"), 12L, "new", "up")  // insert key 9
    ).toDF("k", "v", "t", "state", "op")
    val got = Merge.upsert(snap, batch, "k", "v", "t",
        batchIsDelete = col("op") === "del")
      .select("k", "state").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a2", 9L -> "new"))
  }

  test("scd2 collapses unchanged states and closes intervals in order") {
    val hist = Merge.scd2(
      Seq(
        (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
        (1L, ts("2024-01-02 00:00:00"), 2L, "a"), // no change: collapsed
        (1L, ts("2024-01-03 00:00:00"), 3L, "b"),
        (1L, ts("2024-01-04 00:00:00"), 4L, "a")  // back to a: NEW interval
      ).toDF("k", "v", "t", "state"),
      "k", "v", "t", "state")
    val rows = hist.orderBy("valid_from")
      .select("state", "valid_from", "valid_to", "is_current")
      .collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a", "b", "a"))
    // each interval closes exactly where the next opens
    assert(rows.init.map(_.getTimestamp(2)).toSeq ===
      rows.tail.map(_.getTimestamp(1)).toSeq)
    assert(rows.map(_.getBoolean(3)).toSeq === Seq(false, false, true))
  }

  test("purge: anti-join removal matches the audit's counts per relation") {
    import spark.implicits._
    val a = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "v")
    val b = (50L to 200L).map(i => (i, i * 2.0)).toDF("rid", "x")
    val keys = Seq(7L, 14L, 21L, 50L, 150L, 999L).toDF("k") // 999 hits nothing
    val audit = graft.ops.Merge.purgeAudit(
      Seq(("a", a, "id"), ("b", b, "rid")), keys, "k")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(audit("a") == (100L, 4L, 96L), s"got ${audit("a")}") // 7,14,21,50
    assert(audit("b") == (151L, 2L, 149L), s"got ${audit("b")}") // 50,150
    // the actual purge removes exactly what the audit counted
    val purgedA = graft.ops.Merge.purgeKeys(a, "id", keys, "k")
    assert(purgedA.count() == 96L)
    assert(purgedA.filter(col("id").isin(7L, 14L, 21L, 50L)).isEmpty)
    assert(graft.ops.Merge.purgeKeys(b, "rid", keys, "k").count() == 149L)
  }

  test("snapshotDiff: statuses exact, identical rows drop, boundary shifts detected") {
    import spark.implicits._
    val older = Seq(
      (1L, "same", "x"), (2L, "will change", "x"), (3L, "removed", "x"),
      (4L, "ab", "c")                          // boundary case
    ).toDF("id", "a", "b")
    val newer = Seq(
      (1L, "same", "x"), (2L, "changed!", "x"), (5L, "fresh", "x"),
      (4L, "a", "bc")                          // same concat, shifted boundary
    ).toDF("id", "a", "b")
    val got = Merge.snapshotDiff(older, newer, "id", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 5L -> "added",
      4L -> "changed"),
      s"got $got — id 1 must drop out, id 4's boundary shift must register")
    // payload never rides the shuffle: exchanges carry the 32-byte hash
    val plan = Merge.snapshotDiff(older, newer, "id", Seq("a", "b"))
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(!exchanges.exists(l => l.contains("a#") && !l.contains("_graft_h")),
      s"hash columns only through the join:\n${exchanges.mkString("\n")}")
  }

  test("scd2 plans one exchange (filter between the windows is narrow)") {
    val ev = DerivedModel.events(spark, "/root/testdata/sf0.001")
    val plan = Merge.scd2(ev, "user_id", "ts", "event_id", "event_type")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"scd2 should shuffle once, planned:\n$plan")
  }
}
