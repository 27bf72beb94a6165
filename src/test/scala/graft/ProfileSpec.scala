package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Profile

/** Data-quality profiling semantics (the cross-engine check is the gated
  * x_quality_* pair).
  */
class ProfileSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some("a"), 10L),
    (2L, Some("b"), 20L),
    (3L, None, 20L),
    (4L, Some("a"), 30L)
  ).toDF("id", "cat", "v")

  test("profile counts nulls, distincts, and ranges per column") {
    val p = Profile.profile(df, Seq("id", "cat", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(1) === 4L)      // total
    assert(p("cat").getLong(2) === 3L)     // non_null sees the None
    assert(p("cat").getLong(3) === 2L)     // distinct ignores the null
    assert(p("v").getString(4) === "10")   // min as string
    assert(p("v").getString(5) === "30")   // max as string
  }

  test("violations reports only failed constraints") {
    val p = Profile.profile(df, Seq("id", "cat"))
    val v = Profile.violations(p, Seq(
      "complete" -> (col("non_null") === col("total")),     // cat fails
      "unique" -> (col("n_distinct") === col("non_null")),  // cat fails
      "nonempty" -> (col("total") > 0)))                    // all pass
    val got = v.as[(String, String)].collect().toSet
    assert(got === Set(("complete", "cat"), ("unique", "cat")))
  }

  test("observeAudit equals a direct aggregation, in one pass") {
    val audit = Profile.observeAudit(df, Seq(
      "rows" -> count(lit(1)),
      "small" -> count(when(col("v") < 25, 1)),
      "sum_v" -> sum(col("v"))))
      .as[(String, Long)].collect().toMap
    assert(audit === Map("rows" -> 4L, "small" -> 3L, "sum_v" -> 80L))
  }
}
