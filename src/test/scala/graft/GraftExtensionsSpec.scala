package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions route, the one registration path: every
  * session GraftSession builds (the shared test session among them)
  * carries `withExtensions(new GraftExtensions)`, so the custom
  * expressions must resolve from plain SQL text.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("custom functions usable from SQL via extensions") {
    val row = spark.sql(
      """SELECT point_in_polygon(0.5D, 0.5D, 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS inside,
        |       point_in_polygon(5.0D, 5.0D, 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS outside,
        |       graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |       graft_rolling_hash('abc') AS rh""".stripMargin).collect().head
    assert(row.getBoolean(0))
    assert(!row.getBoolean(1))
    assert(row.getDouble(2) == 11.0)
    assert(row.getLong(3) == graft.text.RollingHashExpr.hashBytes("abc".getBytes("UTF-8")))
  }

  test("graft_shingles generator usable from SQL via extensions") {
    val rows = spark.sql(
      "SELECT graft_shingles('a b c d a b c d', 3) AS ngram")
      .collect().map(_.getString(0)).toSeq
    // distinct shingles, insertion order: the repeated tail dedups
    assert(rows == Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("shingle generator is row-identical to the array+explode formulation") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    import org.apache.spark.sql.functions.col
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaGenerator = canon(docs.select(col("doc_id"),
      graft.text.ShingleGenerator.shingles(col("text"), 3).as("ngram")))
    val viaExplode = canon(
      graft.dedup.Dedup.shingles(docs, "doc_id", "text", 3)
        .select(col("_id"), col("ngram")))
    assert(viaGenerator == viaExplode)
    assert(viaGenerator.nonEmpty)
  }
}
