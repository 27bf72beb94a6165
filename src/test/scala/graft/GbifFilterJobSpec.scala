package graft

import graft.config.FilterConfig
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end tests (SURVEY.md §5.2.1): re-creates the reference's
  * tag-mode and filter-mode scenarios against local fixtures.
  */
class GbifFilterJobSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = FilterConfig(
    nameColumn = Some("name"),
    taxidColumn = Some("taxid"),
    rankColumn = Some("rank"),
    taxaKingdom = Some("Animalia"),
    geometry = Some(GbifFixtures.SquareWkt),
    country = Some("NO"),
    resolveToRank = Some("SPECIES"),
    habitat = Some("TERRESTRIAL"))

  private def tagMap(rows: Seq[Row], tagIdx: Int): Map[String, Any] =
    rows.map(r => r.getString(0) -> (if (r.isNullAt(tagIdx)) null else r.getBoolean(tagIdx))).toMap

  test("tag mode: tri-state tag + resolved lists, reference column order") {
    val out = GbifFilterJob.run(
      GbifFixtures.taxa(spark), GbifFixtures.backbone(spark),
      GbifFixtures.occurrence(spark), cfg, tagMode = true)

    // T1/T2 ordering: input cols, tag, then resolved names/ids
    assert(out.columns.toSeq == Seq("id", "name", "taxid", "rank",
      "gbif_filter_tag", "gbif_filter_resolved_species_names",
      "gbif_filter_resolved_species_ids"))

    val rows = out.collect().toSeq
    assert(rows.size == 7, "tag mode preserves row count")

    val tags = tagMap(rows, 4)
    assert(tags == Map(
      "r1" -> true,  // genus in zone
      "r2" -> true,  // synonym chased to 5, in zone
      "r3" -> true,  // homonym resolved by kingdom=Animalia -> 7, in zone
      "r4" -> null,  // unmatched name -> tri-state null
      "r5" -> false, // taxid passthrough 3, out of zone
      "r6" -> null,  // no name, no taxid
      "r7" -> false  // family 10 has no occurrence rows
    ))

    // J3/J4/A1: genus Lumbricus (1) resolves to terrestrial accepted
    // children in zone: only L. terrestris (2). MARINE (3) excluded by
    // habitat, SYNONYM (4) excluded by status.
    val r1 = rows.find(_.getString(0) == "r1").get
    assert(r1.getSeq[String](5) == Seq("Lumbricus terrestris"))
    assert(r1.getSeq[Long](6) == Seq(2L))

    // r2 resolved to SPECIES rank -> not FAMILY/GENUS -> no lists
    val r2 = rows.find(_.getString(0) == "r2").get
    assert(r2.isNullAt(5) && r2.isNullAt(6))
  }

  test("filter mode: only tag==true rows survive (F1 null-safe)") {
    val out = GbifFilterJob.run(
      GbifFixtures.taxa(spark), GbifFixtures.backbone(spark),
      GbifFixtures.occurrence(spark), cfg, tagMode = false)
    assert(out.columns.toSeq == Seq("id", "name", "taxid", "rank",
      "gbif_filter_resolved_species_names", "gbif_filter_resolved_species_ids"))
    assert(out.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("r1", "r2", "r3"))
  }

  test("ambiguous homonym without kingdom constraint resolves to null") {
    val noKingdom = cfg.copy(taxaKingdom = None)
    val out = GbifFilterJob.run(
      GbifFixtures.taxa(spark), GbifFixtures.backbone(spark),
      GbifFixtures.occurrence(spark), noKingdom, tagMode = true)
    val r3 = out.collect().find(_.getString(0) == "r3").get
    assert(r3.isNullAt(4), "ambiguous match must yield tri-state null")
  }

  test("boundary occurrence counts as in zone (boundary-inclusive G1)") {
    val genusOnly = cfg.copy(resolveToRank = None, country = None)
    val input = {
      import spark.implicits._
      Seq(("b1", "Aporrectodea", null, "GENUS"))
        .asInstanceOf[Seq[(String, String, String, String)]]
        .toDF("id", "name", "taxid", "rank")
    }
    val out = GbifFilterJob.run(input, GbifFixtures.backbone(spark),
      GbifFixtures.occurrence(spark), genusOnly, tagMode = true)
    val row = out.collect().head
    assert(row.getBoolean(out.columns.indexOf("gbif_filter_tag")),
      "occurrence at polygon vertex (0,0) must count as inside")
  }

  test("one run scans the occurrence table once, caches nothing, counts duplicate candidates") {
    // parquet-backed occurrence, so its scan is a FileSourceScanExec; the
    // other fixtures are local relations
    val occPath = s"${System.getProperty("java.io.tmpdir")}/graft_job_occ_${ProcessHandle.current().pid()}"
    GbifFixtures.occurrence(spark).write.mode("overwrite").parquet(occPath)
    try {
      // a second, identical "Lumbricus terrestris" row: J1 counts candidate
      // rows, so the name is ambiguous; as a child of Lumbricus it is listed once
      val bb = GbifFixtures.backbone(spark)
      val input = {
        import spark.implicits._
        GbifFixtures.taxa(spark).union(Seq(("r8", "Lumbricus terrestris", null, null))
          .asInstanceOf[Seq[(String, String, String, String)]].toDF("id", "name", "taxid", "rank"))
      }
      val out = GbifFilterJob.run(input, bb.union(bb.filter(col("key") === 2L)),
        spark.read.parquet(occPath), cfg, tagMode = true)
      val rows = out.collect().toSeq
      val tags = tagMap(rows, 4)
      assert(tags("r8") == null, "two identical candidate rows must leave the name unresolved")
      assert(tags("r1") == true && tags("r2") == true && tags("r7") == false)
      val r1 = rows.find(_.getString(0) == "r1").get
      assert(r1.getSeq[String](5) == Seq("Lumbricus terrestris") && r1.getSeq[Long](6) == Seq(2L))

      val plan = out.queryExecution.executedPlan // the final adaptive plan
      val helper = new AdaptiveSparkPlanHelper {}
      val scans = helper.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      assert(scans.size == 1, s"the occurrence scan must execute once:\n$plan")
      assert(helper.collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.nonEmpty,
        s"the second in-zone key use must be a ReusedExchange:\n$plan")
      assert(helper.collectWithSubqueries(plan) { case m: InMemoryTableScanExec => m }.isEmpty &&
        out.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }.isEmpty,
        s"a product run must not read a cached relation:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(occPath))
  }
}
