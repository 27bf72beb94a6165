package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI parity test: config YAML + CSV in, filtered/tagged CSV
  * out, through the same surface the reference exposes
  * (`apply_gbif_filter.py CONFIG INPUT OUTPUT [-t]`).
  */
class GbifFilterAppSpec extends AnyFunSuite with SparkTestBase {

  // pid-scoped so a concurrent test JVM (a second sbt test, a driver
  // sweep) can never clobber this suite's fixtures mid-read — a fixed
  // /tmp/graft_app_* path raced exactly that way (r13 session log)
  private val base =
    s"${System.getProperty("java.io.tmpdir")}/graft_app_${ProcessHandle.current().pid()}"

  private def tmp(name: String): String = {
    new java.io.File(base).mkdirs()
    s"$base/$name"
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    super.afterAll()
  }

  test("tag-mode run over CSV + parquet dimensions reproduces tri-state output") {
    // ensure a live session with the right master before app main reuses it
    spark.sparkContext

    val backbonePath = tmp("backbone")
    val occPath = tmp("occ")
    GbifFixtures.backbone(spark).write.mode("overwrite").parquet(backbonePath)
    GbifFixtures.occurrence(spark).write.mode("overwrite").parquet(occPath)

    val inputPath = tmp("input.csv")
    Files.writeString(Paths.get(inputPath),
      """id;name;taxid;rank
        |r1;Lumbricus;NA;GENUS
        |r2;Helodrilus longus;NA;NA
        |r4;Nonexistent;NA;NA
        |r5;NA;GBIF:3;NA
        |""".stripMargin)

    val configPath = tmp("config.yml")
    Files.writeString(Paths.get(configPath),
      s"""sep : ";"
         |name_column : "name"
         |taxid_column : "taxid"
         |rank_column : "rank"
         |taxa_kingdom : "Animalia"
         |country : "NO"
         |geometry : "${GbifFixtures.SquareWkt}"
         |resolve_to_rank : "SPECIES"
         |habitat : "TERRESTRIAL"
         |""".stripMargin)

    val outPath = tmp("out")
    GbifFilterApp.main(Array(configPath, inputPath, outPath,
      "--backbone", backbonePath, "--occurrence", occPath,
      "--tag", "--single-file"))

    val out = graft.sources.Sources.readTaxaCsv(spark, outPath, ";")
    assert(out.columns.toSeq == Seq("id", "name", "taxid", "rank",
      "gbif_filter_tag", "gbif_filter_resolved_species_names",
      "gbif_filter_resolved_species_ids"))
    val rows = out.collect().map(r => r.getString(0) ->
      Option(r.getString(out.columns.indexOf("gbif_filter_tag")))).toMap
    assert(rows("r1").contains("true"))
    assert(rows("r2").contains("true"))
    assert(rows("r4").isEmpty, "unresolved -> NA tag")
    assert(rows("r5").contains("false"))

    // resolved species lists serialize pandas-style
    val r1names = out.collect().find(_.getString(0) == "r1").get
      .getString(out.columns.indexOf("gbif_filter_resolved_species_names"))
    assert(r1names == "['Lumbricus terrestris']")
  }

  test("filter mode drops null/false rows") {
    val outPath = tmp("out_filter")
    GbifFilterApp.main(Array(tmp("config.yml"), tmp("input.csv"), outPath,
      "--backbone", tmp("backbone"), "--occurrence", tmp("occ"), "--single-file"))
    val out = graft.sources.Sources.readTaxaCsv(spark, outPath, ";")
    assert(out.collect().map(_.getString(0)).sorted.toSeq == Seq("r1", "r2"))
    assert(!out.columns.contains("gbif_filter_tag"))
  }

  test("arg validation") {
    assertThrows[IllegalArgumentException](GbifFilterApp.parseArgs(Array("a", "b")))
    assertThrows[IllegalArgumentException](
      GbifFilterApp.parseArgs(Array("a", "b", "c"))) // missing dims
    // a path flag as the last argument is a usage error, not an index error
    val noBackbone = intercept[IllegalArgumentException](GbifFilterApp.parseArgs(
      Array("a", "b", "c", "--occurrence", "o", "--backbone")))
    assert(noBackbone.getMessage.contains("--backbone needs a parquet path"))
    val noOccurrence = intercept[IllegalArgumentException](GbifFilterApp.parseArgs(
      Array("a", "b", "c", "--backbone", "b", "--occurrence")))
    assert(noOccurrence.getMessage.contains("--occurrence needs a parquet path"))
  }

  test("a run leaves no cached relation in the caller's session") {
    spark.catalog.clearCache()
    GbifFilterApp.main(Array(tmp("config.yml"), tmp("input.csv"), tmp("out_cache"),
      "--backbone", tmp("backbone"), "--occurrence", tmp("occ"), "--single-file"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a run leaves the caller's session config as it found it") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      GbifFilterApp.main(Array(tmp("config.yml"), tmp("input.csv"), tmp("out_conf"),
        "--backbone", tmp("backbone"), "--occurrence", tmp("occ"), "--single-file"))
      assert(spark.conf.get(key) == "7")
    } finally spark.conf.set(key, before)
  }
}
