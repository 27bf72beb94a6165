package graft

import graft.config.FilterConfig
import graft.sources.Sources
import org.apache.spark.sql.SparkSession

/** CLI-equivalent entry point — the Spark analog of
  * `python apply_gbif_filter.py CONFIG INPUT OUTPUT [-t/--tag]`
  * (`apply_gbif_filter.py:80-93`). A user of the reference switches by
  * pointing `--backbone`/`--occurrence` at local Parquet dimension tables
  * (the engine's replacement for the GBIF REST API — FIXTURES.md §3).
  *
  * Usage:
  * {{{
  * graft.GbifFilterApp CONFIG INPUT OUTPUT \
  *   --backbone PATH --occurrence PATH [-t|--tag] [--single-file]
  * }}}
  *
  * Run inside a caller's session (active or default), it uses that session
  * exactly as it finds it: no config is written and the session is not
  * stopped. Only with no session does it build one through [[GraftSession]]:
  * master `SPARK_MASTER`, else `local[cpus]`, and the shuffle width derived
  * from the backbone and occurrence volume (any Hadoop path or URI; see
  * [[GraftSession.derivedWidth]]). That session keeps the Spark UI.
  */
object GbifFilterApp {

  final case class Args(config: String, input: String, output: String,
      backbone: String, occurrence: String, tag: Boolean, singleFile: Boolean)

  def parseArgs(argv: Array[String]): Args = {
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var backbone: String = null
    var occurrence: String = null
    var tag = false
    var singleFile = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "-t" | "--tag" => tag = true
        case "--single-file" => singleFile = true
        case flag @ ("--backbone" | "--occurrence") =>
          require(i + 1 < argv.length, s"$flag needs a parquet path")
          if (flag == "--backbone") backbone = argv(i + 1) else occurrence = argv(i + 1)
          i += 1
        case p => positional += p
      }
      i += 1
    }
    require(positional.length == 3,
      "usage: GbifFilterApp CONFIG INPUT OUTPUT --backbone P --occurrence P [-t] [--single-file]")
    require(backbone != null && occurrence != null,
      "--backbone and --occurrence parquet paths are required")
    Args(positional(0), positional(1), positional(2), backbone, occurrence, tag, singleFile)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val callers = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = callers.getOrElse {
      val master = sys.env.getOrElse("SPARK_MASTER", s"local[${GraftSession.cpus}]")
      GraftSession.build(master,
        GraftSession.derivedWidth(master, Seq(args.backbone, args.occurrence)))
    }
    try {
      val cfg = FilterConfig.fromYaml(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(args.config)), "UTF-8"))
      val input = Sources.readTaxaCsv(spark, args.input, cfg.sep)
      val out = GbifFilterJob.run(input,
        spark.read.parquet(args.backbone),
        spark.read.parquet(args.occurrence),
        cfg, tagMode = args.tag)
      Sources.writeCsv(out, args.output, cfg.sep, singleFile = args.singleFile)
    } finally if (callers.isEmpty) spark.stop()
  }
}
