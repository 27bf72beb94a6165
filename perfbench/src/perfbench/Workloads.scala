package perfbench

import graft.config.FilterConfig
import graft.geo.GeoFunctions
import graft.ops.{OccurrenceFilter, OutputShaper, RankResolver, TaxonomyResolver}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** A workload drives the program only through public entry points. */
trait Workload {
  /** The program's one-time preparation after session start (none for
    * the product). False when any step failed. */
  def prepare(spark: SparkSession, dir: String, ops: Harness.Ops): Boolean

  /** One timed pass: (wall seconds, process CPU seconds), None if it
    * failed. The cold pass also leaves the outputs the checker reads. */
  def pass(spark: SparkSession, label: String, ops: Harness.Ops, cold: Boolean): Option[(Double, Double)]

  /** Confirms the outputs for the checker are in place. */
  def materializeForCheck(spark: SparkSession): Unit

  /** One layer-by-layer traced pass; returns the per-layer metrics. */
  def traceLayers(spark: SparkSession, tr: Tracer): Map[String, Double]
}

object Workload {
  /** Build, plan and execute (noop sink) one call as three child spans. */
  def phases(tr: Tracer, name: String)(build: => DataFrame): (DataFrame, Span) =
    tr.span(name) {
      val (df, _) = tr.span("build")(build)
      tr.span("plan")(df.queryExecution.executedPlan)
      tr.span("exec")(Harness.noop(df))
      df
    }

  def child(tr: Tracer, s: Span, name: String): Double =
    tr.spans.filter(c => c.parent.contains(s) && c.name == name).map(_.seconds).sum

  /** `<layer>.build_s/plan_s/exec_s` plus the span's engine counters. */
  def layerMetrics(layer: String, build: Double, plan: Double, exec: Double,
      s: Span): Seq[(String, Double)] =
    Seq(s"$layer.build_s" -> build, s"$layer.plan_s" -> plan, s"$layer.exec_s" -> exec) ++
      s.counters.toSeq.map { case (k, v) => s"$layer.$k" -> v }

  def timed(ops: Harness.Ops, name: String)(body: => Unit): Option[(Double, Double)] = {
    val c0 = Harness.cpuNs()
    val t0 = System.nanoTime()
    ops(name)(body).map(_ => ((System.nanoTime() - t0) / 1e9, (Harness.cpuNs() - c0) / 1e9))
  }
}

/** The product: `GbifFilterApp.main` from CSV in to CSV out, in filter
  * mode (polygon zone, children resolution).
  */
final class GbifWorkload(data: String, out: String) extends Workload {
  import Workload._

  private val config = s"$data/config.yml"
  private val input = s"$data/input.csv"
  private val backbonePath = s"$data/backbone.parquet"
  private val occurrencePath = s"$data/occurrence.parquet"
  private val output = s"$out/product_output"

  def prepare(spark: SparkSession, dir: String, ops: Harness.Ops): Boolean = true

  def pass(spark: SparkSession, label: String, ops: Harness.Ops,
      cold: Boolean): Option[(Double, Double)] =
    timed(ops, s"pass.$label") {
      graft.GbifFilterApp.main(Array(config, input, output,
        "--backbone", backbonePath, "--occurrence", occurrencePath))
    }

  def materializeForCheck(spark: SparkSession): Unit =
    require(Files.isDirectory(Paths.get(output)), s"no product output at $output")

  def traceLayers(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val cfg = FilterConfig.fromYaml(new String(Files.readAllBytes(Paths.get(config)), "UTF-8"))
    val backbone = spark.read.parquet(backbonePath)
    val occurrence = spark.read.parquet(occurrencePath)
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      cached += p
      p
    }
    def layer(name: String, call: String)(build: => DataFrame): (DataFrame, Span) = {
      val (df, s) = phases(tr, name)(build)
      s.extra("call") = call
      m ++= layerMetrics(name, child(tr, s, "build"), child(tr, s, "plan"), child(tr, s, "exec"), s)
      (df, s)
    }

    val (in0, _) = layer("sources.read", "Sources.readTaxaCsv")(
      Sources.readTaxaCsv(spark, input, cfg.sep))
    val in = persisted(in0)
    val inputRows = in.count().toDouble
    m("sources.read.rows") = inputRows

    val (res0, resSpan) = layer("ops.TaxonomyResolver", "TaxonomyResolver.resolve")(
      TaxonomyResolver.resolve(in, backbone, cfg))
    val resolved = persisted(res0)
    val hasKey = Seq(
      cfg.nameColumn.map(c => coalesce(trim(col(c)) =!= lit(""), lit(false))),
      cfg.taxidColumn.map(c => col(c).isNotNull)).flatten.reduce(_ || _)
    m("ops.TaxonomyResolver.resolved_frac") =
      resolved.filter(col(TaxonomyResolver.TaxidCol).isNotNull).count() /
        math.max(1.0, in.filter(hasKey).count().toDouble)

    val (zone, _) = layer("geo", "occurrence.filter(GeoFunctions.zonePredicate)")(
      occurrence.filter(GeoFunctions.zonePredicate(col("decimalLatitude"),
        col("decimalLongitude"), col("countryCode"), cfg.geometry, cfg.country)))
    m("geo.zone_rows_frac") = zone.count().toDouble / math.max(1L, occurrence.count())

    val (tag0, tagSpan) = layer("ops.OccurrenceFilter", "OccurrenceFilter.tagExistsInZone")(
      OccurrenceFilter.tagExistsInZone(resolved, occurrence, cfg))
    val tagged = persisted(tag0)
    m("ops.OccurrenceFilter.occ_rows_per_input_row") =
      tagSpan.queries.map(_.scanRows).sum / math.max(1.0, inputRows)

    val (withChildren, rankSpan) =
      if (cfg.resolveToRank.isDefined) {
        val (wc, s) = layer("ops.RankResolver", "RankResolver.resolveChildren")(
          RankResolver.resolveChildren(tagged, backbone, occurrence, cfg))
        val withLists = persisted(wc)
        val ids = col(RankResolver.idsCol(cfg.resolveToRank.get))
        val kept = withLists.filter(ids.isNotNull)
          .select(col(TaxonomyResolver.TaxidCol), ids).distinct()
          .agg(coalesce(sum(size(ids)), lit(0L))).head().getLong(0)
        val joins = s.queries.flatMap(_.lineageJoinRows)
        require(joins.nonEmpty, "RankResolver.resolveChildren: no join above a Generate " +
          "(lineage explode) in its plan, so child_candidates cannot be measured")
        val cands = joins.sum
        m("ops.RankResolver.child_candidates") = cands.toDouble
        m("ops.RankResolver.children_kept_frac") = kept / math.max(1.0, cands.toDouble)
        (withLists, Some(s))
      } else (tagged, None)

    val (shaped0, shapeSpan) = layer("ops.OutputShaper", "OutputShaper.shape")(
      OutputShaper.shape(withChildren, in.columns.toSeq, cfg, tagMode = false))
    val shaped = persisted(shaped0)
    m("ops.OutputShaper.rows_out") = shaped.count().toDouble

    // an action, not a DataFrame: exec and plan come from the query
    // listener, build is the rest of the call (stringifying list columns)
    val traceOut = s"$out/trace_output"
    val (_, w) = tr.span("sources.write")(Sources.writeCsv(shaped, traceOut, cfg.sep))
    w.extra("call") = "Sources.writeCsv"
    val wExec = w.queries.map(_.durationNs).sum / 1e9
    val wPlan = w.queries.map(_.planNs).sum / 1e9
    m ++= layerMetrics("sources.write", math.max(0.0, w.seconds - wExec - wPlan), wPlan, wExec, w)
    def bytes(p: String): Long = Option(new java.io.File(p).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    m("sources.write.bytes_out_per_byte_in") =
      bytes(traceOut) / math.max(1.0, new java.io.File(input).length.toDouble)

    // the job as composed, from the persisted input only
    cached.filterNot(_ eq in).foreach(_.unpersist(true))
    val (_, job) = layer("GbifFilterJob", "GbifFilterJob.run")(
      graft.GbifFilterJob.run(in, backbone, occurrence, cfg, tagMode = false))
    graft.Persisted.unpersistAll()
    in.unpersist(true)
    val layerSum = (Seq(resSpan, tagSpan, shapeSpan) ++ rankSpan).map(_.seconds).sum
    m("GbifFilterJob.layer_sum_frac") = layerSum / math.max(1e-9, job.seconds)
    m.toMap
  }

}

/** The operator suite: the listed `SparkEntry.queries` gates in fixed
  * order, each materialised with a noop sink.
  */
final class CorpusWorkload(data: String, out: String, gates: Seq[(String, String)])
    extends Workload {
  import Workload._

  private val PrefixGates = Set("x_dedup_jaccard_prefix", "x_dedup_containment_prefix")

  /** First construction of each gate stages its fixtures. */
  def prepare(spark: SparkSession, dir: String, ops: Harness.Ops): Boolean = {
    val ok = gates.map { case (g, _) =>
      ops(s"prepare.$g")(graft.SparkEntry.queries(g)(spark, dir)).isDefined
    }
    graft.Persisted.unpersistAll()
    ok.forall(identity)
  }

  /** The cold pass writes each gate's result as parquet (the checker's
    * input, every column computed like the noop sink); warm passes use
    * the noop sink. */
  def pass(spark: SparkSession, label: String, ops: Harness.Ops,
      cold: Boolean): Option[(Double, Double)] = {
    val runs = gates.map { case (g, _) =>
      val r = timed(ops, s"pass.$label.$g") {
        val df = graft.SparkEntry.queries(g)(spark, data)
        if (cold) df.write.mode("overwrite").parquet(s"$out/check/$g") else Harness.noop(df)
      }
      Harness.settle(spark)
      r
    }
    if (runs.forall(_.isDefined)) Some((runs.flatten.map(_._1).sum, runs.flatten.map(_._2).sum))
    else None
  }

  def materializeForCheck(spark: SparkSession): Unit = {
    val oracle = gates.map { case (g, _) => g -> graft.SparkEntry.oracleSql(g) }.toMap
    Files.createDirectories(Paths.get(s"$out/check"))
    Files.writeString(Paths.get(s"$out/check/oracle_sql.json"),
      Harness.json.writeValueAsString(oracle))
  }

  def traceLayers(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    var candidates = 0L
    var verified = 0L
    gates.map(_._2).distinct.foreach { module =>
      val phaseSums = mutable.Map("build" -> 0.0, "plan" -> 0.0, "exec" -> 0.0)
      val (_, ms) = tr.span(module) {
        gates.filter(_._2 == module).foreach { case (g, _) =>
          val (_, s) = phases(tr, g)(graft.SparkEntry.queries(g)(spark, data))
          phaseSums.keys.toSeq.foreach(p => phaseSums(p) += child(tr, s, p))
          if (PrefixGates(g)) {
            val joins = s.queries.flatMap(_.ngramJoinRows)
            require(joins.nonEmpty, s"$g: no join keyed on `ngram` alone in its plan, " +
              "so ssjoin_candidates cannot be measured")
            candidates += joins.sum
            verified += tr.spans.filter(c => c.parent.contains(s) && c.name == "exec")
              .flatMap(_.queries).flatMap(_.outputRows).sum
          }
          Harness.settle(spark)
        }
      }
      m ++= layerMetrics(module, phaseSums("build"), phaseSums("plan"), phaseSums("exec"), ms)
    }
    m("dedup.ssjoin_candidates") = candidates.toDouble
    m("dedup.ssjoin_yield") = verified / math.max(1.0, candidates.toDouble)
    m.toMap
  }
}
