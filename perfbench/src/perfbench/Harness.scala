package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one process, one client, closed loop.
  *
  * {{{
  * perfbench.Harness --workload NAME --data DIR --out DIR --seconds S
  *                   --trace 0|1 --spec perfbench/spec.json
  * }}}
  *
  * Sequence: set-up (session start + the program's one-time
  * preparation), one cold pass, untimed warm-up passes for `WarmupS`,
  * timed warm passes until S seconds have been spent in them, outputs
  * kept for the checker, then further set-ups in fresh sessions (see
  * `MinSetups`). With `--trace 1` untraced and traced warm passes
  * alternate, one layer-by-layer traced pass follows, and no further
  * set-ups run. Everything measured goes to `OUT/result.json`; the
  * caller checks outputs and prints the metrics.
  */
object Harness {

  /** Set-ups per run: at least `MinSetups`, and more while the fresh-session
    * ones have taken less than `SetupBudgetS` in total, so that a set-up
    * of a tenth of a second still gets a steady median. */
  val MinSetups = 5
  val MaxSetups = 40
  val SetupBudgetS = 3.0

  /** Untimed passes between the cold pass and the timed window (at least
    * one, none past this many seconds): they take the steep part of the
    * JIT's warm-up and the growth of the heap off the clock. */
  val WarmupS = 10.0

  final case class Op(name: String, ok: Boolean, error: String)

  /** Every operation attempted (set-up step, pass, gate), failed or not;
    * a failure is printed with its name and never ends the run silently.
    */
  final class Ops {
    val list: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty[Op]
    def apply[T](name: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      try {
        val r = body
        list += Op(name, ok = true, "")
        System.err.println(f"[perfbench] $name ok ${(System.nanoTime() - t0) / 1e9}%.3f s")
        Some(r)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name FAILED: $e")
        e.printStackTrace()
        list += Op(name, ok = false, e.toString.take(500))
        None
      }
    }
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = cpuBean.getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def newSession(out: String, width: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    graft.Persisted.unpersistAll()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Untimed between passes: release cached intermediates and settle the
    * heap, so one pass's garbage is not collected on the next one's clock.
    */
  def settle(spark: SparkSession): Unit = {
    graft.Persisted.unpersistAll()
    spark.catalog.clearCache()
    System.gc()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val out = Paths.get(a("out")).toAbsolutePath.toString
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    Files.createDirectories(Paths.get(out))

    val attempt = new Ops
    val spec = json.readValue(new java.io.File(a("spec")), classOf[Map[String, Any]])
    val workload: Workload = workloadName match {
      case "gbif_small_polygon" => new GbifWorkload(data, out)
      case "corpus_dedup" => new CorpusWorkload(data, out,
        spec("corpus_gates").asInstanceOf[Seq[Seq[String]]].map(g => g.head -> g(1)))
      case other => sys.error(s"unknown workload $other")
    }
    val width = graft.ops.Parallelism.derivedShufflePartitions(data,
      Runtime.getRuntime.availableProcessors())

    // set-up #1: session start plus the program's one-time preparation
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var spark = attempt("setup1.session")(newSession(out, width)).getOrElse(sys.exit(3))
    val prepared = workload.prepare(spark, data, attempt)
    setupSecs += (System.nanoTime() - t0) / 1e9
    settle(spark)

    // JIT compile time and GC time spent during each pass, for the record
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jitGcMs = mutable.ArrayBuffer.empty[Map[String, Any]]
    def timedPass(label: String, cold: Boolean = false): Option[(Double, Double)] = {
      val (j0, g0) = (jit.getTotalCompilationTime, gcMs())
      val r = workload.pass(spark, label, attempt, cold)
      jitGcMs += Map("pass" -> label, "jit_ms" -> (jit.getTotalCompilationTime - j0),
        "gc_ms" -> (gcMs() - g0))
      settle(spark)
      r
    }
    val cold = if (prepared) timedPass("cold", cold = true) else None

    /** Closed loop: each pass starts when the previous one has ended; at
      * least one pass, and no pass that would end past the budget. */
    def loop(budget: Double, atLeast: Int)(one: Int => Option[(Double, Double)]): Seq[(Double, Double)] = {
      val res = mutable.ArrayBuffer.empty[(Double, Double)]
      var failed = false
      while (prepared && !failed && (res.size < atLeast ||
          res.map(_._1).sum + median(res.map(_._1).toSeq) <= budget)) {
        one(res.size + 1) match {
          case Some(r) => res += r
          case None => failed = true
        }
      }
      res.toSeq
    }
    val warmup = loop(WarmupS, 1)(i => timedPass(s"warmup$i"))

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val record = mutable.LinkedHashMap.empty[String, Any]
    // traced mode alternates untraced and traced passes, so warm-up
    // drift does not bias tracing_overhead_frac
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val tracedSamples = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[(Double, Double)]
    loop(seconds, if (trace) 2 else 1) { i =>
      tracer.filter(_ => i % 2 == 0) match {
        case Some(tr) =>
          val r = tr.span("traced_pass")(timedPass(s"traced$i"))._1
          r.foreach(tracedSamples += _._1)
          r
        case None =>
          val r = timedPass(s"warm$i")
          r.foreach(untraced += _)
          r
      }
    }
    val warm = untraced.toSeq
    record("pass_samples") = warm.map(_._1)
    record("cpu_samples") = warm.map(_._2)
    record("warmup_samples") = warmup.map(_._1)
    record("jit_gc_ms_per_pass") = jitGcMs.toSeq
    record("cold_pass_s") = cold.map(_._1).getOrElse(-1.0)
    // what the product left on the shared session (GbifFilterApp.main
    // sets the shuffle width from SPARK_GRAFT_CPUS, else 32)
    record("master") = spark.sparkContext.master
    record("session_conf") = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.session.timeZone", "spark.sql.files.maxPartitionBytes")
      .map(k => k -> spark.conf.getOption(k).getOrElse(spark.sparkContext.getConf.get(k, "unset")))
      .toMap
    record("env_SPARK_GRAFT_CPUS") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset")

    tracer.foreach { tracer =>
      val traced = tracedSamples.toSeq
      val layers = attempt("trace.layers")(tracer.span("layers")(workload.traceLayers(spark, tracer))._1)
      tracer.close()
      layers.foreach(metrics ++= _)
      if (warm.nonEmpty && traced.nonEmpty)
        metrics("tracing_overhead_frac") = median(traced) / median(warm.map(_._1)) - 1.0
      record("traced_pass_samples") = traced
      if (tracer.failures.nonEmpty) record("query_failures") = tracer.failures
      Files.writeString(Paths.get(s"$out/spans.json"),
        json.writerWithDefaultPrettyPrinter().writeValueAsString(tracer.toJson))
    }

    if (prepared) attempt("check.materialize")(workload.materializeForCheck(spark))

    // further set-ups in fresh sessions; set-up time is the median of all
    var k = 1
    while (!trace && setupSecs.size == k &&
        (k < MinSetups || (k < MaxSetups && setupSecs.tail.sum < SetupBudgetS))) {
      k += 1
      stopSession(spark)
      val alias = Paths.get(out, s"setup$k")
      if (!Files.exists(alias)) Files.createSymbolicLink(alias, Paths.get(data))
      val t = System.nanoTime()
      attempt(s"setup$k.session")(newSession(out, width)).foreach { s =>
        spark = s
        workload.prepare(spark, alias.toString, attempt)
        setupSecs += (System.nanoTime() - t) / 1e9
      }
    }
    record("setup_samples") = setupSecs.toSeq

    metrics("cold_pass_s") = cold.map(_._1).getOrElse(Double.NaN)
    if (!trace) {
      metrics("setup_s") = median(setupSecs.toSeq)
      metrics("pass_s") = median(warm.map(_._1))
      metrics("cpu_s") = median(warm.map(_._2))
      metrics("peak_rss_mb") = peakRssMb()
    } else record("peak_rss_mb") = peakRssMb()

    record("nproc") = Runtime.getRuntime.availableProcessors()
    record("heap_max_mb") = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    record("spark_version") = spark.version
    record("java_version") = System.getProperty("java.version")
    record("shuffle_width_derived") = width
    stopSession(spark)

    val result = Map[String, Any](
      "workload" -> workloadName, "trace" -> trace,
      "metrics" -> metrics.toMap, "ops" -> attempt.list.toSeq.map(o =>
        Map("name" -> o.name, "ok" -> o.ok, "error" -> o.error)),
      "record" -> record.toMap)
    Files.writeString(Paths.get(s"$out/result.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(result))
  }
}
