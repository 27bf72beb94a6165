package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local[SPARK_GRAFT_CPUS, else every core] at the volume-derived
    // shuffle width: `partitions = cpus` fragmented KB-scale shuffles 32
    // ways and made the suite faster at 8 cores than 32; volume-derived
    // width (5 at sf0.1) beat both (253 -> 221 s, OPTIMIZATION_r17
    // "anti-scaling")
    val spark = GraftSession.local(sfDir)
    // the bucket-offset cumsum windows (Chunking.packSequences,
    // Sampling.withGlobalPosition*/tokenBudgetSelect) run over
    // <= 16^prefixChars-row OFFSETS relations — single-partition BY
    // DESIGN, never the data (adjudicated benign, r10 verdict). Silence
    // that one warning so the bench tail stays signal. This cannot hide
    // a future corpus-sized single-partition window: PlanAuditSpec
    // sweeps EVERY gated query's plan for partitionless windows against
    // an explicit allowlist of exactly these offsets relations (r11
    // ADVICE), so the regression fails the suite before any bench runs
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // optional subset for local investigation: SPARK_GRAFT_ONLY=a,b
    val only = SparkEntry.onlyQueries
    // optional best-of-N mode (SPARK_GRAFT_BENCH_REPEAT=2): re-run each
    // query N times and report the MINIMUM — the box's in-suite variance
    // is up to ±1.4x run-over-run (261.8 vs 218.1 s for the same code,
    // r11), which drowns sub-1.5x per-query deltas; the min of 2 is the
    // cheapest variance bound. Default 1 keeps the driver's round clock
    // unchanged — flip it for local A/B investigations (NOTES rule:
    // only diff driver-run maps against driver-run maps).
    val repeat = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_REPEAT")
      .flatMap(_.toIntOption).getOrElse(1))
    // deterministic name order: Map iteration order is hash-order, which
    // reshuffles neighbors between code changes and makes round-over-round
    // per-query timings incomparable (a query's time includes its
    // predecessor's GC debt)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
    // untimed warmup: spin up executors/codegen and touch table footers so
    // the first timed query isn't charged for session initialization.
    // Exercise the agg/join/window codegen paths too — queries run in
    // sorted name order, so whichever query happens to sort first would
    // otherwise absorb the JIT warmup of the whole engine
    spark.range(1000000).selectExpr("sum(id)").collect()
    val wdf = spark.range(100000).selectExpr(
      "id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
    wdf.groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).collect()
    wdf.join(wdf.groupBy("k").count(), "k").count()
    wdf.withColumn("rn", org.apache.spark.sql.functions.row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
      .filter("rn = 1").count()
    Seq("lineitem", "part", "customer", "orders", "nation",
      "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      catch { case _: Throwable => }
    }
    // build the session-staged fixtures (dimension parquet, minhash pair
    // relations, finite stream sources) untimed: they are one-time
    // build-once-read-many artifacts, and charging them to each
    // dimension's alphabetically first consumer made per-query numbers
    // incomparable round-over-round (r8 verdict item 1). The cost is
    // still REPORTED (a "staging_sec" record) so staging drift stays
    // visible round-over-round. A failure is loud on stdout too: the
    // queries then stage on first use, so staging cost moves onto their
    // clocks, and the per-query numbers must say so.
    val stagingT0 = System.nanoTime()
    try SparkEntry.prepareStagedFixtures(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] fixture staging failed (queries will " +
        s"stage on first use): ${e}")
      println(s"""{"metric":"staging_failed","error":${Verify.jsonString(e.toString)}}""")
    }
    val stagingSec = (System.nanoTime() - stagingT0) / 1e9
    Persisted.unpersistAll()
    spark.catalog.clearCache()
    System.gc()
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // one short JSON line PER QUERY, printed as each query finishes: any
    // tail-capture window then holds complete records instead of clipping
    // a single ~3 kB line mid-timing (BENCH r3 and r4 both parsed: null).
    // Failures are loud: the exception goes to stderr and the query's
    // value is the string "err", never a plausible-looking number.
    val results = selected.map { case (name, fn) =>
      val runs = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] query $name FAILED: ${e}")
            e.printStackTrace()
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // operators may persist intermediates (e.g. shingle relations);
        // drop them so queries (and repeats) are timed independently
        Persisted.unpersistAll()
        spark.catalog.clearCache()
        // settle the heap between queries so one query's garbage isn't
        // collected on the next query's clock (isolated-vs-in-suite
        // timings differed up to 12x before this; the gc itself is
        // untimed)
        System.gc()
        (dt, ok)
      }
      // best-of-N: a query is ok only if every rep succeeded (a flaky
      // failure must stay loud, not be masked by one good rep)
      val ok = runs.forall(_._2)
      val dt = runs.map(_._1).min
      val v = if (ok) fmt(dt) else "\"err\""
      println(s"""{"query":"$name","sec":$v}""")
      (name, dt, ok)
    }
    val qs = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) fmt(v) else "\"err\"")
    }.mkString("{", ",", "}")
    val errs = results.count(!_._3)
    val failedNames = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // full map goes to a file (survives any stdout truncation); failed
    // query NAMES ride here too — the stdout line only carries the count
    // to stay under the tail-capture length budget
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"failed":$failedNames,"staging_sec":${fmt(stagingSec)},"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}") }
    // the per-query records printed above scroll out of the driver's
    // ~40-line tail capture (every BENCH_r*.json back through r13 ends
    // parsed:null with per_query empty — r16 verdict item 5/8). Re-emit
    // the COMPLETE map as compact (<200-char) chunk lines immediately
    // before the final total line so the tail window always holds the
    // whole map. Additions only: the streaming per-query lines and
    // bench_out.json above are unchanged.
    val chunkEntries = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) fmt(v) else "\"err\"")
    }
    val chunks = chunkEntries.foldLeft(Vector(Vector.empty[String])) {
      (acc, e) =>
        if (acc.last.map(_.length + 1).sum + e.length <= 150)
          acc.init :+ (acc.last :+ e)
        else acc :+ Vector(e)
    }.filter(_.nonEmpty)
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_chunk","i":$i,"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    // the observed tail capture is ~2000 BYTES (BENCH_r16.tail is exactly
    // 2000 chars), and the query names alone sum to ~3.8 kB — no named
    // map can ever fit. Emit the complete per-query seconds as ONE
    // values-only array in the bench's deterministic sorted-name order
    // (the same order the streaming lines print): zip with the sorted
    // query names to reconstruct the full map from the tail alone.
    val vals = results.map { case (_, v, ok) =>
      if (ok) String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      else "\"err\""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"queries_sorted_vals","n":${results.size},"v":$vals}""")
    // ...and the LAST stdout line is a short (<200 char) total-only record
    // so the driver's tail capture always contains one parseable JSON line
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
