package graft

/** [[Verify]] under ADVERSARIAL session configs: the same dump on the
  * same session posture, with the semicolon-separated `k=v` pairs in
  * `SPARK_GRAFT_CONF` passed to the session builder (so static SQL and
  * core keys are accepted too) — the driver's `graft.Verify` stays
  * untouched (its session posture IS the contract). Used for
  * robustness sweeps that re-run all oracles under postures the driver
  * never uses:
  *
  *  - `spark.sql.codegen.wholeStage=false;spark.sql.codegen.factoryMode=NO_CODEGEN`
  *    forces every custom Catalyst expression (PointInPolygonExpr,
  *    DotProductExpr, WinnowExpr, SimHashExpr, CharEntropyExpr,
  *    KnScoreExpr, RollingHashExpr, ShingleGenerator, SkipgramGenerator,
  *    Int8DotExpr) through its INTERPRETED `eval()` instead of
  *    `doGenCode` — a hash mismatch here is an eval/codegen divergence
  *    no oracle can catch under the default posture.
  *  - `spark.sql.adaptive.enabled=false` re-plans the whole board
  *    without AQE.
  *
  * Usage: SPARK_GRAFT_CONF='k=v;k=v' sbt "Test/runMain graft.VerifyUnder <sfDir> <outDir>"
  *        (then tools/check_oracle.py <sfDir> <outDir>)
  *
  * `SPARK_GRAFT_ONLY` narrows the set exactly as for Verify. Exits 1 if
  * any query failed.
  */
object VerifyUnder {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val conf = sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';').filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        println(s"[verify-under] $k=$v")
        k -> v
      }.toMap
    val spark = GraftSession.local(sfDir, conf)
    val failed = Verify.dump(spark, sfDir, outDir)
    println(s"[verify-under] done, $failed failures")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
