package graft

/** Dev tool (test scope): print the plans of gated queries without
  * running them — the `.explain`-and-iterate loop the plan audits grew
  * out of. With no query names it covers every gated query.
  *
  *   sbt "Test/runMain graft.ExplainMain <sfDir> x_merge_purge x_dedup_winnow"
  *   sbt "Test/runMain graft.ExplainMain <sfDir> --formatted g1_point_in_polygon"
  *
  * The default output is the executed plan (first 4000 chars).
  * `--formatted` prints `explain("formatted")` instead — the operator tree
  * plus each node's details, which is where PushedFilters on scans,
  * broadcast joins on dimensions, WholeStageCodegen spans and exchange
  * reuse show.
  *
  * Special arg `ARRAY_WINDOWS`: sweep EVERY gated query and report each
  * logical Window whose child output carries an ArrayType column
  * (vector/code payload riding a rank shuffle — the r4 mistake). Some
  * hits are legitimate (the payload is needed right after the window and
  * moves exactly once either way, e.g. x_text_pack); the sweep exists so
  * new illegitimate ones get noticed — r11 it caught both recall audits
  * carrying the query vector through their Q·n ranking exchanges.
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ExplainMain <sfDir> [--formatted] [query ... | ARRAY_WINDOWS]")
    val sfDir = args.head
    val formatted = args.contains("--formatted")
    val names = args.tail.filterNot(_ == "--formatted").toSeq match {
      case Seq() => SparkEntry.queries.keys.toSeq.sorted
      case given => given
    }
    val spark = GraftSession.build("local[4]", 4, GraftSession.toolConf)
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- names) {
      if (q == "ARRAY_WINDOWS") sweepArrayWindows(spark, sfDir)
      else {
        println(s"===== $q =====")
        try {
          val df = SparkEntry.queries(q)(spark, sfDir)
          if (formatted) df.explain("formatted")
          else println(df.queryExecution.executedPlan.toString.take(4000))
        } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }

  private def sweepArrayWindows(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LW}
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.optimizedPlan
        plan.collect { case w: LW =>
          val arrs = w.child.output.filter(
            _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          if (arrs.nonEmpty)
            println(s"ARRAYWIN $name: ${arrs.map(_.name).mkString(",")}")
        }
      } catch { case e: Throwable =>
        println(s"ARRAYWIN_ERR $name: ${e.getMessage}")
      }
      Persisted.unpersistAll()
      spark.catalog.clearCache()
    }
    println("ARRAYWIN_DONE")
  }
}
