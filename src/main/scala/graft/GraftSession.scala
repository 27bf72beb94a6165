package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every entry point (Bench,
  * Verify, GbifFilterApp when it has no caller's session, and the
  * test-scope specs and dev mains) passes only the master and shuffle
  * width it needs; the rest of the posture is fixed here:
  *
  *  - UTC session time zone and `parquet.nanosAsLong` (the events table);
  *  - `canChangeCachedPlanOutputPartitioning=false`, which exposes cached
  *    plans' output partitioning to EnsureRequirements (tfidfKeyTerms'
  *    one-exchange plan depends on the cached repartition staying
  *    visible; see TUNING "Session");
  *  - the RocksDB state store for stateful streaming queries: the one
  *    store `transformWithState` supports, and the one a large deployment
  *    wants (state spills off-heap and snapshots to the checkpoint), so
  *    no operator has to switch the provider on a shared session;
  *  - the custom expressions through [[GraftExtensions]], the one
  *    registration path;
  *  - log level WARN.
  *
  * The tools and tests add [[toolConf]] (UI off, per-pid warehouse dir);
  * a deployed product run keeps the Spark UI and the default warehouse.
  *
  * `getOrCreate` applies runtime settings to a session that already
  * exists, so a library entry point that may run inside a caller's session
  * must use that session as it is instead of calling [[build]]
  * (GbifFilterApp does).
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Shuffle width for a run on `master` over `inputs`:
    * `SPARK_GRAFT_SHUFFLE_PARTS` (an override), else
    * [[graft.ops.Parallelism.widthForBytes]] over the inputs' total bytes —
    * derived from data volume, not from the core count (OPTIMIZATION_r17
    * "anti-scaling"). Inputs may be any Hadoop path or URI; they are sized
    * with the `spark.hadoop.*` settings the launcher passed. A local master
    * caps the width at 4 × [[cpus]]; a cluster's width is unknown before
    * its executors register, so there only the volume bounds it (AQE
    * coalesces what a query does not fill).
    */
  def derivedWidth(master: String, inputs: Seq[String]): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").flatMap(_.trim.toIntOption).getOrElse {
      val hadoopConf = new org.apache.hadoop.conf.Configuration()
      new org.apache.spark.SparkConf().getAllWithPrefix("spark.hadoop.")
        .foreach { case (k, v) => hadoopConf.set(k, v) }
      val isLocal = master == "local" || master.startsWith("local[")
      graft.ops.Parallelism.widthForBytes(
        graft.ops.Parallelism.inputBytes(inputs, hadoopConf),
        if (isLocal) 4 * math.max(cpus, 1) else Int.MaxValue)
    }

  /** UI off and a per-pid warehouse dir: bucketed-table gates
    * `saveAsTable`, and a table location persists across JVMs while the
    * in-memory catalog does not, so a shared path would collide. */
  def toolConf: Map[String, String] = Map(
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" ->
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse_${ProcessHandle.current().pid()}")

  /** `local[cpus]` at the volume-derived width of `sfDir`, with
    * [[toolConf]] and then `conf`: the posture of the bench and the
    * correctness dump. */
  def local(sfDir: String, conf: Map[String, String] = Map.empty): SparkSession = {
    val master = s"local[$cpus]"
    build(master, derivedWidth(master, Seq(sfDir)), toolConf ++ conf)
  }

  /** The posture above at `master` and `shufflePartitions`, then `conf`
    * (builder settings, so static and core keys are accepted). */
  def build(master: String, shufflePartitions: Int,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .withExtensions(new GraftExtensions)
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
