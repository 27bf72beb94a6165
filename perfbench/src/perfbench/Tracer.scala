package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval of the traced run. Counters from the listeners
  * accumulate into every span open at the time, so a parent's counters
  * include its children's.
  */
final class Span(val id: Int, val name: String, val parent: Option[Span], val startNs: Long) {
  var endNs: Long = 0L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "jobs" -> 0.0, "tasks" -> 0.0, "shuffle_bytes" -> 0.0, "spill_bytes" -> 0.0,
    "gc_ms" -> 0.0, "executor_cpu_s" -> 0.0)
  val queries = mutable.ArrayBuffer.empty[PlanSummary]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = synchronized { counters(k) = counters(k) + v }
}

/** SQL metrics of one executed query, read from its physical plan. */
final case class PlanSummary(
    func: String,
    durationNs: Long,
    planNs: Long,
    top3: Seq[Map[String, Any]],
    outputRows: Option[Long],
    scanRows: Long,
    lineageJoinRows: Option[Long],
    ngramJoinRows: Option[Long])

object PlanSummary {
  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  private def timeMs(p: SparkPlan): Double = p.metrics.values.map { m =>
    m.metricType match {
      case "timing" => m.value.toDouble
      case "nsTiming" => m.value / 1e6
      case _ => 0.0
    }
  }.sum

  /** Physical nodes of an executed plan, looking through adaptive
    * wrappers and query stages; cached relations and reused exchanges
    * are leaves (their work was counted where it ran).
    */
  private def walk(p: SparkPlan, ancestors: List[SparkPlan],
      f: (SparkPlan, List[SparkPlan]) => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, ancestors, f)
    case s: QueryStageExec => f(s, ancestors); walk(s.plan, s :: ancestors, f)
    case r: ReusedExchangeExec => f(r, ancestors)
    case c: InMemoryTableScanExec => f(c, ancestors)
    case other =>
      f(other, ancestors)
      (other.children ++ other.subqueries).foreach(walk(_, other :: ancestors, f))
  }

  def of(func: String, qe: QueryExecution, durationNs: Long): PlanSummary = {
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    var scan = 0L
    // None when the plan has no such join, so a plan change that hides it
    // is reported instead of read as 0 candidates
    var lineage = Option.empty[Long]
    var ngram = Option.empty[Long]
    def plus(acc: Option[Long], j: SparkPlan): Option[Long] = Some(acc.getOrElse(0L) + rows(j).getOrElse(0L))
    walk(qe.executedPlan, Nil, (p, ancestors) => {
      nodes += p
      p match {
        case f: FileSourceScanExec => scan += rows(f).getOrElse(0L)
        // the join fed by an explode is the lineage (ancestor-array) join
        // of children resolution
        case _: GenerateExec =>
          ancestors.collectFirst { case j: BaseJoinExec => j }
            .foreach(j => lineage = plus(lineage, j))
        // the shingle equi-join of a set-similarity join: candidate rows
        // that survived the join condition (length filter), pre-verification
        case j: BaseJoinExec if j.leftKeys.size == 1 &&
            j.leftKeys.head.references.map(_.name).toSet == Set("ngram") =>
          ngram = plus(ngram, j)
        case _ =>
      }
    })
    val ops = nodes.filterNot(n => n.isInstanceOf[WholeStageCodegenExec] ||
      n.isInstanceOf[InputAdapter] || n.isInstanceOf[QueryStageExec])
    val top3 = ops.map(n => n -> timeMs(n)).filter(_._2 > 0).sortBy(-_._2).take(3).map {
      case (n, ms) => Map[String, Any]("op" -> n.nodeName, "time_ms" -> ms,
        "rows" -> rows(n).getOrElse(-1L))
    }.toSeq
    // the result's row count: the top-most node that counts rows
    val out = nodes.find(n => n.metrics.contains("numOutputRows")).flatMap(rows)
    val planMs = Seq("optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    PlanSummary(func, durationNs, planMs * 1000000L, top3, out, scan, lineage, ngram)
  }
}

/** Spans plus engine counters, taken from outside the program: a
  * SparkListener for jobs, tasks, shuffle, spill, GC and executor CPU,
  * and a QueryExecutionListener for each query's SQL metrics. Both are
  * registered on the benchmark's own session.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val originNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Span] = Nil
  @volatile var failures: List[String] = Nil

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Runs `body` inside a new span; the span ends when `body` returns and
    * is closed only after every listener event of its work arrived.
    */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(spans.size, name, stack.headOption, System.nanoTime())
    spans += s
    stack = s :: stack
    try {
      val r = body
      s.endNs = System.nanoTime()
      (r, s)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      PerfbenchBus.drain(spark.sparkContext)
      stack = stack.tail
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = stack.foreach(_.add("jobs", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stack.foreach { s =>
      s.add("tasks", 1)
      s.add("shuffle_bytes",
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      s.add("spill_bytes", m.diskBytesSpilled)
      s.add("gc_ms", m.jvmGCTime)
      s.add("executor_cpu_s", m.executorCpuTime / 1e9)
    }
  }

  /** A query counts in every open span, like the listener counters. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (stack.nonEmpty) {
      val p = PlanSummary.of(funcName, qe, durationNs)
      stack.foreach(s => s.synchronized { s.queries += p })
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    failures = s"$funcName: $exception" :: failures

  /** Spans with parent links, seconds relative to the tracer's start;
    * query summaries are listed on the innermost span that ran them.
    */
  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val leaf = !spans.exists(_.parent.contains(s))
    Map[String, Any](
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id).getOrElse(-1),
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9,
      "counters" -> s.counters.toMap, "extra" -> s.extra.toMap,
      "queries" -> (if (leaf) s.queries.toSeq else Nil).map(q => Map[String, Any](
        "func" -> q.func, "duration_s" -> q.durationNs / 1e9, "plan_s" -> q.planNs / 1e9,
        "output_rows" -> q.outputRows.getOrElse(-1L), "top3" -> q.top3)))
  }
}
