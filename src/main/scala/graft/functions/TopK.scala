package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** A scored candidate: the unit flowing into [[TopKAggregator]]. */
final case class ScoredId(id: Long, score: Double)

/** Exact per-group top-k as a typed `Aggregator` (UDAF).
  *
  * The window formulation (`row_number() over (partition by g order by
  * score)`) must shuffle EVERY candidate row to its group's reducer before
  * discarding all but k. An aggregator gets map-side partial aggregation:
  * each input partition keeps only its local top-k per group, so the
  * shuffle carries at most `partitions x groups x k` rows instead of the
  * full candidate set — the difference that matters when candidates are
  * an all-pairs or bucket-join blowup at scale.
  *
  * Ordering is total — (score desc, id asc) — so results are deterministic
  * under any partitioning and match the window formulation exactly.
  */
class TopKAggregator(k: Int)
    extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {

  private def best(xs: Seq[ScoredId]): Seq[ScoredId] =
    xs.sortBy(s => (-s.score, s.id)).take(k)

  override def zero: Seq[ScoredId] = Nil

  /** The buffer invariant is "sorted by (score desc, id asc), size <= k",
    * so a candidate that doesn't beat the current worst is rejected in
    * O(1) — the hot path for all-pairs inputs where almost every row
    * loses. Only genuine improvements pay the re-sort.
    */
  override def reduce(b: Seq[ScoredId], a: ScoredId): Seq[ScoredId] =
    if (b.size < k) best(b :+ a)
    else {
      val worst = b.last
      val beats = a.score > worst.score ||
        (a.score == worst.score && a.id < worst.id)
      if (beats) best(b :+ a) else b
    }

  override def merge(x: Seq[ScoredId], y: Seq[ScoredId]): Seq[ScoredId] = best(x ++ y)
  override def finish(r: Seq[ScoredId]): Seq[ScoredId] = r
  override def bufferEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
}

object TopKAggregator {
  /** Convenience: the aggregator as an untyped Column for relational use. */
  def column(k: Int): org.apache.spark.sql.TypedColumn[ScoredId, Seq[ScoredId]] =
    new TopKAggregator(k).toColumn
}
