package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF: single-pass bounded top-k by score within a group —
  * the reference fold of the native `topk_sketch` aggregate
  * ([[TopKSketch]]), which the specs pin equal to it. The library's
  * re-ranks ([[graft.operators.Similarity.bruteForceTopK]] and the ANN
  * paths) run `topk_sketch`, not this.
  *
  * `groupBy(key).agg(TopKAgg(k).toColumn)` keeps only k (score, id)
  * pairs per partition and merges k-sized buffers — O(k) state, one
  * shuffle of k-row buffers per group, where a
  * `row_number().over(Window.partitionBy(key).orderBy(score))` + filter
  * must shuffle and SORT every candidate row.
  *
  * Ordering: score DESC, id ASC tiebreak — identical to the window
  * formulation.
  */
final case class ScoredId(id: Long, score: Double)

class TopKAgg(k: Int) extends Aggregator[ScoredId, List[ScoredId], Seq[ScoredId]] {

  private def better(a: ScoredId, b: ScoredId): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  /** Buffer invariant: sorted WORST-first, ≤ k elements — the head is
    * the current cutoff, so a full buffer rejects a non-qualifying row
    * in O(1) with zero allocation (the common case once the sketch
    * stabilizes; at k=101 over 600k rows the old always-walk insert
    * dominated the whole query's runtime).
    */
  private def insert(buf: List[ScoredId], x: ScoredId): List[ScoredId] =
    if (buf.lengthCompare(k) >= 0 && !better(x, buf.head)) buf
    else {
      // elements x beats stay in front (they are worse)
      val (front, back) = buf.span(e => better(x, e))
      val merged = front ::: x :: back
      if (merged.lengthCompare(k) > 0) merged.tail else merged // drop the worst (head)
    }

  override def zero: List[ScoredId] = Nil
  /** NaN scores are skipped, mirroring [[TopKSketch]]: under `better`
    * a NaN both never qualifies and never loses, so an under-full
    * buffer would retain it while a full one never evicts it —
    * rejection up front is the only ordering-consistent treatment.
    * -0.0 normalizes to 0.0 for the same reason (one canonical zero
    * under both primitive == and Double.compare orderings).
    */
  override def reduce(buf: List[ScoredId], x: ScoredId): List[ScoredId] =
    if (x.score.isNaN) buf
    else if (x.score == 0.0d) insert(buf, ScoredId(x.id, 0.0d))
    else insert(buf, x)
  override def merge(a: List[ScoredId], b: List[ScoredId]): List[ScoredId] =
    b.foldLeft(a)(insert)
  /** Output best-first (the buffer is worst-first). */
  override def finish(buf: List[ScoredId]): Seq[ScoredId] = buf.reverse
  override def bufferEncoder: Encoder[List[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
