package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Gram, Vectors}
import graft.pipeline.Pca

/** Streaming second-moment maintenance — the online half of
  * [[graft.pipeline.Pca]], companion to [[StreamingKMeansSink]].
  *
  * The augmented Gram matrix is PERFECTLY incremental: it is a sum of
  * per-row outer products in exact integer arithmetic, so folding
  * micro-batches element-wise yields BIT-FOR-BIT the matrix a batch
  * pass over the union would produce — no decay, no approximation, no
  * order sensitivity. Each micro-batch reduces to one bounded
  * (dim+1)(dim+2)/2-long buffer ([[graft.functions.GramAggExpr]] —
  * vectors never shuffle, partials combine map-side) which the driver
  * adds into the persisted state; the principal component is then
  * recomputable at ANY point with the same integer power iteration the
  * batch path uses — the live embedding-drift monitor.
  *
  * State is ~2 145 longs + a batch id, written atomically as
  * `state-<batchId>` (tmp + move, newest wins, older states compacted
  * away) through [[SegmentLog.writeState]], shared with
  * [[StreamingKMeansSink]].
  * Idempotence: a batchId at or below the newest applied id is a NOOP,
  * so foreachBatch replays are safe.
  *
  * SCALE: driver state and per-batch shuffle are both O(dim²),
  * independent of corpus size; the batch scan is one aggregate.
  */
object GramSink {

  final case class State(applied: Long, dim: Int, tri: IndexedSeq[Long])

  /** Newest persisted state under `root`, if any. */
  def loadState(root: String): Option[State] =
    SegmentLog.readState(root).map(lines => State(lines.head.toLong,
      lines(1).toInt, lines(2).split(',').map(_.toLong).toIndexedSeq))

  private def write(root: String, s: State): Unit =
    SegmentLog.writeState(root, s.applied, Seq(s.applied.toString,
      s.dim.toString, s.tri.mkString(",")).mkString("\n"))

  /** Fold one micro-batch's augmented Gram into the state. Returns true
    * if applied, false for a replayed/old batchId (NOOP). */
  def mergeBatch(
      batch: DataFrame, root: String, batchId: Long,
      dim: Int = Pca.Dim, embCol: String = "embedding"): Boolean = {
    val prev = loadState(root)
    if (prev.exists(_.applied >= batchId)) return false
    prev.foreach(st => require(st.dim == dim,
      s"GramSink state at $root has dim ${st.dim}, batch claims $dim"))
    val aug = concat(Vectors.quantizeCol(col(embCol)), array(lit(1L)))
    val add = batch.agg(Gram.agg(aug, dim + 1))
      .head().getSeq[Long](0)
    val tri = prev match {
      case Some(st) => st.tri.zip(add).map { case (a, b) => a + b }
      case None => add.toIndexedSeq
    }
    write(root, State(batchId, dim, tri.toIndexedSeq))
    true
  }

  /** The live model: (n, per-dim sums, raw Gram) — same shape as
    * [[Pca.moments]], recoverable at any point in the stream. */
  def moments(root: String): Option[(Long, Array[Long], Array[Array[Long]])] =
    loadState(root).map { st =>
      val m = Gram.unpack(st.tri.toArray, st.dim + 1)
      val n = m(st.dim)(st.dim)
      val s = Array.tabulate(st.dim)(i => m(i)(st.dim))
      (n, s, Array.tabulate(st.dim, st.dim)((i, j) => m(i)(j)))
    }

  /** Principal component of everything streamed so far — identical to
    * the batch [[Pca.fit]] over the union of all applied batches. */
  def component(root: String): Option[(Array[Long], Array[Long])] =
    moments(root).map { case (n, s, g) =>
      val (v, _, _) = Pca.powerIteration(Pca.centered(n, s, g))
      (v, Pca.means(n, s))
    }

  /** foreachBatch adapter:
    * `writeStream.foreachBatch(GramSink.sink(root))`. */
  def sink(root: String, dim: Int = Pca.Dim,
      embCol: String = "embedding"): (DataFrame, Long) => Unit =
    (batch, id) => { mergeBatch(batch, root, id, dim, embCol); () }
}
