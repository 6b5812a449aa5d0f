package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.KMeans

/** Streaming (mini-batch) k-means — online maintenance of the coarse-
  * quantizer model the ANN/SemDeDup paths probe with, fed from the same
  * micro-batches that land vectors in the persisted index
  * ([[AnnIndexSink]]). The running-mean variant of Sculley's web-scale
  * k-means: each cluster keeps CUMULATIVE (component sums, count)
  * across all batches, and a centroid is the truncating integer mean of
  * everything ever assigned to it — equivalent to a per-point 1/n
  * learning rate, but batch-aggregated and exact-integer.
  *
  * Per micro-batch:
  *  1. assign batch vectors to the CURRENT centroids with the same
  *     literal-folded projection batch training uses
  *     ([[KMeans.assignExpr]] — no join, no driver per-row work);
  *  2. aggregate per-(cluster, dim) sums/counts (partial-agg'd;
  *     k x dim rows cross to the driver);
  *  3. fold into the cumulative state, recompute centroids, persist.
  *
  * State is k x dim sums + k counts + the k seed vectors — kilobytes,
  * written atomically as `state-<batchId>` (tmp + move) under `root`
  * through [[SegmentLog.writeState]], newest file wins on reload. Idempotence: a batchId at or below the
  * newest applied id is a NOOP (replay-safe); a crash between compute
  * and persist replays into the same deterministic state because
  * assignment depends only on the PREVIOUS state and the batch rows.
  *
  * Seeding: the first batch's k lowest-id vectors (deterministic);
  * clusters that have received no mass yet fall back to their seed.
  * The live model is [[model]] — hand it to
  * [[graft.pipeline.Similarity.ivfTopKTrained]] to probe, or to
  * [[AnnIndexSink.mergeBatchIvf]] as the cell assignment, keeping index
  * layout and quantizer in lockstep.
  *
  * SCALE: driver state and per-batch shuffle are both O(k x dim),
  * independent of corpus size; the batch scan is one codegen'd
  * projection. The model never rewrites history — re-run [[KMeans]]
  * batch training when cluster drift warrants a re-fit (then rebuild
  * the index, as any quantizer change requires).
  */
object StreamingKMeansSink {

  final case class State(
      applied: Long,
      seeds: IndexedSeq[IndexedSeq[Long]],
      sums: IndexedSeq[IndexedSeq[Long]],
      counts: IndexedSeq[Long]) {
    def centroids: IndexedSeq[(Long, IndexedSeq[Long])] =
      seeds.indices.map { j =>
        val c =
          if (counts(j) == 0L) seeds(j)
          else sums(j).map(_ / counts(j))
        (j.toLong, c)
      }
  }

  def model(root: String): Option[KMeans.Model] =
    loadState(root).map(s => KMeans.Model(s.centroids))

  /** Newest persisted state under `root`, if any. */
  def loadState(root: String): Option[State] =
    SegmentLog.readState(root).map { lines =>
      val k = lines(1).toInt
      def row(i: Int) = lines(i).split(',').map(_.toLong).toIndexedSeq
      State(lines.head.toLong, (0 until k).map(j => row(2 + j)),
        (0 until k).map(j => row(2 + k + j)), row(2 + 2 * k))
    }

  private def write(root: String, s: State): Unit =
    SegmentLog.writeState(root, s.applied,
      (Seq(s.applied.toString, s.seeds.size.toString) ++
        s.seeds.map(_.mkString(",")) ++
        s.sums.map(_.mkString(",")) ++
        Seq(s.counts.mkString(","))).mkString("\n"))

  /** Fold one micro-batch into the model. Returns true if applied,
    * false for a replayed/old batchId (NOOP). */
  def mergeBatch(
      batch: DataFrame, root: String, batchId: Long, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): Boolean = {
    val prev = loadState(root)
    if (prev.exists(_.applied >= batchId)) return false
    val q = KMeans.quantized(batch, idCol, embCol)
    val state = prev match {
      case Some(st) => st
      case None =>
        // seed from the first batch's k lowest-id vectors; until a
        // batch with >= k vectors arrives there is nothing to seed
        // from, so skip WITHOUT failing the query (sparse sources
        // routinely open with empty/short batches) and without
        // recording the id — a later replay may carry data
        val seeds = q.orderBy(col("vec_id")).limit(k).collect()
          .map(_.getSeq[Long](1).toIndexedSeq).toIndexedSeq
        if (seeds.size < k) return false
        val dim = seeds.head.size
        State(-1L, seeds, IndexedSeq.fill(k)(IndexedSeq.fill(dim)(0L)),
          IndexedSeq.fill(k)(0L))
    }
    val rows = q
      .select(KMeans.assignExpr(state.centroids).as("cid"), posexplode(col("v")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect()
    val byCid = rows.groupBy(_.getLong(0))
    val sums = state.seeds.indices.map { j =>
      byCid.get(j.toLong) match {
        case Some(rs) =>
          val add = rs.sortBy(_.getInt(1)).map(_.getLong(2))
          state.sums(j).zip(add).map { case (a, b) => a + b }
        case None => state.sums(j)
      }
    }
    val counts = state.seeds.indices.map { j =>
      state.counts(j) + byCid.get(j.toLong).map(_.head.getLong(3)).getOrElse(0L)
    }
    write(root, State(batchId, state.seeds, sums, counts))
    true
  }

  /** foreachBatch adapter:
    * `writeStream.foreachBatch(StreamingKMeansSink.sink(root, k))`. */
  def sink(root: String, k: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, Long) => Unit =
    (batch, id) => { mergeBatch(batch, root, id, k, idCol, embCol); () }
}
