package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Bounded top-k as a mergeable Catalyst aggregate — the ranking tail
  * of every ANN scoring path.
  *
  * The naive shape (`row_number() OVER (PARTITION BY query ORDER BY
  * cos DESC)` then `rank <= k`) shuffles EVERY scored pair to the
  * window: |queries| x |candidates| rows — measured 225M rows at sf1
  * for the brute-force path, and growing with the corpus. This
  * aggregate keeps a bounded (cos, id) list per query per task instead;
  * partial aggregation combines map-side, so the shuffle carries at
  * most |queries| x |partitions| buffers of k entries no matter how
  * many candidates were scored — the same partial-agg discipline as
  * the CMS sketch ([[CmsAggExpr]]), applied to ranking.
  *
  * Ordering matches the window it replaces exactly: cos descending,
  * neighbor id ascending on ties, compared via
  * `java.lang.Double.compare` (NaN greatest — Spark's sort order for
  * DESC NULLS LAST frames with NaN, and DuckDB's `ORDER BY cos DESC`).
  * Buffers hold the k best seen; insertion is an O(k) shift into a
  * sorted pair of primitive arrays — no boxing, no heap churn for the
  * k <= a-few-hundred regime every catalog query uses. Output is
  * ARRAY<STRUCT<rank INT, neighbor_id BIGINT, cos DOUBLE>> with ranks
  * 1..min(k, seen), ready to explode.
  *
  * DEPLOYMENT NOTE: ObjectHashAggregate (the physical operator for any
  * TypedImperativeAggregate) falls back to sort-based aggregation once a
  * task sees more than `spark.sql.objectHashAggregate.sortBased
  * .fallbackThreshold` distinct groups — and Spark's DEFAULT is 128.
  * Sort-based fallback sorts the aggregate's entire INPUT, i.e. exactly
  * the QxN scored-pair stream this aggregate exists to keep out of any
  * sort or shuffle (observed: 56 GB of task spill at a 20k-query scale
  * factor). Since each group's buffer is bounded at k entries, raising
  * the threshold to ~1e6 costs only megabytes per task; every session
  * that groups by a high-cardinality key through this aggregate should
  * set it ([[graft.SparkEntry.session]] does, for every main).
  */
object TopK {

  /** Mutable bounded buffer: parallel arrays sorted best-first
    * (cos desc, id asc), at most k live entries. */
  final class Buf(val k: Int) {
    var n: Int = 0
    val cos: Array[Double] = new Array[Double](k)
    val ids: Array[Long] = new Array[Long](k)

    /** true if (ca, ia) ranks strictly before (cb, ib). */
    @inline private def before(ca: Double, ia: Long, cb: Double, ib: Long): Boolean = {
      val c = java.lang.Double.compare(ca, cb)
      c > 0 || (c == 0 && ia < ib)
    }

    def insert(c: Double, id: Long): Unit = {
      if (n == k && !before(c, id, cos(n - 1), ids(n - 1))) return
      // find insertion point from the tail (new entries are usually
      // worse than most of a warm buffer)
      var i = math.min(n, k - 1)
      while (i > 0 && before(c, id, cos(i - 1), ids(i - 1))) {
        cos(i) = cos(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      cos(i) = c; ids(i) = id
      if (n < k) n += 1
    }

    def mergeFrom(o: Buf): Buf = {
      var i = 0
      while (i < o.n) { insert(o.cos(i), o.ids(i)); i += 1 }
      this
    }
  }

  /** `agg(cos, id, k)` — per-group ARRAY<STRUCT<rank, neighbor_id, cos>>
    * of the k best (cos DESC, id ASC) entries. */
  def agg(cos: Column, id: Column, k: Int): Column =
    Bridge.column(TopKAggExpr(
      Bridge.expression(cos), Bridge.expression(id), k)
      .toAggregateExpression())
}

final case class TopKAggExpr(
    cosChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopK.Buf] with ExpectsInputTypes {

  require(k >= 1, s"top-k needs k >= 1, got $k")

  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def children: Seq[Expression] = Seq(cosChild, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopK.Buf = new TopK.Buf(k)

  override def update(buf: TopK.Buf, input: InternalRow): TopK.Buf = {
    val c = cosChild.eval(input)
    val id = idChild.eval(input)
    if (c != null && id != null)
      buf.insert(c.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopK.Buf, b: TopK.Buf): TopK.Buf = a.mergeFrom(b)

  override def eval(buf: TopK.Buf): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = new GenericInternalRow(
        Array[Any](i + 1, buf.ids(i), buf.cos(i)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopK.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.n * 16)
    bb.putInt(buf.k).putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.cos(i)).putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopK.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopK.Buf(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      // entries arrive best-first and pre-deduped, so insert() appends
      buf.insert(bb.getDouble(), bb.getLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKAggExpr =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKAggExpr =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): TopKAggExpr =
    copy(cosChild = cs(0), idChild = cs(1))
}
