package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded buffer for TopKScores: a worst-first binary heap of
  * (item, score) capped at k entries. Total order: higher score wins,
  * ties prefer the smaller item id — a strict total order when items
  * are unique, which makes the selected set independent of update and
  * merge order (partial aggregation is then exactly equivalent to the
  * window-sort formulation). */
final class TopKBuffer(val k: Int) {
  // worst element at the head
  private val ord = Ordering.by[(Long, Double), (Double, Long)] {
    case (item, score) => (-score, item)
  }
  val heap = new scala.collection.mutable.PriorityQueue[(Long, Double)]()(ord)

  def add(item: Long, score: Double): Unit = {
    if (heap.size < k) heap.enqueue((item, score))
    else {
      val (wItem, wScore) = heap.head
      if (score > wScore || (score == wScore && item < wItem)) {
        heap.dequeue(); heap.enqueue((item, score))
      }
    }
  }

  /** (item, score) descending by (score, -item) — the output order. */
  def sortedDesc: Seq[(Long, Double)] =
    heap.toSeq.sortBy { case (item, score) => (-score, item) }
}

/** topk_scores(item, score, k): per-group top-k as a true aggregate.
  *
  * The standard formulation — `row_number() over (partition by g order
  * by score desc) <= k` — shuffles and SORTS every row of every group.
  * This aggregate keeps a bounded k-entry heap per group instead:
  * partial (map-side) heaps combine associatively, so only k rows per
  * group per partition ever reach the exchange, and nothing is globally
  * sorted. At warehouse scale that is the difference between shuffling
  * the fact table and shuffling k × |groups| rows.
  *
  * Returns `array<struct<item:bigint, score:double>>` ordered by
  * (score desc, item asc). With unique items the result is identical
  * to the window formulation under the same ordering — oracle-checkable
  * bit-for-bit after explode.
  */
case class TopKScores(
    itemExpr: Expression,
    scoreExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(itemExpr, scoreExpr, kExpr)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_scores"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("k must be a literal")
    else if (itemExpr.dataType != LongType || scoreExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint item, double score, int k), got " +
          s"(${itemExpr.dataType.catalogString}, ${scoreExpr.dataType.catalogString})")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val item = itemExpr.eval(input)
    val score = scoreExpr.eval(input)
    if (item != null && score != null)
      b.add(item.asInstanceOf[Long], score.asInstanceOf[Double])
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.heap.foreach { case (item, score) => b.add(item, score) }
    b
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.sortedDesc.map { case (item, score) =>
      InternalRow(item, score)
    }.toArray[Any])

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val entries = b.heap.toSeq
    val buf = ByteBuffer.allocate(8 + entries.size * 16)
    buf.putInt(b.k).putInt(entries.size)
    entries.foreach { case (item, score) => buf.putLong(item).putDouble(score) }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(buf.getInt())
    val n = buf.getInt()
    (1 to n).foreach(_ => b.add(buf.getLong(), buf.getDouble()))
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKScores =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKScores =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKScores =
    copy(itemExpr = newChildren(0), scoreExpr = newChildren(1), kExpr = newChildren(2))
}
