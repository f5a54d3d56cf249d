package org.apache.spark.sql.graftnative

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer: two primitive arrays kept sorted
  * best-first under (cos desc, nId asc), O(k) insert, zero per-row
  * allocation. Shared by the plain and presence-deduping variants of
  * [[TopKCandAgg]] (`distinct` flips the duplicate-nId skip).
  */
final class TopKCandBuf(val k: Int, val distinct: Boolean) {
  var size: Int = 0
  val cos: Array[Double] = new Array[Double](k)
  val nid: Array[Long] = new Array[Long](k)

  // strict "ranks before" under (cos desc, nId asc)
  def insert(c: Double, n: Long): Unit = {
    if (distinct) {
      var i = 0
      while (i < size) { if (nid(i) == n) return; i += 1 }
    }
    var ins = 0
    while (ins < size && (cos(ins) > c || (cos(ins) == c && nid(ins) < n))) ins += 1
    if (ins >= k) return
    var j = math.min(size, k - 1)
    while (j > ins) { cos(j) = cos(j - 1); nid(j) = nid(j - 1); j -= 1 }
    cos(ins) = c
    nid(ins) = n
    if (size < k) size += 1
  }
}

/** Native engine form of the bounded top-k candidate fold under the
  * shared ANN ranking order (cos desc, nId asc): O(k) state per query
  * group no matter how many candidates the probe join emits.
  *
  * It replaces a `row_number() OVER (PARTITION BY q_id ORDER BY ...) ≤ k`
  * window. Spark 4's WindowGroupLimit already bounds that spelling's
  * SHUFFLE (a partial limit keeps ≤ k candidates per query per map task
  * ahead of the exchange), but both its partial and final stages SORT
  * their whole candidate run to apply the limit — O(m log m) over every
  * scored pair. Here each pair is one O(k) sorted-buffer insert inside a
  * hash aggregate, with no sort operator anywhere (measured ~8% off the
  * doc-ANN search tail at sf0.1). `distinct = true` lets a multi-band /
  * multi-probe bucket join fold its raw, duplicate-bearing match stream
  * without a pair-level `distinct()` first: at the sf1.0 rehearsal the
  * probed-LSH search emitted ~10⁸ raw matches whose distinct was the
  * largest shuffle in the suite.
  *
  * This class changes the EXECUTION of the typed `udaf(Aggregator)`
  * reference pair kept in the tests (`graft.udf.TopKCand` /
  * `TopKCandDistinct`), not the function. The `udaf(Aggregator)` spelling
  * plans as a ScalaAggregator, which deserializes every input row into a
  * `Cand` case object through an ExpressionEncoder and re-encodes the
  * whole buffer array per partial-merge row; at ~10⁸ raw LSH matches per
  * run that encoder churn was the largest per-row cost left in the ANN
  * family after the r13 sort-fallback fix. A TypedImperativeAggregate
  * reads the two primitive inputs straight off the unsafe row, keeps the
  * buffer as two primitive arrays, and serializes ONLY at shuffle
  * boundaries (size + k pairs of fixed-width values).
  *
  * Semantics are EXACTLY the Aggregator pair's (equivalence pinned
  * row-for-row in TopKCandAggSpec against both classes): insertion keeps
  * the buffer sorted under (cos desc, nId asc), an insert past position
  * k-1 is dropped, `distinct = true` skips an nId already present
  * (legal only when a (group, nId) always arrives with the SAME score —
  * the deterministic-pair-function contract). Null inputs are skipped
  * (none of the consumers produce them). Output is the same
  * array<struct<cos, nId>> the Aggregator's ExpressionEncoder emitted,
  * best-first, so every downstream posexplode/getField consumer and
  * every DuckDB oracle is untouched.
  */
case class TopKCandAgg(
    score: Expression,
    nId: Expression,
    k: Int,
    distinct: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKCandBuf] with BinaryLike[Expression]
  with ImplicitCastInputTypes {

  require(k > 0, s"k must be positive, got $k")

  override def left: Expression = score
  override def right: Expression = nId

  // the analyzer inserts casts to these (the udaf spelling's Cand encoder
  // did the same coercion implicitly) — update() may assume primitives
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, LongType)

  override def dataType: DataType = TopKCandAgg.outType
  override def nullable: Boolean = false
  override def prettyName: String =
    if (distinct) "graft_topk_distinct" else "graft_topk"

  override def createAggregationBuffer(): TopKCandBuf = new TopKCandBuf(k, distinct)

  override def update(buf: TopKCandBuf, input: InternalRow): TopKCandBuf = {
    val s = score.eval(input)
    val n = nId.eval(input)
    if (s != null && n != null)
      buf.insert(s.asInstanceOf[Double], n.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKCandBuf, b: TopKCandBuf): TopKCandBuf = {
    // same order of insertion as the reference Aggregator's merge (b
    // folded into a, best-first); the result is order-insensitive anyway
    // because the buffer is a sorted bounded set under a total order
    var i = 0
    while (i < b.size) { a.insert(b.cos(i), b.nid(i)); i += 1 }
    a
  }

  override def eval(buf: TopKCandBuf): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      out(i) = new GenericInternalRow(Array[Any](buf.cos(i), buf.nid(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKCandBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.cos(i)); bb.putLong(buf.nid(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKCandBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKCandBuf(k, distinct)
    // rows were serialized already-sorted and deduped; write them back
    // directly rather than re-inserting (n ≤ k by construction)
    var i = 0
    while (i < n) { buf.cos(i) = bb.getDouble(); buf.nid(i) = bb.getLong(); i += 1 }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKCandAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKCandAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKCandAgg =
    copy(score = newLeft, nId = newRight)
}

object TopKCandAgg {
  /** Field names/types match the ExpressionEncoder output of the
    * reference `Cand(cos: Double, nId: Long)` so every downstream
    * `c.cos` / `c.nId` access compiles unchanged.
    */
  val outType: DataType = ArrayType(StructType(Seq(
    StructField("cos", DoubleType, nullable = false),
    StructField("nId", LongType, nullable = false))), containsNull = false)
}
