package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The k smallest DISTINCT string values of a group, ascending — the
  * KMV bottom-k sketch as ONE mergeable aggregate. This replaces the
  * sketch family's three-stage carrier (typed mapPartitions partial →
  * dropDuplicates exchange → rank window exchange): each task's
  * partial holds ≤ k strings per group (the bottom-k of a union is the
  * union's bottom-k, so capping per-partition contributions loses
  * nothing — the classic KMV merge property), the exchange moves one
  * ≤ k-element array per (group, partition), and the ascending output
  * array IS the sketch: size(arr) = n_kept, element_at(arr, -1) =
  * kth_hash. Values compare as UTF8String (unsigned byte-lexicographic)
  * — identical to the ORDER BY/window ordering for the fixed-width
  * lowercase-hex digests this carries, and to Spark's UTF8String
  * ordering in general. Nulls are skipped; an input-less group yields
  * an empty array. */
case class BottomKDistinct(child: Expression, k: Int,
                           mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[UTF8String]]
  with UnaryLike[Expression] {
  require(k >= 1, s"k must be >= 1, got $k")

  override def prettyName: String = "bottom_k_distinct"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[UTF8String] =
    new java.util.TreeSet[UTF8String]()

  /** Whether `v` belongs in the bottom k: below the current kth once
    * the set is full, and not already present. */
  @inline private def enters(buf: java.util.TreeSet[UTF8String],
                             v: UTF8String): Boolean =
    (buf.size < k || v.compareTo(buf.last()) < 0) && !buf.contains(v)

  /** Adds `v`, a value [[enters]] accepted, keeping it by reference. */
  @inline private def insert(buf: java.util.TreeSet[UTF8String],
                             v: UTF8String): Unit = {
    buf.add(v)
    if (buf.size > k) { buf.pollLast(); () }
  }

  override def update(buf: java.util.TreeSet[UTF8String],
                      input: InternalRow): java.util.TreeSet[UTF8String] = {
    val v = child.eval(input)
    // the input row's bytes may be reused by the next row, so a value
    // that enters the set is copied first; duplicates and values above
    // the kth are never copied
    if (v != null) {
      val u = v.asInstanceOf[UTF8String]
      if (enters(buf, u)) insert(buf, u.clone())
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[UTF8String],
                     other: java.util.TreeSet[UTF8String]): java.util.TreeSet[UTF8String] = {
    // `other` holds owned values (copied in update or built by
    // deserialize), so they enter without another copy
    val it = other.iterator()
    while (it.hasNext) {
      val v = it.next()
      if (enters(buf, v)) insert(buf, v)
    }
    buf
  }

  override def eval(buf: java.util.TreeSet[UTF8String]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[UTF8String]): Array[Byte] = {
    var total = 4
    val it0 = buf.iterator()
    while (it0.hasNext) total += 4 + it0.next().numBytes()
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val b = it.next().getBytes
      bb.putInt(b.length); bb.put(b)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[UTF8String] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      st.add(UTF8String.fromBytes(b))
      i += 1
    }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BottomKDistinct =
    copy(child = newChild)
}
