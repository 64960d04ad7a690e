package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k accumulator: a binary min-heap over (score, id) pairs
  * whose root is the WORST retained entry, so a better row evicts it in
  * O(log k). Total order: higher score wins; equal scores break toward the
  * smaller id (deterministic for unique ids). State is exactly k pairs —
  * 16·k bytes — regardless of input size.
  */
final class TopKState(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** entry i orders strictly below (s, id)? ("below" = evicted first) */
  private def below(i: Int, s: Double, id: Long): Boolean =
    scores(i) < s || (scores(i) == s && ids(i) > id)

  private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && below(i, scores((i - 1) / 2), ids((i - 1) / 2))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      var m = i
      val l = 2 * i + 1; val r = 2 * i + 2
      if (l < size && below(l, scores(m), ids(m))) m = l
      if (r < size && below(r, scores(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def add(s: Double, id: Long): Unit =
    // NaN compares false against everything: admitted, it could never be
    // evicted (below() false) and would freeze sift swaps, corrupting the
    // heap order for every later entry — reject at the door
    if (java.lang.Double.isNaN(s)) ()
    else if (size < k) {
      scores(size) = s; ids(size) = id; size += 1; siftUp(size - 1)
    } else if (k > 0 && below(0, s, id)) {
      scores(0) = s; ids(0) = id; siftDown()
    }

  /** Entries sorted best-first: (score desc, id asc). */
  def sorted: Array[(Double, Long)] = {
    val out = Array.tabulate(size)(i => (scores(i), ids(i)))
    out.sortBy { case (s, id) => (-s, id) }
  }
}

/** Exact distributed top-k per group: `top_k_by_score(score, id, k)`
  * returns `array<struct<id: long, score: double>>` sorted best-first.
  *
  * This replaces the `row_number() OVER (PARTITION BY group)` top-k
  * pattern, which funnels EVERY scored row of a group into one task — with
  * few groups (e.g. 5 query vectors against a 100 TB corpus) parallelism
  * collapses to n_groups and the sort is O(corpus·log corpus). Here each
  * map task keeps an O(k) heap per group (partial aggregation), only
  * n_partitions·k rows per group cross the shuffle, and the merge is
  * O(k·log k). Null score or id rows are ignored (a window assigns them
  * ranks; don't feed nulls if that distinction matters).
  */
case class TopKByScore(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] with BinaryLike[Expression] {

  require(k > 0, s"top_k_by_score requires k > 0, got $k")

  private def score: Expression = left
  private def id: Expression = right

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType == org.apache.spark.sql.types.DoubleType &&
        id.dataType == org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (DOUBLE score, BIGINT id), got " +
        s"(${score.dataType.sql}, ${id.dataType.sql})")

  override def prettyName: String = "top_k_by_score"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(buf: TopKState, input: InternalRow): TopKState = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKState, other: TopKState): TopKState = {
    var i = 0
    while (i < other.size) {
      buf.add(other.scores(i), other.ids(i)); i += 1
    }
    buf
  }

  override def eval(buf: TopKState): Any =
    new GenericArrayData(buf.sorted.map { case (s, id) =>
      new GenericInternalRow(Array[Any](id, s))
    })

  override def serialize(buf: TopKState): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new TopKState(k)
    var i = 0
    while (i < n) {
      val s = bb.getDouble; val id = bb.getLong
      st.add(s, id); i += 1
    }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByScore =
    copy(left = newLeft, right = newRight)
}

/** Capped distinct-long-id accumulator: exact distinct set while it holds
  * ≤ cap ids, a single overflow bit (and NO retained ids) beyond. The
  * SERIALIZED state is ≤ 4 + 8·cap bytes regardless of how hot the group
  * is; in memory the set is a `java.util.HashSet` of boxed longs — tens
  * of bytes per id plus table overhead — still bounded by `cap`, but not
  * by that byte count. */
final class CappedSetState(val cap: Int) {
  var overflow = false
  var set = new java.util.HashSet[java.lang.Long]()
  def add(id: Long): Unit =
    if (!overflow) {
      set.add(id)
      if (set.size > cap) { overflow = true; set = new java.util.HashSet() }
    }
}

/** `distinct_ids_capped(id, cap)`: the distinct BIGINT ids of the group as
  * a sorted array while there are ≤ `cap` of them, NULL once the (exact)
  * distinct count exceeds `cap`.
  *
  * This fuses the `distinct → groupBy(count-distinct + bounded id list) →
  * low-frequency filter` idiom into ONE aggregate: the pre-distinct was a
  * second full shuffle of the keyed stream purely to make `count(*)` a
  * distinct count, while this aggregate dedups inside its own (map-side
  * partial) state — and a boilerplate-hot key that would blow the list
  * degrades to one boolean instead of accumulating anything. Exactness of
  * the cap test is preserved under merge: a partial that overflowed forces
  * the merged group to overflow (its true distinct count already exceeds
  * cap), and non-overflowed partials union with the same cap check. */
case class DistinctIdsCapped(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedSetState]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(cap > 0, s"distinct_ids_capped requires cap > 0, got $cap")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT id, got ${child.dataType.sql}")

  override def prettyName: String = "distinct_ids_capped"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): CappedSetState = new CappedSetState(cap)

  override def update(buf: CappedSetState, input: InternalRow): CappedSetState = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: CappedSetState, other: CappedSetState): CappedSetState = {
    if (other.overflow) { buf.overflow = true; buf.set = new java.util.HashSet() }
    else if (!buf.overflow) {
      val it = other.set.iterator()
      while (it.hasNext && !buf.overflow) buf.add(it.next())
    }
    buf
  }

  override def eval(buf: CappedSetState): Any =
    if (buf.overflow) null
    else {
      val arr = new Array[Long](buf.set.size)
      val it = buf.set.iterator()
      var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      java.util.Arrays.sort(arr)
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(arr)
    }

  override def serialize(buf: CappedSetState): Array[Byte] = {
    if (buf.overflow) ByteBuffer.allocate(4).putInt(-1).array()
    else {
      val bb = ByteBuffer.allocate(4 + 8 * buf.set.size)
      bb.putInt(buf.set.size)
      val it = buf.set.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }
  }

  override def deserialize(bytes: Array[Byte]): CappedSetState = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new CappedSetState(cap)
    if (n < 0) st.overflow = true
    else {
      var i = 0
      while (i < n) { st.add(bb.getLong); i += 1 }
    }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DistinctIdsCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DistinctIdsCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): DistinctIdsCapped =
    copy(child = newChild)
}
