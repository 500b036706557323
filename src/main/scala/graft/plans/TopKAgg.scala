package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: at most k (score, id) pairs, ordered "best" =
  * highest score, ties to the LOWEST id (deterministic). Backed by a binary
  * min-heap keyed by "worst first" so insertion beyond k is O(log k). */
final class TopKBuffer(val k: Int) {
  // parallel arrays: heap of size n, worst pair at index 0
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0

  // a is WORSE than b (lower score, or same score with higher id)
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    sa < sb || (sa == sb && ia > ib)

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) / 2
      if (worse(scores(i), ids(i), scores(p), ids(p))) {
        val ts = scores(i); val ti = ids(i)
        scores(i) = scores(p); ids(i) = ids(p)
        scores(p) = ts; ids(p) = ti
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < n && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < n && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m == i) return
      val ts = scores(i); val ti = ids(i)
      scores(i) = scores(m); ids(i) = ids(m)
      scores(m) = ts; ids(m) = ti
      i = m
    }
  }

  def add(s: Double, id: Long): Unit =
    if (n < k) {
      scores(n) = s; ids(n) = id; n += 1; siftUp(n - 1)
    } else if (n > 0 && worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id; siftDown()
    }

  /** (score, id) pairs best-first. */
  def sortedDesc: Array[(Double, Long)] = {
    val out = (0 until n).map(i => (scores(i), ids(i))).toArray
    out.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
  }
}

/** Heap-based grouped top-k: `topk_pairs(score, id, k)` →
  * `array<struct<score double, id bigint>>`, best-first.
  *
  * Scale rationale vs the `row_number()` window formulation: the window
  * shuffles and sorts EVERY row of every group; this aggregate keeps a
  * k-bounded heap per group with map-side partial aggregation, so at most
  * k pairs per group per partition cross the wire and nothing is ever
  * globally sorted. Same results (ties broken by lowest id), oracle-checked
  * against the window SQL.
  */
case class TopKPairs(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.add(s.asInstanceOf[Number].doubleValue(), i.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.n) { buf.add(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows: Array[Any] = buf.sortedDesc.map { case (s, i) =>
      InternalRow(s, i): Any
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buf.n)
    bb.putInt(buf.k).putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.scores(i)).putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.add(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))

  override def prettyName: String = "topk_pairs"
}

/** [[TopKBuffer]] plus a payload double carried alongside each (score, id)
  * pair — the payload never participates in the ordering, it just rides the
  * heap so callers don't need a second scan to re-fetch row attributes for
  * the k survivors. */
final class TopKTriBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  val pays = new Array[Double](k)
  var n = 0

  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    sa < sb || (sa == sb && ia > ib)

  private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); val ti = ids(a); val tp = pays(a)
    scores(a) = scores(b); ids(a) = ids(b); pays(a) = pays(b)
    scores(b) = ts; ids(b) = ti; pays(b) = tp
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) / 2
      if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
      else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < n && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < n && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m == i) return
      swap(i, m)
      i = m
    }
  }

  def add(s: Double, id: Long, pay: Double): Unit =
    if (n < k) {
      scores(n) = s; ids(n) = id; pays(n) = pay; n += 1; siftUp(n - 1)
    } else if (n > 0 && worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id; pays(0) = pay; siftDown()
    }

  /** (score, id, payload) triples best-first. */
  def sortedDesc: Array[(Double, Long, Double)] = {
    val out = (0 until n).map(i => (scores(i), ids(i), pays(i))).toArray
    out.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
  }
}

/** `topk_triples(score, id, payload, k)` →
  * `array<struct<score double, id bigint, payload double>>`, best-first —
  * [[TopKPairs]] with a carried attribute. Same scale rationale: k-bounded
  * heaps with map-side partial aggregation, at most k triples per group per
  * partition cross the wire, and the payload means the k survivors never
  * need a join back to the source to recover their row attributes. */
case class TopKTriples(
    score: Expression,
    id: Expression,
    payload: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKTriBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(score, id, payload, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType),
    StructField("payload", DoubleType))))

  override def createAggregationBuffer(): TopKTriBuffer = new TopKTriBuffer(k)

  override def update(buf: TopKTriBuffer, input: InternalRow): TopKTriBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    val p = payload.eval(input)
    if (s != null && i != null && p != null)
      buf.add(s.asInstanceOf[Number].doubleValue(), i.asInstanceOf[Number].longValue(),
        p.asInstanceOf[Number].doubleValue())
    buf
  }

  override def merge(buf: TopKTriBuffer, other: TopKTriBuffer): TopKTriBuffer = {
    var i = 0
    while (i < other.n) { buf.add(other.scores(i), other.ids(i), other.pays(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKTriBuffer): Any = {
    val rows: Array[Any] = buf.sortedDesc.map { case (s, i, p) =>
      InternalRow(s, i, p): Any
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKTriBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 24 * buf.n)
    bb.putInt(buf.k).putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i)).putLong(buf.ids(i)).putDouble(buf.pays(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKTriBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKTriBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.add(bb.getDouble(), bb.getLong(), bb.getDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKTriples =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKTriples =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKTriples =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren(2),
      kExpr = newChildren(3))

  override def prettyName: String = "topk_triples"
}

object TopKAgg {
  /** Column API; requires a session built with `GraftExtensions`. */
  def topkPairs(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "topk_pairs", score, id, org.apache.spark.sql.functions.lit(k))

  /** Column API; requires a session built with `GraftExtensions`. */
  def topkTriples(score: Column, id: Column, payload: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "topk_triples", score, id, payload, org.apache.spark.sql.functions.lit(k))
}
