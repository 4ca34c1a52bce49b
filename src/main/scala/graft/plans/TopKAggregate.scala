package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Grouped top-k as a mergeable bounded-heap aggregate.
  *
  * Why custom (SURVEY.md §7.2 preference order — the window form exists as
  * `q_window_topk`): `row_number() OVER (PARTITION BY key ORDER BY ord) <= k`
  * shuffles EVERY row to its key's reducer and sorts the full group before
  * discarding all but k. This aggregate keeps a ≤k min-heap per partial
  * buffer, so the exchange carries at most k×keys rows per map partition
  * and the reducers merge k-sized buffers — at 100 TB with k=3 and a
  * million keys that is the difference between shuffling the fact table
  * and shuffling a few MB. Same partial/final shape Spark's own
  * TakeOrderedAndProject exploits for global top-k, extended to per-key.
  *
  * Ordering is (ord DESC, id ASC) — the id tiebreak makes the result
  * deterministic under any partitioning, which is what lets a SQL oracle
  * check it cell-exact.
  */
case class TopKAgg(
    ord: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  override def children: Seq[Expression] = Seq(ord, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "top_k"

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null)
      buf.offer(o.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = { a.absorb(b); a }

  override def eval(buf: TopKBuf): Any = {
    val pairs = buf.sortedDesc
    new GenericArrayData(pairs.map { case (o, i) =>
      new GenericInternalRow(Array[Any](o, i))
    })
  }

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeDouble(buf.ords(i)); out.writeLong(buf.ids(i)); i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopKBuf(k)
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.offer(in.readDouble(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(ord = c(0), id = c(1))
}

/** Bounded min-heap of (ord, id) pairs under (ord DESC, id ASC) ranking:
  * the root is the WEAKEST kept pair, so an incoming pair replaces it iff
  * it ranks strictly higher. All primitive arrays — no boxing on the
  * per-row hot path. */
final class TopKBuf(val k: Int) {
  val ords: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)
  var size: Int = 0

  /** true iff (o1,i1) ranks BELOW (o2,i2), i.e. is weaker. */
  @inline private def weaker(o1: Double, i1: Long, o2: Double, i2: Long): Boolean =
    o1 < o2 || (o1 == o2 && i1 > i2)

  def offer(o: Double, i: Long): Unit = {
    if (size < k) {
      ords(size) = o; ids(size) = i; size += 1
      siftUp(size - 1)
    } else if (weaker(ords(0), ids(0), o, i)) {
      ords(0) = o; ids(0) = i
      siftDown(0)
    }
  }

  def absorb(other: TopKBuf): Unit = {
    var i = 0
    while (i < other.size) { offer(other.ords(i), other.ids(i)); i += 1 }
  }

  private def siftUp(start: Int): Unit = {
    var c = start
    while (c > 0) {
      val p = (c - 1) / 2
      if (weaker(ords(c), ids(c), ords(p), ids(p))) { swap(c, p); c = p }
      else return
    }
  }

  private def siftDown(start: Int): Unit = {
    var p = start
    while (true) {
      val l = 2 * p + 1; val r = l + 1
      var m = p
      if (l < size && weaker(ords(l), ids(l), ords(m), ids(m))) m = l
      if (r < size && weaker(ords(r), ids(r), ords(m), ids(m))) m = r
      if (m == p) return
      swap(p, m); p = m
    }
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val to = ords(a); ords(a) = ords(b); ords(b) = to
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  /** Kept pairs ranked best-first: (ord DESC, id ASC). */
  def sortedDesc: Array[(Double, Long)] =
    (0 until size).map(j => (ords(j), ids(j))).toArray
      .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
}

/** Shared literal extraction for the SQL builders of the custom
  * aggregates: plan-time sizes (k) must be foldable integer literals, and
  * a LongType literal beyond Int range is an ERROR — `.toInt` would wrap
  * silently (2^32+1 → 1) and run with a wrong buffer size. */
private[plans] object SqlLiterals {
  def int(e: Expression, fn: String, what: String): Int = e match {
    case e if e.foldable && e.dataType == IntegerType =>
      e.eval().asInstanceOf[Int]
    case e if e.foldable && e.dataType == LongType =>
      val v = e.eval().asInstanceOf[Long]
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"$fn: $what out of int range: $v")
      v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  def long(e: Expression, fn: String, what: String): Long = e match {
    case e if e.foldable && e.dataType == IntegerType =>
      e.eval().asInstanceOf[Int].toLong
    case e if e.foldable && e.dataType == LongType =>
      e.eval().asInstanceOf[Long]
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }
}

object TopKAgg {
  /** Column handle: `topK(col("price"), col("id"), 3)` → array<struct<ord,id>>
    * ranked best-first under (ord DESC, id ASC). */
  def topK(ord: Column, id: Column, k: Int): Column =
    GraftBridge.column(
      TopKAgg(GraftBridge.expression(ord), GraftBridge.expression(id), k)
        .toAggregateExpression())

  /** SQL builder: `top_k(ord, id, k)` with k a foldable integer literal
    * (the buffer size must be known at plan time — a per-row k cannot
    * bound the heap). */
  private[plans] def fromSql(children: Seq[Expression]): Expression = {
    require(children.length == 3, "top_k(ord, id, k) takes exactly 3 arguments")
    val k = SqlLiterals.int(children(2), "top_k", "k")
    require(k > 0, s"top_k: k must be positive, got $k")
    TopKAgg(children(0), children(1), k).toAggregateExpression()
  }
}
