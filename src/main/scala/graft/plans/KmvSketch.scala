package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.functions.TextOps.md5Upper64

/** KMV / Theta-style distinct sketch (Bar-Yossef et al., "Counting
  * distinct elements in a data stream"; Dasu et al. for the
  * set-operation use): keep the k MINIMUM hash values of a column — a
  * fixed k·8-byte summary whose contents are a uniform sample of the
  * key space, which is what makes it the SET-OPERATION sketch: two
  * sketches union by re-minimizing, intersect by counting shared
  * members below the union's threshold, so cross-corpus overlap /
  * dedup-rate / audience-intersection questions answer in O(k) from
  * per-source summaries, with no join over the raw 100 TB keys.
  *
  * The hash is the engine's standard md5-derived u64
  * ([[graft.functions.TextOps.md5Upper64]]), shifted to 63 bits so the
  * values are nonnegative in BOTH engines' BIGINT (unsigned ordering ==
  * signed ordering) — DuckDB rebuilds the exact k-minimum set with a
  * windowed rank over `md5_number_upper(x) // 2`, so the catalog query
  * (`q_kmv_minhashes`) hash-checks the whole sketch STATE cell-exact,
  * the same graduated-oracle posture as [[HllRegistersAgg]]. Estimators
  * (distinct / Jaccard / intersection) are JVM-side, spec-pinned. */
case class KmvSketchAgg(
    item: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  // validated HERE (not only in fromSql) so the Scala column API fails
  // at construction, not with buf.last() on an empty TreeSet in a task
  require(k > 0, s"kmv_sketch: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = item.eval(input)
    if (v != null) KmvSketchAgg.offer(buf, KmvSketchAgg.hash63(v.toString), k)
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
                     b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) KmvSketchAgg.offer(a, it.next(), k)
    a
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out) // ascending — TreeSet iterates sorted
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + buf.size * 8)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next().longValue())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(item = c(0))
}

object KmvSketchAgg {

  private val Max63 = (1L << 62) * 2.0 // 2^63 as a double

  /** 63-bit item hash — `md5_number_upper(key || "|kmv") // 2` on the
    * SQL side; nonnegative, so BIGINT order is hash order. */
  def hash63(key: String): Long = md5Upper64(key + "|kmv") >>> 1

  /** Insert into a bounded min-set: ignore when full and above max. */
  private[plans] def offer(buf: java.util.TreeSet[java.lang.Long], h: Long, k: Int): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) { buf.remove(buf.last()); () }
    }
  }

  /** Column handle: `kmv(col("x"), 32)` → array<long> of the k minimum
    * 63-bit hashes, ascending (shorter when distinct count < k). */
  def kmv(item: Column, k: Int): Column =
    GraftBridge.column(
      KmvSketchAgg(GraftBridge.expression(item), k).toAggregateExpression())

  /** Distinct-count estimate: exact when the sketch is not full; else
    * the classic (k−1)·2^63 / kth-minimum. */
  def estimateDistinct(sketch: Array[Long], k: Int): Double =
    if (sketch.length < k) sketch.length.toDouble
    else (k - 1).toDouble * Max63 / sketch(k - 1).toDouble

  /** k-minimum of the union — the merged sketch (ascending). */
  def unionSketch(a: Array[Long], b: Array[Long], k: Int): Array[Long] =
    (a ++ b).distinct.sorted.take(k)

  /** Jaccard estimate |A∩B|/|A∪B|: the fraction of the union's k-min
    * members present in BOTH input sketches (each union member below
    * both sketches' thresholds is decidable exactly). */
  def jaccardEst(a: Array[Long], b: Array[Long], k: Int): Double = {
    val u = unionSketch(a, b, k)
    if (u.isEmpty) 0.0
    else {
      val sa = a.toSet
      val sb = b.toSet
      u.count(h => sa.contains(h) && sb.contains(h)).toDouble / u.length
    }
  }

  /** Intersection-size estimate: Jaccard × estimated union size. */
  def intersectionEst(a: Array[Long], b: Array[Long], k: Int): Double =
    jaccardEst(a, b, k) * estimateDistinct(unionSketch(a, b, k), k)

  /** SQL builder: `kmv_sketch(item, k)` with foldable k. */
  private[plans] def fromSql(children: Seq[Expression]): Expression = {
    require(children.length == 2, "kmv_sketch(item, k) takes exactly 2 arguments")
    val k = SqlLiterals.int(children(1), "kmv_sketch", "k")
    require(k > 0, s"kmv_sketch: k must be positive, got $k")
    KmvSketchAgg(children(0), k).toAggregateExpression()
  }
}
