package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequent items (heavy hitters) via SpaceSaving (Metwally et al.,
  * "Efficient computation of frequent and top-k elements in data
  * streams") — the bounded-memory single-pass answer when the hot column
  * has too many distinct values for an exact `groupBy` count: `m`
  * counters regardless of cardinality, one pass, mergeable partials.
  * At 100 TB this is the difference between a fixed few-KB buffer per
  * partition and a shuffle keyed on a billion distinct items to find the
  * ten that matter.
  *
  * Each counter carries (item, est, err): `est` never underestimates the
  * item's true count, and `true ≥ est − err`. When the buffer is full,
  * an unseen item replaces the minimum counter, inheriting its count as
  * the error bound — the classic SpaceSaving eviction. `merge` is the
  * parallel-SpaceSaving combine: an item absent from one side gets that
  * side's minimum estimate as its (upper-bound) contribution to both est
  * and err, then the union is trimmed back to the top `m`. A single-
  * summary sketch guarantees every item with true count > n/m survives;
  * merging weakens the error bound additively (SpaceSavingSpec pins both
  * properties empirically against exact counts on a skewed corpus).
  *
  * When `m` exceeds the column's true cardinality nothing is ever
  * evicted, every `err` is 0, and the sketch degenerates to an exact,
  * deterministic count — which is the regime the oracled catalog query
  * runs in (the driver hash-checks it against a plain GROUP BY), while
  * the eviction/merge machinery is exercised by the spec's
  * over-cardinality fixtures.
  */
case class HeavyHittersAgg(
    item: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SsBuf] {

  override def children: Seq[Expression] = Seq(item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "heavy_hitters"

  override def createAggregationBuffer(): SsBuf = new SsBuf(m)

  override def update(buf: SsBuf, input: InternalRow): SsBuf = {
    val v = item.eval(input)
    if (v != null) buf.offer(v.toString)
    buf
  }

  override def merge(a: SsBuf, b: SsBuf): SsBuf = a.absorb(b)

  override def eval(buf: SsBuf): Any = {
    // (est DESC, item ASC) — deterministic presentation order
    val rows = buf.counters.toArray
      .sortBy { case (item, (est, _)) => (-est, item) }
      .map { case (item, (est, err)) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(item), est, err))
      }
    new GenericArrayData(rows)
  }

  override def serialize(buf: SsBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.counters.size)
    buf.counters.foreach { case (item, (est, err)) =>
      out.writeUTF(item); out.writeLong(est); out.writeLong(err)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SsBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new SsBuf(m)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      buf.counters.put(in.readUTF(), (in.readLong(), in.readLong())); i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(item = c(0))
}

/** SpaceSaving summary: at most `m` (item → (est, err)) counters.
  * Eviction scans for the minimum counter — O(m) per eviction, the
  * simple form; a production sketch at m in the tens of thousands would
  * keep the stream-summary linked structure, but the asymptotics per
  * ROW stay O(1) amortized either way and m here is small. */
final class SsBuf(val m: Int) {
  val counters: scala.collection.mutable.HashMap[String, (Long, Long)] =
    scala.collection.mutable.HashMap.empty

  private def minEntry: (String, (Long, Long)) =
    counters.minBy { case (item, (est, _)) => (est, item) }

  /** Upper bound on the true count of any item NOT in this summary. */
  def floor: Long = if (counters.size < m) 0L else minEntry._2._1

  def offer(item: String): Unit = counters.get(item) match {
    case Some((est, err)) => counters.update(item, (est + 1, err))
    case None if counters.size < m => counters.put(item, (1L, 0L))
    case None =>
      val (evicted, (minEst, _)) = minEntry
      counters.remove(evicted)
      // the newcomer inherits the evicted count as its error bound: its
      // true count so far is anywhere in [1, minEst + 1]
      counters.put(item, (minEst + 1, minEst))
  }

  /** Parallel-SpaceSaving combine: absent items take the other side's
    * floor as an upper-bound contribution (est AND err — the whole floor
    * is potential overestimate), then trim to the top m. */
  def absorb(other: SsBuf): SsBuf = {
    val fa = floor
    val fb = other.floor
    val merged = new SsBuf(m)
    val keys = counters.keySet ++ other.counters.keySet
    val combined = keys.toArray.map { k =>
      val (ea, ra) = counters.getOrElse(k, (fa, fa))
      val (eb, rb) = other.counters.getOrElse(k, (fb, fb))
      k -> (ea + eb, ra + rb)
    }
    combined
      .sortBy { case (item, (est, _)) => (-est, item) }
      .take(m)
      .foreach { case (k, v) => merged.counters.put(k, v) }
    merged
  }
}

object HeavyHittersAgg {
  /** Column handle: `heavyHitters(col("word"), 32)` →
    * array<struct<item,est,err>> ranked (est DESC, item ASC). */
  def heavyHitters(item: Column, m: Int): Column =
    GraftBridge.column(
      HeavyHittersAgg(GraftBridge.expression(item), m).toAggregateExpression())

  /** SQL builder: `heavy_hitters(item, m)` with m a foldable integer
    * literal (the counter budget must be known at plan time). */
  private[plans] def fromSql(children: Seq[Expression]): Expression = {
    require(children.length == 2, "heavy_hitters(item, m) takes exactly 2 arguments")
    val m = SqlLiterals.int(children(1), "heavy_hitters", "m")
    require(m > 0, s"heavy_hitters: m must be positive, got $m")
    HeavyHittersAgg(children(0), m).toAggregateExpression()
  }
}
