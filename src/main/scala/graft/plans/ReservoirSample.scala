package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded uniform reservoir sample of a long column per group — the
  * TypedImperativeAggregate surface (SURVEY.md §7.2's sketch candidate).
  *
  * Why custom: `slice(shuffle(collect_list(x)), 1, k)` materializes the
  * whole group before truncating — unbounded memory on a hot key at
  * 100 TB. The reservoir holds exactly ≤ k elements per partial buffer,
  * merges weighted by seen-counts, and ships compactly through the
  * aggregation exchange (serialize/deserialize below).
  *
  * Randomness is a deterministic splitmix64 stream keyed by (seed, seen),
  * so a fixed partitioning reproduces exactly; across different
  * partitionings the result is a different-but-valid uniform sample
  * (inherent to mergeable reservoirs).
  */
case class ReservoirSampleAgg(
    child: Expression,
    k: Int,
    seed: Long = 42L,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ReservoirBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "reservoir_sample"

  override def createAggregationBuffer(): ReservoirBuf = new ReservoirBuf(k)

  override def update(buf: ReservoirBuf, input: InternalRow): ReservoirBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], seed)
    buf
  }

  override def merge(a: ReservoirBuf, b: ReservoirBuf): ReservoirBuf = a.merge(b, seed)

  override def eval(buf: ReservoirBuf): Any =
    new GenericArrayData(buf.sorted)

  override def serialize(buf: ReservoirBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.seen)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) { out.writeLong(buf.items(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ReservoirBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new ReservoirBuf(k)
    buf.seen = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.items(i) = in.readLong(); i += 1 }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): ReservoirSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReservoirSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** Mutable reservoir: ≤ k items + count of elements seen. */
final class ReservoirBuf(val k: Int) {
  var items: Array[Long] = new Array[Long](k)
  var size: Int = 0
  var seen: Long = 0L

  private def rng(seed: Long, x: Long): Long =
    graft.functions.TextOps.MinHasher.splitmix64(seed ^ x)

  def add(v: Long, seed: Long): Unit = {
    seen += 1
    if (size < k) { items(size) = v; size += 1 }
    else {
      // replace with probability k/seen — standard Algorithm R
      val r = java.lang.Math.floorMod(rng(seed, seen * 0x9E3779B97F4A7C15L), seen)
      if (r < k) items(r.toInt) = v
    }
  }

  /** Weighted merge WITHOUT replacement: shuffle each side, then fill the
    * output by drawing the next unconsumed element from a side chosen
    * with probability proportional to its remaining weight (standard
    * mergeable-reservoir scheme; exact when the sides fit together). No
    * element can be selected twice — each draw consumes its slot. */
  def merge(other: ReservoirBuf, seed: Long): ReservoirBuf = {
    if (other.size == 0) { seen += other.seen; return this }
    if (size < k && other.size <= k - size) {
      var i = 0
      while (i < other.size) { items(size) = other.items(i); size += 1; i += 1 }
      seen += other.seen
      this
    } else {
      val total = seen + other.seen
      shuffleInPlace(seed ^ 0x1234567L)
      other.shuffleInPlace(seed ^ 0x89ABCDEFL)
      val out = new ReservoirBuf(k)
      out.seen = total
      var i1 = 0; var i2 = 0
      var w1 = seen; var w2 = other.seen
      var mix = rng(seed, total)
      while (out.size < k && (i1 < size || i2 < other.size)) {
        mix = rng(seed, mix)
        val pickThis =
          if (i1 >= size) false
          else if (i2 >= other.size) true
          else java.lang.Math.floorMod(mix, w1 + w2) < w1
        if (pickThis) {
          out.items(out.size) = items(i1); i1 += 1
          w1 = math.max(1L, w1 - math.max(1L, seen / k))
        } else {
          out.items(out.size) = other.items(i2); i2 += 1
          w2 = math.max(1L, w2 - math.max(1L, other.seen / k))
        }
        out.size += 1
      }
      items = out.items; size = out.size; seen = out.seen
      this
    }
  }

  /** Deterministic Fisher-Yates over the filled prefix. */
  private def shuffleInPlace(seed: Long): Unit = {
    var i = size - 1
    while (i > 0) {
      val j = java.lang.Math.floorMod(rng(seed, i.toLong), (i + 1).toLong).toInt
      val t = items(i); items(i) = items(j); items(j) = t
      i -= 1
    }
  }

  def sorted: Array[Long] = java.util.Arrays.copyOf(items, size).sorted
}

object ReservoirSampleAgg {
  /** Column handle: `reservoirSample(col("id"), 10)`. */
  def reservoirSample(c: Column, k: Int, seed: Long = 42L): Column =
    GraftBridge.column(
      ReservoirSampleAgg(GraftBridge.expression(c), k, seed).toAggregateExpression())

  /** SQL builder: `reservoir_sample(x, k[, seed])` with k and seed
    * foldable integer literals — the buffer is sized at plan time, so a
    * per-row k cannot bound it. */
  private[plans] def fromSql(children: Seq[Expression]): Expression = {
    require(children.length == 2 || children.length == 3,
      "reservoir_sample(x, k[, seed]) takes 2 or 3 arguments")
    val k = SqlLiterals.int(children(1), "reservoir_sample", "k")
    require(k > 0, s"reservoir_sample: k must be positive, got $k")
    val seed =
      if (children.length == 3) SqlLiterals.long(children(2), "reservoir_sample", "seed")
      else 42L
    ReservoirSampleAgg(children(0), k, seed).toAggregateExpression()
  }
}
