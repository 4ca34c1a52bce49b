package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.functions.TextOps.md5Upper64

/** HyperLogLog with CROSS-ENGINE-REPLAYABLE registers (Flajolet et al.,
  * "HyperLogLog: the analysis of a near-optimal cardinality estimation
  * algorithm") — the distinct-count sketch re-expressed so its STATE is
  * an oracle-checkable integer matrix rather than an opaque binary blob.
  *
  * `q_approx_distinct` already covers Spark's built-in
  * `approx_count_distinct` (rows-only by design: its sketch internals
  * are implementation-defined). This aggregate closes that gap for the
  * engine's own sketch family: the item hash is md5-derived (the same
  * [[graft.functions.TextOps.md5Upper64]] = `md5_number_upper` contract
  * every graduated sketch here uses), the register index is the hash's
  * low `p` bits, and the register value is the rank (leading-zero count
  * + 1) of the remaining 64−p bits — all integer arithmetic, so DuckDB
  * rebuilds every register exactly (`GROUP BY bucket, MAX(rank)` over a
  * bit-length expression) and the driver hash-checks the whole state
  * cell-exact. The ESTIMATE (harmonic mean + small-range correction) is
  * [[HllRegistersAgg.estimate]]; HllSpec pins its accuracy against
  * exact distinct counts and the merge's partition-invariance.
  *
  * Why registers-as-rows matter at 100 TB: a mergeable m-register
  * summary (m = 2^p longs; p=6 → 512 B) replaces a distinct shuffle
  * keyed on billions of values; max-merge is idempotent, commutative,
  * associative — safe under retries, partial aggregation, any
  * partitioning. */
case class HllRegistersAgg(
    item: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  // validated HERE (not only in fromSql) so the Scala column API fails
  // at construction, not via a silent 1 << p overflow in an executor
  require(p >= 2 && p <= 16, s"hll_registers: p must be in [2, 16], got $p")

  private val m = 1 << p

  override def children: Seq[Expression] = Seq(item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hll_registers"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = item.eval(input)
    if (v != null) {
      val (b, r) = HllRegistersAgg.bucketRank(v.toString, p)
      if (r > buf(b)) buf(b) = r.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any =
    new GenericArrayData(buf.map(_.toInt))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(o: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(item = c(0))
}

object HllRegistersAgg {

  /** (bucket, rank) of one item — the JVM side of the hash contract:
    * h = md5-u64(key || "|hll"); bucket = h mod 2^p (low p bits); rank =
    * leading-zero count of the remaining 64−p bits, + 1 (so an all-zero
    * remainder ranks 65−p). Pure integer ops on both engines. */
  def bucketRank(key: String, p: Int): (Int, Int) = {
    val h = md5Upper64(key + "|hll")
    val bucket = (h & ((1L << p) - 1)).toInt
    val w = h >>> p // 64−p significant bits
    val rank =
      if (w == 0L) 65 - p
      else (64 - p) - (63 - java.lang.Long.numberOfLeadingZeros(w))
    (bucket, rank)
  }

  /** Column handle: `hllRegisters(col("k"), 6)` → array<int> of 2^p
    * register ranks (bucket-indexed). */
  def hllRegisters(item: Column, p: Int): Column =
    GraftBridge.column(
      HllRegistersAgg(GraftBridge.expression(item), p).toAggregateExpression())

  /** HLL estimate from a register vector (standard bias-corrected form:
    * alpha·m²/Σ2^−M with the small-range linear-counting branch). JVM-
    * side only — the ORACLE checks the integer registers; the float
    * estimate stays out of the cross-engine contract by design. */
  def estimate(registers: Array[Int]): Double = {
    val m = registers.length
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }
    val invSum = registers.map(r => math.pow(2.0, -r)).sum
    val raw = alpha * m * m / invSum
    val zeros = registers.count(_ == 0)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }

  /** SQL builder: `hll_registers(item, p)` with foldable p. */
  private[plans] def fromSql(children: Seq[Expression]): Expression = {
    require(children.length == 2, "hll_registers(item, p) takes exactly 2 arguments")
    val p = SqlLiterals.int(children(1), "hll_registers", "p")
    require(p >= 2 && p <= 16, s"hll_registers: p must be in [2, 16], got $p")
    HllRegistersAgg(children(0), p).toAggregateExpression()
  }
}
