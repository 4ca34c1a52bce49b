package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{element_at, least, lit}
import org.apache.spark.sql.types._

import graft.functions.TextOps.md5Upper64

/** Count-Min sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications") — approximate
  * per-key frequencies in `depth × width` counters regardless of key
  * cardinality: the point-query complement to [[HeavyHittersAgg]] (which
  * answers "which keys are hot", while CMS answers "how often did THIS
  * key occur") and to HLL (which counts distinct keys, not occurrences).
  * At 100 TB a per-key exact count is a shuffle keyed on billions of
  * distinct values; the sketch is a fixed few-KB buffer per partition,
  * one pass, and the merge is elementwise addition — associative and
  * commutative, so partials combine in any order/partitioning.
  *
  * `update` increments one counter per hash row; `estimate` is the
  * minimum over the key's `depth` counters: never an underestimate, and
  * over by at most ~N/width per row in expectation (min over rows drives
  * it down; CountMinSpec pins both properties empirically and exactly —
  * the sketch is fully deterministic given the hash family).
  *
  * The row hashes are md5-derived — `md5-u64(key || "|cms" || d) mod
  * width`, the same [[graft.functions.TextOps.md5Upper64]] =
  * `md5_number_upper` equivalence every graduated sketch in this repo
  * uses — so DuckDB can rebuild the exact counter matrix with two GROUP
  * BYs and the catalog query (`q_cms_counts`) is hash-checked cell-exact
  * rather than rows-only: bucket sums replay as
  * `SUM(cnt) GROUP BY (d, bucket)` and the estimate as the min over d.
  */
case class CountMinAgg(
    item: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  // validated HERE (not only in fromSql) so the Scala column API fails
  // at construction, not with an ArithmeticException inside an executor
  require(depth > 0 && width > 0,
    s"count_min: geometry must be positive, got ($depth, $width)")

  override def children: Seq[Expression] = Seq(item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "count_min"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = item.eval(input)
    if (v != null) {
      val k = v.toString
      var d = 0
      while (d < depth) {
        buf(d * width + CountMinAgg.bucket(k, d, width)) += 1L
        d += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.fill(depth * width)(in.readLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(item = c(0))
}

object CountMinAgg {

  /** Row-`d` bucket of `key` — the JVM side of the cross-engine hash
    * contract (`md5_number_upper(key || "|cms" || d) % width`; unsigned
    * u64 arithmetic, so the mod needs `remainderUnsigned`). */
  def bucket(key: String, d: Int, width: Int): Int =
    java.lang.Long.remainderUnsigned(md5Upper64(key + "|cms" + d), width.toLong).toInt

  /** Column handle: `countMin(col("k"), 4, 64)` → array<long> of the
    * depth×width counter matrix in row-major order. */
  def countMin(item: Column, depth: Int, width: Int): Column =
    GraftBridge.column(
      CountMinAgg(GraftBridge.expression(item), depth, width).toAggregateExpression())

  /** The SAME bucket as [[bucket]], as a pure (codegen'd) column
    * expression — the shared [[graft.functions.TextOps.md5ModCol]]
    * contract, so the probe side of a collected sketch evaluates
    * in-plan without a UDF. */
  def bucketCol(key: Column, d: Int, width: Int): Column =
    graft.functions.TextOps.md5ModCol(key, "|cms" + d, width)

  /** Point-estimate column against a COLLECTED counter matrix (a
    * depth×width long array — a few KB, the same model-sized-literal
    * posture as [[BloomJoin]]'s filter): min over the key's `depth`
    * counters. Pure column ops, so the whole probe stays in codegen. */
  def estimateCol(counters: Array[Long], key: Column, depth: Int, width: Int): Column =
    least((0 until depth).map { d =>
      element_at(lit(counters), lit(d * width) + bucketCol(key, d, width) + 1)
    }: _*)

  /** JVM twin of [[estimateCol]] (for specs and driver-side probes). */
  def estimate(counters: Array[Long], key: String, depth: Int, width: Int): Long =
    (0 until depth).map(d => counters(d * width + bucket(key, d, width))).min

  /** Equi-join SIZE estimate from two same-geometry sketches — the
    * row-wise inner product, minimized over rows (Cormode &
    * Muthukrishnan §4.2): Σ_b a[d][b]·b[d][b] counts every true key
    * match plus hash-collision cross terms, so each row OVERestimates
    * |R ⋈_k S| and the min is the tightest certificate. This is the
    * cardinality input a 100 TB planner consults BEFORE committing to a
    * join strategy (broadcast vs shuffle vs salted) — two O(KB)
    * sketches built in one pass each, no key shuffle; a self-join
    * (a = b) estimates the F2 moment Σ_k c_k², the standard skew
    * statistic. Never underestimates; exact when no bucket holds two
    * distinct keys (CountMinSpec pins both). */
  def joinSizeEstimate(a: Array[Long], b: Array[Long], depth: Int, width: Int): Long = {
    require(a.length == depth * width && b.length == depth * width, "geometry mismatch")
    (0 until depth).map { d =>
      var s = 0L
      var i = d * width
      while (i < (d + 1) * width) { s += a(i) * b(i); i += 1 }
      s
    }.min
  }

  /** SQL builder: `count_min(item, depth, width)` with foldable integer
    * geometry (the counter matrix must size at plan time). */
  private[plans] def fromSql(children: Seq[Expression]): Expression = {
    require(children.length == 3, "count_min(item, depth, width) takes exactly 3 arguments")
    val depth = SqlLiterals.int(children(1), "count_min", "depth")
    val width = SqlLiterals.int(children(2), "count_min", "width")
    require(depth > 0 && width > 0, s"count_min: geometry must be positive, got ($depth, $width)")
    CountMinAgg(children(0), depth, width).toAggregateExpression()
  }
}
