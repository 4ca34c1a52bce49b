package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Codegen'd fused cosine similarity over two `array<float>` columns.
  *
  * Why a custom Expression (SURVEY.md §7.2 preference order): the
  * higher-order-function form ([[graft.functions.VectorOps.cosine]]) walks
  * each array three times through interpreted lambdas with boxed
  * elements; this expression is ONE primitive float loop that whole-stage
  * codegen inlines into the surrounding stage. The HOF form stays the
  * default for oracle-checked queries (its decimal chain is
  * cross-engine-exact); this one is for similarity-search hot paths where
  * throughput matters and last-ulp parity doesn't (ANN candidate
  * verification, index builds).
  *
  * Float products are exact in double; the sequential double sum is the
  * standard numeric contract for dot products.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // inferred Seq[ArrayType] — AbstractDataType itself is private[sql]
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // mismatched dimensions yield NULL even for non-null inputs
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // fail loudly (null, not a prefix similarity): truncating to the common
    // prefix would mask an upstream dimension bug with a plausible score
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  ${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0
         |    : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {
  /** Column-API handle; SQL `cosine_sim(a, b)` comes from
    * [[GraftExtensions]]. */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** The engine's Catalyst surface, installed once per session through
  * `spark.sql.extensions=graft.plans.GraftExtensions`. The session recipe
  * (`graft.Bench.sessionBuilder`) sets it, so every session the project
  * builds carries it, and so do their `newSession()` children and
  * streaming clones; a deployment building its own session sets the same
  * conf. It injects:
  *  - 7 SQL functions: `cosine_sim(a, b)` (codegen'd fused cosine),
  *    `top_k(ord, id, k)` (bounded-heap grouped top-k aggregate),
  *    `reservoir_sample(x, k[, seed])` (bounded uniform group sample),
  *    `heavy_hitters(item, m)` (SpaceSaving frequent items),
  *    `count_min(item, depth, width)` (Count-Min frequency sketch),
  *    `hll_registers(item, p)` (HyperLogLog, oracle-checkable registers)
  *    and `kmv_sketch(item, k)` (KMV k-minimum set-operation sketch);
  *  - the as-of join's planner strategy [[AsOfJoinStrategy]], and its two
  *    rules [[PushLeftFiltersThroughAsOfJoin]] and [[PruneAsOfJoinColumns]]
  *    in the operator-optimization batch, where they compose with
  *    Catalyst's own pushdown and pruning down to the source scan.
  * The materialized-view and join-advisor rules are not here: they are
  * written for the late batch and are armed per session by
  * `MaterializedAgg.register` / `JoinAdvisor.arm`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushLeftFiltersThroughAsOfJoin)
    ext.injectOptimizerRule(_ => PruneAsOfJoinColumns)
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("cosine_sim", classOf[CosineSimilarity],
        children => CosineSimilarity(children(0), children(1))),
      ("top_k", classOf[TopKAgg], TopKAgg.fromSql),
      ("reservoir_sample", classOf[ReservoirSampleAgg], ReservoirSampleAgg.fromSql),
      ("heavy_hitters", classOf[HeavyHittersAgg], HeavyHittersAgg.fromSql),
      ("count_min", classOf[CountMinAgg], CountMinAgg.fromSql),
      ("hll_registers", classOf[HllRegistersAgg], HllRegistersAgg.fromSql),
      ("kmv_sketch", classOf[KmvSketchAgg], KmvSketchAgg.fromSql)
    ).foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
  }
}
