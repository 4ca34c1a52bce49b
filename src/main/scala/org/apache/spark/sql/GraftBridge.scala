package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge into `private[sql]` surface needed to ship custom Catalyst
  * expressions from an external library — the standard shim pattern used
  * by Spark-extension libraries (a single object placed in the
  * org.apache.spark.sql package; everything else in this repo lives under
  * `graft.*`). Kept to the minimum: Column↔Expression conversion and
  * per-session function registration (deployments should prefer
  * `spark.sql.extensions=graft.plans.GraftExtensions`, which is fully
  * public API).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Per-session SQL function registration (idempotent): a name the
    * session already has — from an earlier call or from
    * [[graft.plans.GraftExtensions]] — is kept. Every graft name has
    * exactly one builder, so a re-registration would only replace it
    * with itself (and log a "replaced a previously registered
    * function" warning per query). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    reg.synchronized {
      if (!reg.functionExists(id))
        reg.registerFunction(id, new ExpressionInfo("graft.plans", name), builder)
    }
  }

  /** Per-session planner-strategy registration (idempotent) — the
    * post-creation path for sessions built without
    * `spark.sql.extensions=graft.plans.GraftExtensions`;
    * `experimental.extraStrategies` is consulted at every plan. */
  def addStrategy(spark: SparkSession,
                  strategy: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Per-session optimizer-rule registration (idempotent). Experimental
    * rules run as a LATE fixed-point batch, after the standard operator
    * optimization — a pushed predicate lands upstream of the custom node
    * but past the scan-pushdown rules; the `spark.sql.extensions` path
    * (`injectOptimizerRule`) instead joins the operator batch and
    * composes with built-in pushdown. */
  def addOptimization(
      spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }

  /** Generated classes Spark's code generator has compiled in this JVM
    * so far, over every session: its `private[spark]` compile counter.
    * A class served from the codegen cache does not count. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Fresh DataFrame over an existing logical plan — a new QueryExecution
    * with zero-valued SQLMetrics (metrics accumulate per physical plan
    * instance; profilers need a plan that has never executed). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's SQLConf — [[graft.sources.EpochStoreScan]] hands it to
    * Spark's own ParquetPartitionReaderFactory (split sizing, vectorized
    * reader toggles, session timezone). */
  def sessionConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** The session's Hadoop conf WITH per-session SQL overrides applied
    * (spark.hadoop.*, spark.sql.* forwards) — what file listings and the
    * parquet readers must see. */
  def sessionHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Broadcast a Hadoop conf in the `private[spark]` wrapper Spark's
    * file reader factories require. */
  def broadcastHadoopConf(spark: SparkSession,
                          conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))

  /** One parquet row writer at `path` — Spark's own ParquetOutputWriter
    * (the encoder the native file sink uses), surfaced as (write, close)
    * thunks so the DSv2 epochstore sink ([[graft.sources.EpochStore]])
    * never references the `private[sql]` class from outside this shim.
    * The TaskAttemptContext's conf must carry the write-support class +
    * row schema keys (the sink primes them, mirroring `prepareWrite`).
    * Executor-side: no session access here. */
  def parquetRowWriter(path: String,
                       context: org.apache.hadoop.mapreduce.TaskAttemptContext)
      : (org.apache.spark.sql.catalyst.InternalRow => Unit, () => Unit) = {
    val w = new execution.datasources.parquet.ParquetOutputWriter(path, context)
    (r => w.write(r), () => w.close())
  }

  /** Output schema of a pushed-down aggregation by Spark's OWN
    * conventions (aggregate columns then grouping columns, the layout
    * V2ScanRelationPushDown's partial-aggregate rewrite expects), or
    * None when the util judges the aggregation unsupported. `schema`
    * must contain the grouping (partition) columns too. */
  def pushedAggSchema(
      agg: connector.expressions.aggregate.Aggregation,
      schema: types.StructType, partitionNames: Set[String])
      : Option[types.StructType] =
    execution.datasources.AggregatePushDownUtils
      .getSchemaForPushedAggregation(agg, schema, partitionNames, Nil)

  /** One partial-aggregate row computed from a parquet FOOTER — Spark's
    * own footer-statistics fold (row counts, null counts, min/max with
    * all its type handling), the machinery behind the native source's
    * aggregate pushdown. Executor-side; throws loudly when the footer
    * lacks the needed statistics. CORRECTED rebase: the epochstore's
    * files are always written by modern Spark. */
  def aggRowFromFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      filePath: String, dataSchema: types.StructType,
      partitionSchema: types.StructType,
      agg: connector.expressions.aggregate.Aggregation,
      aggSchema: types.StructType,
      partitionValues: catalyst.InternalRow): catalyst.InternalRow =
    execution.datasources.parquet.ParquetUtils.createAggInternalRowFromFooter(
      footer, filePath, dataSchema, partitionSchema, agg, aggSchema,
      partitionValues,
      catalyst.util.RebaseDateTime.RebaseSpec(
        internal.LegacyBehaviorPolicy.CORRECTED, None))
}
