package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface needed to ship custom Catalyst
  * expressions from an external library — the standard shim pattern used
  * by Spark-extension libraries (a single object placed in the
  * org.apache.spark.sql package; everything else in this repo lives under
  * `graft.*`). Kept to the minimum: Column↔Expression conversion and the
  * session internals the engine reads. The engine's functions, as-of
  * strategy and rules reach a session only through
  * `spark.sql.extensions=graft.plans.GraftExtensions`, which is public
  * API and set by the session recipe.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Per-session optimizer-rule registration (idempotent), for the rules
    * that arm only once a session registers something for them (the
    * materialized-view and join-advisor rewrites). Experimental rules run
    * as a LATE fixed-point batch, after the standard operator
    * optimization, so they see the canonical optimized plan shape. */
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

  /** Block until the context's listener bus has delivered every event
    * posted so far, so a listener's counts cover all jobs that already
    * ran (events reach listeners asynchronously). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The session's own id: distinct for every `newSession()`, and a plain
    * string, so a memo keyed on it does not keep the session alive. */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

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
