package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.Jobs
import graft.streaming.Jobs.Event

/** Runtime scale profile for the STREAMING layer — the stateful twin of
  * [[ScaleProfile]]'s batch table. Each stateful job replays the events
  * fixture through a MemoryStream in event-time-ordered chunks
  * (watermarks advance the way a live feed advances them) and reports
  * what a 100 TB deployment watches on a long-running stream:
  *
  *   - **stateRows** — the state store's row count after the full
  *     replay (from `StreamingQueryProgress.stateOperators`): the number
  *     that must scale with KEY CARDINALITY (users, open windows,
  *     in-horizon ids), never with lifetime event count. MetricsSpec
  *     gates this for the custom-state jobs.
  *   - **peakStateMem** — max state-store memory across batches.
  *   - **shufBytes** — total shuffle-write bytes across the replay's
  *     stages (a stage listener, detached only after the listener bus
  *     drains; micro-batch boundaries make the same keyed exchange
  *     repeat per trigger, so this is the steady network cost of the
  *     job, not a one-shot).
  *   - **inputRows / batches / sec** — replay volume and wall time.
  *
  * The foreachBatch ingest pipelines (dedup/media/IVF index
  * maintenance) land their state in EXTERNAL epoch stores, not the
  * state store — their scale posture is profiled by the batch table
  * (probe queries) and the index specs; the listing file-stream is
  * driven by its own JSON fixtures in StreamingSpec. This profile
  * covers every state-store-backed job. */
object StreamScale {

  final case class JobProfile(name: String, batches: Int, inputRows: Long,
                              stateRows: Long, peakStateMem: Long,
                              shufBytes: Long, shufRecords: Long, sec: Double)

  private final class ShuffleTally extends SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  /** Events of the fixture in event-time order — the replay feed. */
  def eventFeed(spark: SparkSession, sfDir: String): Seq[Event] = {
    import spark.implicits._
    graft.core.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq.sortBy(e => Jobs.eventTimeMicros(e.ts))
  }

  /** Run one job over the replay and collect its profile. `start` builds
    * the query from the typed input stream; chunks are fed in event-time
    * order with `processAllAvailable` per chunk (one micro-batch each). */
  def profileJob(spark: SparkSession, name: String, feed: Seq[Event],
                 chunk: Int = 500)
                (start: Dataset[Event] => StreamingQuery): JobProfile = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    replayed(spark, name) {
      val in = MemoryStream[Event]
      val q = start(in.toDS())
      try {
        feed.grouped(chunk).foreach { c => in.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      q
    }
  }

  /** Two-input variant for the stream-stream join: both sides fed in
    * lockstep so the global (min) watermark advances. */
  def profileJoin(spark: SparkSession, name: String, feed: Seq[Event],
                  chunk: Int = 500)
                 (start: (DataFrame, DataFrame) => DataFrame): JobProfile = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    replayed(spark, name) {
      val views = MemoryStream[Event]
      val clicks = MemoryStream[Event]
      val q = start(views.toDF(), clicks.toDF())
        .writeStream.format("noop").outputMode("append").start()
      try {
        val vs = feed.filter(_.event_type == "view").grouped(chunk).toSeq
        val cs = feed.filter(_.event_type == "click").grouped(chunk).toSeq
        vs.zipAll(cs, Seq.empty[Event], Seq.empty[Event]).foreach { case (v, c) =>
          if (v.nonEmpty) views.addData(v: _*)
          if (c.nonEmpty) clicks.addData(c: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      q
    }
  }

  /** Time `replay` (start, feed and stop one query) under the stage
    * tally and read the stopped query's progress into its profile. The
    * listener bus is drained before the tally is detached, so every
    * stage event of the replay reaches it. */
  private def replayed(spark: SparkSession, name: String)
                      (replay: => StreamingQuery): JobProfile = {
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    val (q, sec) = try {
      val t0 = System.nanoTime()
      val q = replay
      val sec = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark)
      (q, sec)
    } finally spark.sparkContext.removeSparkListener(tally)
    val progress = q.recentProgress.toSeq
    val stateRows = progress.reverse
      .collectFirst { case p if p.stateOperators.nonEmpty =>
        p.stateOperators.map(_.numRowsTotal).sum }
      .getOrElse(0L)
    val peakMem = progress
      .map(p => p.stateOperators.map(_.memoryUsedBytes).sum)
      .maxOption.getOrElse(0L)
    JobProfile(name, progress.size, progress.map(_.numInputRows).sum, stateRows,
      peakMem, tally.bytes.get(), tally.records.get(), sec)
  }

  private def noop(df: DataFrame, mode: String): StreamingQuery =
    df.writeStream.format("noop").outputMode(mode).start()

  /** Run `body` with the session's state-store provider switched (null =
    * Spark's default HDFSBackedStateStoreProvider), restoring after. The
    * conf is read per streaming query at START, so switching between
    * profile runs is safe — running queries keep their provider. */
  def withStateProvider[T](spark: SparkSession, provider: String)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    if (provider == null) spark.conf.unset(key) else spark.conf.set(key, provider)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The out-of-heap scale path: Spark's bundled RocksDB provider. The
    * default provider holds every state row on the executor HEAP (state
    * size is bounded by executor memory — fine for key-cardinality-
    * bounded state, fatal for 100 TB watermark joins whose in-horizon
    * buffer is GBs per partition); RocksDB spills state to local SSD with
    * changelog/snapshot files in the checkpoint, so per-partition state
    * is bounded by DISK, and executor heap holds only block cache.
    * [[ScaleProfile]] profiles every job under BOTH providers and
    * SCALE.md carries the two tables; StreamingSpec proves replay
    * equality (same answers either side). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Profile every state-store-backed job over the fixture replay.
    * `withTws` adds the transformWithState job — pass it only when the
    * session's provider is RocksDB (OSS Spark rejects the operator on
    * the heap provider). */
  def run(spark: SparkSession, sfDir: String,
          withTws: Boolean = false): Seq[JobProfile] = {
    val feed = eventFeed(spark, sfDir)
    val dim = graft.core.Tables.customer(spark, sfDir)
    (if (withTws)
      Seq(profileJob(spark, "statefulSessionsTws", feed)(ds =>
        noop(Jobs.statefulSessionsTws(ds).toDF(), "append")))
    else Nil) ++ Seq[JobProfile](
      profileJob(spark, "windowedAgg", feed)(ds => noop(Jobs.windowedAgg(ds.toDF()), "append")),
      profileJob(spark, "sessionAgg", feed)(ds => noop(Jobs.sessionAgg(ds.toDF()), "append")),
      profileJob(spark, "dedupStream", feed)(ds => noop(Jobs.dedupStream(ds.toDF()), "append")),
      profileJob(spark, "windowedHeavyHitters", feed)(ds =>
        noop(Jobs.windowedHeavyHitters(ds.toDF()), "append")),
      profileJob(spark, "statefulUserProfile", feed)(ds =>
        noop(Jobs.statefulUserProfile(ds).toDF(), "update")),
      profileJob(spark, "statefulFunnel", feed)(ds =>
        noop(Jobs.statefulFunnel(ds).toDF(), "update")),
      profileJob(spark, "statefulRetention", feed)(ds =>
        noop(Jobs.statefulRetention(ds).toDF(), "update")),
      profileJoin(spark, "streamStreamJoin", feed)(Jobs.streamStreamJoin(_, _)),
      profileJob(spark, "streamStaticJoin", feed)(ds =>
        noop(Jobs.streamStaticJoin(ds.toDF(), dim), "append")))
  }
}
