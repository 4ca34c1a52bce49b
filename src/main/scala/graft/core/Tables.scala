package graft.core

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata layout (`<sfDir>/<name>.parquet`,
  * see TESTDATA.md). Plain parquet scans so Catalyst gets full filter
  * pushdown / column pruning.
  *
  * Each table's schema is inferred once per session. A bare
  * `spark.read.parquet` infers the schema from the file footers with a
  * Spark job of its own on every call (75-105 ms warm for `lineitem` at
  * sf0.01 on a 4-core box, against 5-8 ms for a read given its schema),
  * and one read query calls these loaders up to 5 times. So `read`
  * memoizes the inferred `StructType`, keyed on (session id, path,
  * listing fingerprint: every file's name, length and mtime), and every
  * read is `spark.read.schema(s).parquet`:
  *  - a file rewritten in place changes the fingerprint, so its schema
  *    is inferred again;
  *  - each session infers its own, because inference reads session confs
  *    (`events` sets `spark.sql.legacy.parquet.nanosAsLong`).
  * The memo holds schemas only, never a DataFrame: each call still builds
  * its own relation with fresh exprIds. A shared DataFrame would give both
  * sides of a self-join the same attributes and turn `a("k") === b("k")`
  * trivially true (the catalog audit in `PlanAudit` catches exactly that).
  */
object Tables {
  // ~10 tables per (session, sfDir): 256 entries cover the test suite's
  // sessions and scale factors with headroom; an evicted schema is just
  // inferred again
  private val schemas =
    new BoundedMemo[(String, String, Seq[(String, Long, Long)]), StructType](256)((_, _) => ())

  private def fingerprint(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(GraftBridge.sessionHadoopConf(spark))
    // plain listStatus: listFiles' block-location lookup costs ~4 ms a
    // call on the local filesystem, 200x a listing
    def files(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(f => if (f.isDirectory) files(f.getPath) else Seq(f))
    // a missing path keys on Nil: inference then fails with Spark's own
    // error, and a failed build is retried on the next call
    try files(p).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemas.get((GraftBridge.sessionId(spark), path, fingerprint(spark, path))) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  /** `events.ts` has shipped in two physical parquet layouts, so the load
    * dispatches on the observed Spark type rather than assuming either:
    *
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) — current fixtures. Spark
    *    reads TIMESTAMP_NTZ; we cast to TimestampType (session TZ is UTC
    *    everywhere in this repo, so the cast is wall-clock identity and the
    *    DuckDB oracle's `CAST(ts AS TIMESTAMP)` sees the same instants).
    *  - TIMESTAMP(NANOS) — older fixtures. Spark's parquet reader has no
    *    TimestampType mapping for NANOS at all; with
    *    `spark.sql.legacy.parquet.nanosAsLong` it surfaces as raw-nanos
    *    LongType, which we truncate to µs. Integer `div`, not `/`: DuckDB
    *    TRUNCATES ns→µs, and double division would round ~12% of rows
    *    1 µs high and diverge from the oracle.
    *
    * Post-load contract (asserted in CatalogSpec): `ts` is TimestampType.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // Set once and never restored: the conf is required for the NANOS
    // layout and inert for every other table/layout. (A set-then-restore
    // was racy — concurrent plan-building threads could observe the
    // restore mid-read and fail the scan.)
    Tables.synchronized {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val df = read(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
