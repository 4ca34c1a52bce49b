package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{
  Expressions, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.core.EpochManifest

/** The write half of the epochstore connector: a DSv2 batch sink that IS
  * the manifest commit protocol —
  *
  *   df.write.format("epochstore")
  *     .option("path", root).option("epoch", e)
  *     [.option("partitionColumn", c)]
  *     .mode("append").save()
  *
  * lands the batch as one immutable attempt dir (tasks write Spark's own
  * parquet encoding via [[GraftBridge.parquetRowWriter]] — the engine
  * plans WHAT to write, the battle-tested parquet path does the bytes)
  * and the driver-side [[EpochStoreBatchWrite.commit]] publishes it with
  * ONE atomic manifest rename as `epoch`'s (replacement) entry — the
  * exact [[EpochManifest.append]] semantics, so a retried job replaces
  * its epoch instead of duplicating it, the fold guard refuses to
  * overwrite a compaction, and a concurrent reader's pinned snapshot
  * never observes the half-written dir (it is not in any manifest until
  * the commit). A failed/aborted job leaves only an uncommitted orphan
  * dir for the next gc.
  *
  * `partitionColumn` materializes `col=value` subdirectories (the store
  * bucket/cell layout the read side prunes); rows are written WITHOUT
  * the partition column, matching the read side's dir-derived column.
  * Only append mode is supported — epoch replacement is the protocol's
  * own idempotence; there is nothing for Overwrite to add.
  *
  * Scale shape: one parquet file per (task, partition value) with lazy
  * creation (empty tasks write nothing); commit cost is one driver-side
  * manifest rename regardless of file count; speculative duplicate
  * attempts are resolved by Spark's output commit coordinator and the
  * losing attempt's [[EpochStoreDataWriter.abort]] deletes its files. */
final class EpochStoreWriteBuilder(info: LogicalWriteInfo)
    extends WriteBuilder
    // update-mode streaming writes land as APPENDED epochs — exactly the
    // store's semantics: each epoch carries the keys the batch updated,
    // and EpochStore.readLatest serves the current value per key
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  /** `INSERT OVERWRITE` (static mode / `TRUNCATE`-then-append): the
    * commit publishes (post-delete survivors of the filter) + the new
    * epoch as ONE manifest generation — the overwrite appears
    * atomically and the previous snapshot stays time-travelable.
    * Filter handling is [[EpochStoreDml.resolveDelete]]'s
    * metadata-first contract. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    filters.foreach(f => require(EpochStoreDml.filterToColumn(f).isDefined,
      s"epochstore INSERT OVERWRITE cannot translate filter $f"))
    overwriteMode = EpochOverwrite.ByFilters(filters)
    this
  }

  /** `INSERT OVERWRITE` under dynamic partition-overwrite mode: only
    * the partition values the batch actually WRITES are replaced — the
    * filter is derived at commit from the committed files' dirs. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    overwriteMode = EpochOverwrite.DynamicParts
    this
  }

  private var overwriteMode: EpochOverwrite = EpochOverwrite.AppendOnly

  private def partColsOf(): Seq[String] = {
    val cols = EpochStore.partColsOf(info.options())
    cols.foreach(c => require(info.schema().fieldNames.contains(c),
      s"partitionColumn $c is not in the written schema"))
    cols
  }

  /** `bucketColumn`/`bucketCount`: the hash-bucket layout
    * ([[EpochStore.StoreBucket]]) — `<col>_bucket=K` dirs, the column
    * KEPT in the files. Integral and string columns (the bucket hash
    * needs a stable catalyst representation on both sides). */
  private def bucketOf2(): Option[EpochStore.StoreBucket] = {
    val b = EpochStore.bucketOf(info.options())
    b.foreach { sb =>
      val f = info.schema().fields.find(_.name == sb.col).getOrElse(
        throw new IllegalArgumentException(
          s"bucketColumn ${sb.col} is not in the written schema"))
      import org.apache.spark.sql.types._
      require(Set[DataType](ByteType, ShortType, IntegerType, LongType,
        StringType)(f.dataType),
        s"bucketColumn ${sb.col} has type ${f.dataType} — only integral " +
          "and string columns have a stable cross-side bucket hash")
    }
    b
  }

  /** The `transform` option — the time-unit/truncate level
    * ([[StoreTransform]]): `<col>_<kind>=<unit>` dirs, the column KEPT
    * in the files, range predicates pruned to unit-range dir sets at
    * scan planning. */
  private def transformOf2(): Option[StoreTransform] = {
    val t = EpochStore.transformOf(info.options())
    t.foreach { tr =>
      val f = info.schema().fields.find(_.name == tr.col).getOrElse(
        throw new IllegalArgumentException(
          s"transform column ${tr.col} is not in the written schema"))
      StoreTransform.validate(tr, f.dataType)
    }
    t
  }

  /** `bloomColumn`: build one bloom-filter SIDECAR per data file over
    * this column's values (`_skip/<rel>.bloom`) — the read side skips
    * whole files on point lookups ([[EpochStoreScan]]). Integral and
    * string columns only (the probe must hash the same representation
    * the writer inserted); anything else fails at write planning. */
  private def bloomOf(): Option[BloomSpec] =
    Option(info.options().get("bloomColumn")).map { c =>
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloomColumn $c is not in the written schema"))
      require(!partColsOf().contains(c),
        s"bloomColumn $c is a partition column — dir pruning already " +
          "covers it exactly; pick a data column")
      import org.apache.spark.sql.types._
      require(Set[DataType](ByteType, ShortType, IntegerType, LongType,
        StringType)(f.dataType),
        s"bloomColumn $c has type ${f.dataType} — only integral and " +
          "string columns have a stable cross-side hash representation")
      BloomSpec(c,
        Option(info.options().get("bloomExpectedItems")).map(_.toLong)
          .getOrElse(100000L),
        Option(info.options().get("bloomFpp")).map(_.toDouble)
          .getOrElse(0.03))
    }

  /** `statsColumns`: record per-file min / max / null counts for these
    * columns in the epoch's `_skip/stats.json` sidecar (written by the
    * driver at commit from task messages — [[EpochStoreStats]]); the
    * read side skips whole files on range / equality / null-ness
    * predicates. Integral, float/double, and string columns only (the
    * probe compares the same representation the writer accumulated). */
  private def statsOf(): Seq[(String, Char)] =
    Option(info.options().get("statsColumns")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).map { c =>
        val f = info.schema().fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"statsColumns column $c is not in the written schema"))
        require(!partColsOf().contains(c),
          s"statsColumns column $c is a partition column — dir pruning " +
            "already covers it exactly; pick a data column")
        import org.apache.spark.sql.types._
        val kind = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => 'l'
          case FloatType | DoubleType => 'd'
          case StringType => 'S'
          case other => throw new IllegalArgumentException(
            s"statsColumns column $c has type $other — only integral, " +
              "float/double, and string columns have a stable cross-side " +
              "comparison")
        }
        c -> kind
      }

  /** `sortColumns`: the write-side LAYOUT declaration — rows are sorted
    * by these columns within each file, and (absent a partition column)
    * the job is RANGE-distributed over them, so files cover DISJOINT
    * value ranges: the layout that makes `statsColumns` skipping and the
    * ORDER-BY-LIMIT file bound maximally effective. With a partition
    * column, `clusteredWrite=true` (implied by sortColumns) additionally
    * clusters rows so each partition VALUE lands in one task — one file
    * per value instead of one per (task, value), the small-files control
    * a 1000-executor append needs. */
  private def sortOf(): Seq[(String, Boolean)] =
    Option(info.options().get("sortColumns")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).map { s =>
        // `"price"` / `"price asc"` / `"price desc"` — the direction is
        // recorded with the layout and reported back at scan time
        val (c, desc) = EpochStore.parseSortCol(s)
        require(info.schema().fieldNames.contains(c),
          s"sortColumns column $c is not in the written schema")
        (c, desc)
      }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    private val partCols = partColsOf()
    private val sortPairs = sortOf()
    private val sortCols = sortPairs.map(_._1)
    /** The recorded sidecar spelling: `name` (asc) / `name DESC`. */
    private val sortRecorded: Seq[String] =
      sortPairs.map { case (c, d) => if (d) s"$c DESC" else c }
    private val clustered: Boolean = partCols.nonEmpty &&
      (sortCols.nonEmpty ||
        java.lang.Boolean.parseBoolean(
          String.valueOf(info.options().get("clusteredWrite"))))

    private def asc(c: String): SortOrder =
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING,
        NullOrdering.NULLS_FIRST)
    /** Directional order: ascending = nulls first, descending = nulls
      * last (Spark's own defaults for asc/desc), so the written file
      * order IS the order the scan later reports. */
    private def dirOrder(p: (String, Boolean)): SortOrder =
      if (p._2)
        Expressions.sort(Expressions.column(p._1), SortDirection.DESCENDING,
          NullOrdering.NULLS_LAST)
      else asc(p._1)

    /** `clusterByBucket=true` (bucket layouts, CATALOG-routed writes
      * only): cluster the job on the bucket TRANSFORM itself, so each
      * bucket's rows land in one task — ≤ n files per write instead of
      * tasks × n, the 1000-executor small-files control (Iceberg's
      * hash distribution mode). Resolution of `bucket(n, col)` needs
      * the FunctionCatalog face, which only catalog-routed writes
      * carry — a path-based write with this option fails loudly at
      * planning rather than landing an unclustered layout silently. */
    private val clusterByBucket: Boolean =
      java.lang.Boolean.parseBoolean(
        String.valueOf(info.options().get("clusterByBucket"))) && {
        require(bucketOf2().nonEmpty,
          "clusterByBucket=true needs a bucketColumn/bucketCount layout")
        true
      }
    private def bucketExpr =
      Expressions.bucket(bucketOf2().get.n, bucketOf2().get.col)

    /** Clustered by the partition column when asked (or when sorting —
      * a sorted file per dir needs the dir's rows together); globally
      * RANGE-ordered on the sort columns for unpartitioned sorted
      * stores; no requirement otherwise (existing writes keep their
      * plans — the distribution is opt-in). */
    override def requiredDistribution(): Distribution =
      if (clusterByBucket)
        Distributions.clustered(
          (partCols.map(c => Expressions.identity(c)) :+ bucketExpr)
            .toArray[org.apache.spark.sql.connector.expressions.Expression])
      else if (clustered)
        Distributions.clustered(
          partCols.map(c => Expressions.identity(c))
            .toArray[org.apache.spark.sql.connector.expressions.Expression])
      else if (sortCols.nonEmpty)
        Distributions.ordered(sortPairs.map(dirOrder).toArray)
      else Distributions.unspecified()

    override def requiredOrdering(): Array[SortOrder] =
      if (clusterByBucket)
        // bucket-major so each task's (single) bucket writes one
        // contiguous, internally sorted file
        (Expressions.sort(bucketExpr, SortDirection.ASCENDING,
          NullOrdering.NULLS_FIRST) +:
          (partCols.map(asc) ++ sortPairs.map(dirOrder))).toArray
      else ((if (clustered) partCols else Nil).map(asc) ++
        sortPairs.map(dirOrder)).toArray

    /** `writePartitions` pins the task count of a distributed write —
      * with an ordered distribution that is the FILE count (file-size
      * control for the sorted layout); 0 = Spark picks. */
    override def requiredNumPartitions(): Int =
      Option(info.options().get("writePartitions")).map(_.toInt).getOrElse(0)

    override def toBatch: BatchWrite = {
      val opts = info.options()
      val root = EpochStore.rootOf(opts)
      // no explicit epoch (catalog SQL INSERT): auto-allocate the next
      // one — single-writer contract; explicit epochs remain the
      // multi-writer / retry-idempotent protocol
      val explicitEpoch = Option(opts.get("epoch")).map(_.toLong)
      val epoch = explicitEpoch.getOrElse {
        val base = Option(opts.get("branch"))
          .map(b => EpochManifest.branchEntries(SparkSession.active, root, b))
          .getOrElse(EpochManifest.entries(SparkSession.active, root))
        base.map(_.epoch).maxOption.map(_ + 1L).getOrElse(0L)
      }
      val branch = Option(opts.get("branch"))
      branch.foreach(b => require(overwriteMode == EpochOverwrite.AppendOnly,
        s"INSERT OVERWRITE onto branch '$b' is not supported — branches " +
          "take epoch appends; publish replaces main atomically"))
      // dynamic overwrite on a hash-bucket layout: the replaced set is
      // the WRITTEN BUCKETS (derived at commit from the committed files'
      // `<col>_bucket=K` path segments), never the whole table — the
      // commit path resolves it bucket-aware ([[EpochStoreBatchWrite]])
      // instead of falling into the unpartitioned AlwaysTrue branch
      new EpochStoreBatchWrite(root, epoch, info.schema(), partColsOf(),
        bloomOf(), statsOf(), overwriteMode, branch,
        autoEpoch = explicitEpoch.isEmpty, bucketSpec = bucketOf2(),
        sortCols = sortRecorded, transformSpec = transformOf2())
    }

    /** Streaming: each micro-batch is one manifest epoch (epoch id =
      * batch id, no `epoch` option) — `writeStream.format("epochstore")`
      * is the connector form of the engine's foreachBatch ingest flows.
      * Exactly-once across restarts for free: a replayed batch's commit
      * REPLACES its epoch's entry ([[EpochManifest.commitEpochDir]]),
      * the same idempotence every epoch-keyed `Jobs` sink proves. */
    override def toStreaming: StreamingWrite = {
      val opts = info.options()
      new EpochStoreStreamingWrite(EpochStore.rootOf(opts), info.queryId(),
        info.schema(), partColsOf(), bloomOf(), statsOf(), sortRecorded,
        bucketOf2(), transformOf2())
    }
  }
}

/** Write-time CHECK constraints — the store's data-quality gate
  * (Delta's CHECK constraints on the manifest protocol): declared
  * predicates live in `_manifests/constraints.v<N>.json`, and EVERY commit
  * path (batch sink, streaming epoch, overwrite, row-level rewrite)
  * validates its staged epoch against all of them BEFORE the manifest
  * publish — a violating write throws with the constraint name and
  * violation count, and the epoch never becomes visible (the staged dir
  * is an unreferenced orphan for gc). SQL CHECK semantics: a row
  * violates only when the expression is FALSE — null passes.
  *
  * Scale shape: enforcement reads only the NEW epoch's staged files
  * (delta-sized, one pass for ALL constraints via a fused aggregate) —
  * the 100 TB history is never re-validated; declaring a constraint
  * gates future writes, it does not retro-scan. */
object EpochStoreConstraints {

  // `_manifests/constraints.v<N>.json`, one of the store's versioned
  // metadata logs (EpochManifest.publishNext): racing add/drop calls
  // each land exactly once, validated against the set they follow, and
  // a commit path's enforce() racing them reads a complete set — the
  // previous version outlives each publish, and a vanished head re-lists
  private def log(spark: SparkSession, root: String) =
    (new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark)),
      new Path(s"$root/_manifests"))

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  }
  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        sb.append(s.charAt(i + 1) match {
          case 'n' => '\n'; case c => c
        }); i += 2
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def parse(body: Option[String]): Seq[(String, String)] =
    body.toSeq.flatMap(_.linesIterator.filter(_.nonEmpty)).map { line =>
      // fixed shape {"name":"...","expr":"..."} with \-escaping
      val n = line.split("\"name\":\"")(1)
      val name = unesc(n.substring(0, unescEnd(n)))
      val e = line.split("\"expr\":\"")(1)
      (name, unesc(e.substring(0, unescEnd(e))))
    }

  /** Index of the closing unescaped quote. */
  private def unescEnd(s: String): Int = {
    var i = 0
    while (i < s.length && s.charAt(i) != '"') {
      if (s.charAt(i) == '\\') i += 1
      i += 1
    }
    i
  }

  /** Declared constraints, (name, SQL expression), declaration order. */
  def list(spark: SparkSession, root: String): Seq[(String, String)] = {
    val (fs, md) = log(spark, root)
    parse(EpochManifest.readHead(fs, md, "constraints.v").body)
  }

  /** OCC update: `change` maps the CURRENT declared set to the next. */
  private def update(spark: SparkSession, root: String)
                    (change: Seq[(String, String)] => Seq[(String, String)]): Unit = {
    val (fs, md) = log(spark, root)
    EpochManifest.publishNext(fs, md, "constraints.v",
      s"constraint write under $root") { b =>
      val cs = change(parse(b))
      cs.map { case (n, e) => s"""{"name":"${esc(n)}","expr":"${esc(e)}"}""" }
        .mkString("", "\n", if (cs.isEmpty) "" else "\n")
    }
    ()
  }

  /** Declare `name CHECK (expr)`. The expression is ANALYZED against
    * the store's evolved schema when one is recorded — a typo fails
    * here, not at the first write. */
  def add(spark: SparkSession, root: String, name: String,
          expression: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"constraint name '$name' — use [A-Za-z0-9._-]+")
    scala.util.Try(EpochStore.evolvedSchema(spark, root)._1).toOption
      .foreach { s =>
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s)
          .filter(org.apache.spark.sql.functions.expr(expression))
          .queryExecution.analyzed
      }
    update(spark, root) { existing =>
      require(!existing.exists(_._1 == name),
        s"constraint '$name' already declared under $root")
      existing :+ (name, expression)
    }
  }

  /** Drop a declared constraint; future writes stop checking it. */
  def drop(spark: SparkSession, root: String, name: String): Unit =
    update(spark, root) { existing =>
      require(existing.exists(_._1 == name),
        s"no constraint '$name' under $root — declared: " +
          existing.map(_._1).mkString(", "))
      existing.filterNot(_._1 == name)
    }

  /** Validate one staged epoch dir against every declared constraint —
    * ONE fused aggregate pass over the staged files; throws (epoch
    * unpublished) naming the first violated constraint and its row
    * count. Called by every commit path before its manifest publish. */
  def enforce(spark: SparkSession, root: String, stagedDir: String,
              schema: StructType): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val cs = list(spark, root)
    if (cs.isEmpty) return
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    if (!fs.exists(new Path(stagedDir))) return
    val df = spark.read.schema(schema).parquet(stagedDir)
    val aggs = cs.zipWithIndex.map { case ((_, ex), i) =>
      sum(when(not(coalesce(expr(ex).cast("boolean"), lit(true))), 1L)
        .otherwise(0L)).as(s"c$i")
    }
    val counts = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, ex), i) =>
      val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (bad > 0L) throw new IllegalStateException(
        s"epochstore CHECK constraint '$n' violated by $bad row(s) of " +
          s"this write: CHECK ($ex) — the epoch was NOT published")
    }
  }
}

/** File-skipping sidecar spec: one bloom per data file over `col`,
  * sized for `expected` items at `fpp`. Overflow past `expected` only
  * degrades the false-positive rate — never the no-false-negative
  * guarantee the skipping relies on. */
final case class BloomSpec(col: String, expected: Long, fpp: Double)

object BloomSpec {
  /** Store-level declaration of the sidecar column (`_bloom.json` under
    * the root): written once by the first bloom-indexed commit
    * ([[EpochManifest.declareOnce]] — racing first writers get one
    * winner), read by scans so SQL/catalog readers get skipping with NO
    * option. A later write indexing a DIFFERENT column refuses loudly —
    * probing column c against sidecars built on c' would false-drop
    * files. */
  def publish(spark: SparkSession, root: String, col: String): Unit = {
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val existing = declared(spark, root).getOrElse(columnOf(
      EpochManifest.declareOnce(fs, new Path(root, "_bloom.json"),
        s"""{"column":"$col"}""")))
    require(existing == col,
      s"store $root already declares bloomColumn $existing; writing " +
        s"sidecars on $col would poison its skip probes")
  }

  private def columnOf(body: String): String =
    body.split("\"column\":\"")(1).takeWhile(_ != '"')

  def declared(spark: SparkSession, root: String): Option[String] = {
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val p = new Path(root, "_bloom.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(columnOf(body))
    }
  }
}

/** Streaming epochs: tasks write each batch under an uncommitted
  * `.w<queryId>-e<batch>` staging dir; `commit(batch)` renames it to a
  * fresh attempt dir and publishes it as epoch `batch`'s (replacement)
  * manifest entry — one atomic rename pair per micro-batch, invisible to
  * readers until published. */
final class EpochStoreStreamingWrite(root: String, queryId: String,
                                     schema: StructType,
                                     partCols: Seq[String],
                                     bloom: Option[BloomSpec] = None,
                                     statsCols: Seq[(String, Char)] = Nil,
                                     sortCols: Seq[String] = Nil,
                                     bucketSpec: Option[EpochStore.StoreBucket] =
                                       None,
                                     transformSpec: Option[StoreTransform] =
                                       None)
    extends StreamingWrite {

  private def stagingDir(epochId: Long) = s"$root/.w$queryId-e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val spark = SparkSession.active
    // a PREVIOUS run of this query that crashed between staging and
    // commit left .w<queryId>-e* dirs behind; the restart replays those
    // epochs into the same staging paths, so stale attempt files must go
    // BEFORE any new task writes (the checkpoint lock guarantees no
    // concurrent run of this queryId)
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    if (fs.exists(new Path(root)))
      fs.listStatus(new Path(root)).toSeq
        .filter(_.getPath.getName.startsWith(s".w$queryId-e"))
        .foreach(s => fs.delete(s.getPath, true))
    bloom.foreach(b => BloomSpec.publish(spark, root, b.col))
    new EpochStoreStreamingWriterFactory(s"$root/.w$queryId", schema, partCols,
      EpochStoreBatchWrite.primedConf(spark, schema, partCols), bloom,
      statsCols, bucketSpec, transformSpec)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val dir = EpochManifest.newDataDir(spark, root, epochId)
    val staged = new Path(stagingDir(epochId))
    // a dead task's partial files never appear in a commit message —
    // drop them so the published epoch holds exactly the committed files
    EpochStoreWrite.pruneToCommitted(fs, staged, messages)
    if (fs.exists(staged))
      require(fs.rename(staged, new Path(s"$root/$dir")),
        s"epochstore streaming commit rename $staged -> $root/$dir failed")
    else fs.mkdirs(new Path(s"$root/$dir")): Unit // empty batch, still an epoch
    // quality gate per micro-batch: a violating batch fails the QUERY
    // with its epoch unpublished (exactly-once intact — the restart
    // replays the batch against the fixed constraint set)
    EpochStoreConstraints.enforce(spark, root, s"$root/$dir", schema)
    // the stats sidecar is driver-written AFTER the staging rename and
    // BEFORE the manifest publish — the epoch appears with its stats or
    // not at all
    EpochStoreStats.write(fs, root, dir,
      messages.collect { case m: EpochFilesWritten => m.fileStats }.flatten.toSeq)
    EpochStoreWrite.writeSchemaSidecar(fs, root, dir, schema, partCols,
      bucketSpec, sortCols, transformSpec)
    EpochManifest.commitEpochDir(spark, root, epochId, dir)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    fs.delete(new Path(stagingDir(epochId)), true): Unit
  }
}

/** How a batch epoch PUBLISHES: plain append (epoch replacement on
  * retry), or an overwrite whose commit atomically pairs the new epoch
  * with the removal of what it replaces. */
sealed trait EpochOverwrite
object EpochOverwrite {
  case object AppendOnly extends EpochOverwrite
  /** Static `INSERT OVERWRITE` — replace rows matching the AND of the
    * filters (AlwaysTrue = whole-table truncate-and-append). */
  final case class ByFilters(filters: Array[Filter]) extends EpochOverwrite
  /** Dynamic partition overwrite — replace exactly the partition
    * values the batch wrote. */
  case object DynamicParts extends EpochOverwrite
}

final class EpochStoreBatchWrite(root: String, epoch: Long,
                                 schema: StructType, partCols: Seq[String],
                                 bloom: Option[BloomSpec] = None,
                                 statsCols: Seq[(String, Char)] = Nil,
                                 overwrite: EpochOverwrite =
                                   EpochOverwrite.AppendOnly,
                                 branch: Option[String] = None,
                                 autoEpoch: Boolean = false,
                                 bucketSpec: Option[EpochStore.StoreBucket] =
                                   None,
                                 sortCols: Seq[String] = Nil,
                                 transformSpec: Option[StoreTransform] = None)
    extends BatchWrite {

  // transform levels compose with metadata-only spec evolution (X92 ∘
  // X93): a layout-log store accepts transform writes like any other —
  // the entry records its own transform sidecar, probes prune its unit
  // dirs exactly when they match the probed transform, and every other
  // reader degrades to the unpruned-but-exact per-entry walk

  // fail a doomed job before any executor work; declaring the bloom
  // column early is safe — declared-but-sidecarless files always stay
  // (overwrites never replace BY epoch, so the fold guard is append-only;
  // branch appends re-check inside their own CAS rebase)
  if (overwrite == EpochOverwrite.AppendOnly && branch.isEmpty)
    EpochManifest.guardNotFold(SparkSession.active, root, epoch)
  bloom.foreach(b => BloomSpec.publish(SparkSession.active, root, b.col))

  /** The attempt dir is allocated ONCE here (driver, write planning) —
    * every task writes under it; commit publishes it or gc reclaims it. */
  private val dir: String =
    EpochManifest.newDataDir(SparkSession.active, root, epoch)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new EpochStoreWriterFactory(s"$root/$dir", schema, partCols,
      EpochStoreBatchWrite.primedConf(SparkSession.active, schema, partCols),
      bloom, statsCols, bucketSpec, transformSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    // a dead task's partial files never appear in a commit message —
    // drop them so the published epoch holds exactly the committed files
    EpochStoreWrite.pruneToCommitted(fs, new Path(s"$root/$dir"), messages)
    // quality gate: the staged epoch must satisfy every declared CHECK
    // constraint or it is never published
    EpochStoreConstraints.enforce(spark, root, s"$root/$dir", schema)
    val files = messages.collect { case m: EpochFilesWritten => m.files.size }.sum
    if (files == 0) {
      // an all-empty batch still commits a (readable) empty epoch dir —
      // the explicit-schema read contract keeps it resolvable
      fs.mkdirs(new Path(s"$root/$dir")): Unit
    }
    EpochStoreStats.write(fs, root, dir,
      messages.collect { case m: EpochFilesWritten => m.fileStats }.flatten.toSeq)
    EpochStoreWrite.writeSchemaSidecar(fs, root, dir, schema, partCols,
      bucketSpec, sortCols, transformSpec)
    overwrite match {
      case EpochOverwrite.AppendOnly =>
        // epoch-REPLACEMENT is retry idempotence for EXPLICIT epochs; an
        // AUTO-allocated epoch is chosen INSIDE the commit's CAS rebase
        // instead, so two racing INSERTs land on distinct fresh epochs —
        // both succeed, both visible, nothing silently replaced
        // (write-audit-publish: a `branch` epoch lands on the branch
        // lineage, invisible to main readers until publishBranch)
        if (autoEpoch)
          EpochManifest.commitFreshEpochDir(spark, root, dir,
            atLeast = epoch, branch = branch): Unit
        else EpochManifest.commitEpochDir(spark, root, epoch, dir, branch)
      case EpochOverwrite.ByFilters(filters) =>
        // a filter overwrite on a store with LIVE merge-on-read
        // tombstones would drop/rewrite delta entries without their
        // _delta files, resurrecting rows they kill — refuse loudly
        // (whole-table truncate is safe: everything goes). Zero cost for
        // stores without a row identity.
        if (!filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
          EpochStoreWrite.guardNoLiveTombstones(spark, root,
            "static INSERT OVERWRITE")
        commitOverwrite(spark, filters)
      case EpochOverwrite.DynamicParts if transformSpec.nonEmpty =>
        EpochStoreWrite.guardNoLiveTombstones(spark, root,
          "dynamic INSERT OVERWRITE")
        // TIME-UNIT/TRUNCATE layouts (X93): replace exactly the
        // (identity tuple…, unit[, bucket]) prefixes the batch wrote —
        // the Iceberg dynamic-overwrite contract on days(ts)-style
        // specs; untouched units' dirs survive byte-identical
        val depthT = partCols.length + 1 + bucketSpec.size
        val prefixesT = messages
          .collect { case m: EpochFilesWritten => m.files }.flatten
          .map(_.split('/').take(depthT))
          .filter(segs => segs.length == depthT &&
            segs.forall(_.contains("=")))
          .map(_.mkString("/"))
          .toSet
        val baseT = EpochManifest.entries(spark, root)
        val survivorsT = EpochStoreDml.resolvePairOverwrite(spark, root,
          partCols, transformSpec, bucketSpec, prefixesT)
        require(!survivorsT.exists(_.epoch == epoch),
          s"epochstore overwrite at epoch $epoch would collide with a " +
            s"surviving entry at the same epoch under $root — use a fresh " +
            "epoch (omit the option to auto-allocate)")
        EpochManifest.commitIfUnchanged(spark, root, baseT,
          survivorsT :+ EpochManifest.Entry(epoch, dir))
        ()
      case EpochOverwrite.DynamicParts if bucketSpec.nonEmpty &&
          partCols.nonEmpty =>
        EpochStoreWrite.guardNoLiveTombstones(spark, root,
          "dynamic INSERT OVERWRITE")
        // COMPOSITE identity+bucket: the replaced set is the (identity
        // tuple, bucket) PAIRS the batch wrote — their dir prefixes are
        // the first partCols.length+1 path segments of every committed
        // file; untouched pairs' dirs survive byte-identical
        // ([[EpochStoreDml.resolvePairOverwrite]])
        val depth = partCols.length + 1
        val prefixes = messages
          .collect { case m: EpochFilesWritten => m.files }.flatten
          .map(_.split('/').take(depth))
          .filter(segs => segs.length == depth &&
            segs.forall(_.contains("=")))
          .map(_.mkString("/"))
          .toSet
        val base = EpochManifest.entries(spark, root)
        val survivors = EpochStoreDml.resolvePairOverwrite(spark, root,
          partCols, None, bucketSpec, prefixes)
        require(!survivors.exists(_.epoch == epoch),
          s"epochstore overwrite at epoch $epoch would collide with a " +
            s"surviving entry at the same epoch under $root — use a fresh " +
            "epoch (omit the option to auto-allocate)")
        EpochManifest.commitIfUnchanged(spark, root, base,
          survivors :+ EpochManifest.Entry(epoch, dir))
        ()
      case EpochOverwrite.DynamicParts if bucketSpec.nonEmpty =>
        EpochStoreWrite.guardNoLiveTombstones(spark, root,
          "dynamic INSERT OVERWRITE")
        // hash-bucket layout: the replaced set is the WRITTEN BUCKETS,
        // derived from the committed files' `<col>_bucket=K` path
        // segments — the tuple path below would see no partCols and
        // truncate the whole table (the Iceberg contract replaces only
        // the written bucket partitions)
        val b = bucketSpec.get
        val written = messages
          .collect { case m: EpochFilesWritten => m.files }.flatten
          .flatMap(_.split('/').headOption)
          .filter(_.startsWith(b.dirPrefix))
          .flatMap(_.stripPrefix(b.dirPrefix).toIntOption)
          .toSet
        val base = EpochManifest.entries(spark, root)
        val survivors =
          EpochStoreDml.resolveBucketOverwrite(spark, root, b, written)
        require(!survivors.exists(_.epoch == epoch),
          s"epochstore overwrite at epoch $epoch would collide with a " +
            s"surviving entry at the same epoch under $root — use a fresh " +
            "epoch (omit the option to auto-allocate)")
        EpochManifest.commitIfUnchanged(spark, root, base,
          survivors :+ EpochManifest.Entry(epoch, dir))
        ()
      case EpochOverwrite.DynamicParts =>
        EpochStoreWrite.guardNoLiveTombstones(spark, root,
          "dynamic INSERT OVERWRITE")
        // replace exactly the partition-value TUPLES the batch wrote —
        // their dirs are the first partCols.length path segments of
        // every committed file; each tuple becomes a conjunction of
        // null-safe equalities, the tuples disjoin
        val fl: Array[Filter] =
          if (partCols.isEmpty)
            // an unpartitioned table has one "partition": everything
            Array(org.apache.spark.sql.sources.AlwaysTrue)
          else {
            val tuples = messages
              .collect { case m: EpochFilesWritten => m.files }.flatten
              .map(_.split('/').toSeq.take(partCols.length))
              .filter(segs => segs.length == partCols.length &&
                segs.forall(_.contains("=")))
              .distinct
              .map(_.zip(partCols).map { case (seg, c) =>
                c -> EpochStore.parsePartitionValue(
                  seg.substring(seg.indexOf('=') + 1), schema(c).dataType)
              })
            if (tuples.isEmpty) Array(org.apache.spark.sql.sources.AlwaysFalse)
            else Array(tuples.map(t =>
              t.map { case (c, v) => org.apache.spark.sql.sources
                .EqualNullSafe(c, v): Filter }
                .reduce(org.apache.spark.sql.sources.And(_, _)))
              .reduce(org.apache.spark.sql.sources.Or(_, _)))
          }
        commitOverwrite(spark, fl)
    }
  }

  /** One atomic manifest generation: what survives the replaced-rows
    * delete, plus this batch's epoch. */
  private def commitOverwrite(spark: SparkSession,
                              filters: Array[Filter]): Unit = {
    // pin the snapshot the replaced-rows resolution reads; any commit
    // racing in refuses loudly (generation recheck, same as the
    // row-level-op path) instead of being clobbered by the overwrite
    val base = EpochManifest.entries(spark, root)
    val survivors = EpochStoreDml.resolveDelete(spark, root, filters)
    require(!survivors.exists(_.epoch == epoch),
      s"epochstore overwrite at epoch $epoch would collide with a " +
        s"surviving entry at the same epoch under $root — use a fresh " +
        "epoch (omit the option to auto-allocate)")
    EpochManifest.commitIfUnchanged(spark, root, base,
      survivors :+ EpochManifest.Entry(epoch, dir))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    fs.delete(new Path(s"$root/$dir"), true): Unit
  }
}

/** Ships to executors: one staged writer per (epoch, partition, task)
  * under `<stageRoot>-e<epoch>`. */
final class EpochStoreStreamingWriterFactory(
    stageRoot: String, schema: StructType, partCols: Seq[String],
    bc: Broadcast[SerializableConfiguration],
    bloom: Option[BloomSpec] = None,
    statsCols: Seq[(String, Char)] = Nil,
    bucketSpec: Option[EpochStore.StoreBucket] = None,
    transformSpec: Option[StoreTransform] = None)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new EpochStoreDataWriter(s"$stageRoot-e$epochId", schema, partCols,
      bc, partitionId, taskId, bloom, statsCols, bucketSpec, transformSpec)
}

object EpochStoreBatchWrite {
  /** The broadcastable Hadoop conf the parquet record writers need —
    * mirror of ParquetFileFormat.prepareWrite: the writers resolve the
    * write-support class, the Catalyst schema, and the format knobs from
    * conf keys, not constructor args. Shared by the batch and streaming
    * factories. */
  def primedConf(spark: SparkSession, schema: StructType,
                 partCols: Seq[String])
      : Broadcast[SerializableConfiguration] = {
    val conf = GraftBridge.sessionConf(spark)
    val hc = GraftBridge.sessionHadoopConf(spark)
    val dataSchema =
      StructType(schema.filterNot(f => partCols.contains(f.name)))
    hc.set("parquet.write.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport")
    hc.set("org.apache.spark.sql.parquet.row.attributes", dataSchema.json)
    hc.set("spark.sql.parquet.writeLegacyFormat",
      conf.writeLegacyParquetFormat.toString)
    hc.set("spark.sql.parquet.outputTimestampType",
      conf.parquetOutputTimestampType.toString)
    hc.set("spark.sql.parquet.fieldId.write.enabled",
      conf.parquetFieldIdWriteEnabled.toString)
    hc.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      conf.getConfString(
        "spark.sql.parquet.variant.annotateLogicalType.enabled", "false"))
    hc.set("spark.sql.session.timeZone", conf.sessionLocalTimeZone)
    hc.set("parquet.compression", conf.parquetCompressionCodec)
    GraftBridge.broadcastHadoopConf(spark, hc)
  }
}

/** One task's committed files (paths relative to the attempt/staging
  * dir) — the driver prunes anything else before the manifest commit, so
  * a task that died mid-write without running abort (executor loss)
  * cannot leak a footerless partial parquet into the published epoch.
  * `sidecars` are the task's `_skip/<rel>.bloom` file-skipping indexes,
  * claimed alongside the data files. */
final case class EpochFilesWritten(files: Seq[String], nRows: Long,
                                   sidecars: Seq[String] = Nil,
                                   fileStats: Seq[(String,
                                     EpochStoreStats.FileStats)] = Nil)
    extends WriterCommitMessage

object EpochStoreWrite {

  /** Refuse a filter/dynamic overwrite when the store carries LIVE
    * merge-on-read tombstones ([[EpochStoreDelta]]): the replaced-set
    * resolution drops or rewrites entries without carrying their
    * `_delta` files, so rows those tombstones kill would resurrect.
    * `CALL compact` folds the tombstones in and re-enables the path.
    * Zero cost for stores without a row identity. */
  private[sources] def guardNoLiveTombstones(spark: SparkSession,
      root: String, what: String): Unit = {
    // live POSITION deletes (X94) strand the same way equality
    // tombstones do — every caller of this guard needs both checks
    EpochStoreDv.guardNoLiveDvs(spark, root, what)
    if (EpochStoreDelta.declared(spark, root).isEmpty) return
    val fs = new Path(root)
      .getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val carrying = EpochManifest.entries(spark, root)
      .filter(e => EpochStoreDelta.tombstoneFiles(fs, root, e.dir).nonEmpty)
    require(carrying.isEmpty,
      s"$what on $root: entries ${carrying.map(_.dir).mkString(", ")} " +
        "carry live merge-on-read tombstones the replaced-set resolution " +
        "would strand (deleted rows would resurrect) — run CALL compact " +
        "to fold them in first")
  }

  /** Driver-side `_schema.json` publish at commit: the epoch's full
    * logical schema (partition column included) plus the partitioning
    * declaration — what [[EpochStore.evolvedSchema]] merges across
    * epochs for add-column evolution. Written before the manifest
    * publish, so an epoch appears with its schema record or not at
    * all. */
  private[sources] def writeSchemaSidecar(
      fs: org.apache.hadoop.fs.FileSystem, root: String, dir: String,
      schema: StructType, partCols: Seq[String],
      bucket: Option[EpochStore.StoreBucket] = None,
      sortCols: Seq[String] = Nil,
      transform: Option[StoreTransform] = None): Unit = {
    partCols.foreach(c => require(!c.contains(",") && !c.contains("\""),
      s"partition column name '$c' cannot be recorded"))
    bucket.foreach(b => require(!b.col.contains("\""),
      s"bucket column name '${b.col}' cannot be recorded"))
    sortCols.foreach(c => require(!c.contains(",") && !c.contains("\""),
      s"sort column name '$c' cannot be recorded"))
    val p = new Path(s"$root/$dir/_schema.json")
    val head = Seq(
      if (partCols.isEmpty) None
      else Some(s""""partitionColumn":"${partCols.mkString(",")}""""),
      bucket.map(b =>
        s""""bucketColumn":"${b.col}","bucketCount":${b.n}"""),
      // the time-unit/truncate level, by its canonical spelling —
      // parsed back by [[readTransformSidecar]]
      transform.map(t => s""""transform":"${t.spelling}""""),
      // the entry's SORT LAYOUT: every data file in this dir holds rows
      // ordered by these columns (ascending, nulls first) — the write
      // enforced it ([[RequiresDistributionAndOrdering]] / the fold's
      // sortWithinPartitions), the scan reports it
      // ([[EpochStoreScan.outputOrdering]]) so Spark elides sorts
      if (sortCols.isEmpty) None
      else Some(s""""sortColumns":"${sortCols.mkString(",")}"""")
    ).flatten.mkString("{", ",", "}")
    val body = head + "\n" + schema.json + "\n"
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The sort layout an entry's `_schema.json` records: the columns
    * every data file in the dir is internally ordered by (ascending,
    * nulls first); Nil for unsorted entries and pre-sort-record
    * sidecars. */
  private[sources] def readSortSidecar(
      fs: org.apache.hadoop.fs.FileSystem, root: String, dir: String)
      : Seq[String] = {
    val p = new Path(s"$root/$dir/_schema.json")
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val head = body.linesIterator.filter(_.nonEmpty).toSeq.head
    if (!head.contains("\"sortColumns\":\"")) Nil
    else head.split("\"sortColumns\":\"")(1).takeWhile(_ != '"')
      .split(",").toSeq.filter(_.nonEmpty)
  }

  /** The bucket layout an entry's `_schema.json` records (None for
    * identity-partitioned / unbucketed entries). */
  private[sources] def readBucketSidecar(
      fs: org.apache.hadoop.fs.FileSystem, root: String, dir: String)
      : Option[EpochStore.StoreBucket] = {
    val p = new Path(s"$root/$dir/_schema.json")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val head = body.linesIterator.filter(_.nonEmpty).toSeq.head
    if (!head.contains("\"bucketColumn\":\"")) None
    else Some(EpochStore.StoreBucket(
      head.split("\"bucketColumn\":\"")(1).takeWhile(_ != '"'),
      head.split("\"bucketCount\":")(1).takeWhile(_.isDigit).toInt))
  }

  /** The time-unit/truncate layout an entry's `_schema.json` records
    * (None for entries without one). */
  private[sources] def readTransformSidecar(
      fs: org.apache.hadoop.fs.FileSystem, root: String, dir: String)
      : Option[StoreTransform] = {
    val p = new Path(s"$root/$dir/_schema.json")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val head = body.linesIterator.filter(_.nonEmpty).toSeq.head
    if (!head.contains("\"transform\":\"")) None
    else Some(StoreTransform.parse(
      head.split("\"transform\":\"")(1).takeWhile(_ != '"')))
  }

  /** Parse one entry's `_schema.json` back to (schema, partitionColumn);
    * None when the epoch predates schema records. */
  private[sources] def readSchemaSidecar(
      fs: org.apache.hadoop.fs.FileSystem, root: String, dir: String)
      : Option[(StructType, Option[String])] = {
    val p = new Path(s"$root/$dir/_schema.json")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = body.linesIterator.filter(_.nonEmpty).toSeq
    val part =
      if (lines.head.contains("\"partitionColumn\":\""))
        Some(lines.head.split("\"partitionColumn\":\"")(1).takeWhile(_ != '"'))
      else None
    Some((org.apache.spark.sql.types.DataType.fromJson(lines(1))
      .asInstanceOf[StructType], part))
  }

  /** Delete every file under `dir` that no committed task claims —
    * leftovers of dead/speculative attempts whose abort never ran. The
    * claimed set is exactly what the epoch publishes. */
  private[graft] def pruneToCommitted(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      messages: Array[WriterCommitMessage]): Unit = {
    if (!fs.exists(dir)) return
    val claimed = messages.collect {
      case m: EpochFilesWritten => m.files ++ m.sidecars
    }.flatten.toSet
    // compare fully-qualified path strings: listStatus returns qualified
    // URIs (file:/..., hdfs://...) while the incoming dir may be a bare
    // path — a naive strip would mismatch every file and delete the lot
    val qdir = fs.makeQualified(dir).toString
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else {
        val rel = fs.makeQualified(s.getPath).toString
          .stripPrefix(qdir).stripPrefix("/")
        if (!claimed.contains(rel)) fs.delete(s.getPath, false): Unit
      }
    }
    walk(dir)
  }
}

final class EpochStoreWriterFactory(dirPath: String, schema: StructType,
                                    partCols: Seq[String],
                                    bc: Broadcast[SerializableConfiguration],
                                    bloom: Option[BloomSpec] = None,
                                    statsCols: Seq[(String, Char)] = Nil,
                                    bucketSpec: Option[EpochStore.StoreBucket] =
                                      None,
                                    transformSpec: Option[StoreTransform] =
                                      None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new EpochStoreDataWriter(dirPath, schema, partCols, bc, partitionId,
      taskId, bloom, statsCols, bucketSpec, transformSpec)
}

final class EpochStoreDataWriter(dirPath: String, schema: StructType,
                                 partCols: Seq[String],
                                 bc: Broadcast[SerializableConfiguration],
                                 partitionId: Int, taskId: Long,
                                 bloom: Option[BloomSpec] = None,
                                 statsCols: Seq[(String, Char)] = Nil,
                                 bucketSpec: Option[EpochStore.StoreBucket] =
                                   None,
                                 transformSpec: Option[StoreTransform] = None)
    extends DataWriter[InternalRow] {

  private val partIdxs: Array[Int] = partCols.map(schema.fieldIndex).toArray
  private val partTypes = partIdxs.map(i => schema.fields(i).dataType)
  private val bucketIdx: Int =
    bucketSpec.map(b => schema.fieldIndex(b.col)).getOrElse(-1)
  private val bucketType =
    bucketSpec.map(b => schema(b.col).dataType).orNull
  private val transformIdx: Int =
    transformSpec.map(t => schema.fieldIndex(t.col)).getOrElse(-1)
  private val transformType =
    transformSpec.map(t => schema(t.col).dataType).orNull
  // data columns = everything except the partition columns, in order
  private val dataIdx: Array[Int] =
    schema.fields.indices.filterNot(partIdxs.contains(_)).toArray
  private val dataTypes = dataIdx.map(i => schema.fields(i).dataType)
  private val rowBuf = new Array[Any](dataIdx.length)
  private val outRow = new GenericInternalRow(rowBuf)

  private val bloomIdx: Int = bloom.map(b => schema.fieldIndex(b.col)).getOrElse(-1)
  private val bloomIsString: Boolean =
    bloom.exists(b => schema(b.col).dataType ==
      org.apache.spark.sql.types.StringType)
  // one bloom per output file, keyed like `writers`
  private val blooms = scala.collection.mutable.LinkedHashMap
    .empty[String, org.apache.spark.util.sketch.BloomFilter]

  // per-file stats accumulator (row count always — it powers LIMIT
  // truncation and metadata row counts; min/max/nulls for the declared
  // stats columns), keyed like `writers`
  private val statsIdx: Array[(String, Int, Char)] =
    statsCols.map { case (c, k) => (c, schema.fieldIndex(c), k) }.toArray
  private final class FileAcc {
    var rows = 0L
    val nulls = new Array[Long](statsIdx.length)
    val mins = new Array[Any](statsIdx.length)
    val maxs = new Array[Any](statsIdx.length)
    // per-column HLL NDV registers ([[EpochStoreStats.Ndv]]) — merged
    // across the planned file set at scan time into CBO distinctCount
    val ndvs: Array[Array[Byte]] =
      Array.fill(statsIdx.length)(
        new Array[Byte](EpochStoreStats.Ndv.M))
  }
  private val accs =
    scala.collection.mutable.LinkedHashMap.empty[String, FileAcc]

  // one lazy writer per partition-dir value (null key = unpartitioned)
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, (InternalRow => Unit, () => Unit)]
  private val paths = scala.collection.mutable.ArrayBuffer.empty[Path]
  private val relFiles = scala.collection.mutable.ArrayBuffer.empty[String]
  private val sidecarRels = scala.collection.mutable.ArrayBuffer.empty[String]
  private var rows = 0L

  private def fs = new Path(dirPath).getFileSystem(bc.value.value)

  private def writerFor(subdir: String): InternalRow => Unit =
    writers.getOrElseUpdate(subdir, {
      val name = f"part-$partitionId%05d-$taskId.parquet"
      val rel = if (subdir.isEmpty) name else s"$subdir/$name"
      val p = new Path(s"$dirPath/$rel")
      fs.mkdirs(p.getParent)
      paths += p
      relFiles += rel
      val ctx = new TaskAttemptContextImpl(bc.value.value,
        new TaskAttemptID(new TaskID(new JobID("graft-epochstore", 0),
          TaskType.MAP, partitionId), taskId.toInt & Int.MaxValue))
      GraftBridge.parquetRowWriter(p.toString, ctx)
    })._1

  /** `col1=v/col2=v/…` nested subdir path in partition-column order,
    * the read side's [[EpochStore]] escaping contract (%XX for anything
    * outside [A-Za-z0-9._-], hive sentinel for null). */
  private def subdirOf(row: InternalRow): String = {
    // hash-bucket level: one `<col>_bucket=K` segment, the column kept
    // in the files. Alone it is the whole layout; composed with
    // identity partitioning it is the INNERMOST level — the canonical
    // 100 TB fact layout `PARTITIONED BY (date, bucket(n, id))` nests
    // `date=v/id_bucket=K` and both levels prune independently.
    val bseg: Option[String] = bucketSpec.map { b =>
      val v = if (row.isNullAt(bucketIdx)) null
        else row.get(bucketIdx, bucketType)
      b.dirPrefix + EpochStore.bucketIdOf(v, bucketType, b.n)
    }
    // time-unit/truncate level ([[StoreTransform]]): one
    // `<col>_<kind>=<unit>` segment between the identity levels and the
    // bucket, the column kept in the files — the reference's date-dir
    // layout generalized to raw timestamps
    val tseg: Option[String] = transformSpec.map { t =>
      val v = if (row.isNullAt(transformIdx)) null
        else row.get(transformIdx, transformType)
      t.dirPrefix + TimeTransforms.dirValueOf(v, transformType, t)
    }
    val leaf: Seq[String] = (tseg ++ bseg).toSeq
    if (partIdxs.isEmpty) return leaf.mkString("/")
    val segs = new Array[String](partIdxs.length)
    var i = 0
    while (i < partIdxs.length) {
      val v = if (row.isNullAt(partIdxs(i))) null
        else row.get(partIdxs(i), partTypes(i))
      val raw = v match {
        case null => "__HIVE_DEFAULT_PARTITION__"
        case u: org.apache.spark.unsafe.types.UTF8String =>
          u.toString.flatMap { ch =>
            if (ch.isLetterOrDigit || ch == '.' || ch == '_' || ch == '-')
              ch.toString
            else if (ch.toInt <= 0xFF) f"%%${ch.toInt}%02X"
            else throw new IllegalArgumentException(
              s"partition value '$u' contains a non-Latin-1 character the " +
                "%XX dir escaping cannot round-trip — partition on a " +
                "hash/bucket column instead")
          }
        case other => other.toString
      }
      segs(i) = s"${partCols(i)}=$raw"
      i += 1
    }
    (segs.toSeq ++ leaf).mkString("/")
  }

  /** The metadata-carrying form Spark's row-level rewrite tasks call
    * (`DataAndMetadataWritingSparkTask`): the data row is already
    * projected to this writer's schema; the metadata row (the pinned
    * `_epoch` the operation requested purely to select this task shape)
    * carries nothing the replacement epoch keeps. */
  override def write(metadata: InternalRow, record: InternalRow): Unit =
    write(record)

  override def write(row: InternalRow): Unit = {
    val subdir = subdirOf(row)
    val w = writerFor(subdir)
    val acc = accs.getOrElseUpdate(subdir, new FileAcc)
    acc.rows += 1
    var s = 0
    while (s < statsIdx.length) {
      val idx = statsIdx(s)._2
      if (row.isNullAt(idx)) acc.nulls(s) += 1
      else {
        // accumulate under the SAME ordering the scan's skip probe uses:
        // long for every integral width, double for float widths, and
        // UTF-8 BINARY order for strings (UTF8String.compareTo — the
        // order Spark's row-level string comparisons use; java.lang
        // .String.compareTo disagrees for supplementary characters, see
        // [[EpochStoreStats.utf8Cmp]]). Strings stay UTF8String here
        // (cloned on store — getUTF8String may return a reused buffer)
        // and become java Strings only at commit().
        val v: Any = statsIdx(s)._3 match {
          case 'S' => row.getUTF8String(idx)
          case 'd' => row.get(idx, schema.fields(idx).dataType)
            .asInstanceOf[Number].doubleValue()
          case _ => row.get(idx, schema.fields(idx).dataType)
            .asInstanceOf[Number].longValue()
        }
        def lt(a: Any, b: Any): Boolean = (a, b) match {
          case (x: java.lang.Long, y: java.lang.Long) => x < y
          case (x: java.lang.Double, y: java.lang.Double) => x < y
          case (x: org.apache.spark.unsafe.types.UTF8String,
                y: org.apache.spark.unsafe.types.UTF8String) =>
            x.compareTo(y) < 0
          case _ => false
        }
        def keep(x: Any): Any = x match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
          case other => other
        }
        if (acc.mins(s) == null || lt(v, acc.mins(s))) acc.mins(s) = keep(v)
        if (acc.maxs(s) == null || lt(acc.maxs(s), v)) acc.maxs(s) = keep(v)
        EpochStoreStats.Ndv.add(acc.ndvs(s), EpochStoreStats.Ndv.hashOf(v))
      }
      s += 1
    }
    if (bloomIdx >= 0 && !row.isNullAt(bloomIdx)) {
      val bf = blooms.getOrElseUpdate(subdir,
        org.apache.spark.util.sketch.BloomFilter.create(
          bloom.get.expected, bloom.get.fpp))
      // the probe side hashes the SAME representation: long for every
      // integral width, UTF-8 string bytes for strings
      if (bloomIsString)
        bf.putString(row.getUTF8String(bloomIdx).toString)
      else bf.putLong(row.get(bloomIdx, schema.fields(bloomIdx).dataType)
        .asInstanceOf[Number].longValue())
    }
    if (partIdxs.isEmpty) w(row)
    else {
      var i = 0
      while (i < dataIdx.length) {
        rowBuf(i) = if (row.isNullAt(dataIdx(i))) null
          else row.get(dataIdx(i), dataTypes(i))
        i += 1
      }
      w(outRow)
    }
    rows += 1
  }

  /** rel path of the sidecar for data file `rel`. */
  private def sidecarRelOf(rel: String) = s"_skip/$rel.bloom"

  override def commit(): WriterCommitMessage = {
    writers.valuesIterator.foreach(_._2())
    // sidecars land next to the data before the driver publishes the
    // epoch; written here (task side) so streaming's staging-dir rename
    // carries them along untouched
    writers.keysIterator.zip(relFiles.iterator).foreach { case (subdir, rel) =>
      blooms.get(subdir).foreach { bf =>
        val screl = sidecarRelOf(rel)
        val p = new Path(s"$dirPath/$screl")
        fs.mkdirs(p.getParent)
        val out = fs.create(p, true)
        try bf.writeTo(out) finally out.close()
        paths += p
        sidecarRels += screl
      }
    }
    val fstats = writers.keysIterator.zip(relFiles.iterator)
      .map { case (subdir, rel) =>
        val acc = accs(subdir)
        // UTF8String accumulators become java Strings here — the
        // sidecar and the commit message carry plain JVM values
        def jv(x: Any): Any = x match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => other
        }
        val cols = statsIdx.indices.map { s =>
          statsIdx(s)._1 -> EpochStoreStats.ColStats(statsIdx(s)._3,
            acc.nulls(s), Option(acc.mins(s)).map(jv),
            Option(acc.maxs(s)).map(jv), Some(acc.ndvs(s)))
        }.toMap
        // the closed file's length + mtime make the sidecar a file-level
        // manifest index ([[EpochStoreStats.FileStats]]): the scan plans
        // splits from these, never from a listStatus (a streaming
        // staging-dir rename preserves both)
        val st = fs.getFileStatus(new Path(s"$dirPath/$rel"))
        rel -> EpochStoreStats.FileStats(acc.rows, cols,
          len = st.getLen, mtime = st.getModificationTime)
      }.toSeq
    EpochFilesWritten(relFiles.toSeq, rows, sidecarRels.toSeq, fstats)
  }

  override def abort(): Unit = {
    try writers.valuesIterator.foreach(_._2()) catch {
      case scala.util.control.NonFatal(_) => ()
    }
    paths.foreach(p => try { fs.delete(p, false): Unit } catch {
      case scala.util.control.NonFatal(_) => ()
    })
  }

  override def close(): Unit = ()
}
