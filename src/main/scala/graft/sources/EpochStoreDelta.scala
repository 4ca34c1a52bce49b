package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.core.EpochManifest

/** MERGE-ON-READ row-level operations ([[SupportsDelta]]): a store that
  * declares a ROW IDENTITY (`_rowid.json` — key columns that uniquely
  * identify a row, the caller's primary-key contract) takes SQL
  * UPDATE / MERGE / DELETE as ONE DELTA EPOCH instead of copy-on-write
  * entry rewrites: the epoch dir holds the reinserted rows as normal
  * data files plus EQUALITY TOMBSTONES (key rows) under `_delta/`, and
  * the commit is a single manifest CAS — a 1-row MERGE writes O(1 row),
  * never O(entry). Updates are represented as delete+insert
  * ([[SupportsDelta.representUpdateAsDeleteAndInsert]]), the Iceberg
  * equality-delete model.
  *
  * Read side: every scan of a row-identity store applies the pinned
  * snapshot's tombstones — a tombstone carried by epoch `t` kills rows
  * of its key in epochs STRICTLY BELOW `t` (the delta epoch's own
  * reinserts survive; a later re-insert resurrects the key). Because
  * tombstones ride INSIDE the delta entry, time travel, branches, WAP
  * and gc are all consistent for free: a pinned generation sees exactly
  * the tombstones its entries carry. Tombstone application is a
  * task-side hash filter over the (small, delta-sized) key set —
  * `CALL compact` folds tombstones into the data physically and
  * restores the zero-overhead scan.
  *
  * The group-based copy-on-write path ([[EpochStoreRowLevelOperation]])
  * remains the route for stores WITHOUT a declared row identity. */
object EpochStoreDelta {

  /** Store-level row-identity declaration (`_rowid.json` under the
    * root): written once (create-table property `rowid` or
    * [[declare]]; [[EpochManifest.declareOnce]] — racing first writers
    * get one winner), read by scans and the row-level-operation router.
    * The columns must be DATA columns (not partition-dir levels) and
    * must uniquely identify rows — equality tombstones kill EVERY row
    * of a key, so a duplicate key would lose rows on update. */
  def declare(spark: SparkSession, root: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "rowid needs at least one column")
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val existing = declared(spark, root).getOrElse(columnsOf(
      EpochManifest.declareOnce(fs, new Path(root, "_rowid.json"),
        s"""{"columns":"${cols.mkString(",")}"}""")))
    require(existing == cols,
      s"store $root already declares rowid ${existing.mkString(",")}; " +
        s"re-declaring ${cols.mkString(",")} would strand its tombstones")
  }

  private def columnsOf(body: String): Seq[String] =
    body.split("\"columns\":\"")(1).takeWhile(_ != '"').split(',').toSeq

  def declared(spark: SparkSession, root: String): Option[Seq[String]] = {
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val p = new Path(root, "_rowid.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(columnsOf(body))
    }
  }

  /** The tombstone probe compares CATALYST values by `equals` — only
    * types with VALUE equality may key (BinaryType's Array[Byte] has
    * reference equality: every probe would miss and deletes would be
    * silently ineffective; nested types are refused for the same
    * reason). */
  private[sources] def requireEqualityStableKeyType(
      col: String, dt: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    require(ok, s"rowid column $col has type $dt — row-identity keys " +
      "need value-equality-stable types (integral, float, string, " +
      "boolean, date, timestamp, decimal)")
  }

  /** The row-identity columns a reader/operation should honor: the
    * explicit `rowid` option, else the store's declaration. */
  def morKeysOf(spark: SparkSession,
                options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("rowid"))
      .map(_.split(',').toSeq)
      .orElse(declared(spark, EpochStore.rootOf(options)))
      .getOrElse(Nil)

  /** Driver-side caches keyed by the ENTRY-DIR SET (committed entries
    * are immutable — a delta commit creates a NEW entry, never mutates
    * one — so a dir set's tombstone content never changes): repeated
    * queries and streaming triggers over the same snapshot skip both
    * the per-entry existence probes and the tombstone parquet re-read.
    * Bounded LRU; thread-safe via the map's own monitor. */
  private val tombMapCache =
    new java.util.LinkedHashMap[(String, Seq[String], Seq[String]),
      Map[Seq[Any], Long]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String], Seq[String]),
            Map[Seq[Any], Long]]): Boolean = size > 64
    }
  // BOXED values: a primitive-Boolean map's get() would unbox a missing
  // key's null to false and the null check could never see the miss
  private val tombAnyCache =
    new java.util.LinkedHashMap[(String, Seq[String]), java.lang.Boolean](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]), java.lang.Boolean])
          : Boolean = size > 256
    }

  /** Drop every cached tombstone view of `root` — REQUIRED when the
    * store directory itself is deleted (DROP TABLE): attempt-dir names
    * restart once `_claims/` is gone, so a re-created store at the same
    * path can reuse dir names and a stale entry would serve the OLD
    * store's tombstones. Commits never need this (a new commit is a new
    * dir set = a new key). */
  private[sources] def invalidate(root: String): Unit = {
    tombMapCache.synchronized {
      tombMapCache.keySet.removeIf(_._1 == root): Unit
    }
    tombAnyCache.synchronized {
      tombAnyCache.keySet.removeIf(_._1 == root): Unit
    }
  }

  /** Does the CURRENT snapshot carry any equality tombstones? One
    * metadata probe per entry on a cache miss — consulted by the
    * pushdown gates so a row-identity store without pending deltas
    * keeps the whole row-count push tier (limit / top-N / footer
    * aggregation). */
  private[sources] def hasLiveTombstones(spark: SparkSession,
                                         root: String): Boolean = {
    val es = EpochManifest.entries(spark, root)
    val key = (root, es.map(_.dir).sorted)
    tombAnyCache.synchronized {
      val hit: java.lang.Boolean = tombAnyCache.get(key)
      if (hit != null) return hit.booleanValue
    }
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val any = es.exists(e => tombstoneStatuses(fs, root, e.dir).nonEmpty)
    tombAnyCache.synchronized {
      tombAnyCache.put(key, java.lang.Boolean.valueOf(any)): Unit
    }
    any
  }

  /** Dir (under one entry) holding the entry's equality tombstones. */
  private[sources] val DeltaDirName = "_delta"

  /** The given entries' tombstone files as CDC DELETE-event listed
    * files (key columns only — the reader nulls the rest; partition
    * values null, no bucket id) — shared by the batch changefeed scan
    * and the streaming tail so the two feeds can never diverge. */
  private[sources] def deleteEventFiles(
      fs: org.apache.hadoop.fs.FileSystem, root: String,
      entries: Seq[EpochManifest.Entry],
      partFields: Seq[org.apache.spark.sql.types.StructField])
      : Seq[EpochStore.ListedFile] =
    entries.flatMap { e =>
      tombstoneStatuses(fs, root, e.dir).map(st =>
        EpochStore.ListedFile(partFields.map(_ => null), e.epoch, e.dir,
          st, isDelete = true))
    }

  /** Default bound on the driver-materialized tombstone map
    * ([[loadTombstones]]) — override with the SQL conf
    * `spark.graft.mor.maxDriverTombstoneBytes`. */
  private[sources] val MaxDriverTombstoneBytes: Long = 256L * 1024 * 1024

  /** The pinned entries' equality tombstones as a DISTRIBUTED frame —
    * (key columns…, `__graft_del` = the newest tombstoning epoch per
    * key) — for the unbounded anti-join path ([[EpochStore
    * .compactStore]] and any mass-delete fold): nothing materializes on
    * the driver, so a GDPR-scale journal folds like any other data. */
  private[sources] def tombstoneFrame(spark: SparkSession, root: String,
      entries: Seq[EpochManifest.Entry], keySchema: StructType)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name,
      max, regexp_extract}
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val paths = entries.flatMap(e =>
      tombstoneFiles(fs, root, e.dir).map(p => fs.makeQualified(p).toString))
    val epochByDir = entries.map(e => (e.dir, e.epoch))
    import spark.implicits._
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(keySchema.fields.toSeq :+
          org.apache.spark.sql.types.StructField("__graft_del",
            org.apache.spark.sql.types.LongType)))
    val dirDf = epochByDir.toDF("__graft_dir", "__graft_del_e")
    spark.read.schema(keySchema).parquet(paths: _*)
      // the carrying entry dir, anchored on "/<dir>/_delta/" — dir
      // names are [a-z0-9-], immune to URI-encoding spelling
      .withColumn("__graft_dir",
        regexp_extract(input_file_name(), s"/([a-z0-9-]+)/$DeltaDirName/", 1))
      .join(broadcast(dirDf), "__graft_dir")
      .groupBy(keySchema.fieldNames.map(col).toSeq: _*)
      .agg(max(col("__graft_del_e")).as("__graft_del"))
  }

  /** EVERY key one entry touches — its data files' key columns
    * (reinserts/appends) UNIONED with its equality tombstones — as a
    * distributed frame: the commuting-rebase disjointness probe
    * ([[EpochStoreDeltaBatchWrite.commit]]) joins two of these and
    * never materializes keys on the driver. Works on staged
    * (uncommitted) dirs too. */
  private[sources] def entryKeys(spark: SparkSession, root: String,
      dir: String, keySchema: StructType): org.apache.spark.sql.DataFrame = {
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    def filesUnder(p: Path): Seq[String] = {
      val (dirs, files) = fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .partition(_.isDirectory)
      files.filter(_.getLen > 0).map(_.getPath.toString) ++
        dirs.flatMap(d => filesUnder(d.getPath))
    }
    val entryPath = new Path(s"$root/$dir")
    val paths =
      (if (fs.exists(entryPath)) filesUnder(entryPath) else Nil) ++
        tombstoneFiles(fs, root, dir).map(_.toString)
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keySchema)
    else spark.read.schema(keySchema).parquet(paths: _*)
  }

  /** Tombstone files of one committed entry, if any. */
  private[graft] def tombstoneFiles(
      fs: org.apache.hadoop.fs.FileSystem, root: String, dir: String)
      : Seq[Path] = tombstoneStatuses(fs, root, dir).map(_.getPath)

  private[sources] def tombstoneStatuses(
      fs: org.apache.hadoop.fs.FileSystem, root: String, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val d = new Path(s"$root/$dir/$DeltaDirName")
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.filter(s => s.isFile && s.getLen > 0)
  }

  /** Load the pinned snapshot's equality tombstones as
    * key-tuple → newest tombstone epoch (CATALYST values — UTF8String
    * for strings — so executor-side rows compare directly). Driver-side
    * and delta-sized: one tiny parquet read per DELTA entry only. */
  private[sources] def loadTombstones(spark: SparkSession, root: String,
      entries: Seq[EpochManifest.Entry], keySchema: StructType)
      : Map[Seq[Any], Long] = {
    val cacheKey = (root, entries.map(_.dir).sorted,
      keySchema.fieldNames.toSeq)
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    // SIZE-BOUNDED driver materialization: this map becomes the
    // driver's (and every executor's, via broadcast) largest allocation
    // after a mass keyed DELETE. Past the bound, refuse with the sizes
    // and the remedy — CALL compact applies tombstones through a fully
    // DISTRIBUTED anti-join ([[tombstoneFrame]], no driver map at any
    // size) and re-opens the read path. Checked BEFORE the cache so a
    // shrunk bound takes effect on the next scan, not the next store.
    locally {
      val totalBytes = entries.flatMap(e =>
        tombstoneStatuses(fs, root, e.dir)).map(_.getLen).sum
      val maxBytes = spark.conf.getOption(
        "spark.graft.mor.maxDriverTombstoneBytes")
        .map(_.toLong).getOrElse(MaxDriverTombstoneBytes)
      require(totalBytes <= maxBytes,
        s"epochstore merge-on-read over $root: live equality tombstones " +
          s"total $totalBytes bytes, beyond the $maxBytes-byte driver " +
          "materialization bound — run CALL compact (it applies " +
          "tombstones as a distributed anti-join) to fold them in, or " +
          "raise spark.graft.mor.maxDriverTombstoneBytes")
    }
    tombMapCache.synchronized {
      val hit = tombMapCache.get(cacheKey)
      if (hit != null) return hit
    }
    // ONE read over every delta entry's tombstone files (not a job per
    // entry): the carrying epoch is recovered per row by anchoring on
    // the "<entryDir>/_delta/" path segment — never by comparing full
    // URI strings, whose scheme/encoding spelling differs between
    // input_file_name (file:///, percent-encoded) and makeQualified
    // (file:/, decoded); entry-dir names are [a-z0-9-], encoding-proof
    val paths = entries.flatMap(e =>
      tombstoneFiles(fs, root, e.dir).map(p => fs.makeQualified(p).toString))
    val epochByDir: Map[String, Long] =
      entries.map(e => e.dir -> e.epoch).toMap
    if (paths.isEmpty) {
      tombMapCache.synchronized {
        tombMapCache.put(cacheKey, Map.empty): Unit
      }
      return Map.empty
    }
    val out = mutable.HashMap.empty[Seq[Any], Long]
    val conv = keySchema.fields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val fcol = "__graft_tomb_file"
    spark.read.schema(keySchema).parquet(paths: _*)
      .withColumn(fcol, org.apache.spark.sql.functions.input_file_name())
      .collect().foreach { r =>
        val uri = r.getAs[String](fcol)
        val anchor = uri.lastIndexOf(s"/$DeltaDirName/")
        val entryDir = if (anchor < 0) "" else
          uri.substring(0, anchor).split('/').last
        val epoch = epochByDir.getOrElse(entryDir,
          throw new IllegalStateException(
            s"tombstone row from unplanned file $uri under $root"))
        val key = keySchema.indices.map(i => conv(i)(r.get(i)))
        val prev = out.getOrElse(key, Long.MinValue)
        if (epoch > prev) out(key) = epoch
      }
    val m = out.toMap
    tombMapCache.synchronized { tombMapCache.put(cacheKey, m) }
    m
  }
}

/** One task's delta-write result: the inserted rows' normal commit
  * message plus the task's tombstone files (rel paths) and count. */
final case class EpochDeltaWritten(data: EpochFilesWritten,
                                   delRels: Seq[String], dels: Long)
    extends WriterCommitMessage

final class EpochStoreDeltaOperationBuilder(
    tableSchema: StructType, tableOptions: CaseInsensitiveStringMap,
    info: RowLevelOperationInfo, keys: Seq[String])
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new EpochStoreDeltaOperation(tableSchema, tableOptions, info.command(),
      keys)
}

/** The delta (merge-on-read) row-level operation: reads through the
  * NORMAL pruned scan (no group contract — the commit replaces nothing,
  * so pushed filters and runtime narrowing stay fully on), writes one
  * delta epoch. */
final class EpochStoreDeltaOperation(
    tableSchema: StructType, tableOptions: CaseInsensitiveStringMap,
    cmd: RowLevelOperation.Command, keys: Seq[String])
    extends RowLevelOperation
    with SupportsDelta {

  require(tableOptions.get("asOfGeneration") == null,
    "cannot UPDATE/MERGE/DELETE a time-traveled epochstore table — " +
      "drop VERSION/TIMESTAMP AS OF")
  require(tableOptions.get("branch") == null,
    "cannot UPDATE/MERGE/DELETE a branch-pinned epochstore table — " +
      "branches take epoch appends; publish, then mutate main")

  private[sources] val root: String = EpochStore.rootOf(tableOptions)
  private[sources] val partCols: Seq[String] =
    EpochStore.partColsOf(tableOptions)
  private[sources] val bucketSpec: Option[EpochStore.StoreBucket] =
    EpochStore.bucketOf(tableOptions)

  keys.foreach { k =>
    tableSchema.fields.find(_.name == k).foreach(f =>
      EpochStoreDelta.requireEqualityStableKeyType(k, f.dataType))
    require(tableSchema.fieldNames.contains(k),
      s"rowid column $k is not in the table schema")
    require(!partCols.contains(k),
      s"rowid column $k is a partition-dir level — equality tombstones " +
        "need the key in the data files")
  }

  private[sources] def declaredSchema: StructType = tableSchema

  private[sources] val pinned: Seq[EpochManifest.Entry] = {
    val spark = SparkSession.active
    require(EpochManifest.generations(spark, root).nonEmpty,
      s"no committed manifest under $root")
    EpochManifest.entries(spark, root)
  }

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"epochstore delta $cmd rowid=${keys.mkString(",")} ($root)"

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    keys.map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  /** Updates land as delete+insert — the equality-tombstone model (the
    * new row may even move partition/bucket dirs). */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EpochStoreScanBuilder(tableSchema, tableOptions)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    val op = this
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new EpochStoreDeltaBatchWrite(op, info.schema(),
            info.rowIdSchema().orElseThrow(() =>
              new IllegalStateException("delta write without a rowId " +
                "schema")),
            info.queryId())
      }
    }
  }
}

/** The delta write: tasks write reinserted rows through the store's
  * normal partition/bucket-routing writer and tombstones under
  * `_delta/`; commit publishes ONE new entry via a STRICT snapshot
  * check — the operation's WHERE/ON was evaluated against the pinned
  * entry list, so any commit that landed since refuses loudly
  * (serializability, never a lost update — equality tombstones would
  * otherwise kill a racing append's rows). */
final class EpochStoreDeltaBatchWrite(op: EpochStoreDeltaOperation,
                                      schema: StructType,
                                      idSchema: StructType,
                                      queryId: String)
    extends DeltaBatchWrite {

  private val epoch: Long =
    op.pinned.map(_.epoch).maxOption.getOrElse(-1L) + 1L

  /** The attempt dir is allocated ONCE here (driver, write planning). */
  private val dir: String =
    EpochManifest.newDataDir(SparkSession.active, op.root, epoch)

  /** Where the staged dir CURRENTLY lives — the commuting rebase may
    * rename it to a fresh epoch mid-commit, and an abort after that
    * must reclaim the renamed path, not the original. */
  @volatile private var stagedDir: String = dir

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val spark = SparkSession.active
    new EpochStoreDeltaWriterFactory(s"${op.root}/$dir", schema, op.partCols,
      EpochStoreBatchWrite.primedConf(spark, schema, op.partCols),
      EpochStoreBatchWrite.primedConf(spark, idSchema, Nil),
      idSchema, op.bucketSpec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(op.root)
      .getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val deltas = messages.collect { case m: EpochDeltaWritten => m }
    // the claimed set covers data files, their sidecars, AND tombstones
    val claims: Array[WriterCommitMessage] = deltas.map(m =>
      m.data.copy(files = m.data.files ++ m.delRels): WriterCommitMessage)
    EpochStoreWrite.pruneToCommitted(fs, new Path(s"${op.root}/$dir"), claims)
    if (!fs.exists(new Path(s"${op.root}/$dir")))
      fs.mkdirs(new Path(s"${op.root}/$dir")): Unit
    // quality gate: reinserted rows must satisfy declared CHECKs
    // the sidecar records the TABLE schema (a delete-only delta epoch
    // has no insert schema of its own) so evolution reads keep working
    EpochStoreConstraints.enforce(spark, op.root, s"${op.root}/$dir",
      op.declaredSchema)
    EpochStoreStats.write(fs, op.root, dir, deltas.flatMap(_.data.fileStats))
    EpochStoreWrite.writeSchemaSidecar(fs, op.root, dir, op.declaredSchema,
      op.partCols, op.bucketSpec)
    // COMMUTING-DELTA REBASE: the pristine case commits as before; a
    // commit that raced in COMMUTES iff (a) every pinned entry is
    // untouched (only appended entries landed) and (b) the touched KEY
    // sets are provably disjoint — tombstoned AND reinserted keys on
    // both sides, checked by one distributed join (per-key MERGE
    // semantics make disjoint-key operations order-independent). A
    // commuting commit re-lands above the new head: the staged dir is
    // RENAMED to a fresh epoch so two racing MERGEs never share an
    // epoch id. Anything else — replaced/removed entries, overlapping
    // keys — refuses loudly exactly as before.
    stagedDir = dir
    var stagedEpoch = epoch
    EpochManifest.commitWith(spark, op.root) { cur =>
      val pinnedSet = op.pinned.toSet
      if (cur.toSet == pinnedSet)
        op.pinned :+ EpochManifest.Entry(stagedEpoch, stagedDir)
      else {
        val curByDir = cur.map(e => e.dir -> e).toMap
        op.pinned.foreach(p => require(curByDir.get(p.dir).contains(p),
          s"concurrent commit replaced entry ${p.dir} this row-level " +
            s"operation read from its pinned snapshot of ${op.root} — " +
            "re-run the statement"))
        val added = cur.filterNot(pinnedSet.contains)
        val mine = EpochStoreDelta.entryKeys(spark, op.root, stagedDir,
          idSchema)
        val theirs = added.map(e =>
          EpochStoreDelta.entryKeys(spark, op.root, e.dir, idSchema))
          .reduce(_.unionByName(_))
        val cond = idSchema.fieldNames
          .map(c => mine(c) <=> theirs(c)).reduce(_ && _)
        require(mine.join(theirs, cond, "inner").isEmpty,
          s"concurrent commit under ${op.root} touched keys this " +
            "row-level operation also touches — re-run the statement " +
            "against the new snapshot")
        val needEpoch = cur.map(_.epoch).max + 1L
        if (needEpoch != stagedEpoch) {
          val nd = EpochManifest.newDataDir(spark, op.root, needEpoch)
          require(fs.rename(new Path(s"${op.root}/$stagedDir"),
            new Path(s"${op.root}/$nd")),
            s"rebase rename of $stagedDir to $nd under ${op.root} failed")
          stagedDir = nd
          stagedEpoch = needEpoch
        }
        cur :+ EpochManifest.Entry(stagedEpoch, stagedDir)
      }
    }
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(op.root)
      .getFileSystem(GraftBridge.sessionHadoopConf(spark))
    fs.delete(new Path(s"${op.root}/$stagedDir"), true): Unit
  }
}

final class EpochStoreDeltaWriterFactory(
    dirPath: String, schema: StructType, partCols: Seq[String],
    dataBc: Broadcast[SerializableConfiguration],
    keyBc: Broadcast[SerializableConfiguration],
    idSchema: StructType,
    bucketSpec: Option[EpochStore.StoreBucket])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new EpochStoreDeltaWriter(dirPath, schema, partCols, dataBc, keyBc,
      idSchema, bucketSpec, partitionId, taskId)
}

/** Task-side delta writer: inserts delegate to the store's normal
  * [[EpochStoreDataWriter]] (partition/bucket dirs, stats, file index);
  * deletes append the id row to this task's tombstone parquet. */
final class EpochStoreDeltaWriter(
    dirPath: String, schema: StructType, partCols: Seq[String],
    dataBc: Broadcast[SerializableConfiguration],
    keyBc: Broadcast[SerializableConfiguration],
    idSchema: StructType,
    bucketSpec: Option[EpochStore.StoreBucket],
    partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  // lazy: a pure DELETE has an EMPTY insert schema and never inserts —
  // the data writer materializes only when the first reinserted row
  // arrives
  private var inner: EpochStoreDataWriter = null
  private def dataWriter: EpochStoreDataWriter = {
    if (inner == null)
      inner = new EpochStoreDataWriter(dirPath, schema, partCols,
        dataBc, partitionId, taskId, None, Nil, bucketSpec)
    inner
  }

  private val delRel =
    s"${EpochStoreDelta.DeltaDirName}/del-p$partitionId-t$taskId.parquet"
  private var dels = 0L
  private var delWriter: (InternalRow => Unit, () => Unit) = null
  private def tombstones: InternalRow => Unit = {
    if (delWriter == null) {
      val p = new Path(s"$dirPath/$delRel")
      val fs = p.getFileSystem(keyBc.value.value)
      fs.mkdirs(p.getParent)
      val ctx = new TaskAttemptContextImpl(keyBc.value.value,
        new TaskAttemptID(new TaskID(new JobID("graft-epochstore-delta", 0),
          TaskType.MAP, partitionId), taskId.toInt & Int.MaxValue))
      delWriter = GraftBridge.parquetRowWriter(p.toString, ctx)
    }
    delWriter._1
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    tombstones(id)
    dels += 1
  }

  /** Not reached with [[SupportsDelta.representUpdateAsDeleteAndInsert]]
    * = true; implemented as its definition anyway. */
  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    if (delWriter != null) delWriter._2()
    val data =
      if (inner == null) EpochFilesWritten(Nil, 0L)
      else inner.commit().asInstanceOf[EpochFilesWritten]
    EpochDeltaWritten(data, if (dels > 0) Seq(delRel) else Nil, dels)
  }

  override def abort(): Unit = {
    if (delWriter != null) delWriter._2()
    if (inner != null) inner.abort()
  }

  override def close(): Unit = if (inner != null) inner.close()
}

/** Executor-side equality-tombstone application: rows whose key has a
  * tombstone from a STRICTLY LATER epoch are dropped; survivors are
  * projected back to the scan's declared output (the inner reader runs
  * with the key columns and `_epoch` temporarily widened in). Row-based
  * by construction — a scan with live tombstones gives up vectorized
  * reads until `CALL compact` folds them in. */
final class TombstoneFilteringFactory(
    inner: PartitionReaderFactory,
    keyIdx: Array[Int], keyTypes: Array[DataType],
    epochIdx: Int,
    outIdx: Array[Int], outTypes: Array[DataType],
    tombstonesBc: Broadcast[Map[Seq[Any], Long]])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val tombstones = tombstonesBc.value
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          val key: Seq[Any] = keyIdx.indices
            .map(i => if (row.isNullAt(keyIdx(i))) null
              else row.get(keyIdx(i), keyTypes(i)))
          val killed = tombstones.get(key)
            .exists(del => row.getLong(epochIdx) < del)
          if (!killed) {
            val out = new GenericInternalRow(outIdx.length)
            var j = 0
            while (j < outIdx.length) {
              out.update(j, if (row.isNullAt(outIdx(j))) null
                else row.get(outIdx(j), outTypes(j)))
              j += 1
            }
            cur = out
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = r.close()
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean = false
}
