package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}

import graft.core.EpochManifest

/** POSITION-DELETE (deletion-vector) merge-on-read for IDENTITY-LESS
  * stores (X94 — the Iceberg position-delete / Delta deletion-vector
  * shape): a predicate `DELETE` under
  * `spark.graft.deleteVectors.enabled=true` writes, instead of
  * copy-on-write group rewrites, one NEW manifest entry holding
  * `_dv` parquet files of `(target_dir, target_rel, pos)` rows — the
  * matched rows' file-relative ORDINALS — and commits it with the
  * untouched entries in ONE manifest generation. History dirs are
  * byte-untouched; the write cost is O(matched rows), not O(touched
  * groups).
  *
  * Scan-time application rides Spark's parquet ROW-INDEX machinery
  * (`ParquetFileFormat.ROW_INDEX_FIELD` — the same mechanism
  * `_metadata.row_index` and Delta's DVs use): targeted files read
  * with the row index widened in, a per-file position set drops dead
  * ordinals, and the index projects away. Row indexes are global
  * within a file even across splits (the generator seeds from each
  * row group's first-row index), so targeted files keep normal split
  * geometry.
  *
  * Isolation falls out of the manifest: the DV entry is just an epoch
  * — pre-delete generations don't reference it (time travel exact),
  * gc retains it while referenced, TRUNCATE drops it with everything
  * else. `CALL compact` APPLIES live DVs into the fold and sheds them
  * — the transitional-state posture equality tombstones already have.
  * Operations that would move or copy targeted files out from under
  * their positions (overwrites, bin-packing, migrate, row-level
  * rewrites, CoW deletes, streaming tails) refuse loudly until
  * compaction, exactly like the equality-tombstone guards.
  *
  * Mutually exclusive with a declared row identity by construction:
  * rowid stores route every DELETE through equality tombstones
  * ([[EpochStoreDelta]]); DVs exist precisely for stores WITHOUT one. */
private[graft] object EpochStoreDv {

  /** SQL conf opting predicate DELETEs into position-delete writes. */
  val EnabledConf = "spark.graft.deleteVectors.enabled"
  /** Driver-side bound on materialized positions per scan. */
  val MaxDriverPositionsConf = "spark.graft.dv.maxDriverPositions"
  val MaxDriverPositionsDefault = 16L * 1024 * 1024

  /** Dir (under a DV entry) holding the position files. */
  private[sources] val DvDirName = "_dv"

  private def markerPath(root: String) = new Path(s"$root/_manifests/dv.json")

  /** Marker states: no marker (the store never wrote a DV — nothing
    * else probes), a LEGACY marker (journals may predate the manifest
    * `dv` records — fall back to per-entry listing), or a MANIFESTED
    * marker (every journal is recorded in its manifest entry — DV
    * liveness and file sets come from the manifest bytes planning
    * already read, ZERO listStatus probes). */
  private val MarkerAbsent = 0
  private val MarkerLegacy = 1
  private val MarkerManifested = 2

  /** Positive-state cache: a published marker is immutable, so its
    * state never changes; absence is NOT cached (the first DV delete
    * creates it). */
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def markerState(spark: SparkSession, root: String): Int = {
    val hit = markerCache.get(root)
    if (hit != null) return hit.intValue()
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val p = markerPath(root)
    if (!fs.exists(p)) return MarkerAbsent
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val s =
      if (body.contains("\"manifested\":true")) MarkerManifested
      else MarkerLegacy
    markerCache.put(root, s)
    s
  }

  /** One existence probe — false for every store that never wrote a
    * DV, so the scan-side load never runs a job there. The marker
    * outlives compaction (on a manifested store a stale probe costs
    * nothing — liveness reads off the already-loaded entry list). */
  private[sources] def declared(spark: SparkSession, root: String): Boolean =
    markerState(spark, root) != MarkerAbsent

  private[sources] def publishMarker(spark: SparkSession, root: String)
      : Unit = {
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    // claimed whole ([[EpochManifest.declareOnce]]): markerState caches
    // what it reads for the JVM's life, so it must never see a partial file
    if (!fs.exists(markerPath(root)))
      EpochManifest.declareOnce(fs, markerPath(root),
        "{\"positionDeletes\":true,\"manifested\":true}\n"): Unit
  }

  /** `input_file_name()` → the file's path RELATIVE to `$root/$dir`,
    * matching [[EpochStore.relOf]]'s scan-side key: strip the scheme /
    * authority (input_file_name's `file:///` vs `file:/` spelling
    * varies), then the ANCHORED absolute dir prefix. Never a lazy
    * mid-path match — a store root whose own path contains a segment
    * spelled like an entry dir must not shift the split point. */
  private def relUnder(fs: org.apache.hadoop.fs.FileSystem, root: String,
      dir: String, fileCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.regexp_replace
    val dirPath = fs.makeQualified(new Path(s"$root/$dir")).toUri.getPath
    regexp_replace(
      regexp_replace(fileCol, "^[A-Za-z][A-Za-z0-9+.\\-]*:(//[^/]*)?", ""),
      "^" + java.util.regex.Pattern.quote(dirPath + "/"), "")
  }

  private[sources] val dvSchema = StructType(Seq(
    StructField("target_dir", StringType, nullable = false),
    StructField("target_rel", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  private[graft] def dvFiles(fs: org.apache.hadoop.fs.FileSystem,
                               root: String, dir: String): Seq[Path] = {
    val p = new Path(s"$root/$dir/$DvDirName")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(s => s.isFile && s.getLen > 0 &&
      s.getPath.getName.endsWith(".parquet")).map(_.getPath)
  }

  /** One entry's journal paths under the store's marker state: recorded
    * names straight off the manifest entry on a manifested store (zero
    * IO), the legacy listing otherwise. */
  private def dvPathsOf(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String,
      e: EpochManifest.Entry): Seq[Path] =
    markerState(spark, root) match {
      case MarkerAbsent => Nil
      case MarkerManifested =>
        e.dv.map(n => new Path(s"$root/${e.dir}/$DvDirName/$n"))
      case _ => dvFiles(fs, root, e.dir)
    }

  /** The pinned entries that carry live journals — manifest-resolved on
    * manifested stores (no listing). */
  private[sources] def dvCarrying(spark: SparkSession, root: String,
      entries: Seq[EpochManifest.Entry]): Seq[EpochManifest.Entry] =
    markerState(spark, root) match {
      case MarkerAbsent => Nil
      case MarkerManifested => entries.filter(_.dv.nonEmpty)
      case _ =>
        val fs = new Path(root)
          .getFileSystem(GraftBridge.sessionHadoopConf(spark))
        entries.filter(e => dvFiles(fs, root, e.dir).nonEmpty)
    }

  /** Whether any of `entries` carries live position deletes. */
  private[sources] def hasLiveDvs(spark: SparkSession, root: String,
      entries: Seq[EpochManifest.Entry]): Boolean =
    dvCarrying(spark, root, entries).nonEmpty

  /** [[guardNoLiveDvs]] over an EXPLICIT entry list — the pinned-
    * snapshot form: a time-travel / changefeed scan must decide from
    * the generation it actually reads, not the current head (after
    * `CALL compact` folds DVs away, the head is clean while the pinned
    * older generation still carries them). */
  private[sources] def guardNoLiveDvsIn(spark: SparkSession, root: String,
      entries: Seq[EpochManifest.Entry], what: String): Unit = {
    val carrying = dvCarrying(spark, root, entries)
    require(carrying.isEmpty,
      s"$what on $root: pinned entries ${carrying.map(_.dir).mkString(", ")} " +
        "carry live position deletes (deletion vectors) — the footer " +
        "counts would include deleted rows; run CALL compact (or read " +
        "the post-compact generation)")
  }

  /** The guard every file-moving operation calls (mirroring
    * [[EpochStoreWrite.guardNoLiveTombstones]]): positions target
    * files BY (dir, rel) — anything that copies, rewrites, or re-homes
    * a targeted file would resurrect its deleted rows. */
  private[sources] def guardNoLiveDvs(spark: SparkSession, root: String,
                                      what: String): Unit = {
    if (!declared(spark, root)) return
    val carrying = dvCarrying(spark, root,
      EpochManifest.entries(spark, root))
    require(carrying.isEmpty,
      s"$what on $root: entries ${carrying.map(_.dir).mkString(", ")} " +
        "carry live position deletes (deletion vectors) whose file " +
        "positions this operation would strand — run CALL compact to " +
        "fold them in first")
  }

  /** Small driver-side cache keyed by the DV file set (committed DV
    * dirs are immutable, so the key is exact): repeated scans on a
    * DV-carrying store pay the collect job once, not per planning. */
  private val loadCache =
    new java.util.LinkedHashMap[Seq[String],
      Map[(String, String), Array[Long]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[String],
            Map[(String, String), Array[Long]]]): Boolean = size() > 8
    }

  /** The pinned snapshot's live positions, driver-materialized:
    * (target entry dir, file rel) → sorted distinct ordinals. Bounded
    * by [[MaxDriverPositionsConf]] — an oversized journal refuses with
    * the compact remedy (compaction applies DVs distributed). */
  /** The pinned entries' qualified journal paths (manifest-resolved on
    * manifested stores — no listing). */
  private[sources] def dvPathsFor(spark: SparkSession, root: String,
      entries: Seq[EpochManifest.Entry]): Seq[String] = {
    if (markerState(spark, root) == MarkerAbsent) return Nil
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    entries.flatMap(e => dvPathsOf(spark, fs, root, e))
      .map(p => fs.makeQualified(p).toString).sorted
  }

  /** Per-path footer row counts (driver-side, no Spark job; committed
    * journal files are immutable so the count caches forever). */
  private val footerCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def footerCount(conf: org.apache.hadoop.conf.Configuration,
      path: String): Long = {
    val hit = footerCountCache.get(path)
    if (hit != null) return hit.longValue()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(path), conf))
    val n = try r.getRecordCount finally r.close()
    footerCountCache.put(path, n)
    n
  }

  private[sources] def load(spark: SparkSession, root: String,
      entries: Seq[EpochManifest.Entry])
      : Map[(String, String), Array[Long]] = {
    val paths = dvPathsFor(spark, root, entries)
    if (paths.isEmpty) return Map.empty
    // BOUND BEFORE ANYTHING MATERIALIZES — and before the positive
    // cache, so a shrunk bound takes effect on the next scan (the
    // equality-tombstone loadTombstones discipline). The write-time
    // bound is per-journal; COMPOSED live journals each under it can
    // sum past the load bound, and the refusal must be this clean
    // message, never driver heap pressure from a doomed collect. The
    // counts come off the parquet FOOTERS, driver-side — no job runs.
    val bound = Option(spark.conf.get(MaxDriverPositionsConf, null))
      .map(_.toLong).getOrElse(MaxDriverPositionsDefault)
    val conf = GraftBridge.sessionHadoopConf(spark)
    val total = paths.map(p => footerCount(conf, p)).sum
    require(total <= bound,
      s"position-delete journals under $root hold $total positions " +
        s"across ${paths.length} journal file(s) — above the driver " +
        s"materialization bound $bound ($MaxDriverPositionsConf); run " +
        "CALL compact to fold the deletes in (the fold applies them " +
        "distributed)")
    loadCache.synchronized {
      val hit = loadCache.get(paths)
      if (hit != null) return hit
    }
    val rows = spark.read.schema(dvSchema).parquet(paths: _*).collect()
    val out = rows.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, g) =>
        k -> g.map(_.getLong(2)).distinct.sorted
      }
    loadCache.synchronized { loadCache.put(paths, out): Unit }
    out
  }

  /** The post-DELETE manifest entry list under DV mode: untouched
    * entries pass, provably all-dead entries drop (metadata-only, as
    * ever), and MIXED entries get their matched rows' positions
    * written into ONE new `_dv` entry at a fresh epoch — no data file
    * moves. Returns the new entry list; the CALLER commits it
    * atomically. */
  def resolveDeleteDv(spark: SparkSession, root: String,
                      filters: Array[Filter]): Seq[EpochManifest.Entry] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, input_file_name,
      lit}
    val es = EpochManifest.entries(spark, root)
    if (filters.isEmpty || es.isEmpty) return es
    if (filters.exists { case org.apache.spark.sql.sources
      .AlwaysFalse() => true; case _ => false }) return es
    if (filters.forall { case org.apache.spark.sql.sources
      .AlwaysTrue() => true; case _ => false }) return Seq.empty
    require(EpochStoreDelta.declared(spark, root).isEmpty,
      s"position-delete mode on $root: the store declares a row " +
        "identity — deletes route through equality tombstones there")
    require(!EpochStore.liveAliasNeed(spark, root),
      s"position-delete on $root: live entries still serve columns " +
        "under pre-RENAME names — run CALL compact first")
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val cond = filters.map(f => EpochStoreDml.filterToColumn(f).getOrElse(
      throw new IllegalArgumentException(
        s"epochstore DELETE cannot translate filter $f"))).reduce(_ && _)
    // a column ADDED with a DEFAULT serves its EXISTENCE default for
    // files that predate it — the per-entry binding below must agree
    // with what the scan serves, or `DELETE WHERE added = default`
    // would silently keep (yet still display as matching) those rows
    val existsDefaults: Map[String, (String, org.apache.spark.sql.types
      .DataType)] =
      (try EpochStore.evolvedSchema(spark, root)._1.fields.toSeq
       catch { case _: IllegalArgumentException => Nil })
        .filter(_.metadata.contains("EXISTS_DEFAULT"))
        .map(f => f.name ->
          (f.metadata.getString("EXISTS_DEFAULT"), f.dataType)).toMap
    val fates = es.map { e =>
      val rec = EpochStoreWrite.readSchemaSidecar(fs, root, e.dir)
      val pf = rec.toSeq.flatMap { case (s, pc) =>
        EpochStore.splitPartCols(pc).map(c => s(c)) }
      val fate0 = EpochStoreDml.classify(spark, fs, root, e, pf, filters)
      // an entry CARRYING `_dv` position files never DROPS here: an
      // epoch-aligned predicate (`DELETE WHERE _epoch >= n`) can
      // classify a journal-bearing entry AllDead, and dropping it
      // would discard its position files — silently RESURRECTING the
      // rows an earlier DV delete removed. It demotes to MIXED
      // instead: the entry survives (journal intact — compaction folds
      // and sheds it) and its own matching DATA rows, if any (a
      // position-delta UPDATE entry holds both), still die by position
      // through THIS delete's journal. A pure journal entry reads as
      // zero rows and contributes zero positions.
      val fate =
        if (fate0 == EpochStoreDml.AllDead &&
          dvPathsOf(spark, fs, root, e).nonEmpty) EpochStoreDml.Mixed
        else fate0
      e -> fate
    }
    val survivors = fates.collect {
      case (e, EpochStoreDml.Untouched) => e
      case (e, EpochStoreDml.Mixed) => e
    }
    val mixed = fates.collect { case (e, EpochStoreDml.Mixed) => e }
    if (mixed.isEmpty) return survivors
    // rows ALREADY DEAD under live journals must never re-match: the
    // raw per-entry read sees them, the condition can match them, and
    // a re-recorded position would make the changefeed synthesize a
    // SECOND delete event for a row the consumer already dropped —
    // anti-joined out below (broadcast, delta-sized)
    val livePaths = dvPathsFor(spark, root, es)
    // matched positions, per mixed entry: the file path + in-file row
    // index come from the file-source metadata column — exactly what
    // the scan-side row-index application replays
    val perEntry = mixed.map { e =>
      val (schema, _) = EpochStoreWrite.readSchemaSidecar(fs, root, e.dir)
        .getOrElse(throw new IllegalStateException(
          s"position-delete on $root: entry ${e.dir} predates schema " +
            "records — compact the store first"))
      val present = schema.fieldNames.toSet
      val base = filters.flatMap(_.references).distinct
        .filterNot(present)
        .foldLeft(spark.read.schema(schema).parquet(s"$root/${e.dir}")) {
          (d, c) =>
            if (c == EpochStore.EpochColName) d.withColumn(c, lit(e.epoch))
            else existsDefaults.get(c) match {
              // the value this entry's rows actually SERVE for the
              // evolved-added column
              case Some((sql, dt)) => d.withColumn(c,
                expr(sql).cast(dt))
              case None => d.withColumn(c, lit(null))
            }
        }
      val withLineage = base
        .withColumn("__graft_f", input_file_name())
        .withColumn("__graft_i", col("_metadata.row_index"))
        .withColumn("__graft_rel",
          relUnder(fs, root, e.dir, col("__graft_f")))
      val alive =
        if (livePaths.isEmpty) withLineage
        else withLineage.join(
          org.apache.spark.sql.functions.broadcast(
            spark.read.schema(dvSchema).parquet(livePaths: _*)
              .filter(col("target_dir") === e.dir)
              .select(col("target_rel").as("__graft_rel"),
                col("pos").as("__graft_i"))),
          Seq("__graft_rel", "__graft_i"), "left_anti")
      alive
        // SQL DELETE kills rows where the condition is TRUE only
        .filter(coalesce(cond, lit(false)))
        .select(lit(e.dir).as("target_dir"),
          col("__graft_rel").as("target_rel"),
          col("__graft_i").as("pos"))
    }
    val positions = perEntry.reduce(_ unionByName _)
    val epoch = es.map(_.epoch).max + 1L
    val dir = EpochManifest.newDataDir(spark, root, epoch)
    val dvOut = s"$root/$dir/$DvDirName"
    // distributed write — nothing materializes on the driver. The
    // repartition (not coalesce) keeps the classify-read + filter
    // upstream PARALLEL while landing one journal file: coalesce(1)
    // would collapse the whole mixed-entry scan into a single task.
    positions.repartition(1).write.mode("overwrite").parquet(dvOut)
    // drop _SUCCESS-style markers so the dv dir holds position files
    // plus nothing the loader has to skip beyond the name filter
    val matched = spark.read.schema(dvSchema).parquet(dvOut).count()
    if (matched == 0L) {
      fs.delete(new Path(s"$root/$dir"), true)
      return survivors
    }
    // BOUNDED AT WRITE TIME: every scan materializes the journal on
    // the driver, so a journal past the bound must never PUBLISH —
    // committing one would leave a store every subsequent read refuses.
    // An oversized delete auto-routes to the copy-on-write group
    // rewrite instead (O(touched-groups) write, no positions); with
    // OTHER journals already live that rewrite would strand their
    // positions, so it refuses there with the compact remedy.
    val bound = Option(spark.conf.get(MaxDriverPositionsConf, null))
      .map(_.toLong).getOrElse(MaxDriverPositionsDefault)
    if (matched > bound) {
      fs.delete(new Path(s"$root/$dir"), true)
      return EpochStoreDml.resolveDelete(spark, root, filters)
    }
    // the DV entry records the table schema like any epoch — discovery,
    // evolution merges, and fold coverage treat it as a normal (empty-
    // data) entry
    val (tblSchema, pc) = EpochStoreWrite
      .readSchemaSidecar(fs, root, mixed.head.dir).get
    EpochStoreWrite.writeSchemaSidecar(fs, root, dir, tblSchema,
      EpochStore.splitPartCols(pc))
    // an EMPTY stats index: the journal entry holds no data files, and
    // the index keeps every scan's planning walk off listStatus (the
    // restore marker's discipline)
    EpochStoreStats.write(fs, root, dir, Seq.empty)
    publishMarker(spark, root)
    // the journal's file names ride the manifest entry itself — every
    // later planning decides DV liveness and loads positions with zero
    // listStatus probes, and time travel sees per-generation journals
    val dvNames = dvFiles(fs, root, dir).map(_.getName).sorted
    survivors :+ EpochManifest.Entry(epoch, dir, dv = dvNames)
  }

  /** Synthesized CDC DELETE events for the changefeed (X94 meets X81):
    * for each position-delete journal committed since the consumer's
    * base generation, the dead rows' FULL OLD PAYLOADS — the targeted
    * files read once, inner-joined (broadcast, positions are matched-
    * rows-sized) on (file rel, row index) against the journal, served
    * under the caller's schema with `_change_type` = 'delete' and
    * `_epoch` = the journal's commit epoch. Only PRE-BASE targets
    * synthesize: an in-window target's insert event is itself dropped
    * by the scan's DV application, so the pair nets out of the feed
    * (standard net-change semantics). Returns None when nothing
    * synthesizes. */
  private[sources] def deleteEvents(spark: SparkSession, root: String,
      head: Seq[EpochManifest.Entry], journals: Seq[EpochManifest.Entry],
      baseMax: Long, schema: StructType): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col, expr,
      input_file_name, lit, regexp_extract}
    import spark.implicits._
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val byDir = head.map(e => e.dir -> e).toMap
    // RENAME history: the caller's schema spells LOGICAL names while a
    // pre-rename target records the PHYSICAL ones — resolve per entry
    // (the alias chains, X85) or the payloads would silently null
    val aliases = EpochStore.columnAliases(spark, root)
    // ONE scan over EVERY journal's position files, the carrying
    // journal's commit epoch recovered per row by anchoring on its
    // "<entryDir>/_dv/" path segment (dir names are [a-z0-9-], immune
    // to URI-encoding spelling — the equality-tombstone deltaFrame
    // discipline) and joined from a broadcast dir→epoch map: the
    // synthesized feed's plan width is O(#target entries), never
    // O(#journals × #target entries) on a journal-heavy window
    val allPaths = journals.flatMap(j => dvPathsOf(spark, fs, root, j)
      .map(p => fs.makeQualified(p).toString))
    if (allPaths.isEmpty) return None
    val epochByDir = journals.map(j => (j.dir, j.epoch))
      .toDF("__graft_jdir", "__graft_e")
    val dv = spark.read.schema(dvSchema).parquet(allPaths: _*)
      .withColumn("__graft_jdir",
        regexp_extract(input_file_name(), s"/([a-z0-9-]+)/$DvDirName/", 1))
      .join(broadcast(epochByDir), "__graft_jdir")
    // distinct target dirs: driver-collected, statement-sized (journals
    // target entries, not rows)
    val dirs = dv.select(col("target_dir")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val frames = dirs.flatMap { d =>
      byDir.get(d) match {
        // in-window target: insert + delete net out of the feed
        case Some(t) if t.minEpoch > baseMax => None
        // a target dropped from the manifest trips the feed's
        // disappeared-entry guard before this runs
        case None => None
        case Some(t) =>
          val (s, _) = EpochStoreWrite.readSchemaSidecar(fs, root, t.dir)
            .getOrElse(throw new IllegalStateException(
              s"epochstore changefeed over $root: target entry " +
                s"${t.dir} predates schema records — run CALL " +
                "compact first"))
          // one read of the target entry, joined against ALL journals'
          // positions for it at once — live journals never share a
          // (file, ordinal) (a dead position can never re-match), so
          // each dead row yields exactly one event, stamped with ITS
          // journal's commit epoch off the broadcast side
          val raw = spark.read.schema(s).parquet(s"$root/${t.dir}")
            .withColumn("__graft_rel",
              relUnder(fs, root, t.dir, input_file_name()))
            .withColumn("__graft_pos", col("_metadata.row_index"))
          val hits = raw.join(
            broadcast(dv.filter(col("target_dir") === d)
              .select(col("target_rel").as("__graft_rel"),
                col("pos").as("__graft_pos"), col("__graft_e"))),
            Seq("__graft_rel", "__graft_pos"), "inner")
          val have = s.fieldNames.toSet
          Some(hits.select(schema.fields.toSeq.map { f =>
            // a column the target predates serves what its rows
            // SERVED: the existence default if one is recorded,
            // null otherwise — the delete event must carry the
            // payload the consumer ingested. Historical PHYSICAL
            // spellings resolve through the alias chains.
            val phys = aliases.resolve(f.name, have)
            (if (have.contains(phys)) col(phys)
            else if (f.metadata.contains("EXISTS_DEFAULT"))
              expr(f.metadata.getString("EXISTS_DEFAULT"))
                .cast(f.dataType)
            else lit(null).cast(f.dataType)).as(f.name)
          } :+ lit("delete").as(EpochStore.ChangeColName)
            :+ col("__graft_e").as(EpochStore.EpochColName): _*))
      }
    }
    frames.reduceOption(_ unionByName _)
  }

  /** A DV-targeted file's packed partition: the inner split geometry
    * plus ITS file's dead ordinals (positions ride the partition — a
    * targeted file's set is matched-rows-sized by construction). */
  final case class DvFilePartition(inner: InputPartition,
                                   positions: Array[Long])
      extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** A synthesized CDC DELETE-EVENT partition (X97 on the tail): the
    * targeted file's split geometry plus the dead ordinals to KEEP —
    * the inverse selection of [[DvFilePartition]]. The packed file's
    * per-file constants carry `_change_type` = 'delete' and `_epoch` =
    * the journal's commit epoch, so the dead rows read back as
    * full-payload delete events with zero driver materialization. */
  final case class DvEventPartition(inner: InputPartition,
                                    positions: Array[Long])
      extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  /** Routes partitions while DVs are live: TARGETED files (packed as
    * [[DvFilePartition]]) read through the row-index-widened factory +
    * dead-ordinal filter, synthesized DELETE-EVENT partitions
    * ([[DvEventPartition]], CDC tails) through its keep-only twin;
    * every UNTARGETED partition stays on the PLAIN factory — no
    * row-index column read, no per-row copy (batch-backed rows straight
    * from the vectorized reader). Spark's DataSourceV2ScanExecBase
    * forbids mixing columnar and row-based partitions in one scan, so
    * the scan as a whole reports row-based until `CALL compact` sheds
    * the DVs — but only the matched-rows-sized targeted remainder pays
    * the filtering wrapper. */
  final class DvRoutingFactory(
      val plain: PartitionReaderFactory,
      val dv: DvFilteringFactory,
      val events: DvFilteringFactory = null)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = p match {
      case d: DvFilePartition => dv.createReader(d)
      case e: DvEventPartition =>
        require(events != null,
          "DvEventPartition planned without an event reader factory")
        events.createReader(e)
      case other => plain.createReader(other)
    }
    override def supportColumnarReads(p: InputPartition): Boolean = false
  }

  /** Executor-side position application: the inner reader runs with the
    * parquet ROW INDEX widened in ([[org.apache.spark.sql.execution
    * .datasources.parquet.ParquetFileFormat.ROW_INDEX_FIELD]]); rows
    * whose index is in the partition's dead set drop (`keepOnly =
    * false`, the live-row scan) or are the ONLY ones emitted
    * (`keepOnly = true` — the CDC tail's synthesized delete events);
    * emitted rows project back to the declared output. Row-based while
    * DVs are live — `CALL compact` restores vectorized reads, same as
    * equality tombstones. */
  final class DvFilteringFactory(
      inner: PartitionReaderFactory,
      rowIdxPos: Int,
      outIdx: Array[Int], outTypes: Array[DataType],
      keepOnly: Boolean = false)
      extends PartitionReaderFactory {

    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = {
      val (ip, dead) = p match {
        case DvFilePartition(i, pos) => (i, pos)
        case DvEventPartition(i, pos) => (i, pos)
        case other => (other, Array.empty[Long])
      }
      val r = inner.createReader(ip)
      val deadSet: java.util.HashSet[java.lang.Long] = {
        val s = new java.util.HashSet[java.lang.Long](
          math.max(16, dead.length * 2))
        dead.foreach(l => s.add(l): Unit)
        s
      }
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (r.next()) {
            val row = r.get()
            val inSet = !deadSet.isEmpty &&
              deadSet.contains(row.getLong(rowIdxPos))
            if (inSet == keepOnly) {
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

  /** Apply live DVs to one raw per-entry frame (compaction's fold
    * path): anti-join on (rel path, row index) — fully distributed,
    * never a driver map, so a journal of any size folds. */
  private[sources] def applyToFold(spark: SparkSession, root: String,
      entryDir: String, raw: DataFrame,
      dvPaths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (dvPaths.isEmpty) return raw
    val fs = new Path(root).getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val dv = spark.read.schema(dvSchema).parquet(dvPaths: _*)
      .filter(col("target_dir") === entryDir)
      .select(col("target_rel").as("__graft_rel"),
        col("pos").as("__graft_pos"))
    val withPos = raw
      .withColumn("__graft_rel", relUnder(fs, root, entryDir,
        org.apache.spark.sql.functions.input_file_name()))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    withPos.join(broadcast(dv),
        withPos("__graft_rel") === dv("__graft_rel") &&
          withPos("__graft_pos") === dv("__graft_pos"), "left_anti")
      .drop("__graft_rel", "__graft_pos")
  }
}
