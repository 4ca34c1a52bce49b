package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Snapshot-isolated epoch store — the one commit protocol every
  * epoch store shares: the persisted IVF-PQ serving index, the text and
  * media band indexes, materialized-aggregate cubes and the streaming
  * serving partials ([[graft.streaming.Jobs.dualSinkQuery]]).
  *
  * A plain `epoch=N` dir layout cannot give a CONCURRENT reader
  * isolation: its compaction swap is delete-covered-dirs-then-rename-fold,
  * so a searcher that opened the index just before a compaction reads
  * files that vanish mid-scan, and a crash inside the swap needs a
  * marker file to tell a finished fold from a half-written one.
  * A long-running serving index needs the property real table formats
  * (Iceberg, Delta) are built around: immutable data dirs + an atomic
  * manifest commit + garbage collection that lags live snapshots. This
  * is that idea at the ~100-line scale this engine needs.
  *
  * Layout under `root/`:
  *   d<epoch>-<attempt>/...        immutable data dirs (inner layout free,
  *                                 e.g. list_id=L partitions)
  *   f<epoch>-<attempt>/...        compaction folds (append refuses to
  *                                 replace these — they hold many epochs)
  *   _manifests/m<G>.json          one complete entry list per commit
  *   _manifests/branch-<name>/m<G>.json  a branch's manifest lineage
  *   _manifests/tags.v<N>.json     named snapshot tags (name → generation)
  *   _manifests/columns.v<N>.json  column RENAME / DROP ops, in order
  *   _manifests/layout.v<N>.json   the current declared partition spec
  *   _manifests/constraints.v<N>.json  declared CHECK constraints
  *                                 ([[graft.sources.EpochStoreConstraints]])
  *
  * Every `<prefix>N.json` family above is a VERSIONED LOG with one
  * primitive behind it: [[versions]] lists a log ascending, [[readHead]]
  * reads the highest complete version (re-listing when it vanished
  * between list and open), and [[publishNext]] is the one OCC loop —
  * read the head, derive the next body from it, CAS-publish version
  * N+1 create-if-absent. The metadata logs then delete all but the
  * previous version; the manifest lineages leave retention to [[gc]].
  * Each log owns only its render, parse and validation.
  *
  * Writer contract: MULTI-WRITER with optimistic concurrency. Every
  * commit is a CAS on the manifest generation: the next generation's
  * file is published create-if-absent (hard-link on a local FS — atomic
  * EEXIST; plain rename elsewhere — HDFS rename is atomic and fails
  * when the destination exists, the same primitive Delta's HDFS
  * LogStore relies on), so two writers racing the same generation get
  * exactly one winner. The loser re-reads the new head and REBASES:
  * commuting operations (two appends of distinct epochs, an append vs
  * a tag, an append above a compaction's fold span) all land, each
  * exactly once; conflicting ones (a compaction/row-level rewrite whose
  * folded entries were touched, an append landing INSIDE a fold's epoch
  * span where the fold would outrank its newer rows, any commit racing
  * an overwrite/truncate) refuse loudly with the pre-statement state
  * intact — re-run the statement against the new snapshot. Data-dir
  * names are claimed through exclusive markers (`_claims/`) so racing
  * writers never share an attempt dir, and [[gc]] reclaims only
  * committed-and-superseded dirs immediately — never-committed dirs
  * (a crashed OR in-flight writer's) age out instead, so a concurrent
  * writer's staged-but-uncommitted attempt is never deleted from under
  * its commit.
  *
  * Rules:
  *   - A data dir is VISIBLE iff the highest complete manifest names it.
  *     Manifests are written whole to a tmp path and renamed into place —
  *     rename is atomic on HDFS and local FS, so readers see the old or
  *     the new manifest, never a partial one.
  *   - Committed data dirs are never mutated. A retried epoch writes a
  *     NEW attempt dir and commits a manifest that replaces the epoch's
  *     entry; the orphaned attempt is gc()'d later.
  *   - Compaction writes its fold as a new dir and commits the swap as
  *     ONE manifest. [[gc]] deletes only dirs referenced by NEITHER of
  *     the two most recent manifests — so every dir a reader could have
  *     resolved from the previous manifest survives one full compaction
  *     cycle. A snapshot older than that must reopen (the documented
  *     isolation window; VectorSpec pins both sides of it).
  */
object EpochManifest {

  /** One visible data dir: `dir` is relative to the store root. `lo` is
    * the LOWEST epoch whose rows the dir holds (-1 = just `epoch`, the
    * plain-append case); a compaction fold spans [lo, epoch], and
    * [[append]] keys its must-not-replace guard on that span rather than
    * on the dir-name prefix — coverage travels in the manifest itself,
    * so a store whose fold dirs were written under an older naming
    * scheme is still protected once its NEXT compaction commits. */
  final case class Entry(epoch: Long, dir: String, lo: Long = -1L,
                         dv: Seq[String] = Nil) {
    /** Lowest covered epoch ([[lo]] defaulted to [[epoch]]). */
    def minEpoch: Long = if (lo < 0L) epoch else lo
    // `dv` — the entry's position-delete (deletion-vector) file names
    // under `<dir>/_dv/`, recorded AT COMMIT so planning decides DV
    // liveness from the manifest bytes it already read: zero listStatus
    // probes on the hot path, and a time-travel read of an old
    // generation sees exactly that generation's journals. Empty for
    // every data entry and for folds (compaction applies + sheds DVs).
  }

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(s"$root/_manifests")

  /** All complete manifests, ascending by generation. */
  private def manifests(spark: SparkSession, root: String): Seq[(Long, FileStatus)] =
    versions(fsOf(spark, root), manifestDir(root), "m")

  private def readEntries(fs: FileSystem, p: Path): Seq[Entry] =
    parse(readBody(fs, p))

  private def parse(body: String): Seq[Entry] =
    body.linesIterator.filter(_.nonEmpty).map { line =>
      // fixed shape {"epoch":N[,"lo":M],"dir":"..."} written by commit()
      // below — not a general JSON parser, and dir names never contain
      // quotes; "lo" absent (every pre-coverage manifest) defaults to -1
      val e = line.split("\"epoch\":")(1).takeWhile(c => c.isDigit || c == '-').toLong
      val d = line.split("\"dir\":\"")(1).takeWhile(_ != '"')
      val lo =
        if (line.contains("\"lo\":"))
          line.split("\"lo\":")(1).takeWhile(c => c.isDigit || c == '-').toLong
        else -1L
      val dv =
        if (line.contains("\"dv\":\""))
          line.split("\"dv\":\"")(1).takeWhile(_ != '"')
            .split(",").toSeq.filter(_.nonEmpty)
        else Nil
      Entry(e, d, lo, dv)
    }.toSeq

  // ------------------------------------------------- OCC primitives

  /** How old a never-committed artifact (orphan data dir, manifest tmp,
    * stale claim) must be before [[gc]] reclaims it. Younger ones may
    * belong to a LIVE concurrent writer that simply hasn't committed
    * yet — deleting those would yank staged files out from under an
    * in-flight commit. Committed-and-superseded dirs are exempt (their
    * manifests prove no writer still needs them) and reclaim
    * immediately. */
  val OrphanReclaimAfterMs: Long = 3600L * 1000L

  private def isLocal(fs: FileSystem): Boolean = {
    val scheme = fs.getUri.getScheme
    scheme == null || scheme == "file"
  }

  /** Create `path` (empty) if and only if it does not exist — the claim
    * primitive. Local FS goes through `File.createNewFile` (O_EXCL —
    * atomic; Hadoop's local `create(path, false)` is check-then-create
    * with a race window); remote FSs use `create(overwrite = false)`,
    * which HDFS implements atomically in the NameNode. */
  private def exclusiveCreate(fs: FileSystem,
                              path: Path): Boolean = {
    fs.mkdirs(path.getParent)
    if (isLocal(fs))
      new java.io.File(fs.makeQualified(path).toUri.getPath).createNewFile()
    else {
      try { fs.create(path, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.FileNotFoundException => false
      }
    }
  }

  /** Move the fully-written `src` to `dst` if and only if `dst` does not
    * exist — the publish primitive behind every manifest CAS. Local FS:
    * hard-link (atomic EEXIST on POSIX; a plain local rename silently
    * OVERWRITES, which is exactly the lost-update this closes). Remote:
    * Hadoop rename, which HDFS makes atomic-and-failing when `dst`
    * exists. Returns false when another writer won the generation; `src`
    * is cleaned up either way. */
  private def atomicClaim(fs: FileSystem,
                          src: Path, dst: Path): Boolean = {
    val won =
      if (isLocal(fs)) {
        val s = java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath)
        val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
        try { java.nio.file.Files.createLink(d, s); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !fs.exists(dst) && fs.rename(src, dst)
    fs.delete(src, false)
    won
  }

  private def render(es: Seq[Entry]): String =
    es.sortBy(_.epoch)
      .map { e =>
        e.dv.foreach(n => require(!n.contains("\"") && !n.contains(","),
          s"dv file name '$n' cannot be recorded"))
        val lo = if (e.minEpoch != e.epoch) s""","lo":${e.minEpoch}""" else ""
        val dv =
          if (e.dv.isEmpty) ""
          else s""","dv":"${e.dv.mkString(",")}""""
        s"""{"epoch":${e.epoch}$lo$dv,"dir":"${e.dir}"}"""
      }
      .mkString("", "\n", "\n")

  /** CAS-publish `body` as version `v` of `dir`'s `prefix` log (`m` for
    * a manifest lineage, main's or a branch's): true iff this writer won
    * the version. */
  private def publishAt(fs: FileSystem, dir: Path, prefix: String,
                        v: Long, body: String,
                        create: Boolean = true): Boolean = {
    // a SEEDED lineage (branch) must never be recreated here: a publish
    // retires the branch dir by rename, and an unconditional mkdirs
    // would let a racing branch commit CAS into a recreated empty dir
    // during the publish window instead of refusing
    if (!create && !fs.exists(dir)) return false
    if (create) fs.mkdirs(dir)
    val tmp = new Path(dir,
      s".$prefix$v-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    // seeded lineages write NON-recursively: a plain create would
    // silently rebuild the parent dirs, re-opening the publish-window
    // hole the exists check above narrows (the retire rename can land
    // between the check and the write) — failing into the retry loop
    // surfaces the loud branch-gone refusal instead
    val out =
      if (create) fs.create(tmp, true)
      else try fs.createNonRecursive(tmp, true, 4096,
        fs.getDefaultReplication(dir), fs.getDefaultBlockSize(dir), null)
      catch {
        case _: java.io.FileNotFoundException => return false
        case _: java.io.IOException => return false
      }
    try out.write(body.getBytes("UTF-8")) finally out.close()
    atomicClaim(fs, tmp, new Path(dir, s"$prefix$v.json"))
  }

  // ------------------------------------------------- versioned logs

  /** `dir`'s `<prefix>N.json` files, ascending by N — the one lister of
    * every versioned log. Empty when `dir` does not exist (probed first,
    * so a store that never wrote the log lists nothing; a dir retired
    * between the probe and the listing reads as empty too) — unless
    * `mustExist`: a caller that took `dir` from a listing of its parent
    * then gets the listing's FileNotFoundException, i.e. learns that the
    * lineage moved since, instead of reading it as holding nothing. */
  private def versions(fs: FileSystem, dir: Path, prefix: String,
                       mustExist: Boolean = false): Seq[(Long, FileStatus)] = {
    val ss =
      if (mustExist) fs.listStatus(dir)
      else if (!fs.exists(dir)) Array.empty[FileStatus]
      else try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    ss.toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith(prefix) && n.endsWith(".json"))
        n.stripPrefix(prefix).stripSuffix(".json").toLongOption.map(_ -> s)
      else None
    }.sortBy(_._1)
  }

  private def readBody(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** A versioned log as one read saw it: every listed version,
    * ascending, and the highest one's body (None for an empty log). */
  private[graft] final case class Head(versions: Seq[(Long, FileStatus)],
                                       body: Option[String]) {
    /** The head's version number; 0 for an empty log. */
    def version: Long = versions.lastOption.map(_._1).getOrElse(0L)
  }

  /** Read the highest complete version of `dir`'s `prefix` log — one
    * listing and one open. When that version vanished between the two
    * (a concurrent publish reclaimed it), list again; when the retries
    * run out, fail loudly: reading a log as empty because its files
    * kept moving would silently drop tags, renames, a layout or CHECK
    * constraints. */
  private[graft] def readHead(fs: FileSystem, dir: Path,
                              prefix: String): Head = {
    def attempt(retriesLeft: Int): Head = {
      val vs = versions(fs, dir, prefix)
      vs.lastOption match {
        case None => Head(vs, None)
        case Some((_, s)) =>
          try Head(vs, Some(readBody(fs, s.getPath))) catch {
            case _: java.io.FileNotFoundException if retriesLeft > 0 =>
              attempt(retriesLeft - 1)
            case e: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"versioned log $dir/${prefix}N.json: every listed head " +
                  "vanished between list and read across retries — racing " +
                  "publishes; retry the operation", e)
          }
      }
    }
    attempt(3)
  }

  /** The ONE optimistic-concurrency publish every versioned log goes
    * through: read the head, derive the next body from it (`next` sees
    * None for an empty log and throws to refuse — nothing published),
    * CAS-publish version N+1 create-if-absent. A lost race re-reads and
    * re-derives, so racing writers each land exactly once, each derived
    * from the version it actually follows. With `prune`, all but the
    * previous version are deleted once the new one lands: a reader that
    * listed just before the publish can still open what it listed.
    * `create` = false requires `dir` to exist (a seeded branch lineage).
    * Returns the published version. */
  private[graft] def publishNext(fs: FileSystem, dir: Path, prefix: String,
                                 what: String, prune: Boolean = true,
                                 create: Boolean = true)
                                (next: Option[String] => String): Long = {
    var attempt = 0
    while (true) {
      val head = readHead(fs, dir, prefix)
      val v = head.version + 1L
      if (publishAt(fs, dir, prefix, v, next(head.body), create)) {
        if (prune)
          head.versions.dropRight(1).foreach(s => fs.delete(s._2.getPath, false))
        return v
      }
      attempt += 1
      require(attempt < 64,
        s"$what lost $attempt straight CAS races — giving up (a writer " +
          "storm or a livelock; retry the operation)")
      Thread.sleep(math.min(50L, attempt.toLong)) // tiny contention backoff
    }
    -1L // unreachable
  }

  /** Publish a WRITE-ONCE declaration (`_rowid.json`, `_bloom.json`,
    * `_manifests/dv.json`) through the same create-if-absent claim: the
    * body is written whole to a tmp file beside `path`, then claimed —
    * two first writers get exactly one winner, and a reader never sees
    * a partial file. Returns the body that holds: `body` when this
    * writer won, the winner's otherwise (callers refuse a mismatch).
    * A writer that crashes between the tmp's create and the claim leaves
    * `.<name>-xxxxxxxx.tmp` behind; [[gc]] reclaims it once aged, as it
    * does a crashed manifest publish's tmp. */
  private[graft] def declareOnce(fs: FileSystem, path: Path,
                                 body: String): String = {
    val tmp = new Path(path.getParent,
      s".${path.getName}-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (atomicClaim(fs, tmp, path)) body else readBody(fs, path)
  }

  /** [[commitEpochDir]]'s rebase — fold-replacement guard, straddle
    * guard, epoch replacement — the same on main and on a branch. */
  private def appendRebase(where: String, epoch: Long, dir: String)
                          (cur: Seq[Entry]): Seq[Entry] = {
    // fold guard re-checked against the head EVERY rebase attempt — a
    // compaction that overtakes this epoch mid-retry still refuses
    cur.find(_.epoch == epoch).foreach { e =>
      require(!e.dir.startsWith("f") && e.minEpoch == e.epoch,
        s"epoch $epoch $where is a compaction fold covering epochs " +
          s"[${e.minEpoch}, ${e.epoch}] — a retried append must not replace it")
    }
    // straddle guard: an epoch strictly INSIDE another entry's fold
    // span would be outranked by the fold under latest-wins reads
    cur.filter(e => e.minEpoch < e.epoch &&
      e.minEpoch <= epoch && epoch < e.epoch).foreach { e =>
      throw new IllegalArgumentException(
        s"epoch $epoch $where falls inside fold ${e.dir}'s covered " +
          s"span [${e.minEpoch}, ${e.epoch}] — the fold would outrank " +
          "its rows; append above the compaction boundary instead")
    }
    cur.filterNot(_.epoch == epoch) :+ Entry(epoch, dir)
  }

  /** The optimistic-concurrency commit every mutation goes through:
    * read the head, let `rebase` derive the next entry list FROM THE
    * CURRENT entries, CAS-publish head+1. A lost race re-reads and
    * re-rebases against the new head — commuting operations converge
    * (each lands exactly once, in some order); a `rebase` that cannot
    * commute with what landed throws (nothing published, loud refusal).
    * `branch` scopes the commit to that branch's lineage — the same
    * loop, invisible to main readers; the branch must exist (its base
    * generation is its first). Returns the published generation. */
  def commitWith(spark: SparkSession, root: String,
                 branch: Option[String] = None)
                (rebase: Seq[Entry] => Seq[Entry]): Long = {
    val (md, what) = branch match {
      case None => (manifestDir(root), root)
      case Some(b) => (branchPath(root, b), s"branch '$b' of $root")
    }
    publishNext(fsOf(spark, root), md, "m", s"commit under $what",
      prune = false, create = branch.isEmpty) { body =>
      require(branch.isEmpty || body.nonEmpty, s"no manifest under $what — " +
        "create the branch before writing to it")
      render(rebase(body.map(parse).getOrElse(Seq.empty)))
    }
  }

  /** Rebase for FOLD-style commits (compaction, row-level rewrites,
    * delete purges): the `replaced` entries' rows were copied into
    * `fold` from a pinned snapshot, so they must be UNTOUCHED in the
    * current head (a concurrent replacement there means the fold holds
    * stale rows — refuse); entries that landed since `base` commute iff
    * their whole epoch span sits ABOVE the fold's epoch (an entry
    * inside the span would be outranked by the fold under latest-wins
    * reads — the straddle hazard — refuse); with `strictBase` every
    * change to `base` refuses (row-level ops: their WHERE was evaluated
    * against the pinned snapshot, so even a not-folded entry changing
    * is a serializability conflict). */
  def rebaseFold(base: Seq[Entry], replaced: Seq[Entry], fold: Entry,
                 strictBase: Boolean = false)
                (cur: Seq[Entry]): Seq[Entry] = {
    val curByDir = cur.map(e => e.dir -> e).toMap
    val mustHold = if (strictBase) base else replaced
    mustHold.foreach { r =>
      require(curByDir.get(r.dir).contains(r),
        s"concurrent commit touched entry ${r.dir} (epoch ${r.epoch}) " +
          "that this operation read from its pinned snapshot — re-run " +
          "the operation against the new snapshot")
    }
    val baseDirs = base.map(_.dir).toSet
    cur.filterNot(e => baseDirs(e.dir) || e.dir == fold.dir).foreach { e =>
      require(e.minEpoch > fold.epoch,
        s"concurrent commit landed entry ${e.dir} at epoch span " +
          s"[${e.minEpoch}, ${e.epoch}] inside this fold's covered span " +
          s"(.. ${fold.epoch}] — the fold would outrank its newer rows " +
          "under latest-wins reads; re-run the operation")
    }
    val replacedDirs = replaced.map(_.dir).toSet
    cur.filterNot(e => replacedDirs(e.dir)) :+ fold
  }

  /** Strict full-replace: publish `next` if and only if the head still
    * equals `base` — overwrite/truncate semantics, where ANY concurrent
    * commit is a conflict (its rows would be silently clobbered). */
  def commitIfUnchanged(spark: SparkSession, root: String,
                        base: Seq[Entry], next: Seq[Entry]): Long = {
    val baseSet = base.toSet
    commitWith(spark, root) { cur =>
      require(cur.toSet == baseSet,
        s"concurrent commit landed under $root since this statement " +
          "planned (overwrite/truncate replaces the WHOLE snapshot, so " +
          "any racing commit conflicts) — re-run the statement")
      next
    }
  }

  // ------------------------------------------------------------- tags
  // Named snapshot tags: `_manifests/tags.v<N>.json` maps name →
  // generation. A tag is a RETENTION ANCHOR — [[gc]] keeps every tagged
  // manifest and the dirs it references alive alongside the two newest,
  // so 'v1' stays readable through any number of later commits and
  // compactions until untagged. Names are [A-Za-z0-9._-]+ (no escaping
  // needed in the fixed-shape JSON). A versioned log ([[publishNext]]):
  // two concurrent single-tag operations both land, each exactly once,
  // and a reader (or gc resolving its retention anchors) never sees an
  // empty in-between state.

  private def parseTags(body: Option[String]): Map[String, Long] =
    body.toSeq.flatMap(_.linesIterator.filter(_.nonEmpty)).map { line =>
      // fixed shape {"name":"...","generation":N} per line
      val n = line.split("\"name\":\"")(1).takeWhile(_ != '"')
      val g = line.split("\"generation\":")(1).takeWhile(_.isDigit).toLong
      n -> g
    }.toMap

  private def renderTags(ts: Map[String, Long]): String =
    ts.toSeq.sortBy(_._1)
      .map { case (n, g) => s"""{"name":"$n","generation":$g}""" }
      .mkString("", "\n", if (ts.isEmpty) "" else "\n")

  /** The store's named tags, name → pinned generation. */
  def tags(spark: SparkSession, root: String): Map[String, Long] =
    parseTags(readHead(fsOf(spark, root), manifestDir(root), "tags.v").body)

  /** Pin `name` to a RETAINED `generation` (default: the current one).
    * Re-tagging an existing name moves it. */
  def tag(spark: SparkSession, root: String, name: String,
          generation: Long = -1L): Long = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"tag name '$name' — use [A-Za-z0-9._-]+")
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — VERSION AS OF would read it as " +
        "a generation number, shadowing the tag")
    val ms = manifests(spark, root)
    require(ms.nonEmpty, s"no committed manifest under $root")
    val g = if (generation < 0L) ms.last._1 else generation
    require(ms.exists(_._1 == g),
      s"generation $g not retained under $root — available: " +
        ms.map(_._1).mkString("[", ", ", "]"))
    publishNext(fsOf(spark, root), manifestDir(root), "tags.v",
      s"tag write under $root")(b => renderTags(parseTags(b) + (name -> g)))
    g
  }

  /** Drop `name`; its generation becomes reclaimable by the next gc
    * (unless it is among the two newest or otherwise tagged). */
  def untag(spark: SparkSession, root: String, name: String): Unit = {
    publishNext(fsOf(spark, root), manifestDir(root), "tags.v",
      s"tag write under $root") { b =>
      val ts = parseTags(b)
      require(ts.contains(name),
        s"no tag '$name' under $root — tags: ${ts.keys.toSeq.sorted}")
      renderTags(ts - name)
    }
    ()
  }

  // Column-evolution ops: `_manifests/columns.v<N>.json` — an ordered,
  // append-only log of RENAME / DROP operations applied ON TOP of the
  // per-entry schema records (which stay immutable with their data). A
  // versioned log like the tags. The log is the table-level schema
  // authority Iceberg keeps in its metadata JSON — entries keep their
  // as-written (physical) names, the ops map them to the current
  // (logical) names at read planning.

  /** One column-evolution operation, in application order. */
  sealed trait ColumnOp
  object ColumnOp {
    final case class Rename(from: String, to: String) extends ColumnOp
    final case class Drop(name: String) extends ColumnOp
  }

  private def parseColumnOps(body: Option[String]): Seq[ColumnOp] =
    body.toSeq.flatMap(_.linesIterator.filter(_.nonEmpty)).map { line =>
      // fixed shape per line, names validated at append
      if (line.contains("\"op\":\"rename\""))
        ColumnOp.Rename(
          line.split("\"from\":\"")(1).takeWhile(_ != '"'),
          line.split("\"to\":\"")(1).takeWhile(_ != '"'))
      else
        ColumnOp.Drop(line.split("\"name\":\"")(1).takeWhile(_ != '"'))
    }

  /** The store's column-evolution ops, oldest first. Empty for stores
    * that never renamed/dropped a column (the overwhelmingly common
    * case — one listing, no read). */
  def columnOps(spark: SparkSession, root: String): Seq[ColumnOp] =
    parseColumnOps(readHead(fsOf(spark, root), manifestDir(root), "columns.v").body)

  /** OCC append to the column-ops log: `validate` sees the CURRENT log
    * inside the CAS loop, so two racing ALTERs both land, each validated
    * against what it actually follows. */
  def appendColumnOps(spark: SparkSession, root: String,
                      ops: Seq[ColumnOp],
                      validate: Seq[ColumnOp] => Unit = _ => ()): Unit = {
    ops.foreach {
      case ColumnOp.Rename(f, t) => Seq(f, t).foreach(requireRecordable)
      case ColumnOp.Drop(n) => requireRecordable(n)
    }
    publishNext(fsOf(spark, root), manifestDir(root), "columns.v",
      s"column-op append under $root") { b =>
      val cur = parseColumnOps(b)
      validate(cur)
      (cur ++ ops).map {
        case ColumnOp.Rename(f, t) => s"""{"op":"rename","from":"$f","to":"$t"}"""
        case ColumnOp.Drop(n) => s"""{"op":"drop","name":"$n"}"""
      }.mkString("", "\n", "\n")
    }
    ()
  }

  private def requireRecordable(name: String): Unit =
    require(name.nonEmpty && !name.contains("\"") && !name.contains(",") &&
      !name.contains("\n"),
      s"column name '$name' cannot be recorded in the ops log")

  // Partition-SPEC evolution: `_manifests/layout.v<N>.json` — the
  // table-level CURRENT layout, recorded ON TOP of the per-entry
  // layout records (each entry's `_schema.json`/`_bucket.json` stay
  // immutable with its data, exactly like column renames). New writes
  // land under the current layout; scans evaluate every pinned entry
  // under its OWN recorded spec — Iceberg's mixed-spec snapshots, no
  // data rewrite. A versioned log like the columns log.

  /** One recorded table-level layout: identity partition columns in
    * nesting order, optional hash-bucket spec (col, n), optional
    * time-unit/truncate transform level (canonical spelling, e.g.
    * `days(ts)` — X93 composing with X92: the declared layout may
    * carry a unit level; entries recorded under other specs degrade
    * to unpruned-but-exact per-entry walks as ever). */
  final case class LayoutSpec(partCols: Seq[String],
                              bucketCol: Option[String],
                              bucketCount: Int,
                              transform: Option[String] = None)

  private def parseLayout(body: String): LayoutSpec = {
    def field(k: String): Option[String] =
      if (!body.contains("\"" + k + "\":\"")) None
      else Some(body.split("\"" + k + "\":\"")(1).takeWhile(_ != '"'))
    val pc = field("partCols").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val bc = field("bucketCol").filter(_.nonEmpty)
    val bn =
      if (!body.contains("\"bucketCount\":")) 0
      else body.split("\"bucketCount\":")(1).takeWhile(_.isDigit).toInt
    LayoutSpec(pc, bc, bn, field("transform").filter(_.nonEmpty))
  }

  /** The CURRENT declared layout, when the store ever evolved its
    * partition spec; None for the overwhelmingly common never-evolved
    * store (one listing, no read). A head that kept vanishing fails
    * loudly ([[readHead]]) — reading an EVOLVED store as never-evolved
    * would walk foreign entries under the options-derived layout. */
  def currentLayout(spark: SparkSession, root: String): Option[LayoutSpec] =
    readHead(fsOf(spark, root), manifestDir(root), "layout.v").body.map(parseLayout)

  /** OCC publish of a new table-level layout (`CALL evolve_layout`):
    * `validate` sees the CURRENT layout inside the CAS loop.
    * Metadata-only — no entry is touched; old entries keep serving
    * under their recorded specs. */
  def publishLayout(spark: SparkSession, root: String, spec: LayoutSpec,
                    validate: Option[LayoutSpec] => Unit = _ => ()): Unit = {
    spec.partCols.foreach(requireRecordable)
    spec.bucketCol.foreach(requireRecordable)
    require(spec.bucketCol.isEmpty == (spec.bucketCount <= 0),
      "bucketCol and a positive bucketCount go together")
    spec.transform.foreach(t => require(!t.contains("\""),
      s"transform spelling '$t' cannot be recorded"))
    val body = s"""{"partCols":"${spec.partCols.mkString(",")}"""" +
      spec.bucketCol.map(c =>
        s""","bucketCol":"$c","bucketCount":${spec.bucketCount}""")
        .getOrElse("") +
      spec.transform.map(t => s""","transform":"$t"""").getOrElse("") +
      "}\n"
    publishNext(fsOf(spark, root), manifestDir(root), "layout.v",
      s"layout publish under $root") { b =>
      validate(b.map(parseLayout))
      body
    }
    ()
  }

  /** The current snapshot: entries of the highest complete manifest. */
  def entries(spark: SparkSession, root: String): Seq[Entry] =
    readHead(fsOf(spark, root), manifestDir(root), "m").body.map(parse)
      .getOrElse(Seq.empty)

  /** The RETAINED manifest generations, ascending — the store's time-
    * travel horizon. [[gc]] keeps the two newest manifests (and every
    * dir either references), so after any single commit or compaction
    * the previous generation is still fully resolvable; older ones are
    * gone by design. */
  def generations(spark: SparkSession, root: String): Seq[Long] =
    manifests(spark, root).map(_._1)

  /** The retained generations with their commit instants (manifest file
    * mtime, epoch millis), ascending — the observable timeline
    * `TIMESTAMP AS OF` resolves against. */
  def snapshots(spark: SparkSession, root: String): Seq[(Long, Long)] =
    manifests(spark, root).map { case (g, s) => (g, s.getModificationTime) }

  /** `TIMESTAMP AS OF` resolution: the newest RETAINED generation whose
    * manifest landed at or before `tsMillis`. A timestamp before the
    * oldest retained manifest refuses loudly — the snapshot it names is
    * reclaimed (gc keeps the two newest generations plus tag/branch
    * anchors), and answering from a newer one would silently serve the
    * wrong point in time. */
  def generationAsOf(spark: SparkSession, root: String,
                     tsMillis: Long): Long = {
    val snaps = snapshots(spark, root)
    require(snaps.nonEmpty, s"no committed manifest under $root")
    val at = snaps.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(tsMillis)} is " +
        s"beyond the retention horizon of $root — the oldest retained " +
        s"snapshot landed at " +
        s"${java.time.Instant.ofEpochMilli(snaps.head._2)}; older ones " +
        "are gc'd by design (tag a generation to retain it)")
    at.map(_._1).max
  }

  /** Entries of one retained generation — snapshot time travel. Fails
    * loudly for a gc'd (or never-committed) generation rather than
    * answering from a different snapshot. */
  def entriesAt(spark: SparkSession, root: String, generation: Long): Seq[Entry] = {
    val ms = manifests(spark, root)
    val m = ms.find(_._1 == generation).getOrElse(throw new IllegalArgumentException(
      s"generation $generation not retained under $root — " +
        s"available: ${ms.map(_._1).mkString("[", ", ", "]")} (gc keeps the " +
        "two newest manifests; older snapshots are reclaimed by design)"))
    readEntries(fsOf(spark, root), m._2.getPath)
  }

  /** Commit a full entry list as the next manifest generation — BLIND
    * last-write-wins replace (initial publishes, views a single logical
    * maintainer owns). The CAS keeps two racers from sharing a
    * generation file, but the content replaces whatever landed between
    * read and publish; flows that must not clobber concurrent commits
    * go through [[commitWith]] / [[commitIfUnchanged]] / [[rebaseFold]]
    * instead. */
  def commit(spark: SparkSession, root: String, es: Seq[Entry]): Long =
    commitWith(spark, root)(_ => es)

  /** Claim-or-probe loop shared by the dir allocators: the first name
    * whose `_claims/<name>` marker THIS writer exclusively creates —
    * racing writers land on distinct attempt numbers instead of
    * silently writing into the same dir. */
  private def claimDir(fs: FileSystem, root: String,
                       prefix: String, epoch: Long): String = {
    var a = 1
    while (true) {
      val name = s"$prefix$epoch-$a"
      if (!fs.exists(new Path(s"$root/$name")) &&
        exclusiveCreate(fs, new Path(s"$root/_claims/$name"))) return name
      a += 1
    }
    "" // unreachable
  }

  /** An unused data-dir name for `epoch` (retries bump the attempt),
    * exclusively claimed so concurrent writers never share it. */
  def newDataDir(spark: SparkSession, root: String, epoch: Long): String =
    claimDir(fsOf(spark, root), root, "d", epoch)

  /** An unused FOLD-dir name for `epoch` — the `f` prefix marks an
    * entry that holds MANY folded epochs' rows, which [[append]] must
    * never replace (a retried epoch that replaced a fold would silently
    * discard every earlier epoch the fold covered). */
  def newFoldDir(spark: SparkSession, root: String, epoch: Long): String =
    claimDir(fsOf(spark, root), root, "f", epoch)

  /** Read the snapshot's dirs with epochs ≤ `maxEpoch` — one parquet
    * read per entry (each discovers its OWN inner partition columns, so
    * e.g. list_id pruning stays directory-level), unioned by name. The
    * explicit schema keeps a committed-but-empty epoch dir readable
    * (schema inference has no files to look at there). `asOfGeneration`
    * pins the read to a RETAINED manifest generation ([[generations]]):
    * right after a compaction the previous generation still resolves
    * (gc's two-manifest lag), so an as-of read returns the
    * pre-compaction answer while the live read returns the new one —
    * the audit/debug view every snapshot store owes its operators. */
  def read(spark: SparkSession, root: String, schema: StructType,
           maxEpoch: Long = Long.MaxValue,
           asOfGeneration: Long = -1L): DataFrame = {
    val base = if (asOfGeneration < 0L) entries(spark, root)
      else entriesAt(spark, root, asOfGeneration)
    val live = base.filter(_.epoch <= maxEpoch)
    require(live.nonEmpty,
      s"no committed manifest entries under $root with epoch <= $maxEpoch — " +
        "either the store is empty or a compaction folded the requested " +
        "epochs into a later fold entry (point-in-time reads below a " +
        "compaction boundary are gone by design; raise maxEpoch or " +
        "compact less aggressively)")
    live.map(e => spark.read.schema(schema).parquet(s"$root/${e.dir}"))
      .reduce(_ unionByName _)
  }

  /** Fold every committed entry with epoch < `uptoEpoch` into ONE new
    * data dir and swap it in with a single manifest commit, then gc —
    * the snapshot-isolated compaction every manifest store shares
    * (IVF-PQ codes, text band/shingle, media signatures, the streaming
    * serving partials, materialized-aggregate cubes). `fold` turns the
    * union of the covered rows into the fold dir's rows: row identity
    * for the searched stores, a re-aggregation (which must keep
    * `schema`) for the partial-aggregate stores. Readers holding the
    * pre-compaction manifest keep every dir they resolved ([[gc]]'s
    * two-manifest lag); crash before the commit leaves an orphan fold
    * dir for a later gc and the old manifest fully live. */
  def compact(spark: SparkSession, root: String, schema: StructType,
              uptoEpoch: Long = Long.MaxValue,
              partitionBy: Seq[String] = Nil, coalesceTo: Int = 8,
              fold: DataFrame => DataFrame = identity): Unit = {
    val es = entries(spark, root)
    val covered = es.filter(_.epoch < uptoEpoch)
    if (covered.size <= 1) return // already compact — makes re-runs no-ops
    val maxCov = covered.map(_.epoch).max
    val folded = fold(covered
      .map(e => spark.read.schema(schema).parquet(s"$root/${e.dir}"))
      .reduce(_ unionByName _))
      .coalesce(coalesceTo)
    val foldDir = newFoldDir(spark, root, maxCov)
    val w = folded.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(s"$root/$foldDir")
    // OCC fold commit: concurrent appends ABOVE the fold span rebase in
    // (both land); a touched covered entry or an in-span append refuses
    commitWith(spark, root)(rebaseFold(es, covered,
      Entry(maxCov, foldDir, lo = covered.map(_.minEpoch).min)))
    gc(spark, root)
  }

  /** Write a data frame as `epoch`'s attempt dir and commit it as the
    * epoch's (replacement) entry — the shared append step. REFUSES to
    * replace a compaction fold: the fold holds every earlier covered
    * epoch's rows, so "replacing" it with one retried epoch would
    * silently discard all of them. A retry landing on a fold means the
    * compaction boundary overtook the epoch — the caller's sequencing
    * bug, surfaced loudly. Folds are recognized by the manifest-carried
    * coverage span (`Entry.lo` < epoch) with the `f` dir prefix as a
    * second line of defense; a store compacted ONLY by a pre-coverage
    * build (folds named `d<epoch>-<n>`, no `lo` in the manifest) is not
    * detectable from the manifest alone — migrate such a store by
    * running one [[compact]] (which re-commits every fold with its
    * span) before resuming appends against it. */
  def append(df: DataFrame, root: String, epoch: Long,
             partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    guardNotFold(spark, root, epoch)
    val dir = newDataDir(spark, root, epoch)
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(s"$root/$dir")
    commitEpochDir(spark, root, epoch, dir)
  }

  /** [[append]]'s fold guard, callable before any files are written —
    * the DSv2 sink checks it at write planning so a doomed job fails
    * before executor work, then again at commit. */
  def guardNotFold(spark: SparkSession, root: String, epoch: Long): Unit =
    entries(spark, root).find(_.epoch == epoch).foreach { e =>
      require(!e.dir.startsWith("f") && e.minEpoch == e.epoch,
        s"epoch $epoch under $root is a compaction fold covering epochs " +
          s"[${e.minEpoch}, ${e.epoch}] — a retried append must not replace it")
    }

  /** [[append]]'s manifest step for writers that land the attempt dir's
    * files themselves (the DSv2 epochstore sink): re-check the fold
    * guard, then commit `dir` as `epoch`'s (replacement) entry — on main,
    * or on `branch`'s lineage (write-audit-publish). */
  def commitEpochDir(spark: SparkSession, root: String, epoch: Long,
                     dir: String, branch: Option[String] = None): Unit = {
    val where = branch.fold(s"under $root")(b => s"on branch '$b' of $root")
    commitWith(spark, root, branch)(appendRebase(where, epoch, dir))
    ()
  }

  /** AUTO-allocated epoch append: the epoch is chosen INSIDE the CAS
    * rebase as max(head)+1 — preferring `atLeast` — so two racing
    * auto-epoch writers land on DISTINCT fresh epochs (both visible)
    * instead of one silently replacing the other via the explicit-epoch
    * retry-replacement semantics. `branch` as in [[commitEpochDir]].
    * Returns the allocated epoch. */
  def commitFreshEpochDir(spark: SparkSession, root: String, dir: String,
                          atLeast: Long = 0L,
                          branch: Option[String] = None): Long = {
    var allocated = -1L
    commitWith(spark, root, branch) { cur =>
      val e = math.max(atLeast,
        cur.map(_.epoch).maxOption.map(_ + 1L).getOrElse(0L))
      allocated = e
      cur :+ Entry(e, dir)
    }
    allocated
  }

  // ------------------------------------------------------- branches
  // Write-audit-publish (the Iceberg WAP workflow on the manifest
  // store): a BRANCH is a separate manifest lineage under
  // `_manifests/branch-<name>/`, seeded by copying main's head manifest
  // as its base generation. Writers commit epochs INTO the branch
  // (same CAS + rebase protocol, scoped to the branch dir) while main
  // readers never see them; audits read the branch head (`VERSION AS
  // OF 'branch-name'` in SQL); [[publishBranch]] fast-forwards main to
  // the branch head in ONE main-lineage CAS commit — refusing if main
  // advanced past the branch base (re-branch and replay) — then drops
  // the branch ref. CHECK constraints gate branch commits exactly like
  // main ones (the staged-epoch enforcement runs before any manifest
  // publish), so "audit" composes declared gates with ad-hoc queries.
  // [[gc]] keeps every dir a live branch references.

  private def branchPath(root: String, name: String): Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"branch name '$name' — use [A-Za-z0-9._-]+")
    new Path(s"${manifestDir(root)}/branch-$name")
  }

  /** Live branch names under `root`. */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val md = manifestDir(root)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("branch-"))
      .map(_.getPath.getName.stripPrefix("branch-")).sorted
  }

  /** Every dir referenced by a live branch lineage OR an in-flight
    * publish fence (`.publishing-*` — [[publishBranch]]'s retired
    * lineage): the branch-side retention anchors [[gc]] and
    * [[expireSnapshots]] share. A crashed publish leaves its fence dir
    * behind; anchoring it means the data is still there when an
    * operator renames the fence back to `branch-<name>` to recover.
    *
    * A lineage that vanishes between the listing of `_manifests` and
    * its own listing (or read) was moved by a publish — retired to its
    * fence, restored, or published and deleted — or dropped, so
    * `_manifests` is listed again; when the retries run out the caller fails loudly
    * rather than anchoring nothing. Callers read these anchors BEFORE
    * listing main's manifests: a publish commits main before it deletes
    * its fence, so a lineage gone from every listing here is in main's
    * later listing. */
  private def branchAnchoredDirs(spark: SparkSession,
                                 root: String): Set[String] = {
    val fs = fsOf(spark, root)
    val md = manifestDir(root)
    def attempt(retriesLeft: Int): Set[String] = {
      val lineages =
        if (!fs.exists(md)) Seq.empty[FileStatus]
        else fs.listStatus(md).toSeq.filter(s => s.isDirectory &&
          (s.getPath.getName.startsWith("branch-") ||
            s.getPath.getName.startsWith(".publishing-")))
      try lineages
        .flatMap(b => versions(fs, b.getPath, "m", mustExist = true)
          .flatMap(m => readEntries(fs, m._2.getPath)))
        .map(_.dir).toSet
      catch {
        case _: java.io.FileNotFoundException if retriesLeft > 0 =>
          attempt(retriesLeft - 1)
        case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"branch lineages under $md kept moving across retries while " +
              "their retained dirs were read — racing publishes; retry", e)
      }
    }
    attempt(3)
  }

  /** Create `name` at main's current head (the branch's BASE): the head
    * manifest body is copied in as the branch's first generation, so
    * the branch starts as an exact snapshot and its lowest generation
    * IS the recorded base. Exclusive — a second create refuses. */
  def createBranch(spark: SparkSession, root: String, name: String): Long = {
    val fs = fsOf(spark, root)
    val head = readHead(fs, manifestDir(root), "m")
    require(head.body.nonEmpty, s"no committed manifest under $root")
    val bd = branchPath(root, name)
    require(!fs.exists(bd),
      s"branch '$name' already exists under $root — drop or publish it first")
    require(publishAt(fs, bd, "m", head.version, head.body.get),
      s"branch '$name' appeared concurrently under $root")
    head.version
  }

  /** (base generation, head generation, head entries) of a live branch. */
  def branchState(spark: SparkSession, root: String, name: String)
      : (Long, Long, Seq[Entry]) = {
    val head = readHead(fsOf(spark, root), branchPath(root, name), "m")
    require(head.body.nonEmpty,
      s"no branch '$name' under $root — branches: ${branches(spark, root)}")
    (head.versions.head._1, head.version, parse(head.body.get))
  }

  /** Entries of a branch head — the audit read. */
  def branchEntries(spark: SparkSession, root: String, name: String)
      : Seq[Entry] = branchState(spark, root, name)._3

  /** PUBLISH: fast-forward main to the branch head in one main-lineage
    * CAS commit, then drop the branch ref. Refuses when main advanced
    * past the branch base — the branch's epochs were laid out against
    * the base snapshot, so a silently-merged publish could clobber or
    * straddle what landed since (re-branch from the new head and replay
    * instead). The published generation is a normal main generation:
    * time-travelable, taggable, gc-managed.
    *
    * Concurrent branch WRITERS are fenced by RETIRING the lineage
    * first: the branch dir is atomically renamed to a hidden
    * `.publishing-` name BEFORE the head is read, so a branch
    * [[commitWith]] racing the publish
    * either lands before the rename (its epoch is in the published
    * head) or fails loudly ("no manifest under branch" — its CAS
    * target dir is gone). Without the fence, a branch commit landing
    * between the head read and the drop would return success yet its
    * epoch would be silently discarded. A refused publish (stale main
    * base) renames the lineage back, branch intact. */
  def publishBranch(spark: SparkSession, root: String, name: String): Long = {
    val fs = fsOf(spark, root)
    val bd = branchPath(root, name)
    require(fs.exists(bd),
      s"no branch '$name' under $root — branches: ${branches(spark, root)}")
    val retired = new Path(bd.getParent,
      s".publishing-$name-${java.util.UUID.randomUUID().toString.take(8)}")
    require(fs.rename(bd, retired),
      s"branch '$name' of $root: retire rename failed — a concurrent " +
        "publish or drop took the branch; re-check branchState")
    val head = readHead(fs, retired, "m")
    require(head.body.nonEmpty, s"branch '$name' of $root has no manifest")
    val baseGen = head.versions.head._1
    val headEntries = parse(head.body.get)
    try {
      val g = commitWith(spark, root) { _ =>
        val liveGen = manifests(spark, root).last._1
        require(liveGen == baseGen,
          s"branch '$name' of $root was created at generation $baseGen but " +
            s"main is now at $liveGen — a commit landed since the branch; " +
            "re-branch from the new head and replay the writes")
        headEntries
      }
      fs.delete(retired, true)
      g
    } catch {
      case e: Throwable =>
        // publish refused/failed: restore the lineage so the branch's
        // audited epochs are not lost (re-branch-and-replay needs them).
        // A failed restore must be LOUD: the lineage would otherwise be
        // stranded under the hidden retire name
        if (!fs.rename(retired, bd))
          throw new IllegalStateException(
            s"branch '$name' of $root: publish failed AND the restore " +
              s"rename $retired -> $bd failed (a racing commit recreated " +
              "the branch dir?) — the audited lineage is preserved at " +
              s"$retired; recover it manually", e)
        throw e
    }
  }

  /** Drop a branch ref; its never-published dirs become aged-gc
    * orphans. */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    val fs = fsOf(spark, root)
    fs.delete(branchPath(root, name), true)
    ()
  }

  /** Snapshot-retention policy — `CALL expire_snapshots(...)`'s engine:
    * delete retained manifest GENERATIONS (and the data dirs only they
    * reference) beyond the policy, where [[gc]] alone would keep them
    * forever once tagged history accumulates. Rules:
    *
    *  - the `keepLast` newest generations always survive, floor 2 — the
    *    documented two-manifest isolation window is never shrunk;
    *  - TAGGED generations are immune (drop the tag first — tags are
    *    retention anchors by contract, [[tag]]);
    *  - only generations whose manifest file is older than `olderThanMs`
    *    (epoch millis; MaxValue = any age) expire — the Iceberg
    *    `expire_snapshots(older_than, retain_last)` shape;
    *  - manifests delete BEFORE their now-orphaned dirs, so a crash in
    *    between leaves unreferenced dirs for the next aged gc, never a
    *    manifest pointing at deleted data.
    *
    * A read pinned to an expired generation fails loudly from then on
    * ([[entriesAt]]'s not-retained error) — including a CHANGEFEED
    * consumer whose base generation expired: it refuses rather than
    * over- or under-delivering, the same contract compaction honors.
    * Returns the expired generation ids. */
  def expireSnapshots(spark: SparkSession, root: String,
                      olderThanMs: Long = Long.MaxValue,
                      keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 2,
      s"expireSnapshots keepLast = $keepLast — the floor is 2 (the " +
        "two-manifest isolation window every reader is promised)")
    val fs = fsOf(spark, root)
    val branchDirs = branchAnchoredDirs(spark, root) // before main's listing
    val ms = manifests(spark, root)
    val tagged = tags(spark, root).values.toSet
    val keepNewest = ms.takeRight(keepLast).map(_._1).toSet
    val expired = ms
      .filterNot(m => keepNewest(m._1) || tagged(m._1))
      .filter(_._2.getModificationTime < olderThanMs)
    if (expired.isEmpty) return Seq.empty
    val expiredGens = expired.map(_._1).toSet
    val keepDirs = ms.filterNot(m => expiredGens(m._1))
      .flatMap(m => readEntries(fs, m._2.getPath)).map(_.dir).toSet ++
      branchDirs
    val orphaned = expired.flatMap(m => readEntries(fs, m._2.getPath)).map(_.dir)
      .distinct.filterNot(keepDirs)
    expired.foreach(m => fs.delete(m._2.getPath, false))
    orphaned.foreach(d => fs.delete(new Path(s"$root/$d"), true))
    expired.map(_._1)
  }

  /** Delete data dirs referenced by NEITHER of the two newest manifests,
    * then manifests older than those two. Called from compaction — never
    * from appends — so between compactions nothing is ever deleted, and
    * across one compaction the previous snapshot's dirs all survive.
    *
    * Multi-writer safety: a candidate dir referenced by SOME retained
    * manifest is committed-and-superseded history — no writer can still
    * be staging into it, reclaim immediately. A dir referenced by NO
    * manifest is either a crashed writer's orphan or a LIVE concurrent
    * writer's staged-but-uncommitted attempt — those reclaim only past
    * [[OrphanReclaimAfterMs]] (same for manifest tmps and claim
    * markers), so gc can never yank files out from under an in-flight
    * commit. */
  /** Returns the reclaimed dir names (callers may discard). */
  def gc(spark: SparkSession, root: String,
         orphanAgeMs: Long = OrphanReclaimAfterMs): Seq[String] =
    reclaim(spark, root, orphanAgeMs)

  /** `CALL remove_orphan_files` — the Iceberg semantics: delete ONLY
    * dirs NO retained manifest (and no live branch) ever committed —
    * crashed/abandoned writers' staging leftovers — and only past the
    * age threshold (a younger one may belong to a LIVE in-flight
    * writer). Committed history is NEVER touched: superseded-dir
    * reclaim and manifest expiry stay [[gc]]/[[expireSnapshots]]'
    * explicitly-history-affecting job. `dryRun` lists without
    * deleting.
    *
    * Recent-file protection (Iceberg's rule): an age below
    * [[OrphanReclaimAfterMs]] would set the cutoff inside the window a
    * LIVE concurrent writer needs to stage-then-commit — its staged
    * d-/f-prefixed attempt dirs look like orphans right up to the
    * manifest publish, so `older_than_hours => 0` would delete data an
    * imminent commit references. Short ages refuse unless `force`
    * (dry runs may peek). */
  def removeOrphans(spark: SparkSession, root: String,
                    orphanAgeMs: Long = OrphanReclaimAfterMs,
                    dryRun: Boolean = false,
                    force: Boolean = false): Seq[String] = {
    require(dryRun || force || orphanAgeMs >= OrphanReclaimAfterMs,
      s"remove_orphan_files on $root: age ${orphanAgeMs}ms is below the " +
        s"${OrphanReclaimAfterMs}ms in-flight-writer window — a concurrent " +
        "writer's staged-but-uncommitted dirs would be deleted out from " +
        "under its imminent commit; pass force => true only when no " +
        "writer can be live")
    val fs = fsOf(spark, root)
    val branchDirs = branchAnchoredDirs(spark, root) // before main's listing
    val ms = manifests(spark, root)
    if (ms.isEmpty) return Seq.empty
    val committed = ms.flatMap(m => readEntries(fs, m._2.getPath)).map(_.dir).toSet ++
      branchDirs
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    val orphans = fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("d") ||
          s.getPath.getName.startsWith("f")))
      .filterNot(s => committed.contains(s.getPath.getName))
      .filter(_.getModificationTime < cutoff)
    if (!dryRun) orphans.foreach(s => fs.delete(s.getPath, true))
    orphans.map(_.getPath.getName).sorted
  }

  private def reclaim(spark: SparkSession, root: String,
                      orphanAgeMs: Long): Seq[String] = {
    val fs = fsOf(spark, root)
    // live BRANCHES (and in-flight publish fences) are retention
    // anchors: a write-audit-publish lineage references dirs no main
    // manifest names yet. Read before main's listing (see
    // [[branchAnchoredDirs]])
    val branchDirs = branchAnchoredDirs(spark, root)
    val ms = manifests(spark, root)
    if (ms.isEmpty) return Seq.empty
    // tagged generations are retention anchors: their manifests and the
    // dirs they reference survive every gc until untagged
    val tagged = tags(spark, root).values.toSet
    val keepManifests =
      ms.takeRight(2) ++ ms.dropRight(2).filter(m => tagged(m._1))
    val keepDirs = keepManifests.flatMap(m => readEntries(fs, m._2.getPath))
      .map(_.dir).toSet ++ branchDirs
    // every dir ANY retained manifest names — the committed-history set
    val committedDirs = ms.flatMap(m => readEntries(fs, m._2.getPath)).map(_.dir).toSet
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    val top = fs.listStatus(new Path(root)).toSeq
    val deleted = top
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("d") || s.getPath.getName.startsWith("f")))
      .filterNot(s => keepDirs.contains(s.getPath.getName))
      .filter(s => committedDirs.contains(s.getPath.getName) ||
        s.getModificationTime < cutoff)
    deleted.foreach(s => fs.delete(s.getPath, true))
    val keepGen = keepManifests.map(_._1).toSet
    ms.filterNot(m => keepGen.contains(m._1))
      .foreach(m => fs.delete(m._2.getPath, false))
    // a crashed writer's manifest tmp ([[versions]] skips it, so nothing
    // else ever touches it) or root-level declaration tmp
    // ([[declareOnce]]'s `._<name>-*.tmp`) — but a LIVE writer's
    // in-flight tmp is also here, so only aged ones go
    (fs.listStatus(manifestDir(root)).toSeq ++
      top.filter(s => !s.isDirectory && s.getPath.getName.startsWith("._")))
      .filter(s => s.getPath.getName.endsWith(".tmp") &&
        s.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, false))
    // claim markers whose dir is gone (just deleted, or long gone) have
    // served their purpose; aged ones without a dir are crash leavings
    val claims = new Path(s"$root/_claims")
    if (fs.exists(claims)) {
      val deletedNames = deleted.map(_.getPath.getName).toSet
      fs.listStatus(claims).toSeq
        .filter(s => deletedNames.contains(s.getPath.getName) ||
          (s.getModificationTime < cutoff &&
            !fs.exists(new Path(s"$root/${s.getPath.getName}"))))
        .foreach(s => fs.delete(s.getPath, false))
    }
    deleted.map(_.getPath.getName).sorted
  }
}
