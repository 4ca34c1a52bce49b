package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EpochManifest
import graft.core.EpochManifest.{ColumnOp, Entry, LayoutSpec}
import graft.sources.{BloomSpec, EpochStore, EpochStoreConstraints, EpochStoreDelta}

/** Direct protocol tests for the snapshot store under the persisted
  * IVF-PQ index (VectorSpec holds the end-to-end proofs; these pin the
  * commit/visibility/gc rules in isolation so a regression names the
  * broken rule, not a 500-row search diff). */
class EpochManifestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("part", LongType)))

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_manifest").toString

  private def writeDir(root: String, dir: String, ids: Range): Unit = {
    import spark.implicits._
    ids.map(i => (i.toLong, (i % 2).toLong)).toDF("id", "part")
      .write.mode("overwrite").partitionBy("part").parquet(s"$root/$dir")
  }

  test("visibility: only the highest complete manifest's entries are read") {
    val root = tmp()
    writeDir(root, "d0-1", 0 until 10)
    EpochManifest.commit(spark, root, Seq(Entry(0L, "d0-1")))
    writeDir(root, "d1-1", 10 until 15)
    // dir exists but is uncommitted — invisible
    assert(EpochManifest.read(spark, root, schema).count() == 10)
    EpochManifest.commit(spark, root,
      EpochManifest.entries(spark, root) :+ Entry(1L, "d1-1"))
    assert(EpochManifest.read(spark, root, schema).count() == 15)
    // maxEpoch bounds to committed prefixes
    assert(EpochManifest.read(spark, root, schema, maxEpoch = 0L).count() == 10)
  }

  test("a retried epoch commits a REPLACEMENT entry, not a duplicate") {
    val root = tmp()
    writeDir(root, "d0-1", 0 until 10)
    EpochManifest.commit(spark, root, Seq(Entry(0L, "d0-1")))
    // first attempt of epoch 1 landed and committed, then the stream
    // checkpoint failed — the retry writes attempt 2 and replaces
    writeDir(root, EpochManifest.newDataDir(spark, root, 1L), 10 until 20)
    EpochManifest.commit(spark, root,
      EpochManifest.entries(spark, root) :+ Entry(1L, "d1-1"))
    val retry = EpochManifest.newDataDir(spark, root, 1L)
    assert(retry == "d1-2", s"attempt naming: $retry")
    writeDir(root, retry, 20 until 30)
    val kept = EpochManifest.entries(spark, root).filterNot(_.epoch == 1L)
    EpochManifest.commit(spark, root, kept :+ Entry(1L, retry))
    val ids = EpochManifest.read(spark, root, schema)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == ((0 until 10) ++ (20 until 30)).map(_.toLong).toSet,
      "retry must fully replace the failed attempt's rows")
  }

  test("an empty committed epoch reads as zero rows, not a schema error") {
    val root = tmp()
    writeDir(root, "d0-1", 0 until 5)
    import spark.implicits._
    // empty write: a committed dir with zero rows (and, under the bench
    // recipe, no _SUCCESS marker either)
    Seq.empty[(Long, Long)].toDF("id", "part")
      .write.mode("overwrite").parquet(s"$root/d1-1")
    EpochManifest.commit(spark, root, Seq(Entry(0L, "d0-1"), Entry(1L, "d1-1")))
    assert(EpochManifest.read(spark, root, schema).count() == 5)
  }

  test("gc keeps the two newest manifests' dirs and reclaims the rest") {
    val root = tmp()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    writeDir(root, "d0-1", 0 until 5)
    EpochManifest.commit(spark, root, Seq(Entry(0L, "d0-1")))          // m1
    writeDir(root, "d1-1", 5 until 10)
    EpochManifest.commit(spark, root,
      Seq(Entry(0L, "d0-1"), Entry(1L, "d1-1")))                       // m2
    // compaction: fold both into a new dir, swap in one commit           m3
    writeDir(root, "d1-2", 0 until 10)
    EpochManifest.commit(spark, root, Seq(Entry(1L, "d1-2")))
    EpochManifest.gc(spark, root)
    // d0-1/d1-1 are in m2 (one of the two newest) — still alive
    assert(fs.exists(new Path(s"$root/d0-1")) && fs.exists(new Path(s"$root/d1-1")))
    // one more commit + gc ages m2 out: originals reclaimed, fold kept
    writeDir(root, "d2-1", 10 until 12)
    EpochManifest.commit(spark, root,
      Seq(Entry(1L, "d1-2"), Entry(2L, "d2-1")))                       // m4
    EpochManifest.gc(spark, root)
    assert(!fs.exists(new Path(s"$root/d0-1")) && !fs.exists(new Path(s"$root/d1-1")))
    assert(fs.exists(new Path(s"$root/d1-2")) && fs.exists(new Path(s"$root/d2-1")))
    assert(EpochManifest.read(spark, root, schema).count() == 12)
    // old manifests are pruned with their dirs (only the two newest remain)
    val gens = fs.listStatus(new Path(s"$root/_manifests")).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json")).sorted
    assert(gens == Seq("m3.json", "m4.json"), s"manifests: $gens")
  }

  test("an orphan dir from a crash before commit is invisible, then gc'd") {
    val root = tmp()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    writeDir(root, "d0-1", 0 until 5)
    EpochManifest.commit(spark, root, Seq(Entry(0L, "d0-1")))
    writeDir(root, "d1-1", 5 until 50) // crashed before its commit
    assert(EpochManifest.read(spark, root, schema).count() == 5)
    EpochManifest.commit(spark, root, EpochManifest.entries(spark, root)) // m2
    // a FRESH never-committed dir might be a LIVE writer's staged
    // attempt — gc must leave it alone
    EpochManifest.gc(spark, root)
    assert(fs.exists(new Path(s"$root/d1-1")),
      "gc deleted a fresh never-committed dir (could be an in-flight write)")
    // aged past the orphan threshold it is crash leavings — reclaimed
    val old = System.currentTimeMillis() -
      EpochManifest.OrphanReclaimAfterMs - 60000L
    fs.setTimes(new Path(s"$root/d1-1"), old, old)
    EpochManifest.gc(spark, root)
    assert(!fs.exists(new Path(s"$root/d1-1")), "aged orphan survived gc")
    assert(EpochManifest.read(spark, root, schema).count() == 5)
  }

  test("append refuses to replace a compaction fold (it holds many epochs)") {
    import spark.implicits._
    val root = tmp()
    writeDir(root, "d1-1", 0 until 10)
    EpochManifest.commit(spark, root, Seq(Entry(1L, "d1-1")))
    writeDir(root, "d2-1", 10 until 20)
    EpochManifest.commit(spark, root,
      EpochManifest.entries(spark, root) :+ Entry(2L, "d2-1"))
    EpochManifest.compact(spark, root, schema, uptoEpoch = 3L)
    val folded = EpochManifest.entries(spark, root)
    assert(folded.map(_.epoch) == Seq(2L) && folded.head.dir.startsWith("f"),
      s"expected one f-prefixed fold entry at epoch 2, got $folded")
    // a delayed retry for epoch 2 would "replace" the fold and silently
    // discard epoch 1's rows — the store must refuse it loudly
    val df = Seq((99L, 0L)).toDF("id", "part")
    val e = intercept[IllegalArgumentException](
      EpochManifest.append(df, root, epoch = 2L))
    assert(e.getMessage.contains("compaction fold"))
    assert(EpochManifest.read(spark, root, schema).count() == 20,
      "refused append must leave the store intact")
    // appending a NEW epoch still works, and the next compaction's gc
    // reclaims superseded fold dirs like any other
    EpochManifest.append(df, root, epoch = 3L)
    assert(EpochManifest.read(spark, root, schema).count() == 21)
  }

  test("fold protection travels in the manifest: a d-named entry with a " +
      "coverage span still refuses replacement, and lo round-trips") {
    import spark.implicits._
    val root = tmp()
    // simulate a fold that does NOT carry the f prefix (the pre-f naming
    // scheme): protection must come from the manifest's lo span alone
    writeDir(root, "d2-1", 0 until 20)
    EpochManifest.commit(spark, root, Seq(Entry(2L, "d2-1", lo = 1L)))
    val round = EpochManifest.entries(spark, root)
    assert(round == Seq(Entry(2L, "d2-1", lo = 1L)), s"lo must round-trip: $round")
    val df = Seq((99L, 0L)).toDF("id", "part")
    val e = intercept[IllegalArgumentException](
      EpochManifest.append(df, root, epoch = 2L))
    assert(e.getMessage.contains("[1, 2]"), e.getMessage)
    // a plain entry (lo absent → minEpoch == epoch) replaces fine
    EpochManifest.commit(spark, root, Seq(Entry(2L, "d2-1")))
    EpochManifest.append(df, root, epoch = 2L)
    assert(EpochManifest.read(spark, root, schema).count() == 1)
    // and compact() records the full covered span on its fold entry
    EpochManifest.append(Seq((1L, 0L)).toDF("id", "part"), root, 3L)
    EpochManifest.compact(spark, root, schema, uptoEpoch = 4L)
    val fold = EpochManifest.entries(spark, root)
    assert(fold.size == 1 && fold.head.epoch == 3L && fold.head.minEpoch == 2L,
      s"fold must span [2,3]: $fold")
  }

  test("time travel: an as-of-generation read returns the pre-commit " +
      "snapshot while the live read returns the new one") {
    import spark.implicits._
    val root = tmp()
    writeDir(root, "d1-1", 0 until 10)
    EpochManifest.commit(spark, root, Seq(Entry(1L, "d1-1")))          // gen 1
    val g1 = EpochManifest.generations(spark, root).last
    EpochManifest.append(Seq((10L, 0L)).toDF("id", "part"), root, 2L)  // gen 2
    assert(EpochManifest.read(spark, root, schema).count() == 11)
    assert(EpochManifest.read(spark, root, schema, asOfGeneration = g1).count() == 10,
      "pinned generation must answer pre-append")
    // compaction commits gen 3 and gc retains gens {2, 3}: the pinned
    // PRE-COMPACTION snapshot (gen 2) still answers with the un-folded
    // dirs, the live read with the fold — and gen 1 is gone by design
    EpochManifest.compact(spark, root, schema)
    val gens = EpochManifest.generations(spark, root)
    assert(gens.size == 2, s"gc must retain exactly two generations: $gens")
    assert(EpochManifest.read(spark, root, schema,
      asOfGeneration = gens.head).count() == 11)
    assert(EpochManifest.entriesAt(spark, root, gens.head).size == 2,
      "pre-compaction generation must still name the un-folded dirs")
    assert(EpochManifest.read(spark, root, schema).count() == 11)
    assert(EpochManifest.entries(spark, root).size == 1)
    val e = intercept[IllegalArgumentException](
      EpochManifest.entriesAt(spark, root, g1))
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("gc reclaims a crashed writer's .tmp manifest") {
    val root = tmp()
    writeDir(root, "d0-1", 0 until 5)
    EpochManifest.commit(spark, root, Seq(Entry(0L, "d0-1")))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a manifest publish's tmp, and a write-once declaration's
    // (EpochManifest.declareOnce) at the store root
    val orphanTmps = Seq(new Path(s"$root/_manifests/.m99.tmp"),
      new Path(s"$root/._rowid.json-0badc0de.tmp"))
    // the writer died before its rename / claim
    orphanTmps.foreach(fs.create(_, true).close())
    assert(EpochManifest.read(spark, root, schema).count() == 5)
    // fresh tmp = possibly a LIVE writer mid-publish: survives
    EpochManifest.gc(spark, root)
    orphanTmps.foreach(t => assert(fs.exists(t),
      s"gc deleted a fresh tmp $t (could be an in-flight publish)"))
    val old = System.currentTimeMillis() -
      EpochManifest.OrphanReclaimAfterMs - 60000L
    orphanTmps.foreach(fs.setTimes(_, old, old))
    EpochManifest.gc(spark, root)
    orphanTmps.foreach(t => assert(!fs.exists(t),
      s"crashed writer's tmp $t survived gc"))
    assert(EpochManifest.read(spark, root, schema).count() == 5)
  }

  // ---- multi-writer optimistic concurrency (r13) ----

  /** Run `n` thunks truly concurrently (cyclic-barrier start) and
    * propagate the first failure. */
  private def race(thunks: (() => Unit)*): Unit = {
    val barrier = new java.util.concurrent.CyclicBarrier(thunks.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = thunks.map { t =>
      new Thread(() => {
        barrier.await()
        try t() catch { case e: Throwable => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  test("two racing appends of distinct epochs both land exactly once " +
      "(the CAS loser rebases)") {
    import spark.implicits._
    val root = tmp()
    def df(off: Int) = (off until off + 10).map(i => (i.toLong, (i % 2).toLong))
      .toDF("id", "part")
    (1 to 3).foreach { round =>
      race(
        () => EpochManifest.append(df(round * 100), root, round * 2L),
        () => EpochManifest.append(df(round * 100 + 50), root, round * 2L + 1L))
      val es = EpochManifest.entries(spark, root)
      assert(es.map(_.epoch).sorted == (2L to round * 2L + 1L).toSeq,
        s"round $round: both racing epochs must be visible, got " +
          es.map(_.epoch).sorted.mkString(", "))
    }
    // every commit published a DISTINCT generation file (a lost update
    // would leave fewer than 6 for the 6 appends) and all rows are there
    assert(EpochManifest.read(spark, root, schema).count() == 60)
    assert(EpochManifest.generations(spark, root).size == 6,
      s"6 appends => 6 generations, got " +
        EpochManifest.generations(spark, root).mkString(", "))
  }

  test("same-epoch racing appends: exactly one replacement wins, nothing " +
      "is lost at the manifest-file level") {
    import spark.implicits._
    val root = tmp()
    def df(tag: Long) = Seq((tag, 0L)).toDF("id", "part")
    race(
      () => EpochManifest.append(df(111L), root, 5L),
      () => EpochManifest.append(df(222L), root, 5L))
    val es = EpochManifest.entries(spark, root)
    assert(es.size == 1 && es.head.epoch == 5L,
      s"one entry for the contested epoch, got $es")
    // the surviving dir is exactly one of the two attempts, readable
    val id = EpochManifest.read(spark, root, schema)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(id == Seq(111L) || id == Seq(222L), s"surviving rows: $id")
    // and TWO generations were published (no lost update of the file)
    assert(EpochManifest.generations(spark, root).size == 2)
  }

  test("a compact racing an append resolves deterministically: the " +
      "above-span append rebases in, both land") {
    import spark.implicits._
    val root = tmp()
    (0 to 2).foreach { e =>
      EpochManifest.append(Seq((e.toLong, 0L)).toDF("id", "part"), root, e.toLong)
    }
    race(
      () => EpochManifest.compact(spark, root, schema, uptoEpoch = 3L),
      () => EpochManifest.append(Seq((99L, 0L)).toDF("id", "part"), root, 9L))
    val es = EpochManifest.entries(spark, root)
    assert(es.map(_.epoch).sorted == Seq(2L, 9L),
      s"fold [0,2] plus the rebased epoch-9 append, got $es")
    assert(EpochManifest.read(spark, root, schema).count() == 4)
  }

  test("conflicting rebases refuse loudly: a touched covered entry, an " +
      "in-span append, a changed base under strict full-replace") {
    import spark.implicits._
    val root = tmp()
    (0 to 3).foreach { e =>
      EpochManifest.append(Seq((e.toLong, 0L)).toDF("id", "part"), root, e.toLong)
    }
    val base = EpochManifest.entries(spark, root)
    val covered = base.filter(_.epoch < 3L)
    val fold = Entry(2L, "f2-9", lo = 0L)
    // concurrent replacement of a covered epoch => the fold holds stale rows
    EpochManifest.append(Seq((100L, 0L)).toDF("id", "part"), root, 1L)
    val cur = EpochManifest.entries(spark, root)
    val e1 = intercept[IllegalArgumentException] {
      EpochManifest.rebaseFold(base, covered, fold)(cur)
    }
    assert(e1.getMessage.contains("pinned snapshot"), e1.getMessage)
    // a newcomer INSIDE the fold span => straddle refusal
    val inSpan = cur.filterNot(_.epoch == 1L) :+
      base.find(_.epoch == 1L).get.copy(dir = "d1-7")
    val e2 = intercept[IllegalArgumentException] {
      EpochManifest.rebaseFold(base.filterNot(_.epoch == 1L),
        covered.filterNot(_.epoch == 1L), fold)(inSpan)
    }
    assert(e2.getMessage.contains("fold"), e2.getMessage)
    // strict full-replace (truncate/overwrite) against a changed head
    val e3 = intercept[IllegalArgumentException] {
      EpochManifest.commitIfUnchanged(spark, root, base, Seq.empty)
    }
    assert(e3.getMessage.contains("concurrent commit"), e3.getMessage)
    // the straddle guard holds on the APPEND side too: appending into a
    // committed fold's span refuses
    EpochManifest.compact(spark, root, schema, uptoEpoch = 3L)
    val e4 = intercept[IllegalArgumentException] {
      EpochManifest.append(Seq((7L, 0L)).toDF("id", "part"), root, 1L)
    }
    assert(e4.getMessage.contains("span"), e4.getMessage)
  }

  test("OCC stress: 4 writers x 5 appends each all land exactly once, " +
      "20 distinct generations, no lost update") {
    import spark.implicits._
    val root = tmp()
    race((0 until 4).map { w =>
      () => (0 until 5).foreach { i =>
        val e = (w * 100 + i).toLong
        EpochManifest.append(Seq((e, 0L)).toDF("id", "part"), root, e)
      }
    }: _*)
    val es = EpochManifest.entries(spark, root)
    assert(es.size == 20, s"all 20 appends must be visible, got ${es.size}")
    assert(es.map(_.epoch).toSet ==
      (for (w <- 0 until 4; i <- 0 until 5) yield (w * 100 + i).toLong).toSet)
    assert(EpochManifest.generations(spark, root).size == 20,
      "each commit must have published its own generation file")
    assert(EpochManifest.read(spark, root, schema).count() == 20)
  }

  test("expire_snapshots: retained set exact, tagged generations immune, " +
      "pinned reads on expired generations fail loudly") {
    import spark.implicits._
    val root = tmp()
    (0 to 5).foreach { e =>
      EpochManifest.append(Seq((e.toLong, 0L)).toDF("id", "part"),
        root, e.toLong)
    } // generations 1..6
    EpochManifest.tag(spark, root, "keepme", 2L)
    // keep_last floor
    intercept[IllegalArgumentException](
      EpochManifest.expireSnapshots(spark, root, keepLast = 1))
    // expire everything beyond the 2 newest except the tagged gen
    val expired = EpochManifest.expireSnapshots(spark, root)
    assert(expired == Seq(1L, 3L, 4L), s"expired: $expired")
    assert(EpochManifest.generations(spark, root) == Seq(2L, 5L, 6L),
      "retained = 2 newest + the tagged generation")
    // the tagged snapshot still answers; an expired one fails loudly
    assert(EpochManifest.entriesAt(spark, root, 2L).size == 2)
    val e1 = intercept[IllegalArgumentException](
      EpochManifest.entriesAt(spark, root, 3L))
    assert(e1.getMessage.contains("not retained"), e1.getMessage)
    // the LIVE head still reads in full (expired generations' dirs that
    // newer manifests still reference survive the expiry)
    assert(EpochManifest.read(spark, root, schema).count() == 6)
    // age-bounded expiry: nothing is younger than a past cutoff
    assert(EpochManifest.expireSnapshots(spark, root,
      olderThanMs = 1000L).isEmpty)
    // untag => the anchor becomes expirable
    EpochManifest.untag(spark, root, "keepme")
    assert(EpochManifest.expireSnapshots(spark, root) == Seq(2L))
    assert(EpochManifest.generations(spark, root) == Seq(5L, 6L))
  }

  test("racing dir claims never share an attempt dir; racing tag writes " +
      "both land") {
    import spark.implicits._
    val root = tmp()
    EpochManifest.append(Seq((1L, 0L)).toDF("id", "part"), root, 0L)
    val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    race(
      () => { names.add(EpochManifest.newDataDir(spark, root, 7L)); () },
      () => { names.add(EpochManifest.newDataDir(spark, root, 7L)); () },
      () => { names.add(EpochManifest.newDataDir(spark, root, 7L)); () })
    assert(names.size == 3, s"claimed dirs must be distinct: $names")
    EpochManifest.commit(spark, root, EpochManifest.entries(spark, root))
    race(
      () => { EpochManifest.tag(spark, root, "a", 1L); () },
      () => { EpochManifest.tag(spark, root, "b", 2L); () },
      () => { EpochManifest.tag(spark, root, "c"); () },
      () => { EpochManifest.tag(spark, root, "d"); () })
    assert(EpochManifest.tags(spark, root) ==
      Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 2L))
  }

  // ---- versioned metadata logs and write-once declarations ----

  private def bytes(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      "UTF-8")

  /** A one-epoch store with columns id, c1..c4, region, ts. */
  private def store(): String = {
    import spark.implicits._
    val root = s"${tmp()}/t"
    EpochStore.write((0 until 8).map(i => (i.toLong, s"a$i", s"b$i", s"c$i",
      s"d$i", s"R${i % 2}", new java.sql.Timestamp(86400000L * i)))
      .toDF("id", "c1", "c2", "c3", "c4", "region", "ts"), root, 0L)
    root
  }

  private def layouts(n: Int): Seq[LayoutSpec] =
    (1 to n).map(i => LayoutSpec(Seq("region"), Some("id"), i + 1))

  /** One log's racing writers, started from one barrier on a seeded
    * store, and the check that each landed exactly once. Racing tag
    * calls are the dir-claim test's; racing column ops RenameDropSpec's. */
  private case class Race(name: String, seed: String => Unit,
                          writers: String => Seq[() => Unit],
                          check: String => Unit)

  private val races = Seq(
    Race("tags: 4 racing untag calls",
      root => (1 to 4).foreach(i => EpochManifest.tag(spark, root, s"t$i")),
      root => (1 to 4).map(i => () => EpochManifest.untag(spark, root, s"t$i")),
      root => assert(EpochManifest.tags(spark, root).isEmpty)),
    Race("layout: 4 racing publishLayout calls",
      _ => (),
      root => layouts(4).map(l => () => EpochManifest.publishLayout(spark, root, l)),
      root => {
        // each publish landed its own version, and the head is one of them
        assert(new java.io.File(s"$root/_manifests/layout.v4.json").exists &&
          !new java.io.File(s"$root/_manifests/layout.v5.json").exists)
        assert(layouts(4).contains(EpochManifest.currentLayout(spark, root).get))
      }),
    Race("constraints: 4 racing add_constraint calls",
      _ => (),
      root => (1 to 4).map(i => () =>
        EpochStoreConstraints.add(spark, root, s"k$i", s"id >= -$i")),
      root => {
        val cs = EpochStoreConstraints.list(spark, root)
        assert(cs.size == 4 &&
          cs.toSet == (1 to 4).map(i => s"k$i" -> s"id >= -$i").toSet,
          s"all four racing constraints must land exactly once: $cs")
      })
  )

  races.foreach { c =>
    test(s"racing metadata writers all land exactly once — ${c.name}") {
      val root = store()
      c.seed(root)
      race(c.writers(root): _*)
      c.check(root)
    }
  }

  /** Each log: its i-th rewrite (a writer loops over i) and one read. */
  private val rewrites: Seq[(String, (String, Int) => Unit, String => Unit)] = Seq(
    ("tags",
      (root, i) =>
        if (i % 2 == 0) EpochManifest.tag(spark, root, "x")
        else EpochManifest.untag(spark, root, "x"),
      root => { EpochManifest.tags(spark, root); () }),
    ("column ops",
      (root, i) => EpochManifest.appendColumnOps(spark, root,
        Seq(ColumnOp.Rename(s"k$i", s"k${i + 1}"))),
      root => { EpochManifest.columnOps(spark, root); () }),
    ("layout",
      (root, i) => EpochManifest.publishLayout(spark, root, layouts(2)(i % 2)),
      root => assert(EpochManifest.currentLayout(spark, root).nonEmpty)),
    ("constraints",
      (root, i) =>
        if (i % 2 == 0) EpochStoreConstraints.add(spark, root, "x", "id >= 0")
        else EpochStoreConstraints.drop(spark, root, "x"),
      root => { EpochStoreConstraints.list(spark, root); () })
  )

  rewrites.foreach { case (log, rewrite, read) =>
    test(s"a reader racing a rewriting writer never fails — $log") {
      val root = store()
      rewrite(root, 0)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writes = new java.util.concurrent.atomic.AtomicInteger(0)
      val writer = new Thread(() => {
        try while (!stop.get()) rewrite(root, writes.incrementAndGet())
        catch { case e: Throwable => writerErr.set(e) }
      })
      writer.start()
      try (1 to 200).foreach(_ => read(root))
      finally { stop.set(true); writer.join() }
      assert(writerErr.get() == null, s"writer failed: ${writerErr.get()}")
      assert(writes.get() > 1, "the writer never rewrote the log")
    }
  }

  test("metadata log and manifest bytes on disk are pinned") {
    val root = store()
    val md = s"$root/_manifests"
    EpochStore.evolveLayout(spark, root, Seq("region"), Some("id"), 4,
      Some("days(ts)"))
    assert(bytes(s"$md/layout.v1.json") ==
      "{\"partCols\":\"region\",\"bucketCol\":\"id\",\"bucketCount\":4," +
        "\"transform\":\"days(ts)\"}\n")
    EpochManifest.commit(spark, root,
      Seq(Entry(5L, "f5-1", lo = 1L), Entry(6L, "d6-1", dv = Seq("a.dv", "b.dv"))))
    assert(bytes(s"$md/m2.json") ==
      "{\"epoch\":5,\"lo\":1,\"dir\":\"f5-1\"}\n" +
        "{\"epoch\":6,\"dv\":\"a.dv,b.dv\",\"dir\":\"d6-1\"}\n")
    EpochManifest.tag(spark, root, "v1", 1L)
    assert(bytes(s"$md/tags.v1.json") == "{\"name\":\"v1\",\"generation\":1}\n")
    EpochManifest.tag(spark, root, "v2")
    assert(bytes(s"$md/tags.v2.json") ==
      "{\"name\":\"v1\",\"generation\":1}\n{\"name\":\"v2\",\"generation\":2}\n")
    EpochManifest.untag(spark, root, "v1")
    assert(bytes(s"$md/tags.v3.json") == "{\"name\":\"v2\",\"generation\":2}\n")
    EpochManifest.untag(spark, root, "v2")
    assert(bytes(s"$md/tags.v4.json") == "")

    EpochManifest.appendColumnOps(spark, root, Seq(ColumnOp.Rename("c1", "r1")))
    assert(bytes(s"$md/columns.v1.json") ==
      "{\"op\":\"rename\",\"from\":\"c1\",\"to\":\"r1\"}\n")
    EpochManifest.appendColumnOps(spark, root, Seq(ColumnOp.Drop("c2")))
    assert(bytes(s"$md/columns.v2.json") ==
      "{\"op\":\"rename\",\"from\":\"c1\",\"to\":\"r1\"}\n" +
        "{\"op\":\"drop\",\"name\":\"c2\"}\n")

    val e1 = "c3 <> \"x\\y\"\nOR id > 0"
    EpochStoreConstraints.add(spark, root, "q1", e1)
    assert(bytes(s"$md/constraints.v1.json") ==
      "{\"name\":\"q1\",\"expr\":\"c3 <> \\\"x\\\\y\\\"\\nOR id > 0\"}\n")
    EpochStoreConstraints.add(spark, root, "q2", "id >= 0")
    assert(bytes(s"$md/constraints.v2.json") ==
      "{\"name\":\"q1\",\"expr\":\"c3 <> \\\"x\\\\y\\\"\\nOR id > 0\"}\n" +
        "{\"name\":\"q2\",\"expr\":\"id >= 0\"}\n")
    EpochStoreConstraints.drop(spark, root, "q1")
    assert(bytes(s"$md/constraints.v3.json") ==
      "{\"name\":\"q2\",\"expr\":\"id >= 0\"}\n")
    EpochStoreConstraints.drop(spark, root, "q2")
    assert(bytes(s"$md/constraints.v4.json") == "")
    assert(EpochStoreConstraints.list(spark, root).isEmpty)

    EpochStoreDelta.declare(spark, root, Seq("id", "c3"))
    assert(bytes(s"$root/_rowid.json") == "{\"columns\":\"id,c3\"}")
    BloomSpec.publish(spark, root, "c4")
    assert(bytes(s"$root/_bloom.json") == "{\"column\":\"c4\"}")
  }

  test("racing first declarations of a write-once marker: exactly one wins") {
    (1 to 10).foreach { round =>
      val root = s"${tmp()}/t"
      Seq(
        ("rowid", (c: String) => EpochStoreDelta.declare(spark, root, Seq(c)),
          () => EpochStoreDelta.declared(spark, root).map(_.mkString)),
        ("bloom", (c: String) => BloomSpec.publish(spark, root, c),
          () => BloomSpec.declared(spark, root))
      ).foreach { case (what, declare, declared) =>
        val won = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val lost = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        race(Seq("a", "b").map { c =>
          () =>
            try { declare(c); won.add(c); () }
            catch { case e: IllegalArgumentException => lost.add(e); () }
        }: _*)
        assert(won.size == 1 && lost.size == 1,
          s"round $round, $what: winners $won, refusals $lost")
        assert(lost.peek().getMessage.contains("already declares"),
          lost.peek().getMessage)
        assert(declared().contains(won.peek()), s"round $round, $what")
      }
    }
  }

  test("a branch publish racing gc's anchor read: gc keeps the branch's " +
      "dirs or fails, never deletes what main now names") {
    CountingFs.install(spark)
    Seq("retired to its fence", "published").foreach { step =>
      val local = tmp()
      val root = s"cfs://$local"
      val old = System.currentTimeMillis() -
        EpochManifest.OrphanReclaimAfterMs - 60000L
      def dir(name: String) = {
        val f = new java.io.File(s"$local/$name")
        f.mkdirs(); f.setLastModified(old); f
      }
      dir("d0-1")
      EpochManifest.commit(spark, root, Seq(Entry(0L, "d0-1")))
      EpochManifest.createBranch(spark, root, "x")
      val staged = dir("d1-1") // aged: looks like an orphan to main
      EpochManifest.commitEpochDir(spark, root, 1L, "d1-1", branch = Some("x"))
      val lineage = new Path(s"$root/_manifests/branch-x").toUri.getPath
      // the publish lands after gc listed `_manifests`, before it lists
      // the branch lineage it saw there
      CountingFs.beforeList = p => if (p.toUri.getPath == lineage) {
        CountingFs.beforeList = _ => ()
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (step == "published") EpochManifest.publishBranch(spark, root, "x")
        else fs.rename(new Path(s"$root/_manifests/branch-x"),
          new Path(s"$root/_manifests/.publishing-x-00000000"))
      }
      try EpochManifest.gc(spark, root)
      catch { case _: IllegalStateException => () } // a loud refusal is fine
      finally CountingFs.beforeList = _ => ()
      assert(staged.exists, s"$step: gc deleted the branch's dir d1-1")
      if (step == "published")
        assert(EpochManifest.entries(spark, root).map(_.dir).toSet ==
          Set("d0-1", "d1-1"))
    }
  }
}
