package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._
import graft.core.EpochManifest
import graft.sources.{EpochStore, EpochStoreScan}

/** The DSv2 connector over the EpochManifest store
  * ([[graft.sources.EpochStoreProvider]]): rows must equal the manual
  * manifest reader's, partition-dir pruning must be provable from the
  * pinned Scan (selected/total counts), pushed filters must reach the
  * parquet reader, and `asOfGeneration` must time-travel. */
class EpochStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("bucket", IntegerType)))

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_dsv2").toString

  /** Two epochs, 4 buckets, 40 rows each epoch. */
  private def build(root: String): Unit = {
    import spark.implicits._
    def rows(off: Int) = (0 until 40)
      .map(i => ((i + off).toLong, s"v${i + off}", (i + off) % 4))
      .toDF("id", "v", "bucket")
    EpochManifest.append(rows(0), root, 0L, partitionBy = Seq("bucket"))
    EpochManifest.append(rows(40), root, 1L, partitionBy = Seq("bucket"))
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): EpochStoreScan =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.collect { case s: EpochStoreScan => s }.head

  test("connector rows equal the manual manifest reader's") {
    val root = tmp()
    build(root)
    val viaConnector = EpochStore.read(spark, root, schema, "bucket")
      .collect().map(_.toSeq).toSet
    val manual = EpochManifest.read(spark, root, schema)
      .select("id", "v", "bucket")
      .collect().map(_.toSeq).toSet
    assert(viaConnector == manual && manual.size == 80)
  }

  test("partition pruning: a bucket probe reads exactly the probed dirs, " +
      "fully handled (no residual re-filter needed)") {
    val root = tmp()
    build(root)
    val df = EpochStore.read(spark, root, schema, "bucket")
      .filter(col("bucket").isin(1, 3))
    val scan = scanOf(df)
    assert(scan.selectedPartitionDirs == (4, 8), // 2 buckets × 2 epochs of 4
      s"pruning: ${scan.selectedPartitionDirs}")
    assert(scan.partFilters.length == 1 && scan.dataFilters.isEmpty,
      s"partition filter not recognized: ${scan.partFilters.toSeq}")
    val got = df.collect()
    assert(got.length == 40 && got.forall(r => Set(1, 3)(r.getAs[Int]("bucket"))))
    // single-bucket equality prunes to 1 dir per epoch
    val one = EpochStore.read(spark, root, schema, "bucket")
      .filter(col("bucket") === 2)
    assert(scanOf(one).selectedPartitionDirs == (2, 8))
    assert(one.count() == 20)
  }

  test("column pruning and data-filter pushdown reach the parquet reader") {
    val root = tmp()
    build(root)
    val df = EpochStore.read(spark, root, schema, "bucket")
      .filter(col("id") < 10L).select("v")
    val scan = scanOf(df)
    assert(scan.dataFilters.nonEmpty, "id filter must push to parquet")
    assert(scan.readSchema().fieldNames.toSeq.contains("v") &&
      !scan.readSchema().fieldNames.toSeq.contains("bucket"),
      s"pruned read schema: ${scan.readSchema()}")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 10).map(i => s"v$i").sorted)
    // projecting ONLY the partition column still answers (no data cols read)
    val partOnly = EpochStore.read(spark, root, schema, "bucket").select("bucket")
    assert(partOnly.collect().length == 80)
  }

  test("asOfGeneration time-travels; maxEpoch bounds visibility") {
    val root = tmp()
    build(root) // gen 1 = {e0}, gen 2 = {e0, e1}
    val gens = EpochManifest.generations(spark, root)
    assert(gens.size == 2)
    assert(EpochStore.read(spark, root, schema, "bucket",
      asOfGeneration = gens.head).count() == 40)
    assert(EpochStore.read(spark, root, schema, "bucket").count() == 80)
    assert(EpochStore.read(spark, root, schema, "bucket", maxEpoch = 0L)
      .count() == 40)
    // the pinned scan survives a compaction committed after planning
    val pinned = EpochStore.read(spark, root, schema, "bucket",
      asOfGeneration = gens.last)
    EpochManifest.compact(spark, root, schema, partitionBy = Seq("bucket"))
    assert(pinned.count() == 80, "pinned snapshot must survive compaction+gc")
    val e = intercept[IllegalArgumentException](
      EpochStore.read(spark, root, schema, "bucket", asOfGeneration = 99L)
        .collect())
    assert(e.getMessage.contains("not retained"))
  }

  test("unpartitioned store reads through the connector") {
    import spark.implicits._
    val root = tmp()
    val plain = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    EpochManifest.append(
      (0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), root, 0L)
    val df = EpochStore.read(spark, root, plain)
    assert(df.count() == 10)
    assert(df.filter(col("id") >= 5L).count() == 5)
  }

  // ------------------------------------------------------------ write half

  test("DSv2 write: epochs land through the sink and read back exactly") {
    import spark.implicits._
    val root = tmp()
    def rows(off: Int) = (0 until 40)
      .map(i => ((i + off).toLong, s"v${i + off}", (i + off) % 4))
      .toDF("id", "v", "bucket")
    EpochStore.write(rows(0), root, epoch = 0L, partitionColumn = "bucket")
    EpochStore.write(rows(40), root, epoch = 1L, partitionColumn = "bucket")
    val df = EpochStore.read(spark, root, schema, "bucket")
    assert(df.count() == 80)
    assert(df.collect().map(_.toSeq).toSet ==
      (rows(0).collect() ++ rows(40).collect()).map(_.toSeq).toSet,
      "sink-written rows must round-trip bit-exactly")
    // the written layout prunes exactly like an EpochManifest.append store
    val probe = df.filter(col("bucket") === 2)
    assert(scanOf(probe).selectedPartitionDirs == (2, 8),
      s"written dirs must prune: ${scanOf(probe).selectedPartitionDirs}")
    assert(probe.count() == 20)
  }

  test("DSv2 write: a re-written epoch REPLACES its entry (retry idempotence)") {
    import spark.implicits._
    val root = tmp()
    EpochStore.write((0 until 10).map(i => (i.toLong, s"a$i", i % 2))
      .toDF("id", "v", "bucket"), root, 0L, partitionColumn = "bucket")
    // the retry writes different rows — the manifest must carry ONLY them
    EpochStore.write((0 until 7).map(i => (i.toLong, s"b$i", i % 2))
      .toDF("id", "v", "bucket"), root, 0L, partitionColumn = "bucket")
    val df = EpochStore.read(spark, root, schema, "bucket")
    assert(df.count() == 7, "replaced epoch still shows stale rows")
    assert(df.collect().forall(_.getString(1).startsWith("b")))
    assert(EpochManifest.entries(spark, root).size == 1)
  }

  test("DSv2 write: the fold guard refuses to replace a compaction") {
    import spark.implicits._
    val root = tmp()
    def df(n: Int) = (0 until n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val plain = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    EpochStore.write(df(5), root, 0L)
    EpochStore.write(df(5), root, 1L)
    EpochManifest.compact(spark, root, plain)
    val e = intercept[Exception](EpochStore.write(df(3), root, 1L))
    assert(e.getMessage.contains("fold"),
      s"fold guard must fire at write planning: ${e.getMessage}")
  }

  test("DSv2 write: unpartitioned + null partition values + mixed types round-trip") {
    import spark.implicits._
    val root = tmp()
    val s = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("score", DoubleType), StructField("lang", StringType)))
    val src = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 0.5, "en"),
      (2L, java.sql.Timestamp.valueOf("2024-06-15 23:59:59"), -1.25, "pt:br"),
      (3L, null.asInstanceOf[java.sql.Timestamp], Double.NaN, null))
      .toDF("id", "ts", "score", "lang")
    EpochStore.write(src, root, 0L, partitionColumn = "lang")
    val back = EpochStore.read(spark, root, s, "lang")
    assert(back.count() == 3)
    assert(back.filter(col("lang") === "pt:br").count() == 1,
      "escaped string partition dir must answer")
    assert(back.filter(col("lang").isNull).count() == 1)
    val r1 = back.filter(col("id") === 1L).head
    assert(r1.getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.valueOf("2024-01-01 10:30:00"))
    // unpartitioned write of the same frame
    val root2 = tmp()
    EpochStore.write(src, root2, 0L)
    assert(EpochStore.read(spark, root2, s).count() == 3)
  }

  test("commit prunes files no task committed (dead-attempt partials never publish)") {
    import spark.implicits._
    val root = tmp()
    // land epoch 0 through the sink, then verify the published dir holds
    // EXACTLY the committed files by planting an orphan "partial" into a
    // staged epoch-1 write path before its commit: simulate via the
    // pruning primitive directly (the commit paths call it)
    EpochStore.write((0 until 8).map(i => (i.toLong, s"v$i", i % 2))
      .toDF("id", "v", "bucket"), root, 0L, partitionColumn = "bucket")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"$root/stage")
    fs.mkdirs(new org.apache.hadoop.fs.Path(stage, "bucket=0"))
    def put(rel: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(stage, rel), true)
      out.write("not parquet".getBytes("UTF-8")); out.close()
    }
    put("bucket=0/part-00000-1.parquet")  // committed
    put("bucket=0/part-00001-9.parquet")  // dead attempt — unclaimed
    put("orphan-root-level.parquet")      // unclaimed
    graft.sources.EpochStoreWrite.pruneToCommitted(fs, stage,
      Array(graft.sources.EpochFilesWritten(
        Seq("bucket=0/part-00000-1.parquet"), 4L)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(stage,
      "bucket=0/part-00000-1.parquet")), "claimed file must survive")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stage,
      "bucket=0/part-00001-9.parquet")), "dead-attempt partial must be pruned")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stage,
      "orphan-root-level.parquet")), "root-level orphan must be pruned")
    // the real sink-landed epoch is untouched and still exact
    assert(EpochStore.read(spark, root, schema, "bucket").count() == 8)
  }

  test("DSv2 streaming sink: each micro-batch commits one epoch, exactly-once shape") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp() + "/store"
    val cp = tmp() + "/cp"
    val in = MemoryStream[(Long, String, Int)]
    val q = in.toDF().toDF("id", "v", "bucket")
      .writeStream.format("epochstore")
      .option("path", root).option("partitionColumn", "bucket")
      .option("checkpointLocation", cp)
      .outputMode("append").start()
    try {
      (0 until 3).foreach { b =>
        in.addData((0 until 10).map(i => ((b * 10 + i).toLong, s"v$b-$i", i % 2)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val es = EpochManifest.entries(spark, root)
    assert(es.map(_.epoch).sorted == Seq(0L, 1L, 2L),
      s"one manifest epoch per micro-batch: $es")
    val df = EpochStore.read(spark, root, schema, "bucket")
    assert(df.count() == 30)
    assert(df.filter(col("bucket") === 1).count() == 15)
    // pruning parity with batch-landed stores
    assert(scanOf(df.filter(col("bucket") === 1)).selectedPartitionDirs == (3, 6))
    // no staging residue after commits
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith(".w")),
      "staging dirs must not survive their commit")
    // a REPLAYED epoch (restart re-running batch 0) replaces its entry
    // instead of duplicating it — drive the streaming commit path
    // directly with the replay's (empty) state
    new graft.sources.EpochStoreStreamingWrite(root, "replay-q", schema,
      Seq("bucket")).commit(0L, Array.empty)
    val after = EpochStore.read(spark, root, schema, "bucket")
    assert(after.count() == 20,
      "replayed epoch 0 must REPLACE the original epoch 0, not add to it")
    assert(EpochManifest.entries(spark, root).size == 3)
  }

  test("catalog plugin: stores are SQL-addressable with pruning, VERSION AS OF, and DDL posture") {
    import spark.implicits._
    import org.apache.spark.sql.connector.catalog.Identifier
    val wh = tmp()
    def rows(off: Int) = (0 until 40)
      .map(i => ((i + off).toLong, s"v${i + off}", (i + off) % 4))
      .toDF("id", "v", "bucket")
    EpochStore.write(rows(0), s"$wh/ev", 0L, partitionColumn = "bucket")
    EpochStore.write(rows(40), s"$wh/ev", 1L, partitionColumn = "bucket")
    EpochStore.write((0 until 5).map(i => (i.toLong, s"x$i")).toDF("id", "v"),
      s"$wh/plain", 0L)
    spark.conf.set("spark.sql.catalog.graft_testcat",
      classOf[graft.sources.EpochStoreCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_testcat.warehouse", wh)
    try {
      // plain SQL resolves the store, prunes its partition dirs, and
      // discovers the schema from the layout
      val df = spark.sql("SELECT id, v, bucket FROM graft_testcat.ev WHERE bucket = 2")
      assert(df.count() == 20)
      assert(scanOf(df).selectedPartitionDirs == (2, 8),
        s"SQL probe must prune: ${scanOf(df).selectedPartitionDirs}")
      // SQL-native snapshot time travel: generation 1 holds epoch 0 only
      val g1 = EpochManifest.generations(spark, s"$wh/ev").head
      assert(spark.sql(
        s"SELECT * FROM graft_testcat.ev VERSION AS OF $g1").count() == 40)
      assert(spark.sql("SELECT * FROM graft_testcat.ev").count() == 80)
      // unpartitioned store answers too
      assert(spark.sql("SELECT * FROM graft_testcat.plain").count() == 5)
      // SHOW TABLES resolves through SupportsNamespaces
      val shown = spark.sql("SHOW TABLES IN graft_testcat")
        .collect().map(_.getString(1)).toSet
      assert(shown == Set("ev", "plain"), s"SHOW TABLES: $shown")
      // namespaces are directories: create one, land a store in it,
      // address it three-part, list it, drop it
      spark.sql("CREATE NAMESPACE graft_testcat.nested")
      EpochStore.write((0 until 3).map(i => (i.toLong, s"n$i")).toDF("id", "v"),
        s"$wh/nested/inner", 0L)
      assert(spark.sql("SELECT * FROM graft_testcat.nested.inner").count() == 3)
      assert(spark.sql("SHOW TABLES IN graft_testcat.nested")
        .collect().map(_.getString(1)).toSeq == Seq("inner"))
      assert(spark.sql("SHOW NAMESPACES IN graft_testcat")
        .collect().map(_.getString(0)).contains("nested"))
      spark.sql("DROP NAMESPACE graft_testcat.nested CASCADE")
      assert(!new java.io.File(s"$wh/nested").exists())
      // a warehouse that doesn't exist yet lists EMPTY, never throws
      val emptyCat = new graft.sources.EpochStoreCatalog
      emptyCat.initialize("t2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", s"$wh/not_created_yet")))
      assert(emptyCat.listTables(Array.empty).isEmpty)
      assert(emptyCat.listNamespaces().isEmpty)
      // listing / existence / drop through the catalog API
      val cat = new graft.sources.EpochStoreCatalog
      cat.initialize("t", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
      assert(cat.listTables(Array.empty).map(_.name()).toSet == Set("ev", "plain"))
      assert(cat.tableExists(Identifier.of(Array.empty, "ev")))
      assert(cat.dropTable(Identifier.of(Array.empty, "plain")))
      assert(!cat.tableExists(Identifier.of(Array.empty, "plain")))
      // r13: plain CREATE TABLE now publishes an empty epoch-0 store
      // with the declared schema (CTAS/RTAS stage; EpochStoreSpec's
      // CTAS tests pin those) — no refusal any more
      cat.createTable(Identifier.of(Array.empty, "fresh0"), schema,
        Array.empty, java.util.Map.of())
      assert(cat.tableExists(Identifier.of(Array.empty, "fresh0")))
      assert(cat.loadTable(Identifier.of(Array.empty, "fresh0"))
        .schema() == schema)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_testcat")
      spark.conf.unset("spark.sql.catalog.graft_testcat.warehouse")
    }
  }

  test("string partition column round-trips escaped dir names") {
    import spark.implicits._
    val root = tmp()
    val s = StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType)))
    EpochManifest.append(
      Seq((1L, "en"), (2L, "pt:br"), (3L, "pt:br"), (4L, null))
        .toDF("id", "lang"), root, 0L, partitionBy = Seq("lang"))
    val df = EpochStore.read(spark, root, s, "lang")
    assert(df.count() == 4)
    val probed = df.filter(col("lang") === "pt:br")
    assert(scanOf(probed).selectedPartitionDirs._1 == 1,
      "escaped string dir must prune to one")
    assert(probed.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(df.filter(col("lang").isNull).count() == 1)
  }

  test("runtime filtering: a join against a filtered dim prunes the " +
      "store's partition dirs at execution (DPP)") {
    import spark.implicits._
    val root = tmp()
    build(root) // 4 buckets × 2 epochs, 80 rows
    // the dim must be a SCAN with a residual filter — a LocalRelation
    // constant-folds the predicate away and DPP sees nothing selective
    val dimPath = tmp()
    Seq((1, "keep"), (3, "keep"), (2, "drop")).toDF("bucket", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val df = EpochStore.read(spark, root, schema, "bucket")
      .join(spark.read.parquet(dimPath).filter(col("tag") === "keep"), "bucket")
    val got = df.collect()
    assert(got.length == 40, s"buckets 1 and 3 hold 40 rows, got ${got.length}")
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collect { case s: EpochStoreScan => s }
    assert(scans.nonEmpty, "no EpochStoreScan in the executed plan")
    assert(scans.exists(_.runtimeFiltered),
      "the DPP runtime filter never reached the scan")
    val pruned = scans.find(_.runtimeFiltered).get.selectedPartitionDirs
    assert(pruned == (4, 8), // 2 joined buckets × 2 epochs, of 4 × 2 total
      s"runtime pruning expected 4/8 dirs, got $pruned")
  }

  test("changefeed: changes since a generation are exactly the later " +
      "epochs' rows; retention and straddling folds fail loudly") {
    import spark.implicits._
    val root = tmp()
    build(root) // epoch 0 (gen 1), epoch 1 (gen 2)
    val g1 = EpochManifest.generations(spark, root).head
    val delta = EpochStore.changes(spark, root, schema, g1, "bucket")
    val ids = delta.collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (40L until 80L), s"delta must be epoch 1's rows, got ${ids.size}")
    // delta since the LATEST generation is empty, not an error
    val g2 = EpochManifest.generations(spark, root).last
    assert(EpochStore.changes(spark, root, schema, g2, "bucket").count() == 0)
    // pruning composes with the changefeed
    val pruned = delta.filter(col("bucket") === 1)
    assert(scanOf(pruned).selectedPartitionDirs == (1, 4))
    assert(pruned.count() == 10)
    // compaction gc's the base generation → loud retention error
    EpochManifest.compact(spark, root, schema, partitionBy = Seq("bucket"))
    val gone = intercept[IllegalArgumentException](
      EpochStore.changes(spark, root, schema, g1, "bucket").count())
    assert(gone.getMessage.contains("not retained"))
  }

  test("changefeed: a fold straddling the base generation's boundary " +
      "fails loudly instead of over- or under-delivering") {
    import spark.implicits._
    val root = tmp()
    build(root) // epochs 0 (gen 1), 1 (gen 2) — dirs d0-1, d1-1
    val g2 = EpochManifest.generations(spark, root).last
    // fabricate what a mis-sequenced compaction would commit: a fold
    // spanning [1, 2] — epoch 1 already visible at g2, epoch 2 not
    (80 until 90).map(i => (i.toLong, s"v$i", i % 4))
      .toDF("id", "v", "bucket")
      .write.partitionBy("bucket").parquet(s"$root/f2-1")
    EpochManifest.commit(spark, root, Seq(
      EpochManifest.Entry(0L, "d0-1"),
      EpochManifest.Entry(2L, "f2-1", lo = 1L)))
    val err = intercept[IllegalStateException](
      EpochStore.changes(spark, root, schema, g2, "bucket").count())
    assert(err.getMessage.contains("the delta since"),
      s"wrong failure: ${err.getMessage}")
  }

  private def aggScanOf(df: org.apache.spark.sql.DataFrame)
      : Option[graft.sources.EpochStoreAggScan] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: graft.sources.EpochStoreAggScan => s }

  test("aggregate pushdown: grouped and global COUNT/MIN/MAX answered " +
      "from parquet footers, equal to the row-scan answers") {
    val root = tmp()
    build(root) // ids 0..79, bucket = id % 4, 2 epochs
    val t = EpochStore.read(spark, root, schema, "bucket")
    val grouped = t.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("id")).as("lo"), max(col("id")).as("hi"))
      .orderBy("bucket")
    assert(aggScanOf(grouped).nonEmpty, "grouped aggregate not pushed")
    val rows = grouped.collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq ==
      (0 until 4).map(b => (b, 20L, 20L, b.toLong, (76 + b).toLong)))
    // global + a partition filter: still metadata-only, dirs pruned first
    val global = t.filter(col("bucket").isin(1, 3))
      .agg(count(lit(1)).as("n"), min(col("id")).as("lo"))
    val gs = aggScanOf(global)
    assert(gs.nonEmpty, "global aggregate not pushed")
    assert(global.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((40L, 1L)))
    assert(gs.get.selectedPartitionDirs == (4, 8))
  }

  test("aggregate pushdown: a pruned-to-nothing store still counts 0; " +
      "data filters and stat-unsafe types fall back to the row scan") {
    val root = tmp()
    build(root)
    val t = EpochStore.read(spark, root, schema, "bucket")
    // every dir pruned away: global count must be 0 (the zero row), not null
    val none = t.filter(col("bucket") === 99).agg(count(lit(1)).as("n"))
    assert(aggScanOf(none).nonEmpty)
    assert(none.collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(t.filter(col("bucket") === 99).groupBy(col("bucket"))
      .agg(count(lit(1))).count() == 0) // grouped: zero groups
    // a residual DATA filter makes footer counts wrong — must fall back
    val filtered = t.filter(col("id") > 9).agg(count(lit(1)).as("n"))
    assert(aggScanOf(filtered).isEmpty, "data-filtered agg must not push")
    assert(filtered.collect().head.getLong(0) == 70L)
    // string min/max: parquet stats may truncate — must fall back
    val strAgg = t.agg(min(col("v")).as("lo"))
    assert(aggScanOf(strAgg).isEmpty, "string min must not push")
    assert(strAgg.collect().head.getString(0) == "v0")
    // the kill switch
    val off = EpochStore.read(spark, root, schema, "bucket")
      .sparkSession.read.format("epochstore").schema(schema)
      .option("path", root).option("partitionColumn", "bucket")
      .option("aggregatePushdown", "false").load()
      .agg(count(lit(1)).as("n"))
    assert(aggScanOf(off).isEmpty && off.collect().head.getLong(0) == 80L)
  }

  test("storage-partitioned execution: groupBy and a two-store join on " +
      "the partition column run with ZERO shuffle") {
    import spark.implicits._
    val rootA = tmp()
    build(rootA) // ids 0..79, bucket = id % 4
    val rootB = tmp()
    EpochManifest.append(
      (0 until 4).map(b => (b.toLong * 100, s"dim$b", b))
        .toDF("id", "v", "bucket"),
      rootB, 0L, partitionBy = Seq("bucket"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val a = EpochStore.read(spark, rootA, schema, "bucket")
      val agg = a.groupBy(col("bucket")).agg(sum(col("id")).as("s"))
      val aggProf = graft.core.Metrics.measure(agg)
      assert(aggProf.nExchanges == 0,
        s"grouped-by-partition-column agg must not shuffle: $aggProf")
      assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq ==
        (0 until 4).map(b => (b, (0 until 80).filter(_ % 4 == b).map(_.toLong).sum)))
      val b = EpochStore.read(spark, rootB, schema, "bucket")
        .select(col("bucket"), col("v").as("tag"))
      val joined = a.join(b, Seq("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"), max(col("tag")).as("t"))
      val joinProf = graft.core.Metrics.measure(joined)
      assert(joinProf.nExchanges == 0,
        s"co-partitioned two-store join must not shuffle: $joinProf")
      assert(joined.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getString(2))).sorted.toSeq ==
        (0 until 4).map(b => (b, 20L, s"dim$b")))
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
  }

  test("_epoch metadata column: hidden from star, selectable, correct " +
      "per epoch; readLatest serves the upsert-by-append view") {
    import spark.implicits._
    val root = tmp()
    build(root) // epoch 0 = ids 0..39, epoch 1 = ids 40..79
    val t = EpochStore.read(spark, root, schema, "bucket")
    assert(!t.columns.contains("_epoch"), "metadata column must be hidden")
    val tagged = t.select(col("id"), col("_epoch"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0 until 40).forall(i => tagged(i.toLong) == 0L) &&
      (40 until 80).forall(i => tagged(i.toLong) == 1L))
    // upsert-by-append: epoch 2 rewrites ids 0..9 with new payloads
    EpochManifest.append(
      (0 until 10).map(i => (i.toLong, s"upd$i", i % 4))
        .toDF("id", "v", "bucket"),
      root, 2L, partitionBy = Seq("bucket"))
    val latest = EpochStore.readLatest(spark, root, schema,
      keyCols = Seq("id"), partitionColumn = "bucket")
    val got = latest.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 80)
    assert((0 until 10).forall(i => got(i.toLong) == s"upd$i"),
      "updated keys must serve the epoch-2 payload")
    assert((10 until 80).forall(i => got(i.toLong) == s"v$i"),
      "untouched keys must keep their original payload")
    // same-epoch duplicates break on versionCol's keyed max
    val root2 = tmp()
    EpochManifest.append(
      Seq((1L, "lo", 0), (1L, "hi", 1)).toDF("id", "v", "bucket"),
      root2, 0L, partitionBy = Seq("bucket"))
    val tie = EpochStore.readLatest(spark, root2, schema,
      keyCols = Seq("id"), partitionColumn = "bucket", versionCol = "v")
    // keyed max of versionCol: "lo" > "hi" lexicographically
    assert(tie.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "lo")))
  }

  test("derived store: base-store tail → update-mode aggregate → sink; " +
      "readLatest serves current per-key aggregates across restarts, " +
      "deltas carry only changed keys") {
    import spark.implicits._
    val base = tmp(); val out = tmp(); val ckpt = tmp()
    build(base) // epochs 0, 1: ids 0..79, bucket = id % 4
    val q1 = graft.streaming.Jobs.derivedStore(spark, base, schema,
      keyCol = "bucket", sumCol = "id", outRoot = out, checkpoint = ckpt,
      partitionCol = "bucket")
    q1.awaitTermination()
    val outSchema = StructType(Seq(StructField("bucket", IntegerType),
      StructField("n", LongType), StructField("total", LongType)))
    def served() = EpochStore
      .readLatest(spark, out, outSchema, Seq("bucket"), "bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def expect(ids: Seq[Int]) = (0 until 4).map(b =>
      (b, ids.count(_ % 4 == b).toLong,
        ids.filter(_ % 4 == b).map(_.toLong).sum))
    assert(served() == expect(0 until 80))
    // new base epoch arrives; the restarted query processes ONLY it
    EpochManifest.append(
      Seq((100L, "x", 0), (101L, "y", 1)).toDF("id", "v", "bucket"),
      base, 2L, partitionBy = Seq("bucket"))
    val q2 = graft.streaming.Jobs.derivedStore(spark, base, schema,
      "bucket", "id", out, ckpt, partitionCol = "bucket")
    q2.awaitTermination()
    assert(served() == expect((0 until 80) ++ Seq(100, 101)))
    // the delta epoch carries ONLY the two changed buckets
    val lastEpoch = EpochManifest.entries(spark, out).map(_.epoch).max
    val delta = EpochStore.read(spark, out, outSchema, "bucket")
      .filter(col("_epoch") === lastEpoch)
    assert(delta.collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1),
      "update mode must re-emit only the keys the batch changed")
  }

  test("the SQL catalog path inherits the new scan tiers: COUNT(*) plans " +
      "the footer-agg scan, _epoch resolves in SQL") {
    val root = tmp()
    val wh = new java.io.File(root).getParent
    val store = new java.io.File(root).getName
    build(root)
    spark.conf.set("spark.sql.catalog.graft_fcat",
      classOf[graft.sources.EpochStoreCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_fcat.warehouse", wh)
    try {
      val cnt = spark.sql(s"SELECT COUNT(*) AS n FROM graft_fcat.`$store`")
      assert(aggScanOf(cnt).nonEmpty,
        "catalog-resolved COUNT(*) must plan the footer-agg scan")
      assert(cnt.collect().head.getLong(0) == 80L)
      val epochs = spark.sql(
        s"SELECT _epoch, COUNT(*) AS n FROM graft_fcat.`$store` " +
          "GROUP BY _epoch ORDER BY _epoch")
      assert(epochs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((0L, 40L), (1L, 40L)))
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_fcat")
      spark.conf.unset("spark.sql.catalog.graft_fcat.warehouse")
    }
  }

  test("bloom sidecars: point lookups skip files exactly — never a " +
      "present key, always most absent files; unindexed epochs stay") {
    import spark.implicits._
    val root = tmp()
    // 4 epochs × disjoint id ranges, bloom on id (no partition dirs, so
    // every file is a skip candidate)
    (0 until 4).foreach { e =>
      EpochStore.write(
        (e * 1000 until e * 1000 + 200).map(i => (i.toLong, s"v$i"))
          .toDF("id", "v"),
        root, e.toLong, bloomColumn = "id")
    }
    def probed(ids: Long*) = EpochStore.read(spark, root,
        StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
        bloomColumn = "id")
      .filter(col("id").isin(ids: _*))
    // a single-epoch probe keeps ~1 of 4+ files
    val one = probed(1005L)
    assert(one.collect().map(_.getString(1)).toSeq == Seq("v1005"))
    val (kept, total) = scanOf(one).skippedFilesAudit
    assert(total >= 4 && kept < total,
      s"skip must drop most files: kept $kept of $total")
    // no false drops: every present id answers; misses answer empty
    val hits = (0 until 4).map(e => e * 1000 + 7L)
    assert(probed(hits: _*).count() == 4)
    assert(probed(555L).count() == 0)
    // an epoch written WITHOUT the sidecar is always kept
    EpochStore.write(Seq((9000L, "nine")).toDF("id", "v"), root, 9L)
    val mixed = probed(9000L)
    assert(mixed.collect().map(_.getString(1)).toSeq == Seq("nine"))
    // streaming-write sidecars ride the staging rename
    val sroot = tmp()
    val src = tmp()
    (0 until 3).foreach { e =>
      val lines = (e * 100 until e * 100 + 50)
        .map(i => s"""{"id":$i,"v":"s$i"}""").mkString("", "\n", "\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(src, s"b$e.json"), lines.getBytes("UTF-8"))
    }
    val q = spark.readStream
      .schema(StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
      .option("maxFilesPerTrigger", "1").json(src)
      .writeStream.format("epochstore")
      .option("path", sroot).option("bloomColumn", "id")
      .option("checkpointLocation", tmp())
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val sprobe = EpochStore.read(spark, sroot,
        StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
        bloomColumn = "id")
      .filter(col("id") === 205L)
    assert(sprobe.collect().map(_.getString(1)).toSeq == Seq("s205"))
    val (skept, stotal) = scanOf(sprobe).skippedFilesAudit
    assert(stotal >= 3 && skept < stotal,
      s"streamed sidecars must skip: kept $skept of $stotal")
  }

  test("bloom declaration: skipping engages with NO read option via the " +
      "store's _bloom.json; a conflicting column refuses at write") {
    import spark.implicits._
    val root = tmp()
    val s2 = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    (0 until 4).foreach(e => EpochStore.write(
      (e * 1000 until e * 1000 + 100).map(i => (i.toLong, s"v$i"))
        .toDF("id", "v"),
      root, e.toLong, bloomColumn = "id"))
    val noOpt = EpochStore.read(spark, root, s2) // no bloomColumn passed
      .filter(col("id") === 2005L)
    assert(noOpt.collect().map(_.getString(1)).toSeq == Seq("v2005"))
    val (kept, total) = scanOf(noOpt).skippedFilesAudit
    assert(total >= 4 && kept < total,
      s"declared bloom must skip without the option: $kept/$total")
    val err = intercept[IllegalArgumentException](EpochStore.write(
      Seq((1L, "x")).toDF("id", "v"), root, 9L, bloomColumn = "v"))
    assert(err.getMessage.contains("poison"))
  }

  // ---- streaming source (MicroBatchStream over the manifest) ----

  private def startTail(root: String, name: String, ckpt: String,
                        maxPerTrigger: Long = -1L, after: Long = -1L) =
    EpochStore.readStream(spark, root, schema, "bucket",
        startingAfterEpoch = after, maxEpochsPerTrigger = maxPerTrigger)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

  /** Restart tests need a sink that supports checkpoint RECOVERY (the
    * memory sink refuses an existing checkpoint); the parquet sink's
    * own manifest also proves end-to-end exactly-once. */
  private def startTailToFiles(root: String, out: String, ckpt: String,
                               maxPerTrigger: Long = -1L) =
    EpochStore.readStream(spark, root, schema, "bucket",
        maxEpochsPerTrigger = maxPerTrigger)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

  private def sunkIds(out: String): Seq[Long] =
    spark.read.schema(schema).parquet(out).collect().map(_.getLong(0)).toSeq

  test("stream source: initial snapshot, then each committed epoch " +
      "arrives exactly once") {
    import spark.implicits._
    val root = tmp()
    build(root) // epochs 0, 1 — 80 rows
    val ckpt = tmp()
    val q = startTail(root, "tail1", ckpt)
    try {
      q.processAllAvailable()
      assert(spark.table("tail1").count() == 80, "initial snapshot")
      EpochManifest.append(
        Seq((100L, "v100", 0), (101L, "v101", 1)).toDF("id", "v", "bucket"),
        root, 2L, partitionBy = Seq("bucket"))
      q.processAllAvailable()
      val got = spark.table("tail1").collect().map(_.getLong(0)).toSeq
      assert(got.length == 82 && got.distinct.length == 82,
        s"tail delivered ${got.length} rows (dups: ${got.length - got.distinct.length})")
      assert(got.toSet.contains(100L) && got.toSet.contains(101L))
    } finally q.stop()
  }

  test("stream source: restart from the checkpoint resumes after the " +
      "delivered epochs — no redelivery, new epochs still arrive") {
    import spark.implicits._
    val root = tmp()
    build(root)
    val ckpt = tmp()
    val out = tmp()
    val q1 = startTailToFiles(root, out, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(sunkIds(out).length == 80)
    EpochManifest.append(
      Seq((200L, "v200", 2)).toDF("id", "v", "bucket"),
      root, 2L, partitionBy = Seq("bucket"))
    val q2 = startTailToFiles(root, out, ckpt) // SAME sink + checkpoint
    try {
      q2.processAllAvailable()
      val got = sunkIds(out)
      assert(got.length == 81 && got.distinct.length == 81 &&
        got.contains(200L),
        s"restart must deliver ONLY the new epoch once, got ${got.length} rows")
    } finally q2.stop()
  }

  test("stream source: maxEpochsPerTrigger paces catch-up into bounded " +
      "batches; startingAfterEpoch skips the snapshot") {
    import spark.implicits._
    val root = tmp()
    build(root)
    EpochManifest.append(
      Seq((300L, "v300", 3)).toDF("id", "v", "bucket"),
      root, 2L, partitionBy = Seq("bucket"))
    val q = startTail(root, "tail3", tmp(), maxPerTrigger = 1L, after = 0L)
    try {
      q.processAllAvailable()
      // epochs 1 and 2 (snapshot epoch 0 skipped), one epoch per batch
      val got = spark.table("tail3").collect().map(_.getLong(0)).toSet
      assert(got.size == 41 && got.contains(300L) && !got.contains(0L))
      assert(q.recentProgress.count(_.numInputRows > 0) == 2,
        "two paced non-empty batches expected")
    } finally q.stop()
  }

  test("stream source: a compaction fold straddling the stream offset " +
      "fails the query loudly instead of re-delivering") {
    import spark.implicits._
    val root = tmp()
    build(root)
    val ckpt = tmp()
    val out = tmp()
    val q1 = startTailToFiles(root, out, ckpt, maxPerTrigger = 1L)
    try { q1.processAllAvailable() } finally q1.stop() // delivered through epoch 1
    // fold epochs 0-2 into one entry spanning the delivered offset 1
    EpochManifest.append(
      Seq((400L, "v400", 0)).toDF("id", "v", "bucket"),
      root, 2L, partitionBy = Seq("bucket"))
    EpochManifest.compact(spark, root, schema, partitionBy = Seq("bucket"))
    val q2 = startTailToFiles(root, out, ckpt)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { q2.processAllAvailable() } finally q2.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("compaction overtook the stream")),
      s"wrong failure: ${messages(err).mkString(" | ")}")
  }

  test("stream source: compaction up to the committed offset is invisible " +
      "to the tail") {
    import spark.implicits._
    val root = tmp()
    build(root)
    val ckpt = tmp()
    val out = tmp()
    val q1 = startTailToFiles(root, out, ckpt)
    try { q1.processAllAvailable() } finally q1.stop() // offset at epoch 1
    // fold everything ≤ offset, then append a new epoch — legal sequence
    EpochManifest.compact(spark, root, schema, uptoEpoch = 2L,
      partitionBy = Seq("bucket"))
    EpochManifest.append(
      Seq((500L, "v500", 1)).toDF("id", "v", "bucket"),
      root, 5L, partitionBy = Seq("bucket"))
    val q2 = startTailToFiles(root, out, ckpt)
    try {
      q2.processAllAvailable()
      val got = sunkIds(out)
      assert(got.length == 81 && got.contains(500L),
        s"expected exactly the new epoch on top, got ${got.length} rows")
    } finally q2.stop()
  }

  // ---- stats sidecars / data skipping / row bounds / statistics ----

  private val idvSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  /** 4 epochs × disjoint id ranges [e*1000, e*1000+200), stats on both
    * columns; epoch 2 additionally carries null ids. */
  private def statsStore(): String = {
    import spark.implicits._
    val root = tmp()
    (0 until 4).foreach { e =>
      val rows = (e * 1000 until e * 1000 + 200)
        .map(i => (java.lang.Long.valueOf(i.toLong), s"v$i")) ++
        (if (e == 2) Seq((null.asInstanceOf[java.lang.Long], "vnull")) else Nil)
      EpochStore.write(rows.toDF("id", "v").coalesce(1), root, e.toLong,
        statsColumns = Seq("id", "v"))
    }
    root
  }

  test("stats sidecars: range/equality/null-ness predicates skip files " +
      "exactly; statless epochs always stay") {
    val root = statsStore()
    def rd() = EpochStore.read(spark, root, idvSchema)
    // a one-epoch range keeps 1 of 4 files
    val range = rd().filter(col("id") >= 1010L && col("id") < 1150L)
    assert(range.count() == 140)
    val (kept, total) = scanOf(range).skippedFilesAudit
    assert(total >= 4 && kept == 1, s"range skip: kept $kept of $total")
    // equality on the STRING column skips too (UTF-8 binary ordering
    // on both sides; lexicographic epoch ranges overlap — "v3123" falls
    // inside ["v0","v99"] and ["v2000","vnull"] — so exactly epoch 1's
    // ["v1000","v1199"] is provably impossible)
    val sv = rd().filter(col("v") === "v3123")
    assert(sv.collect().map(_.getLong(0)).toSeq == Seq(3123L))
    assert(scanOf(sv).skippedFilesAudit == (3, 4))
    // IS NULL keeps only the null-carrying epoch; IS NOT NULL keeps all
    val nulls = rd().filter(col("id").isNull)
    assert(nulls.collect().map(_.getString(1)).toSeq == Seq("vnull"))
    assert(scanOf(nulls).skippedFilesAudit._1 == 1)
    assert(rd().filter(col("id").isNotNull).count() == 800)
    // an out-of-every-range probe skips ALL files
    val miss = rd().filter(col("id") === 555L)
    assert(miss.count() == 0 && scanOf(miss).skippedFilesAudit._1 == 0)
    // an epoch appended WITHOUT stats is always kept (no false drops)
    import spark.implicits._
    EpochStore.write(Seq((9000L, "nine")).toDF("id", "v"), root, 9L)
    val mixed = rd().filter(col("id") === 9000L)
    assert(mixed.collect().map(_.getString(1)).toSeq == Seq("nine"))
    assert(scanOf(mixed).skippedFilesAudit._1 == 1, "only the statless file")
  }

  test("sorted write: range distribution gives disjoint per-file ranges; " +
      "clustered write gives one file per partition value") {
    import spark.implicits._
    val root = tmp()
    val shuffled = new scala.util.Random(7).shuffle((0 until 800).toList)
      .map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(8)
    EpochStore.write(shuffled, root, 0L,
      statsColumns = Seq("id"), sortColumns = Seq("id"), writePartitions = 4)
    // exactly writePartitions files, covering disjoint sorted ranges
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val entry = EpochManifest.entries(spark, root).head.dir
    val stats = graft.sources.EpochStoreStats.read(fs, root, entry)
    assert(stats.size == 4, s"expected 4 sorted files, got ${stats.keySet}")
    val ranges = stats.values.map(f => (f.cols("id").min.get.asInstanceOf[Long],
      f.cols("id").max.get.asInstanceOf[Long])).toSeq.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"overlapping file ranges: $ranges")
    assert(ranges.map { case (lo, hi) => hi - lo + 1 }.sum == 800)
    // a quartile-interior range query opens ONE file
    val q = EpochStore.read(spark, root, idvSchema)
      .filter(col("id") >= ranges(1)._1 + 5L && col("id") <= ranges(1)._1 + 60L)
    assert(q.count() == 56 && scanOf(q).skippedFilesAudit == (1, 4))
    // clustered partitioned write: one file per partition VALUE
    val root2 = tmp()
    val parted = (0 until 400).map(i => (i.toLong, s"v$i", i % 4))
      .toDF("id", "v", "bucket").repartition(8)
    parted.write.format("epochstore").mode("append")
      .option("path", root2).option("epoch", "0")
      .option("partitionColumn", "bucket").option("clusteredWrite", "true")
      .save()
    val entry2 = EpochManifest.entries(spark, root2).head.dir
    def parquets(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val (dirs, files) = fs.listStatus(p).toSeq.partition(_.isDirectory)
      files.map(_.getPath.getName).filter(_.endsWith(".parquet")) ++
        dirs.flatMap(d => parquets(d.getPath))
    }
    val nFiles = parquets(new org.apache.hadoop.fs.Path(s"$root2/$entry2")).size
    assert(nFiles == 4, s"clustered write must land 1 file/value, got $nFiles")
    assert(EpochStore.read(spark, root2, StructType(idvSchema :+
      StructField("bucket", IntegerType)), "bucket").count() == 400)
  }

  test("limit pushdown: LIMIT plans only a row-covering file prefix") {
    val root = statsStore()
    val df = EpochStore.read(spark, root, idvSchema).limit(7)
    assert(df.count() == 7)
    val (kept, total) = scanOf(df).skippedFilesAudit
    assert(total >= 4 && kept == 1, s"limit truncation: kept $kept of $total")
    // a limit past the store keeps everything and still answers exactly
    val all = EpochStore.read(spark, root, idvSchema).limit(5000)
    assert(all.count() == 801)
  }

  test("topN pushdown: ORDER BY LIMIT opens only the bound-covering " +
      "files, both directions, and equals the full sort") {
    val root = statsStore()
    def rd() = EpochStore.read(spark, root, idvSchema)
    val asc = rd().orderBy(col("id")).limit(5)
    // nulls first (Spark asc default) — the null-carrying epoch stays
    val ascScan = scanOf(asc)
    val (kept, total) = ascScan.skippedFilesAudit
    assert(total >= 4 && kept == 2, // lowest-range file + the null carrier
      s"asc topN: kept $kept of $total")
    assert(asc.collect().map(r =>
      if (r.isNullAt(0)) null else r.getLong(0)).toSeq ==
      Seq(null, 0L, 1L, 2L, 3L))
    val desc = rd().orderBy(col("id").desc).limit(3)
    assert(scanOf(desc).skippedFilesAudit._1 == 1, "desc keeps the top file")
    assert(desc.collect().map(_.getLong(0)).toSeq == Seq(3199L, 3198L, 3197L))
    // ascending with explicit nulls LAST: null file is droppable
    val nl = rd().orderBy(col("id").asc_nulls_last).limit(5)
    assert(scanOf(nl).skippedFilesAudit._1 == 1)
    assert(nl.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("tombstone deletes: merge-on-read drop, resurrection by a later " +
      "epoch, and physical purge with unchanged answers") {
    import spark.implicits._
    val root = tmp()
    // epoch 0: ids 0..99; epoch 1: corrections for ids % 10 == 0
    EpochStore.write((0 until 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), root, 0L)
    EpochStore.write((0 until 100 by 10).map(i => (i.toLong, s"c$i"))
      .toDF("id", "v"), root, 1L)
    // epoch 2: DELETE ids % 7 == 0; epoch 3: re-insert ids % 14 == 0
    EpochStore.delete(spark, root,
      (0 until 100 by 7).map(_.toLong).toDF("id"), 2L)
    EpochStore.write((0 until 100 by 14).map(i => (i.toLong, s"r$i"))
      .toDF("id", "v"), root, 3L)
    def state() = EpochStore.readLatest(spark, root, idvSchema, Seq("id"),
        applyDeletes = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = (0 until 100).flatMap { i =>
      if (i % 14 == 0) Some(i.toLong -> s"r$i") // resurrected
      else if (i % 7 == 0) None // deleted, not re-inserted
      else if (i % 10 == 0) Some(i.toLong -> s"c$i") // corrected
      else Some(i.toLong -> s"v$i")
    }.toMap
    val before = state()
    assert(before == expect, s"merge-on-read state wrong: " +
      s"missing ${expect.keySet -- before.keySet}, " +
      s"extra ${before.keySet -- expect.keySet}")
    // without applyDeletes the view is the plain latest-wins (history honest)
    assert(EpochStore.readLatest(spark, root, idvSchema, Seq("id"))
      .count() == 100)
    // purge: answers unchanged, tombstoned rows PHYSICALLY gone,
    // delete store emptied
    EpochStore.purgeDeletes(spark, root, idvSchema, Seq("id"))
    assert(state() == expect, "purge changed the served state")
    val raw = EpochStore.read(spark, root, idvSchema)
    assert(raw.count().toInt == expect.size,
      "purged store must hold exactly the live rows")
    assert(EpochManifest.entries(spark,
      EpochStore.deletesRoot(root)).isEmpty, "delete store must be empty")
    // the post-purge store keeps working: append above the fold epoch
    EpochStore.write(Seq((500L, "new")).toDF("id", "v"), root, 10L)
    assert(state().get(500L).contains("new"))
  }

  test("schema evolution: epochs merge by name, old files serve nulls, " +
      "type changes and pre-evolution entries refuse") {
    import spark.implicits._
    val root = tmp()
    EpochStore.write((0 until 50).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), root, 0L)
    EpochStore.write((50 until 100).map(i => (i.toLong, s"v$i", i * 10L))
      .toDF("id", "v", "score"), root, 1L)
    val (schema, part) = EpochStore.evolvedSchema(spark, root)
    assert(schema.fieldNames.toSeq == Seq("id", "v", "score") &&
      part.isEmpty && schema("score").nullable)
    val df = EpochStore.readEvolved(spark, root)
    assert(df.count() == 100)
    assert(df.filter(col("score").isNull).count() == 50, "old epoch = nulls")
    assert(df.filter(col("score") === 990L).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(99L))
    // a same-name type change refuses loudly
    val bad = tmp()
    EpochStore.write(Seq((1L, "a")).toDF("id", "v"), bad, 0L)
    EpochStore.write(Seq((2, "b")).toDF("id", "v")
      .select(col("id").cast("int").as("id"), col("v")), bad, 1L)
    val e1 = intercept[IllegalArgumentException] {
      EpochStore.evolvedSchema(spark, bad)
    }
    assert(e1.getMessage.contains("changed type"))
    // an entry without a schema record (plain manifest append) refuses
    val old = tmp()
    EpochManifest.append(Seq((1L, "a")).toDF("id", "v"), old, 0L)
    val e2 = intercept[IllegalArgumentException] {
      EpochStore.evolvedSchema(spark, old)
    }
    assert(e2.getMessage.contains("_schema.json"))
  }

  test("sidecar-answered aggregation: COUNT/COUNT(col)/MIN/MAX fold on " +
      "the driver from stats records, equal to the row scan; a statless " +
      "file falls back to footers") {
    import spark.implicits._
    val root = tmp()
    val rows = (0 until 300).map(i =>
      (if (i % 11 == 0) null else java.lang.Long.valueOf(i.toLong),
        s"v$i", i % 4))
    EpochStore.write(rows.take(150).toDF("id", "v", "bucket"), root, 0L,
      partitionColumn = "bucket", statsColumns = Seq("id"))
    EpochStore.write(rows.drop(150).toDF("id", "v", "bucket"), root, 1L,
      partitionColumn = "bucket", statsColumns = Seq("id"))
    val s3 = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("bucket", IntegerType)))
    def agg() = EpochStore.read(spark, root, s3, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), count(col("id")).as("nn"),
        min(col("id")).as("mn"), max(col("id")).as("mx"))
      .orderBy("bucket")
    def aggScanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan
      }.collect { case s: graft.sources.EpochStoreAggScan => s }.head
    val meta = agg()
    assert(aggScanOf(meta).answeredFromSidecars, "must fold from sidecars")
    val metaRows = meta.collect().map(_.toSeq).toSeq
    // row-scan truth: the kill switch disables aggregate pushdown
    val truthRows = spark.read.format("epochstore").schema(s3)
      .option("path", root).option("partitionColumn", "bucket")
      .option("aggregatePushdown", "false").load()
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), count(col("id")).as("nn"),
        min(col("id")).as("mn"), max(col("id")).as("mx"))
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(metaRows == truthRows, s"sidecar fold diverged:\n$metaRows\nvs\n$truthRows")
    // an epoch appended without any stats record forces the footer path
    EpochManifest.append(Seq((900L, "x", 1)).toDF("id", "v", "bucket"),
      root, 5L, partitionBy = Seq("bucket"))
    val fallback = agg()
    assert(!aggScanOf(fallback).answeredFromSidecars)
    assert(fallback.collect().map(_.getAs[Long]("n")).sum == 301L)
  }

  test("streaming tail skips files from the stats sidecars; evolution " +
      "composes with time travel") {
    import graft.sources.{EpochStoreMicroBatchStream, EpochStreamOffset}
    import org.apache.spark.sql.execution.datasources.FilePartition
    val root = statsStore()
    def filesPlanned(filters: Array[org.apache.spark.sql.sources.Filter]) = {
      val st = new EpochStoreMicroBatchStream(idvSchema, idvSchema, Nil,
        root, Array.empty, filters, Map.empty)
      st.planInputPartitions(EpochStreamOffset(-1L), EpochStreamOffset(3L))
        .collect { case fp: FilePartition => fp.files.length }.sum
    }
    assert(filesPlanned(Array.empty) == 4)
    assert(filesPlanned(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 1010L),
      org.apache.spark.sql.sources.LessThan("id", 1150L))) == 1,
      "the filtered tail must open only the matching epoch's file")
    // evolution × time travel: the generation before the ADD COLUMN
    // serves the old shape, the live read the merged one
    import spark.implicits._
    val evoRoot = tmp()
    EpochStore.write((0 until 10).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), evoRoot, 0L)
    val genBefore = EpochManifest.generations(spark, evoRoot).last
    EpochStore.write((10 until 20).map(i => (i.toLong, s"v$i", i * 2L))
      .toDF("id", "v", "extra"), evoRoot, 1L)
    assert(EpochStore.evolvedSchema(spark, evoRoot, genBefore)
      ._1.fieldNames.toSeq == Seq("id", "v"))
    assert(EpochStore.readEvolved(spark, evoRoot, genBefore).count() == 10)
    assert(EpochStore.evolvedSchema(spark, evoRoot)
      ._1.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(EpochStore.readEvolved(spark, evoRoot).count() == 20)
  }

  test("SQL TRUNCATE TABLE: one manifest commit empties the store, the " +
      "pre-truncate generation stays readable, tombstones clear too") {
    import spark.implicits._
    val wh = tmp()
    EpochStore.write((0 until 40).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), s"$wh/t", 0L)
    EpochStore.delete(spark, s"$wh/t", Seq(3L).toDF("id"), 1L)
    val genBefore = EpochManifest.generations(spark, s"$wh/t").last
    spark.conf.set("spark.sql.catalog.trunccat",
      classOf[graft.sources.EpochStoreCatalog].getName)
    spark.conf.set("spark.sql.catalog.trunccat.warehouse", wh)
    assert(spark.sql("SELECT COUNT(*) FROM trunccat.t").head.getLong(0) == 40)
    spark.sql("TRUNCATE TABLE trunccat.t")
    // live read: empty, schema still discoverable; pinned: pre-truncate
    assert(spark.sql("SELECT COUNT(*) FROM trunccat.t").head.getLong(0) == 0)
    assert(spark.sql(
      s"SELECT COUNT(*) FROM trunccat.t VERSION AS OF $genBefore")
      .head.getLong(0) == 40)
    assert(EpochManifest.entries(spark,
      EpochStore.deletesRoot(s"$wh/t")).isEmpty)
    // the store accepts new epochs after the truncate
    EpochStore.write(Seq((100L, "new")).toDF("id", "v"), s"$wh/t", 5L)
    assert(spark.sql("SELECT COUNT(*) FROM trunccat.t").head.getLong(0) == 1)
  }

  test("compactStore: the fold keeps evolution AND skipping alive — " +
      "merged schema recorded, numeric stats re-derived, re-sorted " +
      "ranges disjoint, answers unchanged") {
    import spark.implicits._
    val root = tmp()
    // evolved history: epoch 0 (id, v), epoch 1 adds score; both with
    // id stats, OVERLAPPING id ranges so only the re-sort restores
    // disjointness
    EpochStore.write((0 until 100 by 2).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").coalesce(1), root, 0L, statsColumns = Seq("id"))
    EpochStore.write((1 until 100 by 2).map(i => (i.toLong, s"v$i", i * 10L))
      .toDF("id", "v", "score").coalesce(1), root, 1L,
      statsColumns = Seq("id"))
    val before = EpochStore.readEvolved(spark, root)
      .collect().map(_.toSeq).toSet
    EpochStore.compactStore(spark, root, sortColumns = Seq("id"), parts = 4)
    // one fold entry; evolved read still resolves and equals pre-fold
    val es = EpochManifest.entries(spark, root)
    assert(es.size == 1 && es.head.minEpoch == 0L && es.head.epoch == 1L)
    assert(EpochStore.readEvolved(spark, root)
      .collect().map(_.toSeq).toSet == before)
    // stats were re-derived: 4 disjoint id ranges, and a range query
    // skips 3 of 4 fold files
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stats = graft.sources.EpochStoreStats.read(fs, root, es.head.dir)
    assert(stats.size == 4 && stats.values.forall(_.cols.contains("id")))
    val ranges = stats.values.map(f => (f.cols("id").min.get.asInstanceOf[Long],
      f.cols("id").max.get.asInstanceOf[Long])).toSeq.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"fold ranges overlap: $ranges")
    val (schema2, _) = EpochStore.evolvedSchema(spark, root)
    val probe = EpochStore.read(spark, root, schema2)
      .filter(col("id").between(ranges(2)._1, ranges(2)._1 + 10L))
    probe.collect()
    assert(scanOf(probe).skippedFilesAudit == (1, 4),
      s"post-fold skip: ${scanOf(probe).skippedFilesAudit}")
  }

  test("estimateStatistics reports the PRUNED size/rows; a dir-pruned " +
      "store auto-broadcasts under the plain threshold") {
    import spark.implicits._
    val root = tmp()
    (0 until 2).foreach { e =>
      EpochStore.write(
        (0 until 4000).map(i => (i.toLong + e * 4000, s"val$i", i % 8))
          .toDF("id", "v", "bucket"),
        root, e.toLong, partitionColumn = "bucket")
    }
    val schema3 = StructType(idvSchema :+ StructField("bucket", IntegerType))
    val full = scanOf(EpochStore.read(spark, root, schema3, "bucket"))
      .estimateStatistics()
    val pruned = scanOf(EpochStore.read(spark, root, schema3, "bucket")
        .filter(col("bucket") === 3))
      .estimateStatistics()
    assert(full.numRows.getAsLong == 8000 && pruned.numRows.getAsLong == 1000)
    assert(pruned.sizeInBytes.getAsLong * 4 < full.sizeInBytes.getAsLong,
      s"pruned ${pruned.sizeInBytes} vs full ${full.sizeInBytes}")
    // pick a threshold between pruned and full: the pruned side must
    // auto-broadcast with NO hint, the full side must not
    val thr = (pruned.sizeInBytes.getAsLong + full.sizeInBytes.getAsLong) / 2
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // a probe side far over the threshold, so only the dim can broadcast
      val probe = spark.range(500000L).toDF("id")
      def joined(dim: org.apache.spark.sql.DataFrame) =
        probe.join(dim, "id").queryExecution.executedPlan
      def hasBroadcast(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case b: org.apache.spark.sql.execution.joins
          .BroadcastHashJoinExec => b }.nonEmpty
      assert(hasBroadcast(joined(
        EpochStore.read(spark, root, schema3, "bucket")
          .filter(col("bucket") === 3))),
        "pruned store under the threshold must broadcast")
      assert(!hasBroadcast(joined(
        EpochStore.read(spark, root, schema3, "bucket"))),
        "full store over the threshold must not broadcast")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  // ------------------------------------------------------------ SQL DML

  /** Four epochs, one bucket each (epoch e = bucket e, ids e*10..e*10+9),
    * id stats recorded — the partition/epoch-aligned fixture where DML
    * can PROVE touch sets from metadata. */
  private def bucketEpochStore(root: String): Unit = {
    import spark.implicits._
    (0 until 4).foreach { b =>
      EpochStore.write(
        (0 until 10).map(i => ((b * 10 + i).toLong, s"v$b$i", b))
          .toDF("id", "v", "bucket"),
        root, b.toLong, partitionColumn = "bucket",
        statsColumns = Seq("id"))
    }
  }

  private def cat(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.EpochStoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
  }

  private def hfs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("SQL INSERT INTO auto-allocates the next epoch; INSERT OVERWRITE " +
      "replaces atomically with the old snapshot retained") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml1", wh)
    assert(spark.sql("SELECT COUNT(*) FROM dml1.t").head.getLong(0) == 40)
    spark.sql("INSERT INTO dml1.t VALUES (100, 'new', 1)")
    assert(EpochManifest.entries(spark, root).map(_.epoch).max == 4L,
      "INSERT must land as the next auto-allocated epoch")
    assert(spark.sql("SELECT COUNT(*) FROM dml1.t").head.getLong(0) == 41)
    // the inserted epoch has the partitioned layout: pruning still exact
    assert(spark.sql("SELECT COUNT(*) FROM dml1.t WHERE bucket = 1")
      .head.getLong(0) == 11)
    val genBefore = EpochManifest.generations(spark, root).last
    spark.sql("INSERT OVERWRITE dml1.t VALUES (7, 'only', 0)")
    assert(spark.sql("SELECT v FROM dml1.t").collect()
      .map(_.getString(0)).toSeq == Seq("only"))
    assert(spark.sql(
      s"SELECT COUNT(*) FROM dml1.t VERSION AS OF $genBefore")
      .head.getLong(0) == 41,
      "the pre-overwrite generation must stay readable")
  }

  test("INSERT OVERWRITE PARTITION replaces exactly that partition, " +
      "metadata-only on the aligned fixture") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml2", wh)
    val dirsBefore = EpochManifest.entries(spark, root)
      .map(e => e.epoch -> e.dir).toMap
    spark.sql("INSERT OVERWRITE dml2.t PARTITION (bucket = 2) " +
      "VALUES (200, 'b2')")
    val after = EpochManifest.entries(spark, root)
    // bucket 2's aligned epoch dropped from the manifest, nothing else
    // rewritten (same dirs), the new epoch appended — one commit
    assert(after.map(_.epoch).toSet == Set(0L, 1L, 3L, 4L))
    assert(after.filter(_.epoch != 4L)
      .forall(e => dirsBefore(e.epoch) == e.dir),
      "untouched partitions' entries must keep their dirs")
    assert(spark.sql("SELECT COUNT(*) FROM dml2.t").head.getLong(0) == 31)
    assert(spark.sql("SELECT v FROM dml2.t WHERE bucket = 2").collect()
      .map(_.getString(0)).toSeq == Seq("b2"))
  }

  test("dynamic partition overwrite replaces exactly the written " +
      "partitions") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml6", wh)
    val old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE dml6.t VALUES (300, 'dyn', 1)")
      assert(spark.sql("SELECT COUNT(*) FROM dml6.t").head.getLong(0) == 31)
      assert(spark.sql("SELECT v FROM dml6.t WHERE bucket = 1").collect()
        .map(_.getString(0)).toSeq == Seq("dyn"),
        "only the written partition may be replaced")
      assert(spark.sql(
        "SELECT COUNT(*) FROM dml6.t WHERE bucket IN (0, 2, 3)")
        .head.getLong(0) == 30, "unwritten partitions must be untouched")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
  }

  test("DELETE FROM: partition-aligned deletes are metadata-only; " +
      "stats-screened entries stay; mixed entries rewrite copy-on-write " +
      "keeping null-evaluating rows") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml3", wh)
    val dirsBefore = EpochManifest.entries(spark, root)
      .map(e => e.epoch -> e.dir).toMap
    spark.sql("DELETE FROM dml3.t WHERE bucket = 2")
    val after1 = EpochManifest.entries(spark, root)
    assert(after1.map(_.epoch).toSet == Set(0L, 1L, 3L))
    assert(after1.forall(e => dirsBefore(e.epoch) == e.dir),
      "a metadata-only delete must not rewrite surviving entries")
    assert(hfs(root).exists(new org.apache.hadoop.fs.Path(
      s"$root/${dirsBefore(2L)}")),
      "metadata-only: the dropped entry's data stays for the pinned snapshot")
    assert(spark.sql("SELECT COUNT(*) FROM dml3.t").head.getLong(0) == 30)
    // data-filter delete: id < 3 lives only in bucket 0's epoch — the id
    // stats prove buckets 1/3 untouched, so exactly ONE entry rewrites
    spark.sql("DELETE FROM dml3.t WHERE id < 3")
    val after2 = EpochManifest.entries(spark, root)
    assert(after2.map(_.epoch).toSet == Set(0L, 1L, 3L))
    assert(after2.filter(_.epoch != 0L)
      .forall(e => dirsBefore(e.epoch) == e.dir),
      "stats-clean entries must not rewrite")
    assert(after2.find(_.epoch == 0L).get.dir != dirsBefore(0L),
      "the mixed entry must rewrite copy-on-write")
    assert(spark.sql("SELECT COUNT(*) FROM dml3.t").head.getLong(0) == 27)
    assert(spark.sql("SELECT MIN(id) FROM dml3.t").head.getLong(0) == 3L)
    // SQL three-valued DELETE: a null-evaluating condition KEEPS the row
    EpochStore.write(Seq((Option(1L), "a"), (Option.empty[Long], "n"),
      (Option(5L), "b")).toDF("id", "v"), s"$wh/u", 0L)
    spark.sql("DELETE FROM dml3.u WHERE id < 3")
    assert(spark.sql("SELECT v FROM dml3.u").collect()
      .map(_.getString(0)).toSet == Set("n", "b"),
      "null-id row must survive the delete")
  }

  test("SQL UPDATE rewrites only the groups the condition can touch") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml4", wh)
    val dirsBefore = EpochManifest.entries(spark, root)
      .map(e => e.epoch -> e.dir).toMap
    val genBefore = EpochManifest.generations(spark, root).last
    spark.sql("UPDATE dml4.t SET v = 'upd' WHERE bucket = 2")
    val after = EpochManifest.entries(spark, root)
    assert(after.size == 4)
    assert(after.filter(_.epoch != 2L)
      .forall(e => dirsBefore(e.epoch) == e.dir),
      "entries the condition provably cannot touch must keep their dirs")
    val fold = after.find(_.epoch == 2L).get
    assert(fold.dir != dirsBefore(2L) && fold.dir.startsWith("f"),
      s"the touched group must land as a protected fold entry: ${fold.dir}")
    assert(spark.sql(
      "SELECT COUNT(*) FROM dml4.t WHERE bucket = 2 AND v = 'upd'")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM dml4.t WHERE v = 'upd'")
      .head.getLong(0) == 10, "no other row may change")
    assert(spark.sql("SELECT COUNT(*) FROM dml4.t").head.getLong(0) == 40)
    assert(EpochManifest.generations(spark, root).last == genBefore + 1,
      "the update must be ONE manifest commit")
  }

  test("runtime group filtering narrows an unprovable UPDATE to the " +
      "entries that actually contain matches") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml7", wh)
    val dirsBefore = EpochManifest.entries(spark, root)
      .map(e => e.epoch -> e.dir).toMap
    // no stats cover v, so the static entry classification keeps ALL
    // entries; only the runtime _epoch group filter can prove v25 lives
    // in bucket 2's epoch alone
    spark.sql("UPDATE dml7.t SET v = 'rt' WHERE v = 'v25'")
    val after = EpochManifest.entries(spark, root)
    assert(after.filter(_.epoch != 2L)
      .forall(e => dirsBefore(e.epoch) == e.dir),
      "entries without matches must keep their dirs (runtime narrowing)")
    assert(after.find(_.epoch == 2L).get.dir != dirsBefore(2L),
      "the matched entry must rewrite")
    assert(spark.sql("SELECT COUNT(*) FROM dml7.t").head.getLong(0) == 40)
    assert(spark.sql("SELECT COUNT(*) FROM dml7.t WHERE v = 'rt'")
      .head.getLong(0) == 1)
    assert(spark.sql("SELECT COUNT(*) FROM dml7.t WHERE v = 'v25'")
      .head.getLong(0) == 0)
  }

  test("ALTER TABLE ADD COLUMNS: one empty metadata epoch widens the " +
      "schema, old files serve null, INSERT fills it, the pre-ALTER " +
      "generation keeps the old shape") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml8", wh)
    val genBefore = EpochManifest.generations(spark, root).last
    spark.sql("ALTER TABLE dml8.t ADD COLUMNS (extra BIGINT)")
    assert(spark.table("dml8.t").schema.fieldNames.toSeq ==
      Seq("id", "v", "bucket", "extra"),
      "the widened schema must be catalog-visible immediately")
    assert(spark.sql("SELECT COUNT(*) FROM dml8.t WHERE extra IS NULL")
      .head.getLong(0) == 40, "pre-ALTER files must serve null")
    spark.sql("INSERT INTO dml8.t VALUES (500, 'n', 1, 77)")
    assert(spark.sql("SELECT extra FROM dml8.t WHERE id = 500")
      .head.getLong(0) == 77L)
    // metadata-only: no data rewritten — the ALTER epoch dir is empty
    assert(spark.sql(
      s"SELECT COUNT(*) FROM dml8.t VERSION AS OF $genBefore")
      .head.getLong(0) == 40)
    // non-nullable and nested adds refuse
    intercept[Exception](
      spark.sql("ALTER TABLE dml8.t ADD COLUMNS (must NOT NULL)"))
    intercept[Exception](
      spark.sql("ALTER TABLE dml8.t ALTER COLUMN v TYPE INT"))
  }

  test("SQL CALL procedures: snapshots lists generations, compact folds " +
      "with answers unchanged, gc retains two manifests, purge_deletes " +
      "applies tombstones physically") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dmlp", wh)
    val snaps = spark.sql("CALL dmlp.system.snapshots('t')").collect()
    assert(snaps.length == 4 && snaps.last.getLong(3) == 3L,
      s"4 generations with max_epoch 3 expected: ${snaps.toSeq}")
    // committed_at: nondecreasing real instants — what TIMESTAMP AS OF
    // resolves against
    val instants = snaps.map(_.getTimestamp(1).getTime)
    assert(instants.forall(_ > 0) &&
      instants.zip(instants.tail).forall { case (a, b) => a <= b },
      s"commit instants must be set and ordered: ${instants.toSeq}")
    val c = spark.sql(
      "CALL dmlp.system.compact(table => 't', sort_columns => 'id', " +
        "parts => 2)").collect()
    assert(c.head.getInt(0) == 4 && c.head.getInt(1) == 1,
      s"compact must fold 4 entries into 1: ${c.toSeq}")
    assert(spark.sql("SELECT COUNT(*) FROM dmlp.t").head.getLong(0) == 40,
      "compaction must not change answers")
    val g = spark.sql("CALL dmlp.system.gc('t')").collect()
    assert(g.head.getInt(0) == 2, "gc retains exactly two manifests")
    EpochStore.delete(spark, root, Seq(5L, 15L).toDF("id"), 10L)
    val p = spark.sql(
      "CALL dmlp.system.purge_deletes('t', 'id')").collect()
    assert(p.head.getInt(0) == 1)
    assert(spark.sql("SELECT COUNT(*) FROM dmlp.t").head.getLong(0) == 38,
      "purged keys must be physically gone")
    assert(EpochManifest.entries(spark,
      EpochStore.deletesRoot(root)).isEmpty, "tombstone store must clear")
  }

  test("DELETE composes with _epoch and evolution: epoch-aligned deletes " +
      "are metadata-only; a condition on an ALTERed column binds null " +
      "on pre-ALTER entries") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml10", wh)
    val dirsBefore = EpochManifest.entries(spark, root)
      .map(e => e.epoch -> e.dir).toMap
    spark.sql("DELETE FROM dml10.t WHERE _epoch = 1")
    val after = EpochManifest.entries(spark, root)
    assert(after.map(_.epoch).toSet == Set(0L, 2L, 3L),
      "the epoch-aligned delete must drop exactly that entry")
    assert(after.forall(e => dirsBefore(e.epoch) == e.dir),
      "other entries must keep their dirs (metadata-only)")
    assert(spark.sql("SELECT COUNT(*) FROM dml10.t").head.getLong(0) == 30)
    // evolution: deleting on a column pre-ALTER entries lack must bind
    // null there (SQL three-valued: their rows all survive), not crash
    spark.sql("ALTER TABLE dml10.t ADD COLUMNS (extra BIGINT)")
    spark.sql("INSERT INTO dml10.t VALUES (600, 'x', 0, 7), (601, 'y', 0, 8)")
    spark.sql("DELETE FROM dml10.t WHERE extra = 7")
    assert(spark.sql("SELECT COUNT(*) FROM dml10.t").head.getLong(0) == 31)
    assert(spark.sql("SELECT COUNT(*) FROM dml10.t WHERE extra = 8")
      .head.getLong(0) == 1, "the non-matching evolved row must survive")
  }

  test("write-time CHECK constraints: violating INSERT/UPDATE never " +
      "publish, nulls pass, typos refuse at declaration, drop re-allows") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml11", wh)
    spark.sql(
      "CALL dml11.system.add_constraint('t', 'id_pos', 'id >= 0')").collect()
    spark.sql(
      "CALL dml11.system.add_constraint('t', 'v_min', 'length(v) >= 2')")
      .collect()
    // a typo'd expression refuses at declaration, not at the first write
    intercept[Exception](spark.sql(
      "CALL dml11.system.add_constraint('t', 'typo', 'no_such_col > 0')")
      .collect())
    val genBefore = EpochManifest.generations(spark, root).last
    // valid insert passes
    spark.sql("INSERT INTO dml11.t VALUES (900, 'ok', 1)")
    assert(spark.sql("SELECT COUNT(*) FROM dml11.t").head.getLong(0) == 41)
    // violating insert fails and publishes NOTHING
    val err = intercept[Exception](
      spark.sql("INSERT INTO dml11.t VALUES (-5, 'bad', 1)"))
    assert(err.getMessage.contains("id_pos") ||
      Option(err.getCause).exists(_.getMessage.contains("id_pos")),
      s"violation must name the constraint: ${err.getMessage}")
    assert(spark.sql("SELECT COUNT(*) FROM dml11.t").head.getLong(0) == 41,
      "the violating epoch must not be visible")
    assert(EpochManifest.generations(spark, root).last == genBefore + 1,
      "only the valid insert may have committed")
    // SQL CHECK: a null-evaluating constraint does not violate
    spark.sql("INSERT INTO dml11.t VALUES (901, NULL, 1)")
    assert(spark.sql("SELECT COUNT(*) FROM dml11.t").head.getLong(0) == 42)
    // an UPDATE whose rewritten rows violate fails with pre-state intact
    intercept[Exception](
      spark.sql("UPDATE dml11.t SET id = -1 WHERE bucket = 2"))
    assert(spark.sql(
      "SELECT COUNT(*) FROM dml11.t WHERE bucket = 2 AND id >= 0")
      .head.getLong(0) == 10, "the failed UPDATE must change nothing")
    // drop re-allows
    spark.sql("CALL dml11.system.drop_constraint('t', 'id_pos')").collect()
    spark.sql("INSERT INTO dml11.t VALUES (-5, 'now_ok', 1)")
    assert(spark.sql("SELECT COUNT(*) FROM dml11.t").head.getLong(0) == 43)
    val left = spark.sql("CALL dml11.system.constraints('t')").collect()
    assert(left.length == 1 && left.head.getString(0) == "v_min")
  }

  test("z-order compaction: CALL compact(zorder_columns) re-clusters " +
      "the fold so a 2-D range probe prunes files exactly") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    val n = 64
    val pts = (for { x <- 0 until n; y <- 0 until n }
      yield (x.toLong, y.toLong, s"p$x-$y")).toDF("x", "y", "v")
    EpochStore.write(pts.filter($"x" % 2 === 0), root, 0L,
      statsColumns = Seq("x", "y"))
    EpochStore.write(pts.filter($"x" % 2 === 1), root, 1L,
      statsColumns = Seq("x", "y"))
    cat("dml13", wh)
    spark.sql("CALL dml13.system.compact(table => 't', " +
      "zorder_columns => 'x,y', parts => 8)").collect()
    val sch = StructType(Seq(StructField("x", LongType),
      StructField("y", LongType), StructField("v", StringType)))
    val q = EpochStore.read(spark, root, sch)
      .filter($"x" >= 8L && $"x" < 16L && $"y" >= 8L && $"y" < 16L)
    assert(q.count() == 64, "the probe square holds 8x8 points")
    val (kept, listed) = scanOf(q).skippedFilesAudit
    assert(listed == 8 && kept < listed,
      s"the z-ordered fold must prune 2-D probes: kept $kept of $listed")
    // exclusive layouts refuse
    intercept[Exception](spark.sql("CALL dml13.system.compact(" +
      "table => 't', sort_columns => 'x', zorder_columns => 'x,y')")
      .collect())
  }

  test("DESCRIBE surfaces the store's control plane: generation, " +
      "epochs, tags, constraints as table properties") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml12", wh)
    graft.core.EpochManifest.tag(spark, root, "rel-1")
    graft.sources.EpochStoreConstraints.add(spark, root, "id_pos", "id >= 0")
    val props = spark.sql("DESCRIBE TABLE EXTENDED dml12.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val tp = props.getOrElse("Table Properties", "")
    assert(tp.contains("generation=4") && tp.contains("epochs=4") &&
      tp.contains("maxEpoch=3") && tp.contains("rel-1=4") &&
      tp.contains("constraint.id_pos=id >= 0") &&
      tp.contains("partitionColumn=bucket"),
      s"control-plane properties missing: $tp")
  }

  test("CHECK constraints gate the STREAMING sink: a violating " +
      "micro-batch fails the query with its epoch unpublished") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp() + "/store"
    val cp = tmp() + "/cp"
    // seed the store + declare the gate before the stream starts
    EpochStore.write(Seq((1L, "a", 0)).toDF("id", "v", "bucket"), root, 100L,
      partitionColumn = "bucket")
    graft.sources.EpochStoreConstraints.add(spark, root, "id_pos", "id >= 0")
    val in = MemoryStream[(Long, String, Int)]
    val q = in.toDF().toDF("id", "v", "bucket")
      .writeStream.format("epochstore")
      .option("path", root).option("partitionColumn", "bucket")
      .option("checkpointLocation", cp)
      .outputMode("append").start()
    try {
      in.addData((2L, "ok", 1))
      q.processAllAvailable()
      assert(EpochStore.read(spark, root, schema, "bucket").count() == 2)
      in.addData((-9L, "bad", 1))
      val err = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { in.addData(); q.processAllAvailable() }
      assert(err.getMessage.contains("id_pos") ||
        Option(err.getCause).exists(c =>
          String.valueOf(c.getMessage).contains("id_pos")),
        s"the failure must name the constraint: ${err.getMessage}")
    } finally q.stop()
    // the violating batch's epoch never published
    assert(EpochStore.read(spark, root, schema, "bucket").count() == 2,
      "the violating micro-batch must not be visible")
  }

  test("named snapshot tags: VERSION AS OF 'name' resolves, gc keeps " +
      "tagged generations alive through compactions, untag releases") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml9", wh)
    spark.sql("CALL dml9.system.tag('t', 'v1')").collect()
    // mutate well past the two-manifest window: overwrite, compact, gc
    spark.sql("INSERT OVERWRITE dml9.t VALUES (1, 'new', 0)")
    spark.sql("INSERT INTO dml9.t VALUES (2, 'new2', 0)")
    spark.sql("CALL dml9.system.compact('t')").collect()
    spark.sql("CALL dml9.system.gc('t')").collect()
    spark.sql("INSERT INTO dml9.t VALUES (3, 'new3', 0)")
    spark.sql("CALL dml9.system.gc('t')").collect()
    assert(spark.sql("SELECT COUNT(*) FROM dml9.t").head.getLong(0) == 3)
    assert(spark.sql(
      "SELECT COUNT(*) FROM dml9.t VERSION AS OF 'v1'").head.getLong(0) == 40,
      "the tagged generation must survive overwrite+compact+gc×2")
    val ts = spark.sql("CALL dml9.system.tags('t')").collect()
    assert(ts.length == 1 && ts.head.getString(0) == "v1")
    // unknown tag fails with the available names
    val err = intercept[Exception](
      spark.sql("SELECT * FROM dml9.t VERSION AS OF 'nope'").collect())
    assert(err.getMessage.contains("v1"), err.getMessage)
    // untag → the generation is reclaimable; the next gc drops it
    spark.sql("CALL dml9.system.untag('t', 'v1')").collect()
    spark.sql("CALL dml9.system.gc('t')").collect()
    intercept[Exception](
      spark.sql("SELECT COUNT(*) FROM dml9.t VERSION AS OF 'v1'").collect())
    assert(spark.sql("SELECT COUNT(*) FROM dml9.t").head.getLong(0) == 3,
      "the live table must be untouched by tag lifecycle")
  }

  test("a row-level rewrite never folds ACROSS a skipped entry: the " +
      "kept set closes over its epoch span, so _epoch ordering (and " +
      "latest-wins reads) survive the DML") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml14", wh)
    val dirsBefore = EpochManifest.entries(spark, root)
      .map(e => e.epoch -> e.dir).toMap
    // touches epochs 0 and 2 — epoch 1 sits INSIDE the fold span and
    // must be carried along (span closure), never outranked by it
    spark.sql("UPDATE dml14.t SET v = 'gap' WHERE bucket IN (0, 2)")
    val after = EpochManifest.entries(spark, root)
    assert(after.map(_.epoch).toSet == Set(2L, 3L),
      s"epochs 0..2 must fold together: ${after.map(e => e.epoch -> e.dir)}")
    val fold = after.find(_.epoch == 2L).get
    assert(fold.minEpoch == 0L && fold.dir.startsWith("f"),
      s"the fold must cover the whole span: $fold")
    assert(after.find(_.epoch == 3L).get.dir == dirsBefore(3L),
      "the entry outside the span must stay skipped")
    assert(spark.sql("SELECT COUNT(*) FROM dml14.t WHERE v = 'gap'")
      .head.getLong(0) == 20)
    assert(spark.sql(
      "SELECT COUNT(*) FROM dml14.t WHERE bucket = 1 AND v LIKE 'v1%'")
      .head.getLong(0) == 10, "the carried-over entry's rows must survive")
    assert(spark.sql("SELECT COUNT(*) FROM dml14.t").head.getLong(0) == 40)
    // the carried rows' _epoch now equals the fold's — but no SKIPPED
    // entry holds a newer version of any carried key, which is exactly
    // what the closure guarantees
    val latest = EpochStore.readLatest(spark, root,
      StructType(Seq(StructField("id", LongType),
        StructField("v", StringType), StructField("bucket", IntegerType))),
      Seq("id"), partitionColumn = "bucket")
    assert(latest.count() == 40)
    assert(latest.filter(col("id") === 15L).head.getAs[String]("v") == "v15",
      "latest-wins must serve the untouched entry's value")
  }

  test("SQL MERGE INTO: matched rows update, unmatched source rows " +
      "insert, one atomic generation") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml5", wh)
    val genBefore = EpochManifest.generations(spark, root).last
    Seq((5L, "m5", 0), (100L, "m100", 9)).toDF("id", "v", "bucket")
      .createOrReplaceTempView("dml5src")
    spark.sql(
      """MERGE INTO dml5.t t USING dml5src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v, bucket)
        |  VALUES (s.id, s.v, s.bucket)""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM dml5.t").head.getLong(0) == 41)
    assert(spark.sql("SELECT v FROM dml5.t WHERE id = 5").head
      .getString(0) == "m5")
    assert(spark.sql("SELECT bucket FROM dml5.t WHERE id = 100").head
      .getInt(0) == 9, "the inserted row must land in its partition dir")
    assert(spark.sql("SELECT COUNT(*) FROM dml5.t WHERE v LIKE 'v%'")
      .head.getLong(0) == 39, "unmatched target rows must carry over")
    assert(EpochManifest.generations(spark, root).last == genBefore + 1,
      "the merge must be ONE manifest commit")
  }

  // ---- r13 ADVICE closures ----

  test("null partition dirs prune exactly under non-null-safe comparisons " +
      "even with constraint propagation OFF (no inferred IsNotNull mask), " +
      "and NOT composes as Kleene NULL") {
    import spark.implicits._
    val root = tmp()
    EpochStore.write(Seq(
      (0L, "a", java.lang.Integer.valueOf(1)),
      (1L, "b", java.lang.Integer.valueOf(2)),
      (2L, "c", null.asInstanceOf[java.lang.Integer]))
      .toDF("id", "v", "bucket"), root, 0L, partitionColumn = "bucket")
    def rd() = EpochStore.read(spark, root, schema, "bucket")
    val key = "spark.sql.constraintPropagation.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      // col = v over the __HIVE_DEFAULT_PARTITION__ dir is SQL NULL for
      // every row — the dir must prune (the filter is fully handled, so
      // a kept dir's rows would be RETURNED unfiltered)
      val eq = rd().filter(col("bucket") === 1)
      assert(eq.collect().map(_.getLong(0)).toSeq == Seq(0L))
      assert(scanOf(eq).selectedPartitionDirs == (1, 3))
      val gt = rd().filter(col("bucket") > 0)
      assert(gt.count() == 2 && scanOf(gt).selectedPartitionDirs == (2, 3))
      // NOT(col = 1): NULL stays NULL under Not (pruned), 2 passes
      val ne = rd().filter(!(col("bucket") === 1))
      assert(ne.collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(scanOf(ne).selectedPartitionDirs == (1, 3))
      // IN with a null probe: no-match dirs are NULL, matches still hit
      val in = rd().filter(col("bucket").isin(1, null))
      assert(in.collect().map(_.getLong(0)).toSeq == Seq(0L))
      // IS NULL keeps exactly the default dir
      val nl = rd().filter(col("bucket").isNull)
      assert(nl.collect().map(_.getLong(0)).toSeq == Seq(2L))
      assert(scanOf(nl).selectedPartitionDirs == (1, 3))
    } finally spark.conf.set(key, saved)
  }

  test("string stats compare in UTF-8 binary order: a supplementary-char " +
      "file survives range and prefix probes UTF-16 ordering would skip") {
    import spark.implicits._
    val root = tmp()
    // U+1F600's UTF-16 head (0xD83D) sorts BELOW U+E000, but its UTF-8
    // bytes (F0 9F 98 80) sort ABOVE U+E000's (EE 80 80) — the two
    // orders disagree exactly where the old String.compareTo probe
    // wrongly proved "max < bound" and dropped the file
    val emoji = "😀"
    EpochStore.write(Seq((0L, emoji)).toDF("id", "v").coalesce(1), root, 0L,
      statsColumns = Seq("v"))
    EpochStore.write(Seq((1L, "ascii")).toDF("id", "v").coalesce(1), root, 1L,
      statsColumns = Seq("v"))
    def rd() = EpochStore.read(spark, root, idvSchema)
    val gt = rd().filter(col("v") > "\uE000")
    assert(gt.collect().map(_.getLong(0)).toSeq == Seq(0L),
      "the emoji row must survive the stats skip")
    assert(scanOf(gt).skippedFilesAudit == (1, 2),
      "the ascii file is still provably below the bound")
    val pre = rd().filter(col("v").startsWith(emoji))
    assert(pre.count() == 1 && scanOf(pre).skippedFilesAudit == (1, 2))
    // compaction now RE-DERIVES string stats (UTF-8 order on both
    // sides) instead of dropping them
    EpochStore.compactStore(spark, root)
    val gt2 = rd().filter(col("v") > "\uE000")
    assert(gt2.collect().map(_.getLong(0)).toSeq == Seq(0L))
    val audit2 = scanOf(gt2).skippedFilesAudit
    assert(audit2._1 < audit2._2,
      s"post-compaction string stats must still skip: $audit2")
  }

  test("write-audit-publish branches: invisible staging, CHECK-gated " +
      "audit, atomic fast-forward, stale-base refusal, gc protection") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root) // epochs 0-3, generations 1-4, 40 rows
    cat("wap1", wh)
    val base = spark.sql("CALL wap1.system.create_branch('t', 'audit')")
      .head.getLong(0)
    assert(base == 4L)
    // a second create refuses (exclusive)
    intercept[Exception](
      spark.sql("CALL wap1.system.create_branch('t', 'audit')").collect())
    // the branch write: invisible to main, visible on the branch
    EpochStore.write((100 until 110).map(i => (i.toLong, s"b$i", 9))
      .toDF("id", "v", "bucket"), root, 100L,
      partitionColumn = "bucket", branch = "audit")
    assert(spark.sql("SELECT COUNT(*) FROM wap1.t").head.getLong(0) == 40,
      "main readers must not see branch epochs")
    assert(spark.sql("SELECT COUNT(*) FROM wap1.t VERSION AS OF 'audit'")
      .head.getLong(0) == 50, "the audit read sees base + branch epochs")
    assert(EpochManifest.generations(spark, root).last == 4L,
      "no main generation was published by the branch write")
    // write-time CHECK constraints gate BRANCH commits too
    spark.sql("CALL wap1.system.add_constraint('t', 'id_pos', 'id >= 0')")
      .collect()
    intercept[Exception] {
      EpochStore.write(Seq((-1L, "bad", 9)).toDF("id", "v", "bucket"),
        root, 101L, partitionColumn = "bucket", branch = "audit")
    }
    assert(spark.sql("SELECT COUNT(*) FROM wap1.t VERSION AS OF 'audit'")
      .head.getLong(0) == 50, "the violating epoch must not land")
    // gc keeps LIVE branch dirs even when aged (retention anchor)
    val fs = hfs(root)
    val branchDir = EpochManifest.branchEntries(spark, root, "audit")
      .find(_.epoch == 100L).get.dir
    val old = System.currentTimeMillis() -
      EpochManifest.OrphanReclaimAfterMs - 60000L
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/$branchDir"), old, old)
    EpochManifest.gc(spark, root)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$branchDir")),
      "gc must keep a live branch's dirs")
    // publish: one atomic main fast-forward; the branch ref drops
    val pub = spark.sql("CALL wap1.system.publish_branch('t', 'audit')")
      .head.getLong(0)
    assert(pub == 5L)
    assert(spark.sql("SELECT COUNT(*) FROM wap1.t").head.getLong(0) == 50)
    assert(spark.sql("SELECT COUNT(*) FROM wap1.t WHERE bucket = 9")
      .head.getLong(0) == 10)
    assert(spark.sql("CALL wap1.system.branches('t')").collect().isEmpty)
    // stale base: main advances after branching => publish refuses
    spark.sql("CALL wap1.system.create_branch('t', 'late')").collect()
    EpochStore.write(Seq((200L, "m", 0)).toDF("id", "v", "bucket"),
      root, 200L, partitionColumn = "bucket")
    EpochStore.write(Seq((201L, "b", 0)).toDF("id", "v", "bucket"),
      root, 201L, partitionColumn = "bucket", branch = "late")
    val e = intercept[Exception](
      spark.sql("CALL wap1.system.publish_branch('t', 'late')").collect())
    assert(e.getMessage.contains("re-branch"), e.getMessage)
    // abandon: drop, then an aged gc reclaims the never-published dir
    val lateDir = EpochManifest.branchEntries(spark, root, "late")
      .find(_.epoch == 201L).get.dir
    spark.sql("CALL wap1.system.drop_branch('t', 'late')").collect()
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/$lateDir"), old, old)
    EpochManifest.gc(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$lateDir")),
      "a dropped branch's dirs must age out")
    assert(spark.sql("SELECT COUNT(*) FROM wap1.t").head.getLong(0) == 51,
      "main keeps its own committed epochs through the branch lifecycle")
  }

  test("SQL CALL expire_snapshots: retention policy drives through the " +
      "procedure catalog, tag-aware") {
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root) // 4 epochs => generations 1..4
    cat("exp1", wh)
    spark.sql("CALL exp1.system.tag('t', 'pin', 1)").collect()
    val r = spark.sql("CALL exp1.system.expire_snapshots('t')").head
    assert(r.getInt(0) == 1 && r.getInt(1) == 3,
      s"gen 2 expires; 1 (tagged) + 3 + 4 retained: $r")
    assert(EpochManifest.generations(spark, root) == Seq(1L, 3L, 4L))
    val e = intercept[Exception](
      spark.sql("SELECT * FROM exp1.t VERSION AS OF 2").collect())
    assert(e.getMessage.contains("not retained"), e.getMessage)
    assert(spark.sql("SELECT COUNT(*) FROM exp1.t VERSION AS OF 'pin'")
      .head.getLong(0) == 10, "the tagged snapshot must stay answerable")
  }

  // ---- hash-bucket layout (r13) ----

  test("bucket layout: equality/IN probes open only the probed buckets; " +
      "residual filters still run; nulls and bucketless entries stay safe") {
    import spark.implicits._
    val root = tmp()
    val rows: Seq[(java.lang.Long, String)] =
      (0 until 400).map(i => (java.lang.Long.valueOf(i.toLong), s"v$i")) :+
        ((null.asInstanceOf[java.lang.Long], "vnull"))
    EpochStore.writeBucketed(rows.toDF("id", "v"), root, 0L,
      bucketColumn = "id", bucketCount = 8)
    def rd() = EpochStore.readBucketed(spark, root, idvSchema, "id", 8)
    assert(rd().count() == 401)
    // a point probe opens ONE bucket dir; the residual filter still
    // runs (many ids share the bucket)
    val eq = rd().filter(col("id") === 37L)
    assert(eq.collect().map(_.getString(1)).toSeq == Seq("v37"))
    assert(scanOf(eq).selectedPartitionDirs == (1, 8),
      s"probe must open one bucket: ${scanOf(eq).selectedPartitionDirs}")
    // IN opens at most |probes| buckets
    val in = rd().filter(col("id").isin(1L, 2L, 3L))
    assert(in.count() == 3)
    assert(scanOf(in).selectedPartitionDirs._1 <= 3)
    // null-matching probes never prune wrongly
    assert(rd().filter(col("id").isNull).count() == 1)
    assert(rd().filter(col("id") === 999999L).count() == 0)
    // an UNBUCKETED entry (e.g. a DML rewrite) is always kept whole
    import graft.core.EpochManifest
    EpochManifest.append(Seq((9000L, "plain")).toDF("id", "v"), root, 1L)
    val mixed = rd().filter(col("id") === 9000L)
    assert(mixed.collect().map(_.getString(1)).toSeq == Seq("plain"),
      "a bucketless entry's rows must always be served")
  }

  test("bucket layout: two same-bucketed stores join storage-partitioned " +
      "(zero shuffle) with v2 bucketing on; DPP narrows the bucket listing") {
    import spark.implicits._
    val wh = tmp()
    cat("bkspj", wh)
    val left = s"$wh/l"
    val right = s"$wh/r"
    EpochStore.writeBucketed((0 until 400).map(i => (i.toLong, s"L$i"))
      .toDF("id", "v"), left, 0L, bucketColumn = "id", bucketCount = 8)
    EpochStore.writeBucketed((0 until 400).map(i => (i.toLong, s"R$i"))
      .toDF("id", "v"), right, 0L, bucketColumn = "id", bucketCount = 8)
    // SPJ needs the FUNCTION-CATALOG route: the table's bucket(n, col)
    // partitioning resolves through EpochStoreBucketFunction, so read
    // via the catalog, not format().load()
    def l() = spark.table("bkspj.l")
    def r() = spark.table("bkspj.r").withColumnRenamed("v", "w")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = l().join(r(), "id")
      assert(j.count() == 400)
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val exchanges = nodes(j.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"same-bucket join must be storage-partitioned (no shuffle):\n" +
          j.queryExecution.executedPlan)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // DPP: a selective parquet dim joined on the bucket column narrows
    // the bucket listing at runtime
    val dimDir = tmp()
    Seq((5L, "keep"), (6L, "drop")).toDF("id", "tag").write
      .mode("overwrite").parquet(dimDir)
    val joined = EpochStore.readBucketed(spark, left, idvSchema, "id", 8)
      .join(spark.read.parquet(dimDir).filter(col("tag") === "keep"), "id")
    assert(joined.collect().length == 1)
    def nodes2(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes2(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: nodes2(q.plan)
      case other => other +: other.children.flatMap(nodes2)
    }
    val scans = nodes2(joined.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collect { case s: EpochStoreScan => s }
    assert(scans.exists(_.runtimeFiltered),
      "the bucket scan must receive a runtime (DPP) filter")
    assert(scans.find(_.runtimeFiltered).get.selectedPartitionDirs._1 == 1,
      "DPP must narrow the listing to the probed bucket")
  }

  test("bucket layout through SQL: PARTITIONED BY (bucket(8, id)) CTAS, " +
      "discovery, probe pruning") {
    import spark.implicits._
    val wh = tmp()
    cat("bk1", wh)
    (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .createOrReplaceTempView("bk1src")
    spark.sql("CREATE TABLE bk1.t PARTITIONED BY (bucket(8, id)) AS " +
      "SELECT id, v FROM bk1src")
    assert(spark.sql("SELECT COUNT(*) FROM bk1.t").head.getLong(0) == 200)
    // discovery serves the recorded bucket spec: probes prune
    val probe = spark.sql("SELECT v FROM bk1.t WHERE id = 77")
    assert(probe.collect().map(_.getString(0)).toSeq == Seq("v77"))
    assert(scanOf(probe).selectedPartitionDirs == (1, 8),
      s"SQL probe pruning: ${scanOf(probe).selectedPartitionDirs}")
    // the dir layout is the bucket layout
    val entry = EpochManifest.entries(spark, s"$wh/t").head.dir
    val dirs = hfs(s"$wh/t")
      .listStatus(new org.apache.hadoop.fs.Path(s"$wh/t/$entry"))
      .map(_.getPath.getName).filter(_.startsWith("id_bucket=")).toSeq
    assert(dirs.size == 8, s"bucket dirs: $dirs")
    // INSERT keeps bucketing (options carried by the table)
    spark.sql("INSERT INTO bk1.t VALUES (9000, 'nine')")
    val p2 = spark.sql("SELECT v FROM bk1.t WHERE id = 9000")
    assert(p2.collect().map(_.getString(0)).toSeq == Seq("nine"))
    assert(scanOf(p2).selectedPartitionDirs._1 <= 2,
      "the probe must open at most one bucket per entry")
  }

  test("CALL partitions: metadata-only SHOW PARTITIONS across identity, " +
      "bucket, and unpartitioned layouts") {
    import spark.implicits._
    val wh = tmp()
    bucketEpochStore(s"$wh/ident") // 4 epochs × bucket=K identity dirs
    EpochStore.writeBucketed((0 until 40).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), s"$wh/hashed", 0L,
      bucketColumn = "id", bucketCount = 4)
    cat("parts1", wh)
    val ident = spark.sql("CALL parts1.system.partitions('ident')").collect()
    assert(ident.length == 4, s"one leaf dir per epoch's bucket: ${ident.length}")
    assert(ident.forall(_.getLong(3) == 10L),
      "recorded row counts from the stats sidecars")
    val hashed = spark.sql("CALL parts1.system.partitions('hashed')").collect()
    assert(hashed.length == 4 &&
      hashed.forall(_.getString(0).startsWith("id_bucket=")),
      s"bucket dirs listed: ${hashed.map(_.getString(0)).toSeq}")
    assert(hashed.map(_.getLong(3)).sum == 40L)
  }

  // ---- r13 self-review closures ----

  test("legacy UTF-16-ordered string sidecars ('s') contribute no order " +
      "proofs; compaction re-derives them as 'S' and skipping resumes") {
    import spark.implicits._
    val root = tmp()
    // replay a PRE-r13 sidecar: bounds recorded under UTF-16
    // String.compareTo order, kind 's'
    EpochStore.write(Seq((0L, "😀"), (1L, "x")).toDF("id", "v")
      .coalesce(1), root, 0L)
    // a second epoch so the later compaction actually folds (it no-ops
    // on a single entry)
    EpochStore.write(Seq((2L, "zz")).toDF("id", "v").coalesce(1), root, 1L,
      statsColumns = Seq("v"))
    val fs = hfs(root)
    val entry = EpochManifest.entries(spark, root)
      .find(_.epoch == 0L).get.dir
    val rel = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$entry"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).head
    graft.sources.EpochStoreStats.write(fs, root, entry, Seq(rel ->
      graft.sources.EpochStoreStats.FileStats(2L, Map("v" ->
        graft.sources.EpochStoreStats.ColStats('s', 0L,
          Some("a"), Some("x")))))) // legacy bounds [a, x]
    def rd() = EpochStore.read(spark, root, idvSchema)
    // under the UTF-8 probe the legacy bound would wrongly prove
    // "max < bound" and drop the emoji row — the kind gate keeps the
    // file; the 'S' epoch ("zz" < bound under BOTH orders) still skips
    val gt = rd().filter(col("v") > "\uF000")
    assert(gt.collect().map(_.getLong(0)).toSeq == Seq(0L),
      "the emoji row must survive despite the legacy sidecar")
    assert(scanOf(gt).skippedFilesAudit == (1, 2),
      s"legacy file kept, 'S' file skipped: ${scanOf(gt).skippedFilesAudit}")
    // null-count proofs from the legacy sidecar still work
    val nn = rd().filter(col("v").isNull)
    assert(nn.count() == 0 && scanOf(nn).skippedFilesAudit == (0, 2),
      "legacy null counts still prove IS NULL impossible")
    // compaction re-derives the bounds under UTF-8 ('S') — order
    // skipping resumes, exactly
    EpochStore.compactStore(spark, root)
    val entry2 = EpochManifest.entries(spark, root).head.dir
    val st2 = graft.sources.EpochStoreStats.read(fs, root, entry2)
    assert(st2.nonEmpty && st2.values.forall(_.cols("v").kind == 'S'),
      s"re-derived kind: ${st2.values.map(_.cols("v").kind)}")
    val gt2 = rd().filter(col("v") > "\uF000")
    assert(gt2.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("two racing auto-epoch INSERTs both land on distinct epochs " +
      "(allocation inside the CAS rebase — no silent replacement)") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root) // epochs 0-3
    cat("auto1", wh)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until 2).map { i =>
      new Thread(() => {
        barrier.await()
        try spark.sql(
          s"INSERT INTO auto1.t VALUES (${900 + i}, 'r$i', $i)").collect()
        catch { case e: Throwable => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racing INSERTs must both succeed: ${errs.peek()}")
    assert(spark.sql("SELECT COUNT(*) FROM auto1.t WHERE id >= 900")
      .head.getLong(0) == 2, "both inserted rows must be visible")
    val epochs = EpochManifest.entries(spark, root).map(_.epoch).sorted
    assert(epochs == Seq(0L, 1L, 2L, 3L, 4L, 5L),
      s"distinct fresh epochs expected, got $epochs")
  }

  test("purgeDeletes pins the tombstone sub-store: a tombstone that " +
      "lands after the pin refuses instead of being silently wiped") {
    import spark.implicits._
    val root = tmp()
    val s2 = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    EpochStore.write((0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      root, 0L)
    EpochStore.delete(spark, root, Seq(Tuple1(1L)).toDF("id"), epoch = 1L)
    EpochStore.delete(spark, root, Seq(Tuple1(2L)).toDF("id"), epoch = 2L)
    val delRoot = EpochStore.deletesRoot(root)
    // the pin is commitIfUnchanged on the sub-store: replay the race by
    // checking a STALE base refuses exactly (purge's internal shape)
    val staleBase = EpochManifest.entries(spark, delRoot)
    EpochStore.delete(spark, root, Seq(Tuple1(3L)).toDF("id"), epoch = 3L)
    val e = intercept[IllegalArgumentException] {
      EpochManifest.commitIfUnchanged(spark, delRoot, staleBase, Seq.empty)
    }
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    // a clean purge applies EVERY tombstone it pinned and clears
    EpochStore.purgeDeletes(spark, root, s2, Seq("id"))
    val left = EpochStore.read(spark, root, s2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(left == (0L until 10L).toSet -- Set(1L, 2L, 3L),
      s"all pinned tombstones must fold: $left")
    assert(EpochManifest.entries(spark, delRoot).isEmpty,
      "the delete sub-store must be cleared after a clean purge")
  }

  // ---- multi-column (composite-key) partitioning (r13) ----

  private val dlSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("day", IntegerType), StructField("lang", StringType)))

  /** One epoch, 3 days × 3 langs, 9 rows per (day, lang) leaf. */
  private def multiPartStore(): String = {
    import spark.implicits._
    val root = tmp()
    val rows = for {
      d <- 0 until 3; l <- Seq("de", "en", "fr"); i <- 0 until 9
    } yield ((d * 100 + i).toLong, s"v$d$l$i", d, l)
    EpochStore.write(rows.toDF("id", "v", "day", "lang"), root, 0L,
      partitionColumn = "day,lang")
    root
  }

  test("composite partitioning: prefix, suffix, and mixed predicates " +
      "prune exactly at both levels, fully handled") {
    val root = multiPartStore()
    def rd() = EpochStore.read(spark, root, dlSchema, "day,lang")
    assert(rd().count() == 81)
    // PREFIX (day only): level-1 prunes 2/3 dirs WITHOUT listing the
    // pruned days' lang dirs — examined = 3 (days) + 3 (kept day's
    // langs), kept = 1 + 3
    val prefix = rd().filter(col("day") === 1)
    assert(prefix.count() == 27)
    assert(scanOf(prefix).selectedPartitionDirs == (4, 6),
      s"prefix pruning: ${scanOf(prefix).selectedPartitionDirs}")
    assert(scanOf(prefix).partFilters.nonEmpty &&
      scanOf(prefix).dataFilters.isEmpty, "prefix filter must be exact")
    // SUFFIX (lang only): every day listed, leaf level prunes 2/3 —
    // examined = 3 + 9, kept = 3 + 3
    val suffix = rd().filter(col("lang") === "en")
    assert(suffix.count() == 27)
    assert(scanOf(suffix).selectedPartitionDirs == (6, 12),
      s"suffix pruning: ${scanOf(suffix).selectedPartitionDirs}")
    // MIXED (both columns, one composite filter): one leaf survives —
    // examined = 3 + 3, kept = 1 + 1
    val mixed = rd().filter(col("day") === 2 && col("lang") === "fr")
    assert(mixed.count() == 9)
    assert(scanOf(mixed).selectedPartitionDirs == (2, 6),
      s"mixed pruning: ${scanOf(mixed).selectedPartitionDirs}")
    assert(scanOf(mixed).dataFilters.isEmpty, "composite filter fully handled")
    // rows carry both dir-derived columns correctly
    val got = mixed.collect()
    assert(got.forall(r => r.getAs[Int]("day") == 2 &&
      r.getAs[String]("lang") == "fr"))
    // OR across levels stays exact
    val or = rd().filter(col("day") === 0 || col("lang") === "de")
    assert(or.count() == 27 + 27 - 9)
    assert(scanOf(or).dataFilters.isEmpty)
  }

  test("composite partitioning: SQL catalog discovery, DML, dynamic " +
      "overwrite, and compaction keep the two-level layout") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    val rows = for {
      d <- 0 until 2; l <- Seq("de", "en"); i <- 0 until 5
    } yield ((d * 100 + i).toLong, s"v$d$l$i", d, l)
    EpochStore.write(rows.toDF("id", "v", "day", "lang"), root, 0L,
      partitionColumn = "day,lang")
    cat("mp1", wh)
    // discovery serves both partition columns (recorded sidecar path)
    assert(spark.sql("SELECT COUNT(*) FROM mp1.t WHERE day = 0 AND lang = 'en'")
      .head.getLong(0) == 5)
    // metadata-first DELETE aligned to a leaf tuple: no rewrite dirs
    val gens0 = EpochManifest.generations(spark, root).size
    spark.sql("DELETE FROM mp1.t WHERE day = 1 AND lang = 'de'")
    assert(spark.sql("SELECT COUNT(*) FROM mp1.t").head.getLong(0) == 15)
    // INSERT OVERWRITE dynamic: replaces exactly the written tuples
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(
      "INSERT OVERWRITE mp1.t VALUES (900, 'new', 0, 'en'), (901, 'new2', 0, 'en')")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(spark.sql("SELECT COUNT(*) FROM mp1.t WHERE day = 0 AND lang = 'en'")
      .head.getLong(0) == 2, "dynamic overwrite must replace only (0, en)")
    assert(spark.sql("SELECT COUNT(*) FROM mp1.t WHERE day = 0 AND lang = 'de'")
      .head.getLong(0) == 5, "the untouched leaf must survive")
    assert(EpochManifest.generations(spark, root).size == gens0 + 2)
    // compaction preserves the composite layout
    EpochStore.compactStore(spark, root)
    val after = spark.sql("SELECT COUNT(*) FROM mp1.t WHERE lang = 'en'")
    assert(after.head.getLong(0) == 2 + 5)
    // CTAS with two partition columns materializes the nested layout
    spark.sql("CREATE TABLE mp1.t2 PARTITIONED BY (day, lang) AS " +
      "SELECT id, v, day, lang FROM mp1.t")
    val fs2 = hfs(s"$wh/t2")
    val entry = EpochManifest.entries(spark, s"$wh/t2").head.dir
    val level1 = fs2.listStatus(new org.apache.hadoop.fs.Path(s"$wh/t2/$entry"))
      .map(_.getPath.getName).filter(_.startsWith("day=")).toSeq
    assert(level1.nonEmpty, "CTAS must nest day= dirs")
    val level2 = fs2.listStatus(new org.apache.hadoop.fs.Path(
      s"$wh/t2/$entry/${level1.head}"))
      .map(_.getPath.getName).filter(_.startsWith("lang=")).toSeq
    assert(level2.nonEmpty, "CTAS must nest lang= under day=")
  }

  test("composite partitioning: SPJ zero-exchange grouped agg and DPP " +
      "over the composite key") {
    import spark.implicits._
    val root = multiPartStore()
    def rd() = EpochStore.read(spark, root, dlSchema, "day,lang")
    // storage-partitioned grouped agg over BOTH key columns: zero
    // hash exchanges with v2 bucketing on
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val agg = rd().groupBy("day", "lang")
        .agg(sum("id").as("s"), count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"composite-key grouped agg must not exchange:\n$plan")
      assert(agg.count() == 9)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    // DPP: a selective dim joined on a partition column narrows the
    // scan at runtime
    val dimDir = tmp()
    Seq((1, "keep"), (2, "drop")).toDF("day", "tag").write.mode("overwrite")
      .parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val joined = rd().join(dim, "day")
    assert(joined.collect().length == 27)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(joined.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collect { case s: EpochStoreScan => s }
    assert(scans.exists(_.runtimeFiltered),
      "the composite-key scan must receive a runtime (DPP) filter")
    val pruned = scans.find(_.runtimeFiltered).get.selectedPartitionDirs
    assert(pruned == (4, 6), s"DPP must prune to day=1's subtree: $pruned")
  }

  // ---- CTAS / RTAS via the staging catalog (r13) ----

  test("CTAS: the staged write publishes as its LAST step; a failing " +
      "SELECT leaves NOTHING (no manifest, no table)") {
    import spark.implicits._
    val wh = tmp()
    cat("ctas1", wh)
    bucketEpochStore(s"$wh/src")
    spark.sql("CREATE TABLE ctas1.t PARTITIONED BY (bucket) AS " +
      "SELECT id, v, bucket FROM ctas1.src WHERE bucket IN (1, 2)")
    assert(spark.sql("SELECT COUNT(*) FROM ctas1.t").head.getLong(0) == 20)
    assert(EpochManifest.generations(spark, s"$wh/t") == Seq(1L),
      "CTAS = exactly one manifest publish")
    // partition layout materialized: bucket dirs prune
    val pruned = spark.sql("SELECT id FROM ctas1.t WHERE bucket = 1")
    assert(scanOf(pruned).selectedPartitionDirs._1 == 1)
    // a CTAS whose SELECT fails publishes nothing
    spark.udf.register("ctas_boom",
      (i: Long) => if (i >= 0) throw new RuntimeException("boom") else i)
    intercept[Exception] {
      spark.sql("CREATE TABLE ctas1.dead AS " +
        "SELECT ctas_boom(id) AS id FROM ctas1.src")
    }
    assert(!spark.catalog.tableExists("ctas1.dead"))
    assert(EpochManifest.generations(spark, s"$wh/dead").isEmpty,
      "a failing CTAS must leave no manifest")
    // CTAS over an existing table refuses
    val dup = intercept[Exception] {
      spark.sql("CREATE TABLE ctas1.t AS SELECT 1 AS x")
    }
    assert(dup.getMessage.toLowerCase.contains("already exists"), dup.getMessage)
  }

  test("RTAS: one atomic generation swap, pre-replace snapshot " +
      "time-travelable; plain CREATE TABLE makes an empty insertable store") {
    val wh = tmp()
    cat("ctas2", wh)
    bucketEpochStore(s"$wh/src")
    spark.sql("CREATE TABLE ctas2.t AS SELECT id, v FROM ctas2.src")
    val gen1 = EpochManifest.generations(spark, s"$wh/t").last
    spark.sql("REPLACE TABLE ctas2.t AS " +
      "SELECT id, v FROM ctas2.src WHERE id < 5")
    assert(spark.sql("SELECT COUNT(*) FROM ctas2.t").head.getLong(0) == 5)
    assert(spark.sql(s"SELECT COUNT(*) FROM ctas2.t VERSION AS OF $gen1")
      .head.getLong(0) == 40, "the pre-replace snapshot must stay readable")
    // plain CREATE TABLE: empty store with the declared schema, ready
    // for INSERT (schema served from the _schema.json record)
    spark.sql("CREATE TABLE ctas2.fresh (k BIGINT, s STRING, b INT) " +
      "PARTITIONED BY (b)")
    assert(spark.sql("SELECT * FROM ctas2.fresh").count() == 0)
    spark.sql("INSERT INTO ctas2.fresh VALUES (1, 'a', 7), (2, 'b', 8)")
    assert(spark.sql("SELECT COUNT(*) FROM ctas2.fresh WHERE b = 7")
      .head.getLong(0) == 1)
    val again = intercept[Exception] {
      spark.sql("CREATE TABLE ctas2.fresh (k BIGINT)")
    }
    assert(again.getMessage.toLowerCase.contains("already exists"))
  }

  test("a LIVE concurrent row-level op's staging dir survives another " +
      "statement's reclaim; an abandoned one is collected") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root)
    cat("dml15", wh)
    val fs = hfs(root)
    val fresh = new org.apache.hadoop.fs.Path(s"$root/.rlo-live-query")
    val stale = new org.apache.hadoop.fs.Path(s"$root/.rlo-crashed-query")
    fs.mkdirs(fresh); fs.mkdirs(stale)
    val old = System.currentTimeMillis() -
      graft.sources.EpochStoreDml.StagingReclaimAfterMs - 60000L
    fs.setTimes(stale, old, old)
    spark.sql("UPDATE dml15.t SET v = 'x' WHERE bucket = 1")
    assert(fs.exists(fresh),
      "a fresh staging dir (a live concurrent op) must NOT be reclaimed")
    assert(!fs.exists(stale), "an abandoned staging dir must be reclaimed")
    fs.delete(fresh, true)
  }

  test("dynamic INSERT OVERWRITE on a hash-bucket layout replaces exactly " +
      "the written buckets — never the whole table") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    // 16 rows across 8 buckets of doc-style ids
    val rows = (0 until 16).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    EpochStore.writeBucketed(rows, root, 0L, "id", 8)
    cat("dyn1", wh)
    val bucketOf: Long => Int =
      id => graft.sources.EpochStore.bucketIdOf(id, LongType, 8)
    // overwrite rows that all land in ONE bucket: every other bucket's
    // rows must survive (the pre-fix path committed AlwaysTrue here,
    // silently truncating all of them)
    val victim = bucketOf(0L)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE dyn1.t VALUES (0, 'new0')")
      val got = spark.sql("SELECT id, v FROM dyn1.t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val survivors = (0 until 16).map(_.toLong)
        .filterNot(id => bucketOf(id) == victim)
      assert(survivors.forall(id => got.get(id).contains(s"v$id")),
        s"unwritten buckets' rows must survive: $got")
      assert(got(0L) == "new0", "the written bucket is replaced")
      assert((0 until 16).map(_.toLong)
        .filter(id => bucketOf(id) == victim && id != 0L)
        .forall(id => !got.contains(id)),
        "the written bucket's OLD rows are replaced")
      // bucket pruning still works on the carried-over entry: a point
      // probe on a surviving id opens only its bucket dir
      val sid = survivors.head
      assert(spark.sql(s"SELECT v FROM dyn1.t WHERE id = $sid")
        .head.getString(0) == s"v$sid")
    } finally
      spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("publishBranch fences concurrent branch writers: a branch commit " +
      "racing the publish window refuses loudly, never silently vanishes; " +
      "a refused publish restores the branch") {
    import spark.implicits._
    val wh = tmp()
    val root = s"$wh/t"
    bucketEpochStore(root) // epochs 0-3
    val fs = hfs(root)
    EpochManifest.createBranch(spark, root, "b")
    EpochStore.write(Seq((100L, "x", 0)).toDF("id", "v", "bucket"),
      root, 100L, partitionColumn = "bucket", branch = "b")
    // simulate the publish fence: the lineage dir is renamed away before
    // the head read — exactly what publishBranch does first
    val bd = new org.apache.hadoop.fs.Path(s"$root/_manifests/branch-b")
    val fence = new org.apache.hadoop.fs.Path(
      s"$root/_manifests/.publishing-b-test")
    assert(fs.rename(bd, fence))
    val e = intercept[Exception] {
      EpochManifest.commitFreshEpochDir(spark, root, "d999-1", branch = Some("b"))
    }
    assert(e.getMessage.contains("no manifest"),
      s"a fenced branch commit must refuse loudly: ${e.getMessage}")
    // the fence is a gc retention anchor: the branch's never-published
    // dir survives an aged gc while the publish is in flight
    val bDir = {
      val ms = fs.listStatus(fence).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      // resolve the epoch-100 dir from the head manifest body
      val in = fs.open(ms.last)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      body.linesIterator.find(_.contains("\"epoch\":100"))
        .map(_.split("\"dir\":\"")(1).takeWhile(_ != '"')).get
    }
    val old = System.currentTimeMillis() -
      EpochManifest.OrphanReclaimAfterMs - 60000L
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/$bDir"), old, old)
    EpochManifest.gc(spark, root)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$bDir")),
      "an in-flight publish fence must anchor its dirs against gc")
    assert(fs.rename(fence, bd)) // un-fence for the rest of the test
    // a REFUSED publish (stale main base) restores the branch intact
    EpochStore.write(Seq((200L, "m", 0)).toDF("id", "v", "bucket"),
      root, 200L, partitionColumn = "bucket")
    val refused = intercept[Exception](
      EpochManifest.publishBranch(spark, root, "b"))
    assert(refused.getMessage.contains("re-branch"), refused.getMessage)
    assert(EpochManifest.branches(spark, root) == Seq("b"),
      "a refused publish must leave the branch in place")
    assert(EpochManifest.branchEntries(spark, root, "b")
      .exists(_.epoch == 100L),
      "the branch's audited epochs survive a refused publish")
  }

  test("catalog queries leave the shared session untouched: no conf " +
      "bleed, no accumulated catalog registrations") {
    val sf = "/root/testdata/sf0.001"
    val before = spark.conf.getAll
    Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](
      graft.queries.MiscCatalog.storeDml _,
      graft.queries.MiscCatalog.storeBucket _,
      graft.queries.MiscCatalog.storeSpj _
    ).foreach { q =>
      val df = q(spark, sf)
      assert(df.collect().nonEmpty)
      assert(spark.conf.getAll == before,
        "a catalog query must not mutate the shared session's conf")
    }
  }

  test("composite identity+bucket layout: date=v/id_bucket=K nests, both " +
      "levels prune with exact audit counts, index-planned with zero " +
      "listing") {
    import spark.implicits._
    CountingFs.install(spark)
    val root = "cfs://" +
      java.nio.file.Files.createTempDirectory("graft_comp").toString + "/t"
    def mk(off: Int) = (0 until 120).map { i =>
      val id = (i + off).toLong
      (id, s"v$id", s"d${i % 3}")
    }.toDF("id", "v", "date")
    EpochStore.writeBucketed(mk(0), root, 0L, "id", 4,
      partitionColumn = "date")
    EpochStore.writeBucketed(mk(120), root, 1L, "id", 4,
      partitionColumn = "date")
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("date", StringType)))
    def rd() = EpochStore.readBucketed(spark, root, sch, "id", 4,
      partitionColumn = "date")
    assert(rd().count() == 240)
    // identity-level prune: 1-of-3 dates kept per epoch, all buckets under
    val q1 = rd().filter(col("date") === "d1")
    assert(q1.count() == 80)
    assert(scanOf(q1).selectedPartitionDirs == (10, 14),
      s"date-level pruning audit: ${scanOf(q1).selectedPartitionDirs}")
    // bucket-level probe: every date examined, one bucket kept under each
    val q2 = rd().filter(col("id") === 7L)
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(scanOf(q2).selectedPartitionDirs == (12, 30),
      s"bucket-level pruning audit: ${scanOf(q2).selectedPartitionDirs}")
    // both levels compose; planned from the index with zero listing
    val q3 = rd().filter(col("date") === "d1" && col("id") === 7L)
    CountingFs.reset()
    assert(q3.collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(CountingFs.listedBelow(root).isEmpty,
      s"composite scan must be index-planned: " +
        s"${CountingFs.listedBelow(root).take(5)}")
    assert(scanOf(q3).selectedPartitionDirs == (4, 14),
      s"composed pruning audit: ${scanOf(q3).selectedPartitionDirs}")
  }

  test("composite identity+bucket through SQL: PARTITIONED BY (date, " +
      "bucket(4, id)) CTAS, SPJ zero-exchange join, DPP narrows the " +
      "bucketed level; bucket-not-last refuses") {
    import spark.implicits._
    val wh = tmp()
    cat("compbk", wh)
    (0 until 120).map { i =>
      (i.toLong, s"v$i", s"d${i % 3}")
    }.toDF("id", "v", "date").createOrReplaceTempView("compbksrc")
    spark.sql("CREATE TABLE compbk.a PARTITIONED BY (date, bucket(4, id)) " +
      "AS SELECT id, v, date FROM compbksrc")
    spark.sql("CREATE TABLE compbk.b PARTITIONED BY (date, bucket(4, id)) " +
      "AS SELECT id, v AS w, date FROM compbksrc")
    assert(spark.table("compbk.a").count() == 120)
    // the declared composite layout round-trips through the catalog
    val parts = spark.sql("SHOW CREATE TABLE compbk.a").head.getString(0)
    assert(parts.contains("date") && parts.toLowerCase.contains("bucket"),
      s"declared partitioning lost: $parts")
    // SPJ: same-layout stores join on (date, id) with ZERO exchange
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("compbk.a")
        .join(spark.table("compbk.b"), Seq("date", "id"))
      assert(j.count() == 120)
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val exchanges = nodes(j.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"same-composite-layout join must be storage-partitioned:\n" +
          j.queryExecution.executedPlan)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // DPP: a selective parquet dim on the bucket column narrows the
    // bucketed level at runtime while every date dir stays
    val dimDir = tmp()
    Seq((5L, "keep"), (6L, "drop")).toDF("id", "tag").write
      .mode("overwrite").parquet(dimDir)
    val joined = spark.table("compbk.a")
      .join(spark.read.parquet(dimDir).filter(col("tag") === "keep"), "id")
    assert(joined.collect().length == 1)
    def nodes2(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes2(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: nodes2(q.plan)
      case other => other +: other.children.flatMap(nodes2)
    }
    val scans = nodes2(joined.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collect { case s: EpochStoreScan => s }
    assert(scans.exists(_.runtimeFiltered),
      "the composite scan must receive a runtime (DPP) filter")
    val (kept, total) = scans.find(_.runtimeFiltered).get.selectedPartitionDirs
    assert(kept == 6 && total == 15,
      s"DPP must keep all 3 dates and 1-of-4 buckets under each: " +
        s"($kept, $total)")
    // a bucket transform anywhere but last refuses loudly
    val err = intercept[Exception](spark.sql(
      "CREATE TABLE compbk.bad PARTITIONED BY (bucket(4, id), date) " +
        "AS SELECT id, v, date FROM compbksrc"))
    assert(err.getMessage.contains("INNERMOST"),
      s"unexpected: ${err.getMessage}")
    // PAIR-granular dynamic INSERT OVERWRITE: exactly the
    // (date, bucket) PAIRS the batch writes are replaced; an entry
    // with no replaced pair stays in place (same dir, untouched), and
    // a mixed entry's kept pairs survive as verbatim file copies
    val root = s"$wh/a"
    // a second epoch whose pairs the overwrite never touches
    spark.sql("INSERT INTO compbk.a VALUES (200, 'x200', 'd9')")
    val entriesBefore = EpochManifest.entries(spark, root)
    val untouched = entriesBefore.maxBy(_.epoch)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE compbk.a VALUES (0, 'NEW0', 'd0'), " +
        "(1, 'NEW1', 'd1')")
      // expected: source rows minus the two written (date, bucket)
      // pairs, plus the new rows and the untouched second epoch
      val bOf: Long => Int = id => spark.sql(
        s"SELECT pmod(hash(CAST($id AS BIGINT)), 4)").head.getInt(0)
      val (b0, b1) = (bOf(0L), bOf(1L))
      val want = ((0 until 120).map(i => (i.toLong, s"v$i", s"d${i % 3}"))
        .filterNot { case (id, _, d) =>
          (d == "d0" && bOf(id) == b0) || (d == "d1" && bOf(id) == b1) } ++
        Seq((0L, "NEW0", "d0"), (1L, "NEW1", "d1"), (200L, "x200", "d9")))
        .sortBy(_._1)
      val got = spark.table("compbk.a").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
      assert(got == want.toList,
        s"pair overwrite diverged: got ${got.size}, want ${want.size}")
      // the untouched entry survived IN PLACE — same dir, not rewritten
      val entriesAfter = EpochManifest.entries(spark, root)
      assert(entriesAfter.exists(_.dir == untouched.dir),
        s"untouched entry must keep its dir: before=${untouched.dir}, " +
          s"after=${entriesAfter.map(_.dir).mkString(", ")}")
      // kept pairs' files are verbatim copies: same rel paths and sizes
      // minus the two dead prefixes
      val fs2 = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val mixedBefore = entriesBefore.minBy(_.epoch)
      val mixedAfter = entriesAfter
        .find(e => e.epoch == mixedBefore.epoch && e.dir != mixedBefore.dir)
        .getOrElse(fail(s"the CTAS entry must have been pair-rewritten: " +
          s"${entriesAfter.map(_.dir)}"))
      val ixBefore = graft.sources.EpochStoreStats
        .readIndexed(fs2, root, mixedBefore.dir).get
      val ixAfter = graft.sources.EpochStoreStats
        .readIndexed(fs2, root, mixedAfter.dir).get
      val deadPrefixes = Set(s"date=d0/id_bucket=$b0",
        s"date=d1/id_bucket=$b1")
      val keptBefore = ixBefore.filterNot { case (rel, _) =>
        deadPrefixes.exists(rel.startsWith) }
      assert(ixAfter.keySet == keptBefore.keySet,
        s"kept rel paths must survive verbatim:\n${ixAfter.keySet}\nvs\n" +
          s"${keptBefore.keySet}")
      assert(ixAfter.forall { case (rel, st) =>
        keptBefore(rel).len == st.len },
        "kept files must be byte-identical copies")
      // bucket probes still prune through the rewritten entry (sliced
      // sidecars intact)
      val probe = spark.sql("SELECT v FROM compbk.a WHERE id = 7")
      assert(probe.head.getString(0) == "v7")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("FOR TIMESTAMP AS OF: exact boundary resolution to the newest " +
      "manifest at-or-before the instant; beyond-horizon refuses loudly") {
    import spark.implicits._
    val wh = tmp()
    cat("tt1", wh)
    val root = s"$wh/t"
    EpochStore.write(Seq((1L, "a")).toDF("id", "v"), root, 0L)
    Thread.sleep(60) // distinct manifest mtimes (local-FS ms granularity)
    EpochStore.write(Seq((2L, "b")).toDF("id", "v"), root, 1L)
    val snaps = EpochManifest.snapshots(spark, root)
    assert(snaps.size == 2 && snaps.head._2 < snaps.last._2,
      s"expected two snapshots with ordered instants: $snaps")
    def idsAt(ms: Long): Seq[Long] =
      spark.sql(s"SELECT id FROM tt1.t TIMESTAMP AS OF timestamp_millis(${ms}) " +
        "ORDER BY id").collect().map(_.getLong(0)).toSeq
    // exactly the first manifest's instant resolves TO it (<=, not <)
    assert(idsAt(snaps.head._2) == Seq(1L))
    // between the two commits: still the first snapshot
    assert(idsAt(snaps.last._2 - 1) == Seq(1L))
    // at/after the second: both epochs
    assert(idsAt(snaps.last._2) == Seq(1L, 2L))
    assert(idsAt(System.currentTimeMillis() + 1000) == Seq(1L, 2L))
    // before the horizon: loud refusal naming the retention contract
    val err = intercept[Exception](idsAt(snaps.head._2 - 1))
    assert(err.getMessage.contains("retention horizon"),
      s"unexpected: ${err.getMessage}")
  }

  test("bucket-preserving compaction: CALL compact folds a bucketed store " +
      "per bucket — probe pruning, SPJ zero-exchange, rows, and " +
      "index planning all survive the fold") {
    import spark.implicits._
    CountingFs.install(spark)
    val wh = "cfs://" +
      java.nio.file.Files.createTempDirectory("graft_bkcomp").toString
    cat("bkcomp", wh)
    val left = s"$wh/l"
    val right = s"$wh/r"
    def mk(off: Int, tag: String) = (0 until 200)
      .map(i => ((i + off).toLong, s"$tag${i + off}")).toDF("id", "v")
    EpochStore.writeBucketed(mk(0, "L"), left, 0L, "id", 8)
    EpochStore.writeBucketed(mk(200, "L"), left, 1L, "id", 8)
    EpochStore.writeBucketed(mk(0, "R"), right, 0L, "id", 8)
    val before = EpochStore.readBucketed(spark, left, idvSchema, "id", 8)
      .collect().map(_.toSeq).toSet
    spark.sql("CALL bkcomp.system.compact(table => 'l', " +
      "sort_columns => 'id')").collect()
    val es = EpochManifest.entries(spark, left)
    assert(es.size == 1 && es.head.minEpoch == 0L && es.head.epoch == 1L,
      s"expected one fold entry covering [0,1], got $es")
    // the fold keeps the physical <col>_bucket=K dirs
    val foldSubs = hfs(left)
      .listStatus(new org.apache.hadoop.fs.Path(s"$left/${es.head.dir}"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("id_bucket=")).sorted
    assert(foldSubs.length == 8, s"fold bucket dirs: ${foldSubs.toSeq}")
    val after = EpochStore.readBucketed(spark, left, idvSchema, "id", 8)
    assert(after.collect().map(_.toSeq).toSet == before)
    // 1-of-8 probe pruning survives, planned from the fold's index
    // with zero listing below the store root
    val probe = after.filter(col("id") === 7L)
    CountingFs.reset()
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(CountingFs.listedBelow(left).isEmpty,
      s"fold must be index-planned: ${CountingFs.listedBelow(left).take(5)}")
    val scan = probe.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.collect { case s: EpochStoreScan => s }.head
    assert(scan.selectedPartitionDirs == (1, 8),
      s"post-fold bucket pruning: ${scan.selectedPartitionDirs}")
    // SPJ: the folded store still joins a same-bucketed store with
    // zero shuffle through the FunctionCatalog route
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkcomp.l")
        .join(spark.table("bkcomp.r").withColumnRenamed("v", "w"), "id")
      assert(j.count() == 200)
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      val exchanges = nodes(j.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"post-fold same-bucket join must stay storage-partitioned:\n" +
          j.queryExecution.executedPlan)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
