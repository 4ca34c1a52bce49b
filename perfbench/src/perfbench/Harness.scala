package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.Jobs

/** The benchmark's JVM side: runs one workload's ops in passes and writes
  * every raw sample to a JSON file; `run.py` turns the samples into
  * metrics.
  *
  * Phases: a cold pass (pass 0; each op's output is hashed and dumped for
  * the DuckDB cross-check), `warm` warm passes, then `passes` timed
  * passes. The JIT is still improving the code at that point, so every
  * run times the same pass numbers rather than as many passes as fit in a
  * time. A traced run adds as many traced passes, alternating with the
  * untraced ones. Ops run in a seeded permutation per pass.
  * Every execution's output is checked outside its timed window: its
  * order-insensitive hash must equal pass 0's (and pass 0's must match the
  * oracle, checked by `run.py`). Each execution also records the input
  * records its tasks read (`rows`, for `rows_per_s`), counted by a
  * listener on in every run.
  *
  * Args: --data --work --out --passes --trace --seed --cpus --warm --ops
  * (comma list of catalog query names and `ingest_store`) and, for
  * `ingest_store`, --feed (the JSONL feed directory).
  */
object Harness {
  final case class Sample(op: String, pass: Int, phase: String, wall: Double,
                          cpu: Double, rows: Long, err: String)

  /** One op: `run` is the timed body; the returned thunk checks its
    * output (None = correct, Some(why) = wrong). */
  trait Op {
    def name: String
    def run(pass: Int): () => Option[String]
    /** Seconds the last `run` spent in the catalog builder call. */
    def buildSeconds: Double = 0.0
  }

  /** Input records read by every task in every session: the rows the
    * ops scan. */
  object RowCount extends org.apache.spark.scheduler.SparkListener {
    val n = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
  }

  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val traced = a("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val b = graft.Bench.sessionBuilder(a("cpus"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    if (traced) b
      .config("spark.extraListeners", classOf[JobTrace].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(RowCount)
    graft.Bench.silenceBenignStreamingTermination()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val feed = a.get("feed").map(new Feed(spark, _, work))
    // an op with a known defect: run once after the measured phases of a
    // traced run and reported by name and error, never timed
    val probe = if (traced) feed.map(_.dualSinkOp) else None
    val names = a("ops").split(",").toSeq
    val catalog = names.filter(graft.SparkEntry.queries.contains)
    Files.createDirectories(Paths.get(s"$work/results"))
    Files.write(Paths.get(s"$work/results/oracle_sql.json"), catalog
      .map(n => q(n) + ":" + q(graft.SparkEntry.oracleSql(n))).mkString("{", ",", "}").getBytes(UTF_8))
    val ops: Seq[Op] = names.map {
      case "ingest_store" => feed.getOrElse(sys.error("ingest_store needs --feed")).storeOp
      case n if catalog.contains(n) => new CatalogOp(spark, n, a("data"), s"$work/results")
      case n => sys.error(s"unknown op $n")
    }

    val samples = ArrayBuffer.empty[Sample]
    val traces = ArrayBuffer.empty[(String, Int, Map[String, Double])]
    val triggers = ArrayBuffer.empty[Double]
    val seed = a("seed").toLong
    var pass = 0
    var checkS = 0.0

    def runPass(phase: String): Unit = {
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(ops)
      for (op <- order) {
        // the previous op's output check ran jobs too: deliver their events first
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        val before = if (Trace.on) Trace.snapshot() else Map.empty[String, Double]
        val r0 = RowCount.n.get
        val c0 = programCpuNs()
        val t0 = System.nanoTime()
        val t0ms = System.currentTimeMillis()
        var err: String = null
        val check = try op.run(pass) catch { case e: Throwable => err = describe(e); null }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (programCpuNs() - c0) / 1e9
        val t1ms = System.currentTimeMillis()
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        val rows = RowCount.n.get - r0
        if (Trace.on) {
          val after = Trace.snapshot()
          val delta = (after.keySet ++ before.keySet).map(k =>
            k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
          val jobS = unionSeconds(Trace.takeJobSpans(), t0ms, t1ms)
          val trig = Trace.takeTriggers()
          triggers ++= trig
          traces += ((op.name, pass, delta ++ Map(
            "op.wall_s" -> wall, "queries.build_s" -> op.buildSeconds, "exec.job_s" -> jobS,
            "driver.gap_s" -> math.max(0.0, wall - jobS))))
        }
        val c0ns = System.nanoTime()
        if (err == null) err = try check().orNull catch { case e: Throwable => "check: " + describe(e) }
        checkS += (System.nanoTime() - c0ns) / 1e9
        samples += Sample(op.name, pass, phase, wall, cpu, rows, err)
        if (err != null) System.err.println(s"[perfbench] pass $pass ${op.name} FAILED: $err")
      }
      pass += 1
    }

    /** `passes` passes of each of `kinds`, interleaved in ABBA order so
      * that a steady drift (the JIT still warming) biases neither kind; a
      * "traced" pass runs with the tracer recording. */
    def phase(kinds: Seq[String], passes: Int): Unit = {
      for (n <- 0 until passes; kind <- if (n % 2 == 0) kinds else kinds.reverse) {
        Trace.on = kind == "traced"
        System.gc()
        runPass(kind)
      }
      Trace.on = false
    }

    runPass("cold")
    (0 until a("warm").toInt).foreach(_ => runPass("warm"))
    // retained heap after the fixed cold + warm work
    val heapMb = retainedHeapMb()
    val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val cg0 = org.apache.spark.PerfbenchBridge.codegenCompiles
    // a traced run alternates untraced and traced passes, so that both
    // kinds see the same JIT state and their ratio is the tracing overhead
    phase(if (traced) Seq("timed", "traced") else Seq("timed"), a("passes").toInt)
    val jitTimed = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3
    val cgTimed = org.apache.spark.PerfbenchBridge.codegenCompiles - cg0
    val p0 = System.nanoTime()
    val probeResult = probe.map { op =>
      val err = try op.run(pass)().orNull catch { case e: Throwable => describe(e) }
      q(op.name) + ":" + (if (err == null) "null" else q(err))
    }
    val probeS = (System.nanoTime() - p0) / 1e9

    val json = new StringBuilder
    json ++= s"""{"cpus":${a("cpus")},"session_s":$sessionS,"""
    json ++= s""""timed_jit_s":$jitTimed,"timed_codegen_compiles":$cgTimed,"heap_retained_mb":$heapMb,"""
    json ++= s""""check_s":$checkS,"probe_s":$probeS,"""
    json ++= samples.map(s =>
      s"""{"op":${q(s.op)},"pass":${s.pass},"phase":${q(s.phase)},"wall":${s.wall},""" +
        s""""cpu":${s.cpu},"rows":${s.rows},"err":${if (s.err == null) "null" else q(s.err)}}""")
      .mkString("\"samples\":[", ",", "],")
    json ++= traces.map { case (op, p, m) =>
      s"""{"op":${q(op)},"pass":$p,"m":""" +
        m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}}")
    }.mkString("\"traces\":[", ",", "],")
    json ++= probeResult.mkString("\"probes\":{", ",", "},")
    json ++= triggers.mkString("\"triggers\":[", ",", "]}")
    Files.write(Paths.get(a("out")), json.toString.getBytes(UTF_8))
    spark.stop()
  }

  /** Heap in use after full GCs, repeated so that Spark's ContextCleaner
    * has released the blocks of the RDDs and broadcasts the first GC
    * found unreachable. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Process CPU time minus the JIT compiler threads' (read from
    * /proc/self/task): the CPU the program itself and its GC use. */
  def programCpuNs(): Long = {
    val jit = try {
      new java.io.File("/proc/self/task").listFiles().toSeq.map { t =>
        try {
          val st = new String(Files.readAllBytes(t.toPath.resolve("stat")), UTF_8)
          val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
          if (!comm.contains("CompilerThre")) 0L
          else {
            val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
            f(11).toLong + f(12).toLong // utime + stime, in clock ticks
          }
        } catch { case _: java.io.IOException => 0L }
      }.sum * 10000000L // 100 ticks per second
    } catch { case _: Throwable => 0L }
    cpuBean.getProcessCpuTime - jit
  }

  /** Seconds of [lo, hi] (epoch ms) covered by the union of `spans`. */
  def unionSeconds(spans: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var end = lo
    for ((s0, e0) <- spans.sortBy(_._1)) {
      val s = math.max(s0, end); val e = math.min(e0, hi)
      if (e > s) { covered += e - s; end = e }
    }
    covered / 1e3
  }

  /** Error class (when Spark gives one) and first message line of the
    * innermost cause. */
  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val cls = chain.collect { case t: org.apache.spark.SparkThrowable if t.getCondition != null =>
      t.getCondition }.lastOption
    val root = chain.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")
    (cls.getOrElse(root.getClass.getSimpleName) + ": " + msg).take(300)
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** SHA-256 of the sorted canonical renderings of the rows: equal for
    * the same multiset of rows in any order. */
  def rowsHash(rows: Seq[Row]): String = {
    def cell(v: Any): String = v match {
      case null => "␀"
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(kv => cell(kv._1) + ":" + cell(kv._2)).sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes(UTF_8)))
    md.digest().map(x => f"$x%02x").mkString
  }

  /** A catalog query (`SparkEntry.queries`): the builder call plus a full
    * collect of its result. Pass 0's result is dumped as parquet for the
    * oracle cross-check and its hash becomes the expectation.
    *
    * The collect is timed, not a `noop` write as in `Bench.measure`: it
    * hands the check its rows without running the query twice. The reads
    * outputs are small (6 to 500 rows), and on a 4-core machine the
    * collect of the seven reads ops took 0.82x the time of a noop write in
    * total, more only for the 500-row `q_doc_split_safe` (0.16 s against
    * 0.14 s). */
  final class CatalogOp(spark: SparkSession, val name: String, data: String,
                        resultsDir: String) extends Op {
    private val builder = graft.SparkEntry.queries(name)
    private var expected: String = _
    private var built = 0.0
    override def buildSeconds: Double = built
    def run(pass: Int): () => Option[String] = {
      val t0 = System.nanoTime()
      val df = builder(spark, data)
      built = (System.nanoTime() - t0) / 1e9
      val rows = df.collect()
      () => {
        val h = rowsHash(rows.toSeq)
        if (expected == null) {
          expected = h
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$resultsDir/$name")
          None
        } else if (h != expected) Some(s"output differs from pass 0 ($h != $expected)")
        else None
      }
    }
  }

  /** A JSONL event feed ingested by the two `Jobs` pipelines, each
    * repetition into fresh directories: `eventStoreIngest` at four files
    * per trigger, and `dualSinkQuery` (AvailableNow) at one file per
    * trigger, which takes it through its in-line compaction (every 8
    * epochs) twice. */
  final class Feed(spark: SparkSession, feedDir: String, work: String) {
    private lazy val batch = Jobs.clean(spark.read.schema(Jobs.eventSchema).json(feedDir)).cache()
    private lazy val truthHash = rowsHash(batch.collect().toSeq)
    private lazy val aggHash = rowsHash(serving(batch).collect().toSeq)
    private val storeSchema = StructType(Jobs.eventSchema.fields.toSeq :+ StructField("k", IntegerType))

    private def serving(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(graft.queries.Parity.Dec)).cast("double").as("total"))
    private def stream(filesPerTrigger: Int): DataFrame =
      Jobs.readEventStream(spark, feedDir, maxFilesPerTrigger = filesPerTrigger)
    private def compare(got: DataFrame, want: => String, what: String): Option[String] = {
      val h = rowsHash(got.collect().toSeq)
      if (h == want) None else Some(s"$what differs from the batch result")
    }

    class StoreOp extends Op {
      val name = "ingest_store"
      def run(pass: Int): () => Option[String] = {
        val dir = s"$work/ingest/p$pass"
        val q = Jobs.eventStoreIngest(stream(4), s"$dir/store", s"$dir/store_cp")
        try q.processAllAvailable() finally q.stop()
        q.exception.foreach(e => throw e)
        () => compare(graft.sources.EpochStore.read(spark, s"$dir/store", storeSchema, "event_type"),
          truthHash, "store")
      }
    }

    class DualSinkOp extends Op {
      val name = "ingest_dual_sink"
      def run(pass: Int): () => Option[String] = {
        val dir = s"$work/ingest/p$pass"
        val q: StreamingQuery = Jobs.dualSinkQuery(Jobs.clean(stream(1)),
          s"$dir/raw", s"$dir/serving", s"$dir/dual_cp")
        try q.awaitTermination(60000) finally q.stop()
        q.exception.foreach(e => throw e)
        () => compare(spark.read.parquet(s"$dir/serving"), aggHash, "serving aggregate")
      }
    }

    val storeOp = new StoreOp
    val dualSinkOp = new DualSinkOp
  }
}
