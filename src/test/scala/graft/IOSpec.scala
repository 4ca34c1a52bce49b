package graft

import org.apache.spark.sql.functions._
import graft.core.{IO, Sampling}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class IOSpec extends SparkSpec {

  test("ORC round-trip (format breadth beyond parquet/json/csv)") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val df = spark.read.parquet(s"$sf0001/orders.parquet")
    df.write.orc(s"$dir/o")
    val back = spark.read.orc(s"$dir/o")
    assert(back.count() == df.count())
    assert(back.schema == df.schema)
    assert(back.agg(sum("o_totalprice")).head.getDouble(0)
      == df.agg(sum("o_totalprice")).head.getDouble(0))
  }

  test("q_orc_roundtrip: ORC-landed aggregate equals the parquet-side plan") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.MiscCatalog.orcRoundtrip(spark, sf001).collect()
    assert(got.nonEmpty)
    // same aggregate straight off the parquet table — lossless land proof
    // that doesn't depend on the driver's DuckDB pass
    val want = graft.core.Tables.orders(spark, sf001)
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000.0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.queries.Parity.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderpriority")
      .collect()
    assert(got.toSeq == want.toSeq)
  }

  test("partitioned write + partition read return exactly the partition") {
    val dir = Files.createTempDirectory("graft_part").toString
    val ev = graft.core.Tables.events(spark, sf0001)
      .withColumn("d", to_date(col("ts")))
    IO.writePartitioned(ev, s"$dir/ev", "d")
    val day = IO.readPartition(spark, s"$dir/ev", "d", "2024-01-05")
    val expect = ev.filter(col("d") === "2024-01-05").count()
    assert(day.count() == expect)
    assert(expect > 0)
  }

  test("bucketed join equals plain join") {
    IO.writeBucketed(spark.read.parquet(s"$sf0001/orders.parquet"), "t_orders", "o_custkey", 4)
    IO.writeBucketed(spark.read.parquet(s"$sf0001/customer.parquet"), "t_customer", "c_custkey", 4)
    val bucketed = IO.bucketedJoin(spark, "t_orders", "t_customer", "o_custkey", "c_custkey").count()
    val plain = spark.read.parquet(s"$sf0001/orders.parquet")
      .join(spark.read.parquet(s"$sf0001/customer.parquet"),
        col("o_custkey") === col("c_custkey")).count()
    assert(bucketed == plain)
  }

  test("upsert keeps the latest version per key and passes new keys through") {
    import spark.implicits._
    val day1 = Seq((1L, "old-title", 100L), (2L, "keep-me", 200L))
      .toDF("id", "title", "post_time")
    val day2 = Seq((1L, "new-title", 300L), (3L, "brand-new", 150L))
      .toDF("id", "title", "post_time")
    val merged = IO.upsert(day1, day2, "id", "post_time")
      .orderBy("id").collect()
    assert(merged.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq == Seq(
      (1L, "new-title", 300L),  // updated
      (2L, "keep-me", 200L),    // untouched
      (3L, "brand-new", 150L))) // inserted
    // idempotent: re-applying the same updates changes nothing
    val again = IO.upsert(IO.upsert(day1, day2, "id", "post_time"), day2, "id", "post_time")
      .orderBy("id").collect()
    assert(again.sameElements(merged))
  }

  test("upsert: version TIES resolve to the update side, deterministically") {
    import spark.implicits._
    // same-day re-crawl: same id, same post_time, DIFFERENT payload — the
    // update must win (round-1 tiebreak was struct(version, key), vacuous
    // because key is constant within the group → partition-dependent pick)
    val existing = Seq((1L, "stale-payload", 100L)).toDF("id", "title", "post_time")
    val update = Seq((1L, "fresh-payload", 100L)).toDF("id", "title", "post_time")
    (1 to 5).foreach { i =>
      val r = IO.upsert(existing.repartition(i), update.repartition(6 - i), "id", "post_time")
        .collect()
      assert(r.map(x => (x.getLong(0), x.getString(1))).toSeq == Seq((1L, "fresh-payload")))
    }
  }

  test("compacted write bounds rows per file") {
    val dir = Files.createTempDirectory("graft_compact").toString
    val df = spark.range(10000).toDF("id").repartition(2)
    IO.writeCompacted(df, s"$dir/out", maxRecordsPerFile = 1500)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 7) // 10000/1500 → at least ceil
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 10000)
    // no single file exceeds the bound
    files.foreach { f =>
      assert(spark.read.parquet(f.getAbsolutePath).count() <= 1500)
    }
  }

  test("approx percentiles track exact within the accuracy bound") {
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet(s"$sf001/orders.parquet")
    val r = o.agg(
      expr("percentile(o_totalprice, 0.5)").as("exact"),
      expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx")).head
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02, s"exact=$exact approx=$approx")
  }

  test("stratified sampling: seeded determinism + per-stratum rates") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val fr = Map("en" -> 0.5, "fr" -> 1.0, "es" -> 0.1, "zh" -> 0.0, "de" -> 1.0)
    val a = Sampling.stratified(docs, "lang", fr, seed = 42)
    val b = Sampling.stratified(docs, "lang", fr, seed = 42)
    assert(a.select("doc_id").collect().toSeq == b.select("doc_id").collect().toSeq)
    val got = a.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("zh"))
    val base = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("fr") == base("fr")) // fraction 1.0 keeps everything
    assert(math.abs(got("en").toDouble / base("en") - 0.5) < 0.15)
  }

  test("Verify records a deliberately-broken query as an explicit failure, not an absence") {
    // the r9 failure mode: a throwing query silently VANISHED from the
    // correctness artifact. Verify.run must land it in failures.json and
    // still dump the healthy queries.
    import org.apache.spark.sql.functions._
    val outDir = java.nio.file.Files.createTempDirectory("graft_verify").toString
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "q_ok" -> ((s, d) => graft.core.Tables.region(s, d).select(col("r_name"))),
      "q_broken" -> ((s, d) =>
        graft.core.Tables.region(s, d).select(col("no_such_column"))))
    val failures = Verify.run(spark, queries,
      Map("q_ok" -> "SELECT r_name FROM region"), sf0001, outDir)
    assert(failures.keySet == Set("q_broken"))
    assert(failures("q_broken").nonEmpty)
    val failJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/failures.json"))
    assert(failJson.contains("\"q_broken\""), s"failures.json: $failJson")
    // the healthy query still dumped, and its oracle landed
    assert(spark.read.parquet(s"$outDir/q_ok").count() > 0)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json")).contains("q_ok"))
  }

  test("Bench marks a deliberately-broken query as an error, not a measurement") {
    // the r9 failure mode on the BENCH side: 13 broken queries were
    // "measured" at their 0.06 s time-to-error and the profile looked
    // plausibly fast. A failed run must surface as null in "runs", move
    // the query from "queries" to "err", drop out of the total, and
    // raise the stdout line's errors count.
    import org.apache.spark.sql.functions._
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "q_ok" -> ((s, d) => graft.core.Tables.region(s, d).select(col("r_name"))),
      "q_broken" -> ((s, d) =>
        graft.core.Tables.region(s, d).select(col("no_such_column"))))
    val results = Bench.measure(spark, queries, sf0001)
    val byName = results.map(q => q.name -> q).toMap
    assert(byName("q_ok").best.isDefined)
    assert(byName("q_broken").best.isEmpty &&
      byName("q_broken").firstErr.exists(_.nonEmpty))
    val (profile, line) = Bench.render(results, sf0001, "unused.json")
    // well-formed JSON with the broken query under err, null run markers,
    // and a total that excludes it
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = mapper.readTree(profile)
    assert(p.get("errors").asInt == 1)
    assert(p.get("err").has("q_broken") && !p.get("queries").has("q_broken"))
    assert(p.get("queries").has("q_ok"))
    assert(p.get("runs").get("q_broken").get(0).isNull)
    // each run's codegen compile count sits beside its time
    assert(Seq("q_ok", "q_broken").forall(n =>
      p.get("compiles").get(n).size == 2 &&
        p.get("compiles").get(n).get(1).isIntegralNumber))
    // ...and its Spark job count: executing the healthy query's plan runs
    // at least one job
    assert(Seq("q_ok", "q_broken").forall(n =>
      p.get("jobs").get(n).size == 2 &&
        p.get("jobs").get(n).get(1).isIntegralNumber))
    assert(p.get("jobs").get("q_ok").get(1).asLong >= 1)
    // ...and its IO profile: region's 5 rows read and delivered, null for
    // a failed run
    assert(Seq("q_ok", "q_broken").forall(p.get("io").get(_).size == 2))
    (0 until 2).foreach { i =>
      val io = p.get("io").get("q_ok").get(i)
      assert(io.get("rows_out").asLong == 5 && io.get("scan_rows").asLong > 0, s"io: $io")
      assert(p.get("io").get("q_broken").get(i).isNull)
    }
    // ...and each job as [seconds >= 0, call site], as many as "jobs" counts
    Seq("q_ok", "q_broken").foreach { n =>
      val js = p.get("job_s").get(n)
      assert(js.size == 2)
      (0 until 2).foreach { i =>
        assert(js.get(i).size == p.get("jobs").get(n).get(i).asInt)
        js.get(i).elements.asScala.foreach { j =>
          assert(j.size == 2 && j.get(0).isNumber && j.get(0).asDouble >= 0 &&
            j.get(1).isTextual && j.get(1).asText.nonEmpty, s"job: $j")
        }
      }
    }
    assert(math.abs(p.get("value").asDouble -
      p.get("queries").get("q_ok").asDouble) < 1e-9)
    val l = mapper.readTree(line)
    assert(l.get("errors").asInt == 1 && l.get("n").asInt == 2)
  }

  test("Verify and Bench write quotes, backslashes and control chars as exact JSON strings") {
    val odd = "q \"odd\" \\ tab\t cr\r ctl\u0001"
    val sql = "SELECT '\"' AS q, '\\' AS b\t-- cr\r ctl\u0001"
    val outDir = java.nio.file.Files.createTempDirectory("graft_verify_json").toString
    val failures = Verify.run(spark,
      Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
        odd -> ((_, _) => throw new IllegalStateException(odd))),
      Map(odd -> sql), sf0001, outDir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def read(f: String) = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/$f")))
    assert(read("oracle_sql.json").get(odd).asText == sql)
    val failJson = read("failures.json")
    assert(failJson.size == 1 && failJson.get(odd).asText == failures(odd))
    val results = Seq(
      Bench.QResult(odd, Seq(Left(sql))),
      Bench.QResult(odd + "ok", Seq(Right(0.5)), jobs = Seq(Seq((0.25, sql)))))
    val p = mapper.readTree(Bench.render(results, odd, "unused.json")._1)
    assert(p.get("sf").asText == odd)
    assert(p.get("err").get(odd).asText == sql)
    assert(p.get("queries").get(odd + "ok").asDouble == 0.5)
    assert(p.get("job_s").get(odd + "ok").get(0).get(0).get(1).asText == sql)
  }

  test("Bench stall adjudication: a contiguous elevated window (>=3) is " +
      "flagged for re-run; isolated slow queries and honest spreads are " +
      "not; the profile records the reruns") {
    def q(n: String, a: Double, b: Double) =
      Bench.QResult(n, Seq(Right(a), Right(b)))
    // 20 normal ~0.2s queries with an alphabetically contiguous 4-query
    // stall window where BOTH runs are elevated (min-of-2 is blind)
    val normal = (0 until 20).filterNot(i => (8 to 11).contains(i))
      .map(i => q(f"q_$i%02d", 0.2, 0.25))
    val stalled = (8 to 11).map(i => q(f"q_$i%02d", 2.4, 2.8))
    val results = (normal ++ stalled).sortBy(_.name)
    val flagged = Bench.stallSuspects(results)
    assert(flagged == (8 to 11).map(i => f"q_$i%02d"),
      s"the contiguous window must flag: $flagged")
    // a single slow query is NOT a stall window (it may just be slow)
    val single = (0 until 20).map(i =>
      q(f"q_$i%02d", if (i == 9) 2.5 else 0.2, if (i == 9) 2.7 else 0.25))
    assert(Bench.stallSuspects(single).isEmpty)
    // two adjacent slow queries still under the window length: no flag
    val pair = (0 until 20).map(i =>
      q(f"q_$i%02d", if (i == 9 || i == 10) 2.5 else 0.2, 2.7))
    assert(Bench.stallSuspects(pair.map(r =>
      r.copy(runs = r.runs.take(1)))).isEmpty)
    // the profile carries the adjudicated names
    val (profile, _) = Bench.render(results, "sf", "unused.json",
      reruns = flagged)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = mapper.readTree(profile)
    assert(p.get("reruns").size() == 4 &&
      p.get("reruns").get(0).asText == "q_08")
  }

  test("train/val split is a partition of the input") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val (tr, va) = Sampling.split(docs, 0.8, seed = 7)
    assert(tr.count() + va.count() == docs.count())
    assert(tr.intersect(va).count() == 0)
  }
}
