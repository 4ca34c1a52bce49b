package graft

import graft.core.Metrics
import graft.queries.{TextCatalog, TpchCatalog}

/** Runtime-measured scale claims: the catalog's "zero-shuffle" scaladocs
  * must hold as ACTUAL shuffle traffic at execution time, not just as
  * clean-looking static plans — and a genuinely shuffling query must
  * show the opposite, proving the probe isn't vacuously reading zeros.
  */
class MetricsSpec extends SparkSpec {

  test("zero-shuffle claim holds at runtime for the hash split") {
    // q_doc_split: documented "zero shuffles at any scale" for the
    // COMPUTATION; the deterministic presentation ORDER BY adds exactly
    // one range exchange of the final rows and nothing else
    val p = Metrics.measure(TextCatalog.trainSplit(spark, sf0001))
    assert(p.rowsOut > 0)
    assert(p.nHashExchanges == 0,
      s"split computation shuffled — zero-shuffle claim false at runtime: $p")
    assert(p.nExchanges - p.nHashExchanges <= 1, s"more than the presentation sort: $p")
    // the only records that moved are the final presentation rows
    assert(p.shuffleRecords == p.rowsOut, s"intermediate shuffle traffic: $p")
    assert(p.scanRows > 0, "scan metric not wired")
  }

  test("narrow-map claims hold for quality, repetition, and decontam scoring") {
    val q = Metrics.measure(TextCatalog.qualityScore(spark, sf0001))
    assert(q.rowsOut > 0 && q.nHashExchanges == 0, s"quality scoring shuffled: $q")
    // q_doc_repetition was rewritten in r8 precisely to be a zero-shuffle
    // per-row map — hold it to that
    val r = Metrics.measure(TextCatalog.repetitionSignals(spark, sf0001))
    assert(r.rowsOut > 0 && r.nHashExchanges == 0, s"repetition signals shuffled: $r")
    // semantic decontam scores against a broadcast eval model — one
    // narrow pass, no hash exchange
    val d = Metrics.measure(graft.queries.VectorCatalog.vecDecontam(spark, sf0001))
    assert(d.rowsOut > 0 && d.nHashExchanges == 0, s"decontam scoring shuffled: $d")
  }

  test("a shuffling query reports real shuffle traffic (probe not vacuous)") {
    val p = Metrics.measure(TpchCatalog.pricingSummary(spark, sf0001))
    assert(p.rowsOut > 0)
    assert(p.nHashExchanges >= 1, s"expected a hash exchange: $p")
    assert(p.shuffleRecords > 0 && p.shuffleBytes > 0,
      s"aggregation shuffled nothing — metric wiring broken: $p")
    assert(p.scanRows > 0)
  }

  test("a store (DSv2) read reports its rows as scan rows") {
    // the store's reads are BatchScanExec, not a file scan: a scan-rows
    // filter that only knows file scans reports 0 for every store query
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_metrics_store").toString
    val df = (0 until 37).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.write.format("epochstore").mode("append")
      .option("path", root).option("epoch", "0").save()
    val p = Metrics.measure(graft.sources.EpochStore.read(spark, root, df.schema))
    assert(p.rowsOut == 37 && p.scanRows == 37, s"$p")
  }

  test("SCALE.md top shufflers: per-key windows move at most input-linear records") {
    // q_window_lag / q_scd2 / q_moving_avg head the SCALE.md table with
    // shufRecords == 2x scanRows exactly: one user_id/key hash exchange
    // carrying every row once, plus the presentation range exchange
    // carrying every output row once. A third pass-through of the data
    // (an accidental repartition, a self-join) would break the bound.
    for ((name, df) <- Seq(
        ("q_window_lag", TpchCatalog.windowLag(spark, sf0001)),
        ("q_scd2", graft.queries.EventsCatalog.scd2History(spark, sf0001)),
        ("q_moving_avg", graft.queries.EventsCatalog.movingAvg(spark, sf0001)))) {
      val p = Metrics.measure(df)
      assert(p.rowsOut > 0, s"$name vacuous")
      assert(p.shuffleRecords <= 2L * p.scanRows,
        s"$name moved more than 2x its input through shuffles: $p")
    }
  }

  test("shuffle traffic scales linearly across a 10x input step (empirical exponent gate)") {
    // The question the 100 TB design review asks of every plan — "what
    // happens at 10x?" — answered by measurement: run the same query at
    // sf0.001 and sf0.01 (10x the input) and bound the growth of shuffle
    // RECORDS by the growth of scanned rows with 2x slack. A linear plan
    // lands at ~10x records for 10x input; anything with a quadratic
    // term (an unbucketed pair join, a dedup that re-pairs the corpus)
    // lands near 100x and fails by an order of magnitude. Queries chosen
    // for deterministic record counts (rows/tokens/segments, no
    // sampling) and non-trivial shuffles at both SFs.
    // documents is 500 rows at BOTH sf0.001 and sf0.01 (only sf0.1 steps
    // 10x), so doc queries step sf0.01 -> sf0.1; events scales at every
    // SF, so its queries use the cheaper sf0.001 -> sf0.01 step
    for ((name, fn, lo, hi) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame, String, String)](
        ("q_doc_seg_dedup", (s, d) => TextCatalog.queries("q_doc_seg_dedup")(s, d), sf001, sf01),
        ("q_tfidf", (s, d) => TextCatalog.queries("q_tfidf")(s, d), sf001, sf01),
        ("q_doc_exact_dedup", (s, d) => TextCatalog.queries("q_doc_exact_dedup")(s, d), sf001, sf01),
        ("q_sessionize", (s, d) => graft.queries.EventsCatalog.queries("q_sessionize")(s, d), sf0001, sf001),
        ("q_moving_avg", (s, d) => graft.queries.EventsCatalog.queries("q_moving_avg")(s, d), sf0001, sf001))) {
      val small = Metrics.measure(fn(spark, lo))
      val big = Metrics.measure(fn(spark, hi))
      assert(small.scanRows > 0 && big.scanRows > small.scanRows, s"$name: bad fixture step")
      val inputRatio = big.scanRows.toDouble / small.scanRows
      val shufRatio = big.shuffleRecords.toDouble / math.max(1L, small.shuffleRecords)
      assert(shufRatio <= 2.0 * inputRatio,
        s"$name shuffle grew ${shufRatio}x for ${inputRatio}x input — " +
          s"super-linear plan would not survive a 100x scale-up: small=$small big=$big")
    }
  }

  test("SCALE.md top shufflers: LSH pair generation stays bucket-bounded") {
    // q_vec_ann_lsh shuffles its bucketed candidate pairs by design, and
    // q_vec_neardup shuffles its scored survivor pairs (r10: scoring
    // moved BEFORE the pair dedup so the exchange carries ids+scores,
    // not embedding payloads). The scale contract is that candidates
    // stay bucket-bounded: at sf0.001 the corpus is ~520 vectors per
    // scan side, so an all-pairs regression is ~270k pairs — two orders
    // past the 64x-input cap held here.
    // r19: the bucketized corpus lazily localCheckpoints (one hashing
    // pass shared by guard + consumers), so the parquet scan happens in
    // the checkpoint job and the measured execution's scanRows can be 0
    // — bound the candidate shuffle against the CORPUS SIZE directly
    // (the quantity the contract is actually about), not the measured
    // scan rows
    val nCorpus = graft.queries.VectorCatalog.nearDupCorpus(spark, sf0001).count()
    for ((name, df) <- Seq(
        ("q_vec_neardup", graft.queries.VectorCatalog.vecNearDup(spark, sf0001)),
        ("q_vec_ann_lsh", graft.queries.VectorCatalog.annLsh(spark, sf0001)))) {
      val p = Metrics.measure(df)
      assert(p.rowsOut > 0, s"$name vacuous")
      assert(p.shuffleRecords <= 64L * nCorpus,
        s"$name candidate expansion beyond the bucket bound: $p (corpus $nCorpus)")
    }
  }

  test("r12 scale claims: armed hybrid join shuffles ~nothing; time-MV scans the store") {
    // q_join_auto: the armed rewrite broadcasts the hot mass — the only
    // hash-exchange records left are the final per-type aggregates plus
    // the cold tail (empty on this fixture: every event type is hot at
    // share 0.2), so shuffled records must be answer-scale, never
    // input-scale
    val j = Metrics.measure(graft.queries.EventsCatalog.joinAuto(spark, sf0001))
    assert(j.rowsOut > 0 && j.scanRows > 0)
    assert(j.shuffleRecords <= 10L * j.rowsOut,
      s"hybrid join shuffled input-scale records — hot mass not broadcast: $j")
    // q_mv_time_rollup: the rewrite must SCAN the day-bucket MV, whose
    // rows are bounded by |priorities × days| — far under the fact table
    val m = Metrics.measure(graft.queries.TpchCatalog.mvTimeRollup(spark, sf0001))
    val factRows = graft.core.Tables.orders(spark, sf0001).count()
    assert(m.rowsOut > 0)
    assert(m.scanRows < factRows,
      s"time roll-up scanned the fact table (scan=${m.scanRows}, fact=$factRows)")
  }

  test("streaming state grows with key cardinality, not lifetime event count") {
    // The SCALE.md streaming section's gate: after replaying the whole
    // events fixture, a custom-state job's state-store rows must track
    // its KEY cardinality (users), never the event count — the property
    // that keeps a month-long stream's state flat while events keep
    // arriving. statefulFunnel keys state by user (plus one watermark
    // timer row per user under the timeout), so the bound is a small
    // per-user constant; the fixture has ~67x more events than users.
    val spark0 = spark
    import spark0.implicits._
    val feed = StreamScale.eventFeed(spark, sf0001)
    val users = feed.map(_.user_id).distinct.size
    assert(feed.size >= 20L * users, "fixture no longer events-heavy; gate vacuous")
    val funnel = StreamScale.profileJob(spark, "statefulFunnel", feed, chunk = 200)(
      ds => Jobs2.funnel(ds))
    assert(funnel.inputRows == feed.size)
    assert(funnel.stateRows <= 2L * users,
      s"funnel state ${funnel.stateRows} rows for $users users — state leaks with events")
    // and the within-watermark dedup holds only the in-horizon window,
    // not every id ever seen
    val dedup = StreamScale.profileJob(spark, "dedupStream", feed, chunk = 200)(
      ds => Jobs2.dedup(ds))
    assert(dedup.stateRows < feed.size / 2,
      s"dedup state ${dedup.stateRows} ≈ event count ${feed.size} — horizon not bounding")
  }

  private object Jobs2 {
    import org.apache.spark.sql.streaming.StreamingQuery
    def funnel(ds: org.apache.spark.sql.Dataset[graft.streaming.Jobs.Event]): StreamingQuery =
      graft.streaming.Jobs.statefulFunnel(ds).toDF()
        .writeStream.format("noop").outputMode("update").start()
    def dedup(ds: org.apache.spark.sql.Dataset[graft.streaming.Jobs.Event]): StreamingQuery =
      graft.streaming.Jobs.dedupStream(ds.toDF())
        .writeStream.format("noop").outputMode("append").start()
  }
}
