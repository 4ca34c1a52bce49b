package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}
import graft.core.Tables
import graft.queries._

/** Physical-plan audit: asserts the scale-critical plan properties the
  * catalog is designed around, by inspecting `explain(formatted)` output.
  * Run standalone: sbt "runMain graft.PlanAudit [sfDir]" — and PlanSpec
  * runs the same checks inside `sbt test`, so a plan regression fails CI
  * instead of rotting in a side main.
  *
  * Checks (per SURVEY.md §4 / the 100 TB posture):
  *  - filter + projection pushdown reach the parquet scan
  *    (PushedFilters non-empty, ReadSchema pruned to the projected cols)
  *  - dimension joins broadcast (BroadcastHashJoin), fact joins shuffle
  *  - top-k compiles to TakeOrderedAndProject (no global sort)
  *  - aggregates are partial+final HashAggregate pairs
  *  - the bounded-heap top-k is partial+final ObjectHashAggregate (the
  *    map-side k-row combine is its whole reason to exist vs row_number)
  *  - hot paths sit inside WholeStageCodegen spans
  *  - catalog-wide: no trivially-true join equalities, and no inner-join
  *    conjuncts referencing only one side's attributes (both are
  *    alias-resolution bugs that silently degrade the join); each
  *    query's analyzed plan is built once for both, and a query whose
  *    builder throws is a failed "plan builds" audit, never skipped
  */
object PlanAudit {

  /** One audited plan property. */
  case class Audit(query: String, what: String, ok: Boolean)

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      df.explain("formatted")
      df.explain() // simple mode: whole-stage codegen shows as *(n) prefixes
    }
    out.toString("UTF-8")
  }

  /** Run every audit against a session. The session must have AQE DISABLED
    * (AQE hides codegen *(n) markers and join strategies until execution;
    * prod sessions keep AQE on — see Bench/Verify) and a small fixed
    * shuffle-partition count. `main` and PlanSpec both set this up. */
  def run(spark: SparkSession, sfDir: String): Seq[Audit] = {
    val audits = Seq.newBuilder[Audit]
    // a query whose plan cannot be built (a missing input, say) records
    // one failed "plan builds" audit, and every other query is still
    // audited
    def built[T](name: String)(body: => T): Option[T] = Try(body) match {
      case Success(t) => Some(t)
      case Failure(e) =>
        val first = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
        audits += Audit(name, s"plan builds: ${e.getClass.getSimpleName}: $first", ok = false)
        None
    }
    def check(name: String, p: Option[String], what: String, pred: String => Boolean): Unit =
      p.foreach(text => audits += Audit(name, what, pred(text)))

    val scan = built("q_scan_filter")(plan(TpchCatalog.scanFilter(spark, sfDir)))
    check("q_scan_filter", scan, "filters pushed to parquet scan",
      _.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)"))
    check("q_scan_filter", scan, "column pruning (5-col ReadSchema, no l_tax)",
      p => p.contains("l_extendedprice") && !p.split("ReadSchema").last.contains("l_tax"))

    val joins = built("q_join_multi")(plan(TpchCatalog.joinMulti(spark, sfDir)))
    check("q_join_multi", joins, "dimension chain broadcasts",
      p => p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3)
    check("q_join_multi", joins, "partial+final hash aggregation",
      p => p.linesIterator.count(_.contains("HashAggregate")) >= 2)

    val topk = built("q_topk")(plan(TpchCatalog.topK(spark, sfDir)))
    check("q_topk", topk, "TakeOrderedAndProject (no full sort)",
      p => p.contains("TakeOrderedAndProject") && !p.contains("GlobalSort"))

    val agg = built("q_pricing_summary")(plan(TpchCatalog.pricingSummary(spark, sfDir)))
    check("q_pricing_summary", agg, "whole-stage codegen over scan+agg",
      p => p.contains("WholeStageCodegen") || p.contains("*(1)"))
    check("q_pricing_summary", agg, "partial aggregation before exchange",
      p => p.indexOf("HashAggregate") < p.indexOf("Exchange") ||
        p.linesIterator.count(_.contains("HashAggregate")) >= 2)

    // the bounded-heap top-k must plan as partial+final ObjectHashAggregate:
    // a partial-only or sort-based plan would shuffle every row and erase
    // the k×keys-per-map-partition win over the row_number window form
    val gtopk = built("q_group_topk")(plan(TpchCatalog.groupTopK(spark, sfDir)))
    check("q_group_topk", gtopk, "partial+final ObjectHashAggregate (heap combine map-side)",
      p => p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2 &&
        p.contains("partial_top_k"))

    val knn = built("q_vec_knn_brute")(plan(VectorCatalog.knnBrute(spark, sfDir)))
    check("q_vec_knn_brute", knn, "one narrow scoring pass (no join operator at all)",
      p => !p.contains("Join") && !p.contains("CartesianProduct"))
    // ...and the per-query top-k must be the bounded-heap aggregate with a
    // map-side partial: a window/row_number or partial-less plan funnels
    // all N·Q scored pairs into |Q| reducers — the unbounded shuffle this
    // rewrite removed (r9)
    check("q_vec_knn_brute", knn, "bounded top-k: partial+final ObjectHashAggregate, no window",
      p => p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2 &&
        p.contains("partial_top_k") && !p.contains("Window"))

    val semi = built("q_semi_join")(plan(TpchCatalog.semiJoin(spark, sfDir)))
    check("q_semi_join", semi, "left-semi strategy",
      p => p.contains("LeftSemi"))

    // bucketed co-located join: same bucket count both sides → no shuffle
    import graft.core.IO
    val bjoin = built("bucketed_join") {
      IO.writeBucketed(Tables.orders(spark, sfDir).limit(1000), "b_orders", "o_custkey", 8)
      IO.writeBucketed(Tables.customer(spark, sfDir), "b_customer", "c_custkey", 8)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      try plan(IO.bucketedJoin(spark, "b_orders", "b_customer", "o_custkey", "c_custkey"))
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    check("bucketed_join", bjoin, "co-located SortMergeJoin with ZERO exchange",
      p => p.contains("SortMergeJoin") && !p.contains("Exchange"))

    // the prefix-filtered similarity join must stay keyed on
    // (source, prefix-hash) — a cartesian or nested-loop fallback here is
    // exactly the O(n²) blowup the prefix bound exists to avoid
    val ngram = built("q_doc_ngram_sim")(plan(TextCatalog.ngramSimilarityPrefix(spark, sfDir)))
    check("q_doc_ngram_sim", ngram, "postings self-join keyed (no cartesian/BNLJ)",
      p => !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))

    // listing queries must scan the landed parquet copy, not re-read the
    // 317 multiLine JSON files (the round-3 bench anomaly)
    val listing = built("q_listing_normalize")(plan(ListingCatalog.normalize(spark, sfDir)))
    check("q_listing_normalize", listing, "landed columnar scan (parquet, not multiLine json)",
      p => p.contains("FileScan parquet") && !p.contains("FileScan json"))

    // the LSH bucket-occupancy guard must survive optimization: its
    // assert_true lowers to raise_error, which must appear in the final
    // physical plan (VectorSpec separately proves it fires at runtime)
    val ann = built("q_vec_ann_lsh")(plan(VectorCatalog.annLsh(spark, sfDir)))
    check("q_vec_ann_lsh", ann, "bucket-occupancy guard in final plan (raise_error)",
      p => p.contains("raise_error"))

    // the SpaceSaving sketch must combine map-side like the top-k heap:
    // partial+final ObjectHashAggregate, so the exchange carries m-counter
    // buffers per map partition instead of raw rows
    val hh = built("q_heavy_hitters")(plan(TpchCatalog.heavyHittersQ(spark, sfDir)))
    check("q_heavy_hitters", hh, "partial+final ObjectHashAggregate (sketch combine map-side)",
      p => p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2 &&
        p.contains("partial_heavy_hitters"))

    // IVF candidate selection must broadcast the tiny probe side and hash
    // the corpus on list_id — a nested-loop or cartesian fallback would
    // re-create the O(N·Q) scan the inverted lists exist to avoid
    val ivf = built("q_vec_ann_ivf")(plan(VectorCatalog.annIvf(spark, sfDir)))
    check("q_vec_ann_ivf", ivf, "probe side broadcast (hash join, no cartesian/BNLJ)",
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))

    // the Bloom probe must survive into the physical plan as a filter on
    // the fact side (that pre-exchange prune is the operator's entire
    // point), with the join itself a broadcast — never a fallback that
    // re-shuffles the rows the probe was built to drop
    val bloom = built("q_bloom_join")(plan(TpchCatalog.bloomJoin(spark, sfDir)))
    check("q_bloom_join", bloom, "might_contain probe filter + broadcast join",
      p => p.contains("might_contain") && p.contains("BroadcastHashJoin") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))

    // the mixture's per-group rate tables are tiny aggregates that must
    // come back to the corpus as broadcasts — a sort-merge join here
    // would shuffle the full corpus for a 5-row dimension
    val mix = built("q_doc_mixture")(plan(TextCatalog.mixture(spark, sfDir)))
    check("q_doc_mixture", mix, "rate tables broadcast back (no corpus SMJ)",
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))

    // the source cap computes source total, running sum, and rank in ONE
    // window pass: exactly one hash-partitioning exchange (the final
    // presentation sort adds a range exchange, which is fine)
    val cap = built("q_doc_source_cap")(plan(TextCatalog.sourceCap(spark, sfDir)))
    check("q_doc_source_cap", cap, "single window shuffle (one hashpartitioning exchange)",
      p => p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning")) == 1)

    // the ORC round-trip must get the same source-side treatment as
    // parquet: predicate pushdown into the ORC scan (both filter
    // conjuncts) — format parity is about the plan, not just the rows
    val orc = built("q_orc_roundtrip")(plan(MiscCatalog.orcRoundtrip(spark, sfDir)))
    check("q_orc_roundtrip", orc, "both filter conjuncts pushed into the ORC scan",
      p => p.linesIterator.exists(l =>
          l.contains("Scan") && l.toLowerCase.contains("orc")) &&
        p.linesIterator.exists(l => l.contains("PushedFilters: [") &&
          l.contains("o_orderstatus") && l.contains("o_totalprice")))

    // the inverted-index posting head must plan as the bounded heap with
    // a map-side partial — a collect_list/window fallback would carry a
    // stopword's ENTIRE posting list through the exchange
    val inv = built("q_doc_inverted")(plan(TextCatalog.invertedIndex(spark, sfDir)))
    check("q_doc_inverted", inv, "posting head partial+final ObjectHashAggregate",
      p => p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2 &&
        p.contains("partial_top_k") && !p.contains("Window"))

    // the MV roll-up must be REWRITTEN off the base table: the plan's
    // only file scan is the materialized store, never lineitem
    val mvq = built("q_mv_rollup")(plan(TpchCatalog.mvRollup(spark, sfDir)))
    check("q_mv_rollup", mvq, "aggregate rewritten to the MV scan (base table gone)",
      p => !p.contains("lineitem.parquet") && p.contains("graft_mv_store"))

    // the time-bucketed roll-up (r12): a month query composed from the
    // day-bucket store — the base orders scan must be gone
    val mvt = built("q_mv_time_rollup")(plan(TpchCatalog.mvTimeRollup(spark, sfDir)))
    check("q_mv_time_rollup", mvt, "month roll-up composed from the day-bucket MV (base gone)",
      p => !p.contains("orders.parquet") && p.contains("graft_mv_time"))

    // the armed advised join (r12): a PLAIN events⋈dim rewritten by the
    // optimizer rule into the hybrid hot/cold union — hot slice
    // broadcast, cold remainder co-partitioned, and the union visible in
    // the final plan
    val jauto = built("q_join_auto")(plan(EventsCatalog.joinAuto(spark, sfDir)))
    check("q_join_auto", jauto, "hybrid hot/cold union with a broadcast hot slice",
      p => p.contains("Union") && p.contains("BroadcastHashJoin"))

    // BM25: the df table broadcasts back to the tf rows (a SMJ here
    // would shuffle the corpus for a |terms|-row dimension) and the
    // top-20 compiles to TakeOrderedAndProject, never a global sort.
    // (The 1-row stats side arrives via broadcast nested-loop — correct
    // for a single-row cross join, so no BNLJ prohibition here.)
    val bm = built("q_doc_bm25")(plan(TextCatalog.bm25(spark, sfDir)))
    check("q_doc_bm25", bm, "df broadcast + TakeOrderedAndProject top-20",
      p => p.contains("TakeOrderedAndProject") &&
        p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))

    // semantic dedup pairs within k-means cells from the vec_id-sorted
    // cell ARRAY after one shuffle by cell id (r18) — no join operator
    // at all: a cartesian/BNLJ fallback is the O(N²) scan the cells
    // exist to avoid, and even a keyed self-join would recompute the
    // Lloyd assignment per side
    val sem = built("q_vec_semdedup")(plan(VectorCatalog.semDedup(spark, sfDir)))
    check("q_vec_semdedup", sem, "within-cell array pairing (no join operator at all)",
      p => !p.contains("Join") && !p.contains("CartesianProduct"))

    // the composed IVF-PQ search keeps IVF's candidate contract: probe
    // side broadcast, no cartesian/BNLJ resurrection through the extra
    // code join
    val ivfpq = built("q_vec_ann_ivf_pq")(plan(VectorCatalog.annIvfPq(spark, sfDir)))
    check("q_vec_ann_ivf_pq", ivfpq, "probe broadcast + keyed code join (no cartesian/BNLJ)",
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))

    // the incremental media probe must broadcast the new batch into the
    // history scan — a sort-merge fallback would shuffle the history,
    // which is the exact anti-pattern the incremental path exists to
    // avoid
    val mincr = built("q_media_dedup_incr")(
      plan(graft.multimodal.Multimodal.mediaDedupIncr(spark, sfDir)))
    check("q_media_dedup_incr", mincr, "new batch broadcast into history scan (no SMJ)",
      p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))

    // every catalog query's analyzed plan, built once for the two
    // catalog-wide audits below; a builder that throws records a failed
    // "plan builds" audit instead of dropping out of both
    val analyzed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, f) =>
      built(name)(f(spark, sfDir).queryExecution.analyzed).map(name -> _)
    }

    // every catalog query's ANALYZED plan must be free of trivially-true
    // join equalities (left semantically equal to right): when a self-join
    // condition like q("tbl") === e("tbl") resolves both sides to the SAME
    // attribute, Spark silently drops the predicate (it only logs
    // "Constructing trivially true equals predicate") — which is how the
    // round-5 ANN candidate join lost its table constraint and matched
    // probes against every table's buckets. Analyzed (pre-optimizer) plans
    // still carry the degenerate predicate, so it is detectable here.
    val trivialEqs = analyzed.flatMap { case (name, p) =>
      p.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.toSeq.flatMap(_.collect {
            case e: org.apache.spark.sql.catalyst.expressions.EqualTo
                if e.left.semanticEquals(e.right) => s"$name: ${e.sql}"
            case e: org.apache.spark.sql.catalyst.expressions.EqualNullSafe
                if e.left.semanticEquals(e.right) => s"$name: ${e.sql}"
          })
      }.flatten
    }
    audits += Audit("catalog",
      "no trivially-true join equalities (silently dropped predicates)" +
        (if (trivialEqs.isEmpty) "" else s": ${trivialEqs.mkString("; ")}"),
      trivialEqs.isEmpty)

    // ...and no INNER-join condition conjunct referencing only ONE side's
    // attributes: such a conjunct is not a join key — Catalyst rewrites
    // it as a filter, and if no two-sided conjunct remains the join
    // degenerates toward a cartesian. It is the alias-collapse bug class
    // one notch past trivially-true equality (a condition meant as
    // q.x === e.x where BOTH attributes resolved to the same side —
    // distinct attributes, so semanticEquals misses it). Inner joins
    // only: for outer/semi/anti joins a one-sided conjunct is
    // load-bearing (it limits which rows MATCH, not which rows appear)
    // and cannot be rewritten as a pre-filter.
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val oneSided = analyzed.flatMap { case (name, p) =>
      p.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
              j.condition.isDefined =>
          conjuncts(j.condition.get).collect {
            case c if c.references.nonEmpty &&
                (c.references.subsetOf(j.left.outputSet) ||
                  c.references.subsetOf(j.right.outputSet)) =>
              s"$name: ${c.sql}"
          }
      }.flatten
    }
    audits += Audit("catalog",
      "no one-sided inner-join conjuncts (filters masquerading as join keys)" +
        (if (oneSided.isEmpty) "" else s": ${oneSided.mkString("; ")}"),
      oneSided.isEmpty)

    // date-partitioned layout: time predicate prunes at directory level
    val pread = built("partition_pruning") {
      val pdir = java.nio.file.Files.createTempDirectory("graft_part").toString
      IO.writePartitioned(
        Tables.events(spark, sfDir).withColumn("d", to_date(col("ts"))), s"$pdir/ev", "d")
      plan(IO.readPartition(spark, s"$pdir/ev", "d", "2024-01-05"))
    }
    check("partition_pruning", pread, "date predicate prunes partitions at the scan",
      p => p.contains("PartitionFilters: [isnotnull(d") && p.contains("= 2024-01-05"))

    // DSv2 epochstore connector (r12): the q_doc_search probe must read
    // through a pinned EpochStoreScan whose bucket In-filter is pushed
    // (partition filters present, no data-filter duplicate) and whose
    // dir pruning keeps no more bucket dirs than the probed terms hash
    // to — the engine-grade form of the persisted-index pruning proof
    def storeScansOf(df: org.apache.spark.sql.DataFrame)
        : Seq[graft.sources.EpochStoreScan] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
      }.collect { case s: graft.sources.EpochStoreScan => s }
    built("q_doc_search") {
      val storeScans = storeScansOf(TextCatalog.docSearch(spark, sfDir))
      audits += Audit("q_doc_search", "probe reads through the epochstore DSv2 scan",
        storeScans.size == 1)
      storeScans.foreach { s =>
        audits += Audit("q_doc_search",
          s"bucket filter pushed to the connector (${s.partFilters.mkString(", ")})",
          s.partFilters.nonEmpty)
        val (sel, tot) = s.selectedPartitionDirs
        audits += Audit("q_doc_search",
          s"partition dirs pruned at scan planning ($sel/$tot kept)",
          sel <= 5 * s.entries.size && sel < tot)
      }
    }

    // catalog-plugin SQL (r12): the SQL-resolved store must read through
    // the SAME pinned EpochStoreScan as the programmatic path — catalog
    // resolution adds naming, never a different (unpruned) scan
    built("q_store_sql") {
      audits += Audit("q_store_sql",
        "catalog-resolved SQL reads through the epochstore DSv2 scan",
        storeScansOf(MiscCatalog.storeSql(spark, sfDir)).size == 1)
    }

    // dynamic partition pruning through the connector (r12): the dim's
    // joined lang set must reach EpochStoreScan.filter at RUNTIME (no
    // static lang predicate exists on the store side) and shrink the
    // listed dir set — execute first, the filter only lands then
    def physNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        physNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: physNodes(q.plan)
      case other => other +: other.children.flatMap(physNodes)
    }
    built("q_store_dpp") {
      val dpp = MiscCatalog.storeDpp(spark, sfDir)
      dpp.collect()
      val dppScans = physNodes(dpp.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collect { case s: graft.sources.EpochStoreScan => s }
      audits += Audit("q_store_dpp",
        "join executes through the epochstore DSv2 scan", dppScans.size == 1)
      dppScans.foreach { s =>
        audits += Audit("q_store_dpp",
          "the dim's joined partition set reached the scan at runtime",
          s.runtimeFiltered)
        val (sel, tot) = s.selectedPartitionDirs
        audits += Audit("q_store_dpp",
          s"runtime pruning shrank the dir listing ($sel/$tot kept)",
          sel < tot)
      }
    }

    // metadata-only aggregation (r12): the pushed COUNT/MIN/MAX must
    // plan as the footer-statistics scan — if a row scan survives, the
    // "how big is this table" query is reading the table again
    built("q_store_agg") {
      val aggScans = MiscCatalog.storeAgg(spark, sfDir).queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      audits += Audit("q_store_agg",
        "aggregate pushed: the plan scans footers, not rows",
        aggScans.size == 1 &&
          aggScans.head.isInstanceOf[graft.sources.EpochStoreAggScan])
    }

    // bloom file-skipping (r12): the point lookup must consult the
    // sidecars and open fewer files than it listed
    built("q_store_bloomskip") {
      val bloomScans = storeScansOf(MiscCatalog.storeBloomskip(spark, sfDir))
      audits += Audit("q_store_bloomskip",
        "lookup reads through the epochstore scan", bloomScans.size == 1)
      bloomScans.foreach { s =>
        val (kept, tot) = s.skippedFilesAudit
        audits += Audit("q_store_bloomskip",
          s"bloom sidecars skipped files ($kept/$tot kept)",
          tot >= 5 && kept < tot)
      }
    }

    // stats-sidecar file skipping (r12): the range probe must plan only
    // the files whose recorded [min, max] intersects it
    built("q_store_statskip") {
      val statScans = storeScansOf(MiscCatalog.storeStatskip(spark, sfDir))
      audits += Audit("q_store_statskip",
        "range probe reads through the epochstore scan", statScans.size == 1)
      statScans.foreach { s =>
        val (kept, tot) = s.skippedFilesAudit
        audits += Audit("q_store_statskip",
          s"stats sidecars skipped files ($kept/$tot kept)",
          tot >= 4 && kept < tot)
      }
    }

    // sorted store + pushed TopN (r12): ORDER BY n_chars LIMIT 20 must
    // reach the scan as a TopN and open only the bound-covering files
    built("q_store_topn") {
      val topScans = storeScansOf(MiscCatalog.storeTopn(spark, sfDir))
      audits += Audit("q_store_topn",
        "ORDER BY LIMIT pushed into the scan as a TopN",
        topScans.size == 1 && topScans.head.topN.nonEmpty)
      topScans.foreach { s =>
        val (kept, tot) = s.skippedFilesAudit
        audits += Audit("q_store_topn",
          s"TopN file bound skipped files ($kept/$tot kept)",
          tot >= 8 && kept < tot)
      }
    }

    // z-ordered store (r12): the 2-D rectangle must skip files on BOTH
    // dimensions' recorded stats
    built("q_store_zorder") {
      val zScans = storeScansOf(MiscCatalog.storeZorder(spark, sfDir))
      audits += Audit("q_store_zorder",
        "2-D probe reads through the epochstore scan", zScans.size == 1)
      zScans.foreach { s =>
        val (kept, tot) = s.skippedFilesAudit
        audits += Audit("q_store_zorder",
          s"z-curve stats skipped files ($kept/$tot kept)",
          tot >= 8 && kept < tot)
      }
    }

    // sidecar-answered aggregation (r12): the grouped COUNT/MIN/MAX over
    // the stats-declared store must fold on the driver — zero file opens
    built("q_store_agg_meta") {
      val metaScans = MiscCatalog.storeAggMeta(spark, sfDir)
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
        }.collect { case s: graft.sources.EpochStoreAggScan => s }
      audits += Audit("q_store_agg_meta",
        "aggregate pushed: the plan carries the agg scan", metaScans.size == 1)
      audits += Audit("q_store_agg_meta",
        "answer folded from the stats sidecars (no file, no footer opened)",
        metaScans.headOption.exists(_.answeredFromSidecars))
    }

    // stats-preserving compaction (r12): the SAME range probe that the
    // interleaved history couldn't prune must skip on the re-sorted,
    // stats-re-derived fold
    built("q_store_compact") {
      val cScans = storeScansOf(MiscCatalog.storeCompact(spark, sfDir))
      audits += Audit("q_store_compact",
        "post-fold probe reads through the epochstore scan", cScans.size == 1)
      cScans.foreach { s =>
        val (kept, tot) = s.skippedFilesAudit
        audits += Audit("q_store_compact",
          s"re-derived fold stats skipped files ($kept/$tot kept)",
          tot >= 4 && kept < tot)
      }
    }

    // pruned-size statistics → auto-broadcast (r12): under a threshold
    // the FULL store exceeds, the fr-pruned side must broadcast with NO
    // hint, purely from the scan's post-pruning size report
    built("q_store_broadcast") {
      import org.apache.spark.sql.types._
      val lsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("n_chars", LongType),
        StructField("lang", StringType)))
      val lsDir = MiscCatalog.langStore(spark, sfDir)
      def sizeOf(df: org.apache.spark.sql.DataFrame): Long =
        storeScansOf(df).head.estimateStatistics().sizeInBytes.getAsLong
      val fullSize = sizeOf(
        graft.sources.EpochStore.read(spark, lsDir, lsSchema, "lang"))
      val prunedSize = sizeOf(
        graft.sources.EpochStore.read(spark, lsDir, lsSchema, "lang")
          .filter(col("lang") === "fr"))
      audits += Audit("q_store_broadcast",
        s"pruned scan reports a smaller size ($prunedSize < $fullSize)",
        prunedSize * 2 < fullSize)
      val oldThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          ((prunedSize + fullSize) / 2).toString)
        val bj = MiscCatalog.storeBroadcast(spark, sfDir)
        val nBroadcast = bj.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.joins
            .BroadcastHashJoinExec => b
        }.size
        audits += Audit("q_store_broadcast",
          "fr-pruned store auto-broadcasts from its reported size (no hint)",
          nBroadcast == 1)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThr)
    }

    // storage-partitioned join (r12): the co-partitioned two-store join
    // + per-lang roll-up must run with ZERO hash exchange (the only
    // allowed exchange is the presentation orderBy's range shuffle)
    built("q_store_spj") {
      val spjProf = graft.core.Metrics.measure(MiscCatalog.storeSpj(spark, sfDir))
      audits += Audit("q_store_spj",
        s"co-partitioned store join shuffles nothing (${spjProf.nHashExchanges} " +
          "hash exchanges)",
        spjProf.nHashExchanges == 0)
    }

    // a query audited above and again in the catalog pass reports the
    // same build failure once
    audits.result().distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // the bench's recipe with ONE difference: AQE off, so the static
    // plans this audit reads show codegen markers and join strategies
    // (AQE defers both to execution)
    val spark = Bench.sessionBuilder("4")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val audits = run(spark, sfDir)
    audits.foreach { a =>
      println(f"${if (a.ok) "PASS" else "FAIL"}%s  ${a.query}%-22s ${a.what}")
    }
    val failures = audits.count(!_.ok)
    println(if (failures == 0) "ALL PLAN AUDITS PASS" else s"$failures AUDIT(S) FAILED")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
