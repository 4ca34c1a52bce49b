package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, AttributeReference, Cast, Coalesce, Divide, Expression,
  ExprId, Literal, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, AggregateFunction, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, date_trunc, lit, max, min, sum}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Materialized-aggregate (roll-up) rewrite — the warehouse accelerator,
  * engine-native: register a pre-aggregated copy of a fact table once
  * ([[MaterializedAgg.register]]), and every subsequent aggregate over
  * the BASE table whose shape the cube covers is transparently rewritten
  * by a `Rule[LogicalPlan]` to re-aggregate the tiny materialized store
  * instead of scanning the fact table. The query author keeps writing
  * against the base table; the plan stops reading it.
  *
  * Why this matters at 100 TB: dashboard/report aggregates hit the same
  * few grouping columns over and over. Each run over the base is a full
  * fact-table scan + shuffle; over the MV it is a scan of
  * |distinct group keys| pre-combined rows — typically 4-6 orders of
  * magnitude less IO — and every roll-up to a SUBSET of the MV's
  * grouping columns is served by the same store (count re-sums `__cnt`,
  * sums re-sum partial sums, min/max re-fold — all decomposable).
  *
  * Soundness envelope (the rule REFUSES anything outside it — a
  * non-matching query silently keeps its base-table plan):
  *  - the aggregate's child must be the registered base scan, optionally
  *    under attribute-only Projects and Filters that reference ONLY the
  *    MV's grouping columns (a filter on a measure would need base rows);
  *  - grouping expressions must be bare attributes ⊆ the MV's grouping
  *    columns (subset = roll-up, the whole point);
  *  - every aggregate must be decomposable and registered:
  *    `count(lit)` → sum(`__cnt`); `sum(c)` / `sum(cast(c as long))`
  *    → sum of the stored partial sums; `min(c)`/`max(c)` → re-fold.
  *    No DISTINCT, no agg filters, and the rewritten function must
  *    preserve the original result TYPE exactly (e.g. a decimal sum
  *    re-widens and is rejected) — downstream operators hold on to the
  *    output attributes, so the rewrite keeps every output exprId via
  *    aliasing.
  *
  * Staleness is the registrar's contract, as in every MV system: the
  * store answers as of its build; rebuild (re-`register`) when the base
  * changes. MvSpec proves rewritten == unrewritten row-for-row, the
  * plan-level proof that the base path disappears from the scan set, and
  * the refusal cases. */
object MaterializedAgg {

  /** One registered MV: the decomposition-legend of what the store can
    * answer (ordered Seqs — [[cube]] rebuilds the same aggregate list
    * for delta batches), its manifest root + stored schema, and a thunk
    * yielding a FRESH analyzed scan plan per use (fresh exprIds, fresh
    * manifest snapshot — an epoch appended by [[append]] is visible to
    * the next query without re-registration). `sumLongCols` are measures
    * stored as `sum(cast(c as long))` — the engine's decimal-exact
    * integer-sum idiom ([[graft.queries.Parity]]). */
  private final case class Meta(
      groupCols: Seq[String],
      sumCols: Seq[String],
      sumLongCols: Seq[String],
      minCols: Seq[String],
      maxCols: Seq[String],
      cntCols: Seq[String],
      timeBuckets: Seq[(String, String)],
      buildTz: String,
      mvRoot: String,
      schema: org.apache.spark.sql.types.StructType,
      freshPlan: () => LogicalPlan)

  // ------------------------------------------------------------- time units
  // The time dimension of the lattice: a bucket stored at unit F answers a
  // query truncating to unit C iff trunc_C ∘ trunc_F = trunc_C. That holds
  // along the calendar chain (second ⊂ minute ⊂ hour ⊂ day ⊂ month ⊂
  // quarter ⊂ year) and for week-of anything day-or-finer — but NOT across
  // week/month (a week straddles month boundaries), which is why `week`
  // sits outside the ranked chain.
  private val unitRank = Map("second" -> 0, "minute" -> 1, "hour" -> 2,
    "day" -> 3, "month" -> 4, "quarter" -> 5, "year" -> 6)

  private def canonUnit(u: String): String = u.toLowerCase match {
    case "yyyy" | "yy"  => "year"
    case "mon" | "mm"   => "month"
    case "dd"           => "day"
    case other          => other
  }

  private def knownUnit(u: String): Boolean =
    unitRank.contains(u) || u == "week"

  /** Can a query truncating to `coarse` be answered from buckets stored
    * at `fine`? */
  private def composes(coarse: String, fine: String): Boolean =
    (unitRank.get(coarse), unitRank.get(fine)) match {
      case (Some(c), Some(f)) => c >= f
      case _ if coarse == "week" => fine == "week" || unitRank.get(fine).exists(_ <= unitRank("day"))
      case _ => false
    }

  // keyed by the base relation's root-path set — JVM-global so every
  // session sharing the warehouse sees the store (rule injection itself
  // stays per-session). A base may carry SEVERAL views (a cube
  // lattice); the rewrite tries the narrowest covering one first.
  private val registry = TrieMap.empty[Set[String], List[Meta]]

  private def rootPaths(lr: LogicalRelation): Option[Set[String]] =
    lr.relation match {
      case fs: HadoopFsRelation => Some(fs.location.rootPaths.map(_.toString).toSet)
      case _ => None
    }

  private def basePathsOf(base: DataFrame): Set[String] =
    base.queryExecution.analyzed.collect {
      case lr: LogicalRelation => rootPaths(lr).getOrElse(Set.empty)
    }.flatten.toSet

  /** The partial cube of one row batch under `meta`'s spec — what epoch
    * 0 stores for the base and [[append]] stores per delta batch.
    * Partials COMPOSE under the rewrite's own re-aggregation (counts
    * and sums re-sum, min/max re-fold), which is exactly why appending
    * partial cubes keeps the view current with no recompute. */
  private def cube(rows: DataFrame, meta: Meta): DataFrame = {
    val aggs = Seq(count(lit(1)).as("__cnt")) ++
      meta.sumCols.map(c => sum(col(c)).as(s"__sum_$c")) ++
      meta.sumLongCols.map(c => sum(col(c).cast("long")).as(s"__suml_$c")) ++
      meta.minCols.map(c => min(col(c)).as(s"__min_$c")) ++
      meta.maxCols.map(c => max(col(c)).as(s"__max_$c")) ++
      meta.cntCols.map(c => count(col(c)).as(s"__cntn_$c"))
    val grp = meta.groupCols.map(col) ++
      meta.timeBuckets.map { case (c, u) => date_trunc(u, col(c)).as(s"__tb_$c") }
    rows.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The MV store's full grouping-column list: regular columns plus the
    * materialized time buckets. */
  private def storedGroupCols(meta: Meta): Seq[String] =
    meta.groupCols ++ meta.timeBuckets.map { case (c, _) => s"__tb_$c" }

  /** Run `body` with every view of `basePaths` unregistered, restoring
    * them after (minus any a concurrent register replaced). The cube
    * builds in [[register]]/[[append]] aggregate the base/delta scan in
    * EXACTLY the shape the armed rule rewrites — without the suspension
    * a REBUILD's cube query is answered by the stale view it is
    * supposed to replace, silently persisting the stale totals as the
    * "fresh" epoch 0 (caught by MvSpec's re-register test). Queries
    * racing the window just use the base: correct, merely slower. */
  private def withRewriteSuspended[T](basePaths: Set[String])(body: => T): T = {
    val snapshot = registry.synchronized {
      val cur = registry.getOrElse(basePaths, Nil)
      registry.put(basePaths, Nil)
      cur
    }
    try body finally registry.synchronized {
      val now = registry.getOrElse(basePaths, Nil)
      registry.put(basePaths,
        now ++ snapshot.filterNot(m => now.exists(_.mvRoot == m.mvRoot)))
    }
  }

  /** Build the MV store at manifest root `mvPath` from `base` (which
    * must contain the fact table's file-relation scan) as epoch 0,
    * register it for the rewrite, and arm the rule on `base`'s session.
    * Re-registering the same base replaces the entry (the rebuild
    * path). The store is an [[graft.core.EpochManifest]] root, so
    * [[append]] / [[graft.streaming.Jobs.mvMaintain]] extend it with
    * exactly-once delta epochs and [[compact]] re-folds them. */
  def register(base: DataFrame, groupCols: Seq[String], mvPath: String,
               sumCols: Seq[String] = Nil, sumLongCols: Seq[String] = Nil,
               minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
               cntCols: Seq[String] = Nil,
               timeBuckets: Seq[(String, String)] = Nil): Unit = {
    val spark = base.sparkSession
    val basePaths = basePathsOf(base)
    require(basePaths.nonEmpty,
      "MaterializedAgg.register: base is not a file-relation scan")
    val tbs = timeBuckets.map { case (c, u) => (c, canonUnit(u)) }
    tbs.foreach { case (c, u) => require(knownUnit(u),
      s"MaterializedAgg.register: unknown time-bucket unit '$u' for $c") }
    // time buckets truncate under the REGISTERING session's zone; a
    // query truncating under a different zone must refuse (day/week/
    // month boundaries shift with the zone), so the build zone is part
    // of the view's identity
    val buildTz = org.apache.spark.sql.GraftBridge
      .sessionConf(spark).sessionLocalTimeZone
    val meta0 = Meta(groupCols, sumCols, sumLongCols, minCols, maxCols,
      cntCols, tbs, buildTz, mvPath, null, null)
    // build + land the fresh cube with the base's views SUSPENDED (a
    // rebuild's cube aggregate must scan the base, not be answered by
    // the stale view it replaces), and RESET the manifest to exactly
    // the new epoch 0 — append() would merge with existing entries, so
    // a re-register on a store holding delta/fold epochs would
    // double-count every stale epoch; gc's two-manifest lag reclaims
    // the old dirs without pulling them out from under a pinned reader
    val schema = withRewriteSuspended(basePaths) {
      import graft.core.EpochManifest
      val cube0 = cube(base, meta0)
      val dir = EpochManifest.newDataDir(spark, mvPath, 0L)
      cube0.write.mode("overwrite").parquet(s"$mvPath/$dir")
      EpochManifest.commit(spark, mvPath, Seq(EpochManifest.Entry(0L, dir)))
      EpochManifest.gc(spark, mvPath)
      cube0.schema
    }
    // resolve the QUERYING session at rewrite time, never the registering
    // one: the registry is JVM-global and outlives sessions, so a thunk
    // that captured `spark` here would plan scans against a session the
    // user may since have stopped — SparkSession.active inside an
    // optimizer rule is the session running that optimization
    val meta = meta0.copy(schema = schema, freshPlan = () =>
      graft.core.EpochManifest.read(SparkSession.active, mvPath, schema)
        .queryExecution.analyzed)
    registry.synchronized {
      val cur = registry.getOrElse(basePaths, Nil).filterNot(_.mvRoot == mvPath)
      registry.put(basePaths, meta :: cur)
    }
    GraftBridge.addOptimization(spark, RewriteToMaterializedAgg)
  }

  /** Resolve one view of `base` for a maintenance op: unambiguous when
    * one view is registered; multi-view bases must name the root. */
  private def metaFor(base: DataFrame, mvRoot: String, op: String): Meta = {
    val ms = registry.getOrElse(basePathsOf(base), Nil)
    val m =
      if (mvRoot == null) ms match { case only :: Nil => Some(only); case _ => None }
      else ms.find(_.mvRoot == mvRoot)
    m.getOrElse(throw new IllegalStateException(
      s"MaterializedAgg.$op: base has ${ms.size} registered view(s)" +
        (if (mvRoot == null) " — name the mvRoot" else s"; none at $mvRoot")))
  }

  /** Extend the MV with a DELTA batch (rows appended to the base since
    * the last epoch) as manifest epoch `epoch`: the batch's partial cube
    * lands as an immutable attempt dir committed by one atomic manifest
    * rename — a streaming retry REPLACES its epoch's entry, so the view
    * is exactly-once under a checkpoint, and queries see the new epoch
    * on their next plan (the rewrite re-reads the manifest per query). */
  def append(base: DataFrame, delta: DataFrame, epoch: Long,
             mvRoot: String = null): Unit = {
    val basePaths = basePathsOf(base)
    val meta = metaFor(base, mvRoot, "append")
    // a delta that happens to be a (filtered) base scan would otherwise
    // have its partial cube answered by the view being extended
    withRewriteSuspended(basePaths) {
      graft.core.EpochManifest.append(cube(delta, meta), meta.mvRoot, epoch)
    }
  }

  /** Fold all committed epochs < `uptoEpoch` into ONE re-aggregated
    * partial cube (counts/sums re-summed, min/max re-folded — a valid
    * partial again) and swap it in with a single manifest commit: the
    * MV's row count returns to |distinct group keys| no matter how many
    * delta epochs streamed in. Readers keep their snapshot
    * ([[graft.core.EpochManifest]]'s two-manifest gc lag). */
  def compact(base: DataFrame, uptoEpoch: Long = Long.MaxValue,
              mvRoot: String = null): Unit = {
    val meta = metaFor(base, mvRoot, "compact")
    val refold = Seq(sum(col("__cnt")).as("__cnt")) ++
      meta.sumCols.map(c => sum(col(s"__sum_$c")).as(s"__sum_$c")) ++
      meta.sumLongCols.map(c => sum(col(s"__suml_$c")).as(s"__suml_$c")) ++
      meta.minCols.map(c => min(col(s"__min_$c")).as(s"__min_$c")) ++
      meta.maxCols.map(c => max(col(s"__max_$c")).as(s"__max_$c")) ++
      meta.cntCols.map(c => sum(col(s"__cntn_$c")).as(s"__cntn_$c"))
    // the shared OCC fold compaction: a concurrent refresh's delta epoch
    // above the fold span rebases in; a touched covered partial refuses
    graft.core.EpochManifest.compact(base.sparkSession, meta.mvRoot,
      meta.schema, uptoEpoch, fold = partials =>
        partials.groupBy(storedGroupCols(meta).map(col): _*)
          .agg(refold.head, refold.tail: _*)
          // re-summing widens (__cnt, decimal sums) — cast back so the
          // fold's schema stays byte-identical to an epoch-0 cube
          .select(meta.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*))
  }

  /** Drop a registration (tests; a production drop-MV). `mvRoot = null`
    * drops EVERY view of the base; naming a root drops just that view —
    * the cube-lattice case, where the other lattice members keep
    * serving. */
  def unregister(base: DataFrame, mvRoot: String = null): Unit = {
    val key = basePathsOf(base)
    if (mvRoot == null) { registry.remove(key); () }
    else drop(key, mvRoot)
  }

  /** Remove one view from a base's list, dropping the key when empty. */
  private def drop(key: Set[String], mvRoot: String): Unit =
    registry.synchronized {
      val now = registry.getOrElse(key, Nil).filterNot(_.mvRoot == mvRoot)
      if (now.isEmpty) registry.remove(key) else registry.put(key, now)
      ()
    }


  /** The rewrite rule. Runs in the late per-session experimental batch
    * ([[GraftBridge.addOptimization]]) — after standard optimization, so
    * the matched shape is the canonical Aggregate-over-(Project/Filter)-
    * over-relation; after a rewrite the new child scans the MV path,
    * which is never registered, so the fixed-point converges. */
  object RewriteToMaterializedAgg extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

    /** One pulled-out `date_trunc` grouping alias found on the way down:
      * the query's truncation unit, the base column truncated, and the
      * resolved expression's time zone + result type (reused verbatim
      * when the truncation is re-rooted onto the stored bucket). */
    private final case class TimeAlias(unit: String, baseCol: String,
        tz: Option[String], dt: org.apache.spark.sql.types.DataType)

    /** Recognize the shape `PullOutGroupingExpressions` gives a
      * `date_trunc(unit, ts)` grouping expression (optionally through the
      * implicit cast a DATE/NTZ column picks up). */
    private def timeAlias(e: Expression): Option[TimeAlias] = e match {
      case t @ TruncTimestamp(Literal(fmt, StringType), ts, tz) =>
        val unit = canonUnit(String.valueOf(fmt))
        val base = ts match {
          case a: AttributeReference => Some(a.name)
          case Cast(a: AttributeReference, _, _, _) => Some(a.name)
          case _ => None
        }
        base.filter(_ => knownUnit(unit))
          .map(TimeAlias(unit, _, tz, t.dataType))
      case _ => None
    }

    /** Unwrap Projects and Filters down to the relation, accumulating
      * filter conditions and pulled-out time-bucket grouping aliases.
      * Projects may carry only bare attributes and recognized
      * `date_trunc` aliases — anything else keeps the base plan. */
    private def unwrap(p: LogicalPlan, conds: Seq[Expression],
        tas: Map[ExprId, TimeAlias])
        : Option[(Seq[Expression], Map[ExprId, TimeAlias], LogicalRelation)] =
      p match {
        case lr: LogicalRelation => Some((conds, tas, lr))
        case Filter(c, ch) => unwrap(ch, conds :+ c, tas)
        case Project(pl, ch) =>
          var m = tas
          val ok = pl.forall {
            case _: AttributeReference => true
            case al @ Alias(e, _) => timeAlias(e) match {
              case Some(ta) => m += (al.exprId -> ta); true
              case None => false
            }
            case _ => false
          }
          if (ok) unwrap(ch, conds, m) else None
        case _ => None
      }

    private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
      val (conds, timeAliases, baseRel) =
        unwrap(agg.child, Nil, Map.empty).getOrElse(return None)
      val key = rootPaths(baseRel).getOrElse(return None)
      val candidates = registry.getOrElse(key, Nil)
      // narrowest covering view wins: fewer grouping columns = fewer
      // distinct keys = the smallest store that can still answer.
      // A candidate whose store no longer opens (dir deleted by another
      // session's workspace eviction, manifest externally removed) must
      // not crash an unrelated aggregate — the contract is "non-matching
      // query silently keeps its base plan", so an unreadable view is
      // dropped from the registry and the search falls through to the
      // next candidate or the base table
      candidates.sortBy(m => m.groupCols.size + m.timeBuckets.size).view
        .flatMap { m =>
          try rewriteWith(agg, conds, timeAliases, m)
          catch {
            case scala.util.control.NonFatal(e) =>
              logWarning(s"materialized view at ${m.mvRoot} is unreadable " +
                s"(${e.getMessage}); unregistering it and keeping the base plan")
              drop(key, m.mvRoot)
              None
          }
        }
        .headOption
    }

    private def rewriteWith(agg: Aggregate, conds: Seq[Expression],
                            timeAliases: Map[ExprId, TimeAlias],
                            meta: Meta): Option[LogicalPlan] = {
      // fresh plan per use — fresh exprIds (two rewrites in one query
      // must not collide) AND a fresh manifest snapshot (epochs appended
      // since registration are picked up without re-registering)
      val mv = meta.freshPlan()
      // registered names are derived from the same meta that built the
      // store, so a miss means the MV file was replaced externally —
      // fail loudly rather than silently compute from a wrong column
      def mvAttr(n: String): Attribute =
        mv.output.find(_.name == n).getOrElse(throw new IllegalStateException(
          s"materialized view lost column $n — rebuild via register()"))
      // each grouping attr is either a registered regular grouping column
      // or a pulled-out date_trunc alias whose unit COMPOSES from a
      // stored bucket (coarser units roll up from finer — the time
      // dimension of the lattice; a finer-than-stored unit refuses)
      val grpAttrs: Seq[(Attribute, Option[TimeAlias])] =
        agg.groupingExpressions.map {
          case a: AttributeReference if meta.groupCols.contains(a.name) =>
            (a, None)
          case a: AttributeReference if timeAliases.contains(a.exprId) =>
            val ta = timeAliases(a.exprId)
            // unit must compose AND the query must truncate in the SAME
            // zone the buckets were built in — a different session zone
            // shifts day/week/month boundaries and the stored buckets
            // cannot answer it
            meta.timeBuckets.find(_._1 == ta.baseCol) match {
              case Some((_, stored)) if composes(ta.unit, stored) &&
                  ta.tz.contains(meta.buildTz) =>
                (a, Some(ta))
              case _ => return None
            }
          case _ => return None
        }
      val timeGrpIds: Set[ExprId] =
        grpAttrs.collect { case (a, Some(_)) => a.exprId }.toSet
      // filters must reference only grouping columns AND be deterministic:
      // a nondeterministic condition (rand() < p) evaluated per MV group
      // row instead of per base row silently changes the answer
      if (!conds.forall(c => c.deterministic &&
          c.references.forall(r => meta.groupCols.contains(r.name))))
        return None
      def rewriteAgg(ae: AggregateExpression): Option[AggregateFunction] = {
        if (ae.isDistinct || ae.filter.nonEmpty) return None
        ae.aggregateFunction match {
          case Count(Seq(Literal(_, _))) => Some(Sum(mvAttr("__cnt")))
          // non-null count: re-sum the stored per-column count partials
          case Count(Seq(a: AttributeReference))
              if meta.cntCols.contains(a.name) =>
            Some(Sum(mvAttr(s"__cntn_${a.name}")))
          case s: Sum => s.child match {
            case a: AttributeReference if meta.sumCols.contains(a.name) =>
              Some(Sum(mvAttr(s"__sum_${a.name}")))
            case c: Cast if c.dataType == LongType &&
                c.child.isInstanceOf[AttributeReference] &&
                meta.sumLongCols.contains(
                  c.child.asInstanceOf[AttributeReference].name) =>
              Some(Sum(mvAttr(
                s"__suml_${c.child.asInstanceOf[AttributeReference].name}")))
            case _ => None
          }
          case Min(a: AttributeReference) if meta.minCols.contains(a.name) =>
            Some(Min(mvAttr(s"__min_${a.name}")))
          case Max(a: AttributeReference) if meta.maxCols.contains(a.name) =>
            Some(Max(mvAttr(s"__max_${a.name}")))
          case _ => None
        }
      }
      val newRes = agg.aggregateExpressions.map {
        // a time-bucket grouping attr re-resolves against the re-rooted
        // truncation the new Project below emits under the SAME exprId —
        // pass it through untouched
        case a: AttributeReference if timeGrpIds.contains(a.exprId) => a
        case al @ Alias(a: AttributeReference, _)
            if timeGrpIds.contains(a.exprId) => al
        case a: AttributeReference if meta.groupCols.contains(a.name) =>
          Alias(mvAttr(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier)
        case al @ Alias(a: AttributeReference, name)
            if meta.groupCols.contains(a.name) =>
          Alias(mvAttr(a.name), name)(exprId = al.exprId, qualifier = al.qualifier)
        // avg decomposes to a COMPOSITE result expression over two new
        // aggregates: sum(partial sums) / sum(non-null count partials)
        // — the null semantics of avg (divisor counts non-null values
        // only; all-null groups yield NULL via null-sum / 0-divide).
        // Allowed ONLY when the stored partial sum is integral (long):
        // long partial sums re-sum EXACTLY, so one final IEEE divide
        // reproduces the base result bit-for-bit, while double partials
        // would re-fold in a different order and drift in the last ulp.
        case al @ Alias(ae: AggregateExpression, name)
            if ae.aggregateFunction.isInstanceOf[Average] &&
              !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction.asInstanceOf[Average].child match {
            case a: AttributeReference
                if meta.sumCols.contains(a.name) &&
                  meta.cntCols.contains(a.name) &&
                  mvAttr(s"__sum_${a.name}").dataType == LongType &&
                  ae.dataType == DoubleType =>
              val sumAe = Sum(mvAttr(s"__sum_${a.name}")).toAggregateExpression()
              val cntAe = Sum(mvAttr(s"__cntn_${a.name}")).toAggregateExpression()
              Alias(Divide(Cast(sumAe, DoubleType), Cast(cntAe, DoubleType)),
                name)(exprId = al.exprId, qualifier = al.qualifier)
            case _ => return None
          }
        case al @ Alias(ae: AggregateExpression, name) =>
          val fn = rewriteAgg(ae).getOrElse(return None)
          // exact type preservation or downstream consumers of this
          // exprId see a different schema (decimal sums re-widen here)
          if (fn.dataType != ae.dataType) return None
          val rewritten = ae.aggregateFunction match {
            // count is the one aggregate whose empty-input value is not
            // NULL: a GLOBAL count over zero matching rows returns 0,
            // but its Sum-over-partials rewrite returns NULL — coalesce
            // restores the contract (per-group sums of the never-null
            // partials can't be NULL, so this only fires on empty input)
            case _: Count =>
              Coalesce(Seq(ae.copy(aggregateFunction = fn), Literal(0L)))
            case _ => ae.copy(aggregateFunction = fn)
          }
          Alias(rewritten, name)(exprId = al.exprId, qualifier = al.qualifier)
        case _ => return None
      }
      val newGrp: Seq[Expression] = grpAttrs.map {
        case (a, None) => mvAttr(a.name)
        case (a, Some(_)) => a // resolves against the re-rooting Project
      }
      val filtered = if (conds.isEmpty) mv
        else Filter(
          conds.reduceLeft(And).transform {
            case a: AttributeReference => mvAttr(a.name)
          }, mv)
      // time groupings need a Project between the Aggregate and the MV
      // scan that re-roots each query truncation onto its stored bucket:
      //   date_trunc(C, ts)  ⇒  date_trunc(C, __tb_ts)
      // (sound because composes(C, F) certified trunc_C ∘ trunc_F =
      // trunc_C), aliased under the ORIGINAL pulled-out exprId so the
      // grouping attr and every downstream reference stay valid. The
      // project keeps only the MV columns the rewritten plan actually
      // references, so the scan still prunes.
      val timeProj: Seq[Alias] = grpAttrs.collect { case (a, Some(ta)) =>
        val stored = mvAttr(s"__tb_${ta.baseCol}")
        val rerooted = TruncTimestamp(
          Literal(org.apache.spark.unsafe.types.UTF8String.fromString(ta.unit),
            StringType), stored, ta.tz)
        // exact result-type preservation, same contract as the measures
        if (rerooted.dataType != ta.dt) return None
        Alias(rerooted, a.name)(exprId = a.exprId, qualifier = a.qualifier)
      }.distinctBy(_.exprId)
      val newChild =
        if (timeProj.isEmpty) filtered
        else {
          val condRefs = filtered match {
            case Filter(c, _) => c.references.toSeq
            case _ => Nil
          }
          val needed = org.apache.spark.sql.catalyst.expressions.AttributeSet(
            newRes.flatMap(_.references) ++ newGrp.flatMap(_.references) ++
              timeProj.flatMap(_.references) ++ condRefs)
          Project(mv.output.filter(needed.contains) ++ timeProj, filtered)
        }
      Some(Aggregate(newGrp, newRes, newChild))
    }
  }
}
