package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  PredicateHelper, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** As-of (point-in-time) join as a first-class plan operator: for every
  * left row, the single right row with the same key whose timestamp is
  * the greatest one not exceeding the left row's timestamp ("backward"
  * as-of — attribution, point-in-time feature lookup, SCD2 probe).
  *
  * Why a custom operator instead of the compositional form
  * (equi-join on key + `ts <= ts` filter + `max_by` reduction,
  * [[graft.queries.MiscCatalog.asofJoin]]): the compositional plan
  * MATERIALIZES every (left row × earlier right row) pair before the
  * aggregate throws all but one away. At small scale Spark hides that
  * behind a broadcast join; at 100 TB neither side broadcasts and a hot
  * key with p purchases and c prior clicks expands to p×c intermediate
  * rows — quadratic in exactly the skewed keys that already hurt. This
  * exec is the (c) option of the custom-operator preference order
  * (SURVEY §2: logical node + strategy + physical exec, injected via
  * `SparkSessionExtensions`): one hash exchange per side, one sort per
  * side, then a single forward merge pass per partition holding ONE
  * buffered candidate row — zero row expansion, zero per-key state
  * beyond the candidate, skew-neutral by construction.
  *
  * Semantics (all proven in AsOfJoinSpec and, for the catalog queries,
  * by the same DuckDB oracle as the compositional twin):
  *  - match condition: right.key = left.key AND right.ts <= left.ts,
  *    both null-rejecting (a NULL key or NULL ts on either side never
  *    matches, exactly like the SQL form);
  *  - among qualifying right rows the winner is the max by
  *    (ts, tieBreaks...) — the `rightTieBreaks` columns extend the
  *    right-side sort so ties on ts resolve deterministically
  *    (mirrors `max_by(x, struct(ts, tieBreak))`);
  *  - inner (unmatched left rows dropped) or left-outer (null-extended).
  *
  * Execution contract: children are required hash-clustered on the join
  * keys (the SAME `ClusteredDistribution` pair `SortMergeJoinExec`
  * declares, so `EnsureRequirements`/AQE co-partition them) and sorted by
  * (keys, ts[, tieBreaks]). The merge advances the right iterator
  * monotonically — left rows arrive ts-ascending within a key, so right
  * rows discarded for one left row are never needed for a later one, and
  * the only buffered state is the current candidate (one row copy).
  * The operator is row-based (no codegen), like Spark's own full-outer
  * SMJ; both child stages still whole-stage-codegen their scans/filters.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTieBreaks: Seq[Expression],
    isOuter: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isOuter) right.output.map(_.withNullability(true)) else right.output)

  override def maxRows: Option[Long] = left.maxRows

  override lazy val resolved: Boolean = childrenResolved &&
    (leftKeys ++ rightKeys ++ Seq(leftTs, rightTs) ++ rightTieBreaks).forall(_.resolved) &&
    leftKeys.map(_.dataType) == rightKeys.map(_.dataType) &&
    leftTs.dataType == rightTs.dataType

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. Injected into every
  * session by [[GraftExtensions]] (`injectPlannerStrategy`). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: AsOfJoinPlan =>
      AsOfJoinExec(a.leftKeys, a.rightKeys, a.leftTs, a.rightTs,
        a.rightTieBreaks, a.isOuter, planLater(a.left), planLater(a.right)) :: Nil
    case _ => Nil
  }
}

/** Pushes deterministic left-only predicates below [[AsOfJoinPlan]].
  * Catalyst's `PushDownPredicates` cannot see through an unknown node, so
  * without this rule a `asofBackward(...).filter(left-col ...)` runs the
  * filter AFTER the join — after both exchanges and sorts. Each output
  * row derives from exactly one left row (inner and left-outer alike), so
  * dropping left rows commutes with the join and the predicate may run in
  * the left scan stage instead. Injected into the operator-optimization
  * batch by [[GraftExtensions]], where it composes with the built-in
  * pushdown rules to carry the predicate all the way into the source scan
  * (`PushedFilters`). */
object PushLeftFiltersThroughAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      // span, not partition: only the DETERMINISTIC PREFIX of the
      // conjunction may move (Catalyst's PushPredicateThroughNonJoin
      // convention) — pushing a deterministic conjunct past a preceding
      // nondeterministic one changes how often/on which rows the
      // nondeterministic expression evaluates
      val (detPrefix, rest) = splitConjunctivePredicates(cond)
        .span(_.deterministic)
      val (pushable, keptPrefix) = detPrefix
        .partition(_.references.subsetOf(a.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(pushable.reduce(And), a.left))
        (keptPrefix ++ rest).reduceOption(And)
          .map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Prunes unreferenced columns out of [[AsOfJoinPlan]]'s children — the
  * column half of what Catalyst's `ColumnPruning` cannot do through an
  * unknown node. When a Project above the join uses only some output
  * columns, each child is narrowed to (its join keys ∪ ts ∪ tie-breaks ∪
  * the referenced columns); the inserted child Projects then merge into
  * the source scans via the standard rules (`ReadSchema` narrows, and at
  * 100 TB an as-of enrichment that reads 3 of 40 history columns scans
  * 3). Fires only when it actually removes a column, so the batch
  * reaches fixpoint. */
object PruneAsOfJoinColumns extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projList, a: AsOfJoinPlan) =>
      // AttributeSet compares by exprId — a plain Set would miss the
      // outer join's nullability-adjusted output copies of child attrs
      val needed = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        projList.flatMap(_.references) ++
          (a.leftKeys ++ a.rightKeys ++ Seq(a.leftTs, a.rightTs) ++
            a.rightTieBreaks).flatMap(_.references))
      val keepL = a.left.output.filter(needed.contains)
      val keepR = a.right.output.filter(needed.contains)
      if (keepL.size == a.left.output.size && keepR.size == a.right.output.size) p
      else {
        val newLeft = if (keepL.size == a.left.output.size) a.left
                      else Project(keepL, a.left)
        val newRight = if (keepR.size == a.right.output.size) a.right
                       else Project(keepR, a.right)
        Project(projList, a.copy(left = newLeft, right = newRight))
      }
  }
}

/** Sort-merge backward as-of join. See [[AsOfJoinPlan]] for semantics and
  * the scale argument. */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTieBreaks: Seq[Expression],
    isOuter: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isOuter) right.output.map(_.withNullability(true)) else right.output)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // The same distribution pair SortMergeJoinExec declares: children hash-
  // clustered on their join keys, which EnsureRequirements (plain or AQE)
  // satisfies with co-partitioned exchanges of equal partition counts.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTs +: rightTieBreaks)).map(SortOrder(_, Ascending)))

  // Every output row carries its left row's partition key; left rows are
  // never replicated, so the left child's partitioning holds of the output.
  override def outputPartitioning: Partitioning = left.outputPartitioning

  // Output rows are emitted in left iteration order: (keys, ts) ascending.
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    // capture locals only — the closure must not drag the SparkPlan along
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTs = leftTs
    val rTs = rightTs
    val outer = isOuter

    val leftRdd = left.execute()
    val rightRdd = right.execute()
    require(leftRdd.getNumPartitions == rightRdd.getNumPartitions,
      s"as-of children not co-partitioned: ${leftRdd.getNumPartitions} vs " +
        s"${rightRdd.getNumPartitions} (EnsureRequirements contract violated)")

    leftRdd.zipPartitions(rightRdd) { (lIter, rIter) =>
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTs.dataType))
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTs), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTs), rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)

      new Iterator[InternalRow] {
        // one-row lookahead on the right; projection buffers are refreshed
        // after every advance and read before the next one
        private var rHead: InternalRow = _
        private var rKey: UnsafeRow = _
        private var rTsRow: UnsafeRow = _
        // the current best match: the LAST right row consumed whose
        // (key, ts) qualified — owned copies, they outlive the iterator's
        // reused row buffers
        private var candidate: InternalRow = _
        private var candidateKey: UnsafeRow = _
        private var nextRow: InternalRow = _

        advanceRight()

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rKey = rKeyProj(rHead)
            rTsRow = rTsProj(rHead)
          } else {
            rHead = null; rKey = null; rTsRow = null
          }

        private def computeNext(): Unit = {
          nextRow = null
          while (nextRow == null && lIter.hasNext) {
            val l = lIter.next()
            val lk = lKeyProj(l)
            val lt = lTsProj(l) // one projection per row (buffer reuse is
                                // fine: consumed before the next l)
            if (lk.anyNull || lt.isNullAt(0)) {
              // null key / null ts never matches (null-rejecting, like SQL)
              if (outer) nextRow = resultProj(joined(l, nullRight))
            } else {
              // consume right rows up to and including the last one with
              // key == lk && ts <= lt; rows with smaller keys (or null
              // keys/ts, which sort first) are discarded for good — left
              // is (key, ts)-ascending, so they can never match again
              var scanning = true
              while (scanning && rHead != null) {
                val c = keyOrd.compare(rKey, lk)
                if (c < 0) advanceRight()
                else if (c == 0) {
                  if (rTsRow.isNullAt(0)) advanceRight()
                  else if (tsOrd.compare(rTsRow, lt) <= 0) {
                    candidate = rHead.copy()
                    candidateKey = rKey.copy()
                    advanceRight()
                  } else scanning = false
                } else scanning = false
              }
              if (candidate != null && keyOrd.compare(candidateKey, lk) == 0)
                nextRow = resultProj(joined(l, candidate))
              else if (outer)
                nextRow = resultProj(joined(l, nullRight))
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextRow == null) computeNext()
          nextRow != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty as-of iterator")
          val r = nextRow
          nextRow = null
          numOutputRows += 1
          r
        }
      }
    }
  }
}

/** DataFrame-level API over the native operator. */
object AsOfJoin {

  /** Backward as-of join of `left` to `right` on equal `on` columns with
    * `right.rightTsCol <= left.leftTsCol`, keeping the right row with the
    * greatest (ts, tieBreaks...). Output: all left columns, then the
    * right columns except its key columns (which would duplicate the
    * left's names, à la pandas `merge_asof`); any OTHER right column
    * sharing a left column's name (commonly the ts column) comes back
    * suffixed `_r` — pandas' suffix behavior — so the output never
    * carries ambiguous duplicate names.
    * The right side is re-aliased with fresh expression ids, so
    * self-as-of (both sides carved from the same source) is legal.
    * The session must carry [[GraftExtensions]] (the session recipe sets
    * it), which plans the node and installs its pushdown and pruning
    * rules: column pruning composes via [[PruneAsOfJoinColumns]], so
    * unreferenced child columns narrow down to the source scans — no
    * manual pre-select needed.
    * Float/double KEY columns are rejected: the custom node bypasses
    * Catalyst's NormalizeFloatingNumbers, so -0.0/0.0 and NaN-payload
    * variants would hash to different partitions and silently miss
    * (normalize or cast the key first; a float TS column has the same
    * -0.0 boundary caveat at the `<=` comparison and is left to the
    * caller). */
  def asofBackward(
      left: DataFrame, right: DataFrame, on: Seq[String],
      leftTsCol: String, rightTsCol: String,
      rightTieBreaks: Seq[String] = Nil,
      outer: Boolean = false): DataFrame = {
    require(on.nonEmpty, "as-of join requires at least one key column")
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // resolve like the rest of the session: case-insensitively unless
    // spark.sql.caseSensitive is on
    val caseSensitive =
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis
    def nameEq(a: String, b: String): Boolean =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    def attr(out: Seq[Attribute], n: String, side: String): Attribute =
      out.filter(a => nameEq(a.name, n)) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"$side column '$n' not found among ${out.map(_.name).mkString(", ")}")
        case _ => throw new IllegalArgumentException(s"$side column '$n' is ambiguous")
      }
    val aliases = rPlan0.output.map(a => Alias(a, a.name)())
    val rPlan = Project(aliases, rPlan0)
    val rOut = aliases.map(_.toAttribute)
    val lKeys = on.map(attr(lPlan.output, _, "left"))
    val rKeys = on.map(attr(rOut, _, "right"))
    lKeys.zip(rKeys).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key type mismatch on '${a.name}': ${a.dataType} vs ${b.dataType}")
      require(a.dataType != org.apache.spark.sql.types.FloatType &&
          a.dataType != org.apache.spark.sql.types.DoubleType,
        s"as-of key '${a.name}' is floating-point: the native node bypasses " +
          "NormalizeFloatingNumbers, so -0.0/NaN variants would silently " +
          "miss — normalize or cast the key first")
    }
    val lt = attr(lPlan.output, leftTsCol, "left")
    val rt = attr(rOut, rightTsCol, "right")
    require(lt.dataType == rt.dataType,
      s"as-of ts type mismatch: ${lt.dataType} vs ${rt.dataType}")
    val node = AsOfJoinPlan(lPlan, rPlan, lKeys, rKeys, lt, rt,
      rightTieBreaks.map(attr(rOut, _, "right")), outer)
    val dropIds = rKeys.map(_.exprId).toSet
    // a surviving right column sharing a left name (commonly ts == ts)
    // would make the output ambiguous for select/write — suffix it "_r"
    // (pandas merge_asof's behavior), bumping until free
    val rIds = rOut.map(_.exprId).toSet
    val kept = node.output.filterNot(a => dropIds(a.exprId))
    val taken = scala.collection.mutable.Set.empty[String]
    val outCols = kept.map { a =>
      val fromRight = rIds(a.exprId)
      var n = a.name
      while (taken.exists(nameEq(_, n))) {
        require(fromRight,
          s"duplicate LEFT column name '${a.name}' in the as-of input")
        n = n + "_r"
      }
      taken += n
      if (n == a.name) a else Alias(a, n)()
    }
    GraftBridge.ofRows(left.sparkSession, Project(outCols, node))
  }
}
