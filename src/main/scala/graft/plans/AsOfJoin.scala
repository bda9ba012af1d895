package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}

/** AS-OF JOIN as a first-class operator (SURVEY §7.3 path (c): custom
  * `LogicalPlan` + `Strategy` + `SparkPlan`, registered on a session by
  * [[AsOf.install]]).
  *
  * Semantics: for each left row, the single right row with the same
  * equi-key and the greatest right-time ≤ left-time; ties on right-time
  * resolved by the greatest tie-break value. Inner (default): left rows
  * with no eligible right row are dropped. Left-outer: they survive with
  * the right side null-extended. NULL equi-keys match nothing on either
  * side (SQL equality semantics — NOT UnsafeRow byte equality, which
  * would make NULL = NULL).
  *
  * Physical strategy: one exec, [[AsOfMergeJoinExec]] — both sides
  * hash-clustered on the equi-keys and sorted by (key, time), like a
  * sort-merge join (NO cross join, NO per-row window), with O(1)
  * carried state per partition whatever the key skew.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    tieBreak: Expression, leftOuter: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  /** Size estimate for the planner. Without this, Spark's size-only
    * stats visitor treats an unknown binary node like a cross join —
    * PRODUCT of the children's sizes — so a 1 GB ⋈ 100 MB as-of join
    * would advertise ~10^17 bytes and veto every downstream broadcast.
    * The honest shape: output rows ≈ left rows (exactly, for
    * left-outer; at most, for inner), each widened by the right schema
    * — left's size scaled by the column-count ratio.
    */
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics = {
    val widthL = math.max(1, left.output.size)
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes *
        (widthL + right.output.size) / widthL)
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Predicate pushdown THROUGH the custom as-of node. Catalyst's
  * `PushDownPredicates` only understands built-in operators, so without
  * this rule any filter above an as-of join stays above it — the fact
  * scan reads and shuffles every row just to discard most of them after
  * the join, exactly the regression `PlanSpec` exists to prevent, but
  * silently re-introduced by the custom operator.
  *
  * Sound for LEFT-side deterministic predicates only: each output row's
  * left attributes come verbatim from one left row, and removing a left
  * row can never change another row's match (matching is per-left-row
  * against the right side). Right-side predicates must NOT push: they
  * would change WHICH right row is the latest eligible match (filter-
  * then-match vs match-then-filter), so they stay above the join.
  */
object PushFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoin) =>
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(push.reduce(And), j.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Time-to-long widening shared by the exec and the API-layer type
  * check — ONE mapping, so adding a supported time type can't leave the
  * two disagreeing.
  */
private[plans] object AsOfTime {
  def supported(d: org.apache.spark.sql.types.DataType): Boolean = d match {
    case TimestampType | TimestampNTZType | LongType | DateType => true
    case _ => false
  }

  def asLong(e: Expression, value: Any): Long = e.dataType match {
    case TimestampType | TimestampNTZType | LongType => value.asInstanceOf[Long]
    case DateType => value.asInstanceOf[Int].toLong
    case other => throw new IllegalArgumentException(
      s"as-of time must be timestamp/date/long, got ${other.catalogString}")
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb, outer) =>
      AsOfMergeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, outer) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of. BOTH sides stream in (key, time) order and the
  * carried state is ONE remembered right row — O(1) memory per
  * partition regardless of key skew or right-side size, so neither side
  * has to be dimension-like and a hot key costs rows streamed, not
  * memory held. The price is a sort on each side (or free reuse of an
  * existing (key, time) ordering, e.g. time-clustered ingest).
  *
  * Single forward pass: for each left row (keys sorted, times ascending
  * within a key), right rows with time ≤ left-time are consumed once and
  * never revisited — the remembered row is always the greatest
  * (time, tieBreak) eligible match (AsOfJoinSpec pins the result
  * row-for-row against the composed join + `row_number` form).
  */
case class AsOfMergeJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    tieBreak: Expression, leftOuter: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Both sides key-then-time sorted; right ties ordered by tieBreak so
    * "last consumed" is always the winning row.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime :+ tieBreak).map(SortOrder(_, Ascending)))

  /** The merge walk emits rows in left-row order within each partition
    * and zipPartitions keeps the left's clustering — advertise both, so
    * a downstream key-grouped or key-ordered operator reuses the sort
    * this exec already required instead of re-shuffling/re-sorting.
    */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val keyTypes = leftKeys.map(_.dataType)
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val keyOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .createNaturalAscendingOrdering(keyTypes)
      val leftKeyProj = UnsafeProjection.create(leftKeys, leftOut)
      val rightKeyProj = UnsafeProjection.create(rightKeys, rightOut)
      // the filter below and the head-compares each re-project; separate
      // instances so a held left key row is never clobbered
      val rightKeyFilterProj = UnsafeProjection.create(rightKeys, rightOut)
      val boundLeftTime = BindReferences.bindReference(leftTime, leftOut)
      val boundRightTime = BindReferences.bindReference(rightTime, rightOut)
      // null times / null keys match nothing; dropping them up front
      // keeps the merge walk free of sentinel branches (they sort first
      // under NULLS FIRST, so removal preserves the required order)
      val rBuf = rIt.filter { r =>
        boundRightTime.eval(r) != null && !rightKeyFilterProj(r).anyNull
      }.buffered

      var groupKey: UnsafeRow = null // key whose rows `last` was taken from
      var last: InternalRow = null   // greatest (time, tieBreak) consumed in group
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(output, output)
      val nullRight = new GenericInternalRow(rightOut.size)
      def unmatched(l: InternalRow): Iterator[InternalRow] =
        if (leftOuter) Iterator.single(resultProj(joined(l, nullRight)))
        else Iterator.empty

      lIt.flatMap { l =>
        val t = boundLeftTime.eval(l)
        if (t == null) unmatched(l)
        else {
          val lk = leftKeyProj(l)
          if (lk.anyNull) unmatched(l)
          else {
            val lt = AsOfTime.asLong(leftTime, t)
            // skip right groups strictly below this left key
            while (rBuf.hasNext && keyOrd.compare(rightKeyProj(rBuf.head), lk) < 0)
              rBuf.next()
            // entering a new key group invalidates the remembered row
            if (groupKey == null || keyOrd.compare(groupKey, lk) != 0) {
              last = null
              groupKey = lk.copy()
            }
            // consume every right row in this group that is eligible for
            // this (and, times ascending, every later) left row
            while (rBuf.hasNext && keyOrd.compare(rightKeyProj(rBuf.head), lk) == 0 &&
                AsOfTime.asLong(rightTime, boundRightTime.eval(rBuf.head)) <= lt)
              last = rBuf.next().copy()
            if (last == null) unmatched(l)
            else Iterator.single(resultProj(joined(l, last)))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API: `AsOf.join(events, orders, keys..., times...)`.
  * `join` calls [[install]], the one place the planner strategy and the
  * pushdown rule reach a session.
  */
object AsOf {
  import org.apache.spark.sql.graft.ColumnBridge

  def install(spark: SparkSession): Unit = AsOf.synchronized {
    // synchronized: the read-modify-write of the experimental methods
    // would otherwise race when two threads' first as-of joins collide
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(PushFilterThroughAsOfJoin))
      // extraOptimizations run as a FIXPOINT batch but AFTER the main
      // optimizer — a predicate our rule pushes below the as-of node
      // would stop at the first built-in operator (PushDownPredicates
      // already ran). Appending Catalyst's own PushDownPredicates to the
      // same batch lets the two alternate to a fixpoint, so the filter
      // cascades through a composed left side all the way to the scan.
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          PushFilterThroughAsOfJoin :+
          org.apache.spark.sql.catalyst.optimizer.PushDownPredicates
  }

  /** As-of join on `leftOn == rightOn` with `rightTime <= leftTime`,
    * latest-wins, ties broken by greatest `tieBreak` (a right-side
    * column). `leftOuter = true` keeps unmatched left rows with the
    * right side null-extended. Plans as [[AsOfMergeJoinExec]]: both
    * sides shuffled on the keys and sorted by (key, time), O(1) carried
    * state per partition.
    */
  def join(spark: SparkSession, leftDf: DataFrame, rightDf: DataFrame,
           leftOn: Seq[String], rightOn: Seq[String],
           leftTime: String, rightTime: String, tieBreak: String,
           leftOuter: Boolean = false): DataFrame = {
    install(spark)
    val lPlan = ColumnBridge.analyzedPlan(leftDf)
    val rPlan0 = ColumnBridge.analyzedPlan(rightDf)
    // SELF-JOIN / shared lineage: if both sides carry the same expression
    // IDs, key/time references are ambiguous — the analyzer either
    // regenerates the right side's ids (dangling our resolved attrs) or
    // keeps duplicates (making the pushdown rule's left-subset test
    // unsound). Re-alias the right side so every attr gets a fresh id;
    // names and values are unchanged.
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
        rPlan0)
    def attr(plan: LogicalPlan, name: String): Attribute = {
      // exact name first, then case-insensitive (Spark's default
      // resolution); EXACTLY one match either way — silently taking the
      // first of two same-named columns would bind keys to the wrong one
      val exact = plan.output.filter(_.name == name)
      val hits = if (exact.nonEmpty) exact
                 else plan.output.filter(_.name.equalsIgnoreCase(name))
      hits match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $name is ambiguous: ${many.size} attributes named " +
            s"${many.map(_.name).mkString(", ")} — disambiguate before the as-of join")
      }
    }
    val lk = leftOn.map(attr(lPlan, _))
    val rk = rightOn.map(attr(rPlan, _))
    // both sides are hash-partitioned on the key values: mismatched key
    // types (int vs long) hash differently and would silently produce an
    // empty join — fail loudly instead. Float/double keys are rejected
    // outright: Spark's own equi-joins rewrite such keys with
    // NormalizeFloatingNumbers (-0.0 to 0.0, one NaN) before planning,
    // and that rule never sees this custom node.
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key type mismatch: ${a.name}:${a.dataType.catalogString} vs " +
          s"${b.name}:${b.dataType.catalogString}")
      require(a.dataType != org.apache.spark.sql.types.DoubleType &&
          a.dataType != org.apache.spark.sql.types.FloatType,
        s"as-of key ${a.name} is ${a.dataType.catalogString}: floating-point " +
          "equi-keys are not supported (-0.0/NaN are not normalized as in " +
          "Spark's own joins) — cast to a decimal/integral key")
    }
    val lt = attr(lPlan, leftTime)
    val rt = attr(rPlan, rightTime)
    // Same time TYPE on both sides — a LongType column of epoch MILLIS
    // against TimestampType micros would pass a same-unit-class check
    // and silently mismatch by 1000x. The one sanctioned mix is
    // TIMESTAMP with TIMESTAMP_NTZ, and only under a UTC session where
    // the wall-clock micros coincide with the instant micros.
    val tsMix = Set[org.apache.spark.sql.types.DataType](TimestampType, TimestampNTZType)
    // "UTC-equivalent", not the literal string "UTC": Etc/UTC, +00:00, Z
    // etc. all pin wall-clock micros to instant micros just as well, and
    // a string compare would wrongly reject those sessions
    val utcSession = spark.conf.getOption("spark.sql.session.timeZone").exists { tz =>
      try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    }
    require(lt.dataType == rt.dataType ||
        (tsMix(lt.dataType) && tsMix(rt.dataType) && utcSession),
      s"as-of time type mismatch: ${lt.dataType.catalogString} vs " +
        s"${rt.dataType.catalogString}" +
        (if (tsMix(lt.dataType) && tsMix(rt.dataType))
           " (mixing TIMESTAMP with TIMESTAMP_NTZ requires a UTC session)"
         else ""))
    // both must be a supported time type at all (fail at plan time, not
    // inside an executor task)
    Seq(lt, rt).foreach(a => require(AsOfTime.supported(a.dataType),
      s"as-of time must be timestamp/date/long, got ${a.dataType.catalogString}"))
    val node = AsOfJoin(lPlan, rPlan, lk, rk, lt, rt, attr(rPlan, tieBreak),
      leftOuter)
    ColumnBridge.ofRows(spark, node)
  }
}
