package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Backward (inclusive) as-of join as a first-class operator — the (c)
  * tier of SURVEY §7.3's extension preference order, used here because
  * Spark has no built-in as-of join and every composition (union + running
  * `last(_, ignoreNulls)` window — the engine's (a)-tier face in
  * `RelationalQueries.asofJoin`) pays for sorting the UNION of both inputs
  * inside one window partition.
  *
  * Semantics: for each left row, append the right row with the greatest
  * `rightTime <= leftTime` among rows with equal keys; no such row → right
  * side null (left outer — DuckDB `ASOF LEFT JOIN`, the oracle). SQL key
  * semantics: a null key never matches; a null time never matches (right)
  * and never finds a match (left). Ties among right rows at one
  * (key, time) are the caller's to resolve (pre-aggregate, as the
  * registered query's max-event_id dedup does) — the operator takes the
  * last in sort order, which is otherwise nondeterministic.
  *
  * Scale shape: requiredChildDistribution clusters each side on its key
  * (EnsureRequirements inserts hash exchanges — or elides them when a side
  * is already partitioned), requiredChildOrdering sorts each side by
  * (key, time), and the exec is ONE streaming merge pass per partition
  * pair: O(|L| + |R|) time, O(1) state (a single candidate row), no
  * buffering of either side. At 100 TB that is strictly less work than
  * the window form: the sort is per side (not over the union), the right
  * side moves k + t bytes per row through the shuffle instead of carrying
  * the left schema's nulls, and nothing is re-scanned. */
case class AsOfJoinPlan(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(lk, rk, lt, rt, l, r) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Streaming merge as-of join over co-partitioned, (key, time)-sorted
  * children. */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val lt = leftTime
    val rt = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      // key rows from both sides share the key schema; compare via a
      // codegen'd ordering over bound refs into that schema
      val keySchema = lk.map(_.dataType)
      val keyOrd = GenerateOrdering.generate(
        keySchema.zipWithIndex.map { case (dt, i) =>
          SortOrder(BoundReference(i, dt, nullable = true), Ascending)
        })
      // times compared the same way (single-field rows → any orderable type)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val timeOrd = GenerateOrdering.generate(Seq(
        SortOrder(BoundReference(0, lt.dataType, nullable = true), Ascending)))

      val joined = new JoinedRow
      val toUnsafe = UnsafeProjection.create((lOut ++ rOut).map(_.dataType).toArray)
      val nullRight = new GenericInternalRow(rOut.size)

      // rKey/rTimeRow hold the LATEST result of their projection and are
      // reassigned at exactly the moment the projection buffer is
      // overwritten (the next rKeyProj/rTimeProj call), so they alias the
      // buffer safely without copying — only the saved candidate outlives
      // a projection call and needs its own copy (cand/candKey below).
      // Copying here would be two allocations per right row consumed.
      new Iterator[InternalRow] {
        private var rRow: InternalRow = advanceRight()
        private var rKey: UnsafeRow = if (rRow == null) null else rKeyProj(rRow)
        private var rTimeRow: UnsafeRow = if (rRow == null) null else rTimeProj(rRow)
        private var cand: InternalRow = null
        private var candKey: UnsafeRow = null

        private def advanceRight(): InternalRow =
          if (rIter.hasNext) rIter.next() else null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          if (lKey.anyNull) return toUnsafe(joined(l, nullRight))
          val lTimeR = lTimeProj(l)
          if (lTimeR.isNullAt(0)) return toUnsafe(joined(l, nullRight))
          // consume right rows that are (key <) or (key = and time <= lTime);
          // the last equal-key consumed row is the as-of candidate
          var continue = rRow != null
          while (continue) {
            val kc = keyOrd.compare(rKey, lKey)
            if (kc < 0 ||
                (kc == 0 && !rTimeRow.isNullAt(0) &&
                  timeOrd.compare(rTimeRow, lTimeR) <= 0)) {
              if (kc == 0 && !rTimeRow.isNullAt(0)) {
                cand = rRow.copy()
                candKey = rKey.copy()
              }
              rRow = advanceRight()
              if (rRow == null) continue = false
              else {
                rKey = rKeyProj(rRow)
                rTimeRow = rTimeProj(rRow)
              }
            } else if (kc == 0 && rTimeRow.isNullAt(0)) {
              // null right time: never matches; skip it
              rRow = advanceRight()
              if (rRow == null) continue = false
              else {
                rKey = rKeyProj(rRow)
                rTimeRow = rTimeProj(rRow)
              }
            } else continue = false
          }
          if (cand != null && candKey != null && keyOrd.compare(candKey, lKey) == 0)
            toUnsafe(joined(l, cand))
          else
            toUnsafe(joined(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API + per-session strategy wiring: [[enable]] adds
  * [[AsOfJoinStrategy]] to a session's extra strategies once (idempotent),
  * and [[backward]] calls it, so every session that plans an as-of join
  * has the strategy. */
object AsOfJoin {

  def enable(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }

  /** Backward-inclusive as-of join (left outer). Column names of the two
    * sides must be disjoint (rename the right side — fresh aliases also
    * give fresh expression ids, which self-joins need). */
  def backward(left: DataFrame, right: DataFrame,
      leftKeys: Seq[Column], rightKeys: Seq[Column],
      leftTime: Column, rightTime: Column): DataFrame = {
    val spark = left.sparkSession
    enable(spark)
    require(leftKeys.size == rightKeys.size, "key arity mismatch")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"overlapping column names: $dup — rename the right side")
    def ex(c: Column): Expression =
      org.apache.spark.sql.classic.GraftPlanShim.expression(c)
    val (lks, rks) = (leftKeys.map(ex), rightKeys.map(ex))
    val (ltE, rtE) = (ex(leftTime), ex(rightTime))
    // type equality is load-bearing, not cosmetic: this custom plan gets
    // no analyzer coercion (unlike a built-in Join), each side is
    // hash-partitioned on its OWN types (murmur3 hashInt(5) != hashLong(5L)
    // → equal keys land in different partitions and matches silently
    // vanish), and keyOrd/timeOrd are generated from the LEFT types but
    // applied to right-side rows. Mismatches must fail loudly here.
    lks.zip(rks).zipWithIndex.foreach { case ((l, r), i) =>
      require(l.dataType == r.dataType,
        s"as-of key $i type mismatch: ${l.dataType} vs ${r.dataType} — " +
          "cast the columns to one type before joining")
    }
    require(ltE.dataType == rtE.dataType,
      s"as-of time type mismatch: ${ltE.dataType} vs ${rtE.dataType} — " +
        "cast the columns to one type before joining")
    val plan = AsOfJoinPlan(
      lks, rks, ltE, rtE,
      left.queryExecution.analyzed, right.queryExecution.analyzed)
    org.apache.spark.sql.classic.GraftPlanShim.ofRows(spark, plan)
  }
}
