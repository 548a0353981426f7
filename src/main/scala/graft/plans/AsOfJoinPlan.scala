package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Which right row of the key an [[AsOfJoinNode]] attaches to a left row
  * (the anchor). Each direction has one winner per ts: Backward takes
  * the largest (order cols, payload) row, Forward and Nearest the
  * smallest. */
sealed trait AsOfDirection
object AsOfDirection {
  /** The latest row with ts <= anchor (point-in-time features). */
  case object Backward extends AsOfDirection
  /** The earliest row with ts > anchor — strict: a row AT the anchor is
    * a feature, not a label. */
  case object Forward extends AsOfDirection
  /** The nearer of the latest row with ts <= anchor and the earliest
    * with ts > anchor; equal distance goes backward. */
  case object Nearest extends AsOfDirection
}

/** The engine's as-of join operator: custom logical node, planner
  * strategy, and physical sort-merge execution. Every member of the
  * as-of family runs on it: the backward point-in-time join
  * ([[graft.operators.PointInTimeJoin]]), the forward label join
  * ([[graft.operators.LabelJoin]]) and the nearest join
  * ([[graft.operators.NearestJoin]]), one [[AsOfDirection]] each.
  *
  * Plan shape: both sides arrive hash-clustered on the join keys and
  * sorted by (keys, ts[, order cols, payload]) — Spark's
  * EnsureRequirements inserts exactly the exchanges and sorts the
  * declared requirements demand, so codegen'd children and exchange
  * reuse still apply — and a single forward pointer per partition walks
  * the right side in O(left + right) time and O(1) state. No candidate
  * rows materialize: an entity row with a 400-day TTL over daily
  * features never expands into 400 rows, and each side shuffles exactly
  * once.
  *
  * Semantics: see [[AsOfDirection]]; a nonzero window bounds the
  * distance between the two ts, edge inclusive. The right side's
  * required ordering is the total order the winners are picked in:
  * (ts, order cols, payload) ascending, nulls first, so nulls are
  * smallest. No uniqueness assumption on the order columns:
  * fully-duplicate (keys, ts, order) rows resolve by payload, not
  * arrival order. Null join keys match null keys (the `<=>` rule —
  * natural orderings group nulls together); null timestamps never
  * match.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightOrder: Seq[Expression],
    rightProject: Seq[Attribute],
    windowMicros: Long,
    direction: AsOfDirection) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightProject.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] → [[AsOfJoinExec]]. Injected per-session via
  * `spark.experimental.extraStrategies` (public API, works on live
  * sessions) — see [[AsOfJoin.ensureStrategy]]. */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, ro, rp, w, dir) =>
      AsOfJoinExec(lk, rk, lts, rts, ro, rp, w, dir, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightOrder: Seq[Expression],
    rightProject: Seq[Attribute],
    windowMicros: Long,
    direction: AsOfDirection,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightProject.map(_.withNullability(true))

  // both sides hash-clustered on the join keys: EnsureRequirements
  // co-partitions them (the SortMergeJoinExec contract)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // left sorted by (keys, ts); right by (keys, ts, order cols, PAYLOAD
  // cols), so a ts's largest row is its last and its smallest its
  // first. The payload suffix is what makes fully-duplicate
  // (keys, ts, order) rows deterministic instead of arrival-ordered.
  // Payload attrs already present among (ts, order) are skipped (a
  // duplicate SortOrder is legal but wasted comparisons per row).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val pre = rightKeys ++ (rightTs +: rightOrder)
    val payloadSuffix = rightProject.filterNot(p =>
      pre.exists(_.semanticEquals(p)))
    Seq(
      (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
      (pre ++ payloadSuffix).map(SortOrder(_, Ascending)))
  }

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  // every left row survives (left-outer shape) and rows never move, so
  // the left child's hash partitioning still describes the output —
  // without this override the default UnknownPartitioning would make a
  // downstream groupBy/join on the same keys re-shuffle the wide joined
  // output (the third shuffle this operator's one-exchange-per-side
  // design exists to avoid)
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  // The engine's AQE-off policy. Every exchange under this node is
  // dictated by requiredChildDistribution, so AQE has nothing to re-plan
  // and only adds a re-plan round per stage (BENCH_NOTES "Static-plan AQE
  // policy moved into the engine": 0.62 s off vs 0.8-1.1 s on). Spark's
  // InsertAdaptiveSparkPlan wraps a query only if supportAdaptive holds
  // on every node, and its sanityCheck is `logicalLink.isDefined`
  // (spark-sql 4.1.2; PlanSpec pins the effect). With no link here, any
  // query that contains this exec runs non-adaptive, on the caller's
  // own session.
  override def logicalLink: Option[LogicalPlan] = None

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val nRight = rightProject.size
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val lt = leftTs
    val rt = rightTs
    val rp = rightProject
    val window = windowMicros
    val dir = direction

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, leftOut)
      val rKeyProj = UnsafeProjection.create(rk, rightOut)
      val lTsProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rTsProj = UnsafeProjection.create(Seq(rt), rightOut)
      val rOutProj = UnsafeProjection.create(rp, rightOut)
      // bind the output projection against NULLABLE right attrs: the
      // right half of the joined row is the all-null miss row for
      // unmatched entities, and a non-nullable binding would skip the
      // null check and read garbage
      val outProj = UnsafeProjection.create(output,
        leftOut ++ rp.map(_.withNullability(true)))
      val keyOrd: Ordering[InternalRow] =
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(keyTypes)
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHasCur = false
        private var rKey: InternalRow = _      // copied key of curR
        private var rRow: InternalRow = _      // the CURRENT right row (not yet consumed)
        private var rTs = 0L                   // its ts
        private var bestRow: InternalRow = _   // copied projected best candidate
        private var bestTs = 0L
        private var bestKey: InternalRow = _   // copied key the best belongs to

        // loop (not recurse): a long run of null-ts feature rows must
        // not grow the stack
        private def advanceRight(): Unit = {
          while (rIter.hasNext) {
            val r = rIter.next()
            val ts = rTsProj(r)
            if (!ts.isNullAt(0)) { // null feature ts never matches
              rKey = rKeyProj(r).copy()
              // projecting BEFORE buffering keeps copies narrow
              rRow = rOutProj(r).copy()
              rTs = ts.getLong(0)
              rHasCur = true
              return
            }
          }
          rHasCur = false
        }

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTsRow = lTsProj(l)
          if (lTsRow.isNullAt(0)) {
            // a null entity ts matches nothing
            return outProj(joined(l, nullRight))
          }
          val lTsVal = lTsRow.getLong(0)
          // drop right rows (and any stale best) for keys before ours
          while (rHasCur && keyOrd.compare(rKey, lKey) < 0) advanceRight()
          // consume right rows of OUR key with ts <= entity ts: the
          // backward winner is the last one seen (Backward), or the
          // first one seen at the latest ts (Nearest)
          while (rHasCur && keyOrd.compare(rKey, lKey) == 0 &&
              rTs <= lTsVal) {
            if (dir != AsOfDirection.Nearest || bestRow == null || rTs != bestTs ||
                keyOrd.compare(rKey, bestKey) != 0) {
              bestRow = rRow
              bestTs = rTs
              bestKey = rKey
            }
            advanceRight()
          }
          // the current right row is the first after the anchor: the
          // forward winner, not consumed — the next anchor may match it
          val back = bestRow != null && keyOrd.compare(bestKey, lKey) == 0 &&
            bestTs <= lTsVal && (window == 0L || lTsVal - bestTs <= window)
          val ahead = rHasCur && keyOrd.compare(rKey, lKey) == 0 &&
            (window == 0L || rTs - lTsVal <= window)
          val win = dir match {
            case AsOfDirection.Backward => if (back) bestRow else nullRight
            case AsOfDirection.Forward => if (ahead) rRow else nullRight
            case AsOfDirection.Nearest =>
              if (back && (!ahead || lTsVal - bestTs <= rTs - lTsVal)) bestRow
              else if (ahead) rRow else nullRight
          }
          outProj(joined(l, win))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API over the custom plan machinery: [[AsOfJoinExec]],
  * both sides hash-clustered on the join keys and sorted, O(1)-state
  * merge. Each side shuffles exactly once and no candidate rows
  * materialize.
  *
  * A query that contains the exec runs non-adaptive on the caller's
  * session: every exchange in the plan is dictated by required
  * distributions, so AQE could only add re-plan rounds (see
  * [[AsOfJoinExec]]`.logicalLink`).
  */
object AsOfJoin {
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.graftshim.ColumnShim
  import org.apache.spark.sql.types._

  /** Idempotently install [[AsOfJoinStrategy]] into the session's
    * planner (experimental.extraStrategies is the public live-session
    * injection point; `GraftExtensions` covers build-time sessions). */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
  }

  /** Backward as-of join of `entity` against `feature`: for each entity
    * row, the feature row with the largest (featureTs, orderCols,
    * featureCols) at or before `entityTsCol` and — when ttl is nonzero —
    * within `ttl` of it. No uniqueness requirement on `orderCols`:
    * residual ties (fully-duplicate (keys, ts, orderCols) rows) resolve
    * to the payload-max row. Emits all entity columns plus
    * `featureCols`. */
  def join(
      entity: DataFrame,
      feature: DataFrame,
      keys: Seq[String],
      entityTsCol: String,
      featureTsCol: String,
      ttl: java.time.Duration,
      orderCols: Seq[String],
      featureCols: Seq[String]): DataFrame =
    join0(entity, feature, keys, entityTsCol, featureTsCol, ttl, orderCols,
      featureCols.map(c => c -> c))

  /** The type an entity ts of type `l` and a feature ts of type `r`
    * compare in — the type Catalyst's implicit coercion compares the
    * pair in: same-typed TIMESTAMP, TIMESTAMP_NTZ or epoch-long columns
    * compare raw; DATE against DATE, and DATE or NTZ against TIMESTAMP,
    * compare as TIMESTAMP (session time zone; midnights keep the date
    * order); DATE against NTZ compares as NTZ — both are wall-clock
    * types, so the comparison needs no time zone. An epoch-long ts has
    * no interval arithmetic, so it allows a zero `window` only. Any
    * other pair fails here, naming both types. */
  private[graft] def tsType(l: DataType, r: DataType, window: java.time.Duration): DataType = {
    val t = (l, r) match {
      case (LongType, LongType) | (TimestampType, TimestampType) |
          (TimestampNTZType, TimestampNTZType) => l
      case (DateType, DateType) => TimestampType
      case (DateType | TimestampNTZType, DateType | TimestampNTZType) => TimestampNTZType
      case (DateType | TimestampNTZType | TimestampType,
          DateType | TimestampNTZType | TimestampType) => TimestampType
      case _ => throw new IllegalArgumentException(
        s"as-of timestamps have no common type: entity side ${l.sql} vs feature side " +
          s"${r.sql} — use TIMESTAMP, TIMESTAMP_NTZ or DATE, or epoch longs on both sides")
    }
    require(t != LongType || window.isZero,
      s"an epoch-long as-of ts allows no time window (got $window) — " +
        "convert the ts columns to TIMESTAMP to bound the window")
    t
  }

  /** [[join]] in any [[AsOfDirection]], emitting each `(output name,
    * feature column)` pair of `payload`. `window` bounds the ts distance
    * (the TTL, horizon or tolerance); zero means unbounded. Mismatched key or ts types are
    * normalized here by casts in the node's key and ts expressions —
    * none when both sides already agree — so outputs keep their types. */
  private[graft] def join0(
      entity: DataFrame,
      feature: DataFrame,
      keys: Seq[String],
      entityTsCol: String,
      featureTsCol: String,
      window: java.time.Duration,
      orderCols: Seq[String],
      payload: Seq[(String, String)],
      direction: AsOfDirection = AsOfDirection.Backward): DataFrame = {
    val spark = entity.sparkSession
    ensureStrategy(spark)
    // fresh expression ids on the right side so self-joins (entity df
    // derived from the feature table) resolve unambiguously
    val rightNeeded = (keys ++ (featureTsCol +: orderCols) ++ payload.map(_._2)).distinct
    val rightAliased = feature.select(rightNeeded.map(c => col(c).as(s"__r_$c")): _*)
    val lplan = entity.queryExecution.analyzed
    val rplan = rightAliased.queryExecution.analyzed
    def lAttr(n: String) = lplan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"entity column $n not found"))
    def rAttr(n: String) = rplan.output.find(_.name == s"__r_$n").getOrElse(
      throw new IllegalArgumentException(s"feature column $n not found"))
    require(window != null && !window.isNegative, "ttl must be >= 0 (0 = unbounded)")
    // loud here, not empty.reduce / ClusteredDistribution(Nil) three
    // plan layers down (review r12)
    require(keys.nonEmpty, "as-of join needs at least one join key")
    // the node is built after analysis, so each cast carries the
    // session time zone itself
    val conf = spark.sessionState.conf
    def cast(e: Expression, t: DataType): Expression =
      if (e.dataType == t) e
      else org.apache.spark.sql.catalyst.expressions.Cast(e, t, Some(conf.sessionLocalTimeZone))
    // join keys widen to the type `<=>` would compare them in: the
    // merge's ordering and the hash co-partitioning both need ONE key
    // type, or int-vs-bigint keys would hash the same value to
    // different partitions. Float/double keys: Spark's
    // NormalizeFloatingNumbers rewrites join keys of known Join nodes
    // only, so -0.0/0.0 and NaNs are normalized here.
    import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCoercion}
    import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
    val coercion = if (conf.ansiEnabled) AnsiTypeCoercion else TypeCoercion
    val (lKeys, rKeys) = keys.map { k =>
      val (l, r) = (lAttr(k), rAttr(k))
      val t = coercion.findWiderTypeForTwo(l.dataType, r.dataType).getOrElse(
        throw new IllegalArgumentException(s"as-of join key '$k' type mismatch: entity " +
          s"side ${l.dataType.sql} vs feature side ${r.dataType.sql} have no common type"))
      def norm(e: Expression) = t match {
        case DoubleType | FloatType => NormalizeNaNAndZero(cast(e, t))
        case _ => cast(e, t)
      }
      (norm(l), norm(r))
    }.unzip
    val ts = tsType(lAttr(entityTsCol).dataType, rAttr(featureTsCol).dataType, window)
    val node = AsOfJoinNode(
      lplan, rplan,
      leftKeys = lKeys,
      rightKeys = rKeys,
      leftTs = cast(lAttr(entityTsCol), ts),
      rightTs = cast(rAttr(featureTsCol), ts),
      rightOrder = orderCols.map(rAttr),
      rightProject = payload.map(p => rAttr(p._2)),
      windowMicros = window.getSeconds * 1000000L + window.getNano / 1000L,
      direction = direction)
    val out = ColumnShim.dataFrame(spark, node)
    // name the emitted feature columns
    out.select(entity.columns.map(col).toIndexedSeq ++
      payload.map { case (o, c) => col(s"__r_$c").as(o) }: _*)
  }
}
