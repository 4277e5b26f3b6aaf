package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The direction of an [[AsOfJoin]] match. */
sealed abstract class AsOfMode(val name: String)
object AsOfMode {
  /** Largest rightTime <= leftTime (trades-vs-quotes). */
  case object Backward extends AsOfMode("backward")
  /** Smallest rightTime >= leftTime (purchase-to-next-failure). */
  case object Forward extends AsOfMode("forward")
  /** Whichever of backward/forward is closer; equal gaps → backward
    * (the market-data convention). Requires an integral time type —
    * the gap comparison is arithmetic, not just an ordering. */
  case object Nearest extends AsOfMode("nearest")
}

/** Native as-of join — the whole-operator tier of the custom-op
  * ladder (LogicalPlan + Strategy + SparkPlan via SparkSessionExtensions),
  * used where composing built-ins can't express the plan we want.
  *
  * Semantics per [[AsOfMode]]: for every left row, attach the matching
  * right row within the same key (null right side when no such row) —
  * backward = largest `rightTime <= leftTime`, forward = smallest
  * `rightTime >= leftTime`, nearest = the closer of the two with ties
  * to backward. The composed alternatives (union + frame-flipped
  * last/first windows, queries/Advanced.scala q_asof_join /
  * Round10 q_asof_forward / Round10c q_asof_nearest) answer the same
  * questions but pay a union materialization and windows over the
  * merged stream; a range join would explode to O(pairs) first.
  *
  * Scale shape: each side shuffles ONCE on its key (ClusteredDistribution)
  * and sorts by (key, time) — exactly a sort-merge join's cost — then a
  * single forward merge pass per partition emits every left row with O(1)
  * state (one buffered backward match + one frontier row — nearest needs
  * both, backward/forward each use one). No row explosion, no per-key
  * buffering, skew-safe in the same way sort-merge is: a hot key streams
  * through one sorted partition instead of building a hash table.
  */
final case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                          leftKey: Expression, rightKey: Expression,
                          leftTime: Expression, rightTime: Expression,
                          mode: AsOfMode = AsOfMode.Backward)
  extends BinaryNode {

  // Fail at plan CONSTRUCTION, not inside a task: the merge compares
  // left-vs-right values with one Ordering per column pair, so the sides
  // must agree exactly (the supported types are all atomic, so plain
  // equality is nullability-free). This also rejects TIMESTAMP vs
  // TIMESTAMP_NTZ — comparable representations, different wall-clock
  // semantics.
  require(leftKey.dataType == rightKey.dataType,
    s"asof join: key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"asof join: time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
  AsOfJoinExec.orderingFor(leftKey.dataType)
  AsOfJoinExec.orderingFor(leftTime.dataType)
  if (mode == AsOfMode.Nearest)
    AsOfJoinExec.longValueOf(leftTime.dataType) // integral-time gate

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; injected via GraftExtensions. */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, mode) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, mode) :: Nil
    case _ => Nil
  }

  /** Register on a session built without GraftExtensions (e.g. a
    * harness-owned one); a session whose planner already has the
    * strategy, from the extensions or an earlier call, is left as is. */
  def ensureOn(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
}

final case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                              leftKey: Expression, rightKey: Expression,
                              leftTime: Expression, rightTime: Expression,
                              mode: AsOfMode = AsOfMode.Backward)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** One shuffle per side, co-partitioned on the key. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  /** Sorted by (key, time) — EnsureRequirements inserts the sorts. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  /** Left rows pass through unchanged, so left's partitioning and
    * ordering survive — downstream ops on the key need no re-shuffle. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    import AsOfJoinExec.{orderingFor => atomicOrdering}
    val lOut = left.output
    val rOut = right.output
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lk = BindReferences.bindReference(leftKey, lOut)
      val lt = BindReferences.bindReference(leftTime, lOut)
      val rk = BindReferences.bindReference(rightKey, rOut)
      val rt = BindReferences.bindReference(rightTime, rOut)
      val kOrd = atomicOrdering(leftKey.dataType)
      val tOrd = atomicOrdering(leftTime.dataType)
      val joiner = new JoinedRow
      val rightNulls = new GenericInternalRow(rOut.size)
      // bind against a NULLABILIZED right schema: bindReference takes each
      // field's nullability from the input side, and a non-nullable right
      // column would skip the null check and read garbage off rightNulls
      val project = UnsafeProjection.create(allOut,
        lOut ++ rOut.map(_.withNullability(true)))

      // single forward pass: `cand` is the next unconsumed right row
      // (the frontier), `m` the best backward (latest time <= left)
      // match seen for its key so far — O(1) state in every mode
      var cand: InternalRow = null
      var candKey: Any = null
      var candTime: Any = null
      var m: InternalRow = null
      var mKey: Any = null
      var mTime: Any = null

      // fetch the next right row with non-null key AND time into `cand`
      // (copy before eval: the child iterator reuses its row, and a
      // UTF8String key would otherwise point at recycled bytes);
      // null-time right rows can never match in any mode
      def fetch(): Unit =
        while (cand == null && rIter.hasNext) {
          val r = rIter.next().copy()
          val k = rk.eval(r)
          if (k != null) {
            val t = rt.eval(r)
            if (t != null) { cand = r; candKey = k; candTime = t }
          }
        }

      // advance the frontier for a (key, time)-valid left row:
      // consume right rows with key < leftKey (passed by), and rows of
      // the SAME key with time <= leftTime into the backward slot `m` —
      // afterwards `m` is the backward match and `cand` (if same key)
      // the forward match. Backward/forward read their slot; nearest
      // reads both.
      def advance(lKeyV: Any, lTimeV: Any): Unit = {
        var advancing = true
        while (advancing) {
          fetch()
          if (cand != null) {
            val c = kOrd.compare(candKey, lKeyV)
            if (c < 0) cand = null // key already passed by the sorted left side
            else if (c == 0 && tOrd.compare(candTime, lTimeV) <= 0) {
              m = cand; mKey = candKey; mTime = candTime
              cand = null
            } else advancing = false
          } else advancing = false
        }
      }

      val nearestGap = mode == AsOfMode.Nearest
      val longOf: Any => Long =
        if (nearestGap) AsOfJoinExec.longValueOf(leftTime.dataType)
        else null

      lIter.map { l =>
        val lKeyV = lk.eval(l)
        val lTimeV = lt.eval(l)
        // null-KEY/TIME left rows must not advance: comparing a right
        // time against null would unbox to 0 (or NPE for strings) and
        // consume right rows that a later real-time left row still needs
        if (lKeyV != null && lTimeV != null) advance(lKeyV, lTimeV)
        val rSide =
          if (lKeyV == null || lTimeV == null) rightNulls
          else {
            val hasPrev = m != null && kOrd.compare(mKey, lKeyV) == 0
            // after advance(), a same-key frontier row has time > left
            // in the <=-consumed sense; for Forward its time >= left
            // exactly when it wasn't consumed, i.e. time > left OR the
            // equal-time row was consumed into `m` — an equal-time row
            // is a valid forward match too, so check `m` first
            val hasNextStrict = cand != null && kOrd.compare(candKey, lKeyV) == 0
            mode match {
              case AsOfMode.Backward =>
                if (hasPrev) m else rightNulls
              case AsOfMode.Forward =>
                // smallest time >= left: the equal-time row (consumed
                // into m by the shared advance) wins over the strict
                // frontier; both absent → no match
                if (hasPrev && tOrd.compare(mTime, lTimeV) == 0) m
                else if (hasNextStrict) cand
                else rightNulls
              case AsOfMode.Nearest =>
                if (hasPrev && hasNextStrict) {
                  val gp = longOf(lTimeV) - longOf(mTime)
                  val gn = longOf(candTime) - longOf(lTimeV)
                  if (gp <= gn) m else cand // tie → backward
                } else if (hasPrev) m
                else if (hasNextStrict) cand
                else rightNulls
            }
          }
        project(joiner(l, rSide))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinExec {
  /** Interpreted total order for the supported key/time types (the eval()
    * results of atomic columns). Deliberately a closed list; [[AsOfJoin]]
    * evaluates it at plan construction so an unsupported type fails
    * there, never inside a task with a wrong answer. */
  private[plans] def orderingFor(dt: DataType): Ordering[Any] = (dt match {
    case LongType | TimestampType | TimestampNTZType => Ordering.Long
    case IntegerType | DateType => Ordering.Int
    case ShortType => Ordering.Short
    case DoubleType => Ordering.Double.TotalOrdering
    case FloatType => Ordering.Float.TotalOrdering
    case StringType => new Ordering[UTF8String] {
      def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
    }
    case other =>
      throw new IllegalArgumentException(s"asof join: unsupported key/time type $other")
  }).asInstanceOf[Ordering[Any]]

  /** Long view of an integral time value — the arithmetic the NEAREST
    * gap comparison needs. A closed list ([[AsOfJoin]] evaluates it at
    * plan construction so a non-integral time type fails there). */
  private[plans] def longValueOf(dt: DataType): Any => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (v: Any) => v.asInstanceOf[Long]
    case IntegerType | DateType => (v: Any) => v.asInstanceOf[Int].toLong
    case ShortType => (v: Any) => v.asInstanceOf[Short].toLong
    case other => throw new IllegalArgumentException(
      s"asof nearest: time type $other has no integral gap arithmetic")
  }
}

/** DataFrame-level API for the native as-of join. */
object AsOf {

  /** Backward as-of join `left` with `right`: for each left row, the
    * right row with the greatest `rightTime <= leftTime` sharing the key
    * (right columns null when none). The right side's attributes are
    * re-aliased with fresh expression ids so self-derived sides (e.g. a
    * filtered/aggregated view of the left table) can't collide. */
  def joinBackward(left: org.apache.spark.sql.DataFrame,
                   right: org.apache.spark.sql.DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String): org.apache.spark.sql.DataFrame =
    joinMode(left, right, leftKey, rightKey, leftTime, rightTime,
      AsOfMode.Backward)

  /** Forward as-of join: the right row with the SMALLEST
    * `rightTime >= leftTime` sharing the key. */
  def joinForward(left: org.apache.spark.sql.DataFrame,
                  right: org.apache.spark.sql.DataFrame,
                  leftKey: String, rightKey: String,
                  leftTime: String, rightTime: String): org.apache.spark.sql.DataFrame =
    joinMode(left, right, leftKey, rightKey, leftTime, rightTime,
      AsOfMode.Forward)

  /** Nearest as-of join: whichever of the backward/forward matches is
    * closer in time; equal gaps → backward. Integral time types only. */
  def joinNearest(left: org.apache.spark.sql.DataFrame,
                  right: org.apache.spark.sql.DataFrame,
                  leftKey: String, rightKey: String,
                  leftTime: String, rightTime: String): org.apache.spark.sql.DataFrame =
    joinMode(left, right, leftKey, rightKey, leftTime, rightTime,
      AsOfMode.Nearest)

  private def joinMode(left: org.apache.spark.sql.DataFrame,
                       right: org.apache.spark.sql.DataFrame,
                       leftKey: String, rightKey: String,
                       leftTime: String, rightTime: String,
                       mode: AsOfMode): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val spark: SparkSession = left.sparkSession
    AsOfStrategy.ensureOn(spark)
    val lPlan = left.queryExecution.analyzed
    val rAnalyzed = right.queryExecution.analyzed
    val rPlan = Project(rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def find(out: Seq[Attribute], name: String): Attribute =
      out.filter(_.name == name) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"asof join: no column '$name' in [${out.map(_.name).mkString(", ")}]")
        case many => throw new IllegalArgumentException(
          s"asof join: ambiguous column '$name' (${many.size} matches)")
      }
    val plan = AsOfJoin(lPlan, rPlan,
      find(lPlan.output, leftKey), find(rPlan.output.map(_.toAttribute), rightKey),
      find(lPlan.output, leftTime), find(rPlan.output.map(_.toAttribute), rightTime),
      mode)
    org.apache.spark.sql.graft.Bridge.ofRows(spark, plan)
  }
}
