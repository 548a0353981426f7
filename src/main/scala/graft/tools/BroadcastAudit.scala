package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Audit of broadcast build sides: for a planned (not run) query,
  * report every broadcast exchange — the leaf tables its subtree scans
  * and the optimizer's size estimate. A broadcast whose subtree scans a
  * corpus-sized table through an explode is the misplan class that
  * OOM'd `containmentJoin`'s first 10× run (post-explode size
  * estimates are width-ratio guesses).
  *
  * Two consumers:
  *  - [[main]] — the dev tool: plan each named SparkEntry query against
  *    a data dir and print the hits for eyeballing.
  *  - `BroadcastTripwireSpec` — the STANDING tripwire (VERDICT r12 #2):
  *    plans the corpus-routed queries against a 10× replica in `sbt
  *    test` and FAILS on any corpus-derived broadcast build side not on
  *    the explicit bounded-shape allowlist, so dropping
  *    `Dedup.mergeUnlessTiny` from a routed call site (or adding a new
  *    corpus operator without routing it) goes red instead of waiting
  *    for a manual audit run.
  *
  *   runMain graft.tools.BroadcastAudit <dataDir> <q1,q2,...>
  */
object BroadcastAudit {

  /** One broadcast build side in a physical plan: the optimizer's
    * estimate of the built subtree, the head of its operator chain, and
    * the distinct leaf tables it scans (parquet dir names, `.parquet`
    * stripped). `nestedLoop` marks a BroadcastNestedLoopJoin instead of
    * an exchange; `scalarBuild` marks a build side whose top aggregate
    * has NO grouping keys — a global aggregate, provably ONE row
    * regardless of what the optimizer estimates (the scalar-attach
    * crossJoin class: totals, thresholds, stats rows). */
  final case class Hit(est: Option[BigInt], chain: String, scans: Seq[String],
      nestedLoop: Boolean = false, scalarBuild: Boolean = false) {
    def scansAnyOf(tables: Set[String]): Boolean = scans.exists(tables.contains)
    override def toString: String =
      if (nestedLoop) s"NESTEDLOOP[$chain, scalar=$scalarBuild]"
      else s"bcast[est=${est.getOrElse("?")}, $chain, scans=${scans.mkString(",")}]"
  }

  /** Does this subtree's FIRST aggregate group by nothing — i.e.
    * produce exactly one row — reached only through operators that
    * cannot MULTIPLY rows? The walk is a WHITELIST (project / filter /
    * sort / exchanges / codegen wrappers), not "any single-child node":
    * a Generate/Expand above a global aggregate fans its one row out
    * again, and walking through it would mark a corpus-scale explode
    * 'provably one row' (review r13). */
  private def isScalarAgg(plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate._
    plan match {
      case h: HashAggregateExec => h.groupingExpressions.isEmpty
      case h: ObjectHashAggregateExec => h.groupingExpressions.isEmpty
      case s: SortAggregateExec => s.groupingExpressions.isEmpty
      case other =>
        val rowPreserving = other match {
          case _: ProjectExec | _: FilterExec | _: SortExec => true
          case _: exchange.Exchange => true
          case _: WholeStageCodegenExec | _: InputAdapter => true
          case _: adaptive.AQEShuffleReadExec => true
          case _ => false
        }
        rowPreserving && other.children.size == 1 && isScalarAgg(other.children.head)
    }
  }

  /** Collect every broadcast build side of `df`'s (initial) physical
    * plan. collect() does not descend into an AdaptiveSparkPlanExec's
    * inner plan — unwrap to the current (pre-execution: initial)
    * physical plan. */
  def auditDf(df: DataFrame): Seq[Hit] = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect {
      case b: BroadcastExchangeExec =>
        val leaves = b.child.collectLeaves().collect {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.map(p =>
              p.getName.stripSuffix(".parquet")).mkString("+")
        }
        val est = b.child.logicalLink.map(_.stats.sizeInBytes)
        val chain = Iterator.iterate(Option(b.child))(
            _.flatMap(_.children.headOption))
          .takeWhile(_.isDefined).flatten.map(_.nodeName).take(4)
          .mkString("<-")
        Hit(est, chain, leaves.distinct)
      case b: BroadcastNestedLoopJoinExec =>
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
        }
        val leaves = build.collectLeaves().collect {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.map(p =>
              p.getName.stripSuffix(".parquet")).mkString("+")
        }
        Hit(None, b.joinType.toString, leaves.distinct,
          nestedLoop = true, scalarBuild = isScalarAgg(build))
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val spark = graft.Sessions.local(defaultCpus = 8, shufflePartitions = Some(32))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val hits = auditDf(df)
        val nBhj = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.collect { case j: BroadcastHashJoinExec => j }.size
          case p => p.collect { case j: BroadcastHashJoinExec => j }.size
        }
        println(s"[bcaudit] $name bhj=$nBhj ${hits.mkString(" ")}")
      } catch {
        case e: Throwable =>
          println(s"[bcaudit] $name FAILED_TO_PLAN ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(160)}")
      }
    }
    spark.stop()
  }
}
