package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.sql.util.QueryExecutionListener

/** The queries a block of code runs, and measures of their plans — what
  * `graft.tools.PlanDump --docingest` prints and the plan-size specs
  * assert on. [[capture]] drains the (private[spark]) listener bus before
  * returning, so every query `f` ran has been reported. */
object PlanProbe extends AdaptiveSparkPlanHelper {
  /** `f`'s result and every query the session reported while it ran, as
    * (action name, QueryExecution) in completion order. */
  def capture[T](spark: SparkSession)(f: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add((funcName, qe)); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
        seen.add((funcName, qe)); ()
      }
    }
    spark.listenerManager.register(listener)
    try {
      val r = f
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (r, seen.toArray(Array.empty[(String, QueryExecution)]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The longest binary literal in the query's optimized plan, in bytes. */
  def maxBinaryLiteral(qe: QueryExecution): Int =
    qe.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case Literal(v: Array[Byte], BinaryType) => v.length
    })).foldLeft(0)(math.max)

  /** Leaf scans of the executed plan, counted through adaptive stages and
    * into the plans of cached relations it reads — how many times the
    * query re-reads its sources. */
  def leafScans(qe: QueryExecution): Int = scans(qe.executedPlan)

  private def scans(p: SparkPlan): Int = collect(p) {
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case _: LeafExecNode => 1
  }.sum

  /** Whether any node of the executed plan, searched through adaptive
    * stages and cached relations, satisfies `f`. */
  def anyNode(qe: QueryExecution)(f: SparkPlan => Boolean): Boolean =
    anyIn(qe.executedPlan, f)

  private def anyIn(p: SparkPlan, f: SparkPlan => Boolean): Boolean =
    find(p) {
      case m: InMemoryTableScanExec => anyIn(m.relation.cachedPlan, f)
      case n => f(n)
    }.isDefined
}
