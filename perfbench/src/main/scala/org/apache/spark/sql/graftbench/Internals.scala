/* Read-only access to Spark internals the benchmark's traced run needs:
 * draining the listener bus before attributing an operation's jobs, and
 * the physical plan and planning phases of a returned frame. */
package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

object Internals extends AdaptiveSparkPlanHelper {

  /** Blocks until every event posted so far reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Forces physical planning of `df` (what a collect would do first). */
  def executedPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Catalyst phase durations in ms (analysis, optimization, planning). */
  def phasesMs(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  /** (operator count, exchange count) of the executed plan, adaptive
    * stages and subqueries included. */
  def planShape(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.size, nodes.count(_.isInstanceOf[Exchange]))
  }

  /** Leaf relations of the analyzed plan (how deep a union tree grew). */
  def leafRelations(df: DataFrame): Int = df.queryExecution.analyzed.collectLeaves().size
}
