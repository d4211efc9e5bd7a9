/* Bridge into Spark's private[sql] Column <-> Expression conversion —
 * the standard pattern for libraries shipping native Catalyst
 * expressions (the public Column API intentionally hides expression
 * internals since Spark 4's sql-api split). */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Ids of the materialized RDDs backing a (local)checkpointed frame —
    * the LogicalRDD leaves of its plan. Lets a cache validate that the
    * blocks behind a truncated-lineage relation still exist (via
    * SparkContext.getRDDStorageInfo) WITHOUT running a job. */
  def checkpointRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** Ids of the columnar cache RDDs behind a `Dataset.persist`ed frame
    * (the InMemoryRelation's cached column buffers). These are what
    * `SparkContext.getPersistentRDDs` registers for a DataFrame-level
    * persist — NOT the LogicalRDD leaves `checkpointRddIds` sees — so a
    * harness that sweeps persistent RDDs between queries needs exactly
    * these ids to spare a session-cached frame. Only LOADED buffers are
    * reported (touching an unloaded builder would instantiate and
    * register its RDD as a side effect of the inspection). */
  def cachedRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.cachedColumnBuffers.id
    }

  /** Residency of BROADCAST blocks in this JVM's block manager:
    * (count, bytes mem+disk). Broadcasts are freed by the
    * ContextCleaner only after their driver-side handle is GC'd, so a
    * long single-JVM run can carry hundreds of dead broadcasts between
    * collections — this counter is how a memory-floor probe tells
    * broadcast-cleanup lag from a real leak (bench MEMLOG mode). */
  def broadcastBlockStats(): (Int, Long) = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    val ids = bm.getMatchingBlockIds(_.isBroadcast)
    val bytes = ids.iterator
      .flatMap(id => bm.getStatus(id).map(s => s.memSize + s.diskSize)).sum
    (ids.size, bytes)
  }

  /** Eager localCheckpoint that RETURNS the materialized row count.
    * `Dataset.localCheckpoint(true)` already runs one materializing job
    * and discards its result, so an iterative loop that needs a
    * per-round emptiness/progress test pays a SECOND job for it
    * (`count()`/`isEmpty`) — at local job-latency scale that is the
    * dominant cost of the latency-bound loops (`graft.core.Fixpoint`).
    * This mirrors the Dataset.localCheckpoint internals: copy rows (the
    * scan reuses UnsafeRow buffers), localCheckpoint the RDD, count to
    * materialize, and wrap the RDD with `LogicalRDD.fromDataset`, which
    * keeps the executed plan's outputPartitioning/outputOrdering and
    * the optimized plan's statistics, exactly as Dataset.localCheckpoint
    * does. Under AQE the executed plan's root is the adaptive wrapper,
    * which reports UnknownPartitioning, so there (as with
    * Dataset.localCheckpoint) only the statistics carry over. Reporting
    * the adaptive FINAL plan's coalesced partitioning instead was
    * measured on the latency-bound graph loops (ccDataFrame on a
    * 45-node forest, local[4]: 32 → 47 jobs per call), so it is not
    * done. Identical storage/release
    * semantics to Dataset.localCheckpoint: the RDD registers in
    * getPersistentRDDs and [[freeCheckpoint]] releases it. */
  def localCheckpointCount(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val internal = ds.queryExecution.toRdd.map(_.copy())
    internal.localCheckpoint()
    val n = internal.count()
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(internal, ds, isStreaming = false)), n)
  }

  /** Release the materialized RDD blocks behind a (local)checkpointed
    * frame — the storage half of `checkpointRddIds`. Iterative
    * algorithms that maintain ONE frame across rounds (settled sets,
    * color maps) supersede a checkpoint per round; without an explicit
    * release each superseded copy stays pinned in the block store for
    * the session's lifetime — O(rounds × frame) storage, the quantity
    * that matters on a 200-level-diameter graph. Only call once the
    * SUCCESSOR checkpoint has materialized (eager localCheckpoint)
    * and no other plan references the frame. Non-blocking. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ =>
    }
}
