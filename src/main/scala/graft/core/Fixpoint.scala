package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge

/** The one iteration driver behind graft's recursion: the Datalog rule
  * fixpoints (`Compiler`) and the iterative graph operators (`GraphOps`)
  * all run their rounds here.
  *
  * A semi-naive round runs the caller's `expand` step, anti-joins its
  * output against the relation's total on the key columns (null-safe,
  * `<=>`), and checkpoints and counts the new delta in ONE job
  * (`Bridge.localCheckpointCount`). Totals stay union trees of
  * checkpointed deltas and are never re-materialized. Loops that replace
  * their state each round ([[iterate]]) share the same round driver.
  *
  * Release is by construction: the driver frees every frame it
  * supersedes (empty deltas, replaced states, everything on a failed
  * loop) and [[withInputs]] frees the loop-local inputs it materialized.
  * A loop that uses up its round bound without converging raises
  * [[NotConverged]]; a `bounded` loop (a hop limit, as in BFS) returns
  * what it reached instead.
  */
object Fixpoint {

  /** A loop used all `bound` rounds without converging. */
  final class NotConverged(val loop: String, val bound: Int)
      extends IllegalStateException(s"$loop did not converge in $bound rounds")

  /** What round `index` (1-based) of a semi-naive loop sees, per
    * relation: the non-empty deltas of the previous round (in round 1,
    * the non-empty seeds), the totals so far, and the checkpointed
    * seeds. `delta`/`total`/`seed` are the single-relation view. */
  final case class Round[K](index: Int, deltas: Map[K, DataFrame],
                            totals: Map[K, DataFrame], seeds: Map[K, DataFrame]) {
    def delta: DataFrame = deltas.values.head
    def total: DataFrame = totals.values.head
    def seed: DataFrame = seeds.values.head
  }

  /** Semi-naive fixpoint of one relation keyed on `keys`: returns the
    * total, the seed plus every delta. */
  def semiNaive(loop: String, seed: DataFrame, keys: Seq[String], maxIter: Int,
                bounded: Boolean = false)(expand: Round[Unit] => DataFrame): DataFrame =
    semiNaiveGroup(loop, Map(() -> seed), Map(() -> keys), maxIter, bounded)(
      r => Map(() -> expand(r)))(())

  /** Simultaneous semi-naive fixpoint of several relations (a mutually
    * recursive rule group). Each round `expand` returns candidates for
    * the relations it can grow; a relation without a seed has no total
    * until its first non-empty delta. The round's deltas land together,
    * and the loop has converged when a round adds nothing anywhere. */
  def semiNaiveGroup[K](loop: String, seeds: Map[K, DataFrame],
                        keys: Map[K, Seq[String]], maxIter: Int,
                        bounded: Boolean = false)
                       (expand: Round[K] => Map[K, DataFrame]): Map[K, DataFrame] = {
    val first = seeds.map { case (k, s) => k -> Bridge.localCheckpointCount(s) }
    val firstFrames = first.map { case (k, (df, _)) => k -> df }
    val parts = collection.mutable.Map(firstFrames.map { case (k, df) => k -> Vector(df) }.toSeq: _*)
    def totals = parts.map { case (k, ps) => k -> ps.reduce(_ unionAll _) }.toMap
    var deltas = nonEmpty(first)
    drive(loop, maxIter, bounded, deltas.nonEmpty, parts.values.flatten.foreach(Bridge.freeCheckpoint)) { i =>
      val before = totals
      val grown = expand(Round(i, deltas, before, firstFrames)).map { case (k, out) =>
        // fresh attribute ids: `out` may select columns of a part of the
        // total it is anti-joined against
        val next = out.select(out.columns.map(c => col(c).as(c)): _*)
        k -> Bridge.localCheckpointCount(before.get(k).fold(next)(t =>
          next.join(t, joinCond(next, t, keys(k)), "left_anti")))
      }
      grown.foreach { case (k, (df, n)) =>
        if (n > 0) parts(k) = parts.getOrElse(k, Vector.empty) :+ df
        else Bridge.freeCheckpoint(df)
      }
      deltas = nonEmpty(grown)
      deltas.nonEmpty
    }
    totals
  }

  /** Loops that REPLACE their state each round: `step` maps the current
    * (checkpointed) state to the next, and the loop ends once
    * `done(prev, prevRows, next, nextRows)` holds or the state is empty.
    * Each superseded state is released once its successor exists.
    * Returns the final state and its row count. */
  def iterate(loop: String, init: DataFrame, maxIter: Int)(step: DataFrame => DataFrame)
             (done: (DataFrame, Long, DataFrame, Long) => Boolean): (DataFrame, Long) = {
    var (state, rows) = Bridge.localCheckpointCount(init)
    drive(loop, maxIter, bounded = false, rows > 0, Bridge.freeCheckpoint(state)) { _ =>
      val (next, n) = Bridge.localCheckpointCount(step(state))
      val converged = done(state, rows, next, n)
      Bridge.freeCheckpoint(state)
      state = next
      rows = n
      !converged && n > 0
    }
    (state, rows)
  }

  /** Materialize a loop's invariant `inputs` (edge sets, sibling rule
    * relations) once for `body`, and release them when it returns. */
  def withInputs[A](inputs: Seq[DataFrame])(body: Seq[DataFrame] => A): A = {
    val mats = inputs.map(_.localCheckpoint(eager = true))
    try body(mats) finally mats.foreach(Bridge.freeCheckpoint)
  }

  /** Null-safe equi-join condition on `cols`. */
  def joinCond(l: DataFrame, r: DataFrame, cols: Seq[String]): Column =
    cols.map(c => l(c) <=> r(c)).reduce(_ && _)

  private def nonEmpty[K](m: Map[K, (DataFrame, Long)]): Map[K, DataFrame] =
    m.collect { case (k, (df, n)) if n > 0 => k -> df }

  /** The loop: rounds 1..maxIter while `round` reports progress. */
  private def drive(loop: String, maxIter: Int, bounded: Boolean, start: Boolean,
                    release: => Unit)(round: Int => Boolean): Unit = {
    var going = start
    var i = 0
    while (going && i < maxIter) { i += 1; going = round(i) }
    if (going && !bounded) { release; throw new NotConverged(loop, maxIter) }
  }
}
