package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The checkpoint lifetime of one iterative operator's rounds.
  *
  * Every round loop in graft (rank, label, distance, peel, component
  * and coreset rounds) `localCheckpoint`s its state so plans stay
  * constant-size. A dereferenced checkpoint is otherwise reclaimed
  * only by the async ContextCleaner after a GC, and back-to-back
  * invocations in one JVM accumulate every earlier run's frames until
  * storage-eviction churn degrades later runs (r14: k-truss warm
  * iterations 11 s → 21 s inside one bench entry). A scope frees each
  * frame as soon as it is dead.
  *
  * Freed blocks are UNRECOVERABLE: `localCheckpoint` truncates
  * lineage, so a plan that still reads a freed frame fails with
  * "checkpoint block not found" instead of recomputing. A frame may
  * therefore be freed only after every consumer has materialized. The
  * scope holds that by construction:
  *   - every checkpoint is eager, so a round's successor has
  *     materialized before the round is freed;
  *   - it frees only frames it checkpointed itself — never a caller's
  *     input or a shared cache such as `Graph.partsGraph`'s stream;
  *   - when the body returns, every frame it checkpointed that does not
  *     back the returned frame (loop-invariant edges, forward BFS
  *     levels, round scratch) is freed in one batch. Batching is the
  *     measured-fastest shape for many small frames (r15 betweenness
  *     A/B: per-level frees cost a diffuse ~1 s).
  * A body must hand out its checkpointed frames only through its
  * result. Freeing is a non-blocking unpersist, not a Spark job: a
  * scope issues exactly the actions of the `localCheckpoint`s and
  * convergence tests its body asks for.
  */
final class Rounds private (sc: SparkContext) {
  private val owned = scala.collection.mutable.LinkedHashSet.empty[Int]

  /** Eager `localCheckpoint` of `df`, owned (and later freed) by this
    * scope.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    owned ++= Rounds.of(cp)
    cp
  }

  /** One round: checkpoint `next`, then free the frames `prev` reads —
    * `next` has materialized, so they are superseded.
    */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val cp = checkpoint(next)
    free(Rounds.of(prev))
    cp
  }

  /** Up to `maxRounds` rounds of `step` from `init`, stopping after the
    * first round whose checkpointed state is `converged`. Each round's
    * state supersedes the previous state and every frame `step`
    * checkpointed on the way to it. Returns the last state and the
    * number of rounds run.
    */
  def until(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)(
      converged: DataFrame => Boolean): (DataFrame, Int) = {
    var state = init
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val before = owned.toSet
      val next = checkpoint(step(state))
      free(owned.toSet -- before -- Rounds.of(next) ++ Rounds.of(state))
      state = next
      rounds += 1
      done = converged(next)
    }
    (state, rounds)
  }

  /** Exactly `rounds` rounds of `step` from `init` (see [[until]]). */
  def loop(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    until(init, rounds)(step)(_ => false)._1

  private def free(ids: Iterable[Int]): Unit = {
    val mine = ids.filter(owned).toSeq
    owned --= mine
    Rounds.freeIds(sc, mine)
  }
}

object Rounds {
  /** Runs `body` in a fresh scope and returns its result; every frame
    * the scope checkpointed that the result does not read is then
    * freed.
    */
  def apply(spark: SparkSession)(body: Rounds => DataFrame): DataFrame = {
    val rs = new Rounds(spark.sparkContext)
    val result = body(rs)
    rs.free(rs.owned.toSet -- of(result))
    result
  }

  /** A `converged` test for [[Rounds.until]]: the round's row count
    * equals the previous round's (`initial` for the first) — one
    * `count()` per round.
    */
  def sameCount(initial: Long): DataFrame => Boolean = {
    var last = initial
    next => {
      val n = next.count()
      val same = n == last
      last = n
      same
    }
  }

  /** The persistent RDD ids BACKING a `localCheckpoint`'ed Dataset,
    * read from the frame's own plan (its `LogicalRDD` leaves) rather
    * than diffing `getPersistentRDDs` around the build — the set-diff
    * attributes any RDD persisted CONCURRENTLY in the window to the
    * wrong owner, and unpersisting a mis-attributed checkpoint frees
    * that other query's ONLY block copy. `Dataset.localCheckpoint()`
    * persists the internal row RDD and wraps exactly that RDD in the
    * returned frame's `LogicalRDD`.
    */
  def of(frames: Dataset[_]*): Seq[Int] =
    frames.flatMap(_.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }).distinct.sorted

  /** Non-blocking unpersist by raw RDD id — for the cross-invocation
    * caches that record a superseded frame's ids (via [[of]]) without
    * keeping the Dataset alive. Same precondition as a scope's frees:
    * every reader of those ids has materialized.
    */
  def freeIds(sc: SparkContext, ids: Seq[Int]): Unit = {
    val persisted = sc.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = false)))
  }
}
