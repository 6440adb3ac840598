package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.{ListenerBusDrain, Rounds}

/** Checkpoint lifetime of the round loops that run through
  * [[org.apache.spark.sql.graft.Rounds]]: called twice in one session,
  * each operator leaves persisted only the checkpoints backing the
  * frame it returned, and the first call's frame still reads the same
  * rows after the second call has freed its own rounds.
  */
class RoundsSpec extends SparkSpec {
  import graft.operators.{Dedup, Graph, Similarity}

  /** Runs `body` and returns its value with the RDD ids unpersisted
    * while it ran.
    */
  private def unpersistedDuring[T](body: => T): (T, Set[Int]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = ids.add(e.rddId)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain.drain(sc)
      (out, ids.asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }

  private def assertRoundsFreed(name: String)(op: => DataFrame): Unit = {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def call(): (DataFrame, Seq[Row]) = {
      val before = persisted
      val firstId = sc.emptyRDD[Int].id // ids above this are the call's own
      val ((out, rows), freed) = unpersistedDuring {
        val out = op
        (out, out.collect().toSeq)
      }
      val backing = Rounds.of(out).toSet
      assert(backing.subsetOf(persisted),
        s"$name: checkpoints ${backing -- persisted} backing the result were freed")
      val leaked = persisted -- before -- backing
      assert(leaked.isEmpty,
        s"$name: superseded round checkpoints $leaked are still persisted")
      // not vacuous: the call checkpointed frames of its own and freed them
      assert(freed.exists(_ > firstId),
        s"$name: freed none of its own checkpoints — the observable is vacuous")
      (out, rows)
    }
    val (first, rows) = call()
    call()
    assert(first.collect().toSeq == rows,
      s"$name: the first call's result changed after a second call")
  }

  test("rank, label and distance rounds free every superseded checkpoint") {
    import spark.implicits._
    val star = (2L to 5L).map(l => (1L, l)).toDF("src", "dst")
    val cycles = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("src", "dst")
    assertRoundsFreed("pageRankOf")(Graph.pageRankOf(star, iters = 3, topK = 5))
    assertRoundsFreed("pprOf")(
      Graph.pprOf(cycles, Seq(1L).toDF("snode"), iters = 3, topK = 10))
    assertRoundsFreed("labelPropOf")(Graph.labelPropOf(cycles, iters = 3))
    val w = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 100L), (9L, 10L, 5L))
      .toDF("src", "dst", "w")
    assertRoundsFreed("ssspOf")(Graph.ssspOf(w, iters = 4, topK = 10))
  }

  test("peel rounds (k-core, incremental and full k-truss) free every superseded checkpoint") {
    import spark.implicits._
    // K4 on {1,2,3,4}, a pendant triangle {4,5,6} and a tail edge (6,7):
    // both peels drop the pendant and the tail over more than one round
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val canonical = k4.toDF("a", "b")
    assertRoundsFreed("kcoreOf")(Graph.kcoreOf(k4.toDF("src", "dst"), k = 3, rounds = 8))
    assertRoundsFreed("ktrussOf")(Graph.ktrussOf(canonical, k = 4, rounds = 4))
    assertRoundsFreed("ktrussFullOf")(Graph.ktrussFullOf(canonical, k = 4, rounds = 4))
  }

  test("BFS-level and sketch rounds free their loop-invariant frames") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (5L, 6L)).toDF("src", "dst")
    assertRoundsFreed("betweennessOf")(
      Graph.betweennessOf(path, iters = 3, nSources = 3, topK = 10))
    assertRoundsFreed("closenessOf")(
      Graph.closenessOf(path, iters = 3, nLandmarks = 3, topK = 10))
    assertRoundsFreed("hyperballNodes")(Graph.hyperballNodes(spark, path, iters = 4, b = 4))
  }

  test("connected-component rounds free every superseded checkpoint") {
    import spark.implicits._
    val chain = (0L until 16L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assertRoundsFreed("clusterLabels")(Dedup.clusterLabels(chain))
  }

  test("k-center coreset rounds free every checkpoint (the result is driver-built)") {
    assertRoundsFreed("embCoreset")(Similarity.embCoreset(spark, sfDir, k = 4))
  }
}
