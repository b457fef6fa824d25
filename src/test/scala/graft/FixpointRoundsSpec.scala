package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bfs, DagLevels}

/** Structural guard on the delta-fold fixpoint: on a chain of L nodes
  * (H = L - 1 hops) Bfs.distances from the head and DagLevels.levels both
  * converge in exactly H / 2 + 1 double-stepped rounds, and each round is
  * ONE Spark job on top of a set-up that does not grow with the chain. */
class FixpointRoundsSpec extends AnyFunSuite {
  import TestSpark._

  /** Spark jobs started while `body` runs. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  private val operators: Seq[(String, (DataFrame, DataFrame, Int) => DataFrame)] = Seq(
    "Bfs.distances" -> ((n, e, m) => Bfs.distances(n, e, 0L, maxIters = m)),
    "DagLevels.levels" -> ((n, e, m) => DagLevels.levels(n, e, maxIters = m)))

  test("a chain converges in its known round count, one job per round") {
    import TestSpark.spark.implicits._
    for ((name, op) <- operators) {
      val setup = for (len <- Seq(8, 13, 30)) yield {
        val nodes = (0L until len).toDF("node")
        val edges = (0L until len - 1).map(i => (i, i + 1)).toDF("src", "dst")
        val rounds = (len - 1) / 2 + 1
        // the guard fails when the last needed round reaches maxIters
        intercept[IllegalArgumentException](op(nodes, edges, rounds))
        val (got, n) = jobs {
          op(nodes, edges, rounds + 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        // head-rooted hop distance and longest-path level both equal i
        assert(got === (0L until len).map(i => i -> i).toMap, s"$name, L = $len")
        n - rounds
      }
      // set-up and the result's collect: a fixed number of jobs
      assert(setup.distinct.size === 1, s"$name: jobs beyond one per round $setup")
      assert(setup.head <= 3, s"$name: set-up jobs ${setup.head}")
    }
  }
}
