package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Structural guard on the MinHash LSH engine: band candidates, the
  * shared-band cut and the signature estimate run as one job inside the
  * consuming action, so the job count of a near-dup query does not grow
  * with the corpus and stays within a small fixed bound. */
class LshJobsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

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

  /** n random docs, every fifth with a near twin. */
  private def corpus(n: Int) = {
    val rnd = new scala.util.Random(n)
    val vocab = Vector.tabulate(60)(i => s"w$i")
    def doc(k: Int): String = Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until n).map(i => (i, doc(30)))
    (base ++ base.filter(_._1 % 5 == 0).map { case (i, t) => (i + 100000L, t + " " + doc(1)) })
      .toDF("id", "text")
  }

  test("minhashNearDupPairs runs the same small number of jobs at 50 and at 500 docs") {
    val counts = for (n <- Seq(50, 500)) yield {
      val docs = corpus(n)
      val (pairs, k) = jobs(Dedup.minhashNearDupPairs(docs, "id", "text").collect())
      assert(pairs.length >= n / 5, s"$n docs: twins missing")
      k
    }
    info(s"jobs at 50 and 500 docs: ${counts.mkString(", ")}")
    assert(counts.distinct.size === 1, s"job count grows with the corpus: $counts")
    assert(counts.head <= 6, s"jobs: ${counts.head}")
  }
}
