package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Bfs

/** Wave-7 pins: multi-source BFS must equal k independent single-source
  * runs (the amortized loop changes cost, never labels), and the Allen
  * CASE ladder must classify one hand-built pair per relation. */
class ClosenessAllenSpec extends AnyFunSuite {
  import TestSpark._

  test("distancesMulti equals per-source distances on a random digraph") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(173)
    val nodes = (0L to 59L)
    val edges = Seq.fill(140)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).distinct
    val nodesDf = nodes.toDF("node")
    val edgesDf = edges.toDF("src", "dst")
    val sources = Seq(0L, 7L, 23L)
    val multi = Bfs.distancesMulti(nodesDf, edgesDf, sources)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val singles = sources.flatMap { s =>
      Bfs.distances(nodesDf, edgesDf, s)
        .collect().map(r => (s, r.getLong(0)) -> r.getLong(1))
    }.toMap
    assert(multi === singles)

    // a source that reaches nothing (node 4 has no out-edges, node 5 only
    // a phantom one), duplicate edges and a self-loop, with more shuffle
    // partitions than nodes so some partitions are empty
    val small = (0L to 7L).toDF("node")
    val smallEdges = Seq((0L, 1L), (0L, 1L), (1L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (5L, 40L), (40L, 6L), (6L, 7L)).toDF("src", "dst")
    val got = withShufflePartitions(16) {
      Bfs.distancesMulti(small, smallEdges, Seq(0L, 4L, 5L, 6L))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    assert(got === Map(
      (0L, 0L) -> 0L, (0L, 1L) -> 1L, (0L, 2L) -> 2L, (0L, 3L) -> 3L,
      (4L, 4L) -> 0L, (5L, 5L) -> 0L, (6L, 6L) -> 0L, (6L, 7L) -> 1L))
  }

  test("the Allen ladder classifies one crafted pair per relation") {
    import TestSpark.spark.implicits._
    // (a_start, a_end, b_start, b_end, expected)
    val cases = Seq[(Long, Long, Long, Long, String)](
      (0, 2, 5, 8, "before"),
      (0, 5, 5, 8, "meets"),
      (0, 6, 5, 8, "overlaps"),
      (5, 6, 5, 8, "starts"),
      (6, 7, 5, 8, "during"),
      (6, 8, 5, 8, "finishes"),
      (5, 8, 5, 8, "equals"),
      (4, 8, 5, 8, "finished_by"),
      (4, 9, 5, 8, "contains"),
      (5, 9, 5, 8, "started_by"),
      (6, 9, 5, 8, "overlapped_by"),
      (8, 9, 5, 8, "met_by"),
      (9, 11, 5, 8, "after"))
    val df = cases.zipWithIndex
      .map { case ((as, ae, bs, be, e), i) => (i.toLong, as, ae, bs, be, e) }
      .toDF("i", "a_start", "a_end", "b_start", "b_end", "expected")
    val got = df.withColumn("relation",
      when(col("a_end") < col("b_start"), "before")
        .when(col("a_end") === col("b_start"), "meets")
        .when(col("b_end") < col("a_start"), "after")
        .when(col("b_end") === col("a_start"), "met_by")
        .when(col("a_start") === col("b_start") && col("a_end") === col("b_end"), "equals")
        .when(col("a_start") === col("b_start") && col("a_end") < col("b_end"), "starts")
        .when(col("a_start") === col("b_start"), "started_by")
        .when(col("a_end") === col("b_end") && col("a_start") > col("b_start"), "finishes")
        .when(col("a_end") === col("b_end"), "finished_by")
        .when(col("a_start") > col("b_start") && col("a_end") < col("b_end"), "during")
        .when(col("a_start") < col("b_start") && col("a_end") > col("b_end"), "contains")
        .when(col("a_start") < col("b_start"), "overlaps")
        .otherwise("overlapped_by"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("relation") === r.getAs[String]("expected"),
        s"case ${r.getAs[Long]("i")}")
    }
    // the 13 crafted pairs cover all 13 relations exactly once
    assert(got.map(_.getAs[String]("relation")).toSet.size === 13)
  }
}
