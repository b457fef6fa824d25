package graft

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def cc(pairs: (Long, Long)*): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find: (vertex, component min) for every endpoint. */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** A path over `ids` in the given order. */
  private def path(ids: Seq[Long]): Seq[(Long, Long)] = ids.zip(ids.tail)

  private val chain1000 = path(0L to 1000L)
  private val permuted1000 = path(new scala.util.Random(4242L).shuffle((0L to 1000L).toVector))

  test("transitive chains collapse to one cluster labeled by the min id") {
    // A~B, B~C via different pairs; D~E separate
    assert(cc((2L, 5L), (5L, 9L), (20L, 30L)) ===
      Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 20L -> 20L, 30L -> 20L))
  }

  test("cycles and stars converge to the same label") {
    // cycle 1-2-3-1 plus star center 10 with leaves
    val got = cc((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (10L, 12L), (10L, 13L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("a deep chain (diameter 12) still reaches fixpoint") {
    val chain = (0L until 12L).map(i => (100L + i, 101L + i))
    val got = cc(chain: _*)
    assert(got.values.toSet === Set(100L))
    assert(got.size === 13)
  }

  test("min id wins regardless of pair orientation") {
    assert(cc((9L, 1L), (1L, 5L)) === Map(1L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("1000-long chain: in order and permuted; fails loud at maxIter 3") {
    // the pathological template-family shape: a path graph of diameter
    // 1000, with ids in order along it and shuffled
    for (chain <- Seq(chain1000, permuted1000)) {
      val got = cc(chain: _*)
      assert(got.size === 1001)
      assert(got.values.toSet === Set(0L))
    }
    // the budget guard throws instead of returning unconverged labels
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain1000.toDF("a", "b"), "a", "b", maxIter = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("star CC handles self-pairs and single edges") {
    assert(cc((7L, 7L), (1L, 2L)) === Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
    // a vertex with a self-pair AND real edges gets one label
    assert(cc((3L, 3L), (3L, 2L), (4L, 4L)) === Map(2L -> 2L, 3L -> 2L, 4L -> 4L))
  }

  test("star CC matches propagation on chains, cycles, and stars") {
    // min-label propagation gives every vertex its component's min id,
    // which is what the union-find reference computes
    val cases = Seq(
      Seq((2L, 5L), (5L, 9L), (20L, 30L)),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (10L, 12L), (10L, 13L)),
      Seq((9L, 1L), (1L, 5L)),
      (0L until 12L).map(i => (100L + i, 101L + i)))
    for (ps <- cases) assert(cc(ps: _*) === reference(ps), s"pairs=$ps")
  }

  test("star CC matches a union-find reference over 20 random graphs") {
    val named = Seq(Seq((7L, 7L), (1L, 2L)), chain1000, permuted1000)
    val rnd = new scala.util.Random(8204L)
    val random = Seq.fill(20) {
      val n = 2 + rnd.nextInt(30)
      Seq.fill(1 + rnd.nextInt(40))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    }
    for (pairs <- named ++ random)
      assert(cc(pairs: _*) === reference(pairs), s"pairs=${pairs.take(40)}")
  }

  test("a pair with a NULL end adds no vertex and no edge; empty pairs give no rows") {
    val withNull = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(3L), None), (None, Some(2L)), (None, None)).toDF("a", "b")
    val got = Dedup.connectedComponents(withNull, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L))

    val empty = Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(empty.columns.toSeq === Seq("v", "cluster"))
    assert(empty.collect().isEmpty)
  }

  test("ids keep their integral type; non-integral ids fail") {
    val ints = Dedup.connectedComponents(Seq((3, 1), (1, 2), (8, 9)).toDF("a", "b"), "a", "b")
    assert(ints.schema.map(_.dataType) === Seq(IntegerType, IntegerType))
    assert(ints.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      Map(1 -> 1, 2 -> 1, 3 -> 1, 8 -> 8, 9 -> 8))
    // an Int end beside a Long end comes back as the wider Long
    val mixed = Seq((3, 1L)).toDF("a", "b")
    assert(Dedup.connectedComponents(mixed, "a", "b").schema.map(_.dataType) ===
      Seq(LongType, LongType))
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq((1.0, 2.0)).toDF("a", "b"), "a", "b")
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("pairs are evaluated once, and reading the result re-runs nothing") {
    val evaluated = spark.sparkContext.longAccumulator("pair rows")
    val tick = udf { (x: Long) => evaluated.add(1); x }.asNondeterministic()
    val pairs = spark.range(0, 50, 1, 3)
      .select(tick(col("id")).as("a"), (col("id") % 7).as("b"))
    val out = Dedup.connectedComponents(pairs, "a", "b")
    val first = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.count() === first.size)
    assert(first === reference((0L until 50L).map(i => (i, i % 7))))
    assert(evaluated.sum === 50L)
  }
}
