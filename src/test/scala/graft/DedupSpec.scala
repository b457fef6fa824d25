package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again until done " * 4
    val nearDup = base.replace("lazy", "sleepy") // one token of ~60 changed
    val docs = Seq(
      (1L, base), (2L, nearDup),
      (3L, "completely different content about spark catalyst optimizer rules engine " * 4))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      Dedup.MinHashConfig(threshold = 0.5))
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("LSH pair set equals brute-force exact Jaccard on random corpora " +
    "(shared-band prefilter + survivor-only shingle fetch lose nothing)") {
    import graft.expressions.{ShingleHashes, Sketch, SortedIntersectCount}
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(40)(i => s"w$i")
      def doc(n: Int): String =
        Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = (0L until 50L).map(i => (i, doc(25)))
      // append-1 twins sit at jacc ~= 21/22 = 0.95 (kept at t=0.9);
      // append-3 decoys sit at ~= 21/24 = 0.875 (dropped at t=0.9) — both
      // exercise the exact-verify boundary, not just easy 1.0 copies
      val twins = base.take(8).map { case (i, t) => (i + 1000L, t + " " + doc(1)) }
      val decoys = base.slice(8, 16).map { case (i, t) => (i + 2000L, t + " " + doc(3)) }
      val docs = (base ++ twins ++ decoys).toDF("id", "text")

      val lsh = Dedup.minhashNearDupPairs(docs, "id", "text")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

      val sh = docs.select(col("id"),
        Sketch.column(ShingleHashes(Sketch.expr(col("text")), 5, word = true)).as("sh"))
      val inter = Sketch.column(SortedIntersectCount(
        Sketch.expr(col("a.sh")), Sketch.expr(col("b.sh"))))
      val exact = sh.as("a").crossJoin(sh.as("b"))
        .where(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (inter.cast("double") /
            (size(col("a.sh")) + size(col("b.sh")) - inter)).as("jacc"))
        .where(col("jacc") >= 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

      assert(exact.nonEmpty, s"seed $seed planted no exact pairs — generator broken")
      assert(lsh === exact, s"seed $seed: LSH pairs != brute-force exact pairs")
    }
  }

  test("index probe pair set equals brute-force cross Jaccard on random corpora " +
    "(delta-vs-base probe loses nothing, emits no within-side pairs)") {
    import graft.expressions.{ShingleHashes, Sketch, SortedIntersectCount}
    for (seed <- 11 to 13) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(40)(i => s"w$i")
      def doc(n: Int): String =
        Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = (0L until 50L).map(i => (i, doc(25)))
      // delta = fresh docs + twins of base docs (append-1, jacc ~0.95) +
      // decoys (append-3, ~0.875 — below t=0.9, must NOT match)
      val fresh = (0L until 20L).map(i => (i + 500L, doc(25)))
      val twins = base.take(6).map { case (i, t) => (i + 1000L, t + " " + doc(1)) }
      val decoys = base.slice(6, 12).map { case (i, t) => (i + 2000L, t + " " + doc(3)) }
      val baseDf = base.toDF("id", "text")
      val deltaDf = (fresh ++ twins ++ decoys).toDF("id", "text")

      val probe = Dedup.minhashProbePairs(baseDf, deltaDf, "id", "text")
        .select("id_base", "id_delta").as[(Long, Long)].collect().toSet

      def sh(df: org.apache.spark.sql.DataFrame) = df.select(col("id"),
        Sketch.column(ShingleHashes(Sketch.expr(col("text")), 5, word = true)).as("sh"))
      val inter = Sketch.column(SortedIntersectCount(
        Sketch.expr(col("a.sh")), Sketch.expr(col("b.sh"))))
      val exact = sh(baseDf).as("a").crossJoin(sh(deltaDf).as("b"))
        .select(col("a.id").as("id_base"), col("b.id").as("id_delta"),
          (inter.cast("double") /
            (size(col("a.sh")) + size(col("b.sh")) - inter)).as("jacc"))
        .where(col("jacc") >= 0.9)
        .select("id_base", "id_delta").as[(Long, Long)].collect().toSet

      assert(exact.nonEmpty, s"seed $seed planted no cross pairs — generator broken")
      assert(probe === exact, s"seed $seed: probe pairs != brute-force cross pairs")
      assert(probe.forall { case (b, d) => b < 500L && d >= 500L },
        s"seed $seed: probe emitted a within-side pair")
    }
  }

  test("lm score: kept flag replays the exact integer mean rule, both classes non-empty") {
    // Driver-side BigInt model of the decision rule over the real sf0.001
    // run: kept ⇔ score_sum · Σn ≥ n · Σscore_sum, computed without the
    // DECIMAL(19,0) path the query uses — a divergence means the cross-
    // multiplication overflowed or the one-row broadcast picked up stale
    // totals. Also pins that the threshold actually splits the corpus.
    val rows = SparkEntry.queries("text_lm_score")(spark, Sf)
      .select("doc_id", "n_bigrams", "score_sum", "kept").collect()
      .map(r => (r.getLong(0), BigInt(r.getLong(1)), BigInt(r.getLong(2)), r.getBoolean(3)))
    val totN = rows.map(_._2).sum
    val totS = rows.map(_._3).sum
    rows.foreach { case (id, n, s, kept) =>
      assert(kept === (s * totN >= n * totS), s"doc $id kept flag diverges from BigInt model")
    }
    assert(rows.exists(_._4) && rows.exists(!_._4),
      "mean threshold did not split the corpus — the gate is vacuous")
  }

  test("edit-distance pair set equals brute-force Levenshtein on random corpora " +
    "(deletion-neighborhood candidates lose no substitution/insert/delete twin)") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    for (seed <- 21 to 23) {
      val rnd = new scala.util.Random(seed)
      def word(n: Int): String =
        Seq.fill(n)(('a' + rnd.nextInt(6)).toChar).mkString
      val base = (0L until 60L).map(i => (i, word(12 + rnd.nextInt(6))))
      // one twin per edit class (must all be found) + dist-2 decoys (must
      // be candidate-generated or not — either way verification drops them)
      val twins = base.take(9).zipWithIndex.map { case ((i, t), ix) =>
        val pos = 1 + rnd.nextInt(t.length - 2)
        val mutated = ix % 3 match {
          case 0 => t.updated(pos, 'Z')                         // substitution
          case 1 => t.substring(0, pos) + "Z" + t.substring(pos) // insertion
          case _ => t.substring(0, pos) + t.substring(pos + 1)   // deletion
        }
        (i + 100L, mutated)
      }
      val decoys = base.slice(9, 15).map { case (i, t) =>
        (i + 200L, "ZZ" + t.substring(2)) }
      val all = base ++ twins ++ decoys
      val got = Dedup.editDistancePairs(all.toDF("id", "t"), "id", "t")
        .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
      val want = (for {
        (ia, ta) <- all; (ib, tb) <- all
        if ia < ib
        d = lev(ta, tb) if d <= 1
      } yield (ia, ib, d.toLong)).toSet
      assert(want.size >= 9, s"seed $seed planted fewer twins than expected")
      assert(got === want, s"seed $seed: FastSS pairs != brute-force Levenshtein pairs")

      // two-table probe variant over a master/feed split of the same
      // corpus: pair set must equal the brute-force cross restricted to
      // (master, feed), with no within-side pairs by construction
      val (master, feed) = all.partition(_._1 % 2 == 0)
      val gotProbe = Dedup.editDistanceProbePairs(
        master.toDF("id", "t"), feed.toDF("id", "t"), "id", "t")
        .select("id_master", "id_probe", "dist").as[(Long, Long, Long)].collect().toSet
      val wantProbe = (for {
        (im, tm) <- master; (ip, tp) <- feed
        d = lev(tm, tp) if d <= 1
      } yield (im, ip, d.toLong)).toSet
      assert(gotProbe === wantProbe,
        s"seed $seed: probe pairs != brute-force master x feed Levenshtein pairs")
    }
  }

  test("index probe candidate generation has no cartesian product in the plan") {
    val baseDf = (0L until 20L).map(i => (i, s"alpha beta gamma delta epsilon zeta token$i end"))
      .toDF("id", "text")
    val deltaDf = (100L until 110L).map(i => (i, s"alpha beta gamma delta epsilon zeta token$i end"))
      .toDF("id", "text")
    val plan = Dedup.minhashProbePairs(baseDf, deltaDf, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("minhash sketch cache is released after the consuming action") {
    // the operator caches nothing: right after the action no cached
    // relation and no RDD persisted by it remains (a suite that constructs
    // a scoped pipeline without consuming it may hold a cache entry, so
    // start from a clean cache manager)
    spark.sharedState.cacheManager.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta " * 8),
      (2L, "alpha beta gamma delta epsilon zeta eta theta " * 8))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(spark.sharedState.cacheManager.isEmpty, "a relation is still cached")
    assert(spark.sparkContext.getPersistentRDDs.keySet -- persisted === Set.empty,
      "the operator left a persisted RDD")
  }

  test("minhash candidate generation has no cartesian product in the plan") {
    val docs = Tables.documents(spark, Sf)
    val plan = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"crossJoin leaked into LSH plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("embedding LSH finds planted near-duplicate vectors") {
    // perturbation of 0.05 sigma per dim gives cos ~ 0.9987 >> 0.9; with
    // 256 bands x 16 bits the analytic miss probability at cos 0.9 is
    // ~1.9e-10 (see Dedup.embeddingNearDupPairs doc), so this must be
    // deterministic in practice. Unrelated random 64-dim pairs sit near
    // cos 0 and must be absent (exact verify).
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 20).map(_ => vec())
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      base.take(5).zipWithIndex.map { case (v, i) =>
        ((100 + i).toLong, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      }
    val df = rows.toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", dim = 64, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(found.contains((i.toLong, (100 + i).toLong)), s"planted pair $i missed")
    }
    assert(found.size === 5, s"unexpected extra pairs: $found")
  }

  test("exactLatest keeps exactly one row per key") {
    val ev = Tables.events(spark, Sf)
    val out = Dedup.exactLatest(ev, Seq("user_id", "event_type"),
      Seq(col("ts_ns"), col("event_id")))
    assert(out.groupBy("user_id", "event_type").count()
      .agg(max("count")).head().getLong(0) === 1L)
  }

  test("simhash of identical token multisets collides; differing texts mostly differ") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"), // same multiset -> same simhash
      (3L, "totally unrelated words here padding tokens")).toDF("doc_id", "text")
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) === fp(2L))
  }

  test("content-defined chunks partition the text and survive an early edit") {
    val base = "abcdefgh" * 40
    val docs = Seq((1L, base), (2L, "XYZ" + base), // insertion at the front
      (3L, "ab"), (4L, "")).toDF("doc_id", "text")
    val chunks = Dedup.contentChunks(docs, "doc_id", "text", w = 8, modulus = 16)
      .collect().groupBy(_.getLong(0))

    // chunks partition [1, len]: contiguous offsets, lengths sum to len
    val c1 = chunks(1L).sortBy(_.getLong(1))
    assert(c1.head.getLong(2) == 1L)
    assert(c1.map(_.getLong(3)).sum == base.length.toLong)
    c1.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(2) == a.getLong(2) + a.getLong(3))
      case _ =>
    }
    // content-defined = the shifted doc re-aligns: most chunk fingerprints
    // shared with the unshifted doc (a fixed-width splitter would share 0)
    val f1 = c1.map(_.getString(4)).toSet
    val f2 = chunks(2L).map(_.getString(4)).toSet
    assert((f1 intersect f2).size >= f1.size - 2, s"${(f1 intersect f2).size} of ${f1.size}")
    // shorter than the window -> one chunk; empty text -> no chunks
    assert(chunks(3L).map(r => (r.getLong(2), r.getLong(3))).toSeq == Seq((1L, 2L)))
    assert(!chunks.contains(4L))
  }

  test("chunk boundaries count codepoints, not UTF-16 units") {
    // an emoji (surrogate pair) is ONE position: chunk lengths must still
    // sum to the codepoint length and the md5'd slices must reassemble the
    // original text
    val text = "ab😀cd" * 30 // 5 codepoints, 6 UTF-16 units per rep
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = Dedup.contentChunks(docs, "doc_id", "text", w = 8, modulus = 16)
      .collect().sortBy(_.getLong(1))
    assert(chunks.map(_.getLong(3)).sum == 150L) // codepoint count
    val last = chunks.last
    assert(last.getLong(2) + last.getLong(3) - 1 == 150L)
  }

  test("embedding near-dup finds a planted duplicate vector") {
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val v2 = v.clone(); v2(0) = (v2(0) * 1.001f) // ~identical direction
    val other = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v.toSeq), (2L, v2.toSeq), (3L, other.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", 64, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }
}
