package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{MinHashSig, ShingleHashes, Sketch}
import graft.functions.TextFunctions.lshBandHashes
import graft.operators.Dedup
import graft.operators.Dedup.MinHashConfig

/** The MinHash LSH pair operators against driver-side models on random
  * corpora: with no bucket cap the output equals brute-force exact
  * Jaccard over all pairs; with a cap it equals the staged model (shared
  * bands in kept buckets, signature estimate, exact Jaccard) and
  * lshBucketCensus reports exactly the buckets the model drops. Every
  * case runs at the session's 4 shuffle partitions and again at 16. */
class LshPropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private type Pair = (Long, Long, Double)

  /** A doc of the model: id and block may be null. */
  private final case class Doc(id: Option[Long], sh: Array[Long], blk: Option[String],
      sig: Array[Long], bands: Array[Long])

  /** The docs' shingle sets, signatures and band hashes, from the kernels
    * the operators use. */
  private def model(docs: DataFrame, n: Int, word: Boolean, cfg: MinHashConfig,
      blockCol: Option[String]): Seq[Doc] = {
    val sh = Sketch.column(ShingleHashes(Sketch.expr(col("text")), n, word))
    docs.select(col("id"), sh.as("sh"), blockCol.fold(lit(null).cast("string"))(col).as("blk"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", Sketch.column(MinHashSig(Sketch.expr(col("sh")), cfg.numPerm)))
      .withColumn("bands", lshBandHashes(col("sig"), cfg.bands, cfg.rowsPerBand))
      .collect().toSeq.map { r =>
        Doc(Option(r.get(0)).map(_.asInstanceOf[Long]), r.getSeq[Long](1).toArray,
          Option(r.getString(2)), r.getSeq[Long](3).toArray, r.getSeq[Long](4).toArray)
      }
  }

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val inter = a.toSet.intersect(b.toSet).size.toLong
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Pairs of docs with ids, in one block when blocked, that `keep`. */
  private def pairsOf(ds: Seq[Doc], blocked: Boolean)(keep: (Doc, Doc) => Boolean): Set[Pair] =
    (for {
      x <- ds; y <- ds
      a <- x.id; b <- y.id if a < b
      if !blocked || (x.blk.isDefined && x.blk == y.blk)
      if keep(x, y)
    } yield (a, b, jaccard(x.sh, y.sh))).toSet

  private def bruteForce(ds: Seq[Doc], cfg: MinHashConfig, blocked: Boolean): Set[Pair] =
    pairsOf(ds, blocked)((x, y) => jaccard(x.sh, y.sh) >= cfg.threshold)

  /** Bucket key (band, hash, block) to bucket size; null ids count. */
  private def buckets(ds: Seq[Doc]): Map[(Int, Long, Option[String]), Int] =
    ds.flatMap(d => d.bands.indices.map(b => (b, d.bands(b), d.blk)))
      .groupBy(identity).view.mapValues(_.size).toMap

  /** The staged pipeline with a bucket cap: shared bands among kept
    * buckets, the μ−6σ cut, the signature estimate, exact Jaccard. */
  private def capped(ds: Seq[Doc], cfg: MinHashConfig, cap: Int, blocked: Boolean): Set[Pair] = {
    val size = buckets(if (blocked) ds.filter(_.blk.isDefined) else ds.map(_.copy(blk = None)))
    def shared(x: Doc, y: Doc): Int = x.bands.indices.count { b =>
      x.bands(b) == y.bands(b) && size((b, x.bands(b), if (blocked) x.blk else None)) <= cap
    }
    pairsOf(ds, blocked) { (x, y) =>
      val est = x.sig.indices.count(j => x.sig(j) == y.sig(j)).toDouble / cfg.numPerm
      shared(x, y) >= Dedup.minSharedBands(cfg) && est >= cfg.threshold - 0.15 &&
        jaccard(x.sh, y.sh) >= cfg.threshold
    }
  }

  private def collectPairs(df: DataFrame): Set[Pair] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Runs `body` at the session's shuffle partitions, then at 16. */
  private def atBothWidths(body: String => Unit): Unit = {
    body("4 partitions")
    withShufflePartitions(16)(body("16 partitions"))
  }

  /** Random word docs plus near twins (one word appended, J ≈ 0.95) and
    * decoys (three words appended, J ≈ 0.875). */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    def doc(k: Int): String = Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until n).map(i => (i, doc(20 + rnd.nextInt(15))))
    base ++ base.take(n / 6).map { case (i, t) => (i + 1000L, t + " " + doc(1)) } ++
      base.slice(n / 6, n / 3).map { case (i, t) => (i + 2000L, t + " " + doc(3)) }
  }

  private val cfg = MinHashConfig()

  test("minhashNearDupPairs equals brute-force exact Jaccard on random corpora") {
    atBothWidths { width =>
      for (seed <- 31 to 33) {
        val docs = corpus(seed, 60).toDF("id", "text")
        val want = bruteForce(model(docs, cfg.shingleSize, word = true, cfg, None), cfg, false)
        assert(want.size >= 10, s"seed $seed: the generator planted too few pairs")
        val got = collectPairs(Dedup.minhashNearDupPairs(docs, "id", "text", cfg))
        assert(got === want, s"$width, seed $seed")
      }
    }
  }

  test("ngramNearDupPairs with a block column pairs within blocks only, " +
    "never a null block or a null id") {
    val ngram = MinHashConfig(threshold = 0.8)
    atBothWidths { width =>
      for (seed <- 41 to 43) {
        // a twin shares its original's block, except every fourth one,
        // which moves to the next block; a third of the blocks are null
        val blocks = Vector(Some("a"), Some("b"), None)
        val rows = corpus(seed, 48).map { case (i, t) =>
          val shift = if (i >= 1000 && i % 4 == 0) 1 else 0
          (if (i % 17 == 5) None else Some(i), t, blocks((i % 1000 + shift).toInt % 3))
        }
        val docs = rows.toDF("id", "text", "src")
        val ds = model(docs, 3, word = false, ngram, Some("src"))
        val want = bruteForce(ds, ngram, blocked = true)
        assert(want.size >= 3, s"seed $seed: the generator planted too few in-block pairs")
        assert(bruteForce(ds, ngram, blocked = false).size > want.size,
          s"seed $seed: no pair crosses blocks, so blocking is untested")
        val got = collectPairs(
          Dedup.ngramNearDupPairs(docs, "id", "text", 3, ngram, blockCol = Some("src")))
        assert(got === want, s"$width, seed $seed")
      }
    }
  }

  test("degenerate inputs: an empty frame, one doc, docs whose shingle sets are all empty") {
    val inputs = Seq(
      "empty frame" -> Seq.empty[(Long, String)].toDF("id", "text"),
      "one doc" -> Seq((1L, "one lonely document with more than five words in it")).toDF("id", "text"),
      "no shingles" -> Seq((1L, ""), (2L, ""), (3L, null)).toDF("id", "text"))
    atBothWidths { width =>
      for ((name, docs) <- inputs) {
        assert(Dedup.minhashNearDupPairs(docs, "id", "text", cfg).collect().isEmpty,
          s"$width, $name")
        assert(Dedup.ngramNearDupPairs(docs.withColumn("src", lit("s")), "id", "text", 3, cfg,
          blockCol = Some("src")).collect().isEmpty, s"$width, $name (blocked)")
      }
    }
  }

  test("a bucket of identical docs: uncapped it pairs whole, capped it is dropped " +
    "exactly as lshBucketCensus reports") {
    val boiler = "subscribe to our newsletter for daily updates terms of service apply " +
      "all rights reserved contact us at the address below for more information"
    val docs = (corpus(51, 30) ++ (1 to 9).map(i => (3000L + i, boiler)))
      .toDF("id", "text")
    val cap = 5
    val ds = model(docs, cfg.shingleSize, word = true, cfg, None)
    val dropped = buckets(ds).values.filter(_ > cap)
    atBothWidths { width =>
      val clones = (for (a <- 3001L to 3009L; b <- a + 1 to 3009L) yield (a, b, 1.0)).toSet
      val uncapped = collectPairs(Dedup.minhashNearDupPairs(docs, "id", "text", cfg))
      assert(uncapped === bruteForce(ds, cfg, blocked = false), width)
      assert(clones.subsetOf(uncapped), width)

      val capCfg = cfg.copy(maxBucketSize = Some(cap))
      val got = collectPairs(Dedup.minhashNearDupPairs(docs, "id", "text", capCfg))
      assert(got === capped(ds, cfg, cap, blocked = false), width)
      assert(got.intersect(clones).isEmpty, width)

      val c = Dedup.lshBucketCensus(docs, "id", "text", capCfg).head()
      assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ===
        ((buckets(ds).size.toLong, dropped.size.toLong, dropped.sum.toLong,
          dropped.map(b => b.toLong * (b - 1) / 2).sum)), width)
      assert(dropped.size >= cfg.bands, s"$width: the clones fill every band")
    }
  }
}
