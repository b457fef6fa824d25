package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.{MinHashSig, ShingleHashes, Sketch}
import graft.functions.TextFunctions.lshBandHashes
import graft.operators.Dedup.MinHashConfig

/** The LSH candidate engine against a driver model of its contract: one
  * (id_a, id_b) row per pair of sketch rows whose ids share at least
  * `minShared` kept buckets and whose signatures agree on at least
  * `minEstimate` of their positions. Run with the default buffers and
  * again with a 64-long outbox budget and an 8-slot pair table, so every
  * task ships its blocks many times and its pair table mid-bucket. */
class LshPairsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private final case class Doc(id: Option[Long], blk: Long, sig: Array[Long], bands: Array[Long])

  /** Random word docs, near twins, two docs under each of a few ids, docs
    * with no id and a bucket of twelve identical docs. */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    def doc(k: Int): String = Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 40L).map(i => (Option(i), doc(15 + rnd.nextInt(10)), s"s${i % 3}"))
    val twins = base.take(15).map { case (i, t, s) => (i.map(_ + 100L), t + " " + doc(1), s) }
    val sameId = base.take(4).map { case (i, t, s) => (i, t + " " + doc(2), s) }
    val anonymous = base.slice(20, 24).map { case (_, t, s) => (Option.empty[Long], t, s) }
    val clones = (1L to 12L).map(i => (Option(500L + i), "the same boiler plate text in every one of these docs", "s0"))
    (base ++ twins ++ sameId ++ anonymous ++ clones).toDF("id", "text", "src")
  }

  /** The sketch the way Dedup builds it, and its rows for the model. */
  private def sketch(docs: DataFrame, cfg: MinHashConfig, blocked: Boolean): (DataFrame, Seq[Doc]) = {
    val df = docs
      .select(col("id"), Sketch.column(ShingleHashes(Sketch.expr(col("text")), 3, word = true)).as("sh"),
        col("src"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", Sketch.column(MinHashSig(Sketch.expr(col("sh")), cfg.numPerm)))
      .withColumn("bands", lshBandHashes(col("sig"), cfg.bands, cfg.rowsPerBand))
      .select(col("id").cast("long"), col("sig"), col("bands"),
        if (blocked) xxhash64(col("src")) else lit(0L))
    val rows = df.collect().toSeq.map(r => Doc(Option(r.get(0)).map(_.asInstanceOf[Long]),
      r.getLong(3), r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray))
    (df, rows)
  }

  private def model(ds: Seq[Doc], cfg: MinHashConfig, minShared: Int, cap: Option[Int],
      minEstimate: Double): Seq[(Long, Long)] = {
    val size = ds.flatMap(d => d.bands.indices.map(b => (b, d.bands(b), d.blk)))
      .groupBy(identity).view.mapValues(_.size).toMap
    def kept(d: Doc, b: Int): Boolean = cap.forall(size((b, d.bands(b), d.blk)) <= _)
    val named = ds.filter(_.id.isDefined)
    val shared = (for {
      x <- named; y <- named if x.id.get < y.id.get && x.blk == y.blk
      b <- x.bands.indices if x.bands(b) == y.bands(b) && kept(x, b)
    } yield (x.id.get, y.id.get)).groupBy(identity).view.mapValues(_.size).toMap
    for {
      x <- named; y <- named
      if shared.getOrElse((x.id.get, y.id.get), 0) >= minShared
      if x.sig.indices.count(j => x.sig(j) == y.sig(j)).toDouble / cfg.numPerm >= minEstimate
    } yield (x.id.get, y.id.get)
  }

  private def run(df: DataFrame, cfg: MinHashConfig, minShared: Int, cap: Option[Int],
      minEstimate: Double, small: Boolean): Seq[(Long, Long)] = {
    val rdd =
      if (small) LshPairs.plausible(df, cfg.numPerm, minShared, cap, minEstimate, budget = 64, tableSlots = 8)
      else LshPairs.plausible(df, cfg.numPerm, minShared, cap, minEstimate)
    rdd.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
  }

  for ((name, cfg) <- Seq("128 perms" -> MinHashConfig(), "45 perms (odd)" -> MinHashConfig(numPerm = 45, bands = 15)))
    test(s"$name: pairs equal the model, with and without a cap and a block, " +
      "with default and with tiny buffers") {
      for (seed <- Seq(7, 8); blocked <- Seq(false, true)) {
        val (df, ds) = sketch(corpus(seed), cfg, blocked)
        for (cap <- Seq(None, Some(6)); minShared <- Seq(1, 3)) {
          val want = model(ds, cfg, minShared, cap, 0.5).sorted
          assert(want.nonEmpty && want.distinct.size < want.size,
            "the model has no pair, or no repeated pair from a shared id")
          for (small <- Seq(false, true); parts <- Seq(4, 16)) {
            val got = withShufflePartitions(parts)(run(df, cfg, minShared, cap, 0.5, small))
            assert(got.sorted === want,
              s"seed $seed, blocked $blocked, cap $cap, minShared $minShared, small $small, $parts partitions")
          }
        }
      }
    }
}
