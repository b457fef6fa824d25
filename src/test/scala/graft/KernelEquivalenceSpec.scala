package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.expressions._
import graft.functions.{TextFunctions => Tf, VectorFunctions => Vf}
import graft.sources.Tables

/** The native kernels in graft.expressions are performance rewrites of the
  * readable Column-API implementations in graft.functions. These tests pin
  * the two against each other on real data, so the fast path can never
  * silently drift from the specification path. */
class KernelEquivalenceSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables.documents(spark, Sf).limit(100)

  test("ShingleHashes(word) emits exactly one hash per distinct word shingle") {
    val bad = docs.select(
      size(Tf.wordShingles(Tf.tokens(col("text")), 5)).as("ref"),
      size(Sketch.column(ShingleHashes(Sketch.expr(col("text")), 5, word = true))).as("fast"))
      .where(col("ref") =!= col("fast")).count()
    assert(bad === 0)
  }

  test("ShingleHashes(char) matches charNgrams cardinality") {
    val bad = docs.select(
      size(Tf.charNgrams(col("text"), 3)).as("ref"),
      size(Sketch.column(ShingleHashes(Sketch.expr(col("text")), 3, word = false))).as("fast"))
      .where(col("ref") =!= col("fast")).count()
    assert(bad === 0)
  }

  test("ShingleHashes equals a sorted-set reference on random, empty, short and repetitive texts") {
    def fnv1a(s: String): Long =
      s.foldLeft(0xcbf29ce484222325L)((h, c) => (h ^ c) * 0x100000001b3L)
    def reference(text: String, n: Int, word: Boolean): Seq[Long] = {
      val shingles =
        if (word) text.split(" ", -1).toSeq.sliding(n).filter(_.size == n).map(_.mkString(" "))
        else (0 to text.length - n).iterator.map(i => text.substring(i, i + n))
      val set = new java.util.TreeSet[java.lang.Long]()
      shingles.foreach(s => set.add(fnv1a(s)))
      set.asScala.toSeq.map(_.longValue)
    }
    val rnd = new scala.util.Random(4177L)
    val vocab = Vector("a", "bb", "c", "", "dé", "a b")
    val random = Seq.fill(200)(Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val texts = Seq("", "x", "ab", "one two", "la la la la la la", "abababababab", "  ") ++ random
    val cases = for (t <- texts; n <- Seq(1, 2, 3, 5); word <- Seq(true, false)) yield (t, n, word)
    cases.foreach { case (t, n, word) =>
      val got = ShingleHashes(Sketch.expr(lit(t)), n, word)
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t)).toLongArray().toSeq
      assert(got === reference(t, n, word), s"text='$t' n=$n word=$word")
    }
    // and through a generated projection
    import spark.implicits._
    val df = texts.toDF("text")
    for (word <- Seq(true, false)) {
      val got = df.select(col("text"), Sketch.column(ShingleHashes(Sketch.expr(col("text")), 3, word)))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      texts.foreach(t => assert(got(t) === reference(t, 3, word), s"text='$t' word=$word"))
    }
  }

  test("SimHash16 kernel equals the HOF simhash16 on md5 token hashes") {
    val toks = Tf.tokens(lower(col("text")))
    val hashes = transform(toks, t => Tf.hash60(t))
    val bad = docs.select(
      Tf.simhash16(toks).as("ref"),
      Sketch.column(SimHash16(Sketch.expr(hashes))).as("fast"))
      .where(col("ref") =!= col("fast")).count()
    assert(bad === 0)
  }

  test("CosineSim kernel is bit-equal to the HOF cosine") {
    val emb = Tables.embeddings(spark, Sf).limit(50)
    val pairs = emb.select(col("vec_id").as("ida"), Vf.toDouble(col("embedding")).as("va"))
      .crossJoin(emb.select(col("vec_id").as("idb"), Vf.toDouble(col("embedding")).as("vb")).limit(5))
    val bad = pairs.select(
      Vf.cosine(col("va"), col("vb")).as("ref"),
      Sketch.column(CosineSim(Sketch.expr(col("va")), Sketch.expr(col("vb")))).as("fast"))
      .where(abs(col("ref") - col("fast")) > lit(1e-12)).count()
    assert(bad === 0)
  }

  test("ChunkBoundaries equals a straightforward per-position specification") {
    // independent reference: recompute every window hash from scratch in
    // plain Scala over the real corpus and diff against the kernel
    def spec(text: String, w: Int, m: Int): Seq[Int] = {
      val cps = text.codePoints().toArray
      val n = cps.length
      val pow = Array.iterate(1L, w)(_ * 31L)
      val cuts = (w to n).filter { i =>
        val h = (0 until w).map(j => cps(i - 1 - j).toLong * pow(j)).sum
        h % m == 0 && i != n
      }
      if (n > 0) cuts :+ n else cuts
    }
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
      .limit(100).collect()
    docs.foreach { r =>
      val got = spark.range(1).select(
        graft.expressions.Sketch.column(graft.expressions.ChunkBoundaries(
          org.apache.spark.sql.catalyst.expressions.Literal(r.getString(1)), 8, 256)))
        .head().getSeq[Int](0)
      assert(got == spec(r.getString(1), 8, 256), s"doc ${r.getLong(0)}")
    }
  }

  test("HyperplaneBandKeys equals hyperplaneBits+bandKeys composition") {
    val emb = Tables.embeddings(spark, Sf).limit(50)
      .select(Vf.toDouble(col("embedding")).as("v"))
    val ref = Vf.bandKeys(Vf.hyperplaneBits(col("v"), 32, 64), 8, 4)
    val fast = Sketch.column(HyperplaneBandKeys(Sketch.expr(col("v")), 8, 4, 64))
    val bad = emb.select(ref.as("ref"), fast.as("fast"))
      .where(col("ref") =!= col("fast")).count()
    assert(bad === 0)
  }

  test("RepetitionStats equals the interpreted HOF formulation on real docs") {
    // the readable specification text_repetition used through round 6:
    // sorted-bigram longest equal-run (= max multiplicity), distinct
    // trigram arithmetic, maxEqualRun over tokens
    val toks = split(col("text"), " ")
    val empty = expr("cast(array() as array<string>)")
    val bigrams = when(size(col("toks")) >= 2, expr(
      "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
      .otherwise(empty)
    val trigrams = when(size(col("toks")) >= 3, expr(
      "transform(sequence(1, size(toks) - 2), i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))"))
      .otherwise(empty)
    val bad = docs
      .withColumn("toks", toks)
      .withColumn("bi", bigrams)
      .withColumn("tri", trigrams)
      .select(
        array(
          size(col("toks")).cast("long"),
          Tf.maxEqualRun(array_sort(col("bi"))),
          (size(col("tri")) - size(array_distinct(col("tri")))).cast("long"),
          Tf.maxEqualRun(col("toks"))).as("ref"),
        Sketch.column(RepetitionStats(Sketch.expr(col("text")))).as("fast"))
      .where(col("ref") =!= col("fast")).count()
    assert(bad === 0)
  }

  test("RepetitionStats edge cases: empty text, one token, runs, multi-space") {
    def stats(text: String): Seq[Long] =
      spark.range(1).select(Sketch.column(RepetitionStats(
        org.apache.spark.sql.catalyst.expressions.Literal(text)))).head().getSeq[Long](0)
    // split("", " ") is ONE empty token, matching string_split semantics
    assert(stats("") == Seq(1L, 0L, 0L, 1L))
    assert(stats("a") == Seq(1L, 0L, 0L, 1L))
    assert(stats("a a") == Seq(2L, 1L, 0L, 2L))
    // "a a a a": bigrams [aa,aa,aa] top=3; trigrams [aaa,aaa] dup=1; run=4
    assert(stats("a a a a") == Seq(4L, 3L, 1L, 4L))
    // consecutive spaces create empty tokens ("a  a" -> [a, "", a])
    assert(stats("a  a") == Seq(3L, 1L, 0L, 1L))
    // distinct bigram max: "x y x y z" -> "x y" twice
    assert(stats("x y x y z") == Seq(5L, 2L, 0L, 1L))
  }

  test("codegen and interpreted paths agree for the doGenCode kernels") {
    // the r8 direct-call doGenCode must produce byte-identical results to
    // nullSafeEval — pinned by running the same plan with codegen forced
    // OFF (CODEGEN_ONLY would mask an eval bug; NO_CODEGEN masks a genCode
    // bug; comparing the two catches either diverging)
    import graft.expressions.{MinHashSig, ShingleHashes}
    val docs = TestSpark.spark.read
      .parquet(s"${TestSpark.Sf}/documents.parquet").limit(120)
    def run(): Seq[String] = docs
      .select(col("doc_id"),
        Sketch.column(MinHashSig(Sketch.expr(
          Sketch.column(ShingleHashes(Sketch.expr(col("text")), 5, word = true))), 32)).as("sig"),
        Sketch.column(RepetitionStats(Sketch.expr(col("text")))).as("rep"))
      .orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val codegen = run()
    val conf = TestSpark.spark.conf
    val key = "spark.sql.codegen.factoryMode"
    val prior = conf.getOption(key)
    conf.set(key, "NO_CODEGEN")
    try {
      val interpreted = run()
      assert(codegen === interpreted)
    } finally prior.fold(conf.unset(key))(conf.set(key, _))
  }
}
