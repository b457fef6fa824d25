package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch/vector hot paths.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * evaluated interpreted — one closure dispatch + boxed value per element —
  * which turns a 51k-op MinHash signature into hundreds of microseconds per
  * row. These expressions do the same math in one tight primitive loop over
  * the unsafe array data (~100x faster), which is what keeps sketching
  * map-side-cheap at 100 TB. They are deterministic, null-safe one-pass
  * kernels. The hottest three (ShingleHashes, MinHashSig, RepetitionStats)
  * implement `doGenCode` as a direct generated call into the kernel method
  * with the already-evaluated child value — zero interpreter re-entry. The
  * rest use `CodegenFallback`, which re-enters the interpreter once per
  * ROW (one Expression.eval virtual dispatch), not per element, so the
  * codegen'd surrounding stage stays intact either way.
  */
object Sketch {
  val MersennePrime31 = 2147483647L // 2^31 - 1

  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d9669b529ccf12L
    z ^ (z >>> 31)
  }

  /** MinHash permutation constants: 30-bit multipliers so a*x+b never nears
    * 2^63 (x is masked to 30 bits). */
  def permConstants(numPerm: Int): (Array[Long], Array[Long]) = {
    val a = Array.tabulate(numPerm)(i => (splitmix64(2 * i).abs % ((1L << 30) - 1)) + 1)
    val b = Array.tabulate(numPerm)(i => splitmix64(2 * i + 1).abs % MersennePrime31)
    (a, b)
  }

  /** ±1 hyperplane entries for sign-random-projection LSH. */
  def hyperplaneSigns(numPlanes: Int, dim: Int, seed: Long): Array[Double] =
    Array.tabulate(numPlanes * dim) { k =>
      if ((splitmix64(seed + k.toLong * 0x9e3779b97f4a7c15L) & 1L) == 0L) 1.0 else -1.0
    }

  def column(e: Expression): Column =
    org.apache.spark.sql.graftshim.GraftBridge.column(e)

  def expr(c: Column): Expression =
    org.apache.spark.sql.graftshim.GraftBridge.expression(c)
}

/** Distinct sorted 64-bit shingle hashes of a text column in one native
  * pass: tokenize (single space) or slide characters, hash each n-shingle
  * with FNV-1a 64. This replaces a transform(sequence(slice(concat_ws(...))))
  * HOF chain that costs ~40ms/doc interpreted; the kernel is ~1000x cheaper
  * and emits the compact sorted-set representation the verifier and MinHash
  * both consume. Hashes are engine-internal (the exact-Jaccard verification
  * compares hash SETS; with 64-bit hashes a collision inside one pair's
  * union is ~n^2/2^64, i.e. never). */
case class ShingleHashes(child: Expression, n: Int, word: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  private def fnv1a(s: CharSequence, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  // doGenCode routes here directly with the already-evaluated child value:
  // no per-row interpreter re-entry (CodegenFallback's Expression.eval
  // virtual dispatch + InternalRow hand-off), and the surrounding stage's
  // codegen stays unbroken
  def compute(input: UTF8String): ArrayData = {
    val text = input.toString
    val len = text.length
    // every shingle's hash goes into one primitive array, which is then
    // sorted and deduplicated in place: no boxed Long or tree node per shingle
    val hashes = if (word) {
      // shingle = n consecutive tokens joined by ' '; hashing the original
      // character span between token boundaries is equivalent and copy-free
      var nTok = 1
      var i = 0
      while (i < len) { if (text.charAt(i) == ' ') nTok += 1; i += 1 }
      val starts = new Array[Int](nTok)
      var t = 1
      i = 0
      while (i < len) {
        if (text.charAt(i) == ' ') { starts(t) = i + 1; t += 1 }
        i += 1
      }
      val out = new Array[Long](math.max(nTok - n + 1, 0))
      t = 0
      while (t + n <= nTok) {
        val until = if (t + n < nTok) starts(t + n) - 1 else len
        out(t) = fnv1a(text, starts(t), until)
        t += 1
      }
      out
    } else {
      val out = new Array[Long](math.max(len - n + 1, 0))
      var i = 0
      while (i + n <= len) {
        out(i) = fnv1a(text, i, i + n)
        i += 1
      }
      out
    }
    java.util.Arrays.sort(hashes)
    var distinct = 0
    var i = 0
    while (i < hashes.length) {
      if (distinct == 0 || hashes(i) != hashes(distinct - 1)) {
        hashes(distinct) = hashes(i)
        distinct += 1
      }
      i += 1
    }
    // GenericArrayData would box every element again
    UnsafeArrayData.fromPrimitiveArray(hashes, Platform.LONG_ARRAY_OFFSET, distinct, 8)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Intersection cardinality of two SORTED distinct long arrays (merge scan).
  * Jaccard = inter / (|a| + |b| - inter) is then plain column arithmetic.
  * Codegen'd (doGenCode) so candidate verification stays in the generated
  * stage. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0, $j = 0;
         |long $cnt = 0L;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) { $cnt++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** One-pass token statistics of a single-space-tokenized text:
  * [n_tokens, n_distinct, stop_hits] where stop_hits counts tokens (with
  * duplicates) present in `stops`. Replaces three interpreted
  * size/filter/array_distinct HOF chains with one kernel. Token comparison
  * is on the lowercased token when `lowercase` is set. */
case class TokenStats(child: Expression, stops: Seq[String], lowercase: Boolean)
    extends UnaryExpression with CodegenFallback {

  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stops.foreach(w => s.add(w))
    s
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.toString
    val text = if (lowercase) raw.toLowerCase(java.util.Locale.ROOT) else raw
    val distinct = new java.util.HashSet[String]()
    var nTok = 0L
    var hits = 0L
    var start = 0
    val len = text.length
    var i = 0
    while (i <= len) {
      if (i == len || text.charAt(i) == ' ') {
        val tok = text.substring(start, i)
        nTok += 1
        distinct.add(tok)
        if (stopSet.contains(tok)) hits += 1
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(Array(nTok, distinct.size.toLong, hits))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** Count of positions where two equal-length long arrays agree — the
  * MinHash similarity estimator (matches/numPerm ~ Jaccard). Codegen'd. */
case class EqualPositionCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $cnt = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var cnt = 0L
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): EqualPositionCount =
    copy(left = l, right = r)
}

/** MinHash signature over an array<long> of element hashes: for each of
  * `numPerm` permutations, min((a_i * (x & 2^30-1) + b_i) mod p). */
case class MinHashSig(child: Expression, numPerm: Int)
    extends UnaryExpression {

  private val (pa, pb) = Sketch.permConstants(numPerm)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = arr.getLong(i) & ((1L << 30) - 1)
      var j = 0
      while (j < numPerm) {
        val v = (pa(j) * x + pb(j)) % Sketch.MersennePrime31
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Hyperplane-LSH band keys for an array<double> vector: `numBands` keys,
  * each packing `bitsPerBand` sign bits (MSB-first) of <v, H_j> projections
  * against deterministic ±1 hyperplanes. */
case class HyperplaneBandKeys(
    child: Expression,
    numBands: Int,
    bitsPerBand: Int,
    dim: Int,
    seed: Long = 7L)
    extends UnaryExpression with CodegenFallback {

  private val numPlanes = numBands * bitsPerBand
  private val signs = Sketch.hyperplaneSigns(numPlanes, dim, seed)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = math.min(dim, arr.numElements())
    val keys = new Array[Long](numBands)
    var j = 0
    while (j < numPlanes) {
      var proj = 0.0
      val off = j * dim
      var i = 0
      while (i < d) {
        proj += arr.getDouble(i) * signs(off + i)
        i += 1
      }
      val bit = if (proj > 0) 1L else 0L
      val band = j / bitsPerBand
      keys(band) = keys(band) * 2 + bit
      j += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandKeys =
    copy(child = newChild)
}

/** Cosine similarity of two array<double> vectors in one fused pass
  * (dot, |a|, |b| accumulated together): dot / (sqrt(na) * sqrt(nb)).
  * Full whole-stage codegen via doGenCode: the pair loop compiles into the
  * surrounding stage, so the ANN scoring path never leaves generated code. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** The `nprobe` nearest coarse-quantizer lists for an array<double> vector,
  * by cosine (desc, list id asc), with the centroid matrix baked in as a
  * literal. IVF list assignment is thus a pure map-side projection — no
  * explode-to-nlist-rows, no per-vector window, no shuffle. At 100 TB the
  * assignment column is also what the corpus gets bucketed/partitioned by
  * at write time, so probes prune whole files. */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression with CodegenFallback {

  require(centroids.nonEmpty && nprobe > 0 && nprobe <= centroids.length)

  private val nlist = centroids.length
  // pre-normalized so per-row work is one dot product per list
  private val unitCentroids: Array[Array[Double]] = centroids.map { c =>
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0) c.clone else c.map(_ / n)
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val d = v.numElements()
    val sims = new Array[Double](nlist)
    var l = 0
    while (l < nlist) {
      val c = unitCentroids(l)
      val dim = math.min(d, c.length)
      var dot = 0.0
      var i = 0
      while (i < dim) { dot += v.getDouble(i) * c(i); i += 1 }
      sims(l) = dot // |v| constant across lists: argmax unaffected
      l += 1
    }
    val order = Array.tabulate(nlist)(identity)
      .sortInPlaceWith((a, b) => sims(a) > sims(b) || (sims(a) == sims(b) && a < b))
    new GenericArrayData(order.take(nprobe))
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** 16-bit SimHash over an array<long> of 60-bit token hashes: bit b set iff
  * strictly more than half the tokens have bit b set. */
case class SimHash16(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](16)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 16) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 16) {
      if (2 * counts(b) > n) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** One-pass repetition statistics of a single-space-tokenized text —
  * the Gopher-style signals `text_repetition` emits:
  * `[n_tokens, top_bigram_count, dup_trigrams, max_token_run]` where
  *  - `top_bigram_count` is the multiplicity of the most frequent
  *    token-bigram (0 when fewer than 2 tokens) — definitionally equal to
  *    the longest equal-run of the SORTED bigram array the interpreted
  *    formulation used;
  *  - `dup_trigrams` = n_trigrams - distinct_trigrams (0 when < 3 tokens);
  *  - `max_token_run` is the longest run of consecutive EQUAL tokens
  *    (1 for any non-empty token list).
  *
  * Replaces two interpreted `aggregate()` HOF folds (one struct allocation
  * per array element) plus an interpreted `array_sort` over the per-doc
  * bigram array — the combination that made the query ~27x more expensive
  * per byte than the neighboring native-kernel text queries. Bigram/trigram
  * keys are the exact character spans of the original text (token join char
  * is the tokenizer's own separator), so no per-gram string concatenation
  * is materialized beyond the count map keys. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  def compute(input: UTF8String): ArrayData = {
    val text = input.toString
    val len = text.length
    // token start offsets under split-on-single-space semantics: "" is ONE
    // empty token, "a  b" has an empty middle token — identical to
    // split(text, ' ') on both the Spark and DuckDB sides
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    starts += 0
    var i = 0
    while (i < len) {
      if (text.charAt(i) == ' ') starts += i + 1
      i += 1
    }
    val nTok = starts.length
    @inline def tokEnd(t: Int): Int = if (t + 1 < nTok) starts(t + 1) - 1 else len

    // longest consecutive equal-token run
    var maxRun = if (nTok > 0) 1L else 0L
    var run = 1L
    var t = 1
    while (t < nTok) {
      val aLen = tokEnd(t - 1) - starts(t - 1)
      val bLen = tokEnd(t) - starts(t)
      val eq = aLen == bLen && text.regionMatches(starts(t - 1), text, starts(t), aLen)
      run = if (eq) run + 1 else 1L
      if (run > maxRun) maxRun = run
      t += 1
    }

    // most-frequent bigram multiplicity: count spans starts(t)..tokEnd(t+1)
    var topBigram = 0L
    if (nTok >= 2) {
      val counts = new java.util.HashMap[String, Int]()
      t = 0
      while (t + 2 <= nTok) {
        val key = text.substring(starts(t), tokEnd(t + 1))
        val c = counts.getOrDefault(key, 0) + 1
        counts.put(key, c)
        if (c > topBigram) topBigram = c.toLong
        t += 1
      }
    }

    // duplicate trigram count: n_trigrams - distinct_trigrams
    var dupTri = 0L
    if (nTok >= 3) {
      val seen = new java.util.HashSet[String]()
      t = 0
      while (t + 3 <= nTok) {
        if (!seen.add(text.substring(starts(t), tokEnd(t + 2)))) dupTri += 1
        t += 1
      }
    }

    new GenericArrayData(Array(nTok.toLong, topBigram, dupTri, maxRun))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repetitionStats", this, classOf[RepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** Content-defined chunk boundaries: 1-based END positions of every chunk,
  * cut where the base-31 polynomial hash of the trailing `w` characters is
  * divisible by `modulus` (Rabin-style rolling split, the construction
  * sub-document dedup pipelines use so an insertion early in a document
  * shifts ONE boundary instead of re-aligning every fixed-width block).
  * The final position is always a boundary, so boundaries partition
  * [1, len]; empty text yields an empty array. One native pass; the hash
  * arithmetic (char * 31^j summed over the window, NO modular reduction —
  * 255 * 31^7 fits comfortably in a long) is deliberately replayable in
  * plain SQL, which is what lets the DuckDB oracle verify byte-identical
  * chunking. Expected chunk length ~= modulus characters. */
case class ChunkBoundaries(child: Expression, w: Int, modulus: Int)
    extends UnaryExpression with CodegenFallback {
  require(w > 0 && modulus > 1)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  private val pow: Array[Long] = {
    val p = new Array[Long](w)
    p(0) = 1L
    var j = 1
    while (j < w) { p(j) = p(j - 1) * 31L; j += 1 }
    p
  }

  override protected def nullSafeEval(input: Any): Any = {
    // positions and hash input are Unicode CODEPOINTS, not UTF-16 units:
    // the chunk slicer downstream (Column.substr) and the SQL oracle
    // (ord/substr) both count codepoints, so a surrogate pair counted as
    // two here would shift every boundary after it
    val cps = input.toString.codePoints().toArray
    val n = cps.length
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = w // 1-based end position of the window
    while (i <= n) {
      var h = 0L
      var j = 0
      while (j < w) {
        h += cps(i - 1 - j).toLong * pow(j)
        j += 1
      }
      if (h % modulus == 0 && i != n) out += i
      i += 1
    }
    if (n > 0) out += n
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ChunkBoundaries =
    copy(child = newChild)
}

/** Unicode NFC normalization (java.text.Normalizer) — Spark has no built-in
  * normalization function, and fingerprint/dedup keys computed over
  * denormalized text split identical documents into distinct groups (café
  * composed vs decomposed hash differently). One JVM call per row, no
  * per-element interpreter dispatch; DuckDB's utf8proc-backed
  * `nfc_normalize` implements the same Unicode standard, which is what
  * makes the text_normalize oracle bit-exact. */
case class NfcNormalize(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // fast path: NFC is the identity on ASCII (and most already-composed text)
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** Deflate-compressed size of a string (raw DEFLATE, fixed level, no
  * wrapper): the compression-ratio quality signal — near-duplicate or
  * template-generated junk compresses far better than natural text, so
  * `len/deflate_size` is a standard cheap filter in large-scale curation
  * stacks. java.util.zip.Deflater with a pinned level and nowrap=true is
  * bit-deterministic for a given input, so the signal is reproducible
  * across runs and partitionings (pinned against fixed strings in
  * KernelEquivalenceSpec). One JVM call per row, map-only. */
case class DeflateSize(child: Expression, level: Int)
    extends UnaryExpression with CodegenFallback {
  require(level >= 1 && level <= 9, s"deflate level $level outside [1, 9]")
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val (d, buf) = DeflateSize.pool(level).get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  override protected def withNewChildInternal(newChild: Expression): DeflateSize =
    copy(child = newChild)
  override def prettyName: String = "deflate_size"
}

object DeflateSize {
  // one native Deflater + scratch buffer per (thread, level), SHARED by all
  // DeflateSize instances: zlib init/end and an 8 KB allocation per row
  // would dominate the map-only kernel, and a per-instance ThreadLocal
  // would accumulate one never-end()'d native stream per (instance, thread)
  // over a long session running many queries. Keying the pool by level in
  // the companion bounds the native streams at threads x 9 for the JVM
  // lifetime; reset() reuses the stream between rows.
  private val pools: Array[ThreadLocal[(java.util.zip.Deflater, Array[Byte])]] =
    Array.tabulate(10) { lvl =>
      ThreadLocal.withInitial[(java.util.zip.Deflater, Array[Byte])](() =>
        (new java.util.zip.Deflater(math.max(lvl, 1), true), new Array[Byte](8192)))
    }

  private[expressions] def pool(level: Int): ThreadLocal[(java.util.zip.Deflater, Array[Byte])] =
    pools(level)
}

/** Top-level (key, JSON-type) pairs of a JSON object — the schema-inference
  * primitive for semi-structured ingest: aggregate these over a corpus and
  * every key's observed type census (and any int→double→string drift) falls
  * out of one keyed count. Emits "key|type" strings with types
  * {int, double, boolean, string, object, array, null}; non-object or
  * malformed JSON dead-letters to NULL (error-lane convention). Type names
  * line up with DuckDB's json_type mapping so the oracle replays the census
  * exactly.
  *
  * STREAMING parse (Jackson JsonParser, Spark's own bundled JSON library) —
  * the r14 form built a full readTree ObjectNode per row, and while that
  * measured fine standalone (~1.3 s for the 15M-row sf10 parse), inside a
  * 303-query battery the per-row tree allocation ran against an aged heap
  * and inflated 3-6× (the "14×/decade cliff" the r14 verdict flagged). The
  * token walk allocates only the key strings it emits: nested values are
  * skipChildren()'d, no tree ever exists. Semantics are pinned to readTree
  * with FAIL_ON_TRAILING_TOKENS by JsonInferSpec: trailing content
  * after the closing brace → NULL (DuckDB's JSON functions reject it too),
  * duplicate keys keep first position / last value (Jackson ObjectNode
  * behavior), BigInteger-wide ints are "int", exponent forms are "double".
  */
case class JsonTopLevelTypes(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val factory = new JsonFactory()

  override protected def nullSafeEval(input: Any): Any = {
    // LinkedHashMap: duplicate keys keep FIRST insertion position with the
    // LAST value — exactly readTree's ObjectNode.put
    val fields = new java.util.LinkedHashMap[String, String]()
    var ok = true
    try {
      val p = factory.createParser(input.toString)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) ok = false
        else {
          var tok = p.nextToken()
          while (ok && tok == JsonToken.FIELD_NAME) {
            val key = p.currentName()
            val t = p.nextToken()
            val tn = t match {
              case JsonToken.START_OBJECT => p.skipChildren(); "object"
              case JsonToken.START_ARRAY => p.skipChildren(); "array"
              case JsonToken.VALUE_STRING => "string"
              case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => "boolean"
              case JsonToken.VALUE_NULL => "null"
              case JsonToken.VALUE_NUMBER_INT => "int"
              case JsonToken.VALUE_NUMBER_FLOAT => "double"
              case _ => ok = false; null
            }
            if (ok) { fields.put(key, tn); tok = p.nextToken() }
          }
          if (ok && tok != JsonToken.END_OBJECT) ok = false
          // FAIL_ON_TRAILING_TOKENS equivalence: '{} junk' is malformed
          if (ok && p.nextToken() != null) ok = false
        }
      } finally p.close()
    } catch { case _: Exception => ok = false }
    if (!ok) null
    else {
      val out = new Array[Any](fields.size)
      var i = 0
      val it = fields.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out(i) = UTF8String.fromString(e.getKey + "|" + e.getValue)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): JsonTopLevelTypes =
    copy(child = newChild)
  override def prettyName: String = "json_top_level_types"
}

/** Natural log via java.lang.Math.log — NOT Spark's built-in ln, which
  * calls StrictMath.log (fdlibm). Measured on the ml_mi_select contingency
  * ratios: StrictMath differs from glibc's correctly-rounded log (what
  * DuckDB's ln uses) in the last ulp on 3 of 79 real inputs, while
  * Math.log (the HotSpot intrinsic) is bit-identical to glibc on every
  * input tested — so cross-engine hash-gated lanes that need a logarithm
  * must use this kernel. Codegen-ed: stays inside whole-stage codegen in
  * scalar position (HOF lambdas interpret either way, calling the same
  * Math.log).
  */
case class MathLn(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Math.log(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.log($c)")

  override protected def withNewChildInternal(newChild: Expression): MathLn =
    copy(child = newChild)
  override def prettyName: String = "graft_ln"
}

/** Per-document code-point entropy stats in ONE pass: [n_cp, n_distinct, H]
  * as doubles (counts are exact ≤ 2^53; callers cast back to long). H is
  * the Shannon entropy in NATS of the code-point distribution, folded in
  * ASCENDING code-point order — acc += p·ln(p) per distinct code point,
  * output −acc — with ln = java.lang.Math.log (the MathLn cross-engine
  * convention), so DuckDB replays it with −SUM(p·ln(p) ORDER BY ch) over a
  * per-char GROUP BY: single-code-point docs give −0.0 on BOTH engines,
  * empty docs +0.0 (the kernel's n = 0 branch; the oracle's guarded LEFT
  * JOIN + COALESCE). Entropy is the cheap gibberish / compression-quality
  * signal beside the DeflateSize ratio — low-entropy docs are repeated
  * boilerplate, ultra-high-entropy docs are base64/binary spill.
  */
case class CharEntropyStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val counts = new java.util.TreeMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      val prev = counts.get(cp)
      counts.put(cp, if (prev == null) 1L else prev + 1L)
      n += 1
    }
    val h =
      if (n == 0) 0.0
      else {
        var acc = 0.0
        val it = counts.values().iterator()
        while (it.hasNext) {
          val c = it.next()
          val p = c.toDouble / n.toDouble
          acc = acc + p * java.lang.Math.log(p)
        }
        -acc
      }
    new GenericArrayData(Array[Any](n.toDouble, counts.size.toDouble, h))
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
  override def prettyName: String = "char_entropy_stats"
}
