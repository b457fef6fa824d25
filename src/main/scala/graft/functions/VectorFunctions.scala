package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `array<float>` embedding columns, as pure
  * codegen-friendly expressions (zip_with/aggregate — no UDF, no boxing of
  * a custom vector type).
  *
  * All arithmetic is double: float accumulation is neither associative nor
  * reproducible across engines; casting once at the start keeps results
  * deterministic and lets the DuckDB oracle (`::DOUBLE[]`) agree bit-for-bit
  * on per-pair values.
  */
object VectorFunctions {

  def toDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity; inputs must already be array<double>. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Sign-random-projection code bits for hyperplane LSH: bit j is the sign
    * of <v, H_j> where H_j is a deterministic ±1 hyperplane derived from
    * splitmix64. Returns an array of `numPlanes` 0/1 longs.
    *
    * ±1 hyperplanes keep the projection a pure sum/subtract — exact in
    * double and cheap in codegen; quality matches gaussian planes for LSH
    * purposes.
    */
  def hyperplaneBits(v: Column, numPlanes: Int, dim: Int, seed: Long = 7L): Column = {
    // shares the sign derivation with the native kernel (HyperplaneBandKeys)
    // so the two paths are interchangeable — pinned by KernelEquivalenceSpec
    val signs: Seq[Double] =
      graft.expressions.Sketch.hyperplaneSigns(numPlanes, dim, seed).toSeq
    val signLit = typedlit(signs)
    transform(
      sequence(lit(0), lit(numPlanes - 1)),
      j => {
        val proj = aggregate(
          zip_with(v, sequence(lit(0), lit(dim - 1)),
            (x, d) => x * element_at(signLit, j * dim + d + 1)),
          lit(0.0), (acc, p) => acc + p)
        when(proj > 0, lit(1L)).otherwise(lit(0L))
      })
  }

  // ---- int8 scalar quantization (training-data storage / ANN compression) ----
  // q_i = floor(x_i/scale + 0.5) with scale = max|x|/127: symmetric int8,
  // round-half-toward-+inf written as explicit floor arithmetic because
  // round() semantics differ between engines while floor(v + 0.5) is the
  // same IEEE operation everywhere. Structural guarantee: every |q_i| <= 127
  // and |x_i - q_i*scale| <= scale/2 (up to one ulp). 4x smaller vectors;
  // map-only, no shuffle.

  /** Per-vector quantization scale (0.0 for the zero vector). */
  def quantScale(v: Column): Column = array_max(transform(v, x => abs(x))) / 127.0

  /** Int8 codes as array<int> (all zeros when scale is 0). */
  def quantize(v: Column, scale: Column): Column =
    transform(v, x =>
      when(scale === 0.0, lit(0)).otherwise(floor(x / scale + 0.5).cast("int")))

  /** Largest absolute dequantization error of the vector. */
  def quantMaxErr(v: Column, q: Column, scale: Column): Column =
    array_max(zip_with(v, q, (x, qi) => abs(x - qi.cast("double") * scale)))

  /** Pack code bits into per-band integer keys (`numBands` bands of
    * `bitsPerBand` bits): the LSH bucket ids that candidate generation
    * shuffles on. */
  def bandKeys(bits: Column, numBands: Int, bitsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(numBands - 1)),
      bnd => aggregate(
        slice(bits, bnd * bitsPerBand + 1, lit(bitsPerBand)),
        lit(0L), (acc, bit) => acc * 2 + bit))
}
