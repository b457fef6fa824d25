package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-training-data pipeline:
  * tokenization, shingling, deterministic 60-bit hashing, LSH band keys,
  * SimHash fingerprints, language-ID and quality heuristics. MinHash
  * signatures are the native [[graft.expressions.MinHashSig]] kernel.
  *
  * Everything here is a pure Column expression (no UDFs): whole-stage
  * codegen keeps these inside the scan loop, which is what makes the dedup
  * operators viable at 100 TB — the expensive part (shingling + hashing) is
  * a single pass over the data with no shuffle.
  *
  * Hash determinism: content hashes are derived from md5 hex (bit-identical
  * between Spark and the DuckDB oracle).
  */
object TextFunctions {

  /** Whitespace tokens. The corpus is single-spaced; for general text swap
    * the delimiter for a regex split. */
  def tokens(c: Column): Column = split(c, " ")

  /** First 60 bits of md5 as a non-negative long. DuckDB oracle equivalent:
    * ('0x' || substr(md5(x), 1, 15))::BIGINT. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), lit(1), lit(15)), 16, 10).cast("long")

  /** Distinct n-token shingles ("n-grams of words"), the dedup unit used by
    * MinHash. Empty array when the document is shorter than n tokens. */
  def wordShingles(toks: Column, n: Int): Column = {
    val shingles = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    array_distinct(when(size(toks) >= n, shingles).otherwise(array()))
  }

  /** Distinct character n-grams. */
  def charNgrams(c: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), length(c) - lit(n - 1)),
      i => substring(c, lit(i), lit(n)))
    array_distinct(when(length(c) >= n, grams).otherwise(array()))
  }

  // Spark's `substring(Column, Int, Int)` doesn't take Column positions;
  // route through the SQL function for a dynamic start.
  private def substring(c: Column, pos: Column, len: Column): Column =
    call_function("substring", c, pos, len)

  /** LSH band keys: hash `numBands` contiguous slices of the signature.
    * Docs sharing any band hash become candidate pairs (banding amplifies
    * the MinHash collision curve). */
  def lshBandHashes(signature: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(numBands - 1)),
      bnd => xxhash64(bnd, slice(signature, bnd * rowsPerBand + 1, lit(rowsPerBand))))

  /** 16-bit SimHash over the token multiset: bit b is set when strictly more
    * than half the tokens have bit b set in their 60-bit hash. Oracle
    * expressible in SQL via unnest + the same md5-derived hash. */
  def simhash16(toks: Column): Column = {
    val hashes = transform(toks, t => hash60(t))
    val n = size(hashes)
    aggregate(
      sequence(lit(0), lit(15)),
      lit(0L),
      (acc, bit) => {
        val cnt = size(filter(hashes, h =>
          shiftright(h, bit.cast("int")).bitwiseAND(lit(1L)) === lit(1L)))
        acc + when(cnt * 2 > n, shiftleft(lit(1L), bit.cast("int")).cast("long")).otherwise(lit(0L))
      })
  }

  // shiftright/shiftleft with Column shift amounts
  private def shiftright(c: Column, by: Column): Column = call_function("shiftright", c, by)
  private def shiftleft(c: Column, by: Column): Column = call_function("shiftleft", c, by)

  /** Canonical whitespace-normalized lowercase form (fingerprint input). */
  def normalized(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Document fingerprint: md5 of the normalized text — reader hashes rows
    * for identity downstream; md5 keeps the oracle bit-identical. */
  def fingerprintHex(c: Column): Column = md5(normalized(c))

  /** 60-bit integer fingerprint (for joins/bucketing — 8 bytes instead of a
    * 32-char string at shuffle time). */
  def fingerprint60(c: Column): Column = hash60(normalized(c))

  val EnStops: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  val EsStops: Seq[String] = Seq("el", "la", "de", "y", "en", "que", "los", "un")
  val DeStops: Seq[String] = Seq("der", "die", "das", "und", "ist", "von", "ein", "zu")

  /** Stopword-vote language ID. Deterministic tie order: en > es > de. */
  def langId(hitsEn: Column, hitsEs: Column, hitsDe: Column): Column =
    when(hitsEn >= hitsEs && hitsEn >= hitsDe && hitsEn > 0, lit("en"))
      .when(hitsEs >= hitsDe && hitsEs > 0, lit("es"))
      .when(hitsDe > 0, lit("de"))
      .otherwise(lit("und"))

  // ---- PII scrubbing -------------------------------------------------
  // Patterns restricted to syntax shared by Java regex (Spark) and RE2
  // (DuckDB): character classes, bounded repetition, ASCII \b. Syntactic
  // matchers by design — an "IP" like 999.1.2.3 is still scrubbed; a PII
  // gate errs toward redacting.

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val CardRe = "\\b\\d{13,16}\\b"

  /** Scrub emails, dotted-quad IPs, and 13-16-digit card-like runs, in that
    * order (email first: its domain would otherwise feed the IP pattern).
    * Placeholders contain no digits or '@', so the scrub is idempotent.
    * Map-only — three codegen'd regexp_replace passes, no shuffle. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
        lit(Ipv4Re), lit("<IP>")),
      lit(CardRe), lit("<CARD>"))

  /** Longest run of consecutive EQUAL elements in a string array (1 for a
    * non-empty array with no repeats, 0 for an empty array). Over a SORTED
    * array this is the maximum element multiplicity — which turns "count
    * the most frequent n-gram" into a per-row expression instead of an
    * explode + groupBy shuffle. Interpreted HOF (fine at ~100s of elements
    * per row; a native kernel is the swap-in if a corpus has huge docs). */
  def maxEqualRun(arr: Column): Column =
    aggregate(arr,
      struct(lit("").as("prev"), lit(0L).as("cur"), lit(0L).as("best")),
      (acc, x) => {
        val cur = when(x === acc.getField("prev"), acc.getField("cur") + 1L).otherwise(1L)
        struct(x.as("prev"), cur.as("cur"),
          greatest(acc.getField("best"), cur).as("best"))
      },
      acc => acc.getField("best"))
}
