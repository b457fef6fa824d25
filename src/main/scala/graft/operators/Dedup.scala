package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

import graft.expressions.{ChunkBoundaries, CosineSim, EqualPositionCount, HyperplaneBandKeys, MinHashSig, ShingleHashes, SimHash16, Sketch, SortedIntersectCount}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for the LLM-training-data pipeline.
  *
  * Scale discipline shared by every near-dup variant: candidate generation
  * is a shuffle on (band_id, band_hash) — O(n * bands) shuffle rows — and
  * exact verification runs only inside buckets. There is no crossJoin
  * anywhere; an all-pairs comparison at 100 TB is not a slow plan, it is a
  * non-plan.
  */
object Dedup {

  /** The id types the pair operators take, widest first. */
  private val IntegralIds = Seq(LongType, IntegerType, ShortType, ByteType)

  /** Exact dedup: keep one survivor per key, latest by `orderCols` with a
    * deterministic tie-break. One hash-partitioned shuffle (row_number over
    * the key window); map-side nothing to combine since survivors are whole
    * rows. Equivalent shape to reader's downstream PK dedupe. */
  def exactLatest(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Exact-duplicate groups by content fingerprint: groupBy md5(normalized
    * text) — partial aggregation map-side, survivors = min(id). */
  def exactByFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), fingerprintHex(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("group_size"))

  /** @param maxBucketSize optional candidate-volume guard: an LSH band
    *   bucket holding B docs yields B(B−1)/2 candidate pairs, and ONE
    *   pathological bucket (boilerplate, empty-ish docs, adversarial
    *   spam) can dominate the whole pair count with no cap on B. When
    *   set, buckets LARGER than the cap emit no pairs —
    *   recall loss is confined to pairs whose every shared band is a
    *   mega-bucket (on real corpora: exactly the boilerplate one wants
    *   gone) and the drop is OBSERVABLE via [[lshBucketCensus]], never
    *   silent. Default None: existing outputs are byte-identical. */
  final case class MinHashConfig(
      numPerm: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 5,
      threshold: Double = 0.9,
      maxBucketSize: Option[Int] = None) {
    require(numPerm % bands == 0, "bands must divide numPerm")
    require(maxBucketSize.forall(_ >= 2), "a cap below 2 drops every pair")
    def rowsPerBand: Int = numPerm / bands
  }

  /** Near-duplicate pairs via MinHash + banded LSH, exact-verified:
    * (id_a, id_b, jacc) with id_a < id_b and exact shingle Jaccard
    * `jacc >= cfg.threshold`. Ids must be integral.
    *
    * Pipeline:
    *  1. sketch: shingle + hash + MinHash signature + band hashes, one
    *     narrow codegen'd projection; shingle sets are not kept;
    *  2. candidates, shared-band cut and signature estimate in ONE Spark
    *     job on partition-resident blocks ([[LshPairs]]): one shuffle
    *     places band rows by bucket and signatures by id, each bucket
    *     emits its id_a < id_b pairs, a spill-safe combine counts a pair's
    *     shared bands at the owner of id_a and cuts them at μ−6σ (see
    *     `minSharedBands`) BEFORE any signature is read, and two id-keyed
    *     hops against the signature blocks keep the pairs whose MinHash
    *     estimate reaches `threshold − 0.15`;
    *  3. exact Jaccard on survivors only: the shingle sets of the docs in
    *     estimate survivors are re-derived from the raw docs (a semi-join
    *     on the survivor ids) and joined to both pair sides.
    *
    * Nothing is persisted or broadcast by hand, so nothing outlives the
    * query. With 128 perms / 32 bands / r=4, P[candidate | J=0.9] =
    * 1-(1-0.9^4)^32 ≈ 1 - 3e-15: recall at the threshold is effectively
    * exact, which is why the verified output can match an all-pairs
    * oracle.
    */
  def minhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    nearDupPairs(docs, idCol,
      Sketch.column(ShingleHashes(Sketch.expr(col(textCol)), cfg.shingleSize, word = true)),
      cfg, None)

  /** Bucket-cap observability census for [[MinHashConfig.maxBucketSize]]:
    * ONE row — (n_buckets, n_buckets_dropped, n_rows_dropped,
    * n_pairs_dropped), where n_pairs_dropped = Σ B·(B−1)/2 over the
    * dropped buckets: the EXACT candidate-pair mass the cap removed from
    * the band candidates. The guard is never silent — a capping pipeline
    * surfaces this row next to its output (the no-silent-caps rule). */
  def lshBucketCensus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig): DataFrame = {
    val cap = cfg.maxBucketSize.getOrElse(
      throw new IllegalArgumentException("census is for a capped config"))
    val buckets = docs
      .select(col(idCol).as("id"),
        Sketch.column(ShingleHashes(Sketch.expr(col(textCol)), cfg.shingleSize,
          word = true)).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", Sketch.column(MinHashSig(Sketch.expr(col("sh")), cfg.numPerm)))
      .withColumn("bands", lshBandHashes(col("sig"), cfg.bands, cfg.rowsPerBand))
      .select(col("id"), posexplode(col("bands")))
      .groupBy(col("pos").as("band_id"), col("col").as("band_hash"))
      .agg(count(lit(1)).as("bsz"))
    buckets.agg(
      count(lit(1)).as("n_buckets"),
      sum(when(col("bsz") > cap, 1L).otherwise(0L)).as("n_buckets_dropped"),
      sum(when(col("bsz") > cap, col("bsz")).otherwise(0L)).as("n_rows_dropped"),
      sum(when(col("bsz") > cap, expr("bsz * (bsz - 1) div 2"))
        .otherwise(0L)).as("n_pairs_dropped"))
  }

  /** Same machinery over character n-gram sets (catches reorder-heavy edits
    * word shingles miss). `blockCol`, when set, restricts pairs to the same
    * block (e.g. same source) — classic blocking to cut candidate volume. */
  def ngramNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      cfg: MinHashConfig,
      blockCol: Option[String] = None): DataFrame =
    nearDupPairs(docs, idCol,
      Sketch.column(ShingleHashes(Sketch.expr(col(textCol)), n, word = false)),
      cfg, blockCol)

  /** The shared-band cut: a pair at exactly `threshold` agrees on
    * Binomial(bands, t^r) bands — μ = bands·t^r, σ² = μ(1−t^r) — so
    * cutting candidates at μ−6σ shared bands loses a true threshold pair
    * with P ~ 1e-9 while discarding the low-similarity collision mass
    * before any signature is read (at sf10, 87% of 39M distinct
    * candidates shared ≤4 of 32 bands). Configs whose μ−6σ ≤ 1 get 1,
    * i.e. no cut. */
  private[graft] def minSharedBands(cfg: MinHashConfig): Int = {
    val pBand = math.pow(cfg.threshold, cfg.rowsPerBand)
    val muBands = cfg.bands * pBand
    math.max(1.0, math.ceil(muBands - 6 * math.sqrt(muBands * (1 - pBand)))).toInt
  }

  private def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      shExpr: Column,
      cfg: MinHashConfig,
      blockCol: Option[String]): DataFrame = {
    val idType = docs.select(col(idCol)).schema.head.dataType
    require(IntegralIds.contains(idType), s"near-dup ids must be integral, got $idType")
    // (id, sh[, blk]); a doc with no shingles or a null block never pairs
    def shingled(src: DataFrame): DataFrame =
      src.select(Seq(col(idCol).as("id"), shExpr.as("sh")) ++ blockCol.map(col(_).as("blk")): _*)
        .where(size(col("sh")) > 0 && blockCol.fold(lit(true))(_ => col("blk").isNotNull))

    val sketch = shingled(docs)
      .withColumn("sig", Sketch.column(MinHashSig(Sketch.expr(col("sh")), cfg.numPerm)))
      .withColumn("bands", lshBandHashes(col("sig"), cfg.bands, cfg.rowsPerBand))
      .select(col("id").cast(LongType), col("sig"), col("bands"),
        blockCol.fold(lit(0L))(_ => xxhash64(col("blk"))))
    val pairSchema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    val plausible = docs.sparkSession.createDataFrame(
      LshPairs.plausible(sketch, cfg.numPerm, minSharedBands(cfg), cfg.maxBucketSize,
        cfg.threshold - 0.15), pairSchema)
      .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"))

    // survivor-only shingle fetch: the full shingle sets (KBs per doc) are
    // never shuffled or cached corpus-wide, only survivors pay for them
    val pids = plausible
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val shSets = shingled(docs.join(pids, Seq(idCol), "left_semi"))
    val inter = Sketch.column(SortedIntersectCount(
      Sketch.expr(col("sa.sh")), Sketch.expr(col("sb.sh"))))
    val joined = plausible
      .join(shSets.as("sa"), col("id_a") === col("sa.id"))
      .join(shSets.as("sb"), col("id_b") === col("sb.id"))
    // the engine's buckets key on a 64-bit hash of the block; equal
    // blocks are checked exactly here
    blockCol.fold(joined)(_ => joined.where(col("sa.blk") === col("sb.blk")))
      .select(
        col("id_a"), col("id_b"),
        (inter.cast("double") / (size(col("sa.sh")) + size(col("sb.sh")) - inter)).as("jacc"))
      .where(col("jacc") >= cfg.threshold)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(A,B) = |S(A)∩S(B)| /
    * min(|S(A)|,|S(B)|) ≥ threshold — the doc-in-doc lane symmetric
    * Jaccard cannot see (a page quoted whole inside a 10× larger page has
    * J ≈ 0.1 but C = 1.0; think excerpts, quotations, syndicated
    * fragments). MinHash banding does NOT preserve containment, so
    * candidate generation is bottom-K probing: every doc emits its K
    * smallest shingle hashes (ShingleHashes returns the sorted distinct
    * set, so the bottom-K is a free slice) and any doc whose full shingle
    * set contains one of them is a candidate.
    *
    * Recall envelope (the 6σ-class argument the other lanes use): if
    * C ≥ t, at most a (1−t) fraction of the smaller set is missing from
    * the larger; hash rank is independent of which shingles are missing,
    * so ALL K bottom hashes land in the missing mass with
    * P ≤ (1−t)^K = 1e-12 at t=0.9, K=12. Exact verification
    * (SortedIntersectCount over survivor-only shingle fetches) then makes
    * precision exact, so the output equals the all-pairs oracle.
    *
    * Shape at 100 TB: probes are n·K narrow rows, postings O(shingles)
    * narrow rows, and the candidate join is ONE keyed shuffle on the
    * 8-byte hash; full shingle arrays are never persisted or shuffled
    * corpus-wide — survivors only, the [[minhashNearDupPairs]]
    * discipline. Probe cost concentrates on high-df shingles exactly like
    * the LSH band table does on hot bands; the distinct() collapses the
    * per-shingle pair multiplicity before verification.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 4,
      bottomK: Int = 12,
      threshold: Double = 0.9): DataFrame = {
    val shExpr = Sketch.column(
      ShingleHashes(Sketch.expr(col(textCol)), shingleSize, word = true))
    def shingled(src: DataFrame): DataFrame =
      src.select(col(idCol).as("id"), shExpr.as("sh"))
        .where(size(col("sh")) > 0)

    val probes = shingled(docs)
      .select(col("id"), explode(slice(col("sh"), 1, bottomK)).as("h"))
    val postings = shingled(docs)
      .select(col("id"), explode(col("sh")).as("h"))
    val candidates = probes.as("x")
      .join(postings.as("y"), Seq("h"), "inner")
      .where(col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val pids = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val shSets = shingled(docs.join(pids, Seq(idCol), "left_semi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val inter = Sketch.column(SortedIntersectCount(
      Sketch.expr(col("sa.sh")), Sketch.expr(col("sb.sh"))))
    val verified = candidates
      .join(shSets.as("sa"), col("id_a") === col("sa.id"))
      .join(shSets.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        size(col("sa.sh")).cast("long").as("m_a"),
        size(col("sb.sh")).cast("long").as("m_b"),
        inter.cast("long").as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("m_a"), col("m_b")))
      .where(col("containment") >= threshold)
    CacheScope.unpersistAfterUse(
      CacheScope.unpersistAfterUse(verified, candidates), shSets)
  }

  /** Incremental LSH index probe: near-dup pairs between a DELTA batch and
    * an already-indexed BASE corpus, without re-shingling the base.
    *
    * The base's (id, band_id, band_hash) table IS the persisted index — at
    * cluster scale it is written once, bucketed by (band_id, band_hash),
    * and each arriving batch only (1) sketches ITS OWN rows, (2) probes the
    * index with a keyed equi-join, (3) exact-verifies inside buckets. Base
    * shingle sets are re-derived for VERIFY SURVIVORS only (a semi-join of
    * matched ids against the base — the same survivor-only discipline as
    * [[minhashNearDupPairs]]), so a TB-scale base costs the delta probe
    * O(delta · bands) shuffle rows plus the survivors' text, never a
    * corpus re-scan. Returns (id_base, id_delta, jacc), exact-verified at
    * `cfg.threshold`, so the output equals the all-pairs cross oracle.
    * Same banding math as [[minhashNearDupPairs]]: recall at the threshold
    * is 1 − (1 − t^r)^bands ≈ 1 − 3e-15 at the 128/32 defaults. */
  def minhashProbePairs(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val shExpr = Sketch.column(
      ShingleHashes(Sketch.expr(col(textCol)), cfg.shingleSize, word = true))
    def shingled(src: DataFrame): DataFrame =
      src.select(col(idCol).as("id"), shExpr.as("sh"))
        .where(size(col("sh")) > 0)
    def withSig(src: DataFrame): DataFrame =
      shingled(src)
        .withColumn("sig", Sketch.column(MinHashSig(Sketch.expr(col("sh")), cfg.numPerm)))
        .withColumn("bands", lshBandHashes(col("sig"), cfg.bands, cfg.rowsPerBand))
        .select(col("id"), col("sig"), col("bands"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandTable(sigs: DataFrame): DataFrame =
      sigs.select(col("id"), posexplode(col("bands")))
        .withColumnRenamed("pos", "band_id")
        .withColumnRenamed("col", "band_hash")

    val baseSig = withSig(base)
    val deltaSig = withSig(delta)

    // same μ−6σ shared-band cut as minhashNearDupPairs: the count is free
    // from the pair groupBy and discards the low-similarity collision mass
    // before any signature is fetched
    val minShared = minSharedBands(cfg)
    val candidates = bandTable(deltaSig).as("x")
      .join(bandTable(baseSig).as("y"), Seq("band_id", "band_hash"), "inner")
      .groupBy(col("x.id").as("id_delta"), col("y.id").as("id_base"))
      .agg(count(lit(1)).as("shared_bands"))
      .where(col("shared_bands") >= minShared)
      .select(col("id_delta"), col("id_base"))

    val est = Sketch.column(EqualPositionCount(
      Sketch.expr(col("ga.sig")), Sketch.expr(col("gb.sig"))))
    val plausible = candidates
      .join(deltaSig.select(col("id"), col("sig")).as("ga"), col("id_delta") === col("ga.id"))
      .join(baseSig.select(col("id"), col("sig")).as("gb"), col("id_base") === col("gb.id"))
      .where(est.cast("double") / cfg.numPerm >= cfg.threshold - 0.15)
      .select(col("id_delta"), col("id_base"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // survivor-only shingle fetch, per side — the only point the BASE text
    // is touched, and only for ids that cleared the signature estimate
    val shDelta = shingled(
      delta.join(plausible.select(col("id_delta").as(idCol)).distinct(), Seq(idCol), "left_semi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shBase = shingled(
      base.join(plausible.select(col("id_base").as(idCol)).distinct(), Seq(idCol), "left_semi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val inter = Sketch.column(SortedIntersectCount(
      Sketch.expr(col("sa.sh")), Sketch.expr(col("sb.sh"))))
    val verified = plausible
      .join(shDelta.as("sa"), col("id_delta") === col("sa.id"))
      .join(shBase.as("sb"), col("id_base") === col("sb.id"))
      .select(
        col("id_base"), col("id_delta"),
        (inter.cast("double") / (size(col("sa.sh")) + size(col("sb.sh")) - inter)).as("jacc"))
      .where(col("jacc") >= cfg.threshold)
    Seq(baseSig, deltaSig, plausible, shDelta, shBase)
      .foldLeft(verified)(CacheScope.unpersistAfterUse)
  }

  /** Character-level edit-distance near-dup pairs at Levenshtein distance
    * ≤ 1, via FastSS deletion neighborhoods (Bocek et al. 2007, "Fast
    * Similarity Search in Large Dictionaries"): two strings within edit
    * distance 1 always share a member of their 1-deletion neighborhoods
    * ({s} ∪ {s minus one char}) — substitution meets at the both-sides
    * deletion of the differing position, insert/delete meets at the longer
    * side's deletion — so candidate generation is an equi-join on
    * neighborhood keys and NO pair below the distance bound can be missed.
    * Exact `levenshtein` verification inside buckets then makes the output
    * row-identical to the all-pairs oracle (false candidates are free to
    * appear; they cannot survive).
    *
    * This is the typo/near-variant dedup family shingle Jaccard cannot see
    * on SHORT keys (titles, URLs, product names): one edit in a 40-char
    * string moves word-shingle Jaccard barely at all in either direction,
    * while edit distance isolates it exactly.
    *
    * Shape at 100 TB: each string of length L emits L+1 keys, each hashed
    * to 8 bytes (xxhash64) before the shuffle — O(n·L) rows of fixed-width
    * keys, no string bytes on the wire for candidate generation. Hash
    * collisions only ADD candidates (verification removes them). Candidate
    * pairs are deduped by a keyed aggregate BEFORE strings are fetched;
    * the two id-keyed joins that fetch the strings touch survivors of the
    * key join only. Intended for bounded-length key columns (L ≲ 64 —
    * derive a title/URL column first); for long strings or d ≥ 2 the
    * L+1-key scheme gives way to pigeonhole segment indexing (PassJoin,
    * Li et al. 2011), which this operator deliberately does not need at
    * d = 1. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val strs = df.select(col(idCol).as("id"), col(strCol).as("t"))
      .where(length(col("t")) > 0)
    val keyed = strs.select(col("id"), explode(deletionKeys(col("t"))).as("k"))
    val cand = keyed.as("a").join(keyed.as("b"), Seq("k"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(strs.select(col("id").as("id_a"), col("t").as("t_a")), Seq("id_a"))
      .join(strs.select(col("id").as("id_b"), col("t").as("t_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("t_a"), col("t_b")).cast("long").as("dist"))
      .where(col("dist") <= 1)
  }

  /** Two-table FastSS probe: fuzzy record linkage of a (dirty) probe feed
    * against a master catalog at Levenshtein ≤ 1 — the cross-table sibling
    * of [[editDistancePairs]], exactly as [[minhashProbePairs]] is the
    * cross-table sibling of the LSH self-join. Same deletion-neighborhood
    * exactness claim, same hashed-key equi-join shape; at cluster scale
    * the master's key table is built once and persisted (the linkage
    * index) while each arriving feed batch explodes only its own
    * neighborhoods. Emits (id_master, id_probe, dist) with no within-side
    * pairs. */
  def editDistanceProbePairs(
      master: DataFrame, probe: DataFrame,
      idCol: String, strCol: String): DataFrame = {
    def strs(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), col(strCol).as("t"))
        .where(length(col("t")) > 0)
    def keyed(df: DataFrame): DataFrame =
      strs(df).select(col("id"), explode(deletionKeys(col("t"))).as("k"))
    val cand = keyed(master).as("a").join(keyed(probe).as("b"), Seq("k"))
      .select(col("a.id").as("id_master"), col("b.id").as("id_probe"))
      .distinct()
    cand
      .join(strs(master).select(col("id").as("id_master"), col("t").as("t_m")), Seq("id_master"))
      .join(strs(probe).select(col("id").as("id_probe"), col("t").as("t_p")), Seq("id_probe"))
      .select(col("id_master"), col("id_probe"),
        levenshtein(col("t_m"), col("t_p")).cast("long").as("dist"))
      .where(col("dist") <= 1)
  }

  /** 1-deletion neighborhood of `t`, each member xxhash64'd to a fixed
    * 8-byte key. Index 0 keeps the string itself (covers exact match and
    * the short side of insert/delete); i = 1..L deletes the i-th char.
    * array_distinct collapses the equal keys a run of repeated chars
    * produces, cutting join multiplicity before the explode. */
  private def deletionKeys(t: Column): Column =
    array_distinct(transform(
      sequence(lit(0), length(t)),
      i => xxhash64(when(i === 0, t)
        .otherwise(concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t)))))))

  /** SimHash fingerprints: one 16-bit content hash per doc; docs whose
    * fingerprints collide (or sit within small Hamming distance) are dup
    * candidates. Pure single-pass projection. */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // token hashes stay md5-derived (hash60) so a SQL oracle can reproduce
    // the fingerprint; the bit-voting runs in the native SimHash16 kernel.
    val toks = tokens(lower(col(textCol)))
    val hashes = transform(toks, t => hash60(t))
    docs.select(col(idCol), Sketch.column(SimHash16(Sketch.expr(hashes))).as("simhash"))
  }

  /** Embedding near-dup pairs: hyperplane-LSH bucketed candidates, exact
    * cosine verification.
    *
    * Recall bound (same convention as the MinHash 1−3e-15 case): with the
    * default 256 bands x 16 bits, a pair at exactly cos=0.9 shares a band
    * bit with p = 1 − acos(0.9)/π ≈ 0.8564, a whole band with p^16 ≈
    * 0.0838, and misses ALL bands with (1−p^16)^256 ≈ 1.9e-10 — pairs
    * above the threshold miss even more rarely, so the LSH output matches
    * the exact all-pairs oracle for all practical purposes. The price is
    * band-table width (256 keys/row, ~6 KB shuffled per row) and 4096
    * plane projections per row in the one-pass native kernel — the classic
    * recall/volume dial; at lower stakes, 64x8 cuts both 4x for a 1.7e-3
    * miss rate. Every bucket join stays a keyed shuffle, never a cross
    * product. */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      numBands: Int = 256,
      bitsPerBand: Int = 16): DataFrame = {
    val base = embeddings.select(
      col(idCol).as("id"),
      VectorFunctions.toDouble(col(vecCol)).as("v"))

    // Materialize the band table once: it feeds BOTH sides of the self-join,
    // and without the persist each side re-runs the 4096-projection kernel
    // over the full corpus (same "persist the signatures" rule as the
    // MinHash pipeline). The cached table is (id, band_id, band_key) longs —
    // ~24 B x bands per row — released by CacheScope after the consuming
    // action.
    val bandTable = base
      .withColumn("bkeys", Sketch.column(
        HyperplaneBandKeys(Sketch.expr(col("v")), numBands, bitsPerBand, dim)))
      .select(col("id"), posexplode(col("bkeys")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val candidates = bandTable.as("x")
      .join(bandTable.as("y"), Seq("band_id", "band_key"))
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

    // exact-verify branch prunes to (id, v) — no kernel re-eval
    val vecs = base.select(col("id"), col("v"))
    val verified = candidates
      .join(vecs.as("va"), col("id_a") === col("va.id"))
      .join(vecs.as("vb"), col("id_b") === col("vb.id"))
      .select(col("id_a"), col("id_b"),
        Sketch.column(CosineSim(Sketch.expr(col("va.v")), Sketch.expr(col("vb.v")))).as("cos"))
      .where(col("cos") >= threshold)
    CacheScope.unpersistAfterUse(verified, bandTable)
  }

  /** Content-defined chunks: split each document at rolling-hash boundaries
    * ([[graft.expressions.ChunkBoundaries]]) and fingerprint every chunk.
    * Unlike fixed-width blocks, an insertion early in a document moves ONE
    * boundary — the same chunks re-align afterwards — so chunk fingerprints
    * survive edits and sub-document duplication (boilerplate headers,
    * quoted passages) becomes an exact groupBy instead of a fuzzy match.
    * Map-only: kernel pass + posexplode + substring/md5 per chunk. */
  def contentChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Int = 256): DataFrame = {
    val bounds = Sketch.column(ChunkBoundaries(Sketch.expr(col(textCol)), w, modulus))
    df.select(col(idCol), col(textCol).as("__text"), bounds.as("__bounds"))
      .select(col(idCol), col("__text"), col("__bounds"),
        posexplode(col("__bounds")).as(Seq("__idx", "__end")))
      .withColumn("chunk_idx", (col("__idx") + 1).cast("long"))
      .withColumn("chunk_off", when(col("__idx") === 0, lit(1L))
        .otherwise(element_at(col("__bounds"), col("__idx")) + 1L).cast("long"))
      .withColumn("chunk_len", (col("__end") - col("chunk_off") + 1L).cast("long"))
      .withColumn("chunk_md5",
        md5(col("__text").substr(col("chunk_off").cast("int"), col("chunk_len").cast("int"))))
      .select(col(idCol), col("chunk_idx"), col("chunk_off"), col("chunk_len"), col("chunk_md5"))
  }

  /** Connected components over a near-dup PAIR graph: cluster label = the
    * minimum doc id reachable through dup edges. Pair generation (LSH) says
    * "A~B, B~C"; survivor selection needs "{A,B,C} is one cluster, keep
    * exactly one" — transitive closure, not pairs.
    *
    * Runs on the partition-resident fixpoint engine
    * ([[Fixpoint.components]]): min-label steps with FastSV hooking and
    * pointer jumping, O(log n) rounds even on a long chain whose ids are
    * not ordered along it, one Spark job per round. `pairs` is evaluated
    * once, and the loop fails loudly at `maxIter` rounds rather than
    * return unconverged labels.
    *
    * Returns (v, cluster) for every non-null endpoint in `pairs`, cluster =
    * component min, so `v == cluster` marks the kept representative. A
    * vertex that appears only in self-pairs labels itself; a pair with a
    * NULL end adds nothing. Both columns keep the input id type (the wider
    * of the two), which must be integral. */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 35): DataFrame = {
    val ends = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val types = ends.schema.map(_.dataType)
    require(types.forall(IntegralIds.contains), s"component ids must be integral, got $types")
    val idType = IntegralIds.find(types.contains).get
    Fixpoint.components(ends.select(col("a").cast(LongType), col("b").cast(LongType)), maxIter,
        s"connected components did not converge in $maxIter rounds")
      .select(col("v").cast(idType).as("v"), col("cluster").cast(idType).as("cluster"))
  }

  /** Cross-document duplicated chunks: every chunk fingerprint seen in more
    * than one document, with its spread. One keyed shuffle over the chunk
    * fingerprints (KB per doc), map-side partials — the sub-document twin
    * of [[exactByFingerprint]]. */
  def duplicatedChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Int = 256): DataFrame =
    contentChunks(df, idCol, textCol, w, modulus)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
      .where(col("n_docs") > 1)
}
