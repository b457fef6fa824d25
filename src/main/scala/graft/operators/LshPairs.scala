package graft.operators

import org.apache.spark.{HashPartitioner, Partitioner, SparkConf}
import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Blocks.{Cols, Outbox, concat, mix, order}

/** The MinHash LSH candidate engine behind Dedup's near-dup pairs, run
  * partition-resident on RDD column blocks: band candidates, the
  * shared-band cut and the signature estimate, with nothing persisted and
  * no query planned after the sketch.
  *
  *  1. ONE shuffle carries two kinds of row, both placed by one
  *     `HashPartitioner(spark.sql.shuffle.partitions)`: a band row per
  *     (doc, band), keyed by its band hash, and a doc's signature, keyed
  *     by its id. A partition thus holds whole band buckets and the
  *     signature block of the ids it owns. Signatures travel packed, two
  *     31-bit MinHash values to a long.
  *  2. Each partition sorts its band rows by (band hash, block, band id),
  *     walks the buckets one at a time and counts every `id_a < id_b` pair
  *     of a bucket in a bounded primitive table, shipped whenever it fills;
  *     a spill-safe `combineByKey` (Kryo-serialized records, Spark's
  *     spillable map) sums a pair's shared buckets at the owner of `id_a`,
  *     and the sum is cut at `minShared`.
  *  3. Two id-keyed hops against the signature blocks: the first attaches
  *     `id_a`'s signature and moves the pair to the owner of `id_b`, the
  *     second counts equal signature positions block by block and keeps
  *     the pairs whose estimate reaches `minEstimate`.
  *
  * A task ships its outgoing rows whenever it buffers [[Budget]] longs, so
  * no task holds more than a bounded buffer besides its own partition's
  * band rows or signatures. Steps 1–3 are one Spark job (three shuffles)
  * in the first action that reads the result; a later read of the same
  * result reruns only the last hop, the shuffles being reused. */
private[operators] object LshPairs {

  /** Longs a task buffers before it ships its outgoing blocks (32 MB). */
  private val Budget = 4L << 20

  /** Slots of a task's pair table: at most half are filled before it
    * ships (20 MB at full size). */
  private val TableSlots = 1 << 20

  /** @param sketch one row per doc: (id: long, sig: array<long>,
    *   bands: array<long>, blk: long); every signature value lies in
    *   [0, 2^31). A null id fills its buckets but never pairs; docs pair
    *   only within equal `blk`.
    * @param maxBucketSize buckets holding more rows are dropped whole
    * @param budget longs a task buffers before it ships its blocks
    * @param tableSlots slots of a task's pair table, a power of two
    * @return (id_a, id_b) with id_a < id_b, one row per pair of sketch
    *   rows (duplicate ids repeat a pair) */
  def plausible(sketch: DataFrame, numPerm: Int, minShared: Int,
      maxBucketSize: Option[Int], minEstimate: Double,
      budget: Long = Budget, tableSlots: Int = TableSlots): RDD[Row] = {
    val spark = sketch.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val cap = maxBucketSize.getOrElse(Int.MaxValue)
    val words = (numPerm + 1) / 2

    // kind 0: band rows (band hash, blk, band id * 2 + named, id);
    // kind 1: signatures (id, packed signature words…)
    val docs = sketch.rdd.mapPartitions { rows =>
      val box = new Outbox(part, Array(4, 1 + words), budget)
      box.drain(rows) { r =>
        val named = !r.isNullAt(0)
        val id = if (named) r.getLong(0) else 0L
        val hs = r.getSeq[Long](2)
        for (b <- hs.indices) {
          box.add(0, hs(b))
          box.cols(1)(box.at) = r.getLong(3)
          box.cols(2)(box.at) = 2L * b + (if (named) 1 else 0)
          box.cols(3)(box.at) = id
        }
        if (named) {
          val sig = r.getSeq[Long](1)
          box.add(1, id)
          for (w <- 0 until words) box.cols(1 + w)(box.at) = pack(sig, 2 * w)
        }
      }
    }.partitionBy(part)
    def kind(k: Int, it: Iterator[(Int, (Int, Cols))]): Array[Cols] =
      it.collect { case (_, (`k`, cs)) => cs }.toArray
    val sigBlocks = docs.mapPartitions(it => Iterator(new SigBlock(kind(1, it), numPerm)))

    val shared = docs.mapPartitions(it => new PairCounts(concat(kind(0, it), 4), cap, tableSlots))
      .combineByKey[Int]((c: Int) => c, _ + _, _ + _, new FirstOwner(part),
        mapSideCombine = false, serializer = pairSerializer(spark.sparkContext.getConf))
      .collect { case (p, c) if c >= minShared => p }

    // (id_b, id_a, id_a's packed signature…), placed with id_b
    val toB = shared.zipPartitions(sigBlocks) { (pairs, blocks) =>
      val s = blocks.next()
      val box = new Outbox(part, Array(2 + words), budget)
      box.drain(pairs) { p =>
        for (r <- s.rows(p.a)) {
          box.add(0, p.b)
          box.cols(1)(box.at) = p.a
          s.copy(r, box.cols, 2, box.at)
        }
      }
    }.partitionBy(part)
    toB.zipPartitions(sigBlocks) { (moved, blocks) =>
      val s = blocks.next()
      for {
        (_, (_, m)) <- moved
        i <- m(0).indices.iterator
        r <- s.rows(m(0)(i)).iterator
        if s.equalPositions(r, m, 2, i).toDouble / numPerm >= minEstimate
      } yield Row(m(1)(i), m(0)(i))
    }
  }

  /** Signature values `sig(j)` and `sig(j + 1)` in one long; a position
    * past the signature packs as 0 on every side. */
  private def pack(sig: Seq[Long], j: Int): Long = {
    def value(k: Int): Long = {
      if (k >= sig.length) return 0L
      val v = sig(k)
      if ((v >>> 31) != 0) throw new IllegalStateException(s"MinHash value $v outside [0, 2^31)")
      v
    }
    value(j) | (value(j + 1) << 32)
  }

  /** An (id_a, id_b) key with primitive fields, so Spark's spillable map
    * hashes and compares it without boxing. */
  private final class Pair(val a: Long, val b: Long) extends Serializable {
    override def hashCode: Int = mix(a, b)
    override def equals(o: Any): Boolean = o match {
      case p: Pair => p.a == a && p.b == b
      case _ => false
    }
  }

  /** Kryo for the pair-count records: [[Pair]] registered, so a record
    * carries a class id rather than its class name, and no reference
    * tracking, a record holding no shared object. */
  private def pairSerializer(conf: SparkConf): KryoSerializer =
    new KryoSerializer(conf.clone
      .set("spark.kryo.classesToRegister", classOf[Pair].getName)
      .set("spark.kryo.referenceTracking", "false"))

  /** Places a pair with the owner of id_a. */
  private final class FirstOwner(part: HashPartitioner) extends Partitioner {
    def numPartitions: Int = part.numPartitions
    def getPartition(key: Any): Int = part.getPartition(key.asInstanceOf[Pair].a)
  }

  /** One partition's signatures, kept in the blocks they arrived in: ids
    * sorted, duplicates kept, each with the (block, row) that holds it. */
  private final class SigBlock(blocks: Array[Cols], numPerm: Int) {
    private val (id, at) = {
      val ids = blocks.flatMap(_(0))
      val where = blocks.indices.toArray.flatMap(b => Array.tabulate(blocks(b)(0).length)(b.toLong << 32 | _))
      val ord = order(ids)
      (ord.map(ids(_)), ord.map(where(_)))
    }
    private val words = (numPerm + 1) / 2

    /** The sorted positions holding id `x`. */
    def rows(x: Long): Range = {
      var (lo, hi) = (0, id.length)
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (id(mid) < x) lo = mid + 1 else hi = mid }
      var end = lo
      while (end < id.length && id(end) == x) end += 1
      lo until end
    }

    /** Copies the packed signature at position r to columns `from`… of
      * row i of `out`. */
    def copy(r: Int, out: Cols, from: Int, i: Int): Unit = {
      val cs = blocks((at(r) >>> 32).toInt)
      val row = at(r).toInt
      for (w <- 0 until words) out(from + w)(i) = cs(1 + w)(row)
    }

    /** Equal MinHash positions of the signature at position r and the
      * packed signature in columns `from`… of row i of `m`. */
    def equalPositions(r: Int, m: Cols, from: Int, i: Int): Int = {
      val cs = blocks((at(r) >>> 32).toInt)
      val row = at(r).toInt
      var (w, eq) = (0, 0)
      while (w < words) {
        val d = cs(1 + w)(row) ^ m(from + w)(i)
        if ((d & 0xFFFFFFFFL) == 0) eq += 1
        if ((d >>> 32) == 0) eq += 1
        w += 1
      }
      eq - numPerm % 2 // an odd signature's padding always agrees
    }
  }

  /** The `id_a < id_b` pairs of rows sharing a bucket (band hash, blk, band
    * id), each with the number of this partition's buckets it shares; a
    * bucket of more than `cap` rows yields nothing. Pairs are counted in an
    * open-addressing table that is shipped whenever it is half full at its
    * largest size, so a large bucket is never held as a pair list and a
    * task holds at most `tableSlots / 2` pairs. */
  private final class PairCounts(bands: Cols, cap: Int, tableSlots: Int) extends Iterator[(Pair, Int)] {
    private val Array(hash, blk, band, id) = bands
    private val ord = order(hash, blk, band)
    private val n = ord.length
    // the walk: bucket [lo, hi) and its next row pair (i, j)
    private var lo = 0
    private var hi = 0
    private var i = 0
    private var j = 0
    // the table, and the next slot to ship (-1 while the walk fills it)
    private var ka = new Array[Long](math.min(1024, tableSlots))
    private var kb = new Array[Long](math.min(1024, tableSlots))
    private var cnt = new Array[Int](math.min(1024, tableSlots))
    private var filled = 0
    private var slot = -1

    private def walked: Boolean = hi >= n && i >= hi

    def hasNext: Boolean = {
      while (true) {
        if (slot < 0) fill()
        while (slot < cnt.length && cnt(slot) == 0) slot += 1
        if (slot < cnt.length) return true
        if (walked) return false
        slot = -1
        filled = 0
      }
      false
    }

    def next(): (Pair, Int) = {
      if (!hasNext) throw new NoSuchElementException
      val out = (new Pair(ka(slot), kb(slot)), cnt(slot))
      cnt(slot) = 0
      slot += 1
      out
    }

    private def sameBucket(x: Int, y: Int): Boolean =
      hash(x) == hash(y) && blk(x) == blk(y) && (band(x) >>> 1) == (band(y) >>> 1)
    private def named(k: Int): Boolean = (band(ord(k)) & 1L) == 1L

    /** Walks pairs into the table until it is half full at its largest
      * size or every bucket is walked, then starts shipping. */
    private def fill(): Unit = {
      while (slot < 0) {
        if (i >= hi) { // next bucket
          lo = hi
          if (lo >= n) { slot = 0; return }
          hi = lo + 1
          while (hi < n && sameBucket(ord(lo), ord(hi))) hi += 1
          i = if (hi - lo > cap) hi else lo
          j = i + 1
        } else if (j >= hi || !named(i)) { i += 1; j = i + 1 }
        else {
          val x = id(ord(i))
          val y = id(ord(j))
          if (named(j) && x != y) {
            put(math.min(x, y), math.max(x, y), 1)
            if (2 * filled >= cnt.length && !grow()) slot = 0
          }
          j += 1
        }
      }
    }

    private def put(a: Long, b: Long, c: Int): Unit = {
      val mask = cnt.length - 1
      var s = mix(a, b) & mask
      while (cnt(s) != 0 && (ka(s) != a || kb(s) != b)) s = (s + 1) & mask
      if (cnt(s) == 0) { ka(s) = a; kb(s) = b; filled += 1 }
      cnt(s) += c
    }

    /** Doubles the table unless it is at `tableSlots`. */
    private def grow(): Boolean = cnt.length < tableSlots && {
      val (oa, ob, oc) = (ka, kb, cnt)
      ka = new Array[Long](2 * oc.length)
      kb = new Array[Long](2 * oc.length)
      cnt = new Array[Int](2 * oc.length)
      filled = 0
      for (s <- oc.indices if oc(s) != 0) put(oa(s), ob(s), oc(s))
      true
    }
  }
}
