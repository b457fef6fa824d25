package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD

/** Column blocks: rows as parallel primitive long columns, moved between
  * partitions as one serialized object per block instead of one record per
  * row. Shared by the delta-fold fixpoint and the MinHash LSH engine. */
private[operators] object Blocks {

  /** Rows as parallel long columns. */
  type Cols = Array[Array[Long]]

  /** Moves rows to the partition that owns their column-0 key: each input
    * partition yields one block, split into one block per target
    * partition; each output partition concatenates what it received (a
    * zero-width block when it received nothing). */
  def exchange(part: HashPartitioner, blocks: RDD[Cols]): RDD[Cols] =
    blocks.flatMap { cs =>
      val n = part.numPartitions
      val rowsTo = new Array[Int](n)
      val to = cs(0).map(k => part.getPartition(k))
      to.foreach(p => rowsTo(p) += 1)
      val out = Array.tabulate(n)(p => cs.map(_ => new Array[Long](rowsTo(p))))
      val fill = new Array[Int](n)
      var i = 0
      while (i < to.length) {
        val p = to(i)
        var c = 0
        while (c < cs.length) { out(p)(c)(fill(p)) = cs(c)(i); c += 1 }
        fill(p) += 1
        i += 1
      }
      (0 until n).iterator.filter(rowsTo(_) > 0).map(p => (p, out(p)))
    }.partitionBy(part).mapPartitions { it =>
      val got = it.map(_._2).toArray
      Iterator(concat(got, if (got.isEmpty) 0 else got(0).length))
    }

  /** The blocks' rows in one block of `width` columns; each input block is
    * released as soon as it is copied. */
  def concat(blocks: Array[Cols], width: Int): Cols = {
    val out = Array.fill(width)(new Array[Long](blocks.map(_(0).length).sum))
    var at = 0
    for (b <- blocks.indices) {
      val cs = blocks(b)
      for (c <- 0 until width) System.arraycopy(cs(c), 0, out(c), at, cs(c).length)
      at += cs(0).length
      blocks(b) = null
    }
    out
  }

  /** A task's outgoing rows of several kinds, buffered per (kind, target
    * partition) and shipped as `(target, (kind, block))` records, each
    * ready for `partitionBy(part)`. Rows go to the owner of their column-0
    * key. Once the buffers hold `budget` longs, every buffer is shipped, so
    * a task holds a bounded amount whatever its input size; a target may
    * thus receive several blocks of a kind from one task. */
  final class Outbox(part: HashPartitioner, widths: Array[Int], budget: Long) {
    private val bufs = Array.ofDim[Cols](widths.length, part.numPartitions)
    private val used = Array.ofDim[Int](widths.length, part.numPartitions)
    private var held = 0L
    private val ready = mutable.Queue.empty[(Int, (Int, Cols))]

    /** The columns and row index of the last added row: the caller writes
      * columns 1… of `cols` at `at`. */
    var cols: Cols = _
    var at: Int = 0

    /** Adds a row of kind `k` keyed by `key`. */
    def add(k: Int, key: Long): Unit = {
      val p = part.getPartition(key)
      val u = used(k)(p)
      if (bufs(k)(p) == null || u == bufs(k)(p)(0).length) {
        val grown = Array.fill(widths(k))(new Array[Long](math.max(16, 2 * u)))
        if (u > 0) for (c <- grown.indices) System.arraycopy(bufs(k)(p)(c), 0, grown(c), 0, u)
        held += (grown(0).length - u).toLong * widths(k)
        bufs(k)(p) = grown
      }
      cols = bufs(k)(p)
      at = u
      cols(0)(u) = key
      used(k)(p) = u + 1
    }

    /** Queues every non-empty buffer, trimmed to its rows. */
    private def ship(): Unit = {
      for (k <- widths.indices; p <- 0 until part.numPartitions if used(k)(p) > 0) {
        val u = used(k)(p)
        ready.enqueue((p, (k, bufs(k)(p).map(c => if (c.length == u) c else java.util.Arrays.copyOf(c, u)))))
        bufs(k)(p) = null
        used(k)(p) = 0
      }
      held = 0L
    }

    /** The shipped blocks of `in`, each element handed to `put` (which
      * calls [[add]]); lazy, so at most one budget's worth of rows is
      * buffered at a time. */
    def drain[T](in: Iterator[T])(put: T => Unit): Iterator[(Int, (Int, Cols))] =
      new Iterator[(Int, (Int, Cols))] {
        def hasNext: Boolean = {
          while (ready.isEmpty && in.hasNext) {
            put(in.next())
            if (held >= budget) ship()
          }
          if (ready.isEmpty) ship()
          ready.nonEmpty
        }
        def next(): (Int, (Int, Cols)) = {
          if (!hasNext) throw new NoSuchElementException
          ready.dequeue()
        }
      }
  }

  /** Row indices ordered by (a, b): a bottom-up merge sort over primitive
    * arrays, with the comparison of the fixpoint's two keys written out. */
  def order(a: Array[Long], b: Array[Long]): Array[Int] = {
    val n = a.length
    var from = Array.tabulate(n)(identity)
    var to = new Array[Int](n)
    var w = 1
    while (w < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + w, n)
        val hi = math.min(lo + 2 * w, n)
        var (i, j, k) = (lo, mid, lo)
        while (k < hi) {
          if (j >= hi || (i < mid && cmp(a(from(i)), b(from(i)), a(from(j)), b(from(j))) <= 0)) {
            to(k) = from(i); i += 1
          } else { to(k) = from(j); j += 1 }
          k += 1
        }
        lo = hi
      }
      val t = from; from = to; to = t
      w *= 2
    }
    from
  }

  /** A 32-bit hash of the key (n, t), for open-addressing tables. */
  def mix(n: Long, t: Long): Int = {
    val h = (n * 0x9E3779B97F4A7C15L) ^ (t * 0xC2B2AE3D27D4EB4FL)
    (h ^ (h >>> 32)).toInt
  }

  /** (n1, t1) compared with (n2, t2). */
  def cmp(n1: Long, t1: Long, n2: Long, t2: Long): Int =
    if (n1 != n2) java.lang.Long.compare(n1, n2) else java.lang.Long.compare(t1, t2)

  /** [[order]] by any number of key columns, compared lexicographically. */
  def order(keyCols: Array[Long]*): Array[Int] = {
    val keys = keyCols.toArray
    val n = if (keys.isEmpty) 0 else keys(0).length
    var from = Array.tabulate(n)(identity)
    var to = new Array[Int](n)
    var w = 1
    while (w < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + w, n)
        val hi = math.min(lo + 2 * w, n)
        var (i, j, k) = (lo, mid, lo)
        while (k < hi) {
          if (j >= hi || (i < mid && le(keys, from(i), from(j)))) { to(k) = from(i); i += 1 }
          else { to(k) = from(j); j += 1 }
          k += 1
        }
        lo = hi
      }
      val t = from; from = to; to = t
      w *= 2
    }
    from
  }

  /** Whether row x orders no later than row y by the key columns. */
  private def le(keys: Cols, x: Int, y: Int): Boolean = {
    var c = 0
    while (c < keys.length && keys(c)(x) == keys(c)(y)) c += 1
    c == keys.length || keys(c)(x) < keys(c)(y)
  }
}
