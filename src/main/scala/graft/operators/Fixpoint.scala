package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}

import graft.operators.Blocks.{Cols, cmp, exchange, mix, order}

/** The delta-fold BSP fixpoint shared by Bfs, DagLevels and Scc's coloring
  * and backward-mark phases, run partition-resident in the Pregel/GraphX
  * manner. The state and the adjacency are co-partitioned once by one
  * `HashPartitioner(spark.sql.shuffle.partitions)` on `node` and stay put:
  *  - the state is one block per partition: keys sorted by (node, tag),
  *    a `long[]` of values and a `boolean[]` changed mask;
  *  - the adjacency is one CSR block per partition, built and
  *    `localCheckpoint`ed once.
  *
  * A step sends `value + inc` along the out-edges of the rows that changed
  * in the previous step only, combines the messages map-side per target
  * key in a primitive map, moves them with ONE `partitionBy` shuffle and
  * folds them into the state with the combine (`min` or `max`); `chg`
  * marks strict improvements only. This is correct for any monotone,
  * idempotent fold: a row's outgoing contribution needs re-pushing only in
  * the step after it changed. A message to a key outside the vertex set
  * (a "phantom" edge target) is dropped.
  *
  * DOUBLE-STEPPED: two steps per round, and each round is ONE Spark job
  * that `localCheckpoint`s the new state and counts its changed rows. A
  * round whose second step changes nothing is a true fixpoint: the first
  * step's changes are in the folded state and their push produced no
  * further change. No round plans a query: the loop runs on RDDs of
  * blocks, and the superseded round's blocks are released once the next
  * round is materialized. */
private[operators] object Fixpoint {

  /** How messages fold into a row. `unset` is the combine's identity: a
    * row holding it has no value yet, sends nothing and is left out of
    * the result. */
  sealed abstract class Combine(val unset: Long) extends Serializable {
    def better(a: Long, b: Long): Boolean
  }
  case object Min extends Combine(Long.MaxValue) {
    def better(a: Long, b: Long): Boolean = a < b
  }
  case object Max extends Combine(Long.MinValue) {
    def better(a: Long, b: Long): Boolean = a > b
  }

  /** One partition's state: distinct keys sorted by (node, tag). */
  private final class State(val node: Array[Long], val tag: Array[Long],
      val value: Array[Long], val chg: Array[Boolean]) extends Serializable {
    def changed: Long = chg.count(identity).toLong

    /** Row index of (n, t), or -1 when the key is not in the vertex set. */
    def find(n: Long, t: Long): Int = {
      var lo = 0
      var hi = node.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = cmp(node(mid), tag(mid), n, t)
        if (c < 0) lo = mid + 1 else if (c > 0) hi = mid - 1 else return mid
      }
      -1
    }
  }

  /** One partition's adjacency: sorted distinct sources, `dst` of source
    * i in `dst(off(i) until off(i + 1))`. */
  private final class Adj(val src: Array[Long], val off: Array[Int], val dst: Array[Long])
      extends Serializable

  /** @param seed `(node, value, chg)`, or `(tag, node, value, chg)` for a
    *   state keyed on (tag, node) and placed by `node` alone (a message
    *   keeps its sender's tag); value is a long, NULL until set; chg marks
    *   the rows the first step pushes. Duplicate keys fold into one row.
    * @param edges (src, dst: long) — duplicates are dropped
    * @param combine min or max
    * @param inc added to a value per hop
    * @param maxIters rounds after which the loop fails instead of going on
    * @param failure the message it fails with
    * @return the converged state, the seed's columns without chg, rows
    *   whose value is set only */
  def deltaFold(seed: DataFrame, edges: DataFrame, combine: Combine, inc: Long,
      maxIters: Int, failure: String): DataFrame = {
    val fields = seed.schema.fields
    val tagged = fields.length == 4
    require((fields.length == 3 || tagged) && fields(fields.length - 3).name == "node" &&
      fields(fields.length - 2).dataType == LongType &&
      fields.last.dataType == BooleanType, s"bad delta-fold seed: ${seed.schema}")
    val spark = seed.sparkSession
    val sc = spark.sparkContext
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val unset = combine.unset

    val adj = exchange(part, edges.select("src", "dst").rdd.mapPartitions { rows =>
      val (s, d) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long])
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) { s += r.getLong(0); d += r.getLong(1) }
      }
      Iterator(Array(s.result(), d.result()))
    }).map(csr)
    adj.localCheckpoint()

    val last = fields.length - 1
    var state = exchange(part, seed.rdd.mapPartitions { rows =>
      val cs = Array.fill(4)(ArrayBuilder.make[Long])
      rows.foreach { r =>
        cs(0) += r.getLong(last - 2)
        cs(1) += (if (tagged) r.getLong(0) else 0L)
        cs(2) += (if (r.isNullAt(last - 1)) unset else r.getLong(last - 1))
        cs(3) += (if (!r.isNullAt(last) && r.getBoolean(last)) 1L else 0L)
      }
      Iterator(cs.map(_.result()))
    }).map(build(combine, _))
    state.localCheckpoint()
    // set-up is ONE job: it materializes both checkpoints and counts the
    // seed's changed rows
    var changedCount = sc.runJob(
      state.zipPartitions(adj)((s, _) => Iterator(s.next().changed)),
      (it: Iterator[Long]) => it.sum).sum

    def step(st: RDD[State]): RDD[State] = {
      val msgs = exchange(part, st.zipPartitions(adj)((s, a) =>
        Iterator(send(s.next(), a.next(), combine, inc))))
      st.zipPartitions(msgs)((s, m) => Iterator(fold(s.next(), m.next(), combine)))
    }
    var rounds = 0
    while (changedCount > 0) {
      val next = step(step(state))
      next.localCheckpoint()
      changedCount = sc.runJob(next, (it: Iterator[State]) => it.map(_.changed).sum).sum
      state.unpersist(blocking = false)
      state = next
      rounds += 1
      require(rounds < maxIters, failure)
    }
    adj.unpersist(blocking = false)

    val rows = state.flatMap { s =>
      s.value.indices.iterator.filter(s.value(_) != unset).map { i =>
        if (tagged) Row(s.tag(i), s.node(i), s.value(i)) else Row(s.node(i), s.value(i))
      }
    }
    spark.createDataFrame(rows, StructType(fields.dropRight(1)))
  }

  /** The state block of (node, tag, value, chg) columns: keys sorted,
    * duplicate keys folded. An empty partition gets an empty block. */
  private def build(combine: Combine, cs: Cols): State = {
    if (cs.isEmpty) return new State(Array(), Array(), Array(), Array())
    val Array(node, tag, value, chg) = cs
    val ord = order(node, tag)
    val (ns, ts, vs, chs) =
      (ArrayBuilder.make[Long], ArrayBuilder.make[Long], ArrayBuilder.make[Long],
        ArrayBuilder.make[Boolean])
    var k = 0
    while (k < ord.length) {
      var v = value(ord(k))
      var c = chg(ord(k)) != 0L
      var j = k + 1
      while (j < ord.length && node(ord(j)) == node(ord(k)) && tag(ord(j)) == tag(ord(k))) {
        if (combine.better(value(ord(j)), v)) v = value(ord(j))
        c ||= chg(ord(j)) != 0L
        j += 1
      }
      ns += node(ord(k)); ts += tag(ord(k)); vs += v; chs += c
      k = j
    }
    new State(ns.result(), ts.result(), vs.result(), chs.result())
  }

  /** The CSR block of (src, dst) columns, duplicate edges dropped. */
  private def csr(cs: Cols): Adj = {
    if (cs.isEmpty) return new Adj(Array(), Array(0), Array())
    val Array(src, dst) = cs
    val ord = order(src, dst)
    val (ss, offs, ds) = (ArrayBuilder.make[Long], ArrayBuilder.make[Int], ArrayBuilder.make[Long])
    var k = 0
    while (k < ord.length) {
      val (s, d) = (src(ord(k)), dst(ord(k)))
      if (k == 0 || s != src(ord(k - 1))) { ss += s; offs += ds.length }
      if (k == 0 || s != src(ord(k - 1)) || d != dst(ord(k - 1))) ds += d
      k += 1
    }
    val d = ds.result()
    offs += d.length
    new Adj(ss.result(), offs.result(), d)
  }

  /** One partition's messages: `value + inc` from every changed row along
    * its out-edges, combined per target key. Returns (node, tag, value)
    * columns. */
  private def send(s: State, a: Adj, combine: Combine, inc: Long): Cols = {
    val msgs = new MessageMap(combine)
    var e = 0 // index into a.src; s and a are both sorted by node
    for (i <- s.node.indices if s.chg(i) && s.value(i) != combine.unset) {
      while (e < a.src.length && a.src(e) < s.node(i)) e += 1
      if (e < a.src.length && a.src(e) == s.node(i))
        for (j <- a.off(e) until a.off(e + 1)) msgs.add(a.dst(j), s.tag(i), s.value(i) + inc)
    }
    msgs.result
  }

  /** Messages combined per (node, tag) key: an open-addressing hash map
    * over primitive arrays, kept at most half full. */
  private final class MessageMap(combine: Combine) {
    private var cap = 16
    private var keyN = new Array[Long](cap)
    private var keyT = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var size = 0

    def add(n: Long, t: Long, v: Long): Unit = {
      if (2 * (size + 1) > cap) grow()
      var h = mix(n, t) & (cap - 1)
      while (used(h) && (keyN(h) != n || keyT(h) != t)) h = (h + 1) & (cap - 1)
      if (!used(h)) {
        used(h) = true; keyN(h) = n; keyT(h) = t; vals(h) = v; size += 1
      } else if (combine.better(v, vals(h))) vals(h) = v
    }

    private def grow(): Unit = {
      val (on, ot, ov, ou) = (keyN, keyT, vals, used)
      cap *= 2
      keyN = new Array[Long](cap); keyT = new Array[Long](cap)
      vals = new Array[Long](cap); used = new Array[Boolean](cap)
      size = 0
      for (k <- ou.indices if ou(k)) add(on(k), ot(k), ov(k))
    }

    /** (node, tag, value) columns, one row per key. */
    def result: Cols = {
      val out = Array.fill(3)(new Array[Long](size))
      var o = 0
      for (k <- 0 until cap if used(k)) {
        out(0)(o) = keyN(k); out(1)(o) = keyT(k); out(2)(o) = vals(k); o += 1
      }
      out
    }
  }

  /** Folds one partition's received (node, tag, value) messages into its
    * state: a new block whose chg marks strict improvements only. Keys
    * outside the vertex set are dropped. */
  private def fold(s: State, m: Cols, combine: Combine): State = {
    val value = s.value.clone()
    val chg = new Array[Boolean](value.length)
    if (m.nonEmpty) {
      val Array(mn, mt, mv) = m
      var i = 0
      while (i < mn.length) {
        val r = s.find(mn(i), mt(i))
        if (r >= 0 && combine.better(mv(i), value(r))) { value(r) = mv(i); chg(r) = true }
        i += 1
      }
    }
    new State(s.node, s.tag, value, chg)
  }
}
