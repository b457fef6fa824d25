package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.operators.Blocks.{Cols, cmp, exchange, mix, order}

/** The partition-resident BSP fixpoints, run in the Pregel/GraphX manner:
  * the delta fold shared by Bfs, DagLevels and Scc's coloring and
  * backward-mark phases, and connected components (`Dedup.connectedComponents`).
  * The state and the adjacency are co-partitioned once by one
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
  * Each round is ONE Spark job that `localCheckpoint`s the new state and
  * counts its changed rows, and the loop stops at the first round that
  * changes no row. No round plans a query: the loop runs on RDDs of
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

  /** The delta fold, DOUBLE-STEPPED: two steps per round. A round whose
    * second step changes nothing is a true fixpoint: the first step's
    * changes are in the folded state and their push produced no further
    * change.
    *
    * @param seed `(node, value, chg)`, or `(tag, node, value, chg)` for a
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
    val part = partitioner(seed)
    val unset = combine.unset

    val adj = adjacency(part, edges.select("src", "dst"), mirror = false)
    val last = fields.length - 1
    val state = exchange(part, seed.rdd.mapPartitions { rows =>
      val cs = Array.fill(4)(ArrayBuilder.make[Long])
      rows.foreach { r =>
        cs(0) += r.getLong(last - 2)
        cs(1) += (if (tagged) r.getLong(0) else 0L)
        cs(2) += (if (r.isNullAt(last - 1)) unset else r.getLong(last - 1))
        cs(3) += (if (!r.isNullAt(last) && r.getBoolean(last)) 1L else 0L)
      }
      Iterator(cs.map(_.result()))
    }).map(build(combine, _))

    def step(st: RDD[State]): RDD[State] =
      deliver(part, st, st.zipPartitions(adj)((s, a) =>
        Iterator(send(s.next(), a.next(), combine, inc))), combine)
    val out = converge(state, adj, maxIters, failure)(st => step(step(st)))

    val rows = out.flatMap { s =>
      s.value.indices.iterator.filter(s.value(_) != unset).map { i =>
        if (tagged) Row(s.tag(i), s.node(i), s.value(i)) else Row(s.node(i), s.value(i))
      }
    }
    seed.sparkSession.createDataFrame(rows, StructType(fields.dropRight(1)))
  }

  /** Connected components of an undirected pair graph: `(v, cluster)` for
    * every vertex, cluster = the component's minimum id.
    *
    * The state is (node, label), seeded with label = node for every source
    * of the mirrored adjacency, so a vertex whose only pair is a self-pair
    * labels itself. Each round is four shuffles, after FastSV (Zhang, Azad
    * & Hu, SIAM PP 2020):
    *  1. step: the rows the previous round changed send their label along
    *     the adjacency, min-combined (the delta fold's step with inc 0);
    *  2. hook: a row the step lowered from p to l sends l to p, so the
    *     tree that p roots joins the lower one in the same round;
    *  3. jump: every row whose label is not itself asks the owner of that
    *     label for the owner's label (a request, then a reply) and takes
    *     the min.
    * The jump alone halves tree depth per round; without the hook a chain
    * whose ids are not ordered along it takes O(length) rounds, with it
    * O(log n) (in a model of the round, a permuted 1000-chain took 420
    * rounds without the hook and 9 with it).
    *
    * The loop stops at the first round that changes no row, and that
    * round has shown the answer correct. Labels only fall, every label is
    * a vertex id of its own component, and label(v) <= v. A row's last
    * change was pushed along its edges in the next round's step, so with
    * no change left the labels agree across every edge, and the jump
    * found label(label(v)) = label(v): every label is a root. One label
    * per component that is at most every id in it and is one of them is
    * the component's minimum.
    *
    * @param pairs two long columns; a pair with a NULL end adds nothing
    * @param maxIters rounds after which the loop fails instead of going on
    * @param failure the message it fails with
    * @return (v, cluster: long), read off the checkpointed final state,
    *   with no lineage back to `pairs` */
  def components(pairs: DataFrame, maxIters: Int, failure: String): DataFrame = {
    val part = partitioner(pairs)
    val adj = adjacency(part, pairs, mirror = true)
    val seed = adj.map(a =>
      new State(a.src, new Array[Long](a.src.length), a.src, Array.fill(a.src.length)(true)))

    def round(st: RDD[State]): RDD[State] = {
      val stepped = deliver(part, st, st.zipPartitions(adj)((s, a) =>
        Iterator(send(s.next(), a.next(), Min, 0L))), Min)
      val hooked = deliver(part, stepped, st.zipPartitions(stepped)((b, s) =>
        Iterator(hooks(b.next(), s.next()))), Min)
      val asks = exchange(part, hooked.map(requests))
      val jumped = deliver(part, hooked, hooked.zipPartitions(asks)((s, q) =>
        Iterator(replies(s.next(), q.next()))), Min)
      st.zipPartitions(jumped)((b, s) => Iterator(since(b.next(), s.next())))
    }
    val out = converge(seed, adj, maxIters, failure)(round)

    val rows = out.flatMap(s => s.node.indices.iterator.map(i => Row(s.node(i), s.value(i))))
    pairs.sparkSession.createDataFrame(rows,
      StructType(Seq(StructField("v", LongType), StructField("cluster", LongType))))
  }

  private def partitioner(df: DataFrame): HashPartitioner =
    new HashPartitioner(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  /** The CSR blocks of two long columns (src, dst), placed by src; with
    * `mirror`, each row also adds its reverse edge. A row with a NULL end
    * adds nothing. */
  private def adjacency(part: HashPartitioner, edges: DataFrame, mirror: Boolean): RDD[Adj] =
    exchange(part, edges.rdd.mapPartitions { rows =>
      val (s, d) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long])
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          s += r.getLong(0); d += r.getLong(1)
          if (mirror) { s += r.getLong(1); d += r.getLong(0) }
        }
      }
      Iterator(Array(s.result(), d.result()))
    }).map(csr)

  /** `st` with the messages of `msgs` moved to their owners by ONE shuffle
    * and folded in. */
  private def deliver(part: HashPartitioner, st: RDD[State], msgs: RDD[Cols],
      combine: Combine): RDD[State] =
    st.zipPartitions(exchange(part, msgs))((s, m) => Iterator(fold(s.next(), m.next(), combine)))

  /** Runs `round` from `seed` until a round changes no row. The set-up is
    * ONE job: it materializes the seed's and the adjacency's checkpoints
    * and counts the seed's changed rows. Each round is ONE job that
    * checkpoints the new state and counts its changed rows; the superseded
    * state, and the adjacency at the end, are released. */
  private def converge(seed: RDD[State], adj: RDD[Adj], maxIters: Int, failure: String)(
      round: RDD[State] => RDD[State]): RDD[State] = {
    val sc = seed.sparkContext
    adj.localCheckpoint()
    var state = seed
    state.localCheckpoint()
    var changedCount = sc.runJob(
      state.zipPartitions(adj)((s, _) => Iterator(s.next().changed)),
      (it: Iterator[Long]) => it.sum).sum
    var rounds = 0
    while (changedCount > 0) {
      val next = round(state)
      next.localCheckpoint()
      changedCount = sc.runJob(next, (it: Iterator[State]) => it.map(_.changed).sum).sum
      state.unpersist(blocking = false)
      state = next
      rounds += 1
      require(rounds < maxIters, failure)
    }
    adj.unpersist(blocking = false)
    state
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

  /** One partition's hooks: each row the step lowered from label p to l
    * sends l to p, unless p is the row itself; combined per target. */
  private def hooks(before: State, after: State): Cols = {
    val msgs = new MessageMap(Min)
    for (i <- after.node.indices if after.chg(i) && before.value(i) != after.node(i))
      msgs.add(before.value(i), after.tag(i), after.value(i))
    msgs.result
  }

  /** One partition's jump requests: (label, asker) for every row whose
    * label is not itself. */
  private def requests(s: State): Cols = {
    val (owner, asker) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long])
    for (i <- s.node.indices if s.value(i) != s.node(i)) { owner += s.value(i); asker += s.node(i) }
    Array(owner.result(), asker.result())
  }

  /** The replies to one partition's (owner, asker) requests: the owner's
    * label, as a (node, tag, value) message to the asker, when it is below
    * the asker's label (the owner itself). */
  private def replies(s: State, q: Cols): Cols = {
    val (n, v) = (ArrayBuilder.make[Long], ArrayBuilder.make[Long])
    if (q.nonEmpty) {
      val Array(owner, asker) = q
      for (k <- owner.indices) {
        val r = s.find(owner(k), 0L)
        if (r >= 0 && s.value(r) < owner(k)) { n += asker(k); v += s.value(r) }
      }
    }
    val ns = n.result()
    Array(ns, new Array[Long](ns.length), v.result())
  }

  /** `after` with chg marking the rows whose value differs from `before`'s:
    * what a round changed. */
  private def since(before: State, after: State): State =
    new State(after.node, after.tag, after.value,
      Array.tabulate(after.value.length)(i => after.value(i) != before.value(i)))
}
