package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftBridge

/** Strongly connected components of a DIRECTED graph — the directed
  * sibling of the undirected CC tier (min-label propagation, star pointer
  * doubling, incremental CC), via the distributed Forward-Backward-Trim
  * coloring algorithm (Orzan 2004; McLendon et al. 2005 — the standard
  * MapReduce/Pregel SCC recipe, since Tarjan's stack is inherently
  * sequential).
  *
  * Each phase over the remaining subgraph:
  *  1. TRIM: nodes with no in-edge or no out-edge cannot sit in any
  *     cycle — they are singleton SCCs; peel repeatedly (kills the DAG
  *     tail of hash/functional graphs in a few rounds).
  *  2. COLOR: propagate color(u) = max(u, max over predecessors' colors)
  *     along edge direction to fixpoint — color(u) is the maximum label
  *     that reaches u. Every color class has exactly one PIVOT (the node
  *     that is its own color).
  *  3. BACKWARD: within each color class, mark nodes that reach their
  *     pivot (propagate marks against edge direction, staying inside the
  *     class — complete because every node on a u→pivot path shares the
  *     color, by the maximality argument). Marked nodes of class c form
  *     EXACTLY SCC(c): color(u)=c gives c⇝u, the mark gives u⇝c;
  *     conversely mutual reachability forces equal colors.
  *  4. Extract all pivot SCCs, restrict the graph to the remainder,
  *     repeat. Every phase removes at least the maximum remaining label's
  *     SCC, so the loop terminates; on hash-graph shapes (giant SCC +
  *     trimmed tail) it takes 1-2 phases.
  *
  * Trim rounds are keyed joins/aggregates over the EDGE table with
  * localCheckpoint lineage truncation and a fused count per round; the
  * coloring and backward-mark fixpoints run on the partition-resident
  * delta fold (Fixpoint.deltaFold), one Spark job per round. Labels are
  * plain longs; the returned scc_id is the MIN member of each component
  * (canonical, algorithm-independent — what a closure-based oracle
  * recomputes).
  */
object Scc {

  /** @param nodes (node: long) — distinct vertex set
    * @param edges (src, dst: long) — directed edges, endpoints in nodes
    * @param localFinishBelow when the remainder drops to this many nodes,
    *   collect it and finish with an iterative driver-side Tarjan — the
    *   standard BSP + local-finish hybrid: after the giant SCC is
    *   extracted distributively, the residue is a small tangle whose
    *   per-phase fixpoints are pure round-trip overhead (measured: the
    *   tail phases were ~2/3 of sf10 wall time at 1.5M nodes). The
    *   threshold BOUNDS driver memory (≤ localFinishBelow nodes + their
    *   edges) and is chosen so the distributed path still runs at every
    *   test SF before the finish kicks in.
    * @return (node, scc_id) with scc_id = min member of the node's SCC */
  def components(
      nodes: DataFrame,
      edges: DataFrame,
      maxPhases: Int = 25,
      maxIters: Int = 80,
      localFinishBelow: Long = 1000L): DataFrame = {
    // NOTE (measured at sf1, 150k nodes / 257k edges): disabling AQE for
    // the DataFrame fixpoint loops was tried and is ~50% SLOWER (75.6 s
    // vs 50.6 s) — AQE's post-shuffle coalescing of these metadata-scale
    // frames outweighs its per-exchange re-plan latency. Leave AQE alone.
    // FUSED materialize+count (r16, the trim rounds and the remainder):
    // public localCheckpoint(true) runs an internal count whose value it
    // discards, so each trim round paid a SECOND whole-frame job just to
    // learn its convergence signal — GraftBridge.localCheckpointCount
    // returns the counts from the materialization job itself. Neither
    // form keeps a layout built before the checkpoint: under AQE the
    // checkpointed frame reports no partitioning.
    val (rem0, remCount0) =
      GraftBridge.localCheckpointCount(nodes.select(col("node")).distinct())
    var remaining = rem0
    var remainingCount = remCount0
    var es = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    // accumulated (node, pivot) assignments; pivot is canonicalized at the end
    val done = ArrayBuffer.empty[DataFrame]
    var phase = 0
    while (remainingCount > localFinishBelow && phase < maxPhases) {
      // ---- 1. trim fixpoint: no-in or no-out nodes are singleton SCCs.
      // DELTA-PEELED (r15): degrees are computed ONCE, then each round
      // only decrements the neighbors of the nodes peeled that round —
      // total trim shuffle volume is O(E) across ALL rounds instead of
      // the previous O(E × rounds) (two full-edge distincts plus two
      // full-edge semi-join re-checkpoints per round). The edge table is
      // physically trimmed ONCE, after the fixpoint. The per-round
      // shuffles re-exchange the degree frame and the edges (no layout
      // survives a checkpoint, so none is built before one), but the
      // delta joins carry only the peeled nodes and their adjacent edges.
      var degrees = remaining
        .join(es.groupBy(col("src").as("node")).agg(count(lit(1)).as("outd")),
          Seq("node"), "left")
        .join(es.groupBy(col("dst").as("node")).agg(count(lit(1)).as("ind")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("outd"), lit(0L)).as("outd"),
          coalesce(col("ind"), lit(0L)).as("ind"))
        .localCheckpoint(true)
      // one delta-peel: drop `peeled` from `deg` and decrement its
      // neighbors' degrees. An edge decrements src's out-degree when its
      // DST is peeled and dst's in-degree when its SRC is peeled — each
      // edge fires each direction at most once, since a node peels once.
      // A no-peel input is a no-op (empty anti-join, zero decrements).
      def applyPeel(deg: DataFrame, peeled: DataFrame): DataFrame = {
        val decOut = es
          .join(peeled.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("dout"))
        val decIn = es
          .join(peeled.select(col("node").as("src")), Seq("src"), "left_semi")
          .groupBy(col("dst").as("node")).agg(count(lit(1)).as("din"))
        deg
          .join(peeled, Seq("node"), "left_anti")
          .join(decOut, Seq("node"), "left")
          .join(decIn, Seq("node"), "left")
          .select(col("node"),
            (col("outd") - coalesce(col("dout"), lit(0L))).as("outd"),
            (col("ind") - coalesce(col("din"), lit(0L))).as("ind"))
      }
      def peelable(deg: DataFrame): DataFrame =
        deg.where(col("outd") === 0 || col("ind") === 0).select("node")
      // DOUBLE-STEPPED (r15, the coloring/backward discipline brought to
      // trim — measured: trim was the largest SCC segment at ~10 s of a
      // 22.7 s sf0.1 lane, 2 jobs per single peel): two peels per
      // checkpoint + ONE count on the materialized frame. Convergence is
      // detected by the node count not shrinking. The per-round peeled
      // views are gone entirely — every node trimmed in the phase is
      // recovered at the end as phaseStart ∖ survivors in ONE anti-join
      // (each peeled node is a singleton SCC, pivot = itself), instead of
      // O(rounds) lazy views re-executed during the final union.
      val trimStart = remaining
      var titer = 0
      var degCount = remainingCount
      var shrunk = true
      while (shrunk && degCount > 0) {
        val p1 = peelable(degrees)
        val d1 = applyPeel(degrees, p1)
        val p2 = peelable(d1)
        val (d2, c) = GraftBridge.localCheckpointCount(applyPeel(d1, p2))
        degrees = d2
        shrunk = c != degCount
        degCount = c
        titer += 1
        require(titer < maxIters, s"trim did not stabilize in $maxIters rounds")
      }
      remaining = degrees.select("node")
      remainingCount = degCount
      done += trimStart.join(remaining, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("pivot"))
      if (remainingCount > 0) {
        es = es
          .join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint(true)
        // ---- 2. forward max-color fixpoint (propagate along edges),
        // through the shared partition-resident delta fold
        // (Fixpoint.deltaFold, combine max, +0 per hop): max is monotone
        // and idempotent, so a node's outgoing contribution needs
        // re-pushing only in the step AFTER its color changed — each step
        // moves only the changed set's colors along the trimmed edges.
        val colors = Fixpoint.deltaFold(
          remaining.select(col("node"), col("node").as("color"), lit(true).as("chg")),
          es, Fixpoint.Max, 0L, maxIters, s"coloring did not converge in $maxIters rounds")
        // ---- 3. backward mark fixpoint within color classes, the same
        // fold against edge direction. The mark IS the class color: a
        // pivot (node == color) starts marked with its color, every other
        // node unmarked (NULL), and a mark crosses only INTRA-CLASS edges,
        // annotated ONCE per phase — for such an edge the class label is
        // both endpoints' color, so max with +0 sets a node's mark to its
        // own color exactly when it reaches its pivot. The converged
        // state is (node, color) for the marked nodes only.
        val esIntra = {
          val cs = colors.select(col("node").as("src"), col("color").as("scolor"))
          val cd = colors.select(col("node").as("dst"), col("color").as("dcolor"))
          es.join(cs, Seq("src")).join(cd, Seq("dst"))
            .where(col("scolor") === col("dcolor"))
            .select(col("dst").as("src"), col("src").as("dst"))
        }
        val pivot = col("node") === col("color")
        val marked = Fixpoint.deltaFold(
          colors.select(col("node"), when(pivot, col("color")).as("color"), pivot.as("chg")),
          esIntra, Fixpoint.Max, 0L, maxIters,
          s"backward mark did not converge in $maxIters rounds")
        done += marked.select(col("node"), col("color").as("pivot"))
        val (rem2, remC) = GraftBridge.localCheckpointCount(
          remaining.join(marked.select("node"), Seq("node"), "left_anti"))
        remaining = rem2
        remainingCount = remC
        es = es
          .join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint(true)
      }
      phase += 1
    }
    require(remainingCount <= localFinishBelow,
      s"SCC did not finish in $maxPhases phases — $remainingCount nodes left")
    if (remainingCount > 0) {
      // hybrid finish: bounded collect + iterative Tarjan on the residue
      val spark = nodes.sparkSession
      import spark.implicits._
      val rn = remaining.collect().map(_.getLong(0))
      val re = es.collect().map(r => (r.getLong(0), r.getLong(1)))
      done += tarjanLocal(rn, re).toSeq.toDF("node", "pivot").localCheckpoint(true)
    }
    // canonicalize: scc_id = min member per pivot group. An empty node
    // set skips every phase AND the local finish, so guard the reduce.
    if (done.isEmpty) {
      val spark = nodes.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("node", "scc_id")
    }
    val all = done.reduce(_ union _)
    val canon = all.groupBy("pivot").agg(min("node").as("scc_id"))
    all.join(canon, Seq("pivot")).select(col("node"), col("scc_id"))
  }

  /** Iterative Tarjan (explicit work stack, no recursion) over the
    * collected residue; returns (node, component-min) pairs. */
  private def tarjanLocal(
      nodesArr: Array[Long],
      edgesArr: Array[(Long, Long)]): Array[(Long, Long)] = {
    val idOf = nodesArr.zipWithIndex.toMap
    val n = nodesArr.length
    val adj = Array.fill(n)(List.empty[Int])
    edgesArr.foreach { case (a, b) =>
      (idOf.get(a), idOf.get(b)) match {
        case (Some(i), Some(j)) => adj(i) = j :: adj(i)
        case _ => () // edge endpoint already extracted
      }
    }
    val adjArr = adj.map(_.toArray)
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = Array.fill(n)(false)
    val stack = scala.collection.mutable.Stack[Int]()
    val comp = Array.fill(n)(-1)
    var counter = 0
    for (root <- 0 until n if index(root) == -1) {
      val work = scala.collection.mutable.Stack[(Int, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.pop()
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack(v) = true
        }
        val children = adjArr(v)
        var advanced = false
        var i = ci
        while (i < children.length && !advanced) {
          val w = children(i)
          if (index(w) == -1) {
            work.push((v, i + 1)); work.push((w, 0)); advanced = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!advanced) {
          if (low(v) == index(v)) {
            var members = List.empty[Int]
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; members ::= w }
            val m = members.map(nodesArr(_)).min
            members.foreach(comp(_) = idOf(m))
          }
          if (work.nonEmpty) {
            val (p, _) = work.top
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    Array.tabulate(n)(i => (nodesArr(i), nodesArr(comp(i))))
  }
}
