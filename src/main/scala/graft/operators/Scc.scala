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
  * All per-round work is keyed joins/aggregates over the EDGE table with
  * localCheckpoint lineage truncation and bounded count() fixpoint checks
  * — the connectedComponents contract. Labels are plain longs; the
  * returned scc_id is the MIN member of each component (canonical,
  * algorithm-independent — what a closure-based oracle recomputes).
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
    // the fixpoint loops was tried and is ~50% SLOWER (75.6 s vs 50.6 s)
    // — AQE's post-shuffle coalescing of these metadata-scale frames
    // outweighs its per-exchange re-plan latency. Leave AQE alone.
    // FUSED materialize+count (r16, every fixpoint below): public
    // localCheckpoint(true) runs an internal count whose value it discards,
    // so each loop round paid a SECOND whole-frame job just to learn its
    // convergence signal — GraftBridge.localCheckpointCount returns the
    // counts from the materialization job itself (one job per round
    // instead of two; partitioning/ordering preserved identically).
    val (rem0, remCount0, _) =
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
      // physically trimmed ONCE, after the fixpoint. Both edge
      // orientations are pre-partitioned + sorted and the degree frame
      // stays hash-partitioned on node (LogicalRDD preserves both
      // through localCheckpoint), so per-round shuffles carry only the
      // peeled delta and its adjacent edges.
      val esBySrc = es.repartition(col("src")).sortWithinPartitions("src")
        .localCheckpoint(true)
      val esByDst = es.repartition(col("dst")).sortWithinPartitions("dst")
        .localCheckpoint(true)
      var degrees = remaining
        .join(es.groupBy(col("src").as("node")).agg(count(lit(1)).as("outd")),
          Seq("node"), "left")
        .join(es.groupBy(col("dst").as("node")).agg(count(lit(1)).as("ind")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("outd"), lit(0L)).as("outd"),
          coalesce(col("ind"), lit(0L)).as("ind"))
        .repartition(col("node")).sortWithinPartitions("node")
        .localCheckpoint(true)
      // one delta-peel: drop `peeled` from `deg` and decrement its
      // neighbors' degrees. An edge decrements src's out-degree when its
      // DST is peeled and dst's in-degree when its SRC is peeled — each
      // edge fires each direction at most once, since a node peels once.
      // A no-peel input is a no-op (empty anti-join, zero decrements).
      def applyPeel(deg: DataFrame, peeled: DataFrame): DataFrame = {
        val decOut = esByDst
          .join(peeled.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("dout"))
        val decIn = esBySrc
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
        val (d2, c, _) = GraftBridge.localCheckpointCount(
          applyPeel(d1, p2)
            .repartition(col("node")).sortWithinPartitions("node"))
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
      }
      if (sys.env.contains("SPARK_GRAFT_SCC_DEBUG"))
        System.err.println(s"[scc] phase ${phase + 1}: trim $titer rounds, remaining=$remainingCount at ${System.nanoTime() / 1000000}ms")
      if (remainingCount > 0) {
        // ---- 2. forward max-color fixpoint (propagate along edges).
        // DELTA-PROPAGATED (r15) and still DOUBLE-STEPPED: max is
        // monotone and idempotent, so a node's outgoing contribution
        // needs re-pushing only in the round AFTER its color changed —
        // each round pushes only the changed set's colors one hop (twice)
        // and folds them into the full color frame with a left join. The
        // trimmed edge table is pre-partitioned + sorted on src and the
        // color frame stays hash-partitioned + sorted on node (preserved
        // through localCheckpoint), so the per-round shuffle volume is
        // the changed delta and its out-edges, not O(V + E) as the
        // previous full-frame push paid; the fold's SMJ scans colors in
        // place. Convergence: two-step rounds where step 2 changes
        // nothing are a true fixpoint (step 1's changes are in the folded
        // frame and their push produced no further change).
        val esCBySrc = es.repartition(col("src")).sortWithinPartitions("src")
          .localCheckpoint(true)
        // one delta step: (full colors, changed) -> folded (node, color, chg)
        def deltaStep(c: DataFrame, ch: DataFrame): DataFrame = {
          val pushed = esCBySrc
            .join(ch.select(col("node").as("src"), col("color").as("pc")), Seq("src"))
            .groupBy(col("dst").as("node")).agg(max("pc").as("pc"))
          c.join(pushed, Seq("node"), "left")
            .select(col("node"),
              greatest(col("color"), coalesce(col("pc"), col("color"))).as("color"),
              (coalesce(col("pc"), col("color")) > col("color")).as("chg"))
        }
        var colors = remaining.select(col("node"), col("node").as("color"))
          .repartition(col("node")).sortWithinPartitions("node")
          .localCheckpoint(true)
        var changed = colors
        var changedCount = remainingCount
        var citer = 0
        while (changedCount > 0) {
          val f1 = deltaStep(colors, changed)
          val (f2, _, nChg) = GraftBridge.localCheckpointCount(
            deltaStep(
              f1.select(col("node"), col("color")),
              f1.where(col("chg")).select(col("node"), col("color"))),
            Some("chg"))
          colors = f2.select("node", "color")
          changed = f2.where(col("chg")).select(col("node"), col("color"))
          changedCount = nChg
          citer += 1
          require(citer < maxIters, s"coloring did not converge in $maxIters rounds")
        }
        if (sys.env.contains("SPARK_GRAFT_SCC_DEBUG"))
          System.err.println(s"[scc] phase ${phase + 1}: coloring $citer rounds on $remainingCount nodes at ${System.nanoTime() / 1000000}ms")
        // ---- 3. backward mark fixpoint within color classes — FOLD form
        // (r15, the coloring loop's discipline): the state is ONE
        // (node, color, m) frame over the remaining nodes, m = reaches-
        // pivot flag, re-checkpointed once per double-step; the per-round
        // fold is a left join of the pushed predecessor set, which
        // re-exchanges the state (the checkpoint keeps no partitioning, see
        // GraftBridge.localCheckpointCount). This replaces the
        // frontier+anti-join form, which also paid a sort rebuild of the
        // marked set plus an extra checkpoint every round.
        // INTRA-CLASS edges are annotated ONCE per phase (r15): the
        // backward walk only ever crosses edges whose endpoints share a
        // color, and for such an edge the class label IS the edge's
        // color — so each hop is one semi-join into the pre-partitioned
        // intra-class edge table, with NO per-hop colors join at all
        // (the previous form joined the full color frame every hop).
        val esIntra = {
          val cs = colors.select(col("node").as("src"), col("color").as("scolor"))
          val cd = colors.select(col("node").as("dst"), col("color").as("dcolor"))
          es.join(cs, Seq("src")).join(cd, Seq("dst"))
            .where(col("scolor") === col("dcolor"))
            .select(col("src"), col("dst"))
            .repartition(col("dst")).sortWithinPartitions("dst")
            .localCheckpoint(true)
        }
        // one backward step: fold the in-class predecessors of the changed
        // set into the mark flags; chg marks first-time marks only
        def backStep(st: DataFrame, ch: DataFrame): DataFrame = {
          val pushed = esIntra
            .join(ch.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .select(col("src").as("node")).distinct()
            .withColumn("p", lit(true))
          st.join(pushed, Seq("node"), "left")
            .select(col("node"), col("color"),
              (col("m") || col("p").isNotNull).as("m"),
              (!col("m") && col("p").isNotNull).as("chg"))
        }
        // seed: pivots (node == color); colors is already partitioned +
        // sorted on node, so the projection keeps that layout
        val (mk0, _, nSeed) = GraftBridge.localCheckpointCount(
          colors.select(col("node"), col("color"),
            (col("node") === col("color")).as("m")),
          Some("m"))
        var mk = mk0
        var mchanged = mk.where(col("m")).select("node")
        var mchangedCount = nSeed
        var miter = 0
        while (mchangedCount > 0) {
          val b1 = backStep(mk.select("node", "color", "m"), mchanged)
          val (b2, _, nChg) = GraftBridge.localCheckpointCount(
            backStep(b1.select("node", "color", "m"),
              b1.where(col("chg")).select("node")),
            Some("chg"))
          mk = b2.select("node", "color", "m")
          mchanged = b2.where(col("chg")).select("node")
          mchangedCount = nChg
          miter += 1
          require(miter < maxIters, s"backward mark did not converge in $maxIters rounds")
        }
        val marked = mk.where(col("m")).select(col("node"), col("color"))
        if (sys.env.contains("SPARK_GRAFT_SCC_DEBUG"))
          System.err.println(s"[scc] phase ${phase + 1}: backward $miter rounds at ${System.nanoTime() / 1000000}ms")
        done += marked.select(col("node"), col("color").as("pivot")).localCheckpoint(true)
        val (rem2, remC, _) = GraftBridge.localCheckpointCount(
          remaining.join(marked.select("node"), Seq("node"), "left_anti"))
        remaining = rem2
        remainingCount = remC
        es = es
          .join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint(true)
      }
      phase += 1
      if (sys.env.contains("SPARK_GRAFT_SCC_DEBUG"))
        System.err.println(s"[scc] phase $phase done: remaining=$remainingCount")
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
