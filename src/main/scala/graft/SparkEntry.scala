package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.{Tables, SnapshotScan}
import graft.cdc.Envelope
import graft.functions.{Converters => Cv, TextFunctions => Tf, VectorFunctions => Vf}
import graft.operators.{Ann, Dedup, SemanticDedup}
import graft.sinks.BatchedSink
import graft.streaming.EventsIngest

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator ↔ query
  * mapping. Every `queries` key has matching DuckDB `oracleSql` except the
  * two approximate-by-design ANN variants (`ann_lsh`, `ann_ivf`), which get
  * the driver's rows-only check plus recall unit tests in AnnSpec.
  *
  * Exactness conventions (so value hashes match the DuckDB oracle):
  *  - integer outputs are BIGINT on both sides;
  *  - double aggregates are computed in scale-pinned DECIMAL (exact,
  *    order-independent) and cast to double at the end;
  *  - per-row double arithmetic is written with the identical expression
  *    tree on both sides (IEEE-deterministic);
  *  - hashes go through md5/sha256 (bit-identical hex on both engines);
  *  - every result carries a deterministic total ORDER BY.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_shipping_priority")(spark, "/root/testdata/sf0.001")

  /** graph_bfs hop budget, shared by the operator (double-stepped BSP, so
    * maxIters = cap/2) and the oracle's recursive-CTE depth guard — one
    * constant so the two bounds can never silently diverge: past the cap
    * the operator THROWS while a lower oracle cap would truncate quietly. */
  private val BfsHopCap = 80

  /** Dependency radius shared by graph_betweenness's Spark loop and its
    * unrolled oracle SQL (one CTE pair per level — keep small; Brandes
    * 2008's bounded-distance variant truncates here). */
  private val BetweennessHopCap = 8

  // decimal-pinned casts used across aggregates
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  private def rate(c: Column): Column = c.cast("decimal(4,2)") // discount/tax in [0,1)
  private def sumd(c: Column): Column = sum(c).cast("double")

  /** ANN self-verification rows: per-query rank-structure claims plus the
    * overall recall-vs-exact bound, all computed inside the query so the
    * driver's hash compare asserts real correctness for the approximate
    * tiers (they were rows-only for four rounds). `approx`/`exact` carry
    * (qid, nid, rank). */
  private def annVerification(
      approx: DataFrame, exact: DataFrame, k: Int,
      recallMetric: String, recallBound: Double): DataFrame = {
    // ONE pass: the expensive approx/exact subtrees each appear exactly
    // once in the DAG (a full-outer join of the two tiny top-k results),
    // and rollup produces the per-query rows AND the overall total in a
    // single aggregation — the earlier union-of-branches shape re-executed
    // the LSH/brute-force pipelines once per branch.
    val a = approx.select(col("qid").as("aqid"), col("nid").as("anid"), col("rank").as("arank"))
    val e = exact.select(col("qid").as("eqid"), col("nid").as("enid"))
    val j = a.join(e, col("aqid") === col("eqid") && col("anid") === col("enid"), "full_outer")
      .select(coalesce(col("aqid"), col("eqid")).as("query_id"),
        col("arank"), col("aqid"), col("eqid"))
    // rollup's total row carries a NULL grouping key; genuine query ids are
    // never null (vec_ids), so the null marker IS the total-row detector
    // functions.col, not the string overload: Dataset.rollup(String*)
    // resolves through df.col, whose dataset-id tag trips
    // DetectAmbiguousSelfJoin over the approx/exact self-join lineage
    j.rollup(col("query_id"))
      .agg(
        count(col("arank")).as("n"),
        min(col("arank")).as("rmin"),
        max(col("arank")).as("rmax"),
        count(when(col("aqid").isNotNull && col("eqid").isNotNull, lit(1))).as("hits"),
        count(col("eqid")).as("e"))
      .select(
        coalesce(col("query_id"), lit(-1L)).as("query_id"),
        when(col("query_id").isNotNull, lit("candidates_ranked"))
          .otherwise(lit(recallMetric)).as("metric"),
        when(col("query_id").isNotNull,
          col("n") <= k && col("rmin") === 1L && col("rmax") === col("n"))
          .otherwise(col("hits").cast("double") / col("e") >= recallBound)
          .as("ok"))
      .orderBy("query_id", "metric")
  }

  /** Shared forest lift-vote scorer (the ml_auc/ml_confusion/ml_lift
    * pipeline factored once for the evaluation lanes added after them):
    * hash-bagged depth-2 forest, leaf votes positive when its training
    * rate exceeds the corpus base rate (exact cross-multiplied on the
    * one-row totals broadcast), per-row vote count v ∈ 0..3 with the 0/1
    * label. One corpus pass per tree LEVEL to train, broadcast hops to
    * score; mirrors mlLiftVotesCtes on the oracle side. */
  private def liftVotes(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("event_id"),
      expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
      expr("(ts_ns div 3600000000000) % 24").as("hour"),
      expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
    val bagged = ev
      .withColumn("tree", explode(array(lit(0L), lit(1L), lit(2L))))
      .where(pmod(Tf.hash60(concat(lit("bag-"), col("tree").cast("string"),
        lit("-"), col("event_id").cast("string"))), lit(3L)) =!= 0)
      .drop("event_id")
    val (splits, assigned) = graft.operators.DecisionTree.fitBagged(
      bagged, Seq("cents_b", "hour", "dow"), "label", depth = 2)
    val tot = ev.agg(count(lit(1)).as("n_tot"), sum("label").as("np_tot"))
    val classes = assigned.groupBy("tree", "node")
      .agg(count(lit(1)).as("cn"), sum("label").as("cp"))
      .crossJoin(broadcast(tot))
      .select(col("tree"), col("node"),
        (col("cp") * col("n_tot") > col("cn") * col("np_tot")).as("leaf_pred"))
    val scoreRows = ev.withColumn("tree",
      explode(array(lit(0L), lit(1L), lit(2L))))
    val routed = graft.operators.DecisionTree.applySplits(
      scoreRows, splits, Seq("cents_b", "hour", "dow"), depth = 2)
    routed.join(broadcast(classes), Seq("tree", "node"), "left")
      .withColumn("p",
        when(coalesce(col("leaf_pred"), lit(false)), 1L).otherwise(0L))
      .groupBy("event_id", "label").agg(sum("p").as("v"))
  }

  /** Shared AR-tier sufficient statistics (events_ar_fit /
    * events_ar_backtest): per event type, the day count, Σx, and the
    * lag-1..3 autocorrelations r_k = N_k/D — each ONE IEEE division of
    * exact cross-multiplied integer autocovariances on the d19 DECIMAL
    * promotion (the events_autocorr/pacf integer forms). */
  private def arStats(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .withColumn("day", expr("ts_ns div 86400000000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily
      .withColumn("x1", lead("x", 1).over(w))
      .withColumn("x2", lead("x", 2).over(w))
      .withColumn("x3", lead("x", 3).over(w))
    val totals = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    def d19(c: Column) = c.cast("decimal(19,0)")
    val pairs = lagged.selectExpr("event_type", "x",
        "stack(3, 1L, x1, 2L, x2, 3L, x3) as (lag, xk)")
      .where(col("xk").isNotNull)
      .groupBy("event_type", "lag")
      .agg(sum(col("x") * col("xk")).as("sxy"),
        sum("x").as("hx"), sum("xk").as("tx"), count(lit(1)).as("m"))
    val nk = pairs.join(totals, "event_type")
      .withColumn("num", d19(col("n")) * d19(col("n")) * d19(col("sxy")) -
        d19(col("n")) * d19(col("sx")) * (d19(col("hx")) + d19(col("tx"))) +
        d19(col("m")) * d19(col("sx")) * d19(col("sx")))
      .withColumn("den", d19(col("n")) * d19(col("n")) * d19(col("sxx")) -
        d19(col("n")) * d19(col("sx")) * d19(col("sx")))
    nk.groupBy("event_type")
      .agg(max("n").as("n_days"), max("sx").as("sum_x"),
        max(when(col("lag") === 1L, col("num"))).as("n1"),
        max(when(col("lag") === 2L, col("num"))).as("n2"),
        max(when(col("lag") === 3L, col("num"))).as("n3"),
        max("den").as("d"))
      .select(col("event_type"), col("n_days"), col("sum_x"),
        (col("n1").cast("double") / col("d").cast("double")).as("r1"),
        (col("n2").cast("double") / col("d").cast("double")).as("r2"),
        (col("n3").cast("double") / col("d").cast("double")).as("r3"))
  }

  /** The Durbin-Levinson AR(3) chain over [[arStats]]'s r1..r3 — a fixed
    * IEEE expression tree (see events_ar_fit); adds mu, a1, a2, a3. */
  private def arCoefs(s: SparkSession, dir: String): DataFrame =
    arStats(s, dir)
      .withColumn("mu",
        col("sum_x").cast("double") / col("n_days").cast("double"))
      .withColumn("v1", lit(1.0) - col("r1") * col("r1"))
      .withColumn("phi22",
        when(col("v1") === 0.0, lit(null).cast("double"))
          .otherwise((col("r2") - col("r1") * col("r1")) / col("v1")))
      .withColumn("phi21", col("r1") - col("phi22") * col("r1"))
      .withColumn("den3",
        lit(1.0) - col("phi21") * col("r1") - col("phi22") * col("r2"))
      .withColumn("phi33",
        when(col("den3") === 0.0, lit(null).cast("double"))
          .otherwise((col("r3") - col("phi21") * col("r2")
            - col("phi22") * col("r1")) / col("den3")))

  /** The 'scc-' hash digraph shared by the graph lanes: (node) over the
    * customer keys, and (src, dst) with two hashed out-edges per node not
    * ≡ 0 mod 7, self-loops dropped. A target is drawn from [0, n), so it
    * may be a phantom id outside the node set. */
  private def hashDigraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
    val stats = cust.agg(count(lit(1)).as("n"))
    val edges = cust.crossJoin(broadcast(stats))
      .where(col("node") % 7 =!= 0)
      .select(col("node").as("src"), explode(array(
        pmod(Tf.hash60(concat(lit("scc-a-"), col("node").cast("string"))), col("n")),
        pmod(Tf.hash60(concat(lit("scc-b-"), col("node").cast("string"))), col("n"))))
        .as("dst"))
      .where(col("src") =!= col("dst"))
    (cust, edges)
  }

  private def workDir(kind: String, sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"/tmp/graft/${kind}_$h"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- scan core (SURVEY §2 #1-2) ----

    "snapshot_scan" -> { (s, dir) =>
      // Single-scan chunk assignment (chunk id = pure arithmetic) — over a
      // columnar source the union-of-range-scans variant re-plans the scan
      // once per chunk for zero I/O benefit (the file's own scaling note);
      // `chunked` stays as the spec-covered mapping onto JDBC partitions.
      val li = Tables.lineitem(s, dir)
      val bounds = SnapshotScan.pkBounds(li, "l_orderkey")
      SnapshotScan.chunkedSingleScan(li, "l_orderkey", bounds, 8)
        .groupBy("chunk_id")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).cast("long").as("min_pk"),
          max(col("l_orderkey")).cast("long").as("max_pk"),
          sumd(dec2(col("l_quantity"))).as("sum_qty"))
        .orderBy("chunk_id")
    },

    "snapshot_scan_range" -> { (s, dir) =>
      // reader's OptionalStartingValues/OptionalEndingValues overrides
      // (lib/rdbms/scan/scan.go:44-55, primary_key.LoadValues): scan only a
      // caller-pinned PK window, still chunked + predicate-pushed.
      val li = Tables.lineitem(s, dir)
      val bounds = SnapshotScan.PkBounds(1000L, 8999L)
      SnapshotScan.chunked(li.where(col("l_orderkey").between(bounds.min, bounds.max)),
        "l_orderkey", bounds, 4)
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).cast("long").as("min_pk"),
          max(col("l_orderkey")).cast("long").as("max_pk"))
        .orderBy("chunk_id")
    },

    "snapshot_scan_composite" -> { (s, dir) =>
      // Composite-PK scan (primary_keys.go:14-97): lexicographic start/end
      // overrides on (l_orderkey, l_linenumber), then single-scan chunk
      // assignment against boundary TUPLES — boundaries deliberately split
      // mid-order (linenumber 4) to exercise real tuple comparison, the
      // thing a single-column scanner cannot express.
      val pk = Seq("l_orderkey", "l_linenumber")
      val windowed = SnapshotScan.compositeRange(Tables.lineitem(s, dir), pk,
        start = Some(Seq(500L, 3)), end = Some(Seq(5500L, 2)))
      val boundaries = Seq(Seq(1750L, 4), Seq(3000L, 4), Seq(4250L, 4))
      SnapshotScan.chunkedComposite(windowed, pk, boundaries)
        .withColumn("ek", col("l_orderkey") * 10 + col("l_linenumber"))
        .groupBy("chunk_id")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("ek")).cast("long").as("min_key"),
          max(col("ek")).cast("long").as("max_key"))
        .orderBy("chunk_id")
    },

    "snapshot_scan_string" -> { (s, dir) =>
      // Non-numeric PK chunking: rank-derived lexicographic boundaries over
      // a string key (the UUID/string-PK case a Long-only scanner can't
      // touch). Boundary discovery is a separate step from assignment, so
      // the sampled variant slots in at scale.
      val part = Tables.part(s, dir)
      val bs = SnapshotScan.rankBoundaries(part, "p_name", 4)
      SnapshotScan.chunkedComposite(part, Seq("p_name"), bs.map(Seq(_)))
        .groupBy("chunk_id")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("p_name")).as("min_key"),
          max(col("p_name")).as("max_key"))
        .orderBy("chunk_id")
    },

    "dynamo_unmarshal" -> { (s, dir) =>
      // DynamoDB export/stream AttributeValue unmarshalling
      // (sources/dynamodb/snapshot.go, lib/dynamo): round-trip rows through
      // the marshalled {"col":{"N"|"S": "..."}} JSON shape and parse back
      // to typed columns.
      val marshalled = concat(
        lit("""{"user_id":{"N":""""), col("user_id").cast("string"),
        lit(""""},"event_type":{"S":""""), col("event_type"),
        lit(""""},"value":{"N":""""), col("value").cast("string"), lit(""""}}"""))
      Tables.events(s, dir)
        .select(col("event_id"), marshalled.as("dyn_json"))
        .select(
          col("event_id"),
          col("dyn_json"),
          get_json_object(col("dyn_json"), "$.user_id.N").cast("long").as("user_id_parsed"),
          get_json_object(col("dyn_json"), "$.event_type.S").as("event_type_parsed"),
          get_json_object(col("dyn_json"), "$.value.N").cast("double").as("value_parsed"))
        .orderBy("event_id")
    },

    "dynamo_unmarshal_deep" -> { (s, dir) =>
      // Full AttributeValue surface (message.go:32-83): BOOL, SS, NS,
      // nested M, heterogeneous L — marshalled shape round-tripped and
      // unmarshalled with one typed from_json pass.
      import graft.functions.DynamoAttr
      val flag = when(col("event_id") % 2 === 0, lit("true")).otherwise(lit("false"))
      val raw = concat(
        lit("""{"pk":{"N":""""), col("event_id").cast("string"),
        lit(""""},"flag":{"BOOL":"""), flag,
        lit("""},"tags":{"SS":[""""), col("event_type"),
        lit("""","u"""), (col("user_id") % 5).cast("string"),
        lit(""""]},"scores":{"NS":[""""), col("value").cast("string"),
        lit("""",""""), col("user_id").cast("string"),
        lit(""""]},"meta":{"M":{"u":{"N":""""), col("user_id").cast("string"),
        lit(""""},"t":{"S":""""), col("event_type"),
        lit(""""}}},"items":{"L":[{"N":""""), col("user_id").cast("string"),
        lit(""""},{"S":""""), col("event_type"), lit(""""}]}}"""))
      Tables.events(s, dir)
        .select(col("event_id"), raw.as("dyn_json"))
        .withColumn("av", DynamoAttr.parseDeep(col("dyn_json")))
        .select(
          col("event_id"),
          col("dyn_json"),
          col("av").getField("pk").getField("N").cast("long").as("pk"),
          col("av").getField("flag").getField("BOOL").as("flag"),
          element_at(col("av").getField("tags").getField("SS"), 1).as("tag_0"),
          element_at(col("av").getField("tags").getField("SS"), 2).as("tag_1"),
          (element_at(col("av").getField("scores").getField("NS"), 1).cast("double") +
            element_at(col("av").getField("scores").getField("NS"), 2).cast("double"))
            .as("score_sum"),
          col("av").getField("meta").getField("M").getField("u").getField("N")
            .cast("long").as("meta_u"),
          col("av").getField("meta").getField("M").getField("t").getField("S").as("meta_t"),
          DynamoAttr.num(element_at(col("av").getField("items").getField("L"), 1))
            .as("item_0_n"),
          element_at(col("av").getField("items").getField("L"), 2).getField("S")
            .as("item_1_s"))
        .orderBy("event_id")
    },

    "dynamo_export" -> { (s, dir) =>
      // DynamoDB snapshot-via-S3-export envelope
      // (lib/s3lib/dynamodb_export.go:12-30): each exported row arrives as
      // {"Item": {attr: {TYPE: value}}} — the stream AttributeValue map
      // plus one wrapper object. Rebuild the wire shape from events with a
      // genuine binary `B` member (md5 bytes, base64 on the wire — the
      // reference decodes with base64.StdEncoding, dynamodb_export.go:
      // 55-66), then parse it back with ONE typed from_json pass and
      // decode the B lane to bytes. Map-only at any scale: no shuffle, no
      // UDF, the export file scan streams straight through codegen.
      import graft.functions.DynamoAttr
      val payloadB64 =
        base64(unhex(md5(concat(col("event_type"), col("event_id").cast("string")))))
      val raw = concat(
        lit("""{"Item":{"pk":{"N":""""), col("event_id").cast("string"),
        lit(""""},"etype":{"S":""""), col("event_type"),
        lit(""""},"payload":{"B":""""), payloadB64,
        lit(""""},"owner":{"M":{"u":{"N":""""), col("user_id").cast("string"),
        lit(""""}}}}}"""))
      val itm = DynamoAttr.parseExport(col("dyn_json")).getField("Item")
      val b = itm.getField("payload").getField("B")
      Tables.events(s, dir)
        .select(col("event_id"), raw.as("dyn_json"))
        .select(
          col("event_id"),
          col("dyn_json"),
          itm.getField("pk").getField("N").cast("long").as("pk"),
          itm.getField("etype").getField("S").as("etype"),
          hex(unbase64(b)).as("payload_hex"),
          octet_length(unbase64(b)).cast("long").as("payload_len"),
          itm.getField("owner").getField("M").getField("u").getField("N")
            .cast("long").as("owner_u"))
        .orderBy("event_id")
    },

    "scan_pushdown" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1996-02-01").cast("timestamp_ntz")
          && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- relational core (#3-11) ----

    "q1_pricing_summary" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd(dec2(col("l_quantity"))).as("sum_qty"),
          sumd(dec2(col("l_extendedprice"))).as("sum_base_price"),
          sumd(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))).as("sum_disc_price"),
          sumd(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))
            * (lit(1) + rate(col("l_tax")))).as("sum_charge"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "q3_shipping_priority" -> { (s, dir) =>
      val cut = lit("1996-07-01").cast("timestamp_ntz")
      Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < cut)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > cut)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sumd(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    "q5_local_supplier" -> { (s, dir) =>
      Tables.region(s, dir).where(col("r_name") === "ASIA")
        .join(Tables.nation(s, dir), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir).where(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(sumd(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    "q17_small_qty" -> { (s, dir) =>
      // TPC-H Q17-shape correlated scalar subquery ("rows below 20% of
      // their part's average order quantity"), DECORRELATED: the per-row
      // scalar subquery avg(l_quantity) over the row's partkey becomes ONE
      // pre-aggregated keyed frame joined back on l_partkey — the rewrite
      // every BI workload needs, because the naive form is a per-row
      // rescan (BroadcastNestedLoop at best). Two scale choices: (a) the
      // part filter is pushed BEFORE the per-key aggregate — filtering by
      // partkey keeps every lineitem row of a qualifying partkey, so the
      // per-key avg over the filtered frame is identical to the full-table
      // subquery, and the aggregate shrinks by the part-filter selectivity;
      // (b) the comparison is exact decimal arithmetic, qty*5*cnt < sum
      // (⇔ qty < 0.2·avg with cnt > 0), so no float divide enters the
      // hash-compared output. The oracle runs the ORIGINAL correlated
      // two-subquery form in DuckDB — decorrelation proven equivalent, not
      // assumed. 100 TB shape: one broadcast dim join + one self-keyed agg
      // + one keyed join, all on l_partkey; AQE coalesces the tail.
      val sel = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).where(col("p_size") <= 10)
          .select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("p_brand"),
          dec2(col("l_quantity")).as("qty"), dec2(col("l_extendedprice")).as("price"))
      val perKey = sel.groupBy("l_partkey")
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt_qty"))
      sel.join(perKey, Seq("l_partkey"))
        .where(col("qty") * lit(5) * col("cnt_qty") < col("sum_qty"))
        .groupBy("p_brand")
        .agg((sum(col("price")).cast("double") / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n_small"))
        .orderBy("p_brand")
    },

    "join_bloom_prefilter" -> { (s, dir) =>
      // Runtime-filter join pushdown made explicit — the pattern behind
      // Spark's own runtime filters / DPP, built from this repo's Bloom
      // expression: a selective dim predicate (segment + balance) reduces
      // to ONE serialized filter row, broadcast onto the fact scan, and
      // the fact side drops non-matching rows MAP-SIDE before the join
      // shuffle. At 100 TB this is the difference between shuffling the
      // whole fact table and shuffling the ~0.5% that can match. Bloom
      // has no false negatives, so the exact join after the prefilter
      // loses nothing — proven by hashing against the PLAIN join oracle;
      // false positives only cost prefilter width and are removed by the
      // exact join.
      import graft.expressions.Bloom
      val dim = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000.0)
        .select(col("c_custkey"))
      val bloomRow = dim.agg(
        Bloom.aggregate(col("c_custkey"), numBits = 1 << 17, numHashes = 5).as("bf"))
      Tables.orders(s, dir)
        .crossJoin(broadcast(bloomRow))
        .where(Bloom.mightContain(col("bf"), col("o_custkey")))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sumd(dec2(col("o_totalprice"))).as("total"))
        .orderBy("o_orderpriority")
    },

    "join_spatial_grid" -> { (s, dir) =>
      // Spatial proximity self-join — the 2-D sibling of join_range /
      // join_interval_overlap: all point pairs within Euclidean radius
      // r = 500, via grid bucketing. Cell side = r, each LEFT point
      // explodes to its 3×3 cell neighborhood (a pair within r differs by
      // ≤ 1 cell per axis, so the keyed cell join is COMPLETE, and each
      // qualifying pair is produced exactly once: the smaller id's explode
      // hits the larger's cell through one offset), exact integer dist²
      // verify in buckets — no sqrt, no floats in the output. The
      // coordinate space side scales as 2582·⌈√n⌉ so point DENSITY (and
      // the output-per-point rate) is constant across SFs — a fixed side
      // was rejected on paper: pair count would grow quadratically with
      // corpus size, measuring output explosion instead of join scaling.
      // One-row count broadcast = the mixture_rebalance scalar shape.
      // Machinery in operators/SpatialGrid.scala (shared with the kNN
      // variant).
      import graft.operators.SpatialGrid
      val pts = SpatialGrid.points(Tables.customer(s, dir), "c_custkey", 500L)
      SpatialGrid.pairsWithin(pts, 500L).orderBy("a_id", "b_id")
    },

    "join_spatial_polygon" -> { (s, dir) =>
      // Point-in-polygon containment join — the region-assignment member
      // of the spatial tier (radius pairs, bounded kNN, now polygon
      // containment): 24 convex quadrilaterals (hash-positioned diamonds
      // |dx|·wy + |dy|·wx ≤ wx·wy — algebraically the conjunction of
      // four half-plane tests with integer cross products, convex BY
      // CONSTRUCTION) against the density-normalized point cloud. The
      // 100 TB shape: polygons explode to their covered grid cells
      // (≤ ~121 cells each — a metadata frame), points carry their cell
      // key from the scan, and containment candidates come from the
      // (cx, cy) EQUI-join — the corpus never meets the polygon list
      // row-by-row (the broadcast-loop anti-shape). Exact integer
      // containment test; LEFT join back onto the polygon frame keeps
      // zero-hit regions in the census. Negative bbox cells clamp to 0,
      // where truncating and floor division agree — measured before
      // shipping, not assumed.
      import s.implicits._
      import graft.operators.SpatialGrid
      val cell = 2000L
      val pts = SpatialGrid.points(Tables.customer(s, dir), "c_custkey", cell)
      val n1 = Tables.customer(s, dir).agg(count(lit(1)).as("n"))
      val poly = (0L to 23L).toDF("pid")
        .crossJoin(broadcast(n1))
        .withColumn("side", expr("2582 * cast(ceil(sqrt(cast(n as double))) as long)"))
        .withColumn("cx0", pmod(Tf.hash60(concat(lit("poly-x-"), col("pid").cast("string"))), col("side")))
        .withColumn("cy0", pmod(Tf.hash60(concat(lit("poly-y-"), col("pid").cast("string"))), col("side")))
        .withColumn("wx", pmod(Tf.hash60(concat(lit("poly-wx-"), col("pid").cast("string"))), lit(4000L)) + lit(6000L))
        .withColumn("wy", pmod(Tf.hash60(concat(lit("poly-wy-"), col("pid").cast("string"))), lit(4000L)) + lit(6000L))
        .select("pid", "cx0", "cy0", "wx", "wy")
        .localCheckpoint()
      val cells = poly
        .withColumn("cx", explode(sequence(
          greatest(expr(s"(cx0 - wx) div $cell"), lit(0L)), expr(s"(cx0 + wx) div $cell"))))
        .withColumn("cy", explode(sequence(
          greatest(expr(s"(cy0 - wy) div $cell"), lit(0L)), expr(s"(cy0 + wy) div $cell"))))
      val hits = cells.join(pts, Seq("cx", "cy"))
        .groupBy("pid").agg(count(lit(1)).as("n_candidates"),
          sum(when(abs(col("x") - col("cx0")) * col("wy") +
            abs(col("y") - col("cy0")) * col("wx") <= col("wx") * col("wy"),
            1L).otherwise(0L)).as("n_inside"))
      poly.join(hits, Seq("pid"), "left")
        .select(col("pid"), col("wx"), col("wy"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_inside"), lit(0L)).as("n_inside"))
        .orderBy("pid")
    },

    "join_spatial_polygon_concave" -> { (s, dir) =>
      // NON-CONVEX point-in-polygon containment join — the general form
      // of join_spatial_polygon (whose diamonds are convex by
      // construction; real geofences are not): 24 hash-positioned
      // 8-vertex concave STARS, containment by ray-casting parity
      // (operators/SpatialPolygon.scala) in exact integer arithmetic —
      // cross-multiplied edge-intersection compares, the half-open span
      // rule making vertex-grazing rays count exactly once (pinned by
      // SpatialPolygonSpec's grazing cases). The 100 TB shape is the
      // convex lane's unchanged: polygons explode to their covered bbox
      // grid cells (≤ ~121 per polygon — for an 8-edge star the bbox
      // cover is ≤ ~2× the edge-touched cells, not worth an interior
      // winding fill), points carry their cell key from the scan,
      // candidates come from the (cx, cy) EQUI-join, and the 8-edge
      // parity fold runs inside whole-stage codegen per candidate — the
      // corpus never meets the polygon list row-by-row. The oracle is a
      // DIFFERENT algorithm: brute-force every-point×every-edge ray cast
      // with no grid, so the hash match proves the candidate cover is
      // complete, not just that two grids agree.
      import s.implicits._
      import graft.operators.{SpatialGrid, SpatialPolygon}
      val cell = 2000L
      val pts = SpatialGrid.points(Tables.customer(s, dir), "c_custkey", cell)
      val n1 = Tables.customer(s, dir).agg(count(lit(1)).as("n"))
      val poly = (0L to 23L).toDF("pid")
        .crossJoin(broadcast(n1))
        .withColumn("side", expr("2582 * cast(ceil(sqrt(cast(n as double))) as long)"))
        .withColumn("cx0", pmod(Tf.hash60(concat(lit("cpoly-x-"), col("pid").cast("string"))), col("side")))
        .withColumn("cy0", pmod(Tf.hash60(concat(lit("cpoly-y-"), col("pid").cast("string"))), col("side")))
        .withColumn("wx", pmod(Tf.hash60(concat(lit("cpoly-wx-"), col("pid").cast("string"))), lit(4000L)) + lit(6000L))
        .withColumn("wy", pmod(Tf.hash60(concat(lit("cpoly-wy-"), col("pid").cast("string"))), lit(4000L)) + lit(6000L))
        .withColumn("verts", SpatialPolygon.starVerts("cx0", "cy0", "wx", "wy"))
        .select("pid", "cx0", "cy0", "wx", "wy", "verts")
        .localCheckpoint()
      val cells = poly
        .withColumn("cx", explode(sequence(
          greatest(expr(s"(cx0 - wx) div $cell"), lit(0L)), expr(s"(cx0 + wx) div $cell"))))
        .withColumn("cy", explode(sequence(
          greatest(expr(s"(cy0 - wy) div $cell"), lit(0L)), expr(s"(cy0 + wy) div $cell"))))
      val hits = cells.join(pts, Seq("cx", "cy"))
        .withColumn("ncross", SpatialPolygon.rayCrossings("verts", "x", "y"))
        .groupBy("pid").agg(count(lit(1)).as("n_candidates"),
          sum(when(col("ncross") % 2 === 1, 1L).otherwise(0L)).as("n_inside"))
      poly.join(hits, Seq("pid"), "left")
        .select(col("pid"), col("wx"), col("wy"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_inside"), lit(0L)).as("n_inside"))
        .orderBy("pid")
    },

    "join_spatial_knn" -> { (s, dir) =>
      // Bounded kNN join — for each point, its k = 3 nearest neighbors
      // WITHIN radius r (the practical exact form: unbounded kNN needs
      // data-dependent ring expansion and cannot be verified by a static
      // grid; bounding by r makes the grid candidate set provably
      // complete, so the per-point top-k over it is exact). Symmetrize
      // the a<b pair set, then one partitioned window takes the k
      // nearest with deterministic (dist², neighbor id) tie-break —
      // WindowGroupLimit prunes before the full sort at scale.
      import graft.operators.SpatialGrid
      val pts = SpatialGrid.points(Tables.customer(s, dir), "c_custkey", 500L)
      val pairs = SpatialGrid.pairsWithin(pts, 500L)
      val sym = pairs
        .select(col("a_id").as("id"), col("b_id").as("nb"), col("dist2"))
        .unionByName(pairs
          .select(col("b_id").as("id"), col("a_id").as("nb"), col("dist2")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("dist2"), col("nb"))
      sym.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select("id", "rk", "nb", "dist2")
        .orderBy("id", "rk")
    },

    "q8_market_share" -> { (s, dir) =>
      // TPC-H Q8 shape — conditional-aggregation share-of-market: one
      // supplier nation's fraction of a region's yearly revenue, the
      // classic CASE-inside-SUM share pattern. Both the numerator and
      // denominator are EXACT decimal sums over one joined frame (no
      // second pass, no self-join); only the final share divides, as
      // IEEE double on both engines. Dims broadcast; the fact-side
      // pipeline shuffles once per join key, grouped by year at the end.
      val nat = Tables.nation(s, dir)
      val joined = Tables.region(s, dir).where(col("r_name") === "ASIA")
        .join(nat.select(col("n_nationkey").as("cn_key"), col("n_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, dir), col("c_nationkey") === col("cn_key"))
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      joined
        .withColumn("vol", dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", col("vol"))
            .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
          sum(col("vol")).cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
        .orderBy("o_year")
    },

    "q22_inactive_rich" -> { (s, dir) =>
      // TPC-H Q22 shape — the OTHER classic decorrelation class beside
      // q17's per-group scalar subquery: an UNCORRELATED scalar subquery
      // (global positive-balance average) plus a correlated NOT EXISTS
      // (customers with no orders). Decorrelated: the scalar collapses to
      // a one-row aggregate broadcast-cross-joined onto the scan (the one
      // legitimate crossJoin shape — PlanHygieneSpec bans the rest), and
      // NOT EXISTS becomes a broadcast-able LEFT ANTI join on the key.
      // Exactness: above-average is tested as bal·n_pos > sum_pos
      // (cross-multiplied decimals — no decimal-avg rounding divergence
      // between engines); the oracle runs the original two-subquery SQL.
      // "Inactive" = no order since 2000-01-01 (all-time coverage is
      // dense in this data — an unrestricted NOT EXISTS is vacuous, and
      // the anti-join's date filter is pushed into the orders scan).
      val cust = Tables.customer(s, dir)
      val stats = cust.where(col("c_acctbal") > 0.0)
        .agg(count(lit(1)).as("n_pos"),
          sum(dec2(col("c_acctbal"))).as("sum_pos"))
      cust.crossJoin(broadcast(stats))
        .where(dec2(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
        .join(Tables.orders(s, dir)
          .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp_ntz"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sumd(dec2(col("c_acctbal"))).as("totacctbal"))
        .orderBy("c_nationkey")
    },

    "q21_waiting_supplier" -> { (s, dir) =>
      // TPC-H Q21 shape — the remaining classic decorrelation class after
      // q17 (correlated scalar) and q22 (uncorrelated scalar + NOT EXISTS):
      // EXISTS and NOT EXISTS against the SAME fact table with per-row
      // correlation ("a peer line from another supplier exists, but no
      // PROBLEM line from another supplier exists"; problem = returnflag
      // 'R' — this data has no receipt/commit dates). Naively that is two
      // per-row rescans of lineitem; decorrelated, both subqueries collapse
      // into ONE per-order aggregate: n_supp = distinct suppliers in the
      // order (EXISTS peer ⇔ n_supp > 1) and n_prob_supp = distinct
      // suppliers with a problem line (l1 itself is a problem line, so
      // NOT EXISTS other problem supplier ⇔ n_prob_supp == 1). The
      // distinct counts are built as a two-level keyed agg — per
      // (order, supplier) first, then per order — instead of
      // countDistinct, so no expand doubles the fact scan. The oracle runs
      // the ORIGINAL doubly-correlated SQL in DuckDB, proving the rewrite.
      // 100 TB shape: every join/agg is keyed on l_orderkey (AQE
      // co-partitions them); supplier⋈nation is a broadcast dim.
      val li = Tables.lineitem(s, dir)
      val prob = col("l_returnflag") === "R"
      val perOrder = li
        .groupBy(col("l_orderkey").as("pk_orderkey"), col("l_suppkey").as("pk_suppkey"))
        .agg(max(when(prob, 1L).otherwise(0L)).as("has_prob"))
        .groupBy("pk_orderkey")
        .agg(count(lit(1)).as("n_supp"), sum(col("has_prob")).as("n_prob_supp"))
      li.where(prob)
        .join(Tables.orders(s, dir).where(col("o_orderstatus") === "F")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .join(perOrder, col("l_orderkey") === col("pk_orderkey"))
        .where(col("n_supp") > 1 && col("n_prob_supp") === 1)
        .join(broadcast(Tables.supplier(s, dir)
          .join(Tables.nation(s, dir).where(col("n_name") === "NATION_4"),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    "q4_order_priority" -> { (s, dir) =>
      // TPC-H Q4 shape — correlated EXISTS whose subquery predicate
      // compares a SUBQUERY column against an OUTER column (a line of the
      // order shipped after the order date; classic Q4 uses
      // commitdate < receiptdate, absent in this schema). Decorrelated to
      // ONE LEFT SEMI join carrying both the key equality and the
      // non-equi comparison in the join condition — the fact table is
      // scanned once and rows drop at the join, no per-row rescan /
      // nested loop. The three-month window is pushed into the orders
      // scan (partition-prunable at 100 TB). The oracle runs the ORIGINAL
      // correlated EXISTS, so the hash match proves the rewrite.
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-07-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp_ntz"))
      ord.join(Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    "q18_large_orders" -> { (s, dir) =>
      // TPC-H Q18 shape — IN-subquery with HAVING over the SAME fact
      // table the outer query aggregates: the naive plan scans lineitem
      // twice (once to build the IN set, once for the outer sum).
      // Decorrelated: ONE per-order quantity aggregate serves as both
      // the qualifying filter (sum_qty > 300, ~0.5% of orders — scale-
      // stable selectivity) and the output column — a single fact scan,
      // then keyed joins whose left side is already filtered to the
      // qualifying sliver, so the orders/customer joins move almost
      // nothing. Top-100 by (totalprice desc, orderkey) plans as
      // TakeOrderedAndProject — no global sort materialization. The
      // oracle runs the ORIGINAL IN + HAVING + double-scan form.
      val perOrder = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(dec2(col("l_quantity"))).as("qty_dec"))
        .where(col("qty_dec") > lit(300).cast("decimal(12,2)"))
        .select(col("l_orderkey"), col("qty_dec").cast("double").as("sum_qty"))
      perOrder
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    "q6_forecast_revenue" -> { (s, dir) =>
      // TPC-H Q6 shape — the canonical filter-pushdown probe: a
      // single-table scan whose three range predicates must ALL reach the
      // parquet reader (PushedFilters carries shipdate bounds and the
      // quantity cap; the plan is scan → partial agg → single-row final —
      // no shuffle wider than one row). Revenue = Σ extendedprice·discount
      // as an EXACT decimal sum; the discount band compares in
      // DECIMAL(4,2) on both engines (double literals 0.05/0.07 would be
      // engine-promotion-dependent).
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          rate(col("l_discount")).between(lit(0.05).cast("decimal(4,2)"),
            lit(0.07).cast("decimal(4,2)")) &&
          col("l_quantity") < 24)
        .agg(sumd(dec2(col("l_extendedprice")) * rate(col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    "q10_returned_items" -> { (s, dir) =>
      // TPC-H Q10 shape — revenue lost to returns, top-20 customers: one
      // quarter of orders inner-joined to returned lines
      // (l_returnflag = 'R'), revenue aggregated per customer with the
      // customer/nation attributes riding the GROUP BY (they are
      // functionally dependent on c_custkey — grouping by them costs
      // nothing and saves a post-agg join back). Nation broadcasts;
      // orders carries its date filter below the join; top-20 plans as
      // TakeOrderedAndProject (revenue desc, custkey ties).
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
          .where(col("o_orderdate") >= lit("1996-10-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).where(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sumd(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    "q12_late_lines" -> { (s, dir) =>
      // TPC-H Q12 shape adapted to this schema (no l_shipmode /
      // commitdate / receiptdate): the conditional two-way priority
      // histogram over a join — lines that shipped LATE (> 90 days after
      // the order date, timestamp arithmetic on both engines) in one
      // shipping year, bucketed by linestatus, counting critical
      // (1-URGENT / 2-HIGH) vs other order priorities as CASE-inside-SUM.
      // One fact-fact join on orderkey, one keyed agg; the date-window
      // filter prunes lineitem at the scan.
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir)
          .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz")),
          col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    "q14_promo_revenue" -> { (s, dir) =>
      // TPC-H Q14 shape — promo share of revenue: CASE-inside-SUM against
      // a dimension attribute (p_type = 'PROMO' here — the schema's type
      // column is single-token), both numerator and denominator EXACT
      // decimal sums over ONE joined frame, the 100·ratio divided once at
      // the end as IEEE double. Part broadcasts (dimension ≪ fact);
      // lineitem's month window prunes at the scan.
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1997-03-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz"))
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .withColumn("vol", dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", col("vol"))
            .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
          sum(col("vol")).cast("double")).as("promo_revenue"),
          count(lit(1)).as("n_lines"))
    },

    "q2_min_cost_supplier" -> { (s, dir) =>
      // TPC-H Q2 shape adapted to this schema (no partsupp — lineitem IS
      // the part×supplier relationship, unit cost = the cheapest line
      // shipped): argmin-PER-KEY decorrelation, the keyed sibling of
      // q15's global argmax. The correlated form re-runs the min-cost
      // subquery per part; here ONE (part, supplier) agg feeds BOTH the
      // per-part min and the argmin rows, matched back by exact-decimal
      // equality (IEEE-double equality would be flaky; ties — two
      // suppliers at the same cost — must all surface, per spec). Region
      // and part filters push below everything; dims broadcast; the only
      // corpus shuffle is the (part, supplier) agg.
      val eurSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val parts = Tables.part(s, dir)
        .where(col("p_size") === 15 && col("p_type") === "STANDARD")
        .select("p_partkey", "p_name")
      val cost = Tables.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(min(dec2(col("l_extendedprice"))).as("cost"))
      val minCost = cost.groupBy(col("p_partkey").as("mc_part"))
        .agg(min(col("cost")).as("min_cost"))
      cost.join(minCost, col("p_partkey") === col("mc_part") &&
          col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("cost").cast("double").as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },

    "q9_product_profit" -> { (s, dir) =>
      // TPC-H Q9 shape adapted (no ps_supplycost — cost = retailprice ×
      // quantity): profit by supplier nation and order year for parts
      // matching a name substring, the classic LIKE-filtered 5-table
      // join + two-attribute rollup. The name filter prunes part BEFORE
      // its broadcast; profit stays an EXACT decimal difference
      // (decimal×decimal products, no float until the final cast); the
      // fact pipeline shuffles once per join key then once for the
      // (nation, year) agg.
      val redParts = Tables.part(s, dir).where(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      Tables.lineitem(s, dir)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .withColumn("amount",
          dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))) -
            dec2(col("p_retailprice")) * col("l_quantity").cast("decimal(4,0)"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sumd(col("amount")).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    "q11_important_parts" -> { (s, dir) =>
      // TPC-H Q11 shape adapted (no partsupp — inventory value = shipped
      // extendedprice×quantity from one nation's suppliers): the
      // group-HAVING-against-a-global-scalar class. The global total
      // rides a ONE-ROW broadcast joined onto the per-part aggregate;
      // the threshold compare is EXACT — value·1000 > total cross-
      // multiplied in decimal, never a float fraction (a 0.001·total
      // double would make borderline parts engine-dependent). One corpus
      // agg feeds BOTH sides (no second scan for the total: it re-sums
      // the per-part frame, which is metadata-scale).
      val natLines = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir).where(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
        .withColumn("val",
          dec2(col("l_extendedprice")) * col("l_quantity").cast("decimal(4,0)"))
      val perPart = natLines.groupBy("l_partkey")
        .agg(sum(col("val")).as("value_dec"))
      val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
      perPart.crossJoin(broadcast(total))
        .where(col("value_dec") * lit(1000) > col("total_dec"))
        .select(col("l_partkey").as("p_partkey"),
          col("value_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    },

    "q16_parts_supplier_relationship" -> { (s, dir) =>
      // TPC-H Q16 shape adapted (lineitem is the part-supplier
      // relationship; the complaints exclusion is the negative-balance
      // suppliers): distinct-supplier census per (brand, type, size)
      // bucket with a NOT-IN exclusion — the anti-join + COUNT(DISTINCT)
      // class. The exclusion list is tiny (broadcast anti-join at the
      // scan edge, before the distinct machinery); the distinct agg is
      // the only corpus shuffle. Part-side predicates (<> and IN) prune
      // the broadcast dim first.
      val excluded = Tables.supplier(s, dir).where(col("s_acctbal") < 0)
        .select("s_suppkey")
      val parts = Tables.part(s, dir)
        .where(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      Tables.lineitem(s, dir)
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },

    "q19_discounted_revenue" -> { (s, dir) =>
      // TPC-H Q19 shape — disjunction of conjunctive bundles across the
      // join: the classic OR-pushdown test. The part-only half of each
      // bundle (brand, size band) pushes into the dimension BEFORE its
      // broadcast — the scan reads 3 brands' slivers, not all parts —
      // while the cross-table (brand, quantity) residual stays as ONE
      // disjunctive post-join filter. A naive plan joins ALL parts then
      // filters; this plan's broadcast side is ~1% of the dimension.
      val pCond1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
      val pCond2 = col("p_brand") === "Brand#14" && col("p_size").between(1, 10)
      val pCond3 = col("p_brand") === "Brand#21" && col("p_size").between(1, 15)
      val parts = Tables.part(s, dir).where(pCond1 || pCond2 || pCond3)
        .select("p_partkey", "p_brand")
      Tables.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .where((col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#14" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#21" && col("l_quantity").between(20, 30)))
        .agg(sumd(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    "q20_promotion_suppliers" -> { (s, dir) =>
      // TPC-H Q20 shape adapted (no partsupp availqty — the stock
      // threshold becomes a shipped-share threshold): suppliers who moved
      // MORE than half of a part family's all-time volume inside one
      // year. The original nests IN(IN(correlated-agg)); decorrelated to
      // one (supplier, part) agg computing BOTH the year slice and the
      // all-time sum as CASE-inside-SUM over a single pass, the half
      // threshold cross-multiplied in BIGINT (2·q_year > q_all — exact,
      // no 0.5 float), then a distinct-supplier collapse semi-joined to
      // the region's suppliers. One corpus shuffle (the pair agg);
      // everything downstream is metadata-scale.
      val smallParts = Tables.part(s, dir).where(col("p_name").like("small%"))
        .select("p_partkey")
      val eurSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
      val qualifying = Tables.lineitem(s, dir)
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(when(year(col("l_shipdate")) === 1997,
            col("l_quantity").cast("long")).otherwise(0L)).as("q_year"),
          sum(col("l_quantity").cast("long")).as("q_all"))
        .where(lit(2L) * col("q_year") > col("q_all"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_qualifying"))
      eurSupp.join(qualifying, col("s_suppkey") === col("l_suppkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_qualifying")
        .orderBy("s_suppkey")
    },

    "q13_order_distribution" -> { (s, dir) =>
      // TPC-H Q13 shape — distribution of orders-per-customer INCLUDING
      // zero-order customers: the class that needs a LEFT OUTER join
      // before aggregation (an inner join silently drops the zero bucket,
      // the most common single mistake in this query family). Two-level
      // aggregate: per-customer count (counts only matched rows — COUNT
      // of the nullable join column, not COUNT(*)), then the histogram.
      // Both aggs are keyed shuffles whose map-side partials collapse;
      // the orders filter is pushed below the join so the outer side
      // carries only the relevant sliver.
      val ord = Tables.orders(s, dir)
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey")
      Tables.customer(s, dir).select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_custkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    "q15_top_supplier" -> { (s, dir) =>
      // TPC-H Q15 shape — argmax over an aggregate (the top-revenue
      // supplier(s), ties included): the correlated form computes the
      // revenue view twice (once per supplier, once inside the scalar MAX
      // subquery). Decorrelated: ONE revenue aggregate reused for both
      // sides, the MAX as a one-row frame joined back by EXACT DECIMAL
      // equality (order-independent sums, so the equality is
      // deterministic — the same shape in IEEE doubles would be
      // summation-order-flaky). The quarter filter is pushed into the
      // lineitem scan; the supplier join runs on the argmax sliver only.
      val rev = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .groupBy("l_suppkey")
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .as("rev_dec"))
      val mx = rev.agg(max("rev_dec").as("mx"))
      rev.join(broadcast(mx), col("rev_dec") === col("mx"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },

    "q7_volume_shipping" -> { (s, dir) =>
      // TPC-H Q7 shape — bilateral trade volume between two nations with a
      // DISJUNCTIVE nation-pair predicate. Naively the OR forces a
      // post-join filter over the full 6-table join; instead both nation
      // dims are pre-filtered to the two relevant nations and broadcast,
      // so the supplier/customer joins drop non-participating rows
      // immediately and only the cheap pair check (tiny dim columns)
      // remains disjunctive. Exact decimal volume, grouped by the pair and
      // ship year.
      val nations = Seq("NATION_1", "NATION_2")
      val n1 = broadcast(Tables.nation(s, dir).where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, dir).where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("sk"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(n2, col("c_nationkey") === col("ck"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast("double").as("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    "join_broadcast" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), sumd(dec2(col("c_acctbal"))).as("acct_total"))
        .orderBy("r_name", "n_name")
    },

    "join_anti_semi" -> { (s, dir) =>
      val purchases = Tables.events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"))
      Tables.customer(s, dir)
        .join(purchases, col("c_custkey") === col("user_id"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    "join_bucketed" -> { (s, dir) =>
      // fact-fact join with the shuffle paid once at write time: both
      // sides bucketed+sorted on the join key -> exchange-free SMJ, and
      // the follow-on groupBy on the same key reuses the bucketing too
      // (plan asserted in BucketedJoinSpec)
      import graft.operators.BucketedJoin
      val work = workDir("bkt", dir)
      val h = work.substring(work.length - 6)
      BucketedJoin.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        s"graft_bko_$h", "o_orderkey", 8, Some(s"$work/orders"))
      BucketedJoin.writeBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity"),
        s"graft_bkl_$h", "l_orderkey", 8, Some(s"$work/lineitem"))
      BucketedJoin.colocatedJoin(s, s"graft_bko_$h", s"graft_bkl_$h",
        "o_orderkey", "l_orderkey")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"), sumd(dec2(col("l_quantity"))).as("sum_qty"))
        .orderBy("o_orderkey")
    },

    "join_skew_salted" -> { (s, dir) =>
      // explicit salt fallback for the one-hot-key case AQE can't split:
      // content-derived salt scatters the big side, the small side is
      // replicated saltFactor ways; result provably equals the plain join
      // (this oracle) — SkewJoinSpec pins retry-safety of the salt
      import graft.operators.SkewJoin
      val big = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val small = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      SkewJoin.saltedInnerJoin(big, small, "suppkey", saltFactor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sumd(dec2(col("l_quantity"))).as("sum_qty"))
        .orderBy("s_nationkey")
    },

    "join_hybrid_skew" -> { (s, dir) =>
      // Hot-key HYBRID join (the broadcast-routing sibling of the salted
      // join): a planted hot key (1-in-3 lineitems remapped to suppkey 1 —
      // the oracle replays the plant) is detected by an exact relative
      // census (cnt·|keys| ≥ 10·total — integer cross-multiply,
      // scale-invariant) and its rows join map-side against the dim's
      // broadcast hot slice; cold rows take the normal keyed shuffle.
      // Result provably equals the plain join — which IS the oracle —
      // and n_hot_keys=1 on every row gate-checks that the hot lane
      // actually fired (a threshold drift to 0 hot keys would flip it).
      import graft.operators.SkewJoin
      val big = Tables.lineitem(s, dir)
        .select(when(col("l_orderkey") % 3 === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("suppkey"),
          dec2(col("l_quantity")).as("qty"))
      val small = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      val hj = SkewJoin.hybridInnerJoin(big, small, "suppkey", hotMultiple = 10L)
      val nHot = hj.hotKeys.agg(count(lit(1)).as("n_hot_keys"))
      hj.result.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), sumd(col("qty")).as("sum_qty"))
        .crossJoin(broadcast(nHot))
        .orderBy("s_nationkey")
    },

    "join_asof" -> { (s, dir) =>
      // point-in-time enrichment: each click gets the user's most recent
      // prior-or-simultaneous purchase; union+keyed-window, no join node
      // (plan-asserted in PlanHygieneSpec), one shuffle at any scale
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("ts_us"),
          col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id").as("p_event_id"),
          dec2(col("value")).as("p_value"))
      graft.operators.AsOfJoin.lastMatch(clicks, purchases,
        keyCols = Seq("user_id"), ordCol = "ts_us", tieCol = "p_event_id",
        carry = Seq("p_event_id", "p_value"))
        // exactness convention: never emit bare DECIMAL output columns —
        // the value is exact to 2 places, so the DOUBLE is bit-identical
        // on both sides of the gate
        .withColumn("p_value", col("p_value").cast("double"))
        .orderBy("event_id")
    },

    "join_asof_nearest" -> { (s, dir) =>
      // nearest-match as-of join (merge_asof direction='nearest'): each
      // click gets the user's CLOSEST purchase in either time direction,
      // ties to the at-or-before side. Same join-free union shape as
      // join_asof — ONE keyed shuffle+sort carrying TWO window functions
      // (backward ignore-nulls last + forward ignore-nulls first) in one
      // Window node; the distance compare is map-side arithmetic on the
      // carried ord values. No join operator, no candidate blowup.
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("ts_us"),
          col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id").as("p_event_id"),
          dec2(col("value")).as("p_value"))
      graft.operators.AsOfJoin.nearestMatch(clicks, purchases,
        keyCols = Seq("user_id"), ordCol = "ts_us", tieCol = "p_event_id",
        carry = Seq("p_event_id", "p_value"))
        .withColumn("p_value", col("p_value").cast("double"))
        .orderBy("event_id")
    },

    "agg_distinct" -> { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_cust"),
          countDistinct(col("c_nationkey")).as("n_nations"),
          sumd(dec2(col("c_acctbal"))).as("acct_total"))
        .orderBy("c_mktsegment")
    },

    "agg_stats" -> { (s, dir) =>
      // Exact interpolated percentiles WITHOUT per-group value buffers:
      // Spark's percentile() materializes every value of a group in one
      // TypedImperativeAggregate buffer — a hot group at 100 TB is a
      // straight OOM. QuantileHist.exactInterpolated reproduces its
      // interpolation bit for bit via distributed histogram selection
      // (r8's QuantileHistSpec pins the A/B), so results are unchanged
      // while the plan carries only bucket counts plus the two
      // boundary-rank slices. count/min/max remain one keyed agg.
      import graft.operators.QuantileHist
      // materialized once (r16): the two interpolation passes and the
      // count/min/max agg together read lineitem 7× (histogram build +
      // rank-slice selection per value column + the keyed agg); one
      // 3-column materialization serves every pass from columnar blocks
      // (guide §5 persist-what-you-reuse — the ml-family discipline)
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .localCheckpoint(true)
      val keys = Seq("l_returnflag")
      val medQty = QuantileHist
        .exactInterpolated(li, keys, "l_quantity", 1.0, Seq("0.5"))
        .select(col("l_returnflag"), col("p").as("med_qty"))
      val pricePcts = QuantileHist
        .exactInterpolated(li, keys, "l_extendedprice", 512.0, Seq("0.25", "0.75"))
        .groupBy("l_returnflag")
        .agg(max(when(col("q") === 0.25, col("p"))).as("p25_price"),
          max(when(col("q") === 0.75, col("p"))).as("p75_price"))
      li.groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .join(medQty, keys).join(pricePcts, keys)
        .select(col("l_returnflag"), col("n"), col("med_qty"),
          col("p25_price"), col("p75_price"), col("min_price"), col("max_price"))
        .orderBy("l_returnflag")
    },

    "sketch_distinct" -> { (s, dir) =>
      // HLL distinct-count sketch (HllDistinct aggregate): a FIXED 4 KB
      // register file per group with map-side combine — at 100 TB the
      // shuffle carries one sketch per (group x task) where exact
      // count-distinct reshuffles every (group, value) pair. Self-verifying
      // like the ANN tiers: per-group exact distinct (oracle-computable)
      // plus the claim that the deterministic estimate lands within 5%
      // (p=12 -> ~1.6% standard error; xxhash64 input makes the estimate
      // bit-reproducible and partitioning-invariant).
      import graft.expressions.Hll
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_exact"),
          Hll.approxCountDistinct(col("user_id"), 12).as("est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("est").cast("double") / col("n_exact").cast("double") - 1.0) <= 0.05)
            .as("ok"))
        .orderBy("event_type")
    },

    "sketch_ams_f2" -> { (s, dir) =>
      // AMS/tug-of-war second-moment sketch (Alon, Matias & Szegedy 1996)
      // — the self-join-size estimator beside the CMS inner-product lane:
      // counter_j = Σ_rows sign_j(user), sign_j = ±1 from bit j of the
      // row's user hash (ONE md5 per row, 9 signs extracted by shifts),
      // E[counter²] = F2 = Σ_u cnt_u². The sketch is LINEAR, so daily
      // counter vectors sum to the union's counters BIT-IDENTICALLY —
      // the stored-sketch lifecycle claim (ok_merge_lossless) is exact
      // integer equality, not an md5-of-bytes compare. Estimates are
      // deterministic integer squares of replayable counters, so the
      // median-of-9 estimate ships as a COMPARED VALUE (the CMS
      // convention — the oracle recomputes the same signs from md5),
      // alongside exact F2 for the observed-accuracy read. Corpus cost:
      // one narrow map (hash + shifts) + two keyed aggs (daily build,
      // per-type exact F2); the merge re-aggregates the 5×days metadata
      // frame.
      val ev = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .withColumn("h", Tf.hash60(concat(lit("ams-"), col("user_id").cast("string"))))
      val signed = (0 until 9).foldLeft(ev) { (d, j) =>
        d.withColumn(s"s$j",
          lit(1L) - lit(2L) * pmod(expr(s"h div ${1L << j}"), lit(2L)))
      }
      val dailyCols = (0 until 9).map(j => sum(col(s"s$j")).as(s"c$j"))
      val daily = signed.groupBy("event_type", "day")
        .agg(dailyCols.head, dailyCols.tail: _*)
      val mergedCols = (0 until 9).map(j => sum(col(s"c$j")).as(s"m$j"))
      val merged = daily.groupBy("event_type")
        .agg(mergedCols.head, mergedCols.tail: _*)
      val directCols = (0 until 9).map(j => sum(col(s"s$j")).as(s"d$j"))
      val direct = signed.groupBy("event_type")
        .agg(directCols.head, directCols.tail: _*)
      val exact = ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
        .groupBy("event_type").agg(
          sum(col("cnt") * col("cnt")).as("f2_exact"), sum("cnt").as("n_rows"))
      merged.join(direct, "event_type").join(exact, "event_type")
        .withColumn("ok_merge_lossless",
          (0 until 9).map(j => col(s"m$j") === col(s"d$j")).reduce(_ && _))
        .withColumn("est_median", expr("element_at(array_sort(array(" +
          (0 until 9).map(j => s"m$j * m$j").mkString(",") + ")), 5)"))
        .select(col("event_type"), col("n_rows"), col("f2_exact"),
          col("est_median"), col("ok_merge_lossless"))
        .orderBy("event_type")
    },

    "sketch_kmv" -> { (s, dir) =>
      // KMV (k-minimum-values / bottom-k) distinct sketch with set
      // INTERSECTION estimation — the question the HLL tier cannot answer
      // (HLL unions losslessly but has no intersection operator; KMV's
      // bottom-k IS a uniform sample of the distinct universe, so the
      // merged sketch estimates Jaccard and therefore intersections —
      // Beyer et al. 2007). Universe: distinct (user, day) activity pairs
      // per event type (~1600 each at sf0.01, K=64 « that, so this is the
      // real estimation regime, not the exact-small-set degenerate case).
      // Shape at 100 TB: the sketch is the SAME bounded TopK
      // TypedImperativeAggregate the ANN sink uses (constant score, id =
      // 63-bit hash → k smallest DISTINCT hashes, dedup inside the
      // buffer), so every map task emits ≤K longs per group and the
      // shuffle carries sketches, not rows; pair math runs on the 5-row
      // sketch frame via KEYED equi-joins against the exact pair frame.
      // The exact lanes exist for the gate: est values are Spark-hash-
      // dependent, so the OUTPUT carries exact counts (oracle-replayable)
      // plus in-query claim booleans — the sketch_distinct convention.
      import graft.expressions.{Sketch, TopKByScore}
      val K = 64
      val dayNs = 86400000000000L
      val twoTo63 = 9.223372036854775808e18
      val base = Tables.events(s, dir).select(col("event_type"), col("user_id"),
        expr(s"ts_ns div $dayNs").as("day"))
      val kmvAgg = Sketch.column(TopKByScore(
        Sketch.expr(lit(0.0)),
        Sketch.expr(xxhash64(col("user_id"), col("day")).bitwiseAND(lit(Long.MaxValue))),
        K).toAggregateExpression())
      val sk = base.groupBy("event_type")
        .agg(kmvAgg.as("kmv_raw"))
        .select(col("event_type"),
          expr("transform(kmv_raw, x -> x.nid)").as("arr"))
      def est(arr: Column): Column =
        when(size(arr) < K, size(arr).cast("double"))
          .otherwise(lit((K - 1).toDouble) * lit(twoTo63) /
            element_at(arr, K).cast("double"))
      val dedup = base.distinct()
      val perType = dedup.groupBy("event_type").agg(count(lit(1)).as("nd"))
      val pairsExact = dedup.as("x")
        .join(dedup.as("y"), Seq("user_id", "day"))
        .where(col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_inter"))
      val merged = expr(s"slice(array_sort(array_distinct(concat(arr_a, arr_b))), 1, $K)")
      val withSk = pairsExact
        .join(perType.select(col("event_type").as("type_a"), col("nd").as("n_a")), Seq("type_a"))
        .join(perType.select(col("event_type").as("type_b"), col("nd").as("n_b")), Seq("type_b"))
        .join(sk.select(col("event_type").as("type_a"), col("arr").as("arr_a")), Seq("type_a"))
        .join(sk.select(col("event_type").as("type_b"), col("arr").as("arr_b")), Seq("type_b"))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .withColumn("m", merged)
        .withColumn("est_a", est(col("arr_a")))
        .withColumn("est_b", est(col("arr_b")))
        .withColumn("est_union", est(col("m")))
        .withColumn("jacc", size(expr("array_intersect(array_intersect(m, arr_a), arr_b)"))
          .cast("double") / size(col("m")))
        .withColumn("est_inter", col("jacc") * col("est_union"))
      withSk.select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("n_union"),
          (abs(col("est_a") - col("n_a")) <= lit(0.5) * col("n_a")).as("ok_a"),
          (abs(col("est_b") - col("n_b")) <= lit(0.5) * col("n_b")).as("ok_b"),
          (abs(col("est_union") - col("n_union")) <= lit(0.5) * col("n_union")).as("ok_union"),
          (abs(col("est_inter") - col("n_inter")) <= lit(0.5) * col("n_union")).as("ok_inter"))
        .orderBy("type_a", "type_b")
    },

    "sketch_hist_reaggregate" -> { (s, dir) =>
      // The HISTOGRAM leg of the stored-sketch lifecycle — with this,
      // every approximate family in the repo (HLL, Bloom, CMS, histogram
      // quantiles) re-merges stored tables losslessly, so no window ever
      // rescans raw data. The histogram "sketch" is a plain relational
      // (key, bucket, cnt) table, so unlike the byte-buffer families the
      // ENTIRE lifecycle is SQL-replayable: daily tables are one keyed
      // agg, the window re-merge is SUM by bucket (associative — merged
      // is bucket-identical to direct, claimed per-bucket via a
      // full-outer compare, not just per-estimate), and the median
      // estimate reads the first bucket whose cum reaches ceil(n/2) —
      // the agg_quantile_hist selection rule over the merged table.
      val width = 5.0
      val ev = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .select(col("event_type"), col("day"), col("value"))
      def b(c: Column): Column = floor(c / lit(width)).cast("long")
      val daily = ev.groupBy(col("event_type"), col("day"), b(col("value")).as("bucket"))
        .agg(count(lit(1)).as("cnt_day"))
      val merged = daily.groupBy("event_type", "bucket")
        .agg(sum("cnt_day").as("cnt"))
      val direct = ev.groupBy(col("event_type"), b(col("value")).as("bucket"))
        .agg(count(lit(1)).as("cnt_direct"))
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bucket")
      val wn = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val est = merged
        .withColumn("cum", sum("cnt").over(wk))
        .withColumn("n", sum("cnt").over(wn))
        .where(col("cum") >= ceil(lit(0.5) * col("n")))
        .groupBy("event_type").agg(min("bucket").as("p50_bucket"))
      merged.join(direct, Seq("event_type", "bucket"), "full")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("cnt") === col("cnt_direct"), 1L).otherwise(0L)).as("n_equal"),
          sum(col("cnt")).as("n_rows"))
        .join(est, Seq("event_type"))
        .select(col("event_type"), col("n_buckets"), col("n_rows"),
          (col("n_equal") === col("n_buckets")).as("ok_merge_lossless"),
          ((col("p50_bucket") + 1) * lit(width)).as("p50_est"))
        .orderBy("event_type")
    },

    "sketch_cms_reaggregate" -> { (s, dir) =>
      // The CMS leg of the stored-sketch lifecycle (HLL has hll_merge,
      // Bloom has bloom_merge — count-min now completes the set): one
      // fixed-size counter table stored per (event_type, day), any window
      // answered later by count_min_merge of the stored sketches.
      // Element-wise counter ADD is associative/commutative, so the
      // merged sketch is BIT-identical to sketching the union directly —
      // claimed in-query as md5(merged bytes) == md5(direct bytes), the
      // strongest possible lossless-merge statement — plus the structural
      // one-sided estimate (est ≥ exact) and a PROBABILISTIC error bound
      // on each type's top user: est ≤ exact + max(1, 8N/width). This is a
      // Markov bound minimized over depth=4 rows — P(violation) ≤ 8⁻⁴ ≈
      // 2.4e-4 per (type, query) — NOT a structural guarantee; it has held
      // at sf0.01→sf10 on the committed generator and must be re-validated
      // (or the slack re-widened) if the generator or seed changes.
      // Shape at 100 TB: daily build and the
      // re-merge are both keyed aggs over FIXED 32 KB buffers; raw events
      // are never rescanned for a new window.
      import graft.expressions.CountMin
      val ev = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .withColumn("uid", col("user_id").cast("string"))
      val daily = ev.groupBy("event_type", "day")
        .agg(CountMin.sketch(col("uid"), depth = 4, width = 1024).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(CountMin.merge(col("sk")).as("sk_m"))
      val direct = ev.groupBy("event_type")
        .agg(CountMin.sketch(col("uid"), depth = 4, width = 1024).as("sk_d"),
          count(lit(1)).as("n_type"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("n_exact").desc, col("uid"))
      val topu = ev.groupBy(col("event_type"), col("uid"))
        .agg(count(lit(1)).as("n_exact"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      topu.join(merged, Seq("event_type")).join(direct, Seq("event_type"))
        .withColumn("est", CountMin.estimate(col("sk_m"), col("uid")))
        // `est` itself is in the compared output — the oracle replays the
        // Kirsch-Mitzenmacher cell walk in SQL (the sketch_heavy_hitters
        // convention), so the estimate hash-compares EXACTLY cross-engine
        // and a probabilistic ok_bound trip is diagnosable from any
        // artifact (observed est vs exact) without a rerun.
        .select(col("event_type"), col("uid").as("top_user"), col("n_exact"),
          col("est"),
          (md5(col("sk_m")) === md5(col("sk_d"))).as("ok_merge_lossless"),
          (col("est") >= col("n_exact")).as("ok_onesided"),
          (col("est") <= col("n_exact") + greatest(lit(1L),
            expr("8 * n_type div 1024"))).as("ok_bound"))
        .orderBy("event_type")
    },

    "agg_quantile_hist" -> { (s, dir) =>
      // Mergeable fixed-width histogram quantiles — the bounded-state scale
      // path next to agg_stats' exact percentiles (which buffer every group
      // value on one node). Histogram = ONE keyed agg over |keys|x|buckets|
      // rows; the oracle replays the whole construction (bucket arithmetic,
      // cumulative walk, rank pick) rather than trusting a claim, and the
      // exact rank-r order statistic rides along to pin the structural
      // `est - width <= exact <= est` guarantee (inclusive both ends: a
      // value exactly on a bucket edge sits at est - width).
      import graft.operators.QuantileHist
      // NOT checkpointed (r16, measured negative 2.32->2.76 s): estimate
      // and exactRankValue already share the persisted histogram subtree
      // via the cache manager, so a lane-level input materialization saves
      // only one narrow parquet scan while paying a materialization job
      val li = Tables.lineitem(s, dir)
      val keys = Seq("l_returnflag")
      val qs = Seq("0.25", "0.50", "0.75", "0.95")
      val est = QuantileHist.estimate(li, keys, "l_extendedprice", 512.0, qs)
      val exact = QuantileHist.exactRankValue(li, keys, "l_extendedprice", 512.0, qs)
      est.join(exact, keys :+ "q")
        .select(col("l_returnflag"), col("q"), col("est"), col("exact_v"),
          (col("exact_v") >= col("est") - lit(512.0) && col("exact_v") <= col("est")).as("ok"))
        .orderBy("l_returnflag", "q")
    },

    "bitmap_reaggregate" -> { (s, dir) =>
      // The EXACT member of the stored-sketch lifecycle (HLL/KMV/CMS/
      // histogram estimate; the bitmap answers the same questions with
      // zero error at memory ∝ true cardinality — the Druid/ClickHouse
      // groupBitmap shape): one canonical sorted delta-varint bitmap per
      // (event_type, day); any window answered later by UNION-merge of
      // stored bitmaps. The wire form is canonical (sorted, unique), so
      // merged bytes are BIT-identical to building over the union —
      // claimed as md5(merged) == md5(direct). bitmap_and_count gives the
      // exact first-day↔last-day retention overlap, the exact sibling of
      // KMV's estimated intersection. ok_exact pins bitmap cardinality ==
      // count(DISTINCT) per type.
      import graft.expressions.Bitmap
      val ev = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .select(col("event_type"), col("day"), col("user_id"))
      val daily = ev.groupBy("event_type", "day")
        .agg(Bitmap.sketch(col("user_id")).as("bm"))
      val merged = daily.groupBy("event_type").agg(
        Bitmap.merge(col("bm")).as("bm_m"),
        min(col("day")).as("d0"), max(col("day")).as("d1"))
      val direct = ev.groupBy("event_type").agg(
        Bitmap.sketch(col("user_id")).as("bm_d"),
        countDistinct(col("user_id")).as("n_exact"))
      val first = daily.select(col("event_type"), col("day").as("d0"), col("bm").as("bm_first"))
      val last = daily.select(col("event_type"), col("day").as("d1"), col("bm").as("bm_last"))
      merged.join(direct, Seq("event_type"))
        .join(first, Seq("event_type", "d0"))
        .join(last, Seq("event_type", "d1"))
        .select(col("event_type"), col("n_exact"),
          Bitmap.count(col("bm_m")).as("n_bitmap"),
          (md5(col("bm_m")) === md5(col("bm_d"))).as("ok_merge_lossless"),
          (Bitmap.count(col("bm_m")) === col("n_exact")).as("ok_exact"),
          Bitmap.andCount(col("bm_first"), col("bm_last")).as("n_both_days"))
        .orderBy("event_type")
    },

    "sketch_reaggregate" -> { (s, dir) =>
      // the pre-aggregated sketch-table lifecycle: one 4 KB sketch stored
      // per (group, day), any window answered later by MERGING sketches
      // instead of rescanning raw data. Register-wise max is associative
      // and idempotent, so merging daily sketches is BIT-IDENTICAL to
      // sketching the union directly — claimed in-query (est_merged ==
      // est_direct, exact equality) alongside the 5% accuracy bound.
      import graft.expressions.Hll
      val ev = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
      val daily = ev.groupBy("event_type", "day")
        .agg(Hll.sketch(col("user_id"), 12).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(Hll.estimate(Hll.merge(col("sk"))).as("est_merged"))
      val direct = ev.groupBy("event_type").agg(
        Hll.approxCountDistinct(col("user_id"), 12).as("est_direct"),
        countDistinct(col("user_id")).as("n_exact"))
      merged.join(direct, "event_type")
        .select(col("event_type"), col("n_exact"),
          (col("est_merged") === col("est_direct")).as("ok_merge_lossless"),
          (abs(col("est_merged").cast("double") / col("n_exact").cast("double") - 1.0)
            <= 0.05).as("ok_bound"))
        .orderBy("event_type")
    },

    "sketch_rank_reaggregate" -> { (s, dir) =>
      // Canonical mergeable rank/quantile sketch — the distribution-free
      // member of the stored-sketch lifecycle (the histogram lane needs a
      // priori bucket ranges; this one answers any quantile with a DKW
      // rank guarantee independent of the value domain). Design note in
      // expressions/RankSampleAggregate.scala: a literal KLL compactor was
      // REJECTED because its compaction is arrival-order-dependent — merge
      // ≡ rebuild could never be a canonical-bytes md5 equality and the
      // oracle could replay nothing; the bottom-k-by-row-hash sample is a
      // pure function of the multiset, so the DuckDB oracle REPLAYS the
      // entire sketch (hash60 u, bottom-k window, integer-exact rank pick)
      // and hash-compares the ESTIMATES themselves — the strongest gate in
      // the sketch tier — while DKW gives the distribution-free bound:
      // sup|F_m − F| ≤ ε w.p. 1−δ, ε² ≤ 15/(2m) at δ = 1e−6 (15 ≥
      // ln(2e6)), asserted per quantile by exact integer/decimal(38,0)
      // arithmetic (no libm calls — ln/sqrt differ in ULP across engines).
      // Lifecycle: one ≤64 KB sketch per (returnflag, ship-month); any
      // window answered later by union-merge, never rescanning raw rows.
      import graft.expressions.RankSample
      val k = 4096
      // materialized once (r16): the monthly and direct sketch builds each
      // re-ran the parquet scan AND the per-row md5 row-hash u; one narrow
      // materialization computes u once and serves both aggregation passes
      // (guide §5 — the ml-family discipline)
      val li = Tables.lineitem(s, dir)
        .withColumn("v", (dec2(col("l_extendedprice")) * 100).cast("long"))
        .withColumn("u", Tf.hash60(concat(col("l_orderkey").cast("string"),
          lit("-"), col("l_linenumber").cast("string"))))
        .select(col("l_returnflag"), col("l_shipdate"), col("v"), col("u"))
        .localCheckpoint(true)
      val monthly = li
        .groupBy(col("l_returnflag"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ym"))
        .agg(RankSample.sketch(col("u"), col("v"), k).as("sk"))
      val merged = monthly.groupBy("l_returnflag")
        .agg(RankSample.merge(col("sk"), k).as("sk_m"))
      val direct = li.groupBy("l_returnflag")
        .agg(RankSample.sketch(col("u"), col("v"), k).as("sk_d"),
          count(lit(1)).as("n"))
      val qs = Seq(25, 50, 75, 95)
      val est = merged.join(direct, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          least(lit(k.toLong), col("n")).as("m"),
          (md5(col("sk_m")) === md5(col("sk_d"))).as("ok_merge_lossless"),
          explode(array(qs.map(q => struct(lit(q.toLong).as("q_pct"),
            RankSample.quantile(col("sk_m"), q).as("est"))): _*)).as("e"))
        .select(col("l_returnflag"), col("e.q_pct").as("q_pct"), col("e.est").as("est"),
          col("n"), col("m"), col("ok_merge_lossless"))
      // one broadcast-joined corpus pass pins the exact rank of each
      // estimate for the DKW claims
      val ranks = li
        .join(broadcast(est.select(col("l_returnflag").as("rf"),
          col("q_pct").as("qp"), col("est").as("ev"))),
          col("l_returnflag") === col("rf"))
        .groupBy("rf", "qp")
        .agg(sum(when(col("v") <= col("ev"), 1L).otherwise(0L)).as("cnt_le"),
          sum(when(col("v") < col("ev"), 1L).otherwise(0L)).as("cnt_lt"))
      val dLo = col("q_pct") * col("n") - lit(100L) * col("cnt_le")
      val eHi = lit(100L) * col("cnt_lt") * col("m") - col("q_pct") * col("n") * col("m") -
        lit(100L) * col("n")
      est.join(ranks, col("l_returnflag") === col("rf") && col("q_pct") === col("qp"))
        .select(col("l_returnflag"), col("q_pct"), col("est"), col("n"), col("m"),
          col("ok_merge_lossless"),
          when(dLo <= 0L, lit(true)).otherwise(
            dLo.cast("decimal(38,0)") * dLo.cast("decimal(38,0)") * lit(2L) * col("m") <=
              lit(150000L).cast("decimal(38,0)") * col("n") * col("n")).as("ok_rank_lo"),
          when(eHi <= 0L, lit(true)).otherwise(
            eHi.cast("decimal(38,0)") * eHi.cast("decimal(38,0)") * lit(2L) <=
              lit(150000L).cast("decimal(38,0)") * col("n") * col("n") * col("m"))
            .as("ok_rank_hi"))
        .orderBy("l_returnflag", "q_pct")
    },

    "window_topn" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    "sort_limit" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    },

    "ml_kmeans" -> { (s, dir) =>
      // Distributed Lloyd k-means (k=4, 3 iterations) — the clustering
      // member of the ML tier (OLS, naive Bayes, bootstrap, PCA). The
      // Spark shape is the production one: centroids live in a
      // METADATA-SCALE frame carried as a one-row broadcast array, each
      // iteration costs the corpus ONE map (assignment arithmetic against
      // the broadcast, fully codegen — no HOF, no UDF) + ONE keyed agg
      // whose partial aggregation collapses to k cells per task before the
      // exchange; no corpus shuffle ever. LATTICE-ROUNDED for cross-engine
      // exactness: centroid updates are floor-divided integer means
      // (positive domain, so Spark `div` ≡ DuckDB `//`), which keeps every
      // distance comparison in exact BIGINT — perturbs each mean by <1
      // lattice unit in a 65536-wide space, and makes the hash match exact
      // where IEEE mean-of-doubles would be summation-order-divergent.
      // The instance has REAL cluster structure (4 latent centers by
      // key%4, hash offsets ±4096) and deliberately-bad diagonal inits, so
      // the iterations move: assignments start 187/566/560/187 at sf0.01
      // and converge to the 4 true clusters (375 each) by iteration 3 —
      // the oracle replays all three unrolled rounds, ties broken to the
      // lowest centroid id on both sides. Empty clusters keep their old
      // centroid (COALESCE left join on both sides).
      import s.implicits._
      val pts = Tables.customer(s, dir)
        .select(col("c_custkey").cast("long").as("k"))
        .withColumn("g", col("k") % 4)
        .select(col("k"),
          (lit(16384L) + lit(32768L) * (col("g") % 2) +
            pmod(Tf.hash60(concat(lit("kmx-"), col("k").cast("string"))), lit(8193L)) -
            lit(4096L)).as("px"),
          (lit(16384L) + lit(32768L) * expr("g div 2") +
            pmod(Tf.hash60(concat(lit("kmy-"), col("k").cast("string"))), lit(8193L)) -
            lit(4096L)).as("py"))
      def assign(cents: DataFrame): DataFrame = {
        val packed = cents.agg(
          sort_array(collect_list(struct(col("j"), col("cx"), col("cy")))).as("cs"))
        def d(j: Int): Column = {
          val e = element_at(col("cs"), j)
          val dx = col("px") - e.getField("cx")
          val dy = col("py") - e.getField("cy")
          dx * dx + dy * dy
        }
        pts.crossJoin(broadcast(packed))
          .withColumn("d1", d(1)).withColumn("d2", d(2))
          .withColumn("d3", d(3)).withColumn("d4", d(4))
          .withColumn("cluster",
            when(col("d1") <= col("d2") && col("d1") <= col("d3") && col("d1") <= col("d4"), 1L)
              .when(col("d2") <= col("d3") && col("d2") <= col("d4"), 2L)
              .when(col("d3") <= col("d4"), 3L).otherwise(4L))
          .withColumn("dmin", least(col("d1"), col("d2"), col("d3"), col("d4")))
      }
      def update(cents: DataFrame): DataFrame = {
        val upd = assign(cents).groupBy("cluster")
          .agg(sum("px").as("sx"), sum("py").as("sy"), count(lit(1)).as("n"))
          .select(col("cluster").as("j"),
            expr("sx div n").as("ncx"), expr("sy div n").as("ncy"))
        // 4-row frame: localCheckpoint keeps the iteration lineage shallow
        cents.join(upd, Seq("j"), "left")
          .select(col("j"), coalesce(col("ncx"), col("cx")).as("cx"),
            coalesce(col("ncy"), col("cy")).as("cy"))
          .localCheckpoint(true)
      }
      val c0 = Seq((1L, 8192L, 8192L), (2L, 24576L, 24576L),
        (3L, 40960L, 40960L), (4L, 57344L, 57344L)).toDF("j", "cx", "cy")
      val c2 = update(update(c0))
      assign(c2).groupBy("cluster")
        .agg(count(lit(1)).as("n_points"), sum("px").as("sx"), sum("py").as("sy"),
          sum("dmin").as("inertia"))
        .select(col("cluster"), col("n_points"),
          expr("sx div n_points").as("cx"), expr("sy div n_points").as("cy"),
          col("inertia"))
        .orderBy("cluster")
    },

    "skyline_pareto" -> { (s, dir) =>
      // 2-D skyline / Pareto frontier (Börzsönyi et al. 2001): orders that
      // are not dominated on (minimize price, maximize recency) — the
      // preference-query operator class. The textbook sort-based algorithm
      // needs ONE GLOBAL sort with a running min — a single-partition
      // window, wrong at 100 TB. Instead, three shuffle-bounded stages:
      //  1. bucket on price ranges (fixed width, ~96 buckets over the TPC-H
      //     price domain), ONE keyed agg for per-bucket min(y);
      //  2. prefix-min over the O(buckets) frame (metadata-scale window),
      //     broadcast back: a point survives iff y < min(y of ALL earlier
      //     buckets) — sound because an earlier-bucket point always has
      //     strictly smaller price, so y >= pmin would be dominated;
      //  3. exact dominance test among survivors only, PER-BUCKET windows
      //     (parallel, no global sort): every dominator of a survivor has
      //     equal price-bucket (earlier-bucket dominators would contradict
      //     y < pmin) and is itself a survivor, so the in-bucket check over
      //     survivors is complete.
      // Equal-price ties and exact duplicate points follow the strict
      // dominance definition (a duplicate does not dominate its twin), so
      // the NOT-EXISTS oracle replays the result exactly. y = -day makes
      // both axes "minimize"; all arithmetic is BIGINT-exact.
      val pts = Tables.orders(s, dir).select(
        col("o_orderkey"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("price_cents"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("order_day"))
        .withColumn("y", -col("order_day"))
      val bucketW = 524288L // 2^19 cents => ~96 buckets over [0, 50M cents]
      val withB = pts.withColumn("b", expr(s"price_cents div $bucketW"))
      // prefix-min over the O(buckets) frame via a triangular self-join
      // (~96x96 rows, broadcast) — NOT an unpartitioned window, which
      // would plan a single-partition sort node indistinguishable from
      // the corpus-scale defect the plan-hygiene gate bans
      val bmins = withB.groupBy("b").agg(min("y").as("bmin"))
      val pre = bmins
        .join(broadcast(bmins.select(col("b").as("b2"), col("bmin").as("bmin2"))),
          col("b2") < col("b"), "left")
        .groupBy("b").agg(min("bmin2").as("pmin"))
      val surv = withB
        .join(broadcast(pre.select("b", "pmin")), Seq("b"))
        .where(col("pmin").isNull || col("y") < col("pmin"))
      val wPrevX = Window.partitionBy("b").orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      surv
        .withColumn("minPrevY", min("y").over(wPrevX))
        .withColumn("gminY", min("y").over(Window.partitionBy("b", "price_cents")))
        .where((col("minPrevY").isNull || col("y") < col("minPrevY")) &&
          col("y") === col("gminY"))
        .select("o_orderkey", "price_cents", "order_day")
        .orderBy("price_cents", "o_orderkey")
    },

    "cube_agg" -> { (s, dir) =>
      // CUBE aggregation (all 2^k grouping sets in one pass — the BI
      // cross-tab rollup_agg's hierarchy cannot give): Spark expands the
      // cube into grouping sets inside ONE Expand + keyed aggregate
      // (each input row fans out 4×, map-side partials apply per set) —
      // never 2^k separate scans. grouping_id disambiguates the NULL
      // that means "all" from a NULL data value — the correctness trap
      // naive cube emulations hit.
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumd(dec2(col("l_quantity"))).as("sum_qty"),
          grouping_id().as("gid")) // must live inside the cube aggregate
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    "rollup_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sumd(dec2(col("l_quantity"))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    "agg_grouping_sets" -> { (s, dir) =>
      // GROUPING SETS — the general form rollup_agg and cube_agg
      // specialize: MIXED non-hierarchical sets ((returnflag,
      // linestatus), (ship year), ()) that neither ROLLUP (a prefix
      // lattice) nor CUBE (the full lattice) can express — the exact
      // shape of a reporting query that wants two unrelated breakdowns
      // plus the grand total WITHOUT paying three scans. Catalyst plans
      // ONE Expand + one hash aggregate: each input row fans out to its
      // 3 set-instances map-side, so the corpus is read once at any
      // scale. grouping() flags (cast to BIGINT in both engines)
      // disambiguate subtotal NULLs from genuine NULL keys; the ORDER BY
      // pins NULLS FIRST explicitly because Spark and DuckDB default
      // opposite null orderings. The quantity sum accumulates as BIGINT
      // hundredths, not DECIMAL (a decimal SUM runs on boxed BigDecimals
      // — the profile_correlation 10× lesson, amplified here by the 3×
      // Expand fan-out); /100.0 at the end is the same correctly-rounded
      // double as the oracle's DECIMAL-sum→double cast because the cent
      // total is exact in double (< 2⁵³) and one IEEE division rounds
      // once to the true quotient.
      Tables.lineitem(s, dir)
        .withColumn("ship_year", year(col("l_shipdate")).cast("long"))
        .createOrReplaceTempView("li_gsets")
      s.sql("""
        SELECT l_returnflag, l_linestatus, ship_year,
          CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          CAST(grouping(ship_year) AS BIGINT) AS g_sy,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_qty
        FROM li_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
        ORDER BY g_rf, g_ls, g_sy,
          l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
          ship_year NULLS FIRST""")
    },

    // ---- CDC / converters (#12-18) ----

    "json_schema_infer" -> { (s, dir) =>
      // schema inference / drift detection over semi-structured payloads:
      // per top-level key, a census of observed JSON types plus a drift
      // flag (reader passes JSONB through; the downstream store has to
      // infer a typed column — this is that inference, distributed). Key
      // `k` is PLANTED to drift across int/double/string; one parse per
      // row (JsonTopLevelTypes kernel), one keyed count.
      import graft.expressions.{JsonTopLevelTypes, Sketch}
      val j = when(col("event_id") % 4 === 0,
        concat(lit("{\"k\": "), (col("user_id") % 100).cast("string"),
          lit(", \"tag\": \""), col("event_type"), lit("\"}")))
        .when(col("event_id") % 4 === 1,
          concat(lit("{\"k\": "), (col("user_id") % 100).cast("string"),
            lit(".5, \"flag\": "),
            when(col("event_id") % 2 === 0, lit("true")).otherwise(lit("false")),
            lit("}")))
        .when(col("event_id") % 4 === 2,
          concat(lit("{\"k\": "), (col("user_id") % 100).cast("string"),
            lit(", \"nested\": {\"d\": 1}}")))
        .otherwise(concat(lit("{\"k\": \""), (col("user_id") % 100).cast("string"),
          lit("\"}")))
      val kt = Tables.events(s, dir)
        .select(explode(Sketch.column(JsonTopLevelTypes(Sketch.expr(j)))).as("kt"))
        .select(substring_index(col("kt"), "|", 1).as("key"),
          substring_index(col("kt"), "|", -1).as("jtype"))
      val census = kt.groupBy("key", "jtype").agg(count(lit(1)).as("n"))
      // drift derives from the TINY census frame (one row per key x type),
      // not from kt — joining two aggregations of kt would re-run the
      // parse+explode lineage once per side
      val drift = census.groupBy("key").agg(count(lit(1)).as("n_types"))
      census.join(drift, "key")
        .select(col("key"), col("jtype"), col("n"), col("n_types"),
          (col("n_types") > 1).as("drifted"))
        .orderBy("key", "jtype")
    },

    "cdc_envelope" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      Envelope.snapshotEnvelope(ev, "event_id", expr("ts_ns div 1000000"), "events",
        Seq("user_id", "event_type", "value"))
        .orderBy("event_id")
    },

    "cdc_before_after" -> { (s, dir) =>
      // op mapping: first event per user = create, error = delete marker,
      // anything else = update; before_* = previous image via lag window
      val ev = Tables.events(s, dir)
      val op = when(expr("row_number() over (partition by user_id order by ts_ns, event_id)") === 1, lit("c"))
        .when(col("event_type") === "error", lit("d"))
        .otherwise(lit("u"))
      Envelope.changeEnvelope(ev, "user_id", Seq(col("ts_ns"), col("event_id")), op,
        expr("ts_ns div 1000000"), "events", Seq("event_type", "value"))
        .orderBy("user_id", "ts_ms")
    },

    "cdc_schema" -> { (s, dir) =>
      // The Schema/FieldsObject typing block (transformer.go:47-66) derived
      // mechanically from the column types and shipped on every message.
      // ts (MicroTimestamp), event_date (Date) and price (Kafka-connect
      // Decimal with scale/precision parameters) exercise the semantic-type
      // and parameter mapping; payload columns carry the converted wire
      // values (epoch micros/days, unscaled decimal integer).
      val src = Tables.events(s, dir)
        .withColumnRenamed("ts_ntz", "ts")
        .withColumn("event_date", col("ts").cast("date"))
        .withColumn("price", col("value").cast("decimal(12,2)"))
      Envelope.schemaEnvelope(src, "event_id", expr("ts_ns div 1000000"), "events",
        Seq("user_id", "event_type", "value", "ts", "event_date", "price"))
        .orderBy("event_id")
    },

    "cdc_scd2" -> { (s, dir) =>
      // history-table twin of latest-state: every change keeps a validity
      // interval; ordering at µs resolution + event_id so the oracle's
      // lead() sees the identical total order
      Envelope.scd2History(Tables.events(s, dir),
        Seq("user_id"), Seq(expr("ts_ns div 1000"), col("event_id")),
        expr("ts_ns div 1000000"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    },

    "cdc_bitemporal" -> { (s, dir) =>
      // Bitemporal as-of query — the CDC tier's two-time-axis member
      // (SCD2 tracks VALID time; production also needs TRANSACTION
      // time): "each user's state as of effective time E, as KNOWN at
      // ingest time T". Ingest time = effective + a deterministic
      // hash lag of 0..3 days, so changes effective just before E are
      // genuinely absent from the T-knowledge frontier and the
      // bitemporal answer differs from the plain as-of — the
      // `superseded_later` flag marks exactly those users, the rows a
      // naive single-axis reader silently gets wrong. Two partitioned
      // top-1 windows (by user) + one keyed join; all epoch-ms integer
      // arithmetic. E = 2024-01-20, T = 2024-01-22 (the events domain
      // spans January 2024 at every SF).
      val e = 1705708800000L
      val t = 1705881600000L
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts_ns div 1000000").as("eff_ms"))
        .withColumn("ingest_ms", col("eff_ms") +
          pmod(Tf.hash60(concat(lit("lag-"), col("event_id").cast("string"))),
            lit(259200000L)))
        .where(col("eff_ms") <= e)
      val w = Window.partitionBy("user_id")
        .orderBy(col("eff_ms").desc, col("event_id").desc)
      val known = ev.where(col("ingest_ms") <= t)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("eff_ms"), col("ingest_ms"))
      val truth = ev.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("true_event_id"))
      known.join(truth, "user_id")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("eff_ms"), col("ingest_ms"),
          (col("true_event_id") =!= col("event_id")).as("superseded_later"))
        .orderBy("user_id")
    },

    "cdc_scd2_backfill" -> { (s, dir) =>
      // Late-arriving out-of-order CDC correction — the production SCD2
      // pain point cdc_scd2 doesn't cover: a backfill batch whose event
      // times fall INSIDE already-closed validity intervals must split
      // them retroactively. The incremental repair is key-scoped: only
      // keys present in the late batch rework (their history rows
      // reconstruct to raw changes — SCD2 rows carry the original change
      // at valid_from — union the late rows, re-derive intervals per
      // key); untouched keys pass through VERBATIM with no window
      // recompute, so cost tracks the backfill's key footprint, not the
      // table. Gate: the oracle recomputes SCD2 from the FULL history, so
      // the hash match proves incremental repair ≡ full rebuild — the
      // cdc_incremental_agg convention. Late set = event_id % 7 == 0
      // (~14%, arbitrary event times → genuinely out-of-order arrivals).
      val ch = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts_ns div 1000").as("ts_us"),
        expr("ts_ns div 1000000").as("ts_ms"))
      val initial = ch.where(col("event_id") % 7 =!= 0)
      val late = ch.where(col("event_id") % 7 === 0)
      val hist = Envelope.scd2History(initial,
        Seq("user_id"), Seq(col("ts_us"), col("event_id")), col("ts_ms"))
      val touched = late.select("user_id").distinct()
      val keep = hist.join(touched, Seq("user_id"), "left_anti")
      val rework = hist.join(touched, Seq("user_id"), "left_semi")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_us"), col("ts_ms"))
        .unionByName(late)
      val repaired = Envelope.scd2History(rework,
        Seq("user_id"), Seq(col("ts_us"), col("event_id")), col("ts_ms"))
      keep.unionByName(repaired)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    },

    "stream_dedup" -> { (s, dir) =>
      // replay-safe ingest: the whole snapshot is delivered TWICE (reader's
      // resume-overlap case); stateful dropDuplicates on the PK lands it once
      val work = workDir("sdedup", dir)
      // materialized once (r15): the doubled delivery staged the same
      // snapshot twice from two separate parquet scans
      val raw = Tables.read(s, s"$dir/events.parquet").localCheckpoint(true)
      raw.repartition(1).write.mode("overwrite").parquet(s"$work/staged")
      raw.repartition(1).write.mode("append").parquet(s"$work/staged")
      EventsIngest.ingestReplaySafe(s, s"$work/staged", s"$work/landing",
        s"$work/ckpt", Seq("event_id"), raw.schema)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sumd(dec2(col("value"))).as("sum_value"))
        .orderBy("event_type")
    },

    "stream_ttl_dedup" -> { (s, dir) =>
      // TTL-expiring keyed dedup state (lib/storage/ttlmap/ttlmap.go:
      // 1-187): reader's offset store expires entries TTL after insertion,
      // so a key re-arriving while live is a duplicate and one re-arriving
      // after expiry is accepted anew. Spark analogue: watermark state TTL
      // via dropDuplicatesWithinWatermark. Six sequential runs against ONE
      // checkpoint replay the lifecycle deterministically (TTL = 10 min):
      // keys at t+0 accepted; t+2 dropped (state live); advancer keys at
      // t+60/61 push the watermark past expiry (the second run guarantees
      // an end-of-batch eviction pass at the advanced watermark, whichever
      // side of the lookup the eviction lands on); keys at t+90 accepted
      // (state expired); t+92 dropped (state re-armed). Survivors per key:
      // exactly {0, 90} min — replayable in closed form by the oracle.
      import graft.streaming.TtlDedup
      val work = workDir("ttldedup", dir)
      // materialized once (r16): four of the six staged batches derive from
      // this frame, and each staged write re-ran the events scan + distinct
      // (guide §5: persist what is reused)
      val keys = Tables.events(s, dir).select(col("user_id").as("k")).distinct()
        .localCheckpoint(true)
      def at(df: DataFrame, minutes: Int): DataFrame =
        df.select(col("k"), (col("k") * 7 % 1000).cast("long").as("val"),
          expr(s"TIMESTAMP '2024-01-01 00:00:00' + INTERVAL $minutes MINUTES").as("ts"))
      def advancer(k: Long, minutes: Int): DataFrame =
        at(s.range(1).select(lit(k).as("k")), minutes)
      TtlDedup.runSequential(s,
        Seq(at(keys, 0), at(keys, 2), advancer(-1L, 60), advancer(-2L, 61),
          at(keys, 90), at(keys, 92)),
        work, Seq("k"), "ts", "10 minutes")
        .select(col("k"), col("val"),
          expr("(CAST(ts AS LONG) - 1704067200) div 60").as("ts_min"))
        .orderBy("k", "ts_min")
    },

    "cdc_merge_into" -> { (s, dir) =>
      // The three-clause MERGE INTO (the lakehouse upsert statement:
      // WHEN MATCHED AND src.op='d' THEN DELETE / WHEN MATCHED THEN
      // UPDATE / WHEN NOT MATCHED THEN INSERT) as ONE full-outer PK join
      // + CASE routing — the same single-shuffle shape as
      // cdc_snapshot_diff, going the other direction: diff PRODUCES a
      // change batch, merge APPLIES one. The change batch derives from
      // orders arithmetically (updates: key%7==1 gets +10.00; deletes:
      // key%13==2; inserts: fresh keys at +1e10 for key%11==3 — disjoint from real keys at any SF, the twin-offset convention) so both
      // engines replay batch, routing, and the post-state audit
      // bit-identically. Output = per-action row counts plus the
      // post-merge table's (count, price sum) — the state checksum that
      // catches a mis-routed row. At scale the join shuffles once on the
      // PK (or not at all against a bucketed target — the join_bucketed
      // write path); rows never move twice.
      val tgt = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), dec2(col("o_totalprice")).as("price"))
      val src = Tables.orders(s, dir).select(
        when(col("o_orderkey") % 11 === 3, col("o_orderkey") + 10000000000L)
          .otherwise(col("o_orderkey")).as("k"),
        when(col("o_orderkey") % 13 === 2, lit("d"))
          .when(col("o_orderkey") % 11 === 3, lit("i"))
          .when(col("o_orderkey") % 7 === 1, lit("u"))
          .otherwise(lit(null).cast("string")).as("op"),
        (dec2(col("o_totalprice")) + lit(10).cast("decimal(12,2)")).as("new_price"))
        .where(col("op").isNotNull)
      val merged = tgt.join(src, Seq("k"), "full_outer")
        .withColumn("action",
          when(col("op").isNull, lit("keep")) // target row, no change
            .when(col("price").isNotNull && col("op") === "d", lit("delete"))
            .when(col("price").isNotNull, lit("update"))
            .when(col("op") === "i", lit("insert"))
            .otherwise(lit("no_match_skip"))) // delete/update for absent key
        .withColumn("out_price",
          when(col("action") === "keep", col("price"))
            .when(col("action") === "update", col("new_price"))
            .when(col("action") === "insert", col("new_price")))
      val actions = merged.groupBy("action").agg(count(lit(1)).as("n"))
      val state = merged.where(col("out_price").isNotNull)
        .agg(count(lit(1)).as("n"), sumd(col("out_price")).as("price_sum"))
        .select(lit("post_state").as("action"), col("n"))
        // post-state summary rides in the same (action, n) shape; the
        // price checksum gets its own row scaled to cents for exactness
      val priceRow = merged.where(col("out_price").isNotNull)
        .agg(sum((col("out_price") * 100).cast("long")).as("n"))
        .select(lit("post_price_cents").as("action"), col("n"))
      actions.unionByName(state).unionByName(priceRow).orderBy("action")
    },

    "cdc_latest_state" -> { (s, dir) =>
      Envelope.latestState(Tables.events(s, dir), Seq("user_id"),
        Seq(col("ts_ns"), col("event_id")))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"),
          expr("ts_ns div 1000000").as("last_ts_ms"))
        .orderBy("user_id")
    },

    "mongo_change" -> { (s, dir) =>
      // Mongo change-stream analogue (lib/mongo/change_event.go:8-60): rows
      // are round-tripped through the raw change-event shape (operationType,
      // ns, documentKey, fullDocument in extended JSON — $oid, $numberLong,
      // canonical $date) and parsed back with ONE typed from_json pass.
      // Deletes carry no fullDocument, matching ToMessage's documentKey-only
      // payload (change_event.go:120-127).
      import graft.cdc.MongoChange
      val opType = when(col("event_type") === "error", lit("delete"))
        .when(col("event_type") === "purchase", lit("insert"))
        .otherwise(lit("update"))
      val oidHex = substring(md5(col("event_id").cast("string")), 1, 24)
      val fullDoc = concat(
        lit(""","fullDocument":{"_id":{"$oid":""""), oidHex,
        lit(""""},"user_id":{"$numberLong":""""), col("user_id").cast("string"),
        lit(""""},"event_type":""""), col("event_type"),
        lit("""","value":"""), col("value").cast("string"),
        lit(""","ts":{"$date":{"$numberLong":""""), expr("ts_ns div 1000000").cast("string"),
        lit(""""}}}"""))
      val raw = concat(
        lit("""{"operationType":""""), opType,
        lit("""","ns":{"db":"graft","coll":"events"},"documentKey":{"_id":{"$oid":""""),
        oidHex, lit(""""}}"""),
        when(opType === "delete", lit("")).otherwise(fullDoc),
        lit("}"))
      Tables.events(s, dir)
        .select(col("event_id"), raw.as("mongo_json"))
        .withColumn("ce", MongoChange.parse(col("mongo_json")))
        .select(
          col("event_id"),
          col("mongo_json"),
          MongoChange.opCode(col("ce").getField("operationType")).as("op"),
          col("ce").getField("ns").getField("coll").as("coll"),
          MongoChange.oid(col("ce")).as("oid"),
          MongoChange.docLong(col("ce"), "user_id").as("doc_user_id"),
          col("ce").getField("fullDocument").getField("event_type").as("doc_event_type"),
          col("ce").getField("fullDocument").getField("value").as("doc_value"),
          MongoChange.docDateMs(col("ce"), "ts").as("doc_ts_ms"))
        .orderBy("event_id")
    },

    "convert_temporal" -> { (s, dir) =>
      // plus MySQL non-strict-mode zero dates (convert.go:153-161,264-287):
      // DATETIME strings with a zero year/month/day lane convert to NULL
      // instead of erroring — two planted invalid shapes per 11 rows
      val dtStr = when(col("event_id") % 11 === 0, lit("0000-00-00 00:00:00"))
        .when(col("event_id") % 11 === 1,
          concat(lit("2024-00-"), lpad((col("event_id") % 28 + 1).cast("string"), 2, "0"),
            lit(" 10:30:00")))
        .otherwise(date_format(col("ts_ntz"), "yyyy-MM-dd HH:mm:ss"))
      Tables.events(s, dir)
        .withColumn("dt_str", dtStr)
        .select(
          col("event_id"),
          Cv.epochDays(col("ts_ntz")).as("epoch_days"),
          expr("ts_ns div 1000000").as("ts_ms_epoch"),
          expr("ts_ns div 1000").as("ts_us_epoch"),
          Cv.microsSinceMidnight(expr("ts_ns div 1000")).as("micros_of_day"),
          Cv.isoDate(col("ts_ntz")).as("iso_date"),
          Cv.zonedTimestamp(col("ts_ntz")).as("zoned_ts"),
          Cv.yearInt(col("ts_ntz")).as("yr"),
          col("dt_str"),
          Cv.nonStrictInvalidDate(col("dt_str")).as("dt_zero"),
          unix_millis(Cv.mysqlDatetime(col("dt_str"))).as("dt_ms"))
        .orderBy("event_id")
    },

    "convert_duration" -> { (s, dir) =>
      // time_duration.go time-of-day durations (ms int32 / µs / ns) plus
      // int.go checked-width semantics: iv spans ±50k (some overflow int16),
      // iv_wide spans ±5e9 (some overflow int32).
      // µs-truncated clock (same convention as ts_ntz): DuckDB reads the
      // nano-timestamp at µs precision, so sub-µs nanos are pinned to 0 on
      // both sides.
      val clockNs = expr("(ts_ns div 1000) * 1000")
      Tables.events(s, dir)
        .withColumn("iv", (col("event_id") % 100000) - 50000)
        .withColumn("iv_wide", ((col("event_id") % 100000) - 50000) * 100000)
        .select(
          col("event_id"),
          Cv.timeOfDayMillis(clockNs).as("dur_ms"),
          Cv.timeOfDayMicros(clockNs).as("dur_us"),
          Cv.timeOfDayNanos(clockNs).as("dur_ns"),
          Cv.checkedInt16(col("iv")).as("i16"),
          Cv.fitsInt16(col("iv")).as("i16_ok"),
          Cv.checkedInt32(col("iv_wide")).as("i32"),
          Cv.fitsInt32(col("iv_wide")).as("i32_ok"))
        .orderBy("event_id")
    },

    "convert_decimal" -> { (s, dir) =>
      val unscaled = Cv.unscaledLong(col("o_totalprice"))
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        Cv.decimalString(col("o_totalprice")).as("dec_str"),
        unscaled.as("unscaled"),
        upper(hex(unscaled)).as("unscaled_hex"))
        .orderBy("o_orderkey")
    },

    "convert_money" -> { (s, dir) =>
      val u = Cv.unscaledLong(col("o_totalprice"))
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), u.as("u"))
        .withColumn("d", expr("u div 100")).withColumn("c", expr("u % 100"))
      val grouped = when(col("d") < 1000, col("d").cast("string"))
        .when(col("d") < 1000000,
          concat(expr("d div 1000").cast("string"), lit(","),
            lpad(expr("d % 1000").cast("string"), 3, "0")))
        .otherwise(
          concat(expr("d div 1000000").cast("string"), lit(","),
            lpad(expr("(d div 1000) % 1000").cast("string"), 3, "0"), lit(","),
            lpad(expr("d % 1000").cast("string"), 3, "0")))
      base
        .withColumn("money_input",
          concat(lit("$"), grouped, lit("."), lpad(col("c").cast("string"), 2, "0")))
        .withColumn("parsed_str", Cv.moneyToDecimal(col("money_input")).cast("string"))
        .select("o_orderkey", "money_input", "parsed_str")
        .orderBy("o_orderkey")
    },

    "convert_json" -> { (s, dir) =>
      // Parse the JSON ONCE in a lower projection, then reference the
      // extracted column: Catalyst does not subexpression-eliminate repeated
      // get_json_object calls across a single Project, so inlining `k` into
      // `k_sq` re-parses the document per use (3x parse, measured as the #1
      // bench cost in r3). CollapseProject keeps the two-level shape because
      // k_val is referenced more than once and is non-cheap.
      Tables.events(s, dir)
        .withColumn("k_val", Cv.jsonFieldLong(col("props"), "$.k"))
        .select(
          col("event_id"),
          col("k_val"),
          length(col("props")).cast("long").as("props_len"),
          (col("k_val") * col("k_val")).as("k_sq"))
        .orderBy("event_id")
    },

    "convert_interval_hstore" -> { (s, dir) =>
      // PG interval + hstore text round-trip (parse.go:68-80,112-126):
      // build canonical wire strings, parse back to typed components.
      val iv = concat(
        (col("user_id") % 30).cast("string"), lit(" days "),
        lpad((col("event_id") % 24).cast("string"), 2, "0"), lit(":"),
        lpad((col("user_id") % 60).cast("string"), 2, "0"), lit(":"),
        lpad((col("event_id") % 60).cast("string"), 2, "0"))
      val hs = concat(lit(""""lang"=>"en", "score"=>""""),
        col("value").cast("string"), lit("\""))
      Tables.events(s, dir)
        .select(col("event_id"), iv.as("iv"), hs.as("hs"))
        .select(
          col("event_id"), col("iv"), col("hs"),
          Cv.intervalDays(col("iv")).as("iv_days"),
          Cv.intervalTimeMicros(col("iv")).as("iv_micros"),
          Cv.intervalMicroDuration(col("iv")).as("iv_total_us"),
          Cv.hstoreValue(col("hs"), "lang").as("hs_lang"),
          Cv.hstoreValue(col("hs"), "score").cast("double").as("hs_score"),
          Cv.hstoreValue(col("hs"), "missing").as("hs_missing"))
        .orderBy("event_id")
    },

    "convert_timetz" -> { (s, dir) =>
      // PG TIME WITH TIME ZONE wire strings across the reference's three
      // accepted layouts (plain / .ms / .us, offset +-HH), with planted
      // invalid lanes: hour 25 (shape-valid, range-invalid) and a missing
      // offset (shape-invalid) — both must dead-letter to NULL exactly as
      // ParseExact's error return does
      val hh = when(col("event_id") % 97 === 0, lit("25"))
        .otherwise(lpad((col("user_id") % 24).cast("string"), 2, "0"))
      val fracPart =
        when(col("event_id") % 3 === 1,
          concat(lit("."), lpad((col("event_id") % 1000).cast("string"), 3, "0")))
          .when(col("event_id") % 3 === 2,
            concat(lit("."), lpad((col("user_id") % 1000000).cast("string"), 6, "0")))
          .otherwise(lit(""))
      val off = when(col("event_id") % 89 === 0, lit(""))
        .otherwise(concat(
          when(col("event_id") % 2 === 0, lit("+")).otherwise(lit("-")),
          lpad((col("event_id") % 12).cast("string"), 2, "0")))
      val ttz = concat(hh, lit(":"),
        lpad((col("event_id") % 60).cast("string"), 2, "0"), lit(":"),
        lpad(((col("user_id") + col("event_id")) % 60).cast("string"), 2, "0"),
        fracPart, off)
      Tables.events(s, dir)
        .select(col("event_id"), ttz.as("ttz"))
        .withColumn("ttz_utc", Cv.timeTzUtcString(col("ttz")))
        .orderBy("event_id")
    },

    "convert_uuid_bits" -> { (s, dir) =>
      // bit varying wire strings (bit_varying.go:27-60): the row's key in
      // binary, with planted invalid-char and over-length lanes that must
      // dead-letter to NULL; valid ones pack little-endian (bit.go
      // stringToByteA), hex-rendered
      val bitsRaw = bin(col("c_custkey"))
      val bits = when(col("c_custkey") % 97 === 0, concat(lit("2"), bitsRaw))
        .when(col("c_custkey") % 89 === 0, lpad(bitsRaw, 40, "0"))
        .otherwise(bitsRaw)
      Tables.customer(s, dir)
        .withColumn("bv_input", bits)
        .select(
          col("c_custkey"),
          Cv.uuidFromKey(col("c_custkey")).as("uuid"),
          Cv.bitAt(col("c_custkey"), 0).as("bit0"),
          Cv.bitAt(col("c_custkey"), 3).as("bit3"),
          Cv.popCount(col("c_custkey")).as("pop"),
          col("bv_input"),
          Cv.bitVaryingHex(col("bv_input"), 32).as("bv_hex"))
        .orderBy("c_custkey")
    },

    "convert_guid_msgkey" -> { (s, dir) =>
      // MSSQL uniqueidentifier mixed-endian bytes -> canonical GUID
      // (lib/mssql/parse/parse.go:55-61) + the Kafka message key
      // PrimaryKeyPayload JSON (kafkalib/message.go:33-41,
      // transformer.go:150-179); wire bytes derived from md5 so the oracle
      // reproduces them. The key is built through the before/after-image
      // fallback (light_transformer.go:34-45): a planted DELETE lane
      // (1 in 7 rows) carries NO after image, so its key MUST come from
      // the before row — a wrong branch yields a null payload and the
      // hash compare catches it.
      val src = Tables.customer(s, dir)
      val isDel = col("c_custkey") % 7 === 3
      val img = struct(col("c_custkey"))
      val keySchema = org.apache.spark.sql.types.StructType(Seq(src.schema("c_custkey")))
      src.select(
        col("c_custkey"),
        when(isDel, lit("d")).otherwise(lit("u")).as("op"),
        Cv.mssqlGuid(unhex(md5(col("c_custkey").cast("string")))).as("guid"),
        Envelope.messageKeyFromImages(
          when(isDel, img), when(!isDel, img), keySchema, Seq("c_custkey")).as("msg_key"))
        .orderBy("c_custkey")
    },

    "convert_pg_misc" -> { (s, dir) =>
      // pg array text (JSON form) parsed with one from_json pass
      // (parse.go:81-92) + geography hex-EWKB -> base64 WKB (geom.go:52-66);
      // wire text constructed from row data so the oracle reproduces it
      val arrTxt = concat(lit("["), col("c_custkey"), lit(","),
        col("c_nationkey").cast("long"), lit("]"))
      val wkbHex = upper(substring(md5(col("c_name")), 1, 16))
      val arr = Cv.pgArray(arrTxt, "bigint")
      Tables.customer(s, dir).select(
        col("c_custkey"),
        element_at(arr, 1).as("arr_0"),
        element_at(arr, 2).as("arr_1"),
        size(arr).cast("long").as("arr_n"),
        Cv.geographyWkbB64(wkbHex).as("wkb_b64"))
        .orderBy("c_custkey")
    },

    "convert_enum_array" -> { (s, dir) =>
      // enum.go (index into the declared value set), array.go / map.go
      // (collection rendering), geometry.go (POINT text parse)
      val enumIdx = when(col("c_mktsegment") === "AUTOMOBILE", 0L)
        .when(col("c_mktsegment") === "BUILDING", 1L)
        .when(col("c_mktsegment") === "FURNITURE", 2L)
        .when(col("c_mktsegment") === "HOUSEHOLD", 3L)
        .when(col("c_mktsegment") === "MACHINERY", 4L)
        .otherwise(-1L)
      val pt = concat(lit("POINT("), col("c_nationkey").cast("string"), lit(" "),
        col("c_custkey").cast("string"), lit(")"))
      Tables.customer(s, dir).select(
        col("c_custkey"),
        enumIdx.as("seg_idx"),
        // SET (convert.go asSet:15-31): streaming int64 bitmask -> comma-
        // joined declared options; key % 32 exercises every 5-bit subset
        Cv.setString(col("c_custkey") % 32,
          Seq("red", "green", "blue", "alpha", "beta")).as("set_str"),
        concat_ws(",", array(col("c_custkey"), col("c_nationkey").cast("long"))).as("arr_str"),
        lit(2L).as("arr_len"),
        pt.as("geom_wkt"),
        regexp_extract(pt, "POINT\\(([0-9]+) ([0-9]+)\\)", 1).cast("long").as("geom_x"),
        regexp_extract(pt, "POINT\\(([0-9]+) ([0-9]+)\\)", 2).cast("long").as("geom_y"))
        .orderBy("c_custkey")
    },

    // ---- streaming + sink (#19-20) ----

    "gtid_resume" -> { (s, dir) =>
      // GTID replay guard (lib/mysql/gtid.go:11-52): rows tagged sid:txid,
      // checkpointed watermarks (sid -> highest txid) broadcast against the
      // stream; unseen sids pass, seen sids pass iff txid >= highest.
      import s.implicits._
      val tagged = Tables.events(s, dir)
        .select(col("event_id"),
          concat((col("user_id") % 8).cast("string"), lit(":"),
            col("event_id").cast("string")).as("gtid"))
      val seen = Seq(("0", 5000L), ("1", 2500L), ("2", 9999999L), ("3", 1L))
        .toDF("sid", "highest")
      graft.streaming.GtidResume.shouldProcess(tagged, "gtid", seen)
        .select("event_id", "gtid", "sid", "txid")
        .orderBy("event_id")
    },

    "binlog_resume" -> { (s, dir) =>
      // Non-GTID replay guard (sources/mysql/streaming/offset.go:13-41,
      // iterator.go:73-113): rows tagged (offset key, binlog file, pos);
      // per-source (file, pos) watermarks broadcast against the stream.
      // Fresh keys pass everything; otherwise lexicographic (file, pos)
      // at-or-after the watermark passes — zero-padded binlog file names
      // make string order = rotation order. Map-only at any scale.
      import s.implicits._
      val tagged = Tables.events(s, dir)
        .select(col("event_id"),
          (col("user_id") % 4).cast("string").as("okey"),
          expr("concat('binlog.', lpad(cast(event_id div 4000 + 1 as string), 6, '0'))")
            .as("file"),
          ((col("event_id") % 4000) * 8 + 4).cast("long").as("pos"))
      val seen = Seq(
        ("0", "binlog.000002", 16004L),   // mid-file-2 watermark
        ("1", "binlog.000001", 20000L),   // mid-file-1: same-file pos ordering
        ("2", "binlog.000099", 4L))       // beyond the data: everything replayed -> dropped
        .toDF("okey", "wfile", "wpos")    // key "3": fresh stream, passes all
      graft.streaming.BinlogResume.shouldProcess(tagged, "okey", "file", "pos", seen)
        .select("event_id", "okey", "file", "pos")
        .orderBy("event_id")
    },

    "shard_resume" -> { (s, dir) =>
      // DynamoDB-stream shard replay guard (sources/dynamodb/stream/
      // shard.go:63-87, offsets/offsets.go:79-90): per-shard watermarks,
      // STRICTLY-after sequence resume (AfterSequenceNumber), TrimHorizon
      // for unseen shards, processed shards skipped wholesale. Sequence
      // numbers are decimal STRINGS ordered by (length, lex) — event_ids
      // span length boundaries, so a plain string compare would be wrong
      // here (that is the point of the fixture). Map-only at any scale.
      import s.implicits._
      val tagged = Tables.events(s, dir)
        .select(col("event_id"),
          concat(lit("shard-"), (col("user_id") % 6).cast("string")).as("shard_id"),
          col("event_id").cast("string").as("seq"))
      val seen = Seq[(String, Option[String], Boolean)](
        ("shard-0", Some("5000"), false),  // strictly-after mid-stream
        ("shard-1", Some("999"), false),   // length-boundary: "1000" must pass
        ("shard-2", None, false),          // seen, no sequence yet -> all pass
        ("shard-4", Some("17"), true))     // processed -> nothing
        .toDF("shard_id", "last_seq", "processed") // shards 3/5 unseen -> TrimHorizon
      graft.streaming.ShardResume.shouldProcess(tagged, "shard_id", "seq", seen)
        .select("event_id", "shard_id", "seq")
        .orderBy("event_id")
    },

    "schema_evolution" -> { (s, dir) =>
      // The FULL DDL event lifecycle routed through the schema-history
      // cache (create_table.go columns+PK+defaults, drop_table.go,
      // rename_table.go, alter_table.go, parse.go routing): the stream
      // starts with CREATE TABLE — the event that seeds the history —
      // column events keep applying across a RENAME TABLE, and an
      // unrelated scratch table is created and dropped without touching
      // the lineage. Every data step is a narrow projection (map-only at
      // any scale); table routing is O(tables) driver state.
      import graft.cdc.SchemaEvolution
      val ddl = Seq(
        "CREATE TABLE events (event_id BIGINT PRIMARY KEY, user_id BIGINT, " +
          "event_type STRING, value DECIMAL(12,2), props STRING DEFAULT '{}')",
        "CREATE TABLE scratch (k BIGINT, v STRING)",
        "ALTER TABLE scratch ADD PRIMARY KEY (k)",
        "ALTER TABLE events RENAME COLUMN value TO amount",
        "ALTER TABLE events MODIFY COLUMN amount DECIMAL(12,2)",
        "RENAME TABLE events TO events_v2",
        "ALTER TABLE events_v2 ADD COLUMN flag STRING DEFAULT 'new' AFTER event_type",
        "ALTER TABLE events_v2 ADD COLUMN amount_cents BIGINT",
        "ALTER TABLE events_v2 DROP COLUMN props",
        "DROP TABLE scratch")
      val base = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "props")
      val tables = SchemaEvolution.replayTables(s, ddl, Map("events" -> base))
      require(tables.keySet == Set("events_v2"), s"history left ${tables.keySet}")
      tables("events_v2")
        .withColumn("table_name", lit("events_v2"))
        // MODIFY COLUMN produced DECIMAL(12,2); emit DOUBLE (exactness
        // convention — bare decimal outputs hash-diverge at the gate)
        .withColumn("amount", col("amount").cast("double"))
        .orderBy("event_id")
    },

    "stream_events" -> { (s, dir) =>
      val landed = EventsIngest.freshIngest(s, s"$dir/events.parquet", workDir("stream", dir))
      landed
        .withColumn("day", expr("cast(cast(timestamp_micros(ts div 1000) as timestamp_ntz) as date)"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), sumd(dec2(col("value"))).as("sum_value"))
        .orderBy("event_type", "day")
    },

    "sink_batch" -> { (s, dir) =>
      BatchedSink.writeBatched(Tables.lineitem(s, dir), "l_orderkey", 2048L,
        workDir("sink", dir))
        .orderBy("batch_id")
    },

    "sink_shard_export" -> { (s, dir) =>
      // Deterministic sharded training-data export with CONTENT-addressed
      // manifests (the delivery end of the curation pipeline: downstream
      // trainers need shard files whose contents are byte-reproducible
      // across reruns/backfills so a manifest hash proves the dataset
      // version): docs route to 8 shards by the stable md5 bucket (the
      // sample_split hash — repartition/backfill-invariant, unlike any
      // row-order-dependent chunking), each shard's line stream is the
      // (doc_id TAB md5(text)) records in doc_id order, and the manifest
      // row carries n_docs, total byte length, and the md5 of the entire
      // shard content. Per-shard assembly is sort_array over
      // collect_list of (doc_id, line) structs — bounded by shard size,
      // the text itself never enters the shuffle (lines carry the text's
      // md5, not the text). The oracle rebuilds every shard's content
      // string with an ordered string_agg and must reproduce the SAME
      // md5 — a one-doc difference, order flip, or separator drift
      // breaks the hash.
      import graft.operators.Sampling
      val lines = Tables.documents(s, dir)
        .select(Sampling.hashBucket(col("doc_id"), 8).as("shard_id"),
          col("doc_id"),
          concat(col("doc_id").cast("string"), lit("\t"), md5(col("text"))).as("line"))
      lines.groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"),
          expr("array_join(transform(array_sort(collect_list(struct(doc_id, line))), x -> x.line), '\n')")
            .as("content"))
        .select(col("shard_id"), col("n_docs"),
          octet_length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("shard_id")
    },

    "stream_enrich" -> { (s, dir) =>
      // Stream-static dimension join (streaming/StreamEnrich.scala): the
      // event stream picks up a customer segment from a broadcast static
      // dim per micro-batch — stateless in append mode, so the landed
      // result equals the batch join and the oracle replays it directly.
      // The dim key folds both sides mod 150 so the mapping is dense and
      // deterministic at any SF (min(segment) collapses key collisions).
      val dim = Tables.customer(s, dir)
        .groupBy((col("c_custkey") % 150).as("ukey"))
        .agg(min("c_mktsegment").as("segment"))
      graft.streaming.StreamEnrich.enrichAvailableNow(
        s, s"$dir/events.parquet", workDir("enrich", dir),
        _.withColumn("ukey", col("user_id") % 150), dim, Seq("ukey"))
        .groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n"), sumd(dec2(col("value"))).as("sum_value"))
        .orderBy("segment", "event_type")
    },

    "stream_watermark_agg" -> { (s, dir) =>
      // append-mode watermarked daily windows: emitted set = windows whose
      // end <= max(ts) - 1h, deterministic arithmetic the oracle replays
      graft.streaming.WatermarkAgg.dailyCountsAvailableNow(
        s, s"$dir/events.parquet", workDir("wmagg", dir))
        .orderBy("event_type", "day")
    },

    "stream_join" -> { (s, dir) =>
      // stream-stream interval join, both sides watermarked; inner-join
      // emission is batch-equivalent so the oracle is the plain interval
      // join
      graft.streaming.StreamJoin.clicksWithRecentPurchases(
        s, s"$dir/events.parquet", workDir("sjoin", dir))
        .select(col("c_user").as("user_id"),
          expr("unix_micros(c_ts)").as("c_ts_us"), col("c_id"),
          expr("unix_micros(p_ts)").as("p_ts_us"), col("p_id"))
        .orderBy("c_id", "p_id")
    },

    "stream_outer_join" -> { (s, dir) =>
      // stream-stream LEFT OUTER interval join: matched pairs emit as the
      // inner join does; a click's null-extended row emits only at state
      // EVICTION — when the final watermark (min of both sides' max event
      // time − delay, advanced by the trailing no-data micro-batch under
      // AvailableNow) proves no further purchase can match. That eviction
      // rule is deterministic, so the oracle replays it: inner part + null
      // rows for unmatched clicks older than the final watermark; younger
      // unmatched clicks are deliberately ABSENT (they might match a
      // future purchase — a checkpoint restart would emit them later).
      graft.streaming.StreamJoin.clicksWithRecentPurchasesOuter(
        s, s"$dir/events.parquet", workDir("sojoin", dir))
        .select(col("c_user").as("user_id"),
          expr("unix_micros(c_ts)").as("c_ts_us"), col("c_id"),
          expr("unix_micros(p_ts)").as("p_ts_us"), col("p_id"))
        .orderBy("c_id", "p_id")
    },

    "stream_fanout" -> { (s, dir) =>
      // one stream → TWO sinks (raw archive + per-batch serving
      // aggregate) with exactly-once batch semantics: foreachBatch's
      // stable batchId fences both sinks via overwrite of batch=<id>
      // directories, so a retried batch lands idempotently everywhere —
      // reader's one-feed-many-destinations shape without sink
      // transactions. The query re-aggregates BOTH sinks and asserts
      // they describe the same stream (counts and exact decimal sums
      // equal per type — decimal batch-sum roll-up ≡ direct sum), then
      // emits the per-type rollup the oracle computes directly.
      val (raw, agg) = graft.streaming.StreamFanout.run(
        s, s"$dir/events.parquet", workDir("fanout", dir))
      val a = raw.groupBy("event_type")
        .agg(count(lit(1)).as("n_raw"), sum(dec2(col("value"))).as("sum_raw"))
      val b = agg.groupBy("event_type")
        .agg(sum(col("n")).as("n_agg"), sum(col("sum_dec")).as("sum_agg"))
      a.join(b, Seq("event_type"))
        .select(col("event_type"), col("n_raw").as("n"),
          col("sum_raw").cast("double").as("sum_value"),
          (col("n_raw") === col("n_agg") && col("sum_raw") === col("sum_agg"))
            .as("ok_sinks_consistent"))
        .orderBy("event_type")
    },

    "stream_full_outer_join" -> { (s, dir) =>
      // stream-stream FULL OUTER interval join — the remaining
      // completeness-semantics member after 19b3 (inner) and 19b7 (left
      // outer): every click AND every purchase lands. The two null-
      // extension horizons are ASYMMETRIC, derived from the interval
      // condition: clicks match only purchases at-or-before them, so an
      // unmatched click null-extends once the final watermark passes it
      // (c_ts < wm); a purchase can match clicks up to `window` after it,
      // so its state outlives the watermark by the window (p_ts < wm −
      // window). Both horizons are deterministic under AvailableNow, so
      // the oracle replays them; rows younger than their horizon are
      // deliberately ABSENT (a checkpoint restart would emit them later).
      graft.streaming.StreamJoin.clicksWithRecentPurchasesFull(
        s, s"$dir/events.parquet", workDir("sfjoin", dir))
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          expr("unix_micros(c_ts)").as("c_ts_us"), col("c_id"),
          expr("unix_micros(p_ts)").as("p_ts_us"), col("p_id"))
        .orderBy("c_id", "p_id")
    },

    "stream_evolve" -> { (s, dir) =>
      // streaming ingest across a migration: epoch-0 rows predate the DDL
      // (old column name `amount`, no `flag`), epoch-2 rows carry the final
      // shape; the schema history replays per epoch inside foreachBatch
      import org.apache.spark.sql.types.StructType
      val work = workDir("evolve", dir)
      val ddlLog = Seq(
        "ALTER TABLE events RENAME COLUMN amount TO value",
        "ALTER TABLE events ADD COLUMN flag STRING")
      // the schema history is SEEDED by the CREATE TABLE event (the first
      // thing a real binlog stream replays), not a hand-built StructType
      val v1 = graft.cdc.SchemaEvolution.parseStatement(
        "CREATE TABLE events (event_id BIGINT PRIMARY KEY, user_id BIGINT, " +
          "event_type STRING, amount DECIMAL(12,2))") match {
        case Seq(ct: graft.cdc.TableDdlEvent.CreateTable) =>
          graft.cdc.SchemaEvolution.createSchema(ct.columns)
        case other => sys.error(s"unexpected CREATE TABLE parse: $other")
      }
      val ev = Tables.events(s, dir)
      val e0 = ev.where(col("event_id") % 2 === 0)
        .select(lit(0).as("epoch"), to_json(struct(col("event_id"), col("user_id"),
          col("event_type"), dec2(col("value")).as("amount"))).as("payload"))
      val e2 = ev.where(col("event_id") % 2 === 1)
        .select(lit(2).as("epoch"), to_json(struct(col("event_id"), col("user_id"),
          col("event_type"), dec2(col("value")).as("value"),
          col("props").as("flag"))).as("payload"))
      val staged = s"$work/staged"
      e0.unionByName(e2).write.mode("overwrite").parquet(staged)
      graft.streaming.EvolvingIngest.ingestAcrossMigration(s, staged, work, v1, ddlLog)
        // schema history carries DECIMAL(12,2); emit DOUBLE (exactness
        // convention — bare decimal outputs hash-diverge at the gate)
        .withColumn("value", col("value").cast("double"))
        .orderBy("event_id")
    },

    "cdc_handoff" -> { (s, dir) =>
      // Reader's END-TO-END contract: snapshot scan seeds the destination,
      // CDC stream applies changes from the captured offset, and the
      // materialized result equals a CONTINUOUS replay (the oracle computes
      // latest-state over the full history directly). T0 = midpoint
      // timestamp; changes staged as 3 files split by event_id mod 3 so the
      // micro-batches interleave in time — the tombstone-retaining
      // max-by-(ts,id) merge must be order-insensitive for this to pass.
      import graft.streaming.SnapshotHandoff
      val work = workDir("handoff", dir)
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("ts_ns"),
        col("event_type"), col("value"),
        when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("op"))
      // bounded driver fetch: two longs (same class as SnapshotScan.pkBounds)
      val mm = ev.agg(min("ts_ns"), max("ts_ns")).head()
      val t0 = (mm.getLong(0) + mm.getLong(1)) / 2
      val snapshot = Envelope.latestState(ev.where(col("ts_ns") <= t0),
        Seq("user_id"), Seq(col("ts_ns"), col("event_id")))
      // materialized once (r15): the three mod-split staged writes below
      // each re-derived this filter from parquet — three corpus scans for
      // one file split (guide §5: persist what is reused)
      val changes = ev.where(col("ts_ns") > t0).localCheckpoint(true)
      val staged = s"$work/staged"
      (0 until 3).foreach { i =>
        changes.where(pmod(col("event_id"), lit(3)) === i).repartition(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(staged)
      }
      SnapshotHandoff.materialize(s, snapshot, staged, changes.schema,
        "user_id", Seq("ts_ns", "event_id"), s"$work/state", s"$work/ckpt")
        .where(col("op") =!= "d")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"),
          expr("ts_ns div 1000000").as("last_ts_ms"))
        .orderBy("user_id")
    },

    "stream_sessions" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000000").as("ts_ms"), col("value"))
      graft.streaming.SessionWindows.sessionizeBatch(ev, gapMs = 7200000L)
        .orderBy("user_id", "session_start")
    },

    "events_funnel" -> { (s, dir) =>
      // Strict ordered funnel (view -> click -> purchase): each stage's
      // entry time is the user's earliest qualifying event AFTER the
      // previous stage's entry. Shape at 100 TB: three column-pruned
      // passes over events, each a keyed min-agg; stage tables are
      // per-user one-row frames joined back by user_id (keyed equi-join,
      // AQE picks broadcast when a stage's survivors are small). No
      // window over the event log, no per-user event buffering — the
      // classic mistake here is collect_list(events) per user, which a
      // hot user turns into a straggler. The synthetic log is so dense
      // every user completes every stage — a vacuous funnel — so the
      // query runs on a deterministic 1-in-13 event subsample, which
      // yields a real drop-off shape (102 -> 46 -> 12 at sf0.01).
      val ev = Tables.events(s, dir)
        .where(col("event_id") % 13 === 0)
        .select(col("user_id"), col("event_type"), col("ts_ns"))
      val t1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_ns").as("t1"))
      val t2 = ev.where(col("event_type") === "click")
        .join(t1, "user_id").where(col("ts_ns") > col("t1"))
        .groupBy("user_id").agg(min("ts_ns").as("t2"))
      val t3 = ev.where(col("event_type") === "purchase")
        .join(t2, "user_id").where(col("ts_ns") > col("t2"))
        .groupBy("user_id").agg(min("ts_ns").as("t3"))
      def stage(df: DataFrame, n: Int, name: String) =
        df.agg(count(lit(1)).as("users"))
          .select(lit(n).cast("long").as("stage"), lit(name).as("stage_name"),
            col("users"))
      stage(t1, 1, "view").unionByName(stage(t2, 2, "click"))
        .unionByName(stage(t3, 3, "purchase"))
        .orderBy("stage")
    },

    "events_funnel_time" -> { (s, dir) =>
      // Time-to-convert distribution between funnel stages — the
      // question product analytics asks right after events_funnel's
      // "how many": how LONG from view to click, click to purchase.
      // Same three keyed min-agg stage frames (no per-user event
      // buffering); stage gaps quantize to MINUTES so each pair's gap
      // distribution is a bounded-cardinality histogram, and p50/p90
      // are EXACT ceil-rank order statistics from the cumulative walk
      // over that metadata frame (the events_winsorize discipline — no
      // corpus sort, no float percentile); the mean is one IEEE
      // division of exact int64 sums. Same 1-in-13 subsample as
      // events_funnel so the funnel has real drop-off.
      val ev = Tables.events(s, dir)
        .where(col("event_id") % 13 === 0)
        .select(col("user_id"), col("event_type"), col("ts_ns"))
      val t1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_ns").as("t1"))
      val t2 = ev.where(col("event_type") === "click")
        .join(t1, "user_id").where(col("ts_ns") > col("t1"))
        .groupBy("user_id").agg(min("ts_ns").as("t2"))
      val t3 = ev.where(col("event_type") === "purchase")
        .join(t2, "user_id").where(col("ts_ns") > col("t2"))
        .groupBy("user_id").agg(min("ts_ns").as("t3"))
      val g12 = t2.join(t1, "user_id")
        .select(lit("view_to_click").as("stage_pair"),
          expr("(t2 - t1) div 60000000000").as("gap_min"))
      val g23 = t3.join(t2, "user_id")
        .select(lit("click_to_purchase").as("stage_pair"),
          expr("(t3 - t2) div 60000000000").as("gap_min"))
      val gaps = g12.unionByName(g23)
      val hist = gaps.groupBy("stage_pair", "gap_min").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("stage_pair").orderBy("gap_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wcum))
      val tot = gaps.groupBy("stage_pair").agg(count(lit(1)).as("n"),
        sum("gap_min").as("sg"))
      val j = cum.join(tot, "stage_pair")
        .withColumn("r50", expr("(50 * n + 99) div 100"))
        .withColumn("r90", expr("(90 * n + 99) div 100"))
      val p50 = j.where(col("cum") >= col("r50"))
        .groupBy("stage_pair").agg(min("gap_min").as("p50_min"))
      val p90 = j.where(col("cum") >= col("r90"))
        .groupBy("stage_pair").agg(min("gap_min").as("p90_min"))
      tot.join(p50, "stage_pair").join(p90, "stage_pair")
        .select(col("stage_pair"), col("n"),
          (col("sg").cast("double") / col("n").cast("double")).as("mean_min"),
          col("p50_min"), col("p90_min"))
        .orderBy("stage_pair")
    },

    "events_attribution" -> { (s, dir) =>
      // Multi-touch conversion attribution (first-touch + last-touch) —
      // the marketing-analytics member of the events tier. Journeys are
      // segmented by a RUNNING purchase count per user (one window over
      // (user, time) — O(n), where the naive per-conversion lookback is a
      // user-keyed range join with quadratic per-user cost): a touch
      // belongs to journey j = #purchases before it, a purchase closes
      // journey (#purchases through it) - 1, so the purchase↔touches
      // match is a plain keyed equi-join on (user, journey). First/last
      // touch per journey via per-(user,journey) row_number windows —
      // fully parallel partitions; conversions with an empty journey
      // (back-to-back purchases) attribute to 'direct' through the LEFT
      // join + COALESCE. Counts are integers; ordering (ts_ns, event_id)
      // is total, so both engines pick identical touches.
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("cum",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), (col("cum") - 1).as("j"))
      val touch = ev.where(col("event_type") =!= "purchase")
        .withColumnRenamed("cum", "j")
      val wf = Window.partitionBy("user_id", "j").orderBy(col("ts_ns"), col("event_id"))
      val wl = Window.partitionBy("user_id", "j")
        .orderBy(col("ts_ns").desc, col("event_id").desc)
      val ft = touch.withColumn("rn", row_number().over(wf)).where(col("rn") === 1)
        .select(col("user_id"), col("j"), col("event_type").as("first_touch"))
      val lt = touch.withColumn("rn", row_number().over(wl)).where(col("rn") === 1)
        .select(col("user_id"), col("j"), col("event_type").as("last_touch"))
      purch
        .join(ft, Seq("user_id", "j"), "left")
        .join(lt, Seq("user_id", "j"), "left")
        .groupBy(coalesce(col("first_touch"), lit("direct")).as("first_touch"),
          coalesce(col("last_touch"), lit("direct")).as("last_touch"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("first_touch", "last_touch")
    },

    "events_retention" -> { (s, dir) =>
      // Weekly cohort retention: cohort = the user's first-activity week,
      // cell (cohort, offset) counts users active `offset` weeks later.
      // Week index is pure integer arithmetic on the epoch-nanos column —
      // replayable bit-for-bit in SQL, no engine week-numbering
      // conventions involved. Shape at 100 TB: one keyed min-agg for
      // cohorts, one (user, week) distinct (two-level hash agg), one
      // keyed join back, one small agg — the output is O(weeks^2) rows
      // regardless of corpus size.
      val wkNs = 604800000000000L // 7 * 86400 * 1e9
      // same 1-in-13 subsample as events_funnel: full density has every
      // user active every week, which would gate nothing
      val ev = Tables.events(s, dir)
        .where(col("event_id") % 13 === 0)
        .select(col("user_id"), expr(s"ts_ns div $wkNs").as("wk"))
      val cohorts = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      ev.distinct()
        .join(cohorts, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "week_offset")
    },

    "events_anomaly" -> { (s, dir) =>
      // Robust time-series anomaly detection on the event log: flag days
      // whose count deviates more than 6 MAD from the event type's median.
      // Median/MAD (not mean/stddev) because robust statistics survive the
      // very outliers they're asked to find — a planted 6x burst would drag
      // a mean-based threshold toward itself and mask its neighbors. The
      // synthetic log is Poisson-flat (no real bursts), so bursts are
      // planted deterministically (day % 17 == 5 gets 6x) — both engines
      // replay the plant, the medians, and the flags bit-identically
      // (counts are integers; interpolated medians are exact binary
      // fractions; 6*mad stays exact in IEEE doubles).
      // Shape at 100 TB: ONE corpus-sized keyed agg (event_type, day) with
      // map-side partials; everything after runs on the O(types x days)
      // daily frame — two tiny percentile aggs and two keyed joins that AQE
      // broadcasts. No window over the raw log, no per-day event buffering.
      val dayNs = 86400000000000L
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr(s"ts_ns div $dayNs").as("day"))
        .agg(count(lit(1)).as("raw_cnt"))
        .withColumn("cnt",
          col("raw_cnt") * when(col("day") % 17 === 5, lit(6L)).otherwise(lit(1L)))
        .drop("raw_cnt")
      val med = daily.groupBy("event_type")
        .agg(expr("percentile(cnt, 0.5)").as("med"))
      val withMed = daily.join(med, "event_type")
      val mad = withMed.groupBy("event_type")
        .agg(expr("percentile(abs(cnt - med), 0.5)").as("mad"))
      withMed.join(mad, "event_type")
        .select(col("event_type"), col("day"), col("cnt"), col("med"), col("mad"),
          (col("cnt") > col("med") + lit(6.0) * col("mad") ||
            col("cnt") < col("med") - lit(6.0) * col("mad")).as("is_anomaly"))
        .orderBy("event_type", "day")
    },

    "reshape_pivot" -> { (s, dir) =>
      // Long→wide pivot (the feature-matrix reshape every BI export and
      // per-entity feature build needs): one row per user, one column per
      // event type, cell = activity count. The value list is EXPLICIT —
      // `pivot(col, values)` plans ONE keyed aggregate with |values|
      // conditional cells (map-side partials, exactly the fused
      // conditional-sum shape of audit_constraints); the values-less
      // overload runs a whole extra distinct-collect job over the corpus
      // first, which is the wrong default at 100 TB when the column
      // domain is known (and pivoting on an UNBOUNDED domain is a schema
      // explosion no engine should perform silently).
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    },

    "events_ohlc" -> { (s, dir) =>
      // OHLC bar aggregation (the finance/metrics downsampling staple:
      // per (event_type, day), the OPEN = earliest value, CLOSE = latest,
      // HIGH/LOW = extrema, plus volume) as ONE keyed aggregate — open and
      // close via min_by/max_by on the (ts, event_id) total order packed
      // into a single struct (event_id breaks ts ties deterministically),
      // NOT a per-key sort or window: the exchange ships one combined row
      // per (task, key), the same argument as the TopOneWindowToMinMaxBy
      // optimizer rule, and the whole bar table is map-side-combining at
      // any scale. Values are DECIMAL(12,2)-exact; the DOUBLE casts on
      // the way out are bit-identical cross-engine.
      val dayNs = 86400000000000L
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr(s"ts_ns div $dayNs").as("day"), col("ts_ns"), col("event_id"),
        dec2(col("value")).as("v"))
      ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("volume"),
          min_by(col("v"), struct(col("ts_ns"), col("event_id"))).cast("double").as("open"),
          max(col("v")).cast("double").as("high"),
          min(col("v")).cast("double").as("low"),
          max_by(col("v"), struct(col("ts_ns"), col("event_id"))).cast("double").as("close"))
        .orderBy("event_type", "day")
    },

    "events_rolling_median" -> { (s, dir) =>
      // Rolling ORDER statistics (trailing 7-day median of daily counts —
      // the robust moving baseline events_gapfill's moving MEAN cannot
      // give; no engine has a median-over-moving-window operator, so the
      // window materializes as a bounded 7× self-expansion of the DAILY
      // frame — cover join on day offsets, the events_rolling_users
      // trick — and one exact interpolated percentile per (type, day)
      // group). Shape at 100 TB: the corpus pays ONE keyed agg to
      // O(types × days); the expansion and percentile run on that tiny
      // frame. percentile() interpolation matches DuckDB quantile_cont
      // bit-for-bit on integer counts (the events_anomaly precedent).
      val dayNs = 86400000000000L
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr(s"ts_ns div $dayNs").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val cover = daily.select(col("event_type"), col("cnt"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      daily.select("event_type", "day")
        .join(cover, Seq("event_type", "day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_window"),
          expr("percentile(cnt, 0.5)").as("med7"))
        .orderBy("event_type", "day")
    },

    "events_forecast" -> { (s, dir) =>
      // Seasonal-naive forecast + backtest (the baseline every real
      // forecasting system must beat, and the backtest harness that
      // proves it: forecast(type, d) = count(type, d−7), scored by MAE
      // over every day with a forecast). Weekly seasonality is the right
      // naive for event logs; the error arithmetic is all integers (SUM
      // of |cnt − lag7|) with ONE final IEEE division for the MAE, so
      // both engines replay the backtest bit-for-bit. Shape at 100 TB:
      // ONE corpus-sized keyed agg to the daily frame; the lag and the
      // scoring run on O(types × days) rows partitioned by type.
      val dayNs = 86400000000000L
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr(s"ts_ns div $dayNs").as("day"))
        .agg(count(lit(1)).as("cnt"))
      // calendar join (day − 7), not a row-lag: identical when days are
      // dense, but still exactly "same weekday last week" across gaps
      val fc = daily.select(col("event_type"), (col("day") + 7).as("day"),
        col("cnt").as("fc"))
      daily.join(fc, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days_scored"),
          sum(abs(col("cnt") - col("fc"))).as("total_abs_err"),
          max(abs(col("cnt") - col("fc"))).as("worst_abs_err"))
        .withColumn("mae",
          col("total_abs_err").cast("double") / col("n_days_scored"))
        .orderBy("event_type")
    },

    "reshape_quantile_norm" -> { (s, dir) =>
      // Quantile normalization (the cross-sample feature-prep operator
      // from bioinformatics/ML: force every group onto a common
      // distribution by replacing each value with the mean of its rank
      // across groups). Shape: one keyed window rank per group (total
      // order (cnt, day) so ties are deterministic), one rank-keyed agg
      // for the cross-group rank means, one join back on rank — two keyed
      // shuffles + a window, everything partitioned. Ranks present in
      // ALL groups only (the equal-length-or-drop rule, enforced by a
      // HAVING count = n_groups against a one-row broadcast); the rank
      // mean divides ONCE in IEEE from an exact BIGINT sum.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("cnt", "day")
      val ranked = daily.withColumn("rank", row_number().over(w))
      val nGroups = daily.select("event_type").distinct()
        .agg(count(lit(1)).as("n_groups"))
      val rankMeans = ranked.groupBy("rank")
        .agg(sum("cnt").as("rank_sum"), count(lit(1)).as("rank_n"))
        .crossJoin(broadcast(nGroups))
        .where(col("rank_n") === col("n_groups"))
        .select(col("rank"),
          (col("rank_sum").cast("double") / col("rank_n").cast("double")).as("norm"))
      ranked.join(rankMeans, "rank")
        .select(col("event_type"), col("day"), col("cnt"),
          col("rank").cast("long").as("rank"), col("norm"))
        .orderBy("event_type", "day")
    },

    "events_diversity" -> { (s, dir) =>
      // Concentration / diversity indices per event type — Herfindahl-
      // Hirschman (Σ share²) and its complement the Simpson diversity
      // index (Simpson 1949), the log-free diversity measures (Shannon
      // entropy needs libm and can never hash-compare): per-user counts
      // n_i stay BIGINT, HHI = Σn_i² / n² evaluates as ONE IEEE division
      // of int64-exact operands (n ≤ 1e7 at sf10 → n² = 1e14 < 2⁵³).
      // Shape: two stacked keyed aggs — (type, user) then type — both
      // map-side partial; nothing else.
      val byUser = Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("ni"))
      byUser.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"), sum("ni").as("n"),
          sum(col("ni") * col("ni")).as("s2"))
        .select(col("event_type"), col("n_users"), col("n"),
          (col("s2").cast("double") / (col("n") * col("n")).cast("double")).as("hhi"),
          (lit(1.0) - col("s2").cast("double") / (col("n") * col("n")).cast("double")).as("simpson"))
        .orderBy("event_type")
    },

    "ml_feature_hash" -> { (s, dir) =>
      // Feature hashing (the Weinberger 2009 hashing trick — fastText /
      // Vowpal Wabbit's encode): cross-features (event_type × user
      // cohort) hash into a FIXED 64-bucket space, the encode that keeps
      // feature dimensionality constant no matter how many raw
      // combinations exist. Map-only codegen'd md5 bucket derivation
      // (the hash60 convention, SQL-replayable) + ONE keyed agg over the
      // bounded bucket space: per bucket the row count, positive-label
      // count, and number of DISTINCT raw features mapped there —
      // the collision census that tells you whether 64 buckets is
      // enough. At 100 TB the agg state is 64 cells regardless of input.
      val ev = Tables.events(s, dir).select(
        concat(col("event_type"), lit("-"), (col("user_id") % 100).cast("string")).as("raw"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      ev.withColumn("bucket", pmod(Tf.hash60(concat(lit("fh-"), col("raw"))), lit(64L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), sum("label").as("n_pos"),
          countDistinct(col("raw")).as("n_features"))
        .orderBy("bucket")
    },

    "events_autocorr" -> { (s, dir) =>
      // Lag-k autocorrelation (k = 1..7) of each type's daily-count
      // series — the stationarity/seasonality diagnostic beside the
      // smoothing tier. ACF needs the MEAN inside every term; naive
      // (x−x̄) products are float-poisoned, so both engines evaluate the
      // cross-multiplied integer form: N_k = n²·Σx_t·x_{t+k}
      // − n·S·(H_k+T_k) + (n−k)·S² and D = n²·Σx² − n·S² (exact BIGINT —
      // ≈1e14 at sf10, well inside 2⁵³ so the final N/D division is one
      // correctly-rounded IEEE op on exactly-converted operands, bit-
      // identical cross-engine). Shape: corpus → ONE keyed daily agg;
      // lags ride 7 lead() columns over the O(types×days) metadata frame
      // (window cost bounded by days, never corpus); the k-unpivot is a
      // stack over that same tiny frame. Lags index the OBSERVED sample
      // sequence (day-ordered rows), not the calendar.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = (1 to 7).foldLeft(daily) { (df, k) =>
        df.withColumn(s"x$k", lead("x", k).over(w))
      }
      val totals = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("sxx"))
      val pairs = lagged.selectExpr("event_type", "x",
          "stack(7, 1L, x1, 2L, x2, 3L, x3, 4L, x4, 5L, x5, 6L, x6, 7L, x7) as (lag, xk)")
        .where(col("xk").isNotNull)
        .groupBy("event_type", "lag")
        .agg(sum(col("x") * col("xk")).as("sxy"),
          sum("x").as("hx"), sum("xk").as("tx"), count(lit(1)).as("m"))
      pairs.join(totals, "event_type")
        .withColumn("num", col("n") * col("n") * col("sxy") -
          col("n") * col("s") * (col("hx") + col("tx")) +
          col("m") * col("s") * col("s"))
        .withColumn("den", col("n") * col("n") * col("sxx") -
          col("n") * col("s") * col("s"))
        .select(col("event_type"), col("lag"), col("m").as("n_pairs"),
          (col("num").cast("double") / col("den").cast("double")).as("acf"))
        .orderBy("event_type", "lag")
    },

    "events_pacf" -> { (s, dir) =>
      // Partial autocorrelation at lags 1 and 2 via Durbin-Levinson —
      // the AR-order diagnostic beside events_autocorr's ACF (Box &
      // Jenkins: a cutoff in PACF after lag p identifies an AR(p)
      // process; ACF alone cannot separate direct from propagated
      // dependence). φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²), and with the
      // exact cross-multiplied integer forms r_k = N_k/D of the ACF lane
      // sharing ONE denominator, it folds to the exact rational
      // (N2·D − N1²)/(D² − N1²) — numerator/denominator ~1e28 at sf10
      // via the DECIMAL(19,0)×(19,0)→(38,0) promotion, ONE IEEE division
      // (decimal→double replays DuckDB's HUGEINT→VARCHAR→DOUBLE parse —
      // the sample_neyman convention). Shape: corpus → ONE keyed daily
      // agg; everything after runs on the O(types×days) metadata frame.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = daily
        .withColumn("x1", lead("x", 1).over(w))
        .withColumn("x2", lead("x", 2).over(w))
      val totals = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("sxx"))
      val pairs = lagged.selectExpr("event_type", "x",
          "stack(2, 1L, x1, 2L, x2) as (lag, xk)")
        .where(col("xk").isNotNull)
        .groupBy("event_type", "lag")
        .agg(sum(col("x") * col("xk")).as("sxy"),
          sum("x").as("hx"), sum("xk").as("tx"), count(lit(1)).as("m"))
      // the INTEGER FORMS ride the d19 DECIMAL promotion from the start
      // (not just the phi22 products): the middle term n·s·(hx+tx) is
      // within ~2× of int64 max at sf10, so a denser generator would
      // overflow plain BIGINT before the documented DECIMAL stage
      def d19(c: Column) = c.cast("decimal(19,0)")
      val nk = pairs.join(totals, "event_type")
        .withColumn("num", d19(col("n")) * d19(col("n")) * d19(col("sxy")) -
          d19(col("n")) * d19(col("s")) * (d19(col("hx")) + d19(col("tx"))) +
          d19(col("m")) * d19(col("s")) * d19(col("s")))
        .withColumn("den", d19(col("n")) * d19(col("n")) * d19(col("sxx")) -
          d19(col("n")) * d19(col("s")) * d19(col("s")))
      val wide = nk.groupBy("event_type")
        .agg(max("n").as("n_days"),
          max(when(col("lag") === 1L, col("num"))).as("n1"),
          max(when(col("lag") === 2L, col("num"))).as("n2"),
          max("den").as("d"))
      wide.select(col("event_type"), col("n_days"),
          (col("n1").cast("double") / col("d").cast("double")).as("r1"),
          (col("n2").cast("double") / col("d").cast("double")).as("r2"),
          when(col("d") * col("d") - col("n1") * col("n1") === 0,
            lit(null).cast("double"))
            .otherwise(
              (col("n2") * col("d") - col("n1") * col("n1")).cast("double")
                / (col("d") * col("d") - col("n1") * col("n1")).cast("double"))
            .as("phi22"))
        .orderBy("event_type")
    },

    "events_ar_fit" -> { (s, dir) =>
      // AR(3) model fit via Yule-Walker solved by Durbin-Levinson — the
      // lane the diagnostics point at: events_autocorr reads off the ACF,
      // events_pacf the AR order, this FITS the model (Box & Jenkins'
      // identification → estimation step). The Toeplitz solve unrolls to
      // a FIXED chain of IEEE ops over r1, r2, r3 (each rk = N_k/D, ONE
      // division of exact cross-multiplied integer autocovariances — the
      // autocorr/pacf integer forms on the d19 DECIMAL promotion):
      //   φ11 = r1,            φ22 = (r2 − r1²)/(1 − r1²)
      //   φ21 = φ11 − φ22·φ11
      //   φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2)
      //   a1 = φ21 − φ33·φ22,  a2 = φ22 − φ33·φ21,  a3 = φ33
      //   var_ratio = (1−φ11²)(1−φ22²)(1−φ33²)   (innovation σ²/γ₀)
      // Every intermediate is a deterministic double expression tree
      // replayed verbatim by the oracle — no sum whose order an engine
      // could pick. Degenerate series (|r1| = 1 or a zero D-L
      // denominator) yield NULL coefficients identically. Shape: corpus
      // → ONE keyed daily agg; lags ride 3 lead() columns over the
      // O(types×days) metadata frame (the autocorr discipline).
      arCoefs(s, dir)
        .select(col("event_type"), col("n_days"),
          col("r1"), col("r2"), col("r3"),
          (col("phi21") - col("phi33") * col("phi22")).as("a1"),
          (col("phi22") - col("phi33") * col("phi21")).as("a2"),
          col("phi33").as("a3"),
          ((lit(1.0) - col("r1") * col("r1"))
            * (lit(1.0) - col("phi22") * col("phi22"))
            * (lit(1.0) - col("phi33") * col("phi33"))).as("var_ratio"))
        .orderBy("event_type")
    },

    "events_ljungbox" -> { (s, dir) =>
      // Ljung-Box portmanteau white-noise test (Ljung & Box 1978) at
      // lags 1..7 — the residual-diagnostic that closes the
      // identify → fit → CHECK loop of the Box-Jenkins tier:
      // Q = n(n+2)·Σ_k r_k²/(n−k), reject H₀(white noise) when Q exceeds
      // the χ²(7) 95% critical value 14.067140449340169 (a LITERAL both
      // engines compare against — no quantile function needed). Each r_k
      // is the autocorr lane's exact integer form N_k/D (d19 DECIMAL
      // promotion), and the 7-term sum is unrolled STATICALLY in fixed k
      // order — ((((((t1+t2)+t3)+t4)+t5)+t6)+t7), no order-choosable
      // aggregation anywhere. Shape: corpus → ONE keyed daily agg;
      // everything else on the O(types×days) metadata frame.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = (1 to 7).foldLeft(daily) { (df, k) =>
        df.withColumn(s"x$k", lead("x", k).over(w))
      }
      val totals = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("sxx"))
      def d19(c: Column) = c.cast("decimal(19,0)")
      val pairs = lagged.selectExpr("event_type", "x",
          "stack(7, 1L, x1, 2L, x2, 3L, x3, 4L, x4, 5L, x5, 6L, x6, 7L, x7) as (lag, xk)")
        .where(col("xk").isNotNull)
        .groupBy("event_type", "lag")
        .agg(sum(col("x") * col("xk")).as("sxy"),
          sum("x").as("hx"), sum("xk").as("tx"), count(lit(1)).as("m"))
      val nk = pairs.join(totals, "event_type")
        .withColumn("num", d19(col("n")) * d19(col("n")) * d19(col("sxy")) -
          d19(col("n")) * d19(col("s")) * (d19(col("hx")) + d19(col("tx"))) +
          d19(col("m")) * d19(col("s")) * d19(col("s")))
        .withColumn("den", d19(col("n")) * d19(col("n")) * d19(col("sxx")) -
          d19(col("n")) * d19(col("s")) * d19(col("s")))
      val wide = nk.groupBy("event_type")
        .agg(max("n").as("n_days"),
          (1 to 7).map(k =>
            max(when(col("lag") === k.toLong, col("num"))).as(s"n$k"))
            :+ max("den").as("d"): _*)
      val rk = (1 to 7).map(k =>
        (col(s"n$k").cast("double") / col("d").cast("double")).as(s"r$k"))
      val withR = wide.select(Seq(col("event_type"), col("n_days")) ++ rk: _*)
      val terms = (1 to 7).map(k =>
        col(s"r$k") * col(s"r$k")
          / (col("n_days") - lit(k.toLong)).cast("double"))
      val qsum = terms.reduce(_ + _) // left fold: fixed k order
      withR.select(col("event_type"), col("n_days"),
          (col("n_days").cast("double") * (col("n_days") + 2L).cast("double")
            * qsum).as("q_lb"))
        .withColumn("df", lit(7L))
        .withColumn("reject_white_noise", col("q_lb") > lit(14.067140449340169))
        .orderBy("event_type")
    },

    "events_ar_backtest" -> { (s, dir) =>
      // One-step-ahead IN-SAMPLE backtest of the AR(3) fit against the
      // naive lag-1 forecast — the "did fitting buy anything" check that
      // closes fit → CHECK beside events_ljungbox's residual test. Per
      // type: x̂_t = μ + a1(x_{t−1}−μ) + a2(x_{t−2}−μ) + a3(x_{t−3}−μ)
      // on the rows with all 3 lags present (coefficients from the
      // shared arCoefs chain, a 5-ROW broadcast join), AR SSE folded in
      // DAY order (sort_array + aggregate ↔ the oracle's SUM(sq ORDER BY
      // day) — both sequential IEEE folds, the betweenness-δ machinery),
      // while the NAIVE SSE Σ(x_t − x_{t−1})² is exact BIGINT (~1.5e12
      // at sf10). A degenerate type (NULL coefficients) yields NULL
      // sse_ar identically: Spark's fold hits acc + null, DuckDB's SUM
      // sees an all-NULL group. Shape: corpus → ONE keyed daily agg;
      // scoring is a window + broadcast join on the O(types×days) frame.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = daily
        .withColumn("xm1", lag("x", 1).over(w))
        .withColumn("xm2", lag("x", 2).over(w))
        .withColumn("xm3", lag("x", 3).over(w))
        .where(col("xm3").isNotNull)
      val coefs = arCoefs(s, dir).select(col("event_type"), col("mu"),
        (col("phi21") - col("phi33") * col("phi22")).as("a1"),
        (col("phi22") - col("phi33") * col("phi21")).as("a2"),
        col("phi33").as("a3"))
      lagged.join(broadcast(coefs), "event_type")
        .withColumn("pred",
          col("mu")
            + col("a1") * (col("xm1").cast("double") - col("mu"))
            + col("a2") * (col("xm2").cast("double") - col("mu"))
            + col("a3") * (col("xm3").cast("double") - col("mu")))
        .withColumn("sq",
          (col("pred") - col("x").cast("double"))
            * (col("pred") - col("x").cast("double")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pred"),
          aggregate(
            sort_array(collect_list(struct(col("day"), col("sq")))),
            lit(0.0),
            (acc, t) => acc + t.getField("sq")).as("sse_ar"),
          sum((col("x") - col("xm1")) * (col("x") - col("xm1")))
            .as("sse_naive"))
        .withColumn("improved", col("sse_ar") < col("sse_naive").cast("double"))
        .orderBy("event_type")
    },

    "events_granger" -> { (s, dir) =>
      // Pairwise Granger causality census (Granger 1969) over the
      // event-type daily series — "does X's activity PREDICT Y's?" for
      // all 20 ordered type pairs, the cross-series member of the
      // time-series tier (everything before this lane is univariate).
      // Per pair: restricted y_t = c + a·y_{t−1} vs unrestricted
      // y_t = b0 + b1·y_{t−1} + b2·x_{t−1}; F = (SSE_r − SSE_u)(n−3)/SSE_u,
      // asymptotic 95% decision vs the χ²₁ literal 3.8414588206941245.
      // Exactness discipline: every Gram sum is exact BIGINT from ONE
      // keyed agg over the day-aligned pair frame; the unrestricted
      // 3×3 normal equations solve by Cramer with DECIMAL(38,0)
      // determinants (EXACT, so association is irrelevant; ≤ ~3e35,
      // inside both (38,0) and HUGEINT) — each coefficient is then ONE
      // double division; both SSEs fold residual² in DAY order
      // (sort_array+aggregate ↔ SUM(sq ORDER BY day)). Singular pairs
      // (det = 0) yield NULL F identically. Shape: corpus → ONE keyed
      // daily agg; the pair frame is O(types² × days) metadata.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = daily.withColumn("xm1", lag("x", 1).over(w))
        .where(col("xm1").isNotNull)
      val ySide = lagged.select(col("event_type").as("y_type"), col("day"),
        col("x").as("y"), col("xm1").as("u"))
      val xSide = lagged.select(col("event_type").as("x_type"), col("day"),
        col("xm1").as("v"))
      val frame = ySide.join(xSide, "day")
        .where(col("x_type") =!= col("y_type"))
      val sums = frame.groupBy("x_type", "y_type").agg(
        count(lit(1)).as("n"),
        sum("y").as("sy"), sum("u").as("su"), sum("v").as("sv"),
        sum(col("u") * col("u")).as("suu"),
        sum(col("v") * col("v")).as("svv"),
        sum(col("u") * col("v")).as("suv"),
        sum(col("u") * col("y")).as("suy"),
        sum(col("v") * col("y")).as("svy"))
      def d19(c: Column) = c.cast("decimal(19,0)")
      // 3×3 Cramer over the Gram matrix [[n,su,sv],[su,suu,suv],[sv,suv,svv]]
      def det3(a11: Column, a12: Column, a13: Column,
          a21: Column, a22: Column, a23: Column,
          a31: Column, a32: Column, a33: Column): Column =
        d19(a11) * (d19(a22) * d19(a33) - d19(a23) * d19(a32)) -
          d19(a12) * (d19(a21) * d19(a33) - d19(a23) * d19(a31)) +
          d19(a13) * (d19(a21) * d19(a32) - d19(a22) * d19(a31))
      val coefs = sums
        .withColumn("det", det3(col("n"), col("su"), col("sv"),
          col("su"), col("suu"), col("suv"), col("sv"), col("suv"), col("svv")))
        .withColumn("det0", det3(col("sy"), col("su"), col("sv"),
          col("suy"), col("suu"), col("suv"), col("svy"), col("suv"), col("svv")))
        .withColumn("det1", det3(col("n"), col("sy"), col("sv"),
          col("su"), col("suy"), col("suv"), col("sv"), col("svy"), col("svv")))
        .withColumn("det2", det3(col("n"), col("su"), col("sy"),
          col("su"), col("suu"), col("suy"), col("sv"), col("suv"), col("svy")))
        .withColumn("detr",
          d19(col("n")) * d19(col("suu")) - d19(col("su")) * d19(col("su")))
        .select(col("x_type"), col("y_type"), col("n"), col("sy"), col("su"),
          when(col("det") === 0, lit(null).cast("double"))
            .otherwise(col("det0").cast("double") / col("det").cast("double")).as("b0"),
          when(col("det") === 0, lit(null).cast("double"))
            .otherwise(col("det1").cast("double") / col("det").cast("double")).as("b1"),
          when(col("det") === 0, lit(null).cast("double"))
            .otherwise(col("det2").cast("double") / col("det").cast("double")).as("b2"),
          when(col("detr") === 0, lit(null).cast("double"))
            .otherwise(
              (d19(col("n")) * d19(col("suy")) - d19(col("su")) * d19(col("sy")))
                .cast("double") / col("detr").cast("double")).as("ar"))
        .withColumn("cr",
          (col("sy").cast("double") - col("ar") * col("su").cast("double"))
            / col("n").cast("double"))
      val scored = frame.join(broadcast(coefs), Seq("x_type", "y_type"))
        .withColumn("pred_u",
          col("b0") + col("b1") * col("u").cast("double")
            + col("b2") * col("v").cast("double"))
        .withColumn("pred_r", col("cr") + col("ar") * col("u").cast("double"))
        .withColumn("squ",
          (col("y").cast("double") - col("pred_u"))
            * (col("y").cast("double") - col("pred_u")))
        .withColumn("sqr",
          (col("y").cast("double") - col("pred_r"))
            * (col("y").cast("double") - col("pred_r")))
      scored.groupBy("x_type", "y_type")
        .agg(max("n").as("n"),
          aggregate(
            sort_array(collect_list(struct(col("day"), col("squ")))),
            lit(0.0), (acc, t) => acc + t.getField("squ")).as("sse_u"),
          aggregate(
            sort_array(collect_list(struct(col("day"), col("sqr")))),
            lit(0.0), (acc, t) => acc + t.getField("sqr")).as("sse_r"))
        .select(col("x_type"), col("y_type"), col("n"),
          col("sse_r"), col("sse_u"),
          ((col("sse_r") - col("sse_u"))
            * (col("n") - 3L).cast("double") / col("sse_u")).as("f_stat"))
        .withColumn("granger_cause", col("f_stat") > lit(3.8414588206941245))
        .orderBy("x_type", "y_type")
    },

    "events_trend" -> { (s, dir) =>
      // Mann-Kendall trend test + Theil-Sen slope per event type — the
      // nonparametric trend member beside the smoothing/forecast tier
      // (Mann 1945, Kendall 1948; Theil 1950, Sen 1968). Both statistics
      // are PAIRWISE over the daily series, which at any SF is an
      // O(types × days²) metadata frame (30 days here → 435 pairs per
      // type): the corpus pays ONE keyed daily agg and never appears in
      // the pairwise join. S = Σ sign(y_j − y_i) is pure integer, as is
      // the direction decision S > 0; Kendall tau-a = S / (n(n−1)/2)
      // is one IEEE division of exact operands. The Theil-Sen MEDIAN of
      // pairwise slopes needs a total order over rationals — both engines
      // order by the IEEE double (y_j−y_i)/(d_j−d_i) (identical
      // bit-for-bit: exact int→double conversions, one correctly-rounded
      // division) with (d_i, d_j) tie-break, then pick ceil-median
      // rn = (m+1) div 2 — deterministic cross-engine even when distinct
      // rationals collide in double.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day")
        .agg(sum(expr("cast(cast(value as decimal(12,2)) * 100 as bigint)")).as("y"))
      val a = daily.select(col("event_type"), col("day").as("d1"), col("y").as("y1"))
      val b = daily.select(col("event_type"), col("day").as("d2"), col("y").as("y2"))
      val pairs = a.join(b, Seq("event_type")).where(col("d1") < col("d2"))
        .withColumn("sgn", when(col("y2") > col("y1"), 1L)
          .when(col("y2") < col("y1"), -1L).otherwise(0L))
        .withColumn("slope",
          (col("y2") - col("y1")).cast("double") / (col("d2") - col("d1")).cast("double"))
      val wm = Window.partitionBy("event_type")
        .orderBy(col("slope"), col("d1"), col("d2"))
      val ranked = pairs.withColumn("rn", row_number().over(wm))
      val stats = pairs.groupBy("event_type")
        .agg(sum("sgn").as("s"), count(lit(1)).as("m"))
      val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      val med = ranked.join(stats.select(col("event_type"), col("m")), "event_type")
        .where(col("rn") === expr("(m + 1) div 2"))
        .select(col("event_type"), col("slope").as("theil_sen_slope"))
      stats.join(nd, "event_type").join(med, "event_type")
        .select(col("event_type"), col("n_days"), col("s"),
          (col("s").cast("double") / col("m").cast("double")).as("tau"),
          col("theil_sen_slope"), (col("s") > 0L).as("trending_up"))
        .orderBy("event_type")
    },

    "events_seasonality" -> { (s, dir) =>
      // Day-of-week seasonal index per event type — the seasonality
      // census beside holtwinters' smoothing: index(dow) =
      // (mean revenue on that dow) / (overall mean) as the exact
      // rational sum_dow·n_all / (n_dow·sum_all), shipped as ONE IEEE
      // division of int64-exact products (≤ ~2.5e17 at sf10 — inside
      // int64, and int64→double conversion is correctly rounded on both
      // engines; only int128 needs the VARCHAR-parse detour). The
      // above-average flag is the same comparison kept in pure integers.
      // ONE keyed corpus agg into the 35-cell (type, dow) frame; totals
      // ride a keyed metadata join.
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("cents"))
      val cells = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      val tot = cells.groupBy("event_type")
        .agg(sum("n_events").as("n_all"), sum("sum_cents").as("sum_all"))
      cells.join(tot, "event_type")
        .select(col("event_type"), col("dow"), col("n_events"),
          ((col("sum_cents") * col("n_all")).cast("double") /
            (col("n_events") * col("sum_all")).cast("double")).as("seasonal_index"),
          (col("sum_cents") * col("n_all") > col("n_events") * col("sum_all"))
            .as("above_average"))
        .orderBy("event_type", "dow")
    },

    "survival_km" -> { (s, dir) =>
      // Kaplan-Meier survival curves per market segment (Kaplan & Meier
      // 1958) — the churn/retention operator: subject = customer,
      // duration = days between first and last order, death = churned
      // (last order before 2001-01-01), otherwise right-censored. The
      // corpus collapses in ONE keyed per-customer agg; everything after
      // lives on the O(segments × distinct-durations) metadata frame
      // (day-domain-bounded, ≤ ~2400 cells/segment at ANY scale): at-risk
      // counts n_t = N − Σ_{t'<t} exits via a cumulative window, and the
      // KM product Π(1 − d/n) folds over the sorted death times with an
      // aggregate HOF. The product is IEEE but DETERMINISTIC: both
      // engines evaluate s · (double(n−d) / double(n)) in the same
      // sorted order — one division + one multiplication per step, each
      // correctly rounded — so the curve hash-compares (the events_holt
      // recurrence-replay discipline, with doubles in a fixed operation
      // order instead of integers). Oracle walks the same recurrence via
      // recursive CTE.
      val cutoff = "2001-01-01"
      val life = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("n_orders"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment")),
          "o_custkey")
        .select(col("segment"), datediff(col("last_d"), col("first_d")).cast("long").as("t"),
          when(col("last_d") < lit(cutoff).cast("date"), 1L).otherwise(0L).as("e"))
      val cells = life.groupBy("segment", "t")
        .agg(sum("e").as("d"), count(lit(1)).as("tot"))
      val wseg = Window.partitionBy("segment").orderBy("t")
      val atRisk = cells
        .withColumn("nseg", sum("tot").over(Window.partitionBy("segment")))
        .withColumn("cumb", coalesce(sum("tot").over(
          wseg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", col("nseg") - col("cumb"))
        .where(col("d") > 0L)
        .select("segment", "t", "d", "n")
      atRisk.groupBy("segment")
        .agg(sort_array(collect_list(struct(col("t"), col("d"), col("n")))).as("xs"))
        .select(col("segment"), explode(expr(
          """aggregate(xs,
            |  struct(cast(1.0 as double) as s,
            |    cast(array() as array<struct<t:bigint,d:bigint,n:bigint,surv:double>>) as out),
            |  (acc, x) -> struct(
            |    acc.s * (cast(x.n - x.d as double) / cast(x.n as double)) as s,
            |    concat(acc.out, array(struct(x.t as t, x.d as d, x.n as n,
            |      acc.s * (cast(x.n - x.d as double) / cast(x.n as double)) as surv))) as out),
            |  acc -> acc.out)""".stripMargin)).as("r"))
        .select(col("segment"), col("r.t").as("t_days"), col("r.d").as("n_deaths"),
          col("r.n").as("n_at_risk"), col("r.surv").as("survival"))
        .orderBy("segment", "t_days")
    },

    "survival_na" -> { (s, dir) =>
      // Nelson-Aalen cumulative hazard (Nelson 1972, Aalen 1978) — the
      // estimator reported beside Kaplan-Meier: where KM multiplies
      // survival factors, NA SUMS the per-death-time hazard increments
      // d/n, and is the better-behaved quantity when hazards are the
      // object of interest (H(t) = Σ_{t_i ≤ t} d_i/n_i; KM ≈ exp(−H)).
      // Same corpus shape as survival_km: ONE keyed per-customer agg,
      // then the O(segments × distinct-durations) metadata frame; the
      // cumulative sum folds in ascending-t left-associated order — each
      // step ONE correctly-rounded IEEE division plus ONE addition on
      // exact-int operands, so the curve hash-compares (the KM
      // fixed-order-double discipline; a window SUM would NOT gate here:
      // DuckDB's segment-tree windowed aggregation is free to
      // re-associate the float additions). Oracle replays the recurrence
      // via recursive CTE.
      val cutoff = "2001-01-01"
      val life = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment")),
          "o_custkey")
        .select(col("segment"), datediff(col("last_d"), col("first_d")).cast("long").as("t"),
          when(col("last_d") < lit(cutoff).cast("date"), 1L).otherwise(0L).as("e"))
      val cells = life.groupBy("segment", "t")
        .agg(sum("e").as("d"), count(lit(1)).as("tot"))
      val wseg = Window.partitionBy("segment").orderBy("t")
      val atRisk = cells
        .withColumn("nseg", sum("tot").over(Window.partitionBy("segment")))
        .withColumn("cumb", coalesce(sum("tot").over(
          wseg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", col("nseg") - col("cumb"))
        .where(col("d") > 0L)
        .select("segment", "t", "d", "n")
      atRisk.groupBy("segment")
        .agg(sort_array(collect_list(struct(col("t"), col("d"), col("n")))).as("xs"))
        .select(col("segment"), explode(expr(
          """aggregate(xs,
            |  struct(cast(0.0 as double) as h,
            |    cast(array() as array<struct<t:bigint,d:bigint,n:bigint,ch:double>>) as out),
            |  (acc, x) -> struct(
            |    acc.h + (cast(x.d as double) / cast(x.n as double)) as h,
            |    concat(acc.out, array(struct(x.t as t, x.d as d, x.n as n,
            |      acc.h + (cast(x.d as double) / cast(x.n as double)) as ch))) as out),
            |  acc -> acc.out)""".stripMargin)).as("r"))
        .select(col("segment"), col("r.t").as("t_days"), col("r.d").as("n_deaths"),
          col("r.n").as("n_at_risk"), col("r.ch").as("cum_hazard"))
        .orderBy("segment", "t_days")
    },

    "customer_rfm" -> { (s, dir) =>
      // RFM segmentation census — the classic marketing scoring: each
      // customer's Recency (days from last order to the 2001-08-01 data
      // horizon), Frequency (order count), Monetary (lifetime cents)
      // quintiled WITHIN its market segment via ntile(5) over a total
      // order (metric, custkey) — deterministic cross-engine because
      // SQL's ntile bucket-sizing rule (ceil for the first n mod b
      // buckets) is standard, and the tie-break makes the input order
      // total. Output is the 125-cell (r,f,m) census per segment with
      // exact BIGINT monetary sums — bounded output at any scale. The
      // windows partition by segment (not unpartitioned — the
      // PlanHygieneSpec rule); at extreme scale per-segment quintile
      // BOUNDARIES via the histogram walk (events_winsorize) would
      // replace the full-sort ntile, noted here as the 100 TB escalation
      // path.
      val per = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("freq"),
          sum(expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)")).as("cents"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment")),
          "o_custkey")
        .withColumn("recency", datediff(lit("2001-08-01").cast("date"), col("last_d")).cast("long"))
      val scored = per
        .withColumn("r_q", ntile(5).over(Window.partitionBy("segment")
          .orderBy(col("recency"), col("o_custkey"))))
        .withColumn("f_q", ntile(5).over(Window.partitionBy("segment")
          .orderBy(col("freq").desc, col("o_custkey"))))
        .withColumn("m_q", ntile(5).over(Window.partitionBy("segment")
          .orderBy(col("cents").desc, col("o_custkey"))))
        .select(col("segment"), col("r_q").cast("long").as("r_q"),
          col("f_q").cast("long").as("f_q"), col("m_q").cast("long").as("m_q"),
          col("cents"))
      scored.groupBy("segment", "r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_customers"), sum("cents").as("sum_monetary_cents"))
        .orderBy("segment", "r_q", "f_q", "m_q")
    },

    "profile_benford" -> { (s, dir) =>
      // Benford first-digit law audit (Benford 1938; Newcomb 1881) over
      // order totals — the fraud/data-quality screen beside
      // profile_table/profile_drift. Expected proportions log10(1+1/d)
      // are irrational, so the SPEC fixes them as scaled-integer ppb
      // constants (the defined approximation makes every comparison
      // exact arithmetic on published numbers). Per-digit chi-square
      // terms (O·1e9 − N·E_d)² / (1e9·N·E_d) carry exact DECIMAL(38,0)
      // numerators (peak ~4e33 at sf10, inside 38 digits; DuckDB replays
      // via HUGEINT + VARCHAR-parse conversion — the events_abtest
      // lesson) and finish as ONE IEEE division each; the χ² total is a
      // fixed-order fold over the 9-digit frame (the survival_km
      // discipline: identical operation order ⟹ identical rounding ⟹
      // hash-equal doubles), compared to the df=8 α=0.05 critical value
      // 15.507313 as a defined constant. Corpus cost: ONE map + keyed
      // count into 9 cells; everything else is digit-frame scalar math.
      import s.implicits._
      val exp = Seq((1L, 301029996L), (2L, 176091259L), (3L, 124938737L),
        (4L, 96910013L), (5L, 79181246L), (6L, 66946790L),
        (7L, 57991947L), (8L, 51152522L), (9L, 45757491L))
        .toDF("digit", "e_ppb")
      val obs = Tables.orders(s, dir)
        .select(substring(expr(
          "cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint) as string)"),
          1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      // Both scalar frames (the corpus count and the chi-square total)
      // are ONE ROW — ride the q11_important_parts convention:
      // crossJoin(broadcast(oneRow)), never a constant-literal equi-key
      // (Catalyst folds lit(1)=lit(1) to `true` and plans a cartesian).
      val tot = obs.agg(sum("n_obs").as("n"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val terms = obs.crossJoin(broadcast(tot)).join(exp, "digit")
        .withColumn("diff", d38(col("n_obs") * lit(1000000000L)) -
          d38(col("n") * col("e_ppb")))
        .withColumn("den", d38(lit(1000000000L)) * d38(col("n")) * d38(col("e_ppb")))
        .withColumn("term", (col("diff") * col("diff")).cast("double") /
          col("den").cast("double"))
      val chi2 = terms
        .agg(sort_array(collect_list(struct(col("digit"), col("term")))).as("xs"))
        .select(expr(
          "aggregate(xs, cast(0.0 as double), (acc, x) -> acc + x.term)").as("chi2"))
      terms.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n_obs"),
          (col("n") * col("e_ppb")).as("expected_x1e9"), col("term"),
          col("chi2"), (!(col("chi2") > lit(15.507313d))).as("conforms"))
        .orderBy("digit")
    },

    "orders_pareto" -> { (s, dir) =>
      // ABC / Pareto revenue classification (the 80/95 concentration
      // census inventory analytics runs on every catalog): parts ranked
      // by revenue, class A = parts within the first 80% of cumulative
      // revenue, B to 95%, C the tail. The fact table collapses in ONE
      // keyed agg (revenue in exact 1e-4-dollar BIGINT units — the
      // (12,2)×(4,2) decimal product is integral at scale 4, so the
      // cast rounds nothing); the global cumulative sum that a naive
      // plan runs as a SINGLE-PARTITION window decomposes by REVENUE
      // BAND (rev div 2²⁸): per-band totals are one keyed agg, the
      // ~hundreds-row band table prefixes driver-side (the PrefixSum
      // bounded-metadata pattern), offsets broadcast back, and the
      // within-band running sum windows PARTITIONED by band — band
      // ranges are disjoint in rev, so band-desc + (rev desc, pk)
      // within-band IS the global order. Class cuts are exact integer
      // cross-multiplications (cum·5 ≤ total·4; cum·20 ≤ total·19);
      // the one IEEE division is the reported share.
      val per = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("pk"),
          (dec2(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))
            * lit(10000)).cast("long").as("rev"))
        .groupBy("pk").agg(sum("rev").as("rev"))
      val tot = per.agg(sum("rev").as("trev"))
      val banded = per.withColumn("band", expr("rev div 268435456"))
      val bands = banded.groupBy("band").agg(sum("rev").as("brev"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(-_._1) // descending band = descending revenue range
      val before = bands.map(_._1).zip(bands.scanLeft(0L)(_ + _._2))
      val offsets = {
        import s.implicits._
        before.toSeq.toDF("band", "cum_before")
      }
      val w = Window.partitionBy("band")
        .orderBy(col("rev").desc, col("pk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      banded.join(broadcast(offsets), Seq("band"))
        .withColumn("cum", col("cum_before") + sum("rev").over(w))
        .crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("cum") * 5 <= col("trev") * 4, "A")
            .when(col("cum") * 20 <= col("trev") * 19, "B")
            .otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("class_rev"),
          max("trev").as("trev"))
        .select(col("abc_class"), col("n_parts"), col("class_rev"),
          (col("class_rev").cast("double") / col("trev").cast("double"))
            .as("share"))
        .orderBy("abc_class")
    },

    "orders_itemsim" -> { (s, dir) =>
      // Item-item co-occurrence similarity over order baskets — the
      // recommender-system primitive ("customers who bought X also
      // bought Y"): part pairs scored by cosine cooc/√(f_a·f_b) and lift
      // cooc·N/(f_a·f_b). The 100 TB shape is the whole point: the
      // self-join keys on ORDER (candidate pairs bounded by basket size²
      // per order — linear in the corpus), never on part — the all-pairs
      // part×part frame is never materialized, exactly the
      // dedup_allpairs discipline. (orderkey, partkey) dedups first so a
      // part listed on two lines of one order counts once; cooc/freqs
      // are exact BIGINT, cosine finishes in profile_correlation's
      // pinned IEEE order double(cooc)/(sqrt(fa)·sqrt(fb)), lift's
      // numerator/denominator products stay int64 (cooc·N ≤ ~1e14 at
      // sf10). Top-20 by (cooc desc, pa, pb) total order.
      // the deduped (order, part) incidence feeds four consumers (both
      // self-join sides, the part frequencies, the order count).
      // MEASURED NEGATIVE at sf10: persisting it (the Dedup
      // signature-table pattern) is 48.2 s vs 45.7 s recomputed —
      // columnar parquet rescans + map-side-partial distincts are
      // cheaper than materializing and re-reading 60M cached rows, and
      // the basket pair join dominates either way. Left recomputed.
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val freq = op.groupBy("pk").agg(count(lit(1)).as("f"))
      val nOrders = op.agg(countDistinct("ok").as("n_orders"))
      val a = op.select(col("ok"), col("pk").as("pa"))
      val b = op.select(col("ok"), col("pk").as("pb"))
      val cooc = a.join(b, Seq("ok")).where(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("cooc"))
      cooc
        .join(freq.select(col("pk").as("pa"), col("f").as("fa")), Seq("pa"))
        .join(freq.select(col("pk").as("pb"), col("f").as("fb")), Seq("pb"))
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("cooc"), col("fa"), col("fb"),
          (col("cooc").cast("double") /
            (sqrt(col("fa").cast("double")) * sqrt(col("fb").cast("double"))))
            .as("cosine"),
          ((col("cooc") * col("n_orders")).cast("double") /
            (col("fa") * col("fb")).cast("double")).as("lift"))
        .orderBy(col("cooc").desc, col("pa"), col("pb"))
        .limit(20)
    },

    "orders_order_gap" -> { (s, dir) =>
      // Inter-purchase cadence per market segment (the replenishment
      // metric retention teams set reminder/winback timers from): days
      // between a customer's consecutive orders via ONE lag window
      // partitioned BY CUSTOMER over (date, orderkey) — O(orders), never
      // a per-customer range join — then gaps collapse to a bounded
      // per-(segment, days) histogram where p50/p90 are EXACT ceil-rank
      // order statistics from the cumulative walk (the
      // events_funnel_time discipline) and the mean is one IEEE division
      // of exact int64 sums.
      val ord = Tables.orders(s, dir)
        .join(Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment")),
          "o_custkey")
        .select(col("segment"), col("o_custkey"),
          to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
      val gaps = ord
        .withColumn("prev_d", lag("d", 1).over(w))
        .where(col("prev_d").isNotNull)
        .select(col("segment"), datediff(col("d"), col("prev_d")).cast("long").as("gap_d"))
      val hist = gaps.groupBy("segment", "gap_d").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("segment").orderBy("gap_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wcum))
      val tot = gaps.groupBy("segment").agg(count(lit(1)).as("n"), sum("gap_d").as("sg"))
      val j = cum.join(tot, "segment")
      val p50 = j.where(col("cum") >= expr("(50 * n + 99) div 100"))
        .groupBy("segment").agg(min("gap_d").as("p50_days"))
      val p90 = j.where(col("cum") >= expr("(90 * n + 99) div 100"))
        .groupBy("segment").agg(min("gap_d").as("p90_days"))
      tot.join(p50, "segment").join(p90, "segment")
        .select(col("segment"), col("n"),
          (col("sg").cast("double") / col("n").cast("double")).as("mean_days"),
          col("p50_days"), col("p90_days"))
        .orderBy("segment")
    },

    "orders_cohort_ltv" -> { (s, dir) =>
      // Cohort lifetime-value triangle — the classic LTV report: revenue
      // and active-customer counts by (acquisition month × months since
      // acquisition). Cohort = MIN order month per customer (one keyed
      // agg), joined back on the customer key (keyed, broadcastable at
      // dimension scale), then ONE (cohort, age) keyed agg with exact
      // BIGINT cents and exact distinct actives. Output is bounded by
      // months² (~80×80 here) at ANY corpus scale — the triangle is a
      // metadata frame. Months index as year·12 + month, so age is a
      // plain integer difference.
      val om = Tables.orders(s, dir).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("m"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)").as("cents"))
      val cohort = om.groupBy("o_custkey").agg(min("m").as("m0"))
      om.join(cohort, "o_custkey")
        .groupBy(col("m0").as("cohort_month"), (col("m") - col("m0")).as("age_months"))
        .agg(countDistinct("o_custkey").as("n_active"),
          sum("cents").as("revenue_cents"), count(lit(1)).as("n_orders"))
        .orderBy("cohort_month", "age_months")
    },

    "ml_logreg" -> { (s, dir) =>
      // One-step Newton logistic regression via sufficient statistics —
      // the GLM member of the suffstat-ML tier (OLS, k-means, naive
      // Bayes, Gini stumps): at β=0 the logistic gradient is
      // ½·Σx(2y−1) and the Hessian is ¼·X'X, so the first Newton step
      // β₁ = 2·(X'X)⁻¹·Σx(2y−1) needs ONE keyed corpus agg (nine
      // integer sums) and a 3×3 solve. The solve is EXACT: integer
      // Cramer determinants in DECIMAL(38,0) (entries ≤ ~1e9 at sf10 →
      // det terms ~1e23, inside 38 digits), each β one IEEE division of
      // exactly-converted operands — no iterative float fixpoint, no
      // libm. Per event type: label = high-value (≥ $25), features
      // [1, hour, dow]. DuckDB replays the same determinants in HUGEINT
      // with VARCHAR-parse conversion (the abtest lesson).
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("(ts_ns div 3600000000000) % 24").as("h"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("d"),
        when(expr("cast(cast(value as decimal(12,2)) * 100 as bigint)") >= 2500L,
          1L).otherwise(-1L).as("t"))
      val agg = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("h").as("sh"), sum("d").as("sd"),
        sum(col("h") * col("h")).as("shh"), sum(col("h") * col("d")).as("shd"),
        sum(col("d") * col("d")).as("sdd"),
        sum("t").as("b1"), sum(col("h") * col("t")).as("b2"),
        sum(col("d") * col("t")).as("b3"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      def det3(a11: Column, a12: Column, a13: Column,
               a21: Column, a22: Column, a23: Column,
               a31: Column, a32: Column, a33: Column) =
        d38(a11) * (d38(a22) * d38(a33) - d38(a23) * d38(a32)) -
          d38(a12) * (d38(a21) * d38(a33) - d38(a23) * d38(a31)) +
          d38(a13) * (d38(a21) * d38(a32) - d38(a22) * d38(a31))
      val c = agg
        .withColumn("det_a", det3(col("n"), col("sh"), col("sd"),
          col("sh"), col("shh"), col("shd"), col("sd"), col("shd"), col("sdd")))
        .withColumn("det_0", det3(col("b1"), col("sh"), col("sd"),
          col("b2"), col("shh"), col("shd"), col("b3"), col("shd"), col("sdd")))
        .withColumn("det_1", det3(col("n"), col("b1"), col("sd"),
          col("sh"), col("b2"), col("shd"), col("sd"), col("b3"), col("sdd")))
        .withColumn("det_2", det3(col("n"), col("sh"), col("b1"),
          col("sh"), col("shh"), col("b2"), col("sd"), col("shd"), col("b3")))
      c.select(col("event_type"), col("n"),
          ((d38(lit(2L)) * col("det_0")).cast("double") /
            col("det_a").cast("double")).as("beta0"),
          ((d38(lit(2L)) * col("det_1")).cast("double") /
            col("det_a").cast("double")).as("beta_hour"),
          ((d38(lit(2L)) * col("det_2")).cast("double") /
            col("det_a").cast("double")).as("beta_dow"))
        .orderBy("event_type")
    },

    "graph_sssp" -> { (s, dir) =>
      // Bounded-horizon weighted shortest paths — 8 rounds of
      // Bellman-Ford over the shared 'scc-' hash digraph with
      // deterministic integer edge weights w = 1 + hash % 9: exactly
      // "min cost over paths of ≤ 8 edges from node 1", the
      // time-bounded-routing semantics, and the WEIGHTED companion to
      // graph_bfs's hop distances. Pure integer min-plus relaxation —
      // no float anywhere — so the distances hash-compare. Per round:
      // one keyed join (frontier onto edges by src) + union + one keyed
      // MIN agg, localCheckpoint keeping the iterated plan flat; the
      // sparse distance frame only ever holds reached nodes. Oracle
      // enumerates the SAME semantics by a (node, cost, hops≤8) walk
      // CTE + MIN — algorithm-vs-definition, the graph_scc convention.
      // Output is the cost-census (distance, node count).
      val (cust, digraph) = hashDigraph(s, dir)
      val edges = digraph
        .withColumn("w", pmod(Tf.hash60(concat(lit("w-"), col("src").cast("string"),
          lit("-"), col("dst").cast("string"))), lit(9L)) + lit(1L))
        .localCheckpoint()
      var dist = cust.where(col("node") === 1L)
        .select(col("node"), lit(0L).as("d"))
      for (_ <- 1 to 8) {
        val relax = edges.join(dist.select(col("node").as("src"), col("d")), "src")
          .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
        dist = dist.union(relax)
          .groupBy("node").agg(min("d").as("d"))
          .localCheckpoint()
      }
      dist.join(cust, "node")
        .groupBy(col("d").as("dist")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    },

    "ml_split_gini" -> { (s, dir) =>
      // Exact-Gini decision-stump split finding — the per-node primitive
      // of distributed tree ensembles (GBDT/random forests): for every
      // (feature, threshold-bucket) candidate, the weighted Gini impurity
      // of the induced left/right partition, label = purchase events.
      // The 100 TB shape: the corpus collapses in ONE keyed agg over
      // (feature, bucket) — 3 stacked compact keys per row, map-side
      // combine to ≤ (buckets)×features cells — then candidate stats are
      // PREFIX SUMS over that metadata frame (a per-feature window), the
      // per-feature totals ride the same frame's last row. Never a
      // per-candidate corpus pass (the naive form scans once per
      // threshold). All counts are exact BIGINT; gini finishes in
      // fixed-order IEEE from int64-exact operands (squares ≤ 1e14 at
      // sf10 — inside 2⁵³), so the impurity VALUES hash-compare and the
      // argmin flag is deterministic (gini, feature, bucket order).
      // Features: value cents (5000-wide buckets), hour-of-day,
      // day-of-week — all pure integer arithmetic from ts_ns on both
      // engines (no engine date functions). Semantics: bucket ≤ t left.
      val ev = Tables.events(s, dir).select(
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val cells = ev.selectExpr(
          "stack(3, 'cents', cents_b, 'hour', hour, 'dow', dow) as (feature, bucket)",
          "label")
        .groupBy("feature", "bucket")
        .agg(count(lit(1)).as("cn"), sum("label").as("cp"))
      val wf = Window.partitionBy("feature").orderBy("bucket")
      val wt = Window.partitionBy("feature")
      val stats = cells
        .withColumn("nl", sum("cn").over(wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("al", sum("cp").over(wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cn").over(wt))
        .withColumn("a", sum("cp").over(wt))
        .where(col("nl") < col("n")) // right side must be non-empty
        .withColumn("nr", col("n") - col("nl"))
        .withColumn("ar", col("a") - col("al"))
      val gini = stats.withColumn("g",
        (col("nl").cast("double") -
          (col("al") * col("al") + (col("nl") - col("al")) * (col("nl") - col("al"))).cast("double") / col("nl").cast("double") +
          col("nr").cast("double") -
          (col("ar") * col("ar") + (col("nr") - col("ar")) * (col("nr") - col("ar"))).cast("double") / col("nr").cast("double")) /
          col("n").cast("double"))
      // the argmin flag rides a keyed equi-join against the top-1 row
      // (TakeOrderedAndProject on the metadata frame) — a global
      // row_number would plan the banned unpartitioned Window
      val best = gini.orderBy(col("g"), col("feature"), col("bucket")).limit(1)
        .select(col("feature").as("bf"), col("bucket").as("bb"))
      gini.join(broadcast(best),
          col("feature") === col("bf") && col("bucket") === col("bb"), "left")
        .withColumn("is_best", col("bf").isNotNull)
        .select(col("feature"), col("bucket").as("threshold_bucket"),
          col("nl").as("n_left"), col("al").as("n_pos_left"),
          col("nr").as("n_right"), col("ar").as("n_pos_right"),
          col("g").as("gini"), col("is_best"))
        .orderBy("feature", "threshold_bucket")
    },

    "ml_tree" -> { (s, dir) =>
      // Multi-level exact-Gini decision tree (operators/DecisionTree
      // .scala) — the composition the stump primitive exists for: depth-3
      // level-wise growth where every LEVEL is ONE corpus pass (a keyed
      // (node, feature, bucket) agg), prefix-sum candidate stats over
      // the metadata cell frame, broadcast split application — 3 scans
      // total, never the naive 2^d per-node passes. Same features/label
      // as ml_split_gini (5000-cent value buckets, hour, dow → purchase),
      // same int64-exact impurity finishing in fixed-order IEEE so the
      // per-node argmin (gini, feature, bucket) replays cross-engine.
      // Output = the split table (internal nodes: heap id, chosen
      // feature, threshold, gini, node totals) UNION the leaf census of
      // the final assignment — the whole fitted model plus its induced
      // partition, every value oracle-replayed by three unrolled levels
      // of the same SQL (nested-CASE split application). Freezing rule:
      // only heap ids in [2^level, 2^{level+1}) split at `level`, so an
      // early leaf can never be re-split under an ambiguous id.
      val ev = Tables.events(s, dir).select(
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val (splits, assigned) = graft.operators.DecisionTree.fit(
        ev, Seq("cents_b", "hour", "dow"), "label", depth = 3)
      val leaves = assigned.groupBy("node")
        .agg(count(lit(1)).as("n"), sum("label").as("n_pos"))
      splits.select(col("node"), lit(false).as("is_leaf"), col("feature"),
          col("threshold_bucket"), col("gini"), col("n"), col("n_pos"))
        .union(leaves.select(col("node"), lit(true).as("is_leaf"),
          lit(null).cast("string").as("feature"),
          lit(null).cast("long").as("threshold_bucket"),
          lit(null).cast("double").as("gini"), col("n"), col("n_pos")))
        .orderBy("node", "is_leaf")
    },

    "ml_forest" -> { (s, dir) =>
      // Hash-bagged random forest (Breiman 2001's bagging with the
      // bootstrap replaced by deterministic ~2/3 hash subsampling — the
      // replayable form of the subsample-per-tree ensembles production
      // GBDT/forest systems actually run): 3 trees × depth 2, and the
      // 100 TB point is that every level is STILL one pass — the bagged
      // union (rows × trees × 2/3 ≈ 2× the corpus) flows through ONE
      // keyed (tree, node, feature, bucket) agg, so T trees cost the
      // same scan count as one tree, not T× (DecisionTree.fitBagged).
      // Bag membership = hash60('bag-'||tree||'-'||event_id) % 3 ≠ 0 —
      // exact md5 arithmetic the oracle replays. Output: per-(tree,
      // node) split table ∪ per-tree leaf census, every value gated
      // (two unrolled levels × the tree key in the SQL).
      val ev = Tables.events(s, dir).select(
        col("event_id"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val bagged = ev
        .withColumn("tree", explode(array(lit(0L), lit(1L), lit(2L))))
        .where(pmod(Tf.hash60(concat(lit("bag-"), col("tree").cast("string"),
          lit("-"), col("event_id").cast("string"))), lit(3L)) =!= 0)
        .drop("event_id")
      val (splits, assigned) = graft.operators.DecisionTree.fitBagged(
        bagged, Seq("cents_b", "hour", "dow"), "label", depth = 2)
      val leaves = assigned.groupBy("tree", "node")
        .agg(count(lit(1)).as("n"), sum("label").as("n_pos"))
      splits.select(col("tree"), col("node"), lit(false).as("is_leaf"),
          col("feature"), col("threshold_bucket"), col("gini"),
          col("n"), col("n_pos"))
        .union(leaves.select(col("tree"), col("node"), lit(true).as("is_leaf"),
          lit(null).cast("string").as("feature"),
          lit(null).cast("long").as("threshold_bucket"),
          lit(null).cast("double").as("gini"), col("n"), col("n_pos")))
        .orderBy("tree", "node", "is_leaf")
    },

    "ml_forest_predict" -> { (s, dir) =>
      // Forest INFERENCE — the serving half of ml_forest: leaf classes
      // are the training assignment's per-(tree, leaf) majority (exact
      // integer compare 2·n_pos > n), every corpus row routes through
      // all 3 trees via DecisionTree.applySplits (depth broadcast hops,
      // map-side — the corpus never shuffles to be scored), prediction =
      // majority vote of 3, output = the confusion census (label × pred
      // counts). A leaf no bagged row reached scores as class 0
      // (coalesce — replayed identically). Everything exact, so the
      // whole fitted-model-plus-inference pipeline hash-compares: the
      // strongest end-to-end claim the ML tier makes.
      val ev = Tables.events(s, dir).select(
        col("event_id"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val bagged = ev
        .withColumn("tree", explode(array(lit(0L), lit(1L), lit(2L))))
        .where(pmod(Tf.hash60(concat(lit("bag-"), col("tree").cast("string"),
          lit("-"), col("event_id").cast("string"))), lit(3L)) =!= 0)
        .drop("event_id")
      val (splits, assigned) = graft.operators.DecisionTree.fitBagged(
        bagged, Seq("cents_b", "hour", "dow"), "label", depth = 2)
      val classes = assigned.groupBy("tree", "node")
        .agg((sum("label") * 2 > count(lit(1))).as("leaf_pred"))
      val scoreRows = ev.withColumn("tree",
        explode(array(lit(0L), lit(1L), lit(2L))))
      val routed = graft.operators.DecisionTree.applySplits(
        scoreRows, splits, Seq("cents_b", "hour", "dow"), depth = 2)
      routed.join(broadcast(classes), Seq("tree", "node"), "left")
        .withColumn("p",
          when(coalesce(col("leaf_pred"), lit(false)), 1L).otherwise(0L))
        .groupBy("event_id", "label").agg(sum("p").as("v"))
        .select(col("label"),
          when(col("v") >= 2, 1L).otherwise(0L).as("pred"))
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    },

    "ml_auc" -> { (s, dir) =>
      // ROC-AUC of the forest scorer (operators/Auc.scala) — the
      // EVALUATION lane closing the ML tier's loop: ml_forest trains,
      // ml_forest_predict serves, this grades. Score = the 0..3 LIFT
      // vote count: a leaf votes positive when its training rate
      // exceeds the corpus base rate (exact cross-multiplied compare on
      // the one-row totals broadcast — a >50% majority vote is
      // vacuously all-negative on this ~20%-positive corpus and would
      // pin AUC at exactly 0.5, an empty gate); AUC via the
      // Mann-Whitney identity assembled from per-(score, label)
      // contingency cells — the score domain is FIXED {0,1,2,3}, so the
      // doubled-U (tie-halves stay integer, the events_mannwhitney
      // convention) expands statically into one conditional-sum agg:
      // ONE corpus pass, no rank, no window, no join; u2 and both
      // margins exact BIGINT, auc the single IEEE division
      // u2 / (2·n_pos·n_neg). AucSpec pins u2 against a brute-force
      // all-pairs count.
      val votes = liftVotes(s, dir)
      graft.operators.Auc.fromBucketScores(votes, "v", "label", Seq(0L, 1L, 2L, 3L))
    },

    "ml_confusion" -> { (s, dir) =>
      // Threshold-point evaluation beside ml_auc's threshold-free rank
      // statistic: the binary confusion cells of the 2-of-3 LIFT-vote
      // decision (v ≥ 2 over ml_auc's base-rate-exceedance votes —
      // see there for why a majority vote is an empty gate here),
      // folded into ONE conditional-sum agg (tp/fp/fn/
      // tn — same one-pass shape as audit_constraints' fused rules), and
      // the four standard metrics each as ONE exact-integer IEEE
      // division: accuracy (tp+tn)/n, precision tp/(tp+fp), recall
      // tp/(tp+fn), and F1 in its rational form 2·tp/(2·tp+fp+fn) — the
      // harmonic mean folded to a single division so there is exactly
      // one rounding per metric, hash-replayable. All-negative or
      // all-positive degenerate predictions yield NULL precision/recall
      // identically in both engines (0/0).
      val votes = liftVotes(s, dir)
      votes
        .select(col("label"), when(col("v") >= 2, 1L).otherwise(0L).as("pred"))
        .agg(
          sum(when(col("label") === 1L && col("pred") === 1L, 1L).otherwise(0L)).as("tp"),
          sum(when(col("label") === 0L && col("pred") === 1L, 1L).otherwise(0L)).as("fp"),
          sum(when(col("label") === 1L && col("pred") === 0L, 1L).otherwise(0L)).as("fn"),
          sum(when(col("label") === 0L && col("pred") === 0L, 1L).otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          ((col("tp") + col("tn")).cast("double")
            / (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"))
            .as("accuracy"),
          (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
            .as("precision"),
          (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
            .as("recall"),
          ((lit(2L) * col("tp")).cast("double")
            / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
            .as("f1"))
    },

    "ml_lift" -> { (s, dir) =>
      // Cumulative gains / lift table (operators/Auc.liftTable) — the
      // targeting view of the same lift-vote scores ml_auc ranks: one
      // row per threshold cut, reporting how many examples flagging at
      // that depth selects (n_flagged), how many positives it captures
      // (tp), recall tp/n₁, and lift in the cross-multiplied rational
      // form tp·n/(n_flagged·n₁) — each metric ONE exact-int IEEE
      // division. Cumulative sums are STATIC partial sums over the
      // fixed score domain's contingency cells (no window, no sort —
      // the ml_auc one-pass shape), so the "how deep to crawl/label"
      // decision costs one conditional-sum agg at any corpus size.
      val votes = liftVotes(s, dir)
      graft.operators.Auc.liftTable(votes, "v", "label", Seq(0L, 1L, 2L, 3L))
    },

    "ml_target_encode" -> { (s, dir) =>
      // Smoothed target (mean) encoding — the categorical-feature
      // transform gradient-boosting pipelines apply before training
      // (Micci-Barreca 2001's empirical-Bayes form with a constant
      // smoothing weight m = 10): per category, the encoded value
      // shrinks the category rate toward the global prior,
      // enc = (Σy + m·prior)/(n + m). With prior = SY/N the whole
      // expression folds to the exact integer rational
      // (Σy·N + m·SY)/(N·(n + m)) — ONE IEEE division per category, no
      // intermediate float prior (peak numerator ~1e14 at sf10, inside
      // int64). Shape: one keyed agg + the ONE-ROW global totals
      // broadcast onto the 24-row category frame; the per-row apply
      // step in production is a broadcast map-side join against this
      // output.
      val ev = Tables.events(s, dir).select(
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val per = ev.groupBy("hour").agg(
        count(lit(1)).as("n"), sum("label").as("sum_y"))
      val tot = ev.agg(count(lit(1)).as("n_tot"), sum("label").as("sy_tot"))
      per.crossJoin(broadcast(tot))
        .select(col("hour"), col("n"), col("sum_y"),
          (col("sum_y").cast("double") / col("n").cast("double")).as("rate"),
          ((col("sum_y") * col("n_tot") + lit(10L) * col("sy_tot")).cast("double")
            / (col("n_tot") * (col("n") + lit(10L))).cast("double")).as("enc"))
        .orderBy("hour")
    },

    "ml_cv" -> { (s, dir) =>
      // k-fold cross-validation (k = 4) where ALL k leave-one-fold-out
      // models train in ONE pass per level — the fitBagged amortization
      // applied to validation: fold = hash60('cv-'||event_id) % 4, model
      // t's training bag is every row with fold ≠ t (the k-fold
      // complement instead of the forest's 2/3 subsample), and the
      // fold-keyed union flows through the same ONE keyed (tree, node,
      // feature, bucket) agg — k models cost one model's scan count.
      // Scoring routes each row through its OWN fold's model only,
      // predicting by the ml_auc lift vote (leaf training rate vs the
      // corpus base rate, exact cross-multiplied)
      // (withColumn fold→tree, map-side broadcast hops, no explode —
      // every row is out-of-bag by construction, the honest-evaluation
      // half ml_confusion's resubstitution census lacks). Output: the
      // per-fold validation census (n_train, n_valid, errors, err_rate)
      // — exact integers + one IEEE division; the fold spread is the
      // variance estimate a model-selection loop consumes. Oracle
      // threads the fold key through the same two unrolled levels.
      val ev = Tables.events(s, dir).select(
          col("event_id"),
          expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
          expr("(ts_ns div 3600000000000) % 24").as("hour"),
          expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
        .withColumn("fold", pmod(Tf.hash60(
          concat(lit("cv-"), col("event_id").cast("string"))), lit(4L)))
      val bagged = ev
        .withColumn("tree", explode(array(
          lit(0L), lit(1L), lit(2L), lit(3L))))
        .where(col("fold") =!= col("tree"))
        .drop("event_id", "fold")
      val (splits, assigned) = graft.operators.DecisionTree.fitBagged(
        bagged, Seq("cents_b", "hour", "dow"), "label", depth = 2)
      val tot = ev.agg(count(lit(1)).as("n_tot"), sum("label").as("np_tot"))
      val classes = assigned.groupBy("tree", "node")
        .agg(count(lit(1)).as("cn"), sum("label").as("cp"))
        .crossJoin(broadcast(tot))
        .select(col("tree"), col("node"),
          (col("cp") * col("n_tot") > col("cn") * col("np_tot")).as("leaf_pred"))
      val nTrain = assigned.groupBy("tree").agg(count(lit(1)).as("n_train"))
      val routed = graft.operators.DecisionTree.applySplits(
        ev.withColumn("tree", col("fold")), splits,
        Seq("cents_b", "hour", "dow"), depth = 2)
      routed.join(broadcast(classes), Seq("tree", "node"), "left")
        .withColumn("pred",
          when(coalesce(col("leaf_pred"), lit(false)), 1L).otherwise(0L))
        .groupBy("tree").agg(count(lit(1)).as("n_valid"),
          sum(when(col("pred") =!= col("label"), 1L).otherwise(0L)).as("errors"))
        .join(nTrain, "tree")
        .select(col("tree").as("fold"), col("n_train"), col("n_valid"),
          col("errors"),
          (col("errors").cast("double") / col("n_valid").cast("double"))
            .as("err_rate"))
        .orderBy("fold")
    },

    "ml_pr_auc" -> { (s, dir) =>
      // Precision-recall average precision (operators/Auc
      // .averagePrecision) of the shared forest lift-vote scorer — the
      // imbalanced-class evaluation beside ml_auc's ROC: with ~20%
      // positives, ROC-AUC is dominated by the easy negatives while AP
      // weights every threshold by the precision actually attained
      // (Davis & Goadrich 2006). Same ONE-pass contingency-cell shape:
      // fixed 0..3 vote domain, AP folded over descending cuts in a
      // fixed left-associated IEEE chain (two exact-int divisions + one
      // multiply per term), base_rate = the AP of a random ranker for
      // calibration of the number. No rank, no window, no join.
      graft.operators.Auc.averagePrecision(
        liftVotes(s, dir), "v", "label", Seq(0L, 1L, 2L, 3L))
    },

    "ml_calibration" -> { (s, dir) =>
      // Reliability table + Brier score (operators/Auc.calibrationTable)
      // of the same lift-vote scores: per vote level, the implied
      // probability v/3 against the empirical positive rate (exact-int
      // IEEE divisions; NULL on unattained levels in both engines), the
      // signed calibration gap, and the corpus Brier score folded over
      // the fixed domain in ascending left-associated order. AUC ranks,
      // calibration trusts — a scorer that routes crawl/label budget
      // needs both, and this costs the same single conditional-sum pass
      // over the corpus as ml_auc.
      graft.operators.Auc.calibrationTable(
        liftVotes(s, dir), "v", "label", Seq(0L, 1L, 2L, 3L))
    },

    "ml_chi2_select" -> { (s, dir) =>
      // Chi-square feature selection — the univariate filter every
      // ML-prep pipeline runs before training (scikit's chi2 /
      // SelectKBest): score each candidate feature's association with
      // the label and rank. For feature F with buckets b:
      // χ² = N·(Σ_b [o_pos²/(n_b·P) + o_neg²/(n_b·Q)] − 1) — the
      // contingency identity that needs NO expected-count subtraction
      // per cell. All counts are exact BIGINT from ONE conditional-sum
      // corpus pass per feature (three features = three keyed aggs over
      // the same scan lineage); each feature's bucket terms fold over
      // its ≤~dozens-cell metadata frame in ASCENDING bucket order via
      // an aggregate HOF (left-associated — the survival_km fixed-order
      // double discipline), products n_b·P ≤ ~1e12 at sf10 inside
      // int64. Output per feature: cells, N, P, χ², ranked — the
      // decision "train on cents_b, drop dow" an imbalanced-corpus
      // pipeline reads off directly.
      val ev = Tables.events(s, dir).select(
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val feats = Seq("cents_b", "hour", "dow")
      val perFeat = feats.map { f =>
        ev.groupBy(col(f).as("b"))
          .agg(count(lit(1)).as("nb"), sum("label").as("op"))
          .agg(sort_array(collect_list(struct(col("b"), col("nb"), col("op")))).as("xs"),
            sum("nb").as("n"), sum("op").as("p"))
          .select(lit(f).as("feature"), col("xs"), col("n"), col("p"))
      }
      perFeat.reduce(_ unionByName _)
        .withColumn("q", col("n") - col("p"))
        .withColumn("t", expr(
          """aggregate(xs, cast(0.0 as double), (acc, x) -> acc +
            |  (cast(x.op * x.op as double) / cast(x.nb * p as double)
            |   + cast((x.nb - x.op) * (x.nb - x.op) as double) / cast(x.nb * q as double)))""".stripMargin))
        .select(col("feature"), size(col("xs")).cast("long").as("n_buckets"),
          col("n"), col("p"),
          (col("n").cast("double") * col("t") - col("n").cast("double")).as("chi2"))
        .orderBy(col("chi2").desc, col("feature"))
    },

    "ml_mi_select" -> { (s, dir) =>
      // Mutual-information feature selection — the information-theoretic
      // half of the univariate-filter pair beside ml_chi2_select (the two
      // rankings practitioners actually compare: χ² tests deviation from
      // independence, MI measures the dependence itself in nats).
      // I(F;Y) = Σ_cells (c/N)·ln(N·c / (n_b·N_y)) over the SAME exact
      // BIGINT contingency cells as chi2 — zero cells contribute 0 (the
      // 0·ln 0 limit), so every ln argument is a ratio of POSITIVE exact
      // integers (c > 0 ⇒ the marginals are ≥ c > 0), cast once and
      // divided once. Per bucket the pos and neg terms combine FIRST,
      // then fold in ascending bucket order (acc + (pos + neg), the chi2
      // aggregate-HOF discipline), so the IEEE rounding sequence is fixed
      // and the oracle's recursive-CTE walk replays it term for term;
      // ln itself is bit-identical cross-engine (measured: Java
      // Math.log == DuckDB ln on order-sensitive ratios incl. 1±1e-10).
      // Products c·N ≤ ~4.5e15 at sf10, inside int64 with 2e3 headroom.
      // Shape: three keyed aggs over one scan lineage; everything after
      // runs on ≤~dozens-cell metadata frames.
      val ev = Tables.events(s, dir).select(
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("cents_b"),
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val feats = Seq("cents_b", "hour", "dow")
      val perFeat = feats.map { f =>
        ev.groupBy(col(f).as("b"))
          .agg(count(lit(1)).as("nb"), sum("label").as("op"))
          .agg(sort_array(collect_list(struct(col("b"), col("nb"), col("op")))).as("xs"),
            sum("nb").as("n"), sum("op").as("p"))
          .select(lit(f).as("feature"), col("xs"), col("n"), col("p"))
      }
      perFeat.reduce(_ unionByName _)
        .withColumn("q", col("n") - col("p"))
        .withColumn("mi", expr(
          """aggregate(xs, cast(0.0 as double), (acc, x) -> acc +
            |  ((case when x.op > 0 then cast(x.op as double) / cast(n as double)
            |      * graft_ln(cast(x.op * n as double) / cast(x.nb * p as double))
            |    else cast(0.0 as double) end)
            |   + (case when x.nb - x.op > 0
            |      then cast(x.nb - x.op as double) / cast(n as double)
            |        * graft_ln(cast((x.nb - x.op) * n as double) / cast(x.nb * q as double))
            |    else cast(0.0 as double) end)))""".stripMargin))
        .select(col("feature"), size(col("xs")).cast("long").as("n_buckets"),
          col("n"), col("p"), col("mi"))
        .orderBy(col("mi").desc, col("feature"))
    },

    "ml_dbscan" -> { (s, dir) =>
      // DBSCAN density clustering (Ester et al. 1996) on the shared
      // spatial grid — the second clustering lane beside ml_kmeans
      // (centroid-based needs k; density-based finds cluster COUNT and
      // noise itself). eps = 2000 (grid cell = eps, ~1.9 expected
      // neighbors at the density-normalized layout — every SF sees the
      // same regime), minPts = 4 (core ⇔ ≥ 3 neighbors + self). The
      // 100 TB shape end to end: ε-pairs from SpatialGrid.pairsWithin's
      // half-neighborhood grid equi-join (never all-pairs), core flags
      // from ONE keyed neighbor count, clusters = connected components
      // over CORE-CORE pairs only (the vanishing-fraction pair graph,
      // O(log n) rounds on the fixpoint engine), border points
      // assigned to their MIN core-neighbor's cluster (the deterministic
      // tie-break DBSCAN leaves unspecified), everything exact integers.
      // Output: per-cluster census (n_core, n_border, n_total) plus the
      // noise row as cluster_id = -1 — what a curation pipeline reads to
      // decide "how many dense regions, how much scatter". Oracle:
      // definitional all-pairs ε-join + recursive-CTE reachability
      // closure over core-core edges (algorithm vs definition, the
      // graph-lane convention).
      import graft.operators.{Dbscan, SpatialGrid}
      val eps = 2000L
      val pts = SpatialGrid.points(Tables.customer(s, dir), "c_custkey", eps)
        .localCheckpoint(true)
      Dbscan.census(pts, eps, minPts = 4)
    },

    "ml_isotonic" -> { (s, dir) =>
      // Isotonic (monotone) calibration — the non-parametric upgrade of
      // ml_calibration's per-level reliability table (Zadrozny & Elkan
      // 2002; Robertson, Wright & Dykstra 1988): fit the best
      // NON-DECREASING purchase-rate curve over the value-bucket domain
      // in weighted least squares. The corpus collapses in ONE keyed
      // (bucket) agg to ≤ ~dozens of (n, pos) cells; the fit uses the
      // EXACT minimax characterization ŷ_i = max_{j≤i} min_{k≥i}
      // mean(j..k) evaluated on the bounded metadata frame as a
      // higher-order-function fold over prefix-sum arrays — every
      // mean is ONE correctly-rounded IEEE division of exact BIGINT
      // pooled sums, and max/min over bit-identical doubles select
      // identically in both engines, so the fitted curve hash-gates with
      // no float tolerance. O(m³) on m ≤ ~40 cells — microseconds; the
      // production apply is a broadcast range lookup, map-side. (PAVA is
      // the O(m) equivalent — the minimax form is chosen because it is
      // order-free and SQL-replayable; IsotonicSpec pins the two against
      // each other.)
      val ev = Tables.events(s, dir).select(
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint) div 5000").as("b"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val cells = ev.groupBy("b").agg(count(lit(1)).as("n"), sum("label").as("pos"))
      cells.agg(sort_array(collect_list(struct(col("b"), col("n"), col("pos")))).as("xs"))
        .withColumn("wn", expr(
          "aggregate(xs, array(0L), (acc, x) -> array_append(acc, element_at(acc, -1) + x.n))"))
        .withColumn("wp", expr(
          "aggregate(xs, array(0L), (acc, x) -> array_append(acc, element_at(acc, -1) + x.pos))"))
        .withColumn("iso", expr(
          """transform(sequence(1, size(xs)), i ->
            |  array_max(transform(sequence(1, i), j ->
            |    array_min(transform(sequence(i, size(xs)), k ->
            |      cast(element_at(wp, k + 1) - element_at(wp, j) as double) /
            |      cast(element_at(wn, k + 1) - element_at(wn, j) as double))))))""".stripMargin))
        .select(explode(expr(
          """transform(sequence(1, size(xs)), i -> struct(
            |  element_at(xs, i).b as b, element_at(xs, i).n as n,
            |  element_at(xs, i).pos as pos,
            |  cast(element_at(xs, i).pos as double) / cast(element_at(xs, i).n as double) as rate,
            |  element_at(iso, i) as iso_rate))""".stripMargin)).as("r"))
        .select(col("r.b").as("b"), col("r.n").as("n"), col("r.pos").as("pos"),
          col("r.rate").as("rate"), col("r.iso_rate").as("iso_rate"))
        .orderBy("b")
    },

    "ml_gbt" -> { (s, dir) =>
      // Gradient-boosted regression stumps (operators/Boosting.scala) —
      // the sequential counterpart of ml_forest's bagging: 3 rounds of
      // depth-1 stumps fit to BIGINT cent residuals under squared loss,
      // learning rate 1/8 folded into ONE defined integer division per
      // leaf (truncate-toward-zero in both engines — the events_holt
      // measured semantics). Each round is ONE corpus pass (keyed
      // (feature, bucket) cell agg); the residual update is a one-row
      // broadcast CASE, map-side; SSE tracks in closed form from the
      // cell stats, costing zero extra passes. Split score finishes in
      // fixed-order IEEE from exact DECIMAL numerators (benford's
      // HUGEINT/VARCHAR-parse replay on the oracle side), argmax
      // tie-breaks (score DESC, feature, bucket) via sort+limit —
      // TakeOrderedAndProject, no unpartitioned window. Output = the
      // fitted model + its exact loss curve, every column gated.
      val ev = Tables.events(s, dir).select(
        expr("(ts_ns div 3600000000000) % 24").as("hour"),
        expr("((ts_ns div 86400000000000) + 4) % 7").as("dow"),
        expr("user_id % 16").as("user_b"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("cents"))
      graft.operators.Boosting.fitStumps(
          ev, Seq("hour", "dow", "user_b"), "cents", rounds = 3)
        .orderBy("round")
    },

    "events_ewma" -> { (s, dir) =>
      // Integer-exact EWMA smoothing (α = 1/8) per event type — the
      // recursive half of the forecasting family (anomaly/forecast/
      // rolling are window-expressible; EWMA's recurrence is not): ewma_0
      // = x_0, ewma_t = (7·ewma_{t-1} + x_t) div 8, all terms
      // NON-NEGATIVE so every division-semantics question (floor vs
      // truncate — engines agree on truncate for integers, but python
      // reference models floor, and DuckDB floors for FLOAT operands)
      // is moot. Shape at 100 TB: the corpus collapses to ONE
      // keyed daily agg; the recurrence runs as an aggregate HOF over
      // each type's O(days) series — metadata scale, interpreted cost
      // bounded by types × days, never corpus-sized. Oracle replays the
      // recurrence with a recursive CTE over day ranks.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("xs"))
        .withColumn("out", expr(
          """aggregate(xs,
            |  cast(array() as array<struct<day:bigint,cnt:bigint,ewma:bigint>>),
            |  (acc, x) -> array_append(acc, named_struct(
            |    'day', x.day, 'cnt', x.cnt,
            |    'ewma', CASE WHEN size(acc) = 0 THEN x.cnt
            |                 ELSE (7 * element_at(acc, -1).ewma + x.cnt) div 8
            |            END)))""".stripMargin))
        .select(col("event_type"), explode(col("out")).as("o"))
        .select(col("event_type"), col("o.day").as("day"),
          col("o.cnt").as("cnt"), col("o.ewma").as("ewma"))
        .orderBy("event_type", "day")
    },

    "events_holt" -> { (s, dir) =>
      // Holt double-exponential (level + trend) smoothing, α = β = 1/8 —
      // extends events_ewma with a trend state. Unlike EWMA the trend
      // DELTA can be negative, so the division semantics were MEASURED
      // before relying on them: Spark `div` and DuckDB `//` both
      // truncate toward zero for integers (−1 div 8 = 0 in both; an
      // earlier draft wrongly assumed DuckDB floors — it floors only for
      // FLOAT operands), so plain integer division agrees bit-for-bit
      // across engines for any sign. Same metadata-scale shape as
      // events_ewma: one keyed daily agg, then an aggregate HOF over each
      // type's O(days) series. l_i = (x_i + 7(l+t)) div 8,
      // t_i = ((l_i − l) + 7t) div 8.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("xs"))
        .withColumn("out", expr(
          """aggregate(xs,
            |  cast(array() as array<struct<day:bigint,cnt:bigint,level:bigint,trend:bigint>>),
            |  (acc, x) -> array_append(acc,
            |    CASE WHEN size(acc) = 0
            |      THEN named_struct('day', x.day, 'cnt', x.cnt,
            |             'level', x.cnt, 'trend', cast(0 as bigint))
            |      ELSE named_struct('day', x.day, 'cnt', x.cnt,
            |        'level',
            |          (x.cnt + 7 * (element_at(acc, -1).level + element_at(acc, -1).trend)) div 8,
            |        'trend',
            |          (((x.cnt + 7 * (element_at(acc, -1).level + element_at(acc, -1).trend)) div 8
            |            - element_at(acc, -1).level) + 7 * element_at(acc, -1).trend) div 8)
            |    END))""".stripMargin))
        .select(col("event_type"), explode(col("out")).as("o"))
        .select(col("event_type"), col("o.day").as("day"), col("o.cnt").as("cnt"),
          col("o.level").as("level"), col("o.trend").as("trend"))
        .orderBy("event_type", "day")
    },

    "events_holtwinters" -> { (s, dir) =>
      // Holt-Winters ADDITIVE seasonal smoothing (Winters 1960), period
      // m = 7 days, α = β = γ = 1/8 — completes the smoothing tier
      // (EWMA → Holt → seasonal). The seasonal state needs s_{i-m}, which
      // a linear recurrence cannot reach — so the integer state carries
      // the last SEVEN seasonal values and shifts them each step; the
      // warm-up needs no special casing because phantom zeros shift
      // through the vector for the first m rows (s_used = 0 exactly when
      // i ≤ m). Same integer-exact division discipline as events_holt
      // (both engines truncate toward zero for any sign — measured
      // there). Same metadata-scale shape: ONE corpus-sized keyed agg,
      // then an aggregate HOF over each type's O(days) series.
      //   l_i = ((x_i − s_{i−m}) + 7(l+t)) div 8, l_1 = x_1
      //   t_i = ((l_i − l) + 7t) div 8,           t_1 = 0
      //   s_i = ((x_i − l_i) + 7·s_{i−m}) div 8
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("xs"))
        .withColumn("out", expr(
          """aggregate(xs,
            |  cast(array() as array<struct<day:bigint,cnt:bigint,level:bigint,trend:bigint,season:bigint>>),
            |  (acc, x) -> array_append(acc,
            |    CASE WHEN size(acc) = 0
            |      THEN named_struct('day', x.day, 'cnt', x.cnt,
            |             'level', x.cnt, 'trend', cast(0 as bigint),
            |             'season', cast(0 as bigint))
            |      ELSE named_struct('day', x.day, 'cnt', x.cnt,
            |        'level',
            |          ((x.cnt - CASE WHEN size(acc) >= 7 THEN element_at(acc, -7).season ELSE cast(0 as bigint) END)
            |            + 7 * (element_at(acc, -1).level + element_at(acc, -1).trend)) div 8,
            |        'trend',
            |          ((((x.cnt - CASE WHEN size(acc) >= 7 THEN element_at(acc, -7).season ELSE cast(0 as bigint) END)
            |            + 7 * (element_at(acc, -1).level + element_at(acc, -1).trend)) div 8
            |            - element_at(acc, -1).level) + 7 * element_at(acc, -1).trend) div 8,
            |        'season',
            |          ((x.cnt
            |            - ((x.cnt - CASE WHEN size(acc) >= 7 THEN element_at(acc, -7).season ELSE cast(0 as bigint) END)
            |               + 7 * (element_at(acc, -1).level + element_at(acc, -1).trend)) div 8)
            |           + 7 * CASE WHEN size(acc) >= 7 THEN element_at(acc, -7).season ELSE cast(0 as bigint) END) div 8)
            |    END))""".stripMargin))
        .select(col("event_type"), explode(col("out")).as("o"))
        .select(col("event_type"), col("o.day").as("day"), col("o.cnt").as("cnt"),
          col("o.level").as("level"), col("o.trend").as("trend"),
          col("o.season").as("season"))
        .orderBy("event_type", "day")
    },

    "events_twap" -> { (s, dir) =>
      // Time-weighted average over IRREGULARLY-sampled values (the
      // financial TWAP / sensor-mean shape — a plain AVG over-weights
      // burst periods): each sample holds its value until the next sample
      // of the same series, so the weight is the forward gap from ONE
      // keyed lead() window; the last sample carries no duration and
      // drops. Exactness: weights in MICROseconds (ns div 1000) keep
      // Σ(value·dt) under 2^53 at gate scale so the final decimal→double
      // conversion is exact on both engines; the weighted sum is a
      // scale-pinned decimal (order-independent), division happens ONCE
      // in IEEE double at the end.
      Tables.events(s, dir)
        .select(col("event_type"), col("ts_ns"), col("event_id"), col("value"))
        .withColumn("dt_us",
          expr("(lead(ts_ns) over (partition by event_type order by ts_ns, event_id) - ts_ns) div 1000"))
        .where(col("dt_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_weighted"),
          sum(col("dt_us")).as("span_us"),
          // numerator in plain BIGINT cents·µs (span-bound ~4e16, fits
          // int64 at any SF): int64→double is the HARDWARE correctly-
          // rounded conversion on both engines, where a wide-decimal →
          // double cast double-rounds in DuckDB's hugeint path (measured:
          // 1-ulp twap drift before this form)
          (sum(expr("cast(cast(value as decimal(12,2)) * 100 as bigint)") *
            col("dt_us")).cast("double") /
            sum(col("dt_us")).cast("double") / lit(100.0)).as("twap"))
        .orderBy("event_type")
    },

    "events_moments" -> { (s, dir) =>
      // Higher-moment statistics (variance, skewness, excess kurtosis)
      // from EXACT integer power sums — the sufficient-statistics
      // discipline of ml_linreg extended to 4th order: per-row cents
      // powers stay in BIGINT (49002⁴ < 2⁶³), the four sums are
      // scale-pinned decimals (order-independent, hash-stable where
      // float power sums would diverge by partial-agg order), and the
      // moment formulas finish in fixed-order IEEE double — sqrt(v)·v
      // instead of pow(v, 1.5) because sqrt is correctly rounded on both
      // engines while pow is not guaranteed to be.
      // x⁴ leaves int64 at cents ≥ 55109 (56021⁴ ≈ 9.9e18 > 2⁶³−1 —
      // the sf0.1 corpus reaches 56021 where sf0.01 stops at 49002, so
      // this overflowed only beyond the gate decade): square once in
      // BIGINT (x² ≤ 3.2e9), then square THAT in decimal. x³ peaks at
      // 1.8e14 — safe.
      val c = expr("cast(cast(value as decimal(12,2)) * 100 as bigint)")
      val agg = Tables.events(s, dir)
        .select(col("event_type"), c.as("x"),
          (c * c).cast("decimal(19,0)").as("x2d"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("s1"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("s2"),
          sum((col("x") * col("x") * col("x")).cast("decimal(38,0)")).as("s3"),
          sum((col("x2d") * col("x2d")).cast("decimal(38,0)")).as("s4"))
      val nD = col("n").cast("double")
      val m = col("s1").cast("double") / nD
      val v = col("s2").cast("double") / nD - m * m
      val sk = (col("s3").cast("double") / nD - lit(3.0) * m * v - m * m * m) /
        (sqrt(v) * v)
      val ku = (col("s4").cast("double") / nD - lit(4.0) * m * (col("s3").cast("double") / nD) +
        lit(6.0) * m * m * (col("s2").cast("double") / nD) - lit(3.0) * m * m * m * m) /
        (v * v) - lit(3.0)
      agg.select(col("event_type"), col("n"),
          (m / lit(100.0)).as("mean"), (v / lit(10000.0)).as("variance"),
          sk.as("skewness"), ku.as("kurtosis"))
        .orderBy("event_type")
    },

    "events_drawdown" -> { (s, dir) =>
      // Running-peak / maximum-drawdown analysis (the risk metric of
      // financial P&L curves) — a COMPOSITION of running aggregates that
      // plain groupBy cannot express: cumulative signed sum, running max
      // of that cumsum, pointwise gap, max of the gap. All four ride ONE
      // keyed window per series (partitionBy type — parallel, no global
      // sort), all integer-exact in cents: the per-event signed delta is
      // cents(value) − 2500, so series wander both ways and the peak/
      // drawdown states are non-trivial.
      val w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_type"), col("ts_ns"), col("event_id"),
          (expr("cast(cast(value as decimal(12,2)) * 100 as bigint)") - 2500L).as("delta"))
        .withColumn("cum", sum("delta").over(w))
        .withColumn("peak", max("cum").over(w))
        .groupBy("event_type")
        // final_pnl = Σdelta and max_peak = max(cum) are order-free
        // aggregates (a groupBy last()/the last peak would be
        // row-order-dependent); only max_drawdown genuinely needs the
        // running peak
        .agg(count(lit(1)).as("n"), sum("delta").as("final_pnl"),
          max("cum").as("max_peak"),
          max(col("peak") - col("cum")).as("max_drawdown"))
        .orderBy("event_type")
    },

    "orders_backlog" -> { (s, dir) =>
      // Interval-stabbing time series WITHOUT per-day explosion — the
      // sweep-line / delta-encoding pattern: each order is "open" for a
      // hash-derived duration, and the open-order count per day is the
      // running sum of (+1 at start, −1 at end) deltas. Naive form
      // explodes every interval into its covered days (Σ durations rows —
      // 28× the corpus here, unbounded in general); the sweep line emits
      // exactly TWO delta rows per interval, collapses them with one
      // keyed agg, and integrates with one keyed cumulative window per
      // priority. Output days are exactly the change points.
      val dur = (pmod(Tf.hash60(concat(lit("bk-"), col("o_orderkey").cast("string"))),
        lit(28L)) + 1L)
      val base = Tables.orders(s, dir).select(col("o_orderpriority").as("priority"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("start_day"), dur.as("dur"))
      val deltas = base.select(col("priority"), col("start_day").as("day"), lit(1L).as("d"))
        .union(base.select(col("priority"), (col("start_day") + col("dur")).as("day"),
          lit(-1L).as("d")))
      val wc = Window.partitionBy("priority").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.groupBy("priority", "day").agg(sum("d").as("net"))
        .withColumn("backlog", sum("net").over(wc))
        .select("priority", "day", "net", "backlog")
        .orderBy("priority", "day")
    },

    "events_rank_stats" -> { (s, dir) =>
      // Statistical ranking windows over the daily series: row_number,
      // quartile (ntile 4) and percent_rank — the last emitted as an
      // EXACT integer fraction (rk−1, n−1) instead of the engines'
      // float percent_rank, which would hash-diverge on division. All
      // three share one partitioned (type) window ordered by (cnt desc,
      // day) — deterministic total order, no unpartitioned windows.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("cnt").desc, col("day"))
      val wn = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      daily
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_num", col("rk") - 1)
        .withColumn("pct_den", count(lit(1)).over(wn) - 1)
        .select("event_type", "day", "cnt", "rk", "quartile", "pct_num", "pct_den")
        .orderBy("event_type", "day")
    },

    "events_changepoint" -> { (s, dir) =>
      // Retrospective single changepoint per event type — the offline
      // companion of events_cusum's online alarm: the CUSUM changepoint
      // estimator (Page 1954 / Hinkley 1970's argmax form) picks
      // argmax_k |Σ_{i≤k}(x_i − x̄)|, made EXACT by multiplying through
      // by T: D(k) = |T·P_k − k·S| (P = prefix sum, S = total, k = rank)
      // — all BIGINT (≤ T·S ≈ 1.2e11 at sf10), argmax with the (d desc,
      // day asc) total order, left/right segment sums/counts in the
      // compared output so the implied mean shift is replayable. Corpus
      // cost: ONE keyed daily agg; prefix sums and the argmax ride
      // per-type windows on the days-scale frame.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val wo = Window.partitionBy("event_type").orderBy("day")
      val wt = Window.partitionBy("event_type")
      val pre = daily
        .withColumn("p", sum("cnt").over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("s", sum("cnt").over(wt))
        .withColumn("t", count(lit(1)).over(wt))
        .withColumn("r", row_number().over(wo).cast("long"))
        .where(col("r") < col("t")) // split AFTER day k: right side non-empty
        .withColumn("d", abs(col("t") * col("p") - col("r") * col("s")))
      val wb = Window.partitionBy("event_type").orderBy(col("d").desc, col("day"))
      pre.withColumn("rn", row_number().over(wb)).where(col("rn") === 1)
        .select(col("event_type"), col("day").as("cp_day"), col("d").as("d_max"),
          col("r").as("n_left"), col("p").as("s_left"),
          (col("t") - col("r")).as("n_right"), (col("s") - col("p")).as("s_right"))
        .orderBy("event_type")
    },

    "events_cusum" -> { (s, dir) =>
      // CUSUM change-point detection (Page 1954) — the control-chart
      // member of the smoothing family: one-sided cumulative excursions
      // above the per-type mean, s_t = max(0, s_{t-1} + (x_t − μ)),
      // alarm when s crosses 5·μ div 4. μ is the integer per-type mean
      // (sum div n) computed in the same keyed agg pass; signed deltas
      // are safe because both engines truncate integer division (the
      // events_holt measurement). Recurrence = aggregate HOF over the
      // O(days) series; oracle = recursive CTE.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("xs"),
          expr("sum(cnt) div count(1)").as("mu"))
        .withColumn("out", expr(
          """aggregate(xs,
            |  cast(array() as array<struct<day:bigint,cnt:bigint,s:bigint>>),
            |  (acc, x) -> array_append(acc, named_struct(
            |    'day', x.day, 'cnt', x.cnt,
            |    's', greatest(cast(0 as bigint),
            |           (CASE WHEN size(acc) = 0 THEN cast(0 as bigint)
            |                 ELSE element_at(acc, -1).s END) + x.cnt - mu))))""".stripMargin))
        .select(col("event_type"), col("mu"), explode(col("out")).as("o"))
        .select(col("event_type"), col("o.day").as("day"), col("o.cnt").as("cnt"),
          col("mu"), col("o.s").as("cusum"),
          expr("o.s > (mu * 5) div 4").as("alarm"))
        .orderBy("event_type", "day")
    },

    "events_gapfill" -> { (s, dir) =>
      // Calendar densification + trailing 7-day moving aggregates (the
      // gap-filling every time-series dashboard needs: a day with zero
      // events must APPEAR with cnt=0, or moving averages and anomaly
      // windows silently skip it). Shape at 100 TB: ONE corpus-sized keyed
      // agg to (event_type, day); the calendar scaffold is metadata-scale
      // (types x days) built from a ONE-ROW (d0, d1) bounds broadcast onto
      // the distinct-type frame (the mixture_rebalance shape), the
      // densifying join is keyed on (type, day) against the tiny dense
      // frame, and the moving window partitions by event_type over
      // O(days) rows — the raw log never sees a window. avg7 is a single
      // IEEE division of two exact longs, bit-identical cross-engine.
      val dayNs = 86400000000000L
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr(s"ts_ns div $dayNs").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
      val calendar = daily.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val dense = calendar.join(daily, Seq("event_type", "day"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
      dense
        .withColumn("sum7", sum("cnt").over(w))
        .withColumn("n7", count(lit(1)).over(w))
        .withColumn("avg7", col("sum7").cast("double") / col("n7"))
        .select("event_type", "day", "cnt", "sum7", "n7", "avg7")
        .orderBy("event_type", "day")
    },

    "events_rolling_users" -> { (s, dir) =>
      // Rolling 7-day distinct users per day (the DAU/WAU pair) WITHOUT a
      // distinct-over-moving-window operator (which no engine has): an
      // activity on day d covers the 7 report days [d, d+6], so WAU(d) =
      // |{users with a covered activity on d}|. Shape at 100 TB: the
      // corpus collapses FIRST to distinct (user, day) — one keyed
      // dedup — then the cover explode is a bounded 7x expansion of
      // 16-byte (user, day) pairs (never raw events, never text), one
      // more distinct, and two O(days)-output keyed aggs joined on day.
      // Report days are the OBSERVED activity days (keyed join against
      // the DAU frame), so no bounds broadcast is needed at all.
      val dayNs = 86400000000000L
      val act = Tables.events(s, dir)
        .select(col("user_id"), expr(s"ts_ns div $dayNs").as("day"))
        .distinct()
      val dau = act.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = act
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(col("day"), col("dau"), col("wau"))
        .orderBy("day")
    },

    // ---- dedup battery (#21-25) ----

    "dedup_exact" -> { (s, dir) =>
      Dedup.exactLatest(Tables.events(s, dir), Seq("user_id", "event_type"),
        Seq(col("ts_ns"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
          expr("ts_ns div 1000000").as("last_ts_ms"))
        .orderBy("user_id", "event_type")
    },

    "dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jacc"))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_clusters" -> { (s, dir) =>
      // transitive closure of the near-dup pair graph: LSH emits pairs,
      // survivor selection needs clusters (A~B, B~C => {A,B,C} keep one).
      // Connected components over the pair graph only — a vanishing
      // fraction of the corpus, O(log n) rounds on the fixpoint engine so
      // even adversarial boilerplate chains converge; the oracle computes
      // the same closure with a recursive CTE.
      val pairs = Dedup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text")
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("v").as("doc_id"), col("cluster").as("cluster_id"),
          (col("v") === col("cluster")).as("is_rep"))
        .orderBy("doc_id")
    },

    "graph_cc_incremental" -> { (s, dir) =>
      // Incremental connected components (the graph leg of the
      // incremental-maintenance family beside cdc_incremental_agg /
      // cdc_incremental_join / dedup_lsh_incremental: absorb a batch of
      // NEW edges without recomputing closure over the old graph). The
      // persisted state is the (node → root) component table; a delta
      // edge CONTRACTS through it (endpoint → its root, self for unseen
      // nodes), CC runs over the contracted ROOT graph only — a
      // vanishing fraction of the corpus graph — and the final
      // assignment is one keyed map of old roots to new. Correctness
      // argument: each base root is the min id of its component, so the
      // min over merged roots is the true min of the merged component —
      // label semantics identical to a full recompute, which IS the
      // oracle (the dedup_clusters recursive CTE over ALL pairs): the
      // hash compare is the incremental ≡ recompute proof, the
      // cdc_incremental_agg convention on graphs.
      val pairs = Dedup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = pairs.where(col("id_a") % 5 =!= 1 && col("id_b") % 5 =!= 1)
      val delta = pairs.where(col("id_a") % 5 === 1 || col("id_b") % 5 === 1)
      val baseCC = Dedup.connectedComponents(base, "id_a", "id_b")
        .select(col("v"), col("cluster"))
      val contracted = delta
        .join(baseCC.select(col("v").as("id_a"), col("cluster").as("ra0")), Seq("id_a"), "left")
        .join(baseCC.select(col("v").as("id_b"), col("cluster").as("rb0")), Seq("id_b"), "left")
        .select(coalesce(col("ra0"), col("id_a")).as("ra"),
          coalesce(col("rb0"), col("id_b")).as("rb"))
        .where(col("ra") =!= col("rb"))
      val rootMap = Dedup.connectedComponents(contracted, "ra", "rb")
        .select(col("v").as("r"), col("cluster").as("new_root"))
      val deltaNodes = delta.select(col("id_a").as("v"))
        .unionByName(delta.select(col("id_b").as("v"))).distinct()
        .join(baseCC, Seq("v"), "left")
        .select(col("v"), coalesce(col("cluster"), col("v")).as("r"))
      val allNodes = baseCC.select(col("v"), col("cluster").as("r"))
        .unionByName(deltaNodes).distinct()
      val out = allNodes.join(rootMap, Seq("r"), "left")
        .select(col("v").as("doc_id"),
          coalesce(col("new_root"), col("r")).as("cluster_id"))
        .withColumn("is_rep", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")
      graft.operators.CacheScope.unpersistAfterUse(out, pairs)
    },

    "dedup_survivors" -> { (s, dir) =>
      // The curation endgame the cluster table exists FOR: keep the
      // HIGHEST-QUALITY member of every near-dup cluster, not the min-id
      // one (production semantics: among boilerplate variants keep the
      // cleanest). LSH pairs -> CC clusters -> quality score ->
      // per-cluster argmax (quality desc, doc_id tiebreak). Shape at
      // 100 TB: clusters live on the PAIR graph only; quality is map-only;
      // the final window partitions by cluster (near-dup clusters are
      // tiny); unclustered docs are their own singleton survivors via the
      // left join's coalesce. All docs do pass through the
      // partitionBy(cluster_id) window exchange, but column pruning keeps
      // that shuffle narrow — (doc_id, quality, cluster_id), never text.
      import graft.expressions.{Sketch, TokenStats}
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("v").as("doc_id"), col("cluster").as("cl"))
      val nTok = element_at(col("st"), 1)
      val nUniq = element_at(col("st"), 2)
      val stopHits = element_at(col("st"), 3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id"))
      docs
        .withColumn("st", Sketch.column(
          TokenStats(Sketch.expr(col("text")), Tf.EnStops, lowercase = true)))
        .withColumn("quality",
          lit(0.4) * (nUniq / nTok) + lit(0.4) * (lit(1.0) - stopHits / nTok) +
            lit(0.2) * least(lit(1.0), nTok / lit(200.0)))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cl"), col("doc_id")))
        .withColumn("is_survivor", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_id"), col("quality"), col("is_survivor"))
        .orderBy("doc_id")
    },

    "dedup_substring" -> { (s, dir) =>
      // Exact repeated-SUBSTRING detection (the span-level dedup lane of
      // Lee et al. 2022, "Deduplicating Training Data Makes Language
      // Models Better": remove every ≥k-token span that occurs twice
      // anywhere in the corpus, not just whole-document near-dups): every
      // k-token window that occurs ≥2 times corpus-wide is a duplicated
      // window; overlapping/adjacent duplicated windows per doc merge into
      // MAXIMAL spans (gaps-and-islands over window positions), reported
      // as a per-doc duplicated-token fraction — the signal span-removal
      // curation cuts on. Shape at 100 TB: window strings are built
      // map-side from the token array (one explode, O(tokens) rows); the
      // repeat census is ONE keyed agg; survivors join back by window key
      // (the windows frame is persisted so the subtree executes once, not
      // once per join branch); the span merge is a narrow per-doc window
      // over (doc_id, pos) — no text in ANY shuffle (8-byte xxhash64
      // window keys; full plan story + collision envelope in
      // operators/SubstringDedup.scala and PLANS.md). Spec: the span
      // arithmetic is pinned against a brute-force per-doc model on
      // random corpora in SubstringDedupSpec.
      graft.operators.SubstringDedup
        .spanStats(Tables.documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },

    "dedup_span_removal" -> { (s, dir) =>
      // The REMOVAL half of Lee et al. span dedup: cut every duplicated
      // ≥8-token span out of every document and reassemble the surviving
      // tokens in order (operators/SubstringDedup.removeSpans — per-doc
      // LEFT ANTI of token positions against the span table, one keyed
      // reassembly agg; no text in any shuffle until the final per-doc
      // rows). The oracle rebuilds the cleaned text with the same span
      // arithmetic and string_agg ordering, so reassembly is
      // hash-compared byte-for-byte, not just counted.
      graft.operators.SubstringDedup
        .removeSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },

    "dedup_substring_incremental" -> { (s, dir) =>
      // Index-probe twin of dedup_substring (SubstringDedup
      // .incrementalSpanStats): the BASE corpus's (win-hash, count) census
      // table is the persisted index — at cluster scale written once,
      // bucketed by hash, OR-absorbed per batch by a keyed count sum —
      // and an arriving DELTA batch windows only its own rows and probes
      // it with ONE keyed equi-join. A delta window is duplicated iff
      // base+delta count ≥ 2, i.e. exactly the GLOBAL census restricted
      // to delta docs, which is what the all-corpus oracle replays
      // (filtered to the delta ids). Split: every 3rd doc is the delta.
      val docs = Tables.documents(s, dir)
      val base = docs.where(col("doc_id") % 3 =!= 0)
      val delta = docs.where(col("doc_id") % 3 === 0)
      val idx = graft.operators.SubstringDedup.censusIndex(base, "doc_id", "text", k = 8)
      graft.operators.SubstringDedup
        .incrementalSpanStats(idx, delta, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },

    "dedup_containment" -> { (s, dir) =>
      // Asymmetric doc-in-doc detection (operators/Dedup.containmentPairs):
      // C = |S(A)∩S(B)|/min(|S(A)|,|S(B)|) catches excerpts and quoted
      // fragments that symmetric Jaccard scores ~0.4 and never surfaces.
      // The corpus is augmented with derived EXCERPT docs (first 40 tokens
      // of every 11th long doc, id+1e6) so the asymmetric lane is
      // non-vacuous at any SF: excerpt⊂original pairs have J≈0.4-0.7 —
      // below the Jaccard lanes' 0.9 gate — but containment ≈ 1.0. The
      // oracle constructs the same derived corpus and brute-forces all
      // pairs, so bottom-K probe recall (miss P ≤ 1e-12) is hash-gated.
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val excerpts = base
        .where(size(split(col("text"), " ")) >= 60 && col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 40)).as("text"))
      Dedup.containmentPairs(base.unionByName(excerpts), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhashFingerprints(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    "dedup_images" -> { (s, dir) =>
      // Image near-dup — the multimodal dedup lane beside the fifteen text
      // lanes: mixed-format stored corpus (PPM base / QOI perturbed twin /
      // PNG thumbnail per seed group, all through the REAL codecs and the
      // real nearest-neighbor resize), magic-byte raster decode, 64-bit
      // aHash, Hamming-banded candidates (4×16-bit bands — pigeonhole
      // makes banding LOSSLESS at threshold 3), exact in-bucket verify.
      // The oracle replays the planted pixel arithmetic → hash bits →
      // brute-force all-pairs Hamming in SQL, so a codec bug (QOI op
      // semantics, PNG filter reconstruction, resize indexing) breaks the
      // hash match. aHash is resize-invariant by construction here: the
      // 8×8 thumbnail of a multiple-of-8 image samples the same source
      // pixels as the hash, so base↔thumbnail pairs land at Hamming 0,
      // and the +24 perturbation lane exercises 1–3-bit distances.
      import s.implicits._
      import graft.operators.ImageDedup
      val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      ImageDedup.nearDupPairs(ImageDedup.fingerprints(ImageDedup.corpus(ids)))
        .orderBy("a_id", "b_id")
    },

    "dedup_images_incremental" -> { (s, dir) =>
      // Incremental media dedup — the Bloom/LSH-index lifecycle applied
      // to perceptual hashes: "yesterday's" corpus (img_id % 10 != 0) has
      // its pairs and its band INDEX already; today's delta (img_id % 10
      // == 0) is fingerprinted alone and PROBED against index ∪ delta
      // bands, so per-batch cost tracks the delta while the index is
      // only read through a keyed join. The output unions prior pairs
      // with probed pairs, and the oracle is dedup_images' brute-force
      // all-pairs SQL over EVERYTHING — a hash match is an incremental ≡
      // recompute proof (the graph_cc_incremental convention).
      import s.implicits._
      import graft.operators.{HammingPairs, ImageDedup}
      val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      val fps = ImageDedup.fingerprints(ImageDedup.corpus(ids))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = fps.where(pmod(col("img_id"), lit(10)) =!= 0)
      val delta = fps.where(pmod(col("img_id"), lit(10)) === 0)
      val result = HammingPairs.pairs(base, "img_id")
        .unionByName(HammingPairs.probePairs(base, delta, "img_id"))
        .orderBy("a_id", "b_id")
      graft.operators.CacheScope.unpersistAfterUse(result, fps)
    },

    "dedup_video_frames" -> { (s, dir) =>
      // Video near-dup — the third multimodal lane (images: pixels, audio:
      // waveform, video: FRAME SEQUENCES): fixed-size raw frames
      // concatenated into one binary payload, sliced back through the REAL
      // frame-sampling operator (Multimodal.sampleFrames — the video
      // analogue of a raw-capture decode), per-frame content hash, then an
      // inverted frame-hash index join: two videos are near-dups when they
      // share ≥ 2 distinct frames (shot-level containment — robust to
      // dropped leading frames and single-frame edits, both planted).
      // Fully declarative: no mapPartitions, whole pipeline in Catalyst
      // expressions. Scale note: the frame-hash join is keyed; real
      // corpora have stop-frames (black/intro frames in thousands of
      // videos), so hashes seen in > 32 videos are dropped before the
      // self-join — the similarity-join prefix-filtering / stopword cap.
      val vids = Tables.documents(s, dir)
        .select(col("doc_id").as("vid_id"),
          expr("doc_id div 3").as("seed"), pmod(col("doc_id"), lit(3)).as("var"))
        .withColumn("f", lit(8) + pmod(col("seed"), lit(5)))
        .withColumn("payload", concat_ws("", expr(
          """transform(sequence(CASE WHEN var = 1 THEN 1 ELSE 0 END, f - 1),
            |  j -> CASE WHEN var = 2 AND j % 5 = 2
            |         THEN md5(cast(concat(cast(seed AS string), ':', cast(j AS string), ':x') AS binary))
            |         ELSE md5(cast(concat(cast(seed AS string), ':', cast(j AS string)) AS binary))
            |       END)""".stripMargin)).cast("binary"))
      val frames = graft.operators.Multimodal.sampleFrames(
        vids.select("vid_id", "payload"), "vid_id", "payload",
        stride = 32, maxFrames = 16, frameLen = 32)
        .select(col("vid_id"), md5(col("frame_bytes")).as("h"))
        .distinct()
      val hot = frames.groupBy("h").agg(count(lit(1)).as("n_vids"))
        .where(col("n_vids") > 32).select("h")
      val fh = frames.join(hot, Seq("h"), "left_anti")
      fh.as("x").join(fh.as("y"), Seq("h"))
        .where(col("x.vid_id") < col("y.vid_id"))
        .groupBy(col("x.vid_id").as("a_id"), col("y.vid_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .orderBy("a_id", "b_id")
    },

    "dedup_audio" -> { (s, dir) =>
      // Audio near-dup — the waveform sibling of dedup_images: WAV corpus
      // through the real RIFF/PCM16 codec, 64-window energy-profile hash
      // (integer Haitsma–Kalker skeleton: bit w = E_w > E_{w+1 mod 64}),
      // shared 4×16-bit Hamming banding (pigeonhole-lossless at 3), exact
      // verify. Comparing ADJACENT energies makes the hash amplitude-
      // invariant by construction — the planted gain-doubled twin lands
      // at Hamming 0 through a byte-different WAV payload — and the
      // sparse +64 perturbation variant plants 1–3-bit near-misses. The
      // oracle replays waveform → windows → energies → bits → brute-force
      // all-pairs Hamming in SQL, so a WAV chunk-walk or sample-decode
      // bug breaks the hash.
      import s.implicits._
      import graft.operators.AudioDedup
      val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      AudioDedup.nearDupPairs(AudioDedup.fingerprints(AudioDedup.corpus(ids)))
        .orderBy("a_id", "b_id")
    },

    "dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramNearDupPairs(Tables.documents(s, dir), "doc_id", "text", 3,
        Dedup.MinHashConfig(threshold = 0.9), blockCol = Some("source"))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jacc"))
        .orderBy("doc_a", "doc_b")
    },

    "dedup_embedding" -> { (s, dir) =>
      // The generated embeddings are near-orthogonal (max pairwise cos ~0.51
      // at sf0.01), so a 0.9-threshold query over the raw table is vacuous —
      // it proves nothing. Plant deterministic near-dup twins INSIDE the
      // query (1 in 20 vectors gets a copy with odd coordinates scaled by
      // 1.2 → cos(v, twin) >= 0.995 for any v), reproduced identically by
      // the oracle. The margin between planted pairs (~0.995) and background
      // pairs (<=0.51) is so wide that float rounding cannot flip membership.
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      // twin-id offset 1e12 keeps planted ids disjoint from real vec_ids at
      // any scale factor (1e6 would collide at >=1M embedding rows)
      val twins = base.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * (lit(1.0) + lit(0.2) * (i % 2).cast("double"))).as("embedding"))
      // Band COUNT sized to the corpus margin, band WIDTH sized to the
      // corpus cardinality — the two dials are not interchangeable. The
      // pair spectrum here is bimodal (planted twins >= 0.995, natural
      // pairs <= ~0.51), so nothing sits near the 0.9 decision boundary
      // and 64 bands suffice: a 0.995-pair shares a 16-bit band with
      // p^16 ~ 0.59 and misses all 64 with (1-0.59)^64 ~ 1e-25. Width is
      // ADAPTIVE upward (r9 sf10 finding): with a fixed 16 bits the 2^16
      // key space goes dense once the corpus outgrows it (220k vectors at
      // sf10 → ~3.4/bucket → candidates quadratic in occupancy; 22x wall
      // at 10x data), so width = max(16, ceil(log2 n) + 4) keeps expected
      // occupancy ~1/16 at any SF. The recall cost is benign for the
      // bimodal spectrum: at n=220k (21 bits) a 0.995-pair still shares a
      // band with p^21 ~ 0.51 and misses all 64 with ~1e-20. One
      // column-pruned count job sizes it — the same bounded driver-side
      // pattern as the Bloom shard sizing. (Dropping BELOW 16 is the
      // opposite mistake: 64x8 measured 3.6x slower than 256x16 at sf1.)
      val n = base.count() * 21L / 20L // + twins (1 in 20)
      val adaptiveBits = math.min(40,
        math.max(16, 68 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))))
      Dedup.embeddingNearDupPairs(base.unionByName(twins), "vec_id", "embedding",
        dim = 64, threshold = 0.9, numBands = 64, bitsPerBand = adaptiveBits)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
        .orderBy("vec_a", "vec_b")
    },

    "dedup_semantic" -> { (s, dir) =>
      // SemDeDup (cluster-then-prune) over the same planted-twin corpus as
      // dedup_embedding: spherical k-means cells + in-cell cosine pairs +
      // min-id survivors (operators/SemanticDedup.scala). The oracle
      // re-derives every decision from a GLOBAL cosine pair search — a
      // strong replay, valid because at gate scales nprobe=2 cell probing
      // recovers every planted pair (measured: 100% at sf0.01-sf1, 99.6%
      // at sf10) and the 0.995-vs-0.51 margin admits no background pairs.
      // The `ok` column is the scale-portable lane: recall vs the closed-
      // form expected twin set >= 0.99 and precision == 1, asserted by the
      // sf1/sf10 ASSERT_OK batteries where the DuckDB oracle doesn't run.
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val twins = base.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * (lit(1.0) + lit(0.2) * (i % 2).cast("double"))).as("embedding"))
      val all = base.unionByName(twins)
      val pairs = SemanticDedup.nearDupPairs(all, "vec_id", "embedding",
        threshold = 0.9).localCheckpoint(true)
      val expected = base.where(col("vec_id") % 20 === 0).count()
      // planted pairs are exactly (v, v + 1e12): anything else is a
      // precision miss and would hash-diverge at the gate anyway. ONE
      // aggregation job yields both counts (single-shot job overhead is
      // the dominant cost at small SF).
      val pairStats = pairs.agg(count(lit(1)).as("found"),
        count(when(col("id_b") === col("id_a") + 1000000000000L, 1)).as("twin"))
        .head()
      val (found, twinPairs) = (pairStats.getLong(0), pairStats.getLong(1))
      val ok = twinPairs == found && twinPairs * 100L >= expected * 99L
      SemanticDedup.decisionsFromPairs(all, "vec_id", pairs)
        .select(col("id").as("vec_id"), col("kept"), col("dup_of"),
          lit(ok).as("ok"))
        .orderBy("vec_id")
    },

    "ml_linreg" -> { (s, dir) =>
      // Distributed OLS via sufficient statistics (the canonical
      // train-a-model-in-one-aggregate shape: Σx, Σy, Σxy, Σx² carry
      // everything a closed-form fit needs, and they are plain
      // map-side-partial sums — model fitting at 100 TB is ONE keyed
      // HashAggregate, no iteration, no driver data). Per-group fit of
      // extendedprice against quantity by returnflag. The sums run in
      // exact DECIMAL (order-independent, hash-stable); the slope /
      // intercept finish is a fixed-order chain of IEEE double ops on the
      // double-cast stats — +,-,*,/ only, so both engines produce
      // bit-identical doubles.
      val x = dec2(col("l_quantity"))
      val y = dec2(col("l_extendedprice"))
      val fit = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      fit.select(col("flag"), col("n"), col("sx"), col("sy"),
          col("sxy"), col("sxx"), slope.as("slope"),
          ((col("sy") - slope * col("sx")) / nD).as("intercept"))
        .orderBy("flag")
    },

    "ml_regression_eval" -> { (s, dir) =>
      // Regression evaluation (SSE / RMSE / R²) — closing the
      // train→evaluate loop for the regression tier the way ml_auc/
      // ml_confusion closed it for classification. The insight that
      // makes it ONE pass at 100 TB: SSE needs no residual scan —
      // SSE = Σy² − 2bΣxy − 2aΣy + b²Σx² + 2abΣx + na² is a closed form
      // over the SAME sufficient statistics the fit used (one extra
      // Σy² cell), where a per-row Σ(y−ŷ)² would be an order-dependent
      // double sum that could never hash-gate. Everything after the
      // exact-DECIMAL sums is a fixed left-associated IEEE chain; RMSE's
      // sqrt is correctly rounded in both engines
      // (profile_correlation's convention).
      val x = dec2(col("l_quantity"))
      val y = dec2(col("l_extendedprice"))
      val fit = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"))
      val nD = col("n").cast("double")
      val b = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      val a = (col("sy") - b * col("sx")) / nD
      val sse = col("syy") - lit(2.0) * b * col("sxy") - lit(2.0) * a * col("sy") +
        b * b * col("sxx") + lit(2.0) * a * b * col("sx") + nD * a * a
      val sst = col("syy") - col("sy") * col("sy") / nD
      fit.select(col("flag"), col("n"), b.as("slope"), a.as("intercept"),
          sse.as("sse"), sst.as("sst"),
          sqrt(sse / nD).as("rmse"),
          (lit(1.0) - sse / sst).as("r2"))
        .orderBy("flag")
    },

    "ml_ridge" -> { (s, dir) =>
      // Ridge regression path via the SAME sufficient statistics as
      // ml_linreg (Hoerl & Kennard 1970): for a 1-feature fit the
      // L2-penalized slope is the closed form
      // β_λ = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)² + λ·n), so the WHOLE
      // regularization path costs ONE corpus pass — the grid is column
      // arithmetic on the one-row stats. Here y = event cents, x = hour
      // of day, λ ∈ {0, 16, 256, 4096}; numerator/denominator products
      // reach ~5e20 at sf10 (past int64) so they ride the
      // DECIMAL(19,0)×(19,0)→(38,0) promotion, one IEEE division per λ
      // (decimal→double matching DuckDB's HUGEINT→VARCHAR→DOUBLE — the
      // sample_neyman convention); the unpenalized intercept
      // (Σy − β·Σx)/n is a fixed mirrored double chain. λ=0 reproduces
      // OLS exactly — the in-query sanity anchor for the path.
      val lams = Seq(0L, 16L, 256L, 4096L)
      val ev = Tables.events(s, dir).select(
        expr("(ts_ns div 3600000000000) % 24").as("x"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("y"))
      val stats = ev.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      def d19(c: Column) = c.cast("decimal(19,0)")
      val num = d19(col("n")) * d19(col("sxy")) - d19(col("sx")) * d19(col("sy"))
      val rows = lams.map { lam =>
        val den = d19(col("n")) * d19(col("sxx")) - d19(col("sx")) * d19(col("sx")) +
          d19(lit(lam)) * d19(col("n"))
        val slope = num.cast("double") / den.cast("double")
        struct(lit(lam).as("lam"), col("n").as("n"), slope.as("slope"),
          ((col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("n").cast("double")).as("intercept"))
      }
      stats.select(explode(array(rows: _*)).as("r"))
        .select(col("r.lam"), col("r.n"), col("r.slope"), col("r.intercept"))
        .orderBy("lam")
    },

    "ml_linreg2" -> { (s, dir) =>
      // TWO-feature OLS via the normal equations — multiple regression as
      // the same one-pass sufficient-statistic shape as ml_linreg: the
      // keyed agg now carries the full second-moment matrix
      // (Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y — 8 map-side-partial
      // sums), and the fit is Cramer's rule on the CENTERED 2×2 system
      // (the ml_logreg Newton-step convention): A₁₁ = n·Σx₁²−(Σx₁)², etc.
      // Everything after the exact-DECIMAL sums is a fixed-order chain of
      // IEEE +,−,*,/ on the double-cast stats, so β₁, β₂, intercept
      // hash-compare bit-identically. At 100 TB this is still ONE keyed
      // HashAggregate — adding a feature costs agg cells, never a pass;
      // p features cost p(p+3)/2 cells and a driver-side p×p solve.
      // Fit: extendedprice ~ quantity + discount, by returnflag.
      val x1 = dec2(col("l_quantity"))
      val x2 = dec2(col("l_discount"))
      val y = dec2(col("l_extendedprice"))
      val st = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"),
          sum(x1).cast("double").as("s1"),
          sum(x2).cast("double").as("s2"),
          sum(y).cast("double").as("sy"),
          sum(x1 * x1).cast("double").as("s11"),
          sum(x2 * x2).cast("double").as("s22"),
          sum(x1 * x2).cast("double").as("s12"),
          sum(x1 * y).cast("double").as("s1y"),
          sum(x2 * y).cast("double").as("s2y"))
      val nD = col("n").cast("double")
      val a11 = nD * col("s11") - col("s1") * col("s1")
      val a22 = nD * col("s22") - col("s2") * col("s2")
      val a12 = nD * col("s12") - col("s1") * col("s2")
      val b1 = nD * col("s1y") - col("s1") * col("sy")
      val b2 = nD * col("s2y") - col("s2") * col("sy")
      val det = a11 * a22 - a12 * a12
      val beta1 = (b1 * a22 - b2 * a12) / det
      val beta2 = (b2 * a11 - b1 * a12) / det
      st.select(col("flag"), col("n"), col("s1"), col("s2"), col("sy"),
          beta1.as("beta1"), beta2.as("beta2"),
          ((col("sy") - beta1 * col("s1") - beta2 * col("s2")) / nD).as("intercept"))
        .orderBy("flag")
    },

    "audit_pseudonymize" -> { (s, dir) =>
      // Deterministic pseudonymization with REFERENTIAL INTEGRITY — the
      // privacy tier's fourth member (k-anonymity audit, erasure audit,
      // PII redaction, and now keyed tokenization): customer keys are
      // replaced by a salted md5-derived token consistently in BOTH the
      // customer and orders tables, so cross-table joins still work on
      // tokens alone while the clear key never leaves the trust
      // boundary. The gate: per-nation aggregates computed over the
      // TOKEN join are hash-compared against the oracle's CLEAR-key
      // join — identical results prove the tokenization is injective on
      // this keyspace and consistently applied (a token collision or a
      // salt mismatch between tables breaks the hash). Map-only token
      // derivation; one keyed join on the token, same shuffle as the
      // clear join — pseudonymization costs nothing at 100 TB.
      val tok = (k: Column) => Tf.hash60(concat(lit("pseud-"), k.cast("string")))
      val cust = Tables.customer(s, dir)
        .select(tok(col("c_custkey")).as("c_token"), col("c_nationkey"))
      val ords = Tables.orders(s, dir)
        .select(tok(col("o_custkey")).as("o_token"), dec2(col("o_totalprice")).as("price"))
      cust.join(ords, col("c_token") === col("o_token"))
        .groupBy("c_nationkey")
        .agg(countDistinct(col("c_token")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          sumd(col("price")).as("total_price"))
        .orderBy("c_nationkey")
    },

    "audit_kanonymity" -> { (s, dir) =>
      // k-anonymity audit — the privacy sibling of audit_constraints /
      // audit_erasure: report every quasi-identifier equivalence class
      // smaller than k = 5 (each is a re-identification risk: the QI
      // combination singles out < k people). QI here = (nation, segment,
      // coarsened balance bucket). ONE keyed agg + a having filter —
      // metadata-scale output; in a real deployment the generalization-
      // lattice search (widen buckets until all classes reach k) loops
      // this same agg driver-side, each step one pass.
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(5000)).cast("long").as("bal_bucket"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    },

    "audit_ldiversity" -> { (s, dir) =>
      // l-diversity audit (Machanavajjhala et al. 2007) — the second
      // privacy gate beside audit_kanonymity's class-size check: a class
      // can be large yet still leak if its SENSITIVE values are uniform
      // (the homogeneity attack k-anonymity misses). Same equivalence
      // classes (nation, segment, coarsened balance bucket); the
      // sensitive attribute is the EXACT account balance the bucket
      // coarsens away — a class whose members share few distinct exact
      // balances reveals them. l = exact COUNT(DISTINCT balance cents)
      // per class; flag every class with l < 3. One keyed agg (Spark's
      // two-phase distinct — partial dedup map-side, no second scan);
      // output is the flagged-class census, metadata-scale. The
      // generalization loop (widen buckets until min-l reaches the
      // target) re-runs this same agg driver-side, one pass per step.
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(5000)).cast("long").as("bal_bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"))
            .as("l"))
        .where(col("l") < 3)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    },

    "audit_tcloseness" -> { (s, dir) =>
      // t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
      // privacy gate: a class can be large (k-anonymous) and varied
      // (l-diverse) yet still leak if its sensitive-value DISTRIBUTION
      // diverges from the table's (skewness attack). Per equivalence
      // class (nation, segment), the Earth Mover's Distance between the
      // class's balance-bucket distribution and the global one over the
      // ORDERED domain: EMD = Σᵢ|CumP_i − CumQ_i|/(m−1), which with
      // p = c/n, q = g/N folds to the EXACT integer numerator
      // Σᵢ|cc_i·N − cg_i·n| over denominator n·N·(m−1) — ONE IEEE
      // division, and the t > 0.2 flag is the pure-integer
      // cross-multiplication num·5 > n·N·(m−1) (no float threshold).
      // Shape: one keyed (class, bucket) corpus agg + one (bucket) agg;
      // the ≤6-row bucket domain and one-row total broadcast onto the
      // ~125-row class frame (the profile_drift one-row-scalar shape);
      // cumulative windows partition BY CLASS on the bounded metadata
      // frame. Flagging is report-only here; the deployment loop widens
      // the QI generalization until max-t clears the bound, one pass per
      // step like audit_kanonymity.
      val cust = Tables.customer(s, dir).select(
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(2000)).cast("long").as("b"))
      val cells = cust.groupBy("c_nationkey", "c_mktsegment", "b")
        .agg(count(lit(1)).as("c"))
      val glob = cust.groupBy("b").agg(count(lit(1)).as("g"))
      val tot = cust.agg(count(lit(1)).as("nn"), countDistinct("b").as("m"))
      val classes = cells.groupBy("c_nationkey", "c_mktsegment").agg(sum("c").as("n"))
      val full = classes
        .crossJoin(broadcast(glob.select(col("b").as("db"), col("g"))))
        .join(cells,
          col("b") === col("db") && cells("c_nationkey") === classes("c_nationkey")
            && cells("c_mktsegment") === classes("c_mktsegment"), "left")
        .select(classes("c_nationkey"), classes("c_mktsegment"), col("n"),
          col("db"), col("g"), coalesce(col("c"), lit(0L)).as("c"))
      val w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("db")
      full
        .withColumn("cc", sum("c").over(w))
        .withColumn("cg", sum("g").over(w))
        .crossJoin(broadcast(tot))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n"), col("nn"), col("m"))
        .agg(sum(abs(col("cc") * col("nn") - col("cg") * col("n"))).as("emd_num"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("emd_num"),
          (col("n") * col("nn") * (col("m") - 1)).as("emd_den"),
          (col("emd_num").cast("double") /
            (col("n") * col("nn") * (col("m") - 1)).cast("double")).as("t"),
          (col("emd_num") * 5 > col("n") * col("nn") * (col("m") - 1)).as("flagged"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    "audit_constraints" -> { (s, dir) =>
      // Declarative data-quality audit (the Deequ/dbt-test role): domain,
      // range, and referential-integrity rules evaluated over a table in
      // the minimum number of passes — all scan-local rules FUSE into ONE
      // aggregate of conditional sums (adding a rule costs one agg cell,
      // not one scan), and the FK rule is ONE keyed left join + the same
      // conditional-sum agg (no second scan of either table). The clean
      // synthetic data would make every rule vacuously pass, so violations
      // are planted deterministically (1-in-97 negated quantities,
      // 1-in-101 orphaned custkeys) — both engines replay plant, counts,
      // and verdicts bit-identically; the two untouched rules pin the
      // no-false-positive side.
      val li = Tables.lineitem(s, dir).withColumn("qty",
        when((col("l_orderkey") * 8 + col("l_linenumber")) % 97 === 13,
          -col("l_quantity")).otherwise(col("l_quantity")))
      val scanRules = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("qty") < 0, 1L).otherwise(0L)).as("v_qty"),
        sum(when(col("l_shipdate") < lit("1990-01-01").cast("timestamp") ||
          col("l_shipdate") >= lit("2010-01-01").cast("timestamp"), 1L)
          .otherwise(0L)).as("v_date"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
          .as("v_flag"))
        .select(explode(array(
          struct(lit("lineitem_quantity_nonneg").as("rule"),
            col("n").as("n_checked"), col("v_qty").as("n_violations")),
          struct(lit("lineitem_returnflag_domain").as("rule"),
            col("n").as("n_checked"), col("v_flag").as("n_violations")),
          struct(lit("lineitem_shipdate_range").as("rule"),
            col("n").as("n_checked"), col("v_date").as("n_violations")))))
        .select(col("col.rule"), col("col.n_checked"), col("col.n_violations"))
      val o2 = Tables.orders(s, dir).withColumn("ck",
        when(col("o_orderkey") % 101 === 7, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")))
      val fkRule = o2
        .join(Tables.customer(s, dir).select(col("c_custkey")),
          col("ck") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations"))
        .select(lit("orders_custkey_fk").as("rule"),
          col("n_checked"), col("n_violations"))
      scanRules.unionByName(fkRule)
        .withColumn("pass", col("n_violations") === 0L)
        .orderBy("rule")
    },

    "audit_erasure" -> { (s, dir) =>
      // Deletion-propagation audit (the GDPR/right-to-erasure proof a
      // data platform runs after processing a deletion batch): a request
      // list (doc_id % 41 == 7) must vanish from the base table AND every
      // derived table — here the sliding-window chunk table and the
      // fingerprint index, both derived in-query by the shipped
      // operators' own arithmetic so the oracle replays them. Per table
      // the audit reports pre/post/deleted counts plus n_leaked = rows
      // still referencing a requested id AFTER erasure — the verification
      // half (proving absence, not just issuing deletes); the three
      // zero-leak rows pin it the way audit_constraints' untouched rules
      // pin the no-false-positive side. Shape at 100 TB: the request list
      // is a broadcast anti-join per table (deletion batches are small);
      // each derived table pays one map-only derivation + two counts.
      val docs = Tables.documents(s, dir)
      val del = docs.where(col("doc_id") % 41 === 7).select("doc_id")
      val chunks = docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("k", explode(sequence(lit(0L),
          when(col("n") <= 32, lit(0L)).otherwise(expr("(n - 32 + 23) div 24")))))
        .select(col("doc_id"), col("k"))
      val fpIdx = docs.select(col("doc_id"), Tf.fingerprintHex(col("text")).as("fp"))
      def audit(df: DataFrame, name: String): DataFrame = {
        // one fused agg over a labeled pre/post union (no one-row cross
        // joins); the leak probe re-derives request membership
        // arithmetically on the post side, so a broken anti-join shows
        // up as n_leaked > 0
        val post = df.join(broadcast(del), Seq("doc_id"), "anti")
        df.select(col("doc_id"), lit(1).as("side"))
          .unionByName(post.select(col("doc_id"), lit(2).as("side")))
          .agg(
            sum(when(col("side") === 1, 1L).otherwise(0L)).as("n_pre"),
            sum(when(col("side") === 2, 1L).otherwise(0L)).as("n_post"),
            sum(when(col("side") === 2 && col("doc_id") % 41 === 7, 1L)
              .otherwise(0L)).as("n_leaked"))
          .select(lit(name).as("table_name"), col("n_pre"), col("n_post"),
            (col("n_pre") - col("n_post")).as("n_deleted"), col("n_leaked"))
      }
      audit(docs.select("doc_id"), "documents")
        .unionByName(audit(chunks, "chunks"))
        .unionByName(audit(fpIdx, "fp_index"))
        .orderBy("table_name")
    },

    "audit_checksum" -> { (s, dir) =>
      // Source/sink reconciliation by per-bucket checksums (the audit a
      // CDC pipeline runs to prove the sink equals the source WITHOUT a
      // full-row compare): bucket rows by pk % 64, reduce each side to
      // (count, XOR of a 60-bit row hash) — one map-only pass + one
      // 64-row keyed agg per side — and diff the 64-row summaries. A
      // divergence names its bucket; only that bucket then needs the
      // expensive row-level diff (merkle-style narrowing; at 100 TB the
      // audit moves KBs where a full anti-join moves the table). One
      // corruption is PLANTED (sink flips o_orderkey 997's price by
      // +1), so exactly one bucket (997 % 64 = 37) must flag. XOR is
      // commutative so bucket checksums are partition-order-free, and
      // the md5-derived hash60 replays exactly in SQL.
      val src = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), dec2(col("o_totalprice")).as("price"))
      val sink = src.select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") === 997, col("price") + 1)
          .otherwise(col("price")).as("price"))
      def sums(df: DataFrame, n: String, x: String): DataFrame =
        df.select((col("o_orderkey") % 64).as("bucket"),
          Tf.hash60(concat_ws("|", col("o_orderkey").cast("string"),
            col("o_custkey").cast("string"),
            col("price").cast("string"))).as("h"))
          .groupBy("bucket")
          .agg(count(lit(1)).as(n), bit_xor(col("h")).as(x))
      sums(src, "n_src", "x_src")
        .join(sums(sink, "n_sink", "x_sink"), Seq("bucket"))
        .select(col("bucket"), col("n_src"), col("n_sink"),
          (col("n_src") === col("n_sink") && col("x_src") === col("x_sink"))
            .as("checksums_match"))
        .orderBy("bucket")
    },

    "cdc_incremental_join" -> { (s, dir) =>
      // Incremental JOIN-view maintenance (the join sibling of
      // cdc_incremental_agg's delta-aggregate): a materialized
      // orders⋈customer view absorbs an insert batch on EACH side via the
      // standard delta decomposition  ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB  — never
      // recomputing the old view. Old/new splits are deterministic
      // (orders: o_orderkey % 50, customers: c_custkey % 40) so deltas
      // exist on both sides at any SF. The oracle joins the FULL updated
      // tables directly; row-identity proves the decomposition loses and
      // duplicates nothing. Shape at 100 TB: the three delta terms each
      // join a small arriving batch against a base table (broadcast the
      // delta, equi-join on the key — the base never re-shuffles when
      // bucketed on the join key); the old view is a stored-table scan
      // in production, recomputed here only to keep the query
      // self-contained.
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), dec2(col("o_totalprice")).as("price"))
      val ordOld = ord.where(col("o_orderkey") % 50 =!= 0)
      val ordNew = ord.where(col("o_orderkey") % 50 === 0)
      val custOld = cust.where(col("c_custkey") % 40 =!= 0)
      val custNew = cust.where(col("c_custkey") % 40 === 0)
      def j(o: DataFrame, c: DataFrame): DataFrame =
        o.join(c, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
            col("price").cast("double").as("price"))
      j(ordOld, custOld)
        .unionAll(j(ordNew, custOld))
        .unionAll(j(ordOld, custNew))
        .unionAll(j(ordNew, custNew))
        .orderBy("o_orderkey")
    },

    "profile_skew" -> { (s, dir) =>
      // Key-skew diagnostics — the operational profile beside
      // profile_table/drift/benford: per-key counts, the top-10 hot keys,
      // and TWO exact concentration measures of the whole distribution:
      // HHI numerator Σcnt² and the exact Gini coefficient as the
      // integer rational gini_num = 2·Σᵢ i·cntᵢ − (n+1)·T over
      // gini_den = n·T (ranks ascending by (cnt, key); within an
      // equal-cnt block order is irrelevant since the value is
      // constant). The global rank uses NO unpartitioned window: keys
      // collapse to counts-of-counts (distinct cnt values — a tiny
      // frame), operators/PrefixSum gives each block's starting rank r0
      // by the two-phase bucket scan, and the block contributes
      // c·(m·r0 + m(m+1)/2) in closed form. The oracle computes the
      // SAME Gini by brute-force row_number over all keys — a different
      // algorithm, so the hash match proves the decomposition. This is
      // the report you run before choosing salting factors
      // (join_skew_salted) or hybrid hot-key handling (join_hybrid_skew).
      val cnts = Tables.orders(s, dir).groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val cc = cnts.groupBy("cnt").agg(count(lit(1)).as("m"))
      val pre = graft.operators.PrefixSum.inclusive(cc, "cnt", "m", 16L)
      val glob = pre
        .withColumn("r0", col("cum") - col("m"))
        .withColumn("contrib", expr("cnt * (m * r0 + (m * (m + 1)) div 2)"))
        .agg(sum(col("contrib")).as("srx"),
          sum(col("cnt") * col("m")).as("n_rows"),
          sum(col("m")).as("n_keys"),
          sum(col("cnt") * col("cnt") * col("m")).as("hhi_num"))
        .select(
          (lit(2L) * col("srx") - (col("n_keys") + 1) * col("n_rows")).as("gini_num"),
          (col("n_keys") * col("n_rows")).as("gini_den"),
          col("n_rows"), col("n_keys"), col("hhi_num"))
      val top = cnts.orderBy(col("cnt").desc, col("key")).limit(10)
      top.crossJoin(broadcast(glob)).orderBy(col("cnt").desc, col("key"))
    },

    "profile_fd" -> { (s, dir) =>
      // Functional-dependency audit (the Metanome/data-profiling
      // classic): does column A determine column B? For each candidate
      // FD, ONE keyed agg groups by the LHS and counts groups whose RHS
      // has more than one distinct value — violations = Σ(distinct−1),
      // holds ⟺ zero. Candidates chosen to span outcomes: the PK FD
      // (orderkey → custkey, holds by construction), an FK-chained FD
      // over a join (customer's nationkey → nation's regionkey — the
      // cross-table dependency discovery a schema-inference pass
      // reports), and two plausible-but-FALSE value FDs the report must
      // refute (partkey does NOT determine unit price in this generator
      // — 49 distinct unit prices on one part). Each candidate is one keyed agg with
      // map-side partial distinct; output is the 4-row audit table. At
      // 100 TB the lattice search runs this same agg per candidate,
      // pruning supersets of holding FDs.
      def fd(df: DataFrame, name: String, lhs: Column, rhs: Column) =
        df.select(lhs.as("l"), rhs.as("r"))
          .groupBy("l").agg(countDistinct("r").as("d"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
            sum(col("d") - 1).as("n_extra_values"),
            max("d").as("max_rhs_distinct"))
          .select(lit(name).as("fd"), col("n_groups"), col("n_violating_groups"),
            col("n_extra_values"), col("max_rhs_distinct"),
            (col("n_violating_groups") === 0L).as("holds"))
      val ord = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      fd(ord, "orderkey->custkey", col("o_orderkey"), col("o_custkey"))
        .unionByName(fd(ord, "custkey->orderpriority",
          col("o_custkey"), col("o_orderpriority")))
        .unionByName(fd(li, "partkey->unitprice", col("l_partkey"),
          expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint) div cast(l_quantity as bigint)")))
        .unionByName(fd(
          Tables.customer(s, dir).join(
            Tables.nation(s, dir),
            col("c_nationkey") === col("n_nationkey")),
          "nationkey->regionkey", col("c_nationkey"), col("n_regionkey")))
        .orderBy("fd")
    },

    "profile_outliers" -> { (s, dir) =>
      // IQR-fence outlier census per numeric column (the Tukey boxplot
      // rule every profiler reports): per column, exact Q1/Q3 via the
      // ceil-rank cumulative walk over the bounded value histogram (the
      // events_winsorize discipline — no corpus sort, no float
      // percentile), then fences at 1.5·IQR evaluated in DOUBLED
      // integer form (2x < 2·Q1 − 3·IQR, 2x > 2·Q3 + 3·IQR — no
      // halving, no float). Two passes per column: histogram agg +
      // conditional fence count, each column-pruned to its own field.
      // Columns span outcomes: the right-skewed event value (a real
      // outlier tail) and two near-uniform lineitem columns whose ZERO
      // counts are themselves the gated finding. Output: per-column n,
      // q1, q3, fence outlier counts, extremes.
      // r15: ONE corpus scan per column. The value histogram is
      // checkpointed once and every downstream statistic is derived from
      // it — n/min/max as Σc/min(x)/max(x), and the fence census as
      // c-weighted conditional sums over histogram rows (bit-identical
      // integers to counting raw rows: every raw row of value x
      // contributes 1 iff its histogram row satisfies the same integer
      // predicate). The previous form re-scanned the raw values for tot
      // and for the fence count, and re-derived the (unpersisted) hist
      // inside PrefixSum and under BOTH q1/q3 consumers — ~6 corpus scans
      // per column where one suffices (guide §1.2: don't compute things
      // twice; §2.3: aggregate before you shuffle).
      def colCensus(name: String, src: DataFrame, v: Column) = {
        val hist = src.select(v.cast("long").as("x"))
          .groupBy("x").agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        // global cumulative over the value histogram WITHOUT an
        // unpartitioned window: operators/PrefixSum's two-phase bucket
        // scan (the sample_pps machinery)
        val cum = graft.operators.PrefixSum.inclusive(hist, "x", "c", 4096L)
        val tot = hist.agg(coalesce(sum("c"), lit(0L)).as("n"),
          min("x").as("mn"), max("x").as("mx"))
        // both quartiles in ONE pass over the (tiny) cumulative table
        val qs = cum.crossJoin(broadcast(tot))
          .agg(min(when(col("cum") >= expr("(25 * n + 99) div 100"), col("x"))).as("q1"),
            min(when(col("cum") >= expr("(75 * n + 99) div 100"), col("x"))).as("q3"))
        val fenced = hist.crossJoin(broadcast(qs))
          .agg(sum(when(col("x") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3,
              col("c")).otherwise(0L)).as("n_out_low"),
            sum(when(col("x") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3,
              col("c")).otherwise(0L)).as("n_out_high"),
            first("q1").as("q1"), first("q3").as("q3"))
        fenced.crossJoin(broadcast(tot))
          .select(lit(name).as("column"), col("n"), col("mn").as("min_v"),
            col("mx").as("max_v"), col("q1"), col("q3"),
            col("n_out_low"), col("n_out_high"))
      }
      val li = Tables.lineitem(s, dir)
      colCensus("quantity", li, col("l_quantity"))
        .unionByName(colCensus("extendedprice_cents", li,
          expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)")))
        .unionByName(colCensus("event_value_cents", Tables.events(s, dir),
          expr("cast(cast(value as decimal(12,2)) * 100 as bigint)")))
        .orderBy("column")
    },

    "profile_correlation" -> { (s, dir) =>
      // Pairwise Pearson correlation matrix over lineitem's numeric
      // columns — the multivariate profile beside profile_table (per
      // column) and profile_drift (per distribution): which measures
      // co-move, the report that drives feature selection and
      // redundant-column pruning. ONE corpus pass computes every exact
      // sufficient statistic (n, Σx per column, Σx² and Σxy as
      // DECIMAL(38,0) — Σ(p·p) ≈ 7e21 at sf10 leaves int64, and the
      // n·Σxy − Σx·Σy numerators peak ~4e29, inside 38 digits; DuckDB
      // replays via HUGEINT); the 6-pair reshape is a stack over the
      // ONE-ROW aggregate, no join at all. Columns enter integer-scaled
      // (cents / hundredths — Pearson is scale-invariant, so the scaled
      // correlation IS the raw correlation), and each corr finishes in
      // a pinned IEEE order: double(num) / (sqrt(double(vx)) ·
      // sqrt(double(vy))) — one cast, two sqrts (correctly rounded in
      // both engines), one multiply, one divide.
      val li = Tables.lineitem(s, dir).select(
        col("l_quantity").cast("long").as("q"),
        expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)").as("p"),
        expr("cast(cast(l_discount as decimal(4,2)) * 100 as bigint)").as("d"),
        expr("cast(cast(l_tax as decimal(4,2)) * 100 as bigint)").as("t"))
      val cs = Seq("q", "p", "d", "t")
      val pairs = for { i <- cs.indices; j <- i + 1 until cs.size }
        yield (cs(i), cs(j))
      def d38(c: Column) = c.cast("decimal(38,0)")
      // The Σx²/Σxy accumulators leave int64 (Σp² ≈ 7e21 at sf10) but a
      // decimal(38,0) SUM runs on boxed BigDecimals — measured 10× slower
      // than long sums (21 s vs ~3 s at sf10). Each product (< 2^47)
      // instead splits into hi = xy div 2^30 (Σhi ≤ 6.6e12 at sf10,
      // inside int64 to ~sf1000) and lo = xy mod 2^30 (Σlo ≤ 6.4e16),
      // so the CORPUS pass is all codegen'd long sums; the exact
      // decimal recombination hi·2^30 + lo happens once on the ONE-ROW
      // aggregate. Products are nonnegative here, so div/mod agree in
      // any truncation semantics.
      val B = 1073741824L // 2^30
      def hiLo(name: String, prod: Column) = Seq(
        sum(expr(s"_pc_$name div $B")).as(s"hi_$name"),
        sum(expr(s"_pc_$name % $B")).as(s"lo_$name"))
      val prods = cs.map(c => (s"ss_$c", col(c) * col(c))) ++
        pairs.map { case (a, b) => (s"sp_${a}_$b", col(a) * col(b)) }
      val withProds = prods.foldLeft(li) { case (acc, (nm, p)) =>
        acc.withColumn(s"_pc_$nm", p) }
      val aggs = (count(lit(1)).as("n") +:
        cs.map(c => sum(col(c)).as(s"s_$c"))) ++
        prods.flatMap { case (nm, p) => hiLo(nm, p) }
      val g0 = withProds.agg(aggs.head, aggs.tail: _*)
      val g = prods.foldLeft(g0) { case (acc, (nm, _)) =>
        acc.withColumn(nm, d38(col(s"hi_$nm")) * lit(B) + d38(col(s"lo_$nm")))
      }
      val withV = cs.foldLeft(g) { (acc, c) =>
        acc.withColumn(s"v_$c",
          d38(col("n")) * col(s"ss_$c") - d38(col(s"s_$c")) * d38(col(s"s_$c")))
      }
      val withCorr = pairs.foldLeft(withV) { case (acc, (a, b)) =>
        acc.withColumn(s"corr_${a}_$b",
          (d38(col("n")) * col(s"sp_${a}_$b")
            - d38(col(s"s_$a")) * d38(col(s"s_$b"))).cast("double")
            / (sqrt(col(s"v_$a").cast("double"))
              * sqrt(col(s"v_$b").cast("double"))))
      }
      val stackArgs = pairs.map { case (a, b) =>
        s"'$a', '$b', s_$a, s_$b, corr_${a}_$b"
      }.mkString(", ")
      withCorr.select(col("n"), expr(s"stack(${pairs.size}, $stackArgs) " +
          "as (col_x, col_y, sum_x, sum_y, corr)"))
        .select(col("col_x"), col("col_y"), col("n"), col("sum_x"),
          col("sum_y"), col("corr"))
        .orderBy("col_x", "col_y")
    },

    "profile_entropy" -> { (s, dir) =>
      // Per-column Shannon entropy + normalized entropy — the
      // distribution-shape member of the profiling tier (profile_table
      // counts, profile_skew concentration; entropy is the single number
      // answering "is this column informative or near-constant?", and
      // H/ln(k) is the scale-free version comparable across columns).
      // Per column: ONE keyed value-count agg (values cast to STRING so
      // one schema carries every type; Spark's UTF8String binary order =
      // DuckDB's binary collation, so the ASCENDING-value p·ln(p) fold —
      // sort_array + aggregate with graft_ln — replays as
      // −SUM(p·ln p ORDER BY v). h_norm is NULL for constant columns
      // (ln 1 = 0) identically in both engines.
      val ev = Tables.events(s, dir)
      val cols = Seq(
        ("event_type", col("event_type").cast("string")),
        ("hour", expr("(ts_ns div 3600000000000) % 24").cast("string")),
        ("dow", expr("((ts_ns div 86400000000000) + 4) % 7").cast("string")))
      val perCol = cols.map { case (name, c) =>
        ev.select(c.as("v")).groupBy("v").agg(count(lit(1)).as("c"))
          .agg(sort_array(collect_list(struct(col("v"), col("c")))).as("xs"),
            sum("c").as("n"), count(lit(1)).as("n_distinct"))
          .select(lit(name).as("column"), col("xs"), col("n"), col("n_distinct"))
      }
      perCol.reduce(_ unionByName _)
        .withColumn("h_nats", -expr(
          """aggregate(xs, cast(0.0 as double), (acc, x) -> acc +
            |  cast(x.c as double) / cast(n as double)
            |    * graft_ln(cast(x.c as double) / cast(n as double)))""".stripMargin))
        .select(col("column"), col("n"), col("n_distinct"), col("h_nats"),
          when(col("n_distinct") > 1L,
            col("h_nats") / expr("graft_ln(cast(n_distinct as double))"))
            .as("h_norm"))
        .orderBy("column")
    },

    "profile_table" -> { (s, dir) =>
      // Column-level data-quality profiling (the pre-ingest validation
      // pass a pipeline runs before trusting a new source): per column,
      // row count / null count / exact distinct count / min / max.
      // Deliberately ONE BRANCH PER COLUMN rather than one wide agg with
      // N countDistincts: each branch's parquet scan reads exactly its
      // own column (column pruning — ReadSchema shows one field), where
      // a multi-distinct agg expands every row N ways through a single
      // full-width scan. At 100 TB profiling is I/O-bound, so N pruned
      // single-column scans beat one N-fold expand; swap countDistinct
      // for the HLL sketch (row 8c) when exactness can yield. min/max
      // surface as strings after a type-aware cast (decimal for doubles,
      // date for timestamps) so one schema carries every column type
      // with exact cross-engine formatting.
      val li = Tables.lineitem(s, dir)
      def prof(name: String, v: Column): DataFrame =
        li.select(v.as("v"))
          .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_nonnull"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).cast("string").as("min_value"),
            max(col("v")).cast("string").as("max_value"))
          .select(lit(name).as("col_name"), col("n_rows"),
            (col("n_rows") - col("n_nonnull")).as("n_nulls"),
            col("n_distinct"), col("min_value"), col("max_value"))
      prof("l_orderkey", col("l_orderkey"))
        .unionAll(prof("l_quantity", dec2(col("l_quantity"))))
        .unionAll(prof("l_returnflag", col("l_returnflag")))
        .unionAll(prof("l_shipdate", col("l_shipdate").cast("date")))
        .orderBy("col_name")
    },

    "layout_hilbert" -> { (s, dir) =>
      // Hilbert-curve layout vs Z-order vs natural under EQUAL-ROW files
      // (the repartitionByRange production layout). A first cut sliced
      // files by equal KEY width — and measured ZERO difference at every
      // granularity and box, necessarily: the top k bits of the Morton
      // key and of the Hilbert index identify the SAME level-k quadtree
      // cells (only numbered differently), so equal-key-width files are
      // the same row partition under either curve. The curves separate
      // only when file boundaries fall at equal-ROW cuts along the curve
      // order — exactly what a range-partitioned write produces — where
      // Hilbert's UNIT-STEP property (consecutive positions are always
      // grid neighbors; Morton jumps diagonally at power-of-two
      // boundaries) keeps each file's min/max box tight across cuts.
      // Measured at sf0.01 on the [700,830]x[1500,1700] box: Z-order
      // touches 8 of 64 files, Hilbert 4, natural 64. Rank assignment
      // uses the generic two-phase distributed prefix sum over per-key
      // counts (PrefixSum.inclusive — no unpartitioned window; key
      // groups stay whole so ties never split mid-file), and the ORACLE
      // replays the curve walk itself as a 13-step recursive CTE — the
      // curve is hash-verified, not just the pruning counts.
      import graft.expressions.Spatial
      import graft.operators.PrefixSum
      def days(c: Column): Column =
        datediff(c.cast("date"), to_date(lit("1970-01-01"))).cast("long")
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        (col("o_custkey") % 4096).as("x"),
        (days(col("o_orderdate")) % 4096).as("y"))
      val zkey = (0 until 12).foldLeft(lit(0L)) { (acc, i) =>
        acc
          .bitwiseOR(shiftleft(shiftright(col("x"), i).bitwiseAND(lit(1L)), 2 * i))
          .bitwiseOR(shiftleft(shiftright(col("y"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      }
      val keyed = base
        .withColumn("zkey", zkey)
        .withColumn("hkey", Spatial.hilbert(col("x"), col("y")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hit = col("x1") >= 700 && col("x0") <= 830 &&
        col("y1") >= 1500 && col("y0") <= 1700
      def stats(keyCol: String, width: Long, name: String): DataFrame = {
        val counts = keyed.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("cnt"))
        val cum = PrefixSum.inclusive(counts, "k", "cnt", width)
        val n = cum.agg(max("cum").as("n"))
        val files = cum.crossJoin(broadcast(n))
          .select(col("k").as(keyCol),
            expr("(cum - cnt) * 64 div n").as("f"))
        keyed.join(files, Seq(keyCol))
          .groupBy("f")
          .agg(count(lit(1)).as("n_rows"),
            min("x").as("x0"), max("x").as("x1"),
            min("y").as("y0"), max("y").as("y1"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
            sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
          .select(lit(name).as("layout"),
            col("n_files"), col("files_hit"), col("rows_scanned"))
      }
      val out = stats("o_orderkey", 65536L, "natural")
        .unionAll(stats("zkey", 16384L, "zorder"))
        .unionAll(stats("hkey", 16384L, "hilbert"))
        .orderBy("layout")
      graft.operators.CacheScope.unpersistAfterUse(out, keyed)
    },

    "layout_zorder" -> { (s, dir) =>
      // Z-order data layout for multi-dimensional scan pruning (the
      // storage-layout operator behind Delta/Iceberg OPTIMIZE ZORDER;
      // Morton order, Orenstein & Merrett 1984): interleave the bits of
      // two 12-bit dimensions (custkey, orderdate-day, both mod 4096)
      // into a 24-bit Morton key, lay rows into 64 equal-key-width
      // "files" by the key's top 6 bits, and measure — against the
      // natural insertion-order layout at the same file count — how many
      // files a 2-D range predicate (x∈[100,227], y∈[1000,1127]) can
      // prune via per-file min/max stats. Z-order co-locates both
      // dimensions, so the predicate touches the few files whose Morton
      // prefix overlaps the query box; the natural layout spreads both
      // dimensions across every file and prunes nothing. All arithmetic
      // is integer bit ops, so the oracle replays layout assignment and
      // pruning exactly. At production scale the same zkey feeds
      // repartitionByRange + sortWithinPartitions before the write —
      // this query IS the min/max-stats math a lakehouse scan uses.
      def days(c: Column): Column =
        datediff(c.cast("date"), to_date(lit("1970-01-01"))).cast("long")
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        (col("o_custkey") % 4096).as("x"),
        (days(col("o_orderdate")) % 4096).as("y"))
      val zkey = (0 until 12).foldLeft(lit(0L)) { (acc, i) =>
        acc
          .bitwiseOR(shiftleft(shiftright(col("x"), i).bitwiseAND(lit(1L)), 2 * i))
          .bitwiseOR(shiftleft(shiftright(col("y"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      }
      val bounds = base.agg(min("o_orderkey").as("k_min"),
        (max(col("o_orderkey")) + 1).as("k_max1"))
      val bucketed = base.withColumn("zkey", zkey)
        .crossJoin(broadcast(bounds))
        .select(col("x"), col("y"),
          expr("(o_orderkey - k_min) * 64 div (k_max1 - k_min)").as("b_nat"),
          shiftright(col("zkey"), 18).as("b_z"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hit = col("x1") >= 100 && col("x0") <= 227 &&
        col("y1") >= 1000 && col("y0") <= 1127
      def stats(bCol: String, name: String): DataFrame =
        bucketed.groupBy(col(bCol).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            min("x").as("x0"), max("x").as("x1"),
            min("y").as("y0"), max("y").as("y1"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
            sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
          .select(lit(name).as("layout"),
            col("n_files"), col("files_hit"), col("rows_scanned"))
      val out = stats("b_nat", "natural").unionAll(stats("b_z", "zorder"))
        .orderBy("layout")
      graft.operators.CacheScope.unpersistAfterUse(out, bucketed)
    },

    "join_fuzzy" -> { (s, dir) =>
      // Fuzzy record linkage (the cross-table sibling of
      // dedup_editdistance, as minhashProbePairs is of the LSH
      // self-join): a dirty feed (doc_id % 3 == 0) links against a
      // master catalog (doc_id % 3 != 0) on a 40-char title key at
      // Levenshtein ≤ 1 via Dedup.editDistanceProbePairs. Typos are
      // PLANTED: every doc_id % 6 == 0 feed row takes master
      // doc_id+1's title with char 5 substituted by 'Q' — one edit,
      // replayable arithmetic — so the linkage is non-vacuous at any
      // SF; unplanted feed rows mostly link nowhere (natural shared
      // 40-char prefixes surface identically on both engines). Exact
      // levenshtein verification in hashed-key buckets keeps the
      // result row-identical to the brute-force cross oracle.
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("t0"))
      val next = base.select((col("doc_id") - 1).as("n_id"), col("t0").as("n_t"))
      val titled = base.join(next, col("doc_id") === col("n_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 6 === 0 && col("n_t").isNotNull && length(col("n_t")) >= 6,
            concat(substring(col("n_t"), 1, 4), lit("Q"), substring(col("n_t"), 6, 100)))
            .otherwise(col("t0")).as("title"))
      Dedup.editDistanceProbePairs(
        titled.where(col("doc_id") % 3 =!= 0),
        titled.where(col("doc_id") % 3 === 0),
        "doc_id", "title")
        .orderBy("id_master", "id_probe")
    },

    "join_interval_overlap" -> { (s, dir) =>
      // Interval-INTERVAL overlap join (the temporal join for validity
      // windows / sessions / SCD-2 histories — the two-sided sibling of
      // join_range): per (user, day), the span of a user's clicks overlaps
      // which spans of the same user's errors ("errors during active
      // browsing"). Declared naively the predicate is a nested loop; here
      // both interval sets explode to 6-hour domain buckets and equi-join
      // on (user_id, bucket). An overlapping pair meets in EVERY shared
      // bucket, so pairs are CLAIMED by exactly one — the bucket of
      // max(start_a, start_b), which both intervals provably span — a
      // post-filter, NOT a distinct pass: no second corpus-sized shuffle
      // exists (see operators/RangeJoin.intervalOverlap). Span building
      // is one keyed agg; overlap arithmetic is exact epoch-nanos
      // integers.
      import graft.operators.RangeJoin
      val dayNs = 86400000000000L
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("ts_ns"), expr(s"ts_ns div $dayNs").as("day"))
      def spans(t: String, p: String): DataFrame =
        ev.where(col("event_type") === t)
          .groupBy("user_id", "day")
          .agg(min("ts_ns").as(s"${p}_start"), (max(col("ts_ns")) + 1).as(s"${p}_end"))
          .withColumnRenamed("day", s"${p}_day")
      RangeJoin.intervalOverlap(spans("click", "c"), spans("error", "e"),
        "c_start", "c_end", "e_start", "e_end",
        bucketWidth = 6L * 3600 * 1000000000L, keyCols = Seq("user_id"))
        .select(col("user_id"), col("c_day"), col("e_day"),
          col("c_start"), col("e_start"),
          (least(col("c_end"), col("e_end")) -
            greatest(col("c_start"), col("e_start"))).as("overlap_ns"))
        .orderBy("user_id", "c_start", "e_start")
    },

    "join_interval_allen" -> { (s, dir) =>
      // Allen's interval algebra census (Allen 1983 — the 13 mutually
      // exclusive, jointly exhaustive temporal relations: before/meets/
      // overlaps/starts/during/finishes, their inverses, and equals) —
      // the classification layer on top of the interval-join tier: per
      // (user, day), the user's click span vs view span, endpoints
      // truncated to HOURS so endpoint-equality relations (meets/starts/
      // finishes/equals) occur structurally, not just by nanosecond
      // luck. The CASE ladder orders disjoint tests so each pair lands
      // in exactly one relation — exact integer compares throughout; the
      // census LEFT-joins a 13-row literal so absent relations report 0.
      // Scale: spans are one keyed agg each; the pair join is EQUI on
      // (user_id, day) — one pair per key by construction (min/max spans
      // are unique per key); a many-to-many variant would ride
      // RangeJoin.intervalOverlap's bucket machinery unchanged.
      import s.implicits._
      val hourNs = 3600000000000L
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        col("ts_ns"), expr("ts_ns div 86400000000000").as("day"))
      def spans(t: String, p: String): DataFrame =
        ev.where(col("event_type") === t)
          .groupBy("user_id", "day")
          .agg(expr(s"min(ts_ns) div $hourNs").as(s"${p}_start"),
            (expr(s"max(ts_ns) div $hourNs") + 1).as(s"${p}_end"))
      val pairs = spans("click", "a").join(spans("view", "b"), Seq("user_id", "day"))
      val rel = pairs.withColumn("relation",
        when(col("a_end") < col("b_start"), "before")
          .when(col("a_end") === col("b_start"), "meets")
          .when(col("b_end") < col("a_start"), "after")
          .when(col("b_end") === col("a_start"), "met_by")
          .when(col("a_start") === col("b_start") && col("a_end") === col("b_end"), "equals")
          .when(col("a_start") === col("b_start") && col("a_end") < col("b_end"), "starts")
          .when(col("a_start") === col("b_start"), "started_by")
          .when(col("a_end") === col("b_end") && col("a_start") > col("b_start"), "finishes")
          .when(col("a_end") === col("b_end"), "finished_by")
          .when(col("a_start") > col("b_start") && col("a_end") < col("b_end"), "during")
          .when(col("a_start") < col("b_start") && col("a_end") > col("b_end"), "contains")
          .when(col("a_start") < col("b_start"), "overlaps")
          .otherwise("overlapped_by"))
      val all13 = Seq("before", "meets", "overlaps", "starts", "during",
        "finishes", "equals", "finished_by", "contains", "started_by",
        "overlapped_by", "met_by", "after").toDF("relation")
      all13.join(rel.groupBy("relation").agg(count(lit(1)).as("n_pairs")),
          Seq("relation"), "left")
        .select(col("relation"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
        .orderBy("relation")
    },

    "link_golden" -> { (s, dir) =>
      // Golden-record construction — the survivorship step of master-data
      // management that entity resolution exists FOR: once near-duplicate
      // records are clustered (the SAME LSH pair graph + CC closure
      // as dedup_clusters/sample_split_grouped — one resolution, many
      // consumers), each cluster merges to ONE golden record with
      // field-level survivorship: per field the MODAL value with a
      // deterministic (count desc, value asc) tiebreak, plus the
      // min-id representative, member count, and max n_chars. This is
      // field-wise voting, not row-wise argmax — dedup_survivors keeps
      // one whole ROW; the golden record can mix fields from different
      // members, which is what MDM merge rules actually do.
      // Shape at 100 TB: clusters live on the PAIR graph; the member
      // join is keyed on doc_id; the vote is one keyed agg to
      // (cluster, field-value) counts + a window over clusters (near-dup
      // clusters are tiny); only clustered docs participate — singletons
      // never shuffle.
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("v").as("doc_id"), col("cluster").as("cluster_id"))
      val members = docs.join(clusters, Seq("doc_id"))
        .select(col("doc_id"), col("cluster_id"), col("lang"), col("source"),
          col("n_chars"))
      def modal(f: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id").orderBy(col("cnt").desc, col(f))
        members.groupBy(col("cluster_id"), col(f))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("cluster_id"), col(f).as(s"golden_$f"))
      }
      members.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"), min("doc_id").as("rep_doc_id"),
          max("n_chars").as("max_chars"))
        .join(modal("lang"), Seq("cluster_id"))
        .join(modal("source"), Seq("cluster_id"))
        .orderBy("cluster_id")
    },

    "join_range" -> { (s, dir) =>
      // Range join without a nested loop: lineitem ship dates (points)
      // against 7-day order windows (intervals) — bucketized to a plain
      // equi-join on floor(day/7) + exact post-filter; each pair meets in
      // exactly one bucket (the point's), so no dedup. Because the final
      // aggregate needs only per-day totals (not point identity), points
      // are PRE-AGGREGATED to one row per distinct day before the range
      // join — the decisive scale property (r9 sf10 finding): raw
      // point-interval pairs grow as points x interval-density (both grow
      // with SF over a fixed date span, so pairs grow quadratically in SF;
      // 21x wall at 10x data), while day-interval pairs are capped at
      // |days| x density. Sum-of-partial-decimal-sums is exact, so the
      // oracle is unchanged. Shuffle is O(days + 2x intervals).
      import graft.operators.RangeJoin
      def days(c: Column): Column =
        datediff(c.cast("date"), to_date(lit("1970-01-01"))).cast("long")
      val pts = Tables.lineitem(s, dir)
        .select(days(col("l_shipdate")).as("ship_day"), dec2(col("l_quantity")).as("qty"))
        .groupBy("ship_day")
        .agg(count(lit(1)).as("n_pts"), sum(col("qty")).as("qty_day"))
      val ivs = Tables.orders(s, dir)
        .where(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey"), days(col("o_orderdate")).as("win_start"),
          (days(col("o_orderdate")) + 7).as("win_end"))
      RangeJoin.pointInInterval(pts, ivs, "ship_day", "win_start", "win_end",
        bucketWidth = 7L)
        .groupBy("o_orderkey")
        .agg(sum(col("n_pts")).as("n_shipments"),
          sum(col("qty_day")).cast("double").as("sum_qty"))
        .orderBy("o_orderkey")
    },

    "dedup_incremental" -> { (s, dir) =>
      // Incremental dedup of an incoming batch (odd doc_ids) against an
      // existing corpus (even doc_ids): SHARDED Bloom prefilter — per-bucket
      // fixed-size filters built by one groupBy aggregate and probed by an
      // equi-join on bucket, so no single filter ever has to fit an
      // aggregation buffer or a broadcast — then exact anti-join over the
      // maybe-hits only. Duplicates are PLANTED (1 in 10 incoming docs
      // takes its even neighbor's text) so the filter has real positives to
      // catch; the oracle is the PLAIN anti-join — no false negatives means
      // the two are row-identical.
      import graft.operators.IncrementalDedup
      val docs = Tables.documents(s, dir)
      val corpusRaw = docs.where(col("doc_id") % 2 === 0).select("doc_id", "text")
      val planted = docs.where(col("doc_id") % 2 === 1).select("doc_id", "text")
        .join(corpusRaw.select(col("doc_id").as("nb_id"), col("text").as("nb_text")),
          col("nb_id") === col("doc_id") - 1, "left")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 5 && col("nb_id").isNotNull, col("nb_text"))
            .otherwise(col("text")).as("text"))
      val corpus = corpusRaw.select(Tf.fingerprintHex(col("text")).as("fp"))
      val incoming = planted.select(col("doc_id"), Tf.fingerprintHex(col("text")).as("fp"))
      // shard count scales with the corpus at a FIXED bits-per-shard
      // (~8 bits/key -> ~2% FP at k=6): growth adds shards, never
      // bytes-per-shard. Bounded driver fetch: one count (same class as
      // the pkBounds reads). min 4 shards so the test scale exercises the
      // multi-shard path, not a degenerate single bucket.
      val bitsPerShard = 1 << 16
      val n = corpusRaw.count()
      val numShards = math.max(4L, (8L * n + bitsPerShard - 1) / bitsPerShard).toInt
      IncrementalDedup.newRowsSharded(incoming, corpus, "fp",
        numShards, bitsPerShard, numHashes = 6)
        .orderBy("doc_id")
    },

    "dedup_editdistance" -> { (s, dir) =>
      // Character-level edit-distance dedup at Levenshtein ≤ 1 over a
      // derived 40-char title key (FastSS deletion neighborhoods,
      // Dedup.editDistancePairs) — the typo-variant family shingle
      // Jaccard cannot resolve on short keys. Typo twins are PLANTED
      // (doc_id % 23 == 1 takes doc_id−1's title with char 8 substituted
      // by 'Z' — one substitution, replayable arithmetic) so the gate is
      // non-vacuous at any SF; natural dist-0 pairs (docs sharing a
      // 40-char prefix) surface identically on both engines. Exact
      // levenshtein verification inside key buckets makes the pair set
      // row-identical to the brute-force all-pairs oracle.
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("t0"))
      val prev = base.select((col("doc_id") + 1).as("p_id"), col("t0").as("p_t"))
      val titled = base.join(prev, col("doc_id") === col("p_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 23 === 1 && col("p_t").isNotNull && length(col("p_t")) >= 9,
            concat(substring(col("p_t"), 1, 7), lit("Z"), substring(col("p_t"), 9, 100)))
            .otherwise(col("t0")).as("title"))
      Dedup.editDistancePairs(titled, "doc_id", "title")
        .orderBy("id_a", "id_b")
    },

    "dedup_lsh_incremental" -> { (s, dir) =>
      // Incremental NEAR-dup index maintenance (the LSH sibling of the
      // exact Bloom lane above): the base corpus (doc_id % 10 != 0) owns a
      // persisted (id, band_id, band_hash) table — the index — and each
      // arriving delta batch (doc_id % 10 == 0) sketches only its own rows,
      // probes the index with a keyed equi-join, and exact-verifies inside
      // buckets (Dedup.minhashProbePairs). Within-batch near-dups are the
      // existing self-join lane over the small delta only. A delta doc is
      // kept iff it near-matches neither the index nor an earlier delta
      // doc; kept docs' band rows are what the next round appends to the
      // index. Within-batch twins are PLANTED (doc_id % 30 == 10 copies
      // doc_id+10's text plus a tail token -> shingle Jaccard ~0.96) so
      // that lane is non-vacuous at any SF; cross-boundary matches occur
      // naturally (the generator's near-dup pairs straddle the % 10
      // split). Exact verification at threshold makes the whole pipeline
      // row-identical to the all-pairs cross/self oracle.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twin = docs.select((col("doc_id") - 10).as("tw_id"), col("text").as("tw_text"))
      val w = docs.join(twin, col("doc_id") === col("tw_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 30 === 10 && col("tw_text").isNotNull,
            concat(col("tw_text"), lit(" probetail"))).otherwise(col("text")).as("text"))
      val base = w.where(col("doc_id") % 10 =!= 0)
      val delta = w.where(col("doc_id") % 10 === 0)
      val baseHits = Dedup.minhashProbePairs(base, delta, "doc_id", "text")
        .groupBy(col("id_delta").as("bh_id")).agg(min(col("id_base")).as("dup_of_base"))
      val deltaHits = Dedup.minhashNearDupPairs(delta, "doc_id", "text")
        .groupBy(col("id_b").as("dh_id")).agg(min(col("id_a")).as("dup_of_delta"))
      delta.select(col("doc_id"))
        .join(baseHits, col("doc_id") === col("bh_id"), "left")
        .join(deltaHits, col("doc_id") === col("dh_id"), "left")
        .select(col("doc_id"), col("dup_of_base"), col("dup_of_delta"),
          (col("dup_of_base").isNull && col("dup_of_delta").isNull).as("kept"))
        .orderBy("doc_id")
    },

    "decontaminate" -> { (s, dir) =>
      // Benchmark decontamination: flag corpus docs sharing word 8-grams
      // with an eval set (docs with doc_id % 41 == 0). Contamination is
      // PLANTED inside the query (1 in 25 corpus docs gets the first 12
      // tokens of a bench doc appended), reproduced identically by the
      // oracle, so the hit rows are non-vacuous at any SF; natural 8-gram
      // overlaps (the generator's near-dup pairs) surface identically on
      // both sides. Bench side broadcast; corpus side map-only explode.
      import graft.operators.Decontaminate
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      val planted = docs.where(col("doc_id") % 41 =!= 0)
        // plant key % 7 is coprime with the % 25 gate, so planted docs
        // spread across seven distinct bench targets instead of two
        .join(broadcast(bench), col("bench_id") === lit(41) * (col("doc_id") % 7), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 25 === 3 && col("bench_id").isNotNull,
            concat(col("text"), lit(" "),
              concat_ws(" ", slice(split(col("bench_text"), " "), 1, 12))))
            .otherwise(col("text")).as("text"))
      Decontaminate.overlapPairs(planted, bench,
        "doc_id", "text", "bench_id", "bench_text", n = 8, minHits = 3L)
        .orderBy("doc_id", "bench_id")
    },

    "embed_pool" -> { (s, dir) =>
      // element-wise mean pooling of embedding groups (chunk→document
      // pooling): posexplode → ONE keyed agg on (group, position) with
      // map-side partials. Per-element values are TRUNCATED to scaled
      // integers (floor(x*1e12) — a double→decimal cast would round, and
      // Spark rounds HALF_UP where DuckDB rounds half-even: one element at
      // sf0.01 actually hit that edge) so the sum is exact, order-
      // independent, and overflow-safe (|x|~4 → 4e12/element, ~2^53 head-
      // room); the mean is then identical IEEE ops on both engines.
      // Shuffle carries |groups| x dim partial sums, not vectors.
      Tables.embeddings(s, dir)
        .select((col("vec_id") % 25).as("grp"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("grp", "pos")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x") * lit(1e12)).cast("long")).as("sx"))
        .select(col("grp"), col("pos").cast("long").as("pos"), col("n"),
          (col("sx").cast("double") / col("n") / lit(1e12)).as("pool"))
        .orderBy("grp", "pos")
    },

    "layout_zonemap" -> { (s, dir) =>
      // Zone-map (min/max statistics) file-skipping planner — the
      // metadata layer that makes layout_zorder/layout_hilbert pay off:
      // per file (o_orderkey div 4096 — the natural insert-order
      // clustering), min/max of order day and price cents plus per-
      // predicate match counts, all in ONE keyed agg; then four
      // representative predicates (date range, price floor, date tail,
      // conjunctive) are evaluated against the zone table ALONE — a
      // pruning decision per (file, predicate) on the |files|-row
      // metadata frame, the corpus untouched. The gate carries the
      // skipping CONTRACT, not just counts: matched_in_pruned must be 0
      // (a pruned file may never contain a matching row — the exact
      // soundness property a lakehouse scan planner relies on), and
      // scan_frac is the fraction of rows the predicate actually reads.
      def days(c: Column): Column =
        datediff(c.cast("date"), to_date(lit("1970-01-01"))).cast("long")
      def dlit(sd: String): Column =
        datediff(lit(sd).cast("date"), to_date(lit("1970-01-01"))).cast("long")
      val o = Tables.orders(s, dir).select(
        expr("o_orderkey div 4096").as("file"),
        days(col("o_orderdate")).as("day"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("cents"))
      val conds: Seq[(Long, Column)] = Seq(
        1L -> (col("day") >= dlit("1994-01-01") && col("day") <= dlit("1994-12-31")),
        2L -> (col("cents") >= 40000000L),
        3L -> (col("day") < dlit("1993-01-01")),
        4L -> (col("day") >= dlit("1997-06-01") && col("cents") < 5000000L))
      val zoneAggs: Seq[Column] = Seq(
        count(lit(1)).as("rows"),
        min("day").as("dmin"), max("day").as("dmax"),
        min("cents").as("pmin"), max("cents").as("pmax")) ++
        conds.map { case (pid, c) =>
          sum(when(c, 1L).otherwise(0L)).as(s"m$pid") }
      val zones = o.groupBy("file").agg(zoneAggs.head, zoneAggs.tail: _*)
      val scans: Seq[(Long, Column)] = Seq(
        1L -> (col("dmax") >= dlit("1994-01-01") && col("dmin") <= dlit("1994-12-31")),
        2L -> (col("pmax") >= 40000000L),
        3L -> (col("dmin") < dlit("1993-01-01")),
        4L -> (col("dmax") >= dlit("1997-06-01") && col("pmin") < 5000000L))
      zones.select(explode(array(scans.map { case (pid, sc) =>
          struct(lit(pid).as("pid"), sc.as("scanned"), col("rows"),
            col(s"m$pid").as("m"))
        }: _*)).as("z"))
        .select(col("z.pid"), col("z.scanned"), col("z.rows"), col("z.m"))
        .groupBy("pid").agg(
          count(lit(1)).as("n_files"),
          sum(when(col("scanned"), 1L).otherwise(0L)).as("n_scanned"),
          sum(when(col("scanned"), col("rows")).otherwise(0L)).as("rows_scanned"),
          sum("rows").as("rows_total"),
          sum("m").as("rows_matched"),
          sum(when(!col("scanned"), col("m")).otherwise(0L)).as("matched_in_pruned"))
        .select(col("pid"), col("n_files"), col("n_scanned"),
          col("rows_scanned"), col("rows_matched"), col("matched_in_pruned"),
          (col("rows_scanned").cast("double") / col("rows_total").cast("double"))
            .as("scan_frac"))
        .orderBy("pid")
    },

    "layout_compact" -> { (s, dir) =>
      // Small-file compaction planning — the other half of the layout tier
      // next to layout_zorder: given a file inventory (id, size), assign
      // contiguous files to target-size output bins with the same greedy
      // `(cum - 1) div target` rule sequence packing uses, so every bin
      // lands within one file of the target and the plan is byte-
      // reproducible. The running total comes from the generic two-phase
      // distributed prefix sum (PrefixSum.inclusive): per-bucket keyed agg
      // → bounded driver prefix over the bucket table (inventory is
      // METADATA scale — at 100 TB with 1 GB files that's 1e5 rows, and
      // the bucket table is 1/1024 of that) → broadcast offsets → window
      // partitioned by bucket. No unpartitioned window anywhere; the plan
      // is invariant under repartition/AQE. The inventory here derives
      // deterministically from lineitem (file = l_orderkey div 64, size =
      // row count) so the oracle replays it with a plain window sum.
      import graft.operators.PrefixSum
      val files = Tables.lineitem(s, dir)
        .groupBy(expr("l_orderkey div 64").as("file_id"))
        .agg(count(lit(1)).as("size_rows"))
      PrefixSum.inclusive(files, "file_id", "size_rows", 1024L)
        .withColumn("bin_id", expr("(cum - 1) div 4096"))
        .orderBy("file_id")
    },

    "profile_drift" -> { (s, dir) =>
      // Two-sample distribution drift detection — the training/serving-skew
      // monitor: bucket a feature on two corpus slices and compare with
      // total-variation distance computed EXACTLY in integers
      // (TVD = Σ|o·N_new − q·N_base| / (2·N_base·N_new); cross-multiplied
      // numerators are exact BIGINTs whose sum is order-independent, where
      // a floating PSI/chi-square sum would be summation-order-dependent
      // and engine-divergent). The drift gate is an exact integer
      // comparison (5·Σ ≥ N_base·N_new ⇔ TVD ≥ 0.1). The synthetic corpus
      // has no real drift, so a shift is planted deterministically (every
      // doc_id ≡ 3 mod 6 in the "new" slice reads +300 chars — a
      // boilerplate-heavier crawl); both engines replay plant, buckets,
      // and flag bit-identically. Shape at 100 TB: ONE corpus-sized keyed
      // agg to the bucket histogram; everything downstream runs on the
      // O(buckets) frame (one-row totals broadcast, rollup for the
      // summary row).
      val feat = Tables.documents(s, dir).select(
        when(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0,
          col("n_chars") + 300).otherwise(col("n_chars")).as("v"),
        (col("doc_id") % 2).as("slice"))
      val b = feat.groupBy(expr("v div 100").as("bucket"))
        .agg(sum(when(col("slice") === 0, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("slice") === 1, 1L).otherwise(0L)).as("n_new"))
      val totals = b.agg(sum("n_base").as("nb"), sum("n_new").as("nn"))
      b.crossJoin(broadcast(totals))
        .withColumn("diff_num",
          abs(col("n_base") * col("nn") - col("n_new") * col("nb")))
        // functions.col, not the string overload: rollup(String) resolves
        // through df.col, whose dataset-id tag trips DetectAmbiguousSelfJoin
        // over the b/totals shared lineage (same trap as annVerification)
        .rollup(col("bucket"))
        .agg(sum("n_base").as("n_base"), sum("n_new").as("n_new"),
          sum("diff_num").as("diff_num"), max("nb").as("nb"), max("nn").as("nn"))
        .select(coalesce(col("bucket"), lit(-1L)).as("bucket"),
          col("n_base"), col("n_new"), col("diff_num"),
          when(col("bucket").isNull,
            lit(5) * col("diff_num") >= col("nb") * col("nn"))
            .otherwise(lit(false)).as("drift"))
        .orderBy("bucket")
    },

    "ml_bootstrap" -> { (s, dir) =>
      // One-pass multiplier (Poisson) bootstrap: R=16 resampled versions of
      // a grouped statistic WITHOUT R scans or any data duplication at rest
      // — each row carries, per replicate, a deterministic Poisson(1)-ish
      // multiplier weight derived from md5(row-id, replicate), and every
      // replicate's weighted sum accumulates in the SAME keyed agg pass.
      // This is how uncertainty quantification (bootstrap SEs/CIs) is done
      // at 100 TB: resampling-with-replacement would shuffle the corpus R
      // times; multiplier weights make it R extra agg cells per group.
      // The weight pmf is the integer-threshold discretization of
      // Poisson(1) (cum ×1000: 368, 736, 920, 981, 996, 999), plain SQL,
      // so the oracle replays every weight and the replicate statistics
      // are hash-compared exactly (prices quantized floor(x·100 + 0.5);
      // the SE across the 16 replicate means is one trivial step on this
      // R×groups frame, left to the consumer to keep the output
      // engine-exact). Map-side the explode is CPU-only: partial
      // aggregation collapses to groups×R cells before any exchange —
      // and the row pays ONE md5, not R: per-replicate indices derive
      // Kirsch-Mitzenmacher style as (h1 + r·h2) mod 1000 from the two
      // 12-hex-digit digest halves (< 2⁴⁸/2⁴⁹, so h1 + 15·h2 < 2⁵³ —
      // no overflow on either engine), the same splittable-hash trick the
      // count-min sketch uses.
      val R = 16
      val base = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("string").as("rid"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("xs"))
      val rep = base
        .withColumn("md", md5(col("rid")))
        .withColumn("h1",
          expr("cast(conv(substring(md, 1, 12), 16, 10) as bigint)"))
        .withColumn("h2",
          expr("cast(conv(substring(md, 17, 12), 16, 10) as bigint) * 2 + 1"))
        .select(col("flag"), col("xs"), col("h1"), col("h2"),
          explode(expr(s"sequence(0, ${R - 1})")).as("r"))
        .withColumn("h", (col("h1") + col("r") * col("h2")) % 1000)
        .withColumn("w",
          when(col("h") < 368, 0L).when(col("h") < 736, 1L)
            .when(col("h") < 920, 2L).when(col("h") < 981, 3L)
            .when(col("h") < 996, 4L).when(col("h") < 999, 5L).otherwise(6L))
      rep.groupBy(col("flag"), col("r").cast("long").as("r"))
        .agg(sum("w").as("n_eff"),
          sum(col("w") * col("xs")).as("sum_scaled"))
        .select(col("flag"), col("r"), col("n_eff"), col("sum_scaled"),
          (col("sum_scaled").cast("double") / col("n_eff") / lit(100.0))
            .as("mean_price"))
        .orderBy("flag", "r")
    },

    "events_sessions_batch" -> { (s, dir) =>
      // Batch sessionization (gaps-and-islands): consecutive events of a
      // user belong to one session while gaps stay ≤ 12 h; session index =
      // running count of gap-breaks — the BATCH twin of the stateful
      // streaming session operator (stream_sessions), for backfills and
      // reprocessing where event-time state machines are the wrong tool.
      // Shape at 100 TB: both windows partition by user_id (bounded by
      // per-user activity, never a global sort), then ONE keyed agg to
      // session granularity. All arithmetic is epoch-nanos integers, so
      // the oracle replays session boundaries bit-for-bit (3292 sessions
      // from 10000 events / 150 users at sf0.01 — real splits and merges).
      val gapNs = 43200000000000L // 12 h
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"))
        .withColumn("brk",
          when(col("ts_ns") - lag("ts_ns", 1).over(w) > gapNs, 1L)
            .when(lag("ts_ns", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("sess_idx", sum("brk").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts_ns").as("start_ns"), max("ts_ns").as("end_ns"))
        .select(col("user_id"), col("sess_idx"), col("n_events"),
          col("start_ns"), col("end_ns"),
          expr("(end_ns - start_ns) div 1000000000").as("duration_s"))
        .orderBy("user_id", "sess_idx")
    },

    "events_attribution_markov" -> { (s, dir) =>
      // Markov removal-effect attribution (Anderl et al. 2016) — the
      // model-based sibling of events_attribution's first/last-touch
      // heuristics: build the journey transition chain (START → touches →
      // CONV/END, journeys segmented by running purchase count — the
      // attribution lane's window trick), then each channel's credit is
      // its REMOVAL EFFECT: how much the conversion probability drops
      // when paths through that channel are cut. Semantics chosen for
      // exactness: "probability of converting within 8 transitions" via
      // scaled-integer value iteration (p scaled 1e9, one truncating
      // division per state per round — the graph_pagerank discipline),
      // so base and removed probabilities are EXACT integers and the
      // effects hash-compare; only the final share normalization is an
      // IEEE division (operands < 2⁵³ — exact conversions). Corpus cost:
      // two windows + ONE keyed count into the ≤(types+2)² transition
      // matrix; the iteration runs driver-side on that vocabulary-bounded
      // frame (the BpeTrain collect convention). Oracle unrolls the same
      // 8 rounds over a scenario×state grid.
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val seq0 = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("j", coalesce(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val wj = Window.partitionBy("user_id", "j").orderBy("ts_ns", "event_id")
      val rows2 = seq0
        .withColumn("to_next", lead("event_type", 1).over(wj))
        .withColumn("rn", row_number().over(wj))
      val trans = rows2.where(col("to_next").isNotNull)
        .select(col("event_type").as("from_s"), col("to_next").as("to_s"))
        .union(rows2.where(col("rn") === 1)
          .select(lit("__start").as("from_s"), col("event_type").as("to_s")))
        .union(rows2.where(col("to_next").isNull && col("event_type") =!= "purchase")
          .select(col("event_type").as("from_s"), lit("__end").as("to_s")))
        .groupBy("from_s", "to_s").agg(count(lit(1)).as("n"))
      val tm = trans.collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val states = Seq("__start", "click", "error", "purchase", "signup", "view", "__end")
      val marg = tm.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
      def converge(removed: Option[String]): Long = {
        var p = states.map(st => st -> (if (st == "purchase") 1000000000L else 0L)).toMap
        for (_ <- 1 to 8) {
          p = states.map { st =>
            val v =
              if (st == "purchase") 1000000000L
              else if (st == "__end") 0L
              else if (removed.contains(st)) 0L
              else marg.get(st) match {
                case None | Some(0L) => 0L
                case Some(m) =>
                  states.map(t => tm.getOrElse((st, t), 0L) * p(t)).sum / m
              }
            st -> v
          }.toMap
        }
        p("__start")
      }
      val base = converge(None)
      val channels = Seq("click", "error", "signup", "view")
      val eff = channels.map(c => (c, base - converge(Some(c))))
      val sumEff = eff.map(_._2).sum
      eff.map { case (c, e) =>
        (c, base, base - e, e, e.toDouble / sumEff.toDouble)
      }.toDF("channel", "base_p_x1e9", "removed_p_x1e9",
        "removal_effect_x1e9", "share")
        .orderBy("channel")
    },

    "events_transitions" -> { (s, dir) =>
      // First-order event-sequence transition matrix: per user, each
      // event's successor (by event time), counted into (from, to) cells
      // with row-normalized probabilities — the Markov-chain view of user
      // behavior that feeds next-event prediction and funnel design.
      // Shape at 100 TB: ONE window partitioned by user (bounded by
      // per-user activity — no global sort), then a keyed count agg whose
      // output is |types|² regardless of corpus size; the row
      // normalization joins on the tiny from-marginal frame.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("from_type"),
          col("ts_ns"), col("event_id"))
        .withColumn("to_type", lead("from_type", 1).over(w))
        .where(col("to_type").isNotNull)
      val c = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
      val tot = c.groupBy("from_type").agg(sum("cnt").as("tot"))
      c.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("cnt"),
          (col("cnt").cast("double") / col("tot")).as("prob"))
        .orderBy("from_type", "to_type")
    },

    "events_stationary" -> { (s, dir) =>
      // Stationary distribution of the events_transitions Markov chain
      // by POWER ITERATION (8 fixed iterations from uniform — the
      // long-run "where does user behavior settle" summary next-event
      // models calibrate against). The 100 TB shape: ONE corpus pass
      // folds the transition counts into a SINGLE ROW of 25 conditional-
      // sum cells (the event-type domain is fixed); every probability is
      // one exact-int IEEE division and every iteration is pure column
      // arithmetic on that one row — the corpus is never touched again.
      // Determinism: the 5-term multiply-add chain per component is
      // emitted in FIXED type order with left-associated parentheses
      // (reduce), so the rounding sequence replays bit-identically in
      // the oracle's textually-identical expressions. No collect: the
      // matrix never leaves the cluster, the iteration is in-plan.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("from_type"),
          col("ts_ns"), col("event_id"))
        .withColumn("to_type", lead("from_type", 1).over(w))
        .where(col("to_type").isNotNull)
      val cellCols = for { i <- types; j <- types } yield
        sum(when(col("from_type") === i && col("to_type") === j, 1L)
          .otherwise(0L)).as(s"c_${i}_$j")
      val one = pairs.agg(cellCols.head, cellCols.tail: _*)
      val withP = one.select(
        (for { i <- types; j <- types } yield {
          val rowTot = types.map(k => col(s"c_${i}_$k")).reduce(_ + _)
          (col(s"c_${i}_$j").cast("double") / rowTot.cast("double"))
            .as(s"p_${i}_$j")
        }): _*)
      var cur = withP.select(
        (withP.columns.map(col) ++ types.map(j => lit(0.2).as(s"pi_$j"))): _*)
      for (_ <- 1 to 8) {
        cur = cur.select(
          ((for { i <- types; j <- types } yield col(s"p_${i}_$j")) ++
            types.map(j => types.map(i => col(s"pi_$i") * col(s"p_${i}_$j"))
              .reduce(_ + _).as(s"pi_$j"))): _*)
      }
      cur.select(explode(array(types.map(t =>
          struct(lit(t).as("event_type"), col(s"pi_$t").as("pi"))): _*)).as("r"))
        .select(col("r.event_type"), col("r.pi"))
        .orderBy("event_type")
    },

    "dedup_allpairs" -> { (s, dir) =>
      // Exact set-similarity self-join (All-Pairs/PPJoin, Bayardo et al.
      // 2007): every pair with binary word-TRIGRAM-set cosine ≥ 0.9, ZERO
      // probabilistic miss — the third exactness class in the dedup family
      // (with FastSS edit distance and the substring census) where the
      // MinHash/SimHash/embedding lanes are probabilistic. Candidates key
      // ONLY on both docs' prefix tokens — the rarest under the global
      // (df asc, hash) order — so the join is skew-free exactly where a
      // naive token join explodes on common terms; verification is the
      // sorted-intersect kernel + an integer cross-multiplied gate. The
      // oracle is the FULL token self-join (no prefixes): a single missed
      // pair — a prefix-theorem violation — flips the driver hash.
      // Trigram (not unigram) sets: this template corpus is unigram-dense
      // (the unigram form's df² candidate volume exhausted sf10 spill
      // disk, SURVEY §6); trigrams are Zipf-sparse, prefix df ≈ 1-2.
      import graft.operators.SimilarityJoin
      SimilarityJoin.allPairsCosine(Tables.documents(s, dir),
          "doc_id", "text", tNum = 9, tDen = 10, ngram = 3)
        .orderBy("id_a", "id_b")
    },

    "text_url_canonical" -> { (s, dir) =>
      // URL canonicalization + dedup by canonical form: the same page
      // arrives from a crawl as casing variants, default-port forms,
      // tracking-parameter and fragment decorations — a raw-URL dedup
      // misses all of them. Planted: three deterministic variant lanes
      // (uppercase host + utm param / explicit :443 / #fragment) of 15
      // canonical page URLs; canonicalization = strip fragment, strip
      // trailing utm query, drop the default port, lowercase. Each regex
      // matches at most once per URL, so Spark's replace-all and DuckDB's
      // replace-first semantics coincide and the oracle replays the whole
      // normalization. Shape at 100 TB: map-only extract + normalize, ONE
      // keyed agg on the canonical string.
      val u = concat(lit("https://"),
        when(col("doc_id") % 9 === 1,
          concat(lit("Site-"), (col("doc_id") % 5), lit(".example.com/page-"),
            expr("(doc_id div 9) % 3"), lit("?utm_source=feed")))
          .when(col("doc_id") % 9 === 4,
            concat(lit("site-"), (col("doc_id") % 5), lit(".example.com:443/page-"),
              expr("(doc_id div 9) % 3")))
          .otherwise(
            concat(lit("site-"), (col("doc_id") % 5), lit(".example.com/page-"),
              expr("(doc_id div 9) % 3"), lit("#section"))))
      val planted = Tables.documents(s, dir)
        .where(col("doc_id") % 9 === 1 || col("doc_id") % 9 === 4 ||
          col("doc_id") % 9 === 7)
        .select(col("doc_id"), concat(col("text"), lit(" see "), u, lit(" now")).as("ptext"))
      val urls = planted.select(col("doc_id"),
        explode(expr("regexp_extract_all(ptext, 'https://[A-Za-z0-9.:/#?=_-]+', 0)")).as("raw"))
      val canon = urls.withColumn("canonical",
        lower(regexp_replace(regexp_replace(regexp_replace(col("raw"),
          "#.*", ""), "\\?utm_[a-z]+=[a-z]*$", ""), ":443/", "/")))
      canon.groupBy("canonical")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("raw")).as("n_forms"))
        .orderBy("canonical")
    },

    "text_novelty" -> { (s, dir) =>
      // Corpus-freshness census: per arrival batch, the fraction of its
      // distinct word trigrams never seen in any earlier batch. Falling
      // novelty is the operational signal that a crawl round is re-fetching
      // old content (dedup pressure rising, marginal value falling) —
      // the curation metric next to the dedup operators themselves.
      // Arrival batch = doc_id div 50 (the corpus has no ingest date;
      // monotone id order stands in for arrival order, batch count scales
      // with the corpus). Shape at 100 TB: one distinct agg on
      // (shingle-hash, batch), one keyed min-agg for first-appearance,
      // one keyed join back — all on 8-byte hashed keys; shingle TEXT never
      // leaves the map side (the oracle groups by the strings themselves;
      // a 64-bit collision would fold two shingles — P ~ n²/2⁶⁵, ≪ 1e-8
      // at gate scale, the same envelope as the substring-census keying).
      val ws = filter(split(lower(col("text")), "[^a-z0-9]+"), w => w =!= "")
      val sd = Tables.documents(s, dir)
        .select(expr("doc_id div 50").as("day"), ws.as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("day"), explode(expr(
          "transform(sequence(0, size(ws) - 3), i -> " +
            "concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))")).as("sh"))
        .select(col("day"), xxhash64(col("sh")).as("h"))
        .distinct()
      val fd = sd.groupBy("h").agg(min("day").as("first_day"))
      sd.join(fd, "h")
        .groupBy("day")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_day") === col("day"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("day"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles").cast("double"))
            .as("novelty_rate"))
        .orderBy("day")
    },

    "embed_gram" -> { (s, dir) =>
      // Gram-matrix sufficient statistic G = Σ v·vᵀ — the distributed-PCA /
      // covariance primitive: principal components over a 100 TB embedding
      // corpus reduce to ONE pass building this d×d matrix in a FIXED
      // ~16 KB per-task buffer (elementwise-add merge, map-side combined,
      // partitioning-invariant; the corpus never shuffles, only buffers
      // do), then a driver-side O(d³) eigen-solve — the same sufficient-
      // statistic split as ml_linreg, generalized to matrices. Elements are
      // quantized ONCE to scaled integers (floor(x·2¹⁰)), so every cell is
      // an exact, order-independent Long the oracle recomputes cell-by-cell
      // from the same quantization. Output: the 2080-cell upper triangle.
      import graft.expressions.Gram
      val dim = 64
      val g = Tables.embeddings(s, dir).agg(
        Gram.gram(col("embedding").cast("array<double>"), dim, 1024L).as("g"),
        count(lit(1)).as("n"))
      g.select(col("n"), posexplode(col("g")).as(Seq("idx", "gram")))
        .select(col("n"),
          expr(s"cast(idx div $dim as bigint)").as("i"),
          expr(s"cast(idx % $dim as bigint)").as("j"),
          col("gram"))
        .where(col("i") <= col("j"))
        .orderBy("i", "j")
    },

    "embed_pca" -> { (s, dir) =>
      // Distributed PCA, end to end: ONE corpus pass builds the exact d×d
      // Gram sufficient statistic (embed_gram's fixed-buffer aggregate),
      // then the eigen-solve runs driver-side on the 64×64 matrix. This is the
      // sufficient-statistic split at its purest: the corpus contributes a
      // 16 KB buffer and is never touched again; the O(d³) part sees no
      // data. Driver-side collect: ONE row of 4096 longs (bounded,
      // documented — same envelope as the IVF centroid sites).
      // The eigen-solver is cyclic Jacobi, not power iteration: synthetic
      // embeddings are near-isotropic (λ₂/λ₁ ≈ 0.985 at sf0.01, measured),
      // and power iteration needs O(1/log(λ₁/λ₂)) ≈ thousands of rounds to
      // separate a near-degenerate pair, where Jacobi reaches machine
      // precision on the full spectrum in a few sweeps regardless of gaps.
      // The eigenvectors are engine-internal (DuckDB cannot eigen-solve),
      // so this follows the ANN self-verification pattern: the query emits
      // CLAIMS judged in-query — λ₁ within its PSD Rayleigh bounds
      // (trace/d ≤ λ₁ ≤ trace), off-diagonal mass annihilated, spectrum
      // ordered and non-negative, Σλ equal to the trace (similarity
      // transforms preserve it), rotations orthonormal — plus the exact
      // integer trace the oracle recomputes from the same quantization.
      import graft.expressions.Gram
      val dim = 64
      val row = Tables.embeddings(s, dir).agg(
        Gram.gram(col("embedding").cast("array<double>"), dim, 1024L).as("g"),
        count(lit(1)).as("n")).head()
      val gl = row.getSeq[Long](0).toArray
      val n = row.getLong(1)
      val trace = (0 until dim).map(i => gl(i * dim + i)).sum
      // cyclic Jacobi on a copy of G; V accumulates the rotations
      val a = Array.tabulate(dim, dim)((i, j) => gl(i * dim + j).toDouble)
      val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
      def offDiagSq: Double =
        (for (i <- 0 until dim; j <- 0 until dim if i != j) yield a(i)(j) * a(i)(j)).sum
      val frobSq = (for (i <- 0 until dim; j <- 0 until dim) yield a(i)(j) * a(i)(j)).sum
      var sweep = 0
      while (sweep < 30 && offDiagSq > frobSq * 1e-22) {
        for (p <- 0 until dim - 1; q <- p + 1 until dim if math.abs(a(p)(q)) > 0) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val sn = t * c
          for (k <- 0 until dim) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - sn * akq
            a(k)(q) = sn * akp + c * akq
          }
          for (k <- 0 until dim) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - sn * aqk
            a(q)(k) = sn * apk + c * aqk
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - sn * vkq
            v(k)(q) = sn * vkp + c * vkq
          }
        }
        sweep += 1
      }
      val eig = (0 until dim).map(i => a(i)(i)).sortBy(-_)
      val l1 = eig.head
      val tr = trace.toDouble
      val okOrtho = (for (i <- 0 until dim; j <- 0 until dim) yield {
        val dot = (0 until dim).map(k => v(k)(i) * v(k)(j)).sum
        math.abs(dot - (if (i == j) 1.0 else 0.0))
      }).max <= 1e-10
      import s.implicits._
      Seq((n, trace,
        l1 >= tr / dim && l1 <= tr * (1 + 1e-12),
        offDiagSq <= frobSq * 1e-20,
        eig.zip(eig.tail).forall { case (x, y) => x >= y } &&
          eig.last >= -1e-9 * tr,
        math.abs(eig.sum - tr) <= 1e-9 * tr,
        okOrtho))
        .toDF("n", "trace", "ok_rayleigh", "ok_converged", "ok_ordered",
          "ok_trace_preserved", "ok_orthogonal")
    },

    "embed_quantize" -> { (s, dir) =>
      // int8 scalar quantization of the embedding column: 4x smaller
      // vectors for storage/ANN. The whole construction (scale, codes,
      // dequant error) is identical IEEE arithmetic on both engines, so the
      // oracle hash-compares the code stream itself (md5 of the joined
      // codes); the structural error bound rides along as `ok`.
      val emb = Vf.toDouble(col("embedding"))
      val scale = Vf.quantScale(col("e"))
      Tables.embeddings(s, dir)
        .select(col("vec_id"), emb.as("e"))
        .withColumn("scale", scale)
        .withColumn("q", Vf.quantize(col("e"), col("scale")))
        .select(
          col("vec_id"), col("scale"),
          md5(concat_ws(",", transform(col("q"), _.cast("string")))).as("q_md5"),
          Vf.quantMaxErr(col("e"), col("q"), col("scale")).as("max_err"))
        .withColumn("ok", col("max_err") <= col("scale") * 0.5 + lit(1e-12))
        .orderBy("vec_id")
    },

    // ---- ANN (#26-27) ----

    "ann_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select(col("qid").as("query_id"), col("rank").as("rnk"), col("nid").as("neighbor_id"))
        .orderBy("query_id", "rnk")
    },

    "ann_filtered" -> { (s, dir) =>
      // FILTERED vector search — the operation every production vector
      // store actually serves ("nearest neighbors WHERE tenant = X"),
      // and the pre-filter vs post-filter design question behind it:
      // post-filtering a global top-k loses recall when the predicate is
      // selective (the true filtered neighbors may sit below the global
      // cut), pre-filtering scans only matching rows and is exact. This
      // lane reports BOTH: the exact pre-filtered top-5 per query
      // (predicate pushed into the scan — at 100 TB the filter prunes
      // before any distance math), each row flagged with whether a
      // post-filter of the global top-15 (3k overfetch, the common
      // heuristic) would have recovered it — the measured recall cost of
      // the lazy strategy, hash-gated. Deterministic total order
      // (cos desc, nid) everywhere; the 10-query side broadcasts (the
      // ann_topk shape).
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val pred = col("vec_id") % 3 === 1
      val q = emb.where(col("vec_id") < 10)
      val pre = Ann.bruteForceTopK(emb.where(pred), q, "vec_id", "embedding", 5)
      val post = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 15)
        .where(col("nid") % 3 === 1)
      val postTop = post
        .withColumn("prank", row_number().over(
          Window.partitionBy("qid").orderBy(col("rank"))))
        .where(col("prank") <= 5)
        .select(col("qid").as("pqid"), col("nid").as("pnid"))
      pre.join(postTop,
          col("qid") === col("pqid") && col("nid") === col("pnid"), "left")
        .select(col("qid").as("query_id"), col("rank").as("rnk"),
          col("nid").as("neighbor_id"),
          col("pnid").isNotNull.as("post_filter_found"))
        .orderBy("query_id", "rnk")
    },

    "ml_knn_classify" -> { (s, dir) =>
      // k-NN classification over embeddings — the serve-side consumer of
      // the ANN tier (label a new vector by its neighbors' majority):
      // 5 nearest by cosine among LABELED corpus vectors (label =
      // vec_id % 4, deterministic), prediction = majority vote with
      // smallest-label tie-break — both pure integer decisions on the
      // deterministic neighbor set, so the classification hash-gates
      // end-to-end. Same broadcast-queries brute-force shape as
      // ann_topk; at scale the neighbor source swaps to the IVF/LSH
      // lanes unchanged — the vote is the same keyed agg either way.
      import graft.operators.Ann
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val nn = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
        .withColumn("nlabel", col("nid") % 4)
      val votes = nn.groupBy("qid", "nlabel").agg(count(lit(1)).as("v"))
      val best = votes
        .withColumn("r", row_number().over(Window.partitionBy("qid")
          .orderBy(col("v").desc, col("nlabel"))))
        .where(col("r") === 1)
        .select(col("qid").as("query_id"), col("nlabel").as("predicted_label"),
          col("v").as("votes"))
      best.orderBy("query_id")
    },

    "ann_lsh" -> { (s, dir) =>
      // SELF-verifying: the approximate top-k is judged against the exact
      // brute-force top-k INSIDE the query. Output rows are the claims the
      // DuckDB oracle can assert structurally — every query surfaced
      // candidates with valid contiguous ranks, and overall recall clears
      // its bound — so a recall regression, an empty bucket pipeline, or a
      // rank bug flips the driver hash instead of hiding in a rows-only
      // count.
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val approx = Ann.lshTopK(emb, q, "vec_id", "embedding", dim = 64, k = 5)
      val exact = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      annVerification(approx, exact, k = 5, "recall_ge_0.15", 0.15)
    },

    "ann_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val approx = Ann.ivfTopK(emb, q, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      val exact = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      annVerification(approx, exact, k = 5, "recall_ge_0.2", 0.2)
    },

    "ann_pq" -> { (s, dir) =>
      // Product-quantization tier (Jégou et al. 2011): the corpus
      // compresses to 8 codes/vector (64× smaller than float32 at rest —
      // what lets a 100 TB embedding corpus live in hot storage), search
      // is ADC table lookups + exact re-rank of the top-C candidates only.
      // Self-verifying like the LSH/IVF tiers: judged in-query against the
      // brute-force exact top-k. The 0.3 mean-recall floor is conservative
      // against the measured 0.74 at sf0.1 on this near-isotropic corpus —
      // the hardest case for PQ, since true neighbors sit in a sea of
      // near-tied cosines (real embedding corpora with cluster structure
      // do better; the two-stage C=100 re-rank is the standard recipe).
      import graft.operators.AnnPq
      val emb = Tables.embeddings(s, dir)
      val cbs = AnnPq.trainCodebooks(emb, "vec_id", "embedding", m = 8, ks = 16)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      val approx = AnnPq.searchTopK(emb, queries, "vec_id", "embedding", cbs,
        candidates = 100, k = 5)
      val exact = Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      annVerification(approx, exact, k = 5, "recall_ge_0.3", 0.3)
    },

    "ann_ivf_pq" -> { (s, dir) =>
      // Composed IVF-PQ (IVFADC, Jégou 2011 §IV) — the production 100 TB
      // ANN shape assembled from the two existing halves: the corpus at
      // rest is (list_id, 8 residual codes) — partitionable by list_id for
      // file-level pruning AND 64× compressed — and each query ADC-scans
      // only its nprobe of nlist lists, then exact-re-ranks the top C.
      // Residual encoding makes the composition precise: the score
      // decomposes exactly as q·v = q·cents(list) + q·residual, so the
      // only approximation is PQ error on the residual plus the IVF scan
      // restriction. Self-verifying like the other ANN tiers (recall floor
      // vs in-query brute force; the 0.2 floor matches ann_ivf's — the IVF
      // scan restriction dominates — and is conservative vs MEASURED
      // recall@5 of 0.90 at sf0.01 / 0.76 at sf0.1: residual codes + the
      // C=100 exact re-rank recover nearly everything the probe reaches).
      import graft.operators.AnnIvfPq
      val emb = Tables.embeddings(s, dir)
      val idx = AnnIvfPq.train(emb, "vec_id", "embedding", nlist = 16, m = 8, ks = 16)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      val approx = AnnIvfPq.searchTopK(emb, queries, "vec_id", "embedding", idx,
        nprobe = 4, candidates = 100, k = 5)
      val exact = Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      annVerification(approx, exact, k = 5, "recall_ge_0.2", 0.2)
    },

    "ann_rrf" -> { (s, dir) =>
      // Reciprocal-rank fusion (Cormack et al. 2009; the standard
      // hybrid-retrieval combiner) of two genuinely different rankers
      // over the same corpus: the EXACT cosine top-20 and the int8
      // scalar-QUANTIZED cosine top-20 (the embed_quantize codes
      // dequantized — deterministic IEEE, so ranks replay; at rest this
      // second ranker is what a 4×-compressed serving tier returns).
      // rrf(d) = Σ_lists 1/(60 + rank_d): ranks are integers, each term
      // is one IEEE division, the sum is two COALESCEd terms in fixed
      // textual order — hash-exact. Fusion happens on the two O(queries
      // × 20) rank lists (full outer join on (qid, nid) — metadata
      // scale); both rankers are map-only broadcast scans with bounded
      // TopKByScore sinks, so the corpus never shuffles. Output: fused
      // top-10 per query with membership flags.
      val emb = Tables.embeddings(s, dir)
      val qA = emb.where(col("vec_id") < 10)
      val listA = Ann.bruteForceTopK(emb, qA, "vec_id", "embedding", 20)
      val deq = emb.select(col("vec_id"), Vf.toDouble(col("embedding")).as("e"))
        .withColumn("scale", Vf.quantScale(col("e")))
        .withColumn("deq", transform(
          Vf.quantize(col("e"), col("scale")),
          c => c.cast("double") * col("scale")))
        .select(col("vec_id"), col("deq"))
      val listB = Ann.bruteForceTopK(deq, deq.where(col("vec_id") < 10),
        "vec_id", "deq", 20)
      val fused = listA.select(col("qid"), col("nid"), col("rank").as("ra"))
        .join(listB.select(col("qid"), col("nid"), col("rank").as("rb")),
          Seq("qid", "nid"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("ra").cast("double")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("rb").cast("double")), lit(0.0)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("rrf").desc, col("nid"))
      fused.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 10)
        .select(col("qid").as("query_id"), col("rnk"),
          col("nid").as("neighbor_id"), col("rrf"),
          col("ra").isNotNull.as("in_exact"), col("rb").isNotNull.as("in_quant"))
        .orderBy("query_id", "rnk")
    },

    // ---- text analysis (#28-31) ----

    "text_tokens" -> { (s, dir) =>
      import graft.expressions.{Sketch, TokenStats}
      val stats = Sketch.column(TokenStats(Sketch.expr(col("text")), Nil, lowercase = false))
      Tables.documents(s, dir)
        .withColumn("st", stats)
        .select(
          col("doc_id"),
          element_at(col("st"), 1).as("n_tokens"),
          element_at(col("st"), 2).as("n_uniq"),
          length(col("text")).cast("long").as("n_chars_txt"),
          // BPE-ish subword-boundary count: letter runs | digit runs |
          // single other non-space (the GPT-2 pretokenizer shape)
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
            .as("n_tokens_bpe"),
          ((length(col("text")) - (element_at(col("st"), 1) - lit(1))) /
            element_at(col("st"), 1)).as("avg_token_len"))
        .orderBy("doc_id")
    },

    "text_quality" -> { (s, dir) =>
      import graft.expressions.{Sketch, TokenStats}
      val stats = Sketch.column(TokenStats(Sketch.expr(col("text")), Tf.EnStops, lowercase = true))
      val nTok = element_at(col("st"), 1)
      val nUniq = element_at(col("st"), 2)
      val stopHits = element_at(col("st"), 3)
      val ttr = nUniq / nTok
      val stopRatio = stopHits / nTok
      Tables.documents(s, dir)
        .withColumn("st", stats)
        .select(
          col("doc_id"),
          nTok.as("n_tokens"),
          stopHits.as("stop_hits"),
          stopRatio.as("stop_ratio"),
          ttr.as("ttr"),
          (lit(0.4) * ttr + lit(0.4) * (lit(1.0) - stopRatio)
            + lit(0.2) * least(lit(1.0), nTok / lit(200.0))).as("score"))
        .orderBy("doc_id")
    },

    "text_langid" -> { (s, dir) =>
      import graft.expressions.{Sketch, TokenStats}
      def hits(stops: Seq[String]) = element_at(
        Sketch.column(TokenStats(Sketch.expr(col("text")), stops, lowercase = true)), 3)
      val he = hits(Tf.EnStops)
      val hs = hits(Tf.EsStops)
      val hd = hits(Tf.DeStops)
      Tables.documents(s, dir).select(
        col("doc_id"), he.as("hits_en"), hs.as("hits_es"), hd.as("hits_de"),
        Tf.langId(he, hs, hd).as("lang_pred"))
        .orderBy("doc_id")
    },

    "sketch_heavy_hitters" -> { (s, dir) =>
      // Count-min heavy hitters: token frequencies in FIXED depth x width
      // memory (vs an exact groupBy's one partial-agg entry per distinct
      // token — billions at web scale). The md5-derived Kirsch-Mitzenmacher
      // indexing is plain SQL, so the oracle replays the ENTIRE sketch and
      // the estimates themselves are hash-compared; est >= exact is the
      // structural one-sided error, surfaced as `ok`.
      import graft.expressions.CountMin
      val toks = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("t"))
        .where(length(col("t")) >= 2)
      val sk = toks.agg(CountMin.sketch(col("t"), depth = 4, width = 8192).as("sk"))
      val top = toks.groupBy("t").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("t")).limit(20)
      top.crossJoin(broadcast(sk))
        .select(col("t"), col("exact_n"),
          CountMin.estimate(col("sk"), col("t")).as("est"))
        .withColumn("ok", col("est") >= col("exact_n"))
        .orderBy(col("exact_n").desc, col("t"))
    },

    "sketch_join_size" -> { (s, dir) =>
      // Join-cardinality estimation from count-min inner products (AMS /
      // Cormode-Muthukrishnan): est = min_j Σ_i A_j[i]·B_j[i] over sketches
      // of each side's join key. Matching keys share cells, so est ≥ exact
      // STRUCTURALLY (collisions only add cross terms) — surfaced as `ok`.
      // The scale point: join size drives broadcast-vs-shuffle and skew
      // decisions, and this answers it WITHOUT executing the join — two
      // independent fixed 32 KB aggregates (map-side combined, the two
      // tables never co-shuffled) + one O(depth·width) fold. The exact
      // join count rides along only because the gate needs ground truth;
      // the md5 Kirsch-Mitzenmacher indexing is plain SQL, so the oracle
      // replays BOTH sketches cell-by-cell and the estimate itself is
      // hash-compared, not just the claim.
      import graft.expressions.CountMin
      val orders = Tables.orders(s, dir)
      val customer = Tables.customer(s, dir)
      val skO = orders.agg(
        CountMin.sketch(col("o_custkey").cast("string"), depth = 4, width = 1024).as("sk_o"))
      val skC = customer.agg(
        CountMin.sketch(col("c_custkey").cast("string"), depth = 4, width = 1024).as("sk_c"))
      val exact = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_n"))
      exact.crossJoin(broadcast(skO)).crossJoin(broadcast(skC))
        .select(col("exact_n"),
          CountMin.innerProduct(col("sk_o"), col("sk_c")).as("est"))
        .withColumn("ok", col("est") >= col("exact_n"))
    },

    "text_compress" -> { (s, dir) =>
      // Compression-ratio quality signal: template/repetitive junk deflates
      // far better than natural text. DEFLATE output is engine-internal
      // (DuckDB cannot replay it), so this follows the ANN pattern: the
      // query emits CLAIMS judged in-query — tripling a document must not
      // triple its compressed size (repetition compresses away), and the
      // compressed size is sane — and the oracle asserts every claim came
      // out true. The ratio itself is spec-pinned against fixed strings.
      import graft.expressions.{DeflateSize, Sketch}
      def dsize(c: Column): Column = Sketch.column(DeflateSize(Sketch.expr(c), 6))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          dsize(col("text")).as("c1"),
          dsize(concat(col("text"), col("text"), col("text"))).as("c3"))
        .select(
          col("doc_id"),
          (col("c3") < col("c1") * 2 + 64).as("ok_repetition_collapses"),
          // octet_length, not length: DEFLATE bounds the BYTE stream, and
          // incompressible multibyte text can deflate to more than its
          // CHARACTER count (chars would flip this claim on CJK docs)
          (col("c1") > 0 && col("c1") <= octet_length(col("text")) + 64).as("ok_size_sane"))
        .orderBy("doc_id")
    },

    "text_char_entropy" -> { (s, dir) =>
      // Per-document code-point Shannon entropy (nats) — the cheap
      // information-density quality signal beside text_compress's
      // Deflate ratio (entropy is the zero-order bound Deflate chases):
      // low-entropy docs are repeated boilerplate/padding, ultra-high
      // entropy flags base64/binary spill. ONE map-only kernel pass
      // (expressions/CharEntropyStats): per doc, the code-point histogram
      // folds p·ln(p) in ASCENDING code-point order with ln =
      // java.lang.Math.log — so DuckDB replays the exact IEEE sequence
      // with −SUM(p·ln p ORDER BY ch) over a per-char GROUP BY (binary
      // UTF-8 collation = code-point order; the graft_ln convention for
      // why NOT Spark's StrictMath ln). Single-code-point docs give −0.0
      // on both engines, empty docs +0.0 (oracle guards DuckDB's
      // string_split('','') = [''] artifact with text <> ''). No float
      // ever crosses rows: the only aggregation is per-document, inside
      // the kernel.
      import graft.expressions.{CharEntropyStats, Sketch}
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Sketch.column(CharEntropyStats(Sketch.expr(col("text")))).as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).cast("long").as("n_cp"),
          element_at(col("st"), 2).cast("long").as("n_distinct"),
          element_at(col("st"), 3).as("h_nats"))
        .orderBy("doc_id")
    },

    "text_normalize" -> { (s, dir) =>
      // Unicode NFC + control-char scrub before fingerprinting: composed
      // and decomposed renderings of the same text must hash identically.
      // Planted: odd docs get a decomposed-accents tail (e+U+0301,
      // n+U+0303) plus a control char; the oracle rebuilds the identical
      // codepoints with chr() and normalizes via utf8proc's nfc_normalize
      // — same Unicode standard as java.text.Normalizer. Map-only.
      import graft.expressions.{NfcNormalize, Sketch}
      val planted = when(col("doc_id") % 2 === 1,
        concat(col("text"), lit(" caf"), lit("é"),
          lit(" ma"), lit("ñ"), lit("ana"), lit("")))
        .otherwise(col("text"))
      val ctrl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
      Tables.documents(s, dir)
        .withColumn("t", planted)
        .withColumn("nt", regexp_replace(
          Sketch.column(NfcNormalize(Sketch.expr(col("t")))), lit(ctrl), lit("")))
        .select(
          col("doc_id"),
          (col("nt") =!= col("t")).as("changed"),
          md5(col("nt")).as("norm_md5"),
          length(col("nt")).cast("long").as("norm_len"))
        .orderBy("doc_id")
    },

    "text_urls" -> { (s, dir) =>
      // Domain blocklist gate (the standard web-corpus curation filter,
      // sibling of the PII scrub): extract every linked domain, flag the
      // ones on a blocklist. URLs are PLANTED (1 in 13 docs links a spam
      // domain, 1 in 13 a benign one, 1 in 26 both) so the gate has real
      // hits at any SF. Shape at 100 TB: extraction is map-only regex;
      // the blocklist (curated lists are MBs) broadcasts into a left
      // join — the corpus never shuffles. Pattern is shared Java/RE2
      // syntax so the oracle replays extraction verbatim; passed via the
      // Column API (not an expr() string) so the SQL parser never
      // unescapes the \. into a bare any-char dot.
      val urlRe = "https://([a-z0-9-]+\\.example\\.com)"
      val planted =
        when(col("doc_id") % 13 === 4,
          concat(col("text"), lit(" see https://spam-"), (col("doc_id") % 7).cast("string"),
            lit(".example.com/page now")))
          .when(col("doc_id") % 13 === 9,
            concat(col("text"), lit(" docs at https://ok-"), (col("doc_id") % 5).cast("string"),
              lit(".example.com/index")))
          .when(col("doc_id") % 26 === 11,
            concat(col("text"), lit(" https://spam-1.example.com/a and https://ok-2.example.com/b")))
          .otherwise(col("text"))
      import s.implicits._
      val blocklist = (0 to 6).map(i => s"spam-$i.example.com").toDF("domain")
        .withColumn("blocked_flag", lit(true))
      Tables.documents(s, dir)
        .withColumn("ptext", planted)
        .select(col("doc_id"),
          explode(regexp_extract_all(col("ptext"), lit(urlRe), lit(1))).as("domain"))
        .join(broadcast(blocklist), Seq("domain"), "left")
        .select(col("doc_id"), col("domain"),
          coalesce(col("blocked_flag"), lit(false)).as("blocked"))
        .orderBy("doc_id", "domain")
    },

    "domain_cap" -> { (s, dir) =>
      // Per-domain frequency capping (the C4/RefinedWeb corpus-balance
      // primitive: no single site may dominate the training mix): extract
      // each doc's linked domain, keep at most K=3 docs per domain, chosen
      // by a deterministic 60-bit md5 coin (fair, seedless, and replayable
      // in SQL) with doc_id as the total-order tie-break. Shape at 100 TB:
      // map-only extraction, then ONE keyed window whose rank<=K filter
      // Spark rewrites to WindowGroupLimit — every task pre-prunes to its
      // local top-K per domain BEFORE the exchange, so the shuffle carries
      // O(domains x K x tasks) rows, not the corpus. A mega-domain
      // (wikipedia-scale skew) therefore costs its winners only.
      val urlRe = "https://([a-z0-9-]+\\.example\\.com)"
      val planted = concat(col("text"), lit(" via https://site-"),
        (col("doc_id") % 7).cast("string"), lit(".example.com/p"))
      val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("domain")).orderBy(col("coin"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("ptext", planted)
        .select(col("doc_id"),
          regexp_extract(col("ptext"), urlRe, 1).as("domain"))
        .withColumn("coin", coin)
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("domain"), col("rank").cast("long").as("rank"))
        .orderBy("domain", "rank")
    },

    "text_boilerplate" -> { (s, dir) =>
      // Cross-document boilerplate-line removal (the C4 curation step:
      // drop any line that repeats across >= minDf documents — nav bars,
      // footers, licence stubs). Lines are PLANTED (1 in 3 docs gets a nav
      // header, 1 in 5 a copyright footer, 1 in 11 a parameterized rare
      // ref line) so both the drop and keep lanes are exercised at any SF;
      // the doc's own body line is unique and always survives. Shape at
      // 100 TB: posexplode to narrow (doc_id, pos, line) rows; line
      // doc-frequency is ONE keyed agg (map-side partial distinct); the
      // common-line set is a vanishing fraction of the corpus, so the
      // left-anti join broadcasts it under AQE; reassembly is one keyed
      // agg back on doc_id carrying each surviving line exactly twice
      // through a shuffle. No driver-side state.
      val header = when(col("doc_id") % 3 === 0, lit("nav home about contact login"))
      val footer = when(col("doc_id") % 5 === 0,
        lit("copyright example site 2024 all rights reserved"))
      val rare = when(col("doc_id") % 11 === 7,
        concat(lit("ref note "), (col("doc_id") % 97).cast("string")))
      val docs = Tables.documents(s, dir)
        // concat_ws skips nulls on both engines: docs get 1-4 lines
        .select(col("doc_id"), concat_ws("\n", header, col("text"), footer, rare).as("ptext"))
      val lines = docs.select(col("doc_id"),
        posexplode(split(col("ptext"), "\n")).as(Seq("pos", "line")))
      val common = lines.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("df"))
        .where(col("df") >= 5)
        .select("line")
      val kept = lines.join(common, Seq("line"), "left_anti")
      docs.select(col("doc_id"), size(split(col("ptext"), "\n")).as("n_lines"))
        .join(kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            concat_ws("\n", transform(
              array_sort(collect_list(struct(col("pos"), col("line")))),
              x => x.getField("line"))).as("clean_text")),
          Seq("doc_id"))
        .select(col("doc_id"), col("clean_text"),
          (col("n_lines") - col("n_kept")).as("n_dropped"))
        .orderBy("doc_id")
    },

    "select_quality_top" -> { (s, dir) =>
      // Quality-threshold selection (keep the top 20% of the corpus by
      // quality score — the standard classifier-gate shape): per-doc score
      // is the text_quality formula (map-only native TokenStats kernel);
      // the global 0.8-quantile comes from the SAME buffer-free histogram
      // selection as agg_stats (exactInterpolated reproduces percentile()
      // bit for bit, so the DuckDB quantile_cont replay is exact); the cut
      // is a ONE-ROW broadcast every doc compares against map-side. At
      // 100 TB nothing wide moves: bucket counts up, two boundary-rank
      // slices back, corpus streamed once per pass.
      import graft.expressions.{Sketch, TokenStats}
      import graft.operators.QuantileHist
      val stats = Sketch.column(TokenStats(Sketch.expr(col("text")), Tf.EnStops, lowercase = true))
      val nTok = element_at(col("st"), 1)
      val nUniq = element_at(col("st"), 2)
      val stopHits = element_at(col("st"), 3)
      val scored = Tables.documents(s, dir)
        .withColumn("st", stats)
        .select(col("doc_id"),
          (lit(0.4) * (nUniq / nTok) + lit(0.4) * (lit(1.0) - stopHits / nTok)
            + lit(0.2) * least(lit(1.0), nTok / lit(200.0))).as("score"))
        .withColumn("g", lit(0))
      val cut = QuantileHist
        .exactInterpolated(scored, Seq("g"), "score", 0.00390625, Seq("0.8"))
        .select(col("p").as("cut"))
      scored.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("score"), (col("score") >= col("cut")).as("kept"))
        .orderBy("doc_id")
    },

    "text_oov" -> { (s, dir) =>
      // Vocabulary-coverage stats: out-of-vocabulary rate per doc against
      // the corpus's own top-15 words (count desc, word lex asc — a total
      // order, so the vocab is deterministic at any SF). The pre-training
      // sanity check that a tokenizer/vocab actually covers the corpus.
      // Shape at 100 TB: vocab is ONE keyed agg + bounded top-K
      // (TakeOrdered); it then broadcasts into the token-level left join
      // (curated vocabs are KBs-MBs), so the corpus is map-only after its
      // explode; per-doc rollup is one keyed agg.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
      val vocab = toks.groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("word")).limit(15)
        .select(col("word"), lit(true).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("in_vocab").isNull, 1)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"))
        .orderBy("doc_id")
    },

    "text_bpe_train" -> { (s, dir) =>
      // BPE merge training (operators/BpeTrain.scala): six rounds of
      // count-pairs -> deterministic global top-1 -> map-only merge over
      // the word-frequency table (the corpus collapses to distinct words
      // first — the reduction that makes tokenizer training tractable at
      // 100 TB). The oracle replays all six rounds exactly: the canonical
      // double-separator sequence encoding makes merge application a
      // plain greedy-left string replace with identical semantics in both
      // engines, so even the tie-breaks are bit-reproducible.
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.operators.BpeTrain.train(words, "word", "freq", numMerges = 6)
        .toDF()
        .select(col("step"), col("lhs"), col("rhs"), col("merged"), col("cnt"))
        .orderBy("step")
    },

    "index_inverted" -> { (s, dir) =>
      // Inverted-index lifecycle — the search-side sibling of the layout
      // tier: the index at rest is a plain (word, doc_id) posting TABLE
      // (bucketed by word in a deployment, so a term lookup reads only
      // its buckets — no arrays, no giant rows, stop-word skew handled by
      // the same bucketing), and a conjunctive query is term-filter →
      // keyed agg counting matched terms == k — it touches only the
      // queried terms' postings, never the corpus. The oracle answers the
      // SAME query by brute-force corpus scan (list_contains over every
      // document), so the hash match is an index ≡ scan equivalence
      // proof. Output rows carry each hit's distinct-word count so the
      // gate compares data, not bare ids.
      val post = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(filter(split(lower(col("text")), " "),
            w => length(w) > lit(0)))).as("word"))
      val terms = Seq("scan", "merge", "filter")
      val hits = post.where(col("word").isin(terms: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
        .where(col("n_terms") === terms.length)
      post.groupBy("doc_id").agg(count(lit(1)).as("n_uniq_words"))
        .join(hits.select("doc_id"), Seq("doc_id"), "left_semi")
        .orderBy("doc_id")
    },

    "graph_scc" -> { (s, dir) =>
      // Strongly connected components — the DIRECTED member of the graph
      // tier (undirected CC, incremental CC, triangles, TextRank), via
      // distributed Forward-Backward-Trim coloring (operators/Scc.scala;
      // Tarjan's stack is inherently sequential, FW-BW is the standard
      // Pregel/MapReduce recipe). The instance is a hash-derived directed
      // graph over customer keys (out-degree ≤ 2 via the md5 hash60
      // convention, density-normalized by the one-row count broadcast;
      // every key % 7 == 0 is a dead end so the trim phase has real work
      // — giant-SCC-plus-tail, the shape hash/link graphs take in
      // practice). Output is the (scc_id = min member, size) census; the
      // oracle recomputes ground truth from the SAME edges by transitive
      // closure (recursive CTE) + mutual-reachability min — a completely
      // different algorithm, so the hash match is an
      // algorithm-vs-definition proof. SccSpec pins the operator against
      // a driver-side Tarjan on five graph shapes.
      import graft.operators.Scc
      val (cust, edges) = hashDigraph(s, dir)
      Scc.components(cust, edges)
        .groupBy("scc_id").agg(count(lit(1)).as("n_members"))
        .orderBy("scc_id")
    },

    "events_mannwhitney" -> { (s, dir) =>
      // Mann-Whitney U (Wilcoxon rank-sum) per experiment — the
      // NONPARAMETRIC companion to events_abtest's chi-square: compares
      // the full value distributions of the two variants, not just a
      // conversion proportion. Ranks need no corpus sort (the
      // events_winsorize insight): bounded-cardinality cents collapse to
      // a per-(type, value) histogram carrying BOTH variants' counts;
      // midranks come from the cumulative walk over that metadata frame,
      // DOUBLED to stay integer under ties (midrank2 = 2·cum_before +
      // c + 1); U then assembles from exact BIGINT sums —
      // U2 = Σ_A ca(v)·midrank2(v) − n_a(n_a+1) — and the directional
      // decision U > n_a·n_b/2 is exactly U2 > n_a·n_b, integer on both
      // engines with no float anywhere. U ships as one exact halving.
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("cents"),
        (col("user_id") % 2 === 0).as("va"))
      val hist = ev.groupBy("event_type", "cents")
        .agg(sum(when(col("va"), 1L).otherwise(0L)).as("ca"),
          count(lit(1)).as("c"))
      val wcum = Window.partitionBy("event_type").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wcum))
        .withColumn("midrank2", lit(2L) * (col("cum") - col("c")) + col("c") + lit(1L))
      cum.groupBy("event_type")
        .agg(sum(col("ca") * col("midrank2")).as("r2a"),
          sum("ca").as("n_a"), (sum("c") - sum("ca")).as("n_b"))
        .withColumn("u2", col("r2a") - col("n_a") * (col("n_a") + lit(1L)))
        .select(col("event_type"), col("n_a"), col("n_b"),
          (col("u2").cast("double") / lit(2.0)).as("u"),
          (col("u2") > col("n_a") * col("n_b")).as("a_shifted_high"))
        .orderBy("event_type")
    },

    "events_uplift" -> { (s, dir) =>
      // Uplift / heterogeneous-treatment-effect table (the two-model
      // difference every experimentation platform reports per segment:
      // WHERE does the treatment work, not just whether): treatment =
      // user parity, outcome = purchase, segments = hour-of-day buckets.
      // ONE conditional-sum corpus pass to exact per-segment
      // (n_t, c_t, n_c, c_c); uplift = c_t/n_t − c_c/n_c as two
      // exact-int IEEE divisions and one subtraction, and the
      // SIGN/ranking decision is the pure-integer cross-multiplication
      // c_t·n_c vs c_c·n_t (no float threshold — the events_abtest
      // discipline per segment, shipped as the gated positive_uplift
      // flag). Ordered by segment.
      val ev = Tables.events(s, dir).select(
        expr("(ts_ns div 3600000000000) % 24 div 4").as("seg"),
        (col("user_id") % 2 === 0).as("treated"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      ev.groupBy("seg").agg(
          sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
          sum(when(col("treated"), col("y")).otherwise(0L)).as("c_t"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
          sum(when(!col("treated"), col("y")).otherwise(0L)).as("c_c"))
        .select(col("seg"), col("n_t"), col("c_t"), col("n_c"), col("c_c"),
          (col("c_t").cast("double") / col("n_t").cast("double")
            - col("c_c").cast("double") / col("n_c").cast("double")).as("uplift"),
          (col("c_t") * col("n_c") > col("c_c") * col("n_t")).as("positive_uplift"))
        .orderBy("seg")
    },

    "events_kruskal" -> { (s, dir) =>
      // Kruskal-Wallis H test (Kruskal & Wallis 1952) — the k-sample
      // extension of events_mannwhitney: do THREE variants (user_id % 3)
      // draw from the same value distribution? Same no-corpus-sort rank
      // machinery: bounded-cardinality cents collapse to a per-(type,
      // value) histogram carrying all three variants' counts, midranks
      // come from the cumulative walk DOUBLED to stay integer under ties
      // (midrank2 = 2·cum_before + c + 1), and the per-group rank sums
      // R2_g are exact BIGINT (≤ 2N², inside 2⁶³ to ~sf10⁴). H finishes
      // in a FIXED left-associated IEEE chain on the double-cast exact
      // stats — with doubled ranks H = 3·(ΣR2_g²/n_g)/(N(N+1)) − 3(N+1)
      // — and the tie correction 1 − Σ(c³−c)/(N³−N) rides DECIMAL(38,0)
      // numerators (c³ leaves int64 when one value dominates), the
      // decimal→double cast replaying DuckDB's HUGEINT→VARCHAR→DOUBLE
      // parse (the benford convention). The oracle builds midranks by a
      // DIFFERENT construction — per-row 2·RANK() + tie-count − 1 — so
      // the histogram walk itself is what the gate checks.
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("cents"),
        (col("user_id") % 3).as("g"))
      val hist = ev.groupBy("event_type", "cents")
        .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === 2, 1L).otherwise(0L)).as("c2"),
          count(lit(1)).as("c"))
      val wcum = Window.partitionBy("event_type").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wcum))
        .withColumn("midrank2", lit(2L) * (col("cum") - col("c")) + col("c") + lit(1L))
      def d19(c: Column) = c.cast("decimal(19,0)")
      val agg = cum.groupBy("event_type").agg(
        sum("c0").as("n0"), sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c0") * col("midrank2")).as("r20"),
        sum(col("c1") * col("midrank2")).as("r21"),
        sum(col("c2") * col("midrank2")).as("r22"),
        sum(d19(col("c")) * d19(col("c") * col("c") - 1)).as("tt"))
      val n = col("n0") + col("n1") + col("n2")
      def d(c: Column) = c.cast("double")
      val t = d(col("r20")) * d(col("r20")) / d(col("n0")) +
        d(col("r21")) * d(col("r21")) / d(col("n1")) +
        d(col("r22")) * d(col("r22")) / d(col("n2"))
      val h = lit(3.0) * t / d(n * (n + 1)) - lit(3.0) * d(n + 1)
      val nnn = d19(n) * d19(n) * d19(n) - d19(n)
      agg.select(col("event_type"), col("n0"), col("n1"), col("n2"),
          col("r20"), col("r21"), col("r22"), h.as("h"),
          when(col("tt") < nnn,
            h / (lit(1.0) - d(col("tt")) / d(nnn))).as("h_tie_adj"))
        .orderBy("event_type")
    },

    "events_anova" -> { (s, dir) =>
      // One-way ANOVA (Fisher) — the PARAMETRIC k-sample companion to
      // events_kruskal on the same three variants: decompose total
      // variance into between/within. The corpus collapses in ONE keyed
      // conditional-sum agg to exact BIGINT sufficient statistics per
      // type (n_g, Σx_g, pooled Σx² — ≤ ~2.4e16 at sf10, inside int64);
      // SSB/SSW/F/η² finish in a FIXED left-associated IEEE chain on the
      // double-cast stats (the ml_linreg discipline: sums exact and
      // order-independent, the finish a deterministic rounding
      // sequence). Empty variant groups guard to NULL identically in
      // both engines rather than tripping a double Inf/NaN.
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("cents"),
        (col("user_id") % 3).as("g"))
      val agg = ev.groupBy("event_type").agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === 0, col("cents")).otherwise(0L)).as("s0"),
        sum(when(col("g") === 1, col("cents")).otherwise(0L)).as("s1"),
        sum(when(col("g") === 2, col("cents")).otherwise(0L)).as("s2"),
        sum(col("cents") * col("cents")).as("ss"))
      def d(c: Column) = c.cast("double")
      val n = col("n0") + col("n1") + col("n2")
      val sTot = col("s0") + col("s1") + col("s2")
      val t = d(col("s0")) * d(col("s0")) / d(col("n0")) +
        d(col("s1")) * d(col("s1")) / d(col("n1")) +
        d(col("s2")) * d(col("s2")) / d(col("n2"))
      val ssb = t - d(sTot) * d(sTot) / d(n)
      val ssw = d(col("ss")) - t
      val sst = d(col("ss")) - d(sTot) * d(sTot) / d(n)
      val ok = col("n0") > 0 && col("n1") > 0 && col("n2") > 0 && n > 3
      agg.select(col("event_type"), n.as("n"),
          col("n0"), col("n1"), col("n2"),
          col("s0"), col("s1"), col("s2"),
          when(ok, ssb).as("ssb"), when(ok, ssw).as("ssw"),
          when(ok, (ssb / lit(2.0)) / (ssw / d(n - 3))).as("f_stat"),
          when(ok, ssb / sst).as("eta2"))
        .orderBy("event_type")
    },

    "events_spearman" -> { (s, dir) =>
      // Spearman rank-correlation matrix between event types' daily
      // count series — the monotone-association companion to
      // profile_correlation's Pearson (robust to outlier days and any
      // monotone rescaling). The corpus collapses in ONE keyed (type,
      // day) agg; every pair of types inner-joins on day over the
      // O(types × days) metadata frame, ranks are computed WITHIN the
      // paired sample per side as doubled midranks (2·rank + tiecount −
      // 1, integer under ties) via windows partitioned by pair — never a
      // corpus rank; ρ is Pearson on the midrank2 columns with ALL
      // sufficient statistics exact int64 (ranks ≤ 2·days), finishing in
      // profile_correlation's pinned IEEE order: double(num) /
      // (sqrt(double(vx)) · sqrt(double(vy))) — two correctly-rounded
      // sqrts, one multiply, one divide.
      val daily = Tables.events(s, dir)
        .withColumn("day", expr("ts_ns div 86400000000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val a = daily.select(col("event_type").as("ta"), col("day"), col("cnt").as("xa"))
      val b = daily.select(col("event_type").as("tb"), col("day"), col("cnt").as("xb"))
      val pairs = a.join(b, Seq("day")).where(col("ta") < col("tb"))
      def mr2(v: String) = {
        val wr = Window.partitionBy(col("ta"), col("tb")).orderBy(col(v))
        val wt = Window.partitionBy(col("ta"), col("tb"), col(v))
        lit(2L) * rank().over(wr) + count(lit(1)).over(wt) - lit(1L)
      }
      val ranked = pairs
        .withColumn("ra", mr2("xa")).withColumn("rb", mr2("xb"))
      val st = ranked.groupBy("ta", "tb").agg(count(lit(1)).as("m"),
        sum("ra").as("sx"), sum("rb").as("sy"),
        sum(col("ra") * col("rb")).as("sxy"),
        sum(col("ra") * col("ra")).as("sxx"),
        sum(col("rb") * col("rb")).as("syy"))
      val num = col("m") * col("sxy") - col("sx") * col("sy")
      val vx = col("m") * col("sxx") - col("sx") * col("sx")
      val vy = col("m") * col("syy") - col("sy") * col("sy")
      st.select(col("ta"), col("tb"), col("m"), num.as("num"),
          when(vx > 0 && vy > 0, num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))).as("rho"))
        .orderBy("ta", "tb")
    },

    "events_winsorize" -> { (s, dir) =>
      // Winsorized robust aggregation (clip at exact p5/p95 before the
      // mean — the outlier-hardening every metrics pipeline applies).
      // The exact order statistic does NOT need a corpus sort: values are
      // bounded-cardinality cents, so the corpus collapses to a per-type
      // VALUE HISTOGRAM (one keyed agg, ≤56k distinct cents at any SF),
      // the percentile is a cumulative walk over that metadata frame
      // (window partitioned by type), and the clip bounds broadcast back
      // for a map-side clamp + ONE more keyed agg. Rank = ceil(p·n/100)
      // computed as (p·n + 99) div 100 — integer, no float percentile.
      // Sums stay int64-exact (Σcents ≤ 5.6e11 at sf10, inside 2⁵³) so
      // both means are single IEEE divisions.
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("cents"))
      val hist = ev.groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("event_type").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wcum))
      val tot = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val j = cum.join(tot, "event_type")
        .withColumn("r5", expr("(5 * n + 99) div 100"))
        .withColumn("r95", expr("(95 * n + 99) div 100"))
      val p5 = j.where(col("cum") >= col("r5"))
        .groupBy("event_type").agg(min("cents").as("p5"))
      val p95 = j.where(col("cum") >= col("r95"))
        .groupBy("event_type").agg(min("cents").as("p95"))
      val bounds = p5.join(p95, "event_type")
      ev.join(broadcast(bounds), "event_type")
        .withColumn("w", greatest(col("p5"), least(col("cents"), col("p95"))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), first("p5").as("p5"), first("p95").as("p95"),
          sum(when(col("cents") < col("p5"), 1L).otherwise(0L)).as("n_clip_low"),
          sum(when(col("cents") > col("p95"), 1L).otherwise(0L)).as("n_clip_high"),
          (sum("cents").cast("double") / count(lit(1)).cast("double")).as("mean_raw"),
          (sum("w").cast("double") / count(lit(1)).cast("double")).as("mean_winsor"))
        .orderBy("event_type")
    },

    "events_abtest" -> { (s, dir) =>
      // Two-proportion A/B test per experiment (event type), decided by
      // Pearson chi-square on the 2×2 contingency table — the analytics
      // operator every experimentation platform runs. The normal-CDF
      // p-value needs libm and can never hash-compare; instead the
      // SIGNIFICANCE DECISION is exact: χ² = N·(x1·y2−x2·y1)² /
      // (n_a·n_b·(x1+y1)·(x2+y2)) compared to the 3.841459 critical value
      // (α=0.05, df=1) by cross-multiplication in DECIMAL(38,0) —
      // num·10⁶ > den·3841459, all integer, no float threshold. Numerator
      // peaks ~3e31 at sf10 (inside 38 digits; the form overflows past
      // ~sf300 — bound noted). χ² itself ships as the one IEEE division;
      // the oracle converts the wide integers via VARCHAR parse because
      // DuckDB's hugeint→double cast double-rounds above 2⁵³. ONE keyed
      // agg over the corpus; everything after is per-type scalar math.
      val ev = Tables.events(s, dir).select(col("event_type"),
        (col("user_id") % 2 === 0).as("va"),
        (expr("cast(cast(value as decimal(12,2)) * 100 as bigint)") >= 2500L)
          .cast("long").as("conv"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val agg = ev.groupBy("event_type").agg(
        sum(when(col("va"), col("conv")).otherwise(0L)).as("x1"),
        sum(when(col("va"), lit(1L) - col("conv")).otherwise(0L)).as("x2"),
        sum(when(!col("va"), col("conv")).otherwise(0L)).as("y1"),
        sum(when(!col("va"), lit(1L) - col("conv")).otherwise(0L)).as("y2"))
      agg
        .withColumn("num", d38(col("x1") + col("x2") + col("y1") + col("y2")) *
          (d38(col("x1")) * d38(col("y2")) - d38(col("x2")) * d38(col("y1"))) *
          (d38(col("x1")) * d38(col("y2")) - d38(col("x2")) * d38(col("y1"))))
        .withColumn("den", (d38(col("x1")) + d38(col("x2"))) *
          (d38(col("y1")) + d38(col("y2"))) *
          (d38(col("x1")) + d38(col("y1"))) * (d38(col("x2")) + d38(col("y2"))))
        .select(col("event_type"),
          (col("x1") + col("x2")).as("n_a"), col("x1").as("conv_a"),
          (col("y1") + col("y2")).as("n_b"), col("y1").as("conv_b"),
          (col("num").cast("double") / col("den").cast("double")).as("chi2"),
          (col("num") * lit(1000000L) > col("den") * lit(3841459L)).as("significant"))
        .orderBy("event_type")
    },

    "graph_linkpred" -> { (s, dir) =>
      // Common-neighbor link prediction / node similarity (the
      // Liben-Nowell & Kleinberg 2003 baseline): for every node pair
      // sharing ≥1 neighbor, Jaccard = |N(u)∩N(v)| / |N(u)∪N(v)| over
      // the SAME shared hash digraph as scc/bfs, symmetrized. Candidates
      // come from the wedge self-join (adjacency joined to itself on the
      // shared endpoint, u < v) — Σdeg(w)² pairs, bounded because the
      // hash graph's degrees are ~uniform (no hubs; the triangle lane's
      // degree-ordering trick is unnecessary here and the wedge join
      // stays a plain keyed shuffle). Degrees join back keyed; Jaccard
      // is ONE IEEE division of small exact ints; is_edge flags pairs
      // already connected (left join against the edge set). Top-20 by
      // (jaccard desc, u, v) plans as TakeOrderedAndProject.
      val (cust, digraph) = hashDigraph(s, dir)
      val raw = digraph.join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val adj = raw.select(col("src").as("a"), col("dst").as("b"))
        .union(raw.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
      val common = adj.select(col("a").as("u"), col("b").as("w"))
        .join(adj.select(col("a").as("v"), col("b").as("w")), "w")
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("c"))
      val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
      val edgeSet = adj.where(col("a") < col("b"))
        .select(col("a").as("eu"), col("b").as("ev"))
      common
        .join(deg.select(col("a").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("a").as("v"), col("d").as("dv")), "v")
        .join(edgeSet, col("u") === col("eu") && col("v") === col("ev"), "left")
        .select(col("u"), col("v"), col("c"), col("du"), col("dv"),
          (col("c").cast("double") / (col("du") + col("dv") - col("c")).cast("double")).as("jaccard"),
          col("eu").isNotNull.as("is_edge"))
        .orderBy(col("jaccard").desc, col("u"), col("v"))
        .limit(20)
    },

    "graph_linkpred_ra" -> { (s, dir) =>
      // Resource-allocation link prediction (Zhou, Lü & Zhang 2009: each
      // common neighbor v contributes 1/deg(v) — low-degree witnesses
      // are stronger evidence than hubs; consistently the top performer
      // in the Liben-Nowell benchmark family beside graph_linkpred's
      // Jaccard). The weight rides as the FIXED-POINT integer
      // 2²⁰ div deg(v), so the per-pair score is an exact BIGINT sum —
      // order-independent where an IEEE Σ1/deg would hash-diverge under
      // shuffle reordering (the float-poisoning lesson applied to
      // variable-width sums; ranking ties broken by (u, v) stay total).
      // Shape: deg joins onto the adjacency ONCE keyed by the wedge
      // CENTER before the self-join, so the weight arrives with the
      // wedge and the pair agg is one keyed SUM — same bounded
      // Σdeg(w)² candidate generation as the Jaccard lane.
      val (cust, digraph) = hashDigraph(s, dir)
      val raw = digraph.join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val adj = raw.select(col("src").as("a"), col("dst").as("b"))
        .union(raw.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
      val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
      // weight the wedge CENTER (column b of both sides): one keyed join
      val wadj = adj.join(deg.select(col("a").as("b"), col("d").as("dc")), "b")
        .select(col("a"), col("b"),
          expr("cast(1048576 as bigint) div dc").as("wt"))
      val pairs = wadj.select(col("a").as("u"), col("b").as("w"), col("wt"))
        .join(wadj.select(col("a").as("v"), col("b").as("w")), "w")
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("c"), sum("wt").as("ra"))
      val edgeSet = adj.where(col("a") < col("b"))
        .select(col("a").as("eu"), col("b").as("ev"))
      pairs
        .join(edgeSet, col("u") === col("eu") && col("v") === col("ev"), "left")
        .select(col("u"), col("v"), col("c"), col("ra"),
          col("eu").isNotNull.as("is_edge"))
        .orderBy(col("ra").desc, col("u"), col("v"))
        .limit(20)
    },

    "graph_labelprop" -> { (s, dir) =>
      // Synchronous label-propagation community detection (Raghavan 2007,
      // made DETERMINISTIC: each node adopts the majority label of its
      // neighbors, ties by count desc then MIN label — the published
      // algorithm's random tie-break replaced with a total order so the
      // fixpoint replays cross-engine). Three synchronous rounds over the
      // UNDIRECTED hash graph (the shared digraph convention,
      // symmetrized + deduped; own 'lpa-' prefix so the lane prices its
      // own instance). Per round: one keyed join (labels onto edges), one
      // keyed (node, label) count agg, one per-node window argmax —
      // everything partitioned by node, localCheckpoint keeps the
      // iterated plan flat (the textrank/scc convention). Differs from
      // connected components (min-label propagation) exactly where it
      // should: majority voting SPLITS dense regions that happen to touch,
      // where CC merges anything connected. Oracle unrolls all three
      // rounds with the same argmax total order.
      val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
      val stats = cust.agg(count(lit(1)).as("n"))
      val raw = cust.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("lpa-a-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("lpa-b-"), col("node").cast("string"))), col("n"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
        .join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val edges = raw.select(col("src").as("u"), col("dst").as("v"))
        .union(raw.select(col("dst").as("u"), col("src").as("v")))
        .distinct().localCheckpoint()
      graft.operators.LabelProp.communities(cust, edges, rounds = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    },

    "graph_modularity" -> { (s, dir) =>
      // One-level Louvain modularity sweep (operators/Modularity.scala) —
      // the comparison baseline beside graph_labelprop: every node
      // evaluates its singleton-partition move gain SYNCHRONOUSLY with
      // the exact BIGINT numerator 2m·k_{i,in} − Σtot·k_i = 2m − k_i·k_j
      // (simple graph, singleton start), ties to the smallest neighbor
      // id — the published sequential sweep is run-order-dependent and
      // could never replay; the synchronous total-order variant is the
      // labelprop discipline applied to modularity. Own 'mod-' hash
      // instance (undirected, symmetrized, deduped). Output: community
      // SIZE census + the resulting partition's EXACT scaled modularity
      // Q = q_num/q_den with q_num = Σ_c (4m·e_c − Σtot_c²), q_den = 4m²
      // — all BIGINT (≤ (2m)² ≈ 2.6e13 at sf10), so the global quality
      // of the partition hash-compares, not just its shape. Scale: one
      // keyed degree agg, one keyed join + per-node window argmax, two
      // keyed label joins for e_c — all partitioned by node id; the only
      // broadcasts are one-row scalars.
      val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
      val stats = cust.agg(count(lit(1)).as("n"))
      val raw = cust.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("mod-a-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("mod-b-"), col("node").cast("string"))), col("n"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
        .join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val edges = raw.select(col("src").as("u"), col("dst").as("v"))
        .union(raw.select(col("dst").as("u"), col("src").as("v")))
        .distinct().localCheckpoint()
      val labels = graft.operators.Modularity.sweep(cust, edges)
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_communities"))
      val q = graft.operators.Modularity.modularityScaled(labels, edges)
        .select(col("q_num"), col("q_den"), col("n_communities").as("n_total"))
      sizes.crossJoin(broadcast(q)).orderBy("size")
    },

    "graph_louvain2" -> { (s, dir) =>
      // TWO-level Louvain — the full published loop's first two passes
      // (Blondel 2008): sweep, CONTRACT communities to super-nodes
      // (inter-community multiplicities become edge weights, intra edges
      // become self-loops carrying Σtot but never k_{i,in}), sweep again
      // with the weighted gain 2m·w(u,v) − K_u·K_v
      // (Modularity.sweepWeighted) — still exact BIGINT end to end. Same
      // 'mod-' instance as graph_modularity, so its q1 EQUALS that
      // lane's q (cross-lane consistency the artifacts can check). The
      // contraction is one keyed label join + one keyed (lu, lv) agg —
      // after which everything runs on the super-graph (metadata scale:
      // communities, not nodes). Output: composed-partition size census
      // + EXACT scaled modularity at both levels (q1_num, q2_num over
      // the shared q_den = 4m²) — whether the second pass helped is a
      // compared VALUE, not a claim (the synchronous variant doesn't
      // inherit sequential Louvain's monotonicity guarantee).
      val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
      val stats = cust.agg(count(lit(1)).as("n"))
      val raw = cust.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("mod-a-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("mod-b-"), col("node").cast("string"))), col("n"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
        .join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val edges = raw.select(col("src").as("u"), col("dst").as("v"))
        .union(raw.select(col("dst").as("u"), col("src").as("v")))
        .distinct().localCheckpoint()
      val labels1 = graft.operators.Modularity.sweep(cust, edges).localCheckpoint()
      val wedges = edges
        .join(labels1.select(col("node").as("u"), col("label").as("lu")), "u")
        .join(labels1.select(col("node").as("v"), col("label").as("lv")), "v")
        .groupBy(col("lu").as("u"), col("lv").as("v")).agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val nodes2 = labels1.select(col("label").as("node")).distinct()
      val labels2 = graft.operators.Modularity.sweepWeighted(nodes2, wedges)
      val composed = labels1.select(col("node"), col("label").as("l1"))
        .join(labels2.select(col("node").as("l1"), col("label")), "l1")
        .select("node", "label")
      val q1 = graft.operators.Modularity.modularityScaled(labels1, edges)
        .select(col("q_num").as("q1_num"), col("q_den"),
          col("n_communities").as("n_level1"))
      val q2 = graft.operators.Modularity.modularityScaled(composed, edges)
        .select(col("q_num").as("q2_num"), col("n_communities").as("n_level2"))
      val sizes = composed.groupBy("label").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_communities"))
      sizes.crossJoin(broadcast(q1)).crossJoin(broadcast(q2)).orderBy("size")
    },

    "graph_pagerank" -> { (s, dir) =>
      // PageRank centrality (operators/PageRank.scala) — the missing
      // centrality member of the graph tier, made EXACT: three power-
      // iteration rounds in scaled-integer arithmetic (mass scale 1e9,
      // damping (pr·17) div (20·deg) with α = 17/20, teleport constant
      // 150,000,000), truncating division identical on both engines for
      // non-negative operands, so the scores hash-compare — no float
      // fixpoint tolerance anywhere. Its own 'pr-' hash digraph instance
      // (the labelprop convention: directed, deduped, dst semi-joined to
      // the node set, %7 dead ends so dangling mass is real). Per round:
      // one keyed join + one keyed agg + one left join, all partitioned
      // by node id; plan kept flat by localCheckpoint. Output = top-20
      // hubs by (pr desc, node) — deterministic total order. Oracle
      // unrolls the same three rounds in SQL.
      val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
      val stats = cust.agg(count(lit(1)).as("n"))
      val edges = cust.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("pr-a-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("pr-b-"), col("node").cast("string"))), col("n"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
        .join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .distinct()
      graft.operators.PageRank.ranks(cust, edges, rounds = 3)
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
    },

    "graph_reciprocity" -> { (s, dir) =>
      // Directed-graph reciprocity (Newman: what fraction of edges are
      // returned?) plus the mutual-pair census — the dyad-level summary
      // beside assortativity's degree-level one. ONE self-join of the
      // edge set on the reversed key (keyed equi-join, partitioned by
      // (src, dst) — never a node-pair enumeration) + one aggregate;
      // the coefficient is one IEEE division of exact BIGINT counts.
      // Same 'pr-' hash digraph instance as pagerank so the two reports
      // describe one graph.
      val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
      val stats = cust.agg(count(lit(1)).as("n"))
      val edges = cust.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("pr-a-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("pr-b-"), col("node").cast("string"))), col("n"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
        .join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .distinct()
      val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
        lit(1L).as("has_rev"))
      edges.join(rev, Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("n_edges"),
          sum(coalesce(col("has_rev"), lit(0L))).as("n_reciprocated"))
        .select(col("n_edges"), col("n_reciprocated"),
          expr("n_reciprocated div 2").as("n_mutual_dyads"),
          (col("n_reciprocated").cast("double") / col("n_edges").cast("double"))
            .as("reciprocity"))
    },

    "graph_hits" -> { (s, dir) =>
      // HITS hubs & authorities (Kleinberg 1999) — the bipartite-role
      // centrality beside graph_pagerank: authorities are pointed AT by
      // good hubs, hubs point TO good authorities. Two full mutual-
      // reinforcement rounds, EXACT: the iteration runs UNNORMALIZED in
      // BIGINT (init h = 1 — so round-1 authority IS in-degree), because
      // normalization only rescales a power iteration and can never
      // change the ranking the lane reports, while dropping it removes
      // every division and makes the scores pure integer path counts
      // (a_k(i) = #paths alternating in/out of length 2k−1 into i).
      // Growth is bounded by DEGREE moments, not corpus size — scores
      // ≤ maxdeg⁴ on the Poisson-thin hash graph, inside int64 at ANY
      // node count. Per half-round ONE keyed join + keyed agg (the
      // PageRank shape, partitioned by node id); top-20 by (authority
      // desc, hub desc, node) total order. Own 'hits-' hash digraph
      // instance; the oracle unrolls the same four keyed aggs in SQL.
      val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
      val stats = cust.agg(count(lit(1)).as("n"))
      val edges = cust.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("hits-a-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("hits-b-"), col("node").cast("string"))), col("n"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
        .join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .distinct()
        .localCheckpoint()
      var hub = cust.select(col("node"), lit(1L).as("h"))
      var auth: DataFrame = null
      for (_ <- 1 to 2) {
        val aRaw = edges.join(hub.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst").as("node")).agg(sum("h").as("ain"))
        auth = cust.join(aRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("ain"), lit(0L)).as("a"))
          .localCheckpoint()
        val hRaw = edges.join(auth.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("node")).agg(sum("a").as("hout"))
        hub = cust.join(hRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("hout"), lit(0L)).as("h"))
          .localCheckpoint()
      }
      auth.join(hub, "node")
        .select(col("node"), col("a").as("authority"), col("h").as("hub"))
        .orderBy(col("authority").desc, col("hub").desc, col("node"))
        .limit(20)
    },

    "layout_deletion_vectors" -> { (s, dir) =>
      // Deletion-vector scan — the lakehouse position-delete model
      // (Delta deletion vectors / Iceberg v2 position deletes): deletes
      // arrive as (file, position) pairs instead of rewriting base
      // files. The DV artifact per file is the r11 canonical bitmap
      // (exact, memory ∝ deletes, mergeable), built in ONE keyed agg
      // over the delete feed; the scan applies deletes as a BROADCAST
      // anti-join on (file_id, pos) — map-side filtering, the base
      // never shuffles, which is the entire reason DVs exist at 100 TB.
      // The per-file gate ok_dv = |DV| == n_rows − n_survivors proves
      // the bitmap artifact encodes exactly the delete set the scan
      // applied. Files chunk by orderkey div 2048 (the snapshot_scan
      // convention); deletes = orderkey % 11 == 3 (~9%).
      import graft.expressions.Bitmap
      val f = 2048L
      val base = Tables.orders(s, dir).select(col("o_orderkey"),
        expr(s"o_orderkey div $f").as("file_id"),
        pmod(col("o_orderkey"), lit(f)).as("pos"))
      val deletes = base.where(col("o_orderkey") % 11 === 3)
        .select("file_id", "pos")
      val dv = deletes.groupBy("file_id").agg(Bitmap.sketch(col("pos")).as("dv"))
      val survivors = base.join(broadcast(deletes), Seq("file_id", "pos"), "left_anti")
        .groupBy("file_id").agg(count(lit(1)).as("n_survivors"))
      val nrows = base.groupBy("file_id").agg(count(lit(1)).as("n_rows"))
      nrows.join(dv, Seq("file_id"), "left")
        .join(survivors, Seq("file_id"), "left")
        .select(col("file_id"), col("n_rows"),
          coalesce(when(col("dv").isNotNull, Bitmap.count(col("dv"))), lit(0L))
            .as("n_deleted_dv"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
        .withColumn("ok_dv",
          col("n_deleted_dv") === col("n_rows") - col("n_survivors"))
        .orderBy("file_id")
    },

    "graph_kcore" -> { (s, dir) =>
      // k-core decomposition census — the density-peeling member of the
      // graph tier (community cores, spam rings, graph sparsification):
      // 8 synchronized peel rounds at k = 3 over a 3-hash undirected
      // graph ('kc-' instance, out-degree 3 so the symmetrized average
      // degree ~5 leaves a real core), each round dropping nodes of
      // current degree < 3 and their incident edges — exactly "the
      // 8-round peel census", deterministic regardless of convergence
      // (the graph_sssp bounded-horizon convention). Per round: one
      // keyed degree agg + two semi joins, localCheckpoint keeping the
      // plan flat; everything partitions on node id. Output = remaining
      // degree distribution. Oracle unrolls the same 8 peels.
      val cust = Tables.customer(s, dir).select(col("c_custkey").cast("long").as("node"))
      val stats = cust.agg(count(lit(1)).as("n"))
      val raw = cust.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("kc-a-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("kc-b-"), col("node").cast("string"))), col("n")),
          pmod(Tf.hash60(concat(lit("kc-c-"), col("node").cast("string"))), col("n"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
        .join(cust.select(col("node").as("dst")), Seq("dst"), "left_semi")
      var e = raw.select(col("src").as("u"), col("dst").as("v"))
        .union(raw.select(col("dst").as("u"), col("src").as("v")))
        .distinct().localCheckpoint()
      for (_ <- 1 to 8) {
        val keep = e.groupBy("u").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 3L).select("u")
        e = e.join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
          .select("u", "v").localCheckpoint()
      }
      e.groupBy("u").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    },

    "set_reconcile" -> { (s, dir) =>
      // Relational set operators as first-class citizens — INTERSECT /
      // EXCEPT with SQL's distinct-set semantics (the audience-reconcile
      // shape: retained / churned / acquired customers between two
      // years). Spark plans these as aggregate + left-semi/anti joins —
      // this lane pins that the set-op API members of the inventory
      // exist and plan shuffles on the join key, not distinct-then-
      // collect. Output is the three segment cardinalities via a
      // map-side-cheap union of one-row aggregates.
      def active(y: Int) = Tables.orders(s, dir)
        .where(year(col("o_orderdate")) === y).select("o_custkey")
      val y96 = active(1996)
      val y97 = active(1997)
      val segs = Seq(
        ("retained", y96.intersect(y97)),
        ("churned", y96.except(y97)),
        ("acquired", y97.except(y96)))
      segs.map { case (name, df) =>
        df.agg(count(lit(1)).as("n_customers")).select(lit(name).as("segment"), col("n_customers"))
      }.reduce(_ union _).orderBy("segment")
    },

    "graph_bfs" -> { (s, dir) =>
      // Single-source BFS hop distances (operators/Bfs.scala) — the
      // reachability member of the graph tier, over the SAME hash-derived
      // digraph instance as graph_scc (one shared graph convention, so the
      // directed-graph lanes compose). Delta-fold double-stepped BSP:
      // per-round messages track the frontier's edges, not the visited set.
      // Output is the distance histogram from node 1 over reachable REAL
      // nodes (phantom hash targets dropped by the node-set semi-join on
      // both sides). Oracle recomputes by definition: recursive-CTE level
      // enumeration + MIN(d) per node — a different algorithm, so the hash
      // match proves the frontier labels, including the two-hop-delta
      // correctness argument in the scaladoc.
      import graft.operators.Bfs
      val (cust, edges) = hashDigraph(s, dir)
      Bfs.distances(cust, edges, source = 1L, maxIters = BfsHopCap / 2)
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    },

    "graph_closeness" -> { (s, dir) =>
      // k-source closeness centrality (Bavelas 1950's Σ-distance form,
      // sampled at k = 4 fixed sources — the standard large-graph
      // practice since exact all-pairs is O(nm)) over the SAME 'scc-'
      // hash digraph as graph_bfs/graph_scc. The scale point is
      // operators/Bfs.distancesMulti: all k traversals run in ONE BSP
      // loop — state is (source, node) pairs placed by node, so the
      // loop pays diameter-many rounds ONCE for the
      // union of frontiers instead of k times (per-round fixed overhead
      // dominates these metadata-scale shuffles — the measured
      // double-step argument compounded across sources). Output: top-20
      // central nodes by (sources-reached desc, Σdist asc, node) — all
      // exact integers. Oracle re-walks all four sources by recursive
      // CTE with MIN(d) — algorithm vs definition, the graph_bfs
      // convention.
      import graft.operators.Bfs
      val (cust, edges) = hashDigraph(s, dir)
      Bfs.distancesMulti(cust, edges, Seq(1L, 2L, 3L, 5L), maxIters = BfsHopCap / 2)
        .groupBy("node").agg(count(lit(1)).as("n_src"), sum("dist").as("sum_dist"))
        .orderBy(col("n_src").desc, col("sum_dist"), col("node")).limit(20)
    },

    "graph_betweenness" -> { (s, dir) =>
      // Sampled bounded-distance Brandes betweenness (Brandes 2001's
      // dependency accumulation; Brandes–Pich 2007 source sampling;
      // Brandes 2008's bounded-distance variant at radius
      // BetweennessHopCap) over the SAME 'scc-' hash digraph as
      // bfs/closeness/scc — the path-criticality centrality beside
      // closeness's Σ-distance. operators/Betweenness.scala runs two
      // level-synchronous BSP passes on (source, node)-keyed metadata
      // frames (the distancesMulti compound-key amortization): forward
      // fuses BFS with exact BIGINT σ path counting, backward
      // accumulates δ = Σ σ_v/σ_w·(1+δ_w) level by level. δ is DOUBLE
      // yet hash-replays AT ANY OUT-DEGREE: σ_v/σ_w is one exact-int
      // IEEE division and the per-node sum folds in successor order
      // (sort_array+aggregate ↔ DuckDB SUM ORDER BY — both sequential
      // IEEE folds). Betweenness = Σ_s δ_s(v),
      // summed in FIXED source order via a 4-way pivot so the rounding
      // sequence replays. Output: top-20 critical nodes. Oracle unrolls
      // both passes level-by-level (recursive-CTE distances, one σ and
      // one δ CTE per level) — algorithm vs definition, the graph-lane
      // convention.
      import graft.operators.Betweenness
      val (cust, edges) = hashDigraph(s, dir)
      val acc = Betweenness.sampled(cust, edges, Seq(1L, 2L, 3L, 5L),
        maxHop = BetweennessHopCap)
      acc.groupBy("node").agg(
          count(lit(1)).as("n_src"),
          coalesce(max(when(col("s") === 1L, col("delta"))), lit(0.0)).as("d1"),
          coalesce(max(when(col("s") === 2L, col("delta"))), lit(0.0)).as("d2"),
          coalesce(max(when(col("s") === 3L, col("delta"))), lit(0.0)).as("d3"),
          coalesce(max(when(col("s") === 5L, col("delta"))), lit(0.0)).as("d5"))
        .select(col("node"), col("n_src"),
          (((col("d1") + col("d2")) + col("d3")) + col("d5")).as("bc"))
        .orderBy(col("bc").desc, col("node")).limit(20)
    },

    "graph_eccentricity" -> { (s, dir) =>
      // Sampled eccentricity census with radius/diameter bounds — the
      // third distancesMulti consumer (after closeness and betweenness's
      // forward pass): per sampled source, eccentricity = max hop
      // distance over reached real nodes, and the standard BFS-sample
      // bounds diameter ≥ max_s ecc(s), radius ≤ min_s ecc(s) (the
      // double-sweep estimation practice, Magnien–Latapy–Habib 2009).
      // All exact integers: the k traversals ride ONE compound-keyed BSP
      // loop, the census is one keyed agg on the (s, node) frame, and
      // the ONE-ROW bounds aggregate broadcasts back onto the 4-row
      // per-source frame (the graph-lane scalar shape). Oracle re-walks
      // by recursive CTE + MIN(d) — algorithm vs definition.
      import graft.operators.Bfs
      val (cust, edges) = hashDigraph(s, dir)
      val per = Bfs.distancesMulti(cust, edges, Seq(1L, 2L, 3L, 5L),
          maxIters = BfsHopCap / 2)
        .groupBy("s").agg(count(lit(1)).as("n_reached"), max("dist").as("ecc"))
      val bounds = per.agg(min("ecc").as("radius_ub"), max("ecc").as("diameter_lb"))
      per.crossJoin(broadcast(bounds)).orderBy("s")
    },

    "graph_assortativity" -> { (s, dir) =>
      // Degree assortativity (Newman 2002: do well-connected nodes link
      // to well-connected nodes?) over the shared 'scc-' digraph, in the
      // directed form: per edge, x = out-degree(src), y = in-degree(dst),
      // r = Pearson over the edge list. The profile_correlation
      // discipline: ONE pass over the degree-annotated edges collects
      // every exact BIGINT sufficient statistic (m, Σx, Σy, Σxy, Σx²,
      // Σy² — degrees are bounded small, peak term ~1e14 at sf10, inside
      // int64), and r finishes in a FIXED sequence of IEEE ops (two
      // casts, two sqrts, one multiply, one divide) that hash-replays.
      // Degree annotation = two keyed counts + two equi-joins; nothing
      // non-keyed touches the edge list.
      val (_, edges) = hashDigraph(s, dir)
      val outd = edges.groupBy("src").agg(count(lit(1)).as("xd"))
      val ind = edges.groupBy("dst").agg(count(lit(1)).as("yd"))
      // r is NULL when either degree sequence has zero variance (a
      // regular graph, one edge, no edges): Pearson is undefined there
      val den = sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
        sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))
      edges.join(outd, "src").join(ind, "dst")
        .agg(count(lit(1)).as("m"), sum("xd").as("sx"), sum("yd").as("sy"),
          sum(col("xd") * col("yd")).as("sxy"),
          sum(col("xd") * col("xd")).as("sxx"),
          sum(col("yd") * col("yd")).as("syy"))
        .select(col("m"), col("sx"), col("sy"), col("sxy"), col("sxx"),
          col("syy"),
          when(den =!= 0.0,
            (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") / den)
            .as("r"))
    },

    "graph_condensation" -> { (s, dir) =>
      // Condensation DAG — the composition of the directed-graph tier:
      // contract every SCC (operators/Scc.scala) to one node, build the
      // condensed edge list (distinct cross-component pairs, one keyed
      // join + distinct), then rank the DAG by critical-path depth
      // (operators/DagLevels.scala, Bellman-Ford max-relaxation — exact
      // on DAGs, and the condensation is acyclic BY THEOREM, so the
      // fixpoint's cycle guard doubles as a structural self-check of the
      // SCC output). This is the crawl/dependency-analysis shape:
      // "which strongly-coupled clusters exist and how deep is the
      // pipeline between them". Quarter-subset instance (custkeys ≡ 0
      // mod 4, relabeled dense) with its own hash prefix, so the lane
      // prices the composition, not a rerun of graph_scc's instance.
      // Oracle recomputes everything by definition: closure + mutual-min
      // SCC, condensed pairs, longest path by recursive enumeration.
      import graft.operators.{Scc, DagLevels}
      val nodes = Tables.customer(s, dir)
        .where(col("c_custkey") % 4 === 0)
        .select(expr("cast(c_custkey as bigint) div 4").as("node"))
      val stats = nodes.agg(count(lit(1)).as("m"))
      val edges = nodes.crossJoin(broadcast(stats))
        .where(col("node") % 7 =!= 0)
        .select(col("node").as("src"), explode(array(
          pmod(Tf.hash60(concat(lit("cond-a-"), col("node").cast("string"))), col("m")),
          pmod(Tf.hash60(concat(lit("cond-b-"), col("node").cast("string"))), col("m"))))
          .as("dst"))
        .where(col("src") =!= col("dst"))
      val scc = Scc.components(nodes, edges).localCheckpoint(true)
      val sizes = scc.groupBy("scc_id").agg(count(lit(1)).as("n_members"))
      val cedges = edges
        .join(scc.select(col("node").as("src"), col("scc_id").as("cs")), Seq("src"))
        .join(scc.select(col("node").as("dst"), col("scc_id").as("cd")), Seq("dst"))
        .where(col("cs") =!= col("cd"))
        .select(col("cs").as("src"), col("cd").as("dst")).distinct()
      val outDeg = cedges.groupBy(col("src").as("scc_id"))
        .agg(count(lit(1)).as("out_degree"))
      val lvls = DagLevels.levels(sizes.select(col("scc_id").as("node")), cedges)
      sizes
        .join(outDeg, Seq("scc_id"), "left")
        .join(lvls.select(col("node").as("scc_id"), col("level")), Seq("scc_id"))
        .select(col("scc_id"), col("n_members"),
          coalesce(col("out_degree"), lit(0L)).as("out_degree"), col("level"))
        .orderBy("scc_id")
    },

    "text_collocations" -> { (s, dir) =>
      // Lift-ranked bigram collocations (the corpus-linguistics
      // association measure: lift = P(xy)/(P(x)P(y)) over adjacent token
      // pairs) — PMI's monotone argument without the cross-engine log.
      // Bigrams come from ONE keyed lead() window over positioned tokens
      // (codegen'd — a per-row HOF zip would be interpreted µs/element
      // and a pos+1 self-join a second corpus shuffle); marginals are
      // exact integer left/right counts, the corpus total rides a
      // ONE-ROW broadcast, and lift is a single IEEE division of two
      // int64 products (< 2^53 at gate scale) so the ranking replays
      // bit-identically. Min-support 5 kills the hapax tail before the
      // top-k; global top-20 plans as TakeOrderedAndProject.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val wl = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = toks.withColumn("y", lead("w", 1).over(wl))
        .where(col("y").isNotNull && col("w") =!= "" && col("y") =!= "")
        .select(col("w").as("x"), col("y"))
      val nxy = pairs.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      val nx = pairs.groupBy("x").agg(count(lit(1)).as("n_x"))
      val ny = pairs.groupBy("y").agg(count(lit(1)).as("n_y"))
      val tot = pairs.agg(count(lit(1)).as("n_tot"))
      nxy.join(nx, "x").join(ny, "y").crossJoin(broadcast(tot))
        .where(col("n_xy") >= 5)
        .withColumn("lift", (col("n_xy") * col("n_tot")).cast("double") /
          (col("n_x") * col("n_y")).cast("double"))
        .orderBy(col("lift").desc, col("x"), col("y")).limit(20)
        .select("x", "y", "n_xy", "n_x", "n_y", "lift")
    },

    "text_kneser_ney" -> { (s, dir) =>
      // Kneser-Ney smoothed bigram LM (Kneser & Ney 1995; Chen & Goodman
      // 1998's interpolated form) — the canonical n-gram smoothing, made
      // EXACT: with discount D = 3/4 every probability is the rational
      //   P(y|x) = [max(4·c_xy − 3, 0)·N + 3·N1+(x·)·N1+(·y)] / (4·c_x·N)
      // (N = distinct bigram types = N1+(··)), so p_num/p_den ship as
      // BIGINT (≤ ~4e14 at sf10 — inside 2^53, so the final one-division
      // double ALSO hash-compares) and the continuation-probability
      // machinery — the thing that distinguishes KN from Katz/add-k —
      // is pinned by the N1+ columns riding the compared output. Corpus
      // cost: the ONE lead() window all bigram lanes share, one keyed
      // bigram agg; everything downstream (left counts, continuation
      // counts, the type total) re-aggregates the bigram-TYPE frame
      // (metadata scale). Top-20 by (c_xy desc, x, y) as
      // TakeOrderedAndProject.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val wl = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = toks.withColumn("y", lead("w", 1).over(wl))
        .where(col("y").isNotNull && col("w") =!= "" && col("y") =!= "")
        .select(col("w").as("x"), col("y"))
      val c12 = pairs.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val c1 = pairs.groupBy("x").agg(count(lit(1)).as("c_x"))
      val n1l = c12.groupBy("x").agg(count(lit(1)).as("n1_x"))
      val n1r = c12.groupBy("y").agg(count(lit(1)).as("n1_y"))
      val ntot = c12.agg(count(lit(1)).as("n_types"))
      c12.join(c1, "x").join(n1l, "x").join(n1r, "y").crossJoin(broadcast(ntot))
        .withColumn("p_num",
          greatest(lit(4L) * col("c_xy") - lit(3L), lit(0L)) * col("n_types")
            + lit(3L) * col("n1_x") * col("n1_y"))
        .withColumn("p_den", lit(4L) * col("c_x") * col("n_types"))
        .withColumn("p_kn", col("p_num").cast("double") / col("p_den").cast("double"))
        .orderBy(col("c_xy").desc, col("x"), col("y")).limit(20)
        .select("x", "y", "c_xy", "c_x", "n1_x", "n1_y", "n_types",
          "p_num", "p_den", "p_kn")
    },

    "text_wordpiece_train" -> { (s, dir) =>
      // WordPiece likelihood-scored merge training (Schuster & Nakajima
      // 2012) — the scoring that separates WordPiece from BPE: each round
      // merges argmax of freq(ab)/(freq(a)·freq(b)) (the unigram-LM
      // likelihood gain), not raw pair count, so rare-but-associated
      // pairs beat frequent incidental ones. Same distributed loop as
      // text_bpe_train plus one symbol-count agg per round; the argmax is
      // cross-engine exact (BIGINT freq product < 2^53 casts to double
      // exactly; IEEE division identically rounded; ties by pair lex).
      // Output is all-integer (n_pair, f_lhs, f_rhs) so the driver hash
      // compares the argmax evidence, not a float. The oracle replays
      // all five rounds including the scored top-1.
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.operators.BpeTrain.trainLikelihood(words, "word", "freq", numMerges = 5)
        .toDF()
        .select(col("step"), col("lhs"), col("rhs"), col("merged"),
          col("nPair").as("n_pair"), col("fLhs").as("f_lhs"), col("fRhs").as("f_rhs"))
        .orderBy("step")
    },

    "text_unigram_train" -> { (s, dir) =>
      // Unigram-LM tokenizer trainer (operators/UnigramTrain.scala) — the
      // SentencePiece-style EM half beside BPE: substring-seeded candidate
      // vocabulary, two hard-EM rounds of Viterbi segmentation (cut-point
      // bitmask enumeration, ≤128 masks at the len≤8 cap) + piece
      // re-counting, all under the scaled-integer cost len(bin(C div c))
      // so the oracle replays BOTH rounds bit-for-bit — seeding, top-60
      // selection with (cnt desc, piece) tie-break, segmentation argmin
      // with smallest-mask ties, and the count/cost updates.
      val words = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.operators.UnigramTrain.train(words, "word", "freq")
        .orderBy(col("cnt").desc, col("piece"))
    },

    "text_unigram_encode" -> { (s, dir) =>
      // The apply half of the unigram train→apply loop (BPE has the same
      // pair): train, then Viterbi-encode the DISTINCT vocabulary under
      // the final costs, emitting the byte-exact segmentation string per
      // word — the strongest possible oracle granularity (the SQL replay
      // must reproduce every chosen cut, not just counts). Words with no
      // valid segmentation dead-letter (n_pieces=0, null encoding) rather
      // than dropping. Shape at 100 TB: the corpus collapses to distinct
      // words first; encode is one map-only pass with the ≤100-entry cost
      // table broadcast; the corpus-side re-join is text_bpe_encode's
      // already-covered keyed-join shape.
      val words = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val trained = graft.operators.UnigramTrain.train(words, "word", "freq")
      graft.operators.UnigramTrain.encodeWords(words, "word", "freq", trained)
        .orderBy("word")
    },

    "text_bpe_encode" -> { (s, dir) =>
      // BPE application — the train→apply loop closed: train 6 merges on
      // the word-frequency table (text_bpe_train's trainer), then encode
      // the DISTINCT vocabulary map-only (one plain replace per merge, in
      // training order — the corpus is never re-walked symbol-by-symbol)
      // and join the token stream against the encoded vocab for a per-doc
      // (n_words, n_subwords) rollup. Shape at 100 TB: vocab encode is
      // O(vocab·merges) map-only; the corpus-side cost is one explode +
      // one keyed join (AQE broadcasts the vocab while it is small) + one
      // keyed agg. The oracle replays training AND application bit-for-bit
      // via the canonical double-separator encoding.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
      val words = toks.groupBy("word").agg(count(lit(1)).as("freq"))
      val merges = graft.operators.BpeTrain.train(words, "word", "freq", numMerges = 6)
      val enc = graft.operators.BpeTrain.encodeWords(words, "word", merges)
      toks.join(enc, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_subwords").as("n_subwords"))
        .orderBy("doc_id")
    },

    "text_wordpiece_encode" -> { (s, dir) =>
      // WordPiece greedy encoding — the third tokenizer family beside
      // BPE's merge replay (28b/28b2) and the unigram-LM Viterbi
      // (28b3/28b4): maximal-munch longest-match-first against a
      // position-restricted vocabulary (start pieces at offset 0,
      // continuation pieces after — the `##` convention without marker
      // strings). Vocab derivation is deterministic from the corpus: top
      // 200 word-prefixes and top 200 non-initial substrings by frequency
      // (ties by gram, the hash-stable total order) plus every single
      // character at its position class, so no corpus word can fail.
      // Vocab is a bounded driver collect (the BpeTrain convention);
      // encoding runs the native WordPieceCount kernel over the DISTINCT
      // vocabulary only — the corpus pays one explode + keyed join + agg.
      // The oracle replays BOTH vocab ranking and the greedy walk (a
      // recursive CTE advancing by the longest match) bit-for-bit.
      import graft.expressions.WordPiece
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
      val words = toks.groupBy("word").agg(count(lit(1)).as("freq"))
      // (gram, freq) frame → ranked vocab list: top 200 by (f desc, g asc)
      // plus every length-1 gram — the identical total order the oracle's
      // row_number replays. Driver collect is bounded: ≤ 200 + alphabet.
      def topGrams(grams: DataFrame): Seq[String] = {
        val w = Window.orderBy(col("f").desc, col("g"))
        grams.groupBy("g").agg(sum(col("freq")).as("f"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 200 || length(col("g")) === 1)
          .select("g").collect().map(_.getString(0)).toSeq
      }
      val startV = topGrams(words.select(col("freq"), explode(transform(
        sequence(lit(1), least(lit(4), length(col("word")))),
        l => col("word").substr(lit(1), l))).as("g")))
      // non-initial substrings: positions 2..len × lengths 1..min(4, rest);
      // sequence() DESCENDS when start > stop, so length-1 words are
      // guarded to an empty array rather than a bogus [2,1] walk
      val contV = topGrams(words.select(col("freq"), explode(
        when(length(col("word")) >= 2, flatten(transform(
          sequence(lit(2), length(col("word"))),
          p => transform(
            sequence(lit(1), least(lit(4), length(col("word")) - p + 1)),
            l => col("word").substr(p, l)))))
          .otherwise(array().cast("array<string>"))).as("g")))
      val enc = words.select(col("word"),
        WordPiece.count(col("word"), startV, contV, maxPieceLen = 4).as("n_pieces"))
      toks.join(enc, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_subwords"))
        .orderBy("doc_id")
    },

    "graph_triangles" -> { (s, dir) =>
      // Triangle census over the word-adjacency graph (the third graph
      // operator after connected components and weighted PageRank —
      // triangle counts drive clustering coefficients, community strength,
      // and spam-graph signals). Algorithm is the DEGREE-ORDERED orientation count
      // (Chiba–Nishizeki / the MapReduce standard): orient every edge
      // from its lower-degree endpoint (lex tiebreak), build wedges only
      // from out-neighbors, close them against the undirected edge set —
      // candidate volume is Σ d_out² which degree-ordering provably
      // minimizes to O(m^1.5), where a naive u<v orientation explodes on
      // the highest-degree hub. All joins keyed (wedge build on the apex,
      // closure on the (b, c) pair); the corpus collapses to the distinct
      // edge list first, so cost tracks vocabulary, not corpus. Counting
      // is exact; each triangle is produced EXACTLY once (unique apex +
      // lex-ordered far pair), which the lex-ordered brute-force oracle
      // replays.
      val toksArr = filter(split(lower(col("text")), " "),
        w => length(w) > lit(0))
      val adj = Tables.documents(s, dir)
        .select(toksArr.as("toks"))
        .where(size(col("toks")) >= 2)
        .select(explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => struct(
            element_at(col("toks"), i + 1).as("a"),
            element_at(col("toks"), i + 2).as("b")))).as("bg"))
        .select(least(col("bg.a"), col("bg.b")).as("u"),
          greatest(col("bg.a"), col("bg.b")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      val deg = adj.select(explode(array(col("u"), col("v"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("d"))
      val oriented = adj
        .join(deg.select(col("w").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("w").as("v"), col("d").as("dv")), Seq("v"))
        .select(when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("x"), col("v").as("y")))
          .otherwise(struct(col("v").as("x"), col("u").as("y"))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.x") === col("e2.x") && col("e1.y") < col("e2.y"))
        .select(col("e1.x").as("a"),
          col("e1.y").as("b"), col("e2.y").as("c"))
      val tris = wedges.join(adj,
        least(col("b"), col("c")) === col("u") &&
          greatest(col("b"), col("c")) === col("v"), "semi")
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n_triangles"))
        .orderBy("word")
    },

    "text_textrank" -> { (s, dir) =>
      // TextRank keyword salience (operators/TextRank.scala): weighted
      // PageRank over the corpus word-adjacency graph, 5 rounds, damping
      // 0.85 — ranks vocabulary by graph centrality instead of raw
      // frequency (the published keyword-extraction fixed point, run
      // corpus-level as a curation vocabulary signal). The corpus
      // collapses to the weighted edge list FIRST (adjacent lowercase
      // word pairs, self-loops dropped, both orientations → one keyed
      // agg), so iteration cost tracks VOCABULARY size, not corpus size.
      // Scaled-integer arithmetic (ranks at 1e9, integral division only)
      // makes all 5 rounds replay bit-for-bit in the DuckDB oracle —
      // BIGINT sums are order-independent where float PageRank is not.
      val toksArr = filter(split(lower(col("text")), " "),
        w => length(w) > lit(0))
      val adj = Tables.documents(s, dir)
        .select(toksArr.as("toks"))
        .where(size(col("toks")) >= 2)
        .select(explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => struct(
            element_at(col("toks"), i + 1).as("v"),
            element_at(col("toks"), i + 2).as("w")))).as("bg"))
        .select(col("bg.v").as("v"), col("bg.w").as("w"))
        .where(col("v") =!= col("w"))
      val und = adj.union(adj.select(col("w").as("v"), col("v").as("w")))
      val edges = und.groupBy(col("v").as("src"), col("w").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.operators.TextRank.rankWords(edges, iterations = 5)
        .select(col("word"), col("r").as("rank"))
        .orderBy("word")
    },

    "text_lm_score" -> { (s, dir) =>
      // CCNet-style LM quality filter: train an add-one-smoothed bigram LM
      // on a reference slice (doc_id % 7 == 0 — the "clean corpus" role
      // Wikipedia plays in the published pipeline), score EVERY doc by its
      // average smoothed bigram probability, keep docs at or above the
      // corpus average. Published pipelines rank by log-perplexity; an
      // exact-replay oracle can't follow transcendental functions across
      // engines, so the score is the scaled-INTEGER probability mean —
      // floor(1e9 * (c(v,w)+1) / (c(v)+V)) per bigram, summed as BIGINT
      // (order-independent, hash-exact) — which induces the same keep set
      // as any monotone transform of the per-bigram probabilities would
      // under a mean-threshold rule on this statistic. The keep decision
      // is EXACT integer cross-multiplication (score_sum * total_n >=
      // n * total_sum in DECIMAL(19,0) products), no float compare.
      // Shape at 100 TB: bigram explode is map-only (HOF over the token
      // array, no posexplode join-back); LM counts are two keyed aggs over
      // the REFERENCE slice only; scoring joins are keyed on (v,w) and v
      // (AQE broadcasts them while the LM is small, falls back to shuffle
      // when it isn't — a Wikipedia-scale LM is GBs, never driver-bound);
      // V and the global mean are one-row broadcasts.
      val toksArr = filter(split(lower(col("text")), " "),
        w => length(w) > lit(0))
      val bigrams = Tables.documents(s, dir)
        .select(col("doc_id"), toksArr.as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => struct(
            element_at(col("toks"), i + 1).as("v"),
            element_at(col("toks"), i + 2).as("w")))).as("bg"))
        .select(col("doc_id"), col("bg.v"), col("bg.w"))
      val refBg = bigrams.where(col("doc_id") % 7 === 0)
      val cb = refBg.groupBy("v", "w").agg(count(lit(1)).as("cb"))
      val cv = refBg.groupBy("v").agg(count(lit(1)).as("cv"))
      val vsz = Tables.documents(s, dir)
        .where(col("doc_id") % 7 === 0)
        .select(explode(toksArr).as("word"))
        .agg(countDistinct(col("word")).as("vsz"))
      // `scored` feeds BOTH the global mean and the final projection —
      // persist the narrow (doc_id, n, sum) frame or the whole
      // bigram/LM-join subtree re-executes once per consumer (the r7
      // union-re-executes lesson)
      val scored = bigrams
        .join(cb, Seq("v", "w"), "left")
        .join(cv, Seq("v"), "left")
        .crossJoin(broadcast(vsz))
        .select(col("doc_id"),
          floor(lit(1e9) * (coalesce(col("cb"), lit(0L)) + 1) /
            (coalesce(col("cv"), lit(0L)) + col("vsz"))).as("p"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("score_sum"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = scored.agg(
        sum(col("score_sum")).as("tot_sum"), sum(col("n_bigrams")).as("tot_n"))
      val out = scored.crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_bigrams"), col("score_sum"),
          (col("score_sum").cast("double") / col("n_bigrams").cast("double"))
            .as("avg_p_e9"),
          (col("score_sum").cast("decimal(19,0)") * col("tot_n").cast("decimal(19,0)") >=
            col("n_bigrams").cast("decimal(19,0)") * col("tot_sum").cast("decimal(19,0)"))
            .as("kept"))
        .orderBy("doc_id")
      graft.operators.CacheScope.unpersistAfterUse(out, scored)
    },

    "text_pii" -> { (s, dir) =>
      // PII scrub gate: emails / dotted-quad IPs / card-like digit runs →
      // placeholders, counted pre-scrub. PII is PLANTED (1 in 3 docs gets
      // an email+IP tail, 1 in 3 a card tail) so the redactor has real
      // targets at any SF; patterns are Java-regex/RE2 shared syntax and
      // the oracle replays the scrub verbatim (md5 of the redacted text is
      // hash-compared). Map-only, no shuffle.
      val planted =
        when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" Contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com from 10."), (col("doc_id") % 256).cast("string"),
            lit(".3.7 today")))
          .when(col("doc_id") % 3 === 2,
            concat(col("text"), lit(" card 4111111111111111 expires soon")))
          .otherwise(col("text"))
      Tables.documents(s, dir)
        .withColumn("ptext", planted)
        .select(
          col("doc_id"),
          regexp_count(col("ptext"), lit(Tf.EmailRe)).cast("long").as("n_email"),
          regexp_count(col("ptext"), lit(Tf.Ipv4Re)).cast("long").as("n_ip"),
          regexp_count(col("ptext"), lit(Tf.CardRe)).cast("long").as("n_card"),
          md5(Tf.redactPii(col("ptext"))).as("red_md5"),
          length(Tf.redactPii(col("ptext"))).cast("long").as("red_len"))
        .orderBy("doc_id")
    },

    "text_fingerprint" -> { (s, dir) =>
      import graft.expressions.{ShingleHashes, Sketch}
      Tables.documents(s, dir).select(
        col("doc_id"),
        Tf.fingerprintHex(col("text")).as("fp_md5"),
        Tf.fingerprint60(col("text")).as("fp60"),
        size(Sketch.column(ShingleHashes(Sketch.expr(col("text")), 5, word = true)))
          .cast("long").as("n_shingles"))
        .orderBy("doc_id")
    },

    "text_tfidf" -> { (s, dir) =>
      // corpus-relative term weighting: tf x (N/df) with exact integer
      // numerators so the score (one IEEE division of two integers) is
      // bit-reproducible in any engine; top-3 terms per doc by score.
      // Shape at 100 TB: explode -> two keyed aggs -> vocab join (AQE
      // decides broadcast vs shuffle) -> per-doc window, all partitioned.
      val docs = Tables.documents(s, dir)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tokens = docs
        .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .where(length(col("term")) >= 2)
      val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "term")
    },

    "text_hapax" -> { (s, dir) =>
      // Vocabulary-growth census (the Heaps'-law / Zipf-tail observables
      // a corpus-curation pipeline tracks per slice: a shrinking hapax
      // share signals boilerplate/duplication, a collapsing type-token
      // ratio signals template spam): per source — token count N,
      // vocabulary V, hapax legomena V1 (frequency-1 types), dis
      // legomena V2, and the two ratios V/N and V1/V as single IEEE
      // divisions over exact counts. Same tokenizer as text_bm25. Scale:
      // one tokenize pass + two keyed aggs; the only shuffled frame is
      // the (source, term) vocabulary — sublinear in the corpus by
      // Heaps' law itself.
      val toks = Tables.documents(s, dir).select(col("source"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .where(length(col("term")) >= 2)
      toks.groupBy("source", "term").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("dis"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          col("hapax"), col("dis"),
          (col("vocab").cast("double") / col("n_tokens").cast("double")).as("ttr"),
          (col("hapax").cast("double") / col("vocab").cast("double")).as("hapax_share"))
        .orderBy("source")
    },

    "text_bm25" -> { (s, dir) =>
      // Okapi BM25 retrieval scoring (Robertson et al., TREC-3; the
      // Lucene/Elasticsearch default) — the ranking member of the text
      // tier beside text_tfidf's raw tf·(N/df): saturated term frequency
      // (k1 = 6/5) + document-length normalization (b = 3/4). Both
      // rational constants fold the whole per-(doc, term) score into ONE
      // exact integer fraction — score = idf · (k1+1)·tf / (tf +
      // k1·(1 − b + b·len·D/S)) = [44·S·tf·(2N − 2df + 1)] /
      // [(20·S·tf + 6·S + 18·len·D)·(2df + 1)] — finished by a single
      // IEEE division (DECIMAL(38,0) numerators; DuckDB replays via
      // HUGEINT). The IDF is the rational Robertson–Sparck-Jones kernel
      // argument (N − df + ½)/(df + ½) — the DEFINED approximation of
      // the log IDF (ln is not correctly-rounded-guaranteed across
      // engines; the benford lesson applied to a data-dependent
      // constant), monotone in df so per-term ranking is preserved.
      // Scale shape: the term filter lands IMMEDIATELY after tokenize,
      // so tf/df aggregate only query-term postings; doc lengths are one
      // keyed agg; (S, D) is a one-row broadcast; the per-doc sum over
      // ≤3 matched terms is a fixed-textual-order pivot (no FP
      // reassociation); top-15 plans as TakeOrderedAndProject.
      val qterms = Seq("filter", "merge", "vector") // alphabetical
      val toks = Tables.documents(s, dir).select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .where(length(col("term")) >= 2)
      val dlen = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val glob = dlen.agg(sum("len").as("s_tot"), count(lit(1)).as("d_tot"))
      val tf = toks.where(col("term").isin(qterms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val scored = tf.join(dfreq, "term").join(dlen, "doc_id")
        .crossJoin(broadcast(glob))
        .withColumn("sc",
          (d38(lit(44L)) * d38(col("s_tot")) * d38(col("tf"))
            * d38(lit(2L) * col("d_tot") - lit(2L) * col("df") + lit(1L)))
            .cast("double")
          / ((d38(lit(20L)) * d38(col("s_tot")) * d38(col("tf"))
              + d38(lit(6L)) * d38(col("s_tot"))
              + d38(lit(18L)) * d38(col("len")) * d38(col("d_tot")))
            * d38(lit(2L) * col("df") + lit(1L))).cast("double"))
      val perDoc = scored.groupBy("doc_id")
        .agg(sum(when(col("term") === qterms(0), col("sc"))).as("s1"),
          sum(when(col("term") === qterms(1), col("sc"))).as("s2"),
          sum(when(col("term") === qterms(2), col("sc"))).as("s3"),
          count(lit(1)).as("n_terms_matched"))
        .withColumn("score", coalesce(col("s1"), lit(0.0))
          + coalesce(col("s2"), lit(0.0)) + coalesce(col("s3"), lit(0.0)))
      perDoc.orderBy(col("score").desc, col("doc_id")).limit(15)
        .select(col("doc_id"), col("n_terms_matched"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    },

    "sample_split" -> { (s, dir) =>
      // reproducible hash-based train/valid/test assignment (randomSplit
      // reassigns rows under repartition/backfill -> eval leakage)
      import graft.operators.Sampling
      Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        Sampling.hashBucket(col("doc_id"), 100).as("bucket"),
        Sampling.assignSplit(col("doc_id"),
          Seq(("train", 80), ("valid", 90), ("test", 100))).as("split"))
        .orderBy("doc_id")
    },

    "sample_split_grouped" -> { (s, dir) =>
      // Leakage-safe split: hash-assign by near-dup CLUSTER, not by
      // document — a near-duplicate of a training doc landing in test is
      // evaluation leakage, the exact failure mode document-keyed hash
      // splits (sample_split) cannot prevent. Cluster ids come from the
      // same LSH pair graph + CC as dedup_survivors; singletons
      // split by their own id, so assignment matches sample_split
      // wherever no near-dup exists. Shape at 100 TB: clusters live on
      // the pair graph only; the corpus pays one keyed left join plus a
      // map-only md5 bucket — no extra corpus shuffle.
      import graft.operators.Sampling
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("v").as("doc_id"), col("cluster").as("cl"))
      docs.join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cl"), col("doc_id")))
        .select(col("doc_id"), col("cluster_id"),
          Sampling.hashBucket(col("cluster_id"), 100).as("bucket"),
          Sampling.assignSplit(col("cluster_id"),
            Seq(("train", 80), ("valid", 90), ("test", 100))).as("split"))
        .orderBy("doc_id")
    },

    "sample_pps" -> { (s, dir) =>
      // Systematic probability-proportional-to-size sampling (Madow
      // 1949) — the weighted-sampling member of the sampling tier: k
      // ticks evenly spaced along the cumulative weight axis, row i
      // selected iff its weight interval (cum−w, cum] contains a tick —
      // P(select) ∝ weight, ≤ k rows out (a row heavier than W/k spans
      // several ticks and appears once), fully deterministic (no
      // RNG, no float: the crossing test is the pure-integer
      // cum·k div W > (cum−w)·k div W with cum·k ≤ ~2e16 at sf10, inside
      // int64 to ~sf10³). The global cumulative weight uses NO
      // unpartitioned window: operators/PrefixSum's two-phase bucket
      // scan (keyed agg → metadata-scale bucket prefix driver-side →
      // broadcast offsets → window PARTITIONED by bucket). Weights =
      // order totalprice cents over the orderkey total order; output =
      // the k selected rows with their tick indexes, hash-gated
      // row-for-row (the oracle computes the same crossing from a plain
      // window cumsum — a different prefix-sum construction, so the
      // bucket decomposition itself is what the gate checks).
      val k = 200L
      val w = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("ok"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)").as("wt"))
      val cum = graft.operators.PrefixSum.inclusive(w, "ok", "wt", 65536L)
      val tot = cum.agg(max("cum").as("tw"))
      cum.crossJoin(broadcast(tot))
        .withColumn("tick_hi", expr(s"(cum * $k) div tw"))
        .withColumn("tick_lo", expr(s"((cum - wt) * $k) div tw"))
        .where(col("tick_hi") > col("tick_lo"))
        .select(col("ok"), col("wt"), col("cum"), col("tick_hi").as("tick"))
        .orderBy("ok")
    },

    "sample_neyman" -> { (s, dir) =>
      // Neyman-optimal stratified sample allocation (Neyman 1934: for a
      // fixed total budget, minimum-variance allocation gives stratum h
      // n_h ∝ N_h·S_h — big AND volatile strata get the samples; the
      // design every survey/eval-set builder should use instead of
      // proportional allocation). Strata = the FIXED 5-type event
      // domain, so the whole computation pivots into ONE ROW of 15
      // conditional-sum cells (the events_stationary discipline): per
      // stratum N, Σx, Σx² over cents — variance numerator N·Σx² − (Σx)²
      // EXACT via the DECIMAL(19,0)×(19,0)→(38,0) promotion (peak
      // ~3e23 at sf10, past int64; the Boosting d19 trick), then S_h =
      // one sqrt of one division, w_h = N_h·S_h, W folded in fixed type
      // order, and the 1000-budget allocation floor(1000·w_h/W) — every
      // double a fixed replayable IEEE sequence, every integer exact.
      // ONE corpus pass; everything after is column arithmetic.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("cast(cast(value as decimal(12,2)) * 100 as bigint)").as("cents"))
      def d19(c: Column) = c.cast("decimal(19,0)")
      val cells = types.flatMap(t => Seq(
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"),
        sum(when(col("event_type") === t, col("cents")).otherwise(0L)).as(s"sx_$t"),
        sum(when(col("event_type") === t, col("cents") * col("cents"))
          .otherwise(0L)).as(s"sq_$t")))
      val one = ev.agg(cells.head, cells.tail: _*)
      val withW = types.foldLeft(one) { (df, t) =>
        df.withColumn(s"s_$t", sqrt(
            (d19(col(s"n_$t")) * d19(col(s"sq_$t"))
              - d19(col(s"sx_$t")) * d19(col(s"sx_$t"))).cast("double")
              / (col(s"n_$t") * col(s"n_$t")).cast("double")))
          .withColumn(s"w_$t", col(s"n_$t").cast("double") * col(s"s_$t"))
      }
      val withAll = withW.withColumn("w_all",
        types.map(t => col(s"w_$t")).reduce(_ + _))
      withAll.select(explode(array(types.map(t => struct(
          lit(t).as("event_type"), col(s"n_$t").as("n_rows"),
          col(s"sx_$t").as("sum_cents"), col(s"s_$t").as("s_dev"),
          floor(lit(1000.0) * col(s"w_$t") / col("w_all")).cast("long")
            .as("alloc"))): _*)).as("r"))
        .select(col("r.event_type"), col("r.n_rows"), col("r.sum_cents"),
          col("r.s_dev"), col("r.alloc"))
        .orderBy("event_type")
    },

    "sample_importance" -> { (s, dir) =>
      // DSIR-style importance scoring (Xie et al. 2023, "Data Selection
      // for Language Models via Importance Resampling"): score every doc
      // by how much its hashed-n-gram feature distribution looks like a
      // TARGET slice (here lang='en') vs the raw corpus, keep positive-
      // affinity docs. Hashing trick: word bigrams → md5 → 4096 buckets;
      // add-one-smoothed bucket probabilities as SCALED INTEGERS
      // (floor(1e9·(c+1)/(N+V)) — the same hash-exact convention as
      // text_lm_score, where float log-ratios could not be replayed
      // cross-engine; the per-feature score is the smoothed target-minus-
      // source probability difference; keep = doc score above the CORPUS
      // MEAN by exact BIGINT cross-multiplication (score·n > Σscores, the
      // text_lm_score convention — an absolute >0 cut is vacuously false
      // here because add-one smoothing over the smaller target sample
      // shifts every high-count bucket's pt below ps). Shape at
      // 100 TB: the feature frame is persisted NARROW (doc_id, bucket —
      // never text) and feeds three branches (target census, corpus
      // census, per-doc rollup); both censuses collapse to V=4096 rows
      // that broadcast back into the map-side probe; the corpus pays one
      // explode + one keyed agg. Bigram importance estimators are
      // V-bucket multinomials exactly as in the paper — V dials memory,
      // not shuffle width.
      import graft.operators.Sampling
      val V = 4096
      val docs = Tables.documents(s, dir)
      val feats = docs
        .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))")).as("bigram"))
        .select(col("doc_id"), col("lang"), Sampling.hashBucket(col("bigram"), V).as("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tgt = feats.where(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
      val srcC = feats.groupBy("b").agg(count(lit(1)).as("cs"))
      // bounded driver fetch: two longs in ONE job over the persisted
      // narrow frame (the SE corpus-count convention)
      val nRow = feats.agg(count(lit(1)), count(when(col("lang") === "en", 1))).head()
      val ns = nRow.getLong(0)
      val nt = nRow.getLong(1)
      val scores = srcC.join(tgt, Seq("b"), "left")
        .select(col("b"),
          (expr(s"(1000000000L * (coalesce(ct, 0L) + 1)) div ${nt + V}") -
            expr(s"(1000000000L * (cs + 1)) div ${ns + V}")).as("fs"))
      val perDoc = feats.join(broadcast(scores), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum("fs").as("score"))
      val scored = docs.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_feats"), lit(0L)).as("n_feats"),
          coalesce(col("score"), lit(0L)).as("score"))
      val stats = scored.agg(sum("score").as("tot"), count(lit(1)).as("n"))
      val out = scored.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("n_feats"), col("score"),
          (col("score") * col("n") > col("tot")).as("keep"))
        .orderBy("doc_id")
      graft.operators.CacheScope.unpersistAfterUse(out, feats)
    },

    "ml_naive_bayes" -> { (s, dir) =>
      // Hashed two-class naive-Bayes quality classifier, train→predict→
      // confusion matrix (the fastText-classifier-gate role in
      // GPT-3/CCNet-style curation: train a cheap linear model on labeled
      // reference data and gate the corpus by its predictions). The
      // corpus's own `lang` labels carry ZERO lexical signal (measured:
      // every token's per-lang counts are proportional to class size —
      // the synthetic "languages" share one vocabulary), so no classifier
      // can learn them; the honest demo is the production task itself —
      // spam/clean gating — with the spam class PLANTED deterministically
      // (odd doc_ids get one of three spam tails appended; the repo-wide
      // planted-lane convention, as in text_urls/audit_constraints) so
      // both engines replay corpus, model, and predictions
      // bit-identically. Decision rule: Σ_features [L_spam(b) −
      // L_clean(b)] > 0, with L_c = floor(1e9·(c(b,cls)+1)/(n_cls+V)) as
      // SCALED INTEGERS (the text_lm_score/DSIR convention; float
      // log-likelihood ratios could not be replayed cross-engine). The
      // DIFFERENCE form is load-bearing: summing one class's smoothed
      // likelihoods alone ranks docs by how template-typical they are and
      // the majority class wins every argmax (measured, all-one-class
      // confusion matrix); differencing cancels the shared-template mass
      // so only class-characteristic bigrams vote. Features: hashed word
      // bigrams (md5 → 4096 buckets). Split: train = doc_id % 3 ≠ 0,
      // test = rest. Measured at sf0.01: 83/83 spam recall, 67/84 clean
      // (the 17 false flags are short docs whose template bigrams hash
      // into spam-leaning buckets — V=4096 collision noise, the accuracy
      // cost of the hashing trick the DSIR paper accepts too). (Both
      // classes land in both splits; variant index is
      // doc_id div 3 so every tail variant appears on BOTH sides of the
      // doc_id % 3 split — a %-6-derived variant was perfectly
      // anti-correlated with the split and put the test fold's tail
      // variant nowhere in training: measured 9/83 spam recall, the
      // train/test-leakage mirror image).
      // Shape at 100 TB: the feature frame is persisted NARROW (doc_id,
      // label, bucket — never text); training collapses to ONE keyed agg
      // of V conditional-count rows (map-side partials); scoring is ONE
      // keyed left join of test features against the V-row model (AQE
      // broadcasts it) + one per-doc agg — no window, no cross join. V
      // dials model memory, never shuffle width. The (n_spam, n_clean)
      // scalars are a bounded driver fetch — one job over the persisted
      // narrow frame (the SE corpus-count convention).
      import graft.operators.Sampling
      val V = 4096
      val spamTail = expr(
        """case cast((doc_id div 3) % 3 as int)
          |  when 0 then ' win a free prize now click here for your fast easy reward bonus'
          |  when 1 then ' cheap deals buy now limited offer today only save big act fast'
          |  else ' click this link to win money guaranteed instant payout no risk'
          |end""".stripMargin)
      val labeled = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 1, lit("spam")).otherwise(lit("clean")).as("label"),
          when(col("doc_id") % 2 === 1, concat(col("text"), spamTail))
            .otherwise(col("text")).as("text"))
      val feats = labeled
        .select(col("doc_id"), col("label"), split(lower(col("text")), " ").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), col("label"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))")).as("bigram"))
        .select(col("doc_id"), col("label"), Sampling.hashBucket(col("bigram"), V).as("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val train = feats.where(col("doc_id") % 3 =!= 0)
      val model = train.groupBy(col("b")).agg(
        sum(when(col("label") === "spam", 1L).otherwise(0L)).as("cbs"),
        sum(when(col("label") === "clean", 1L).otherwise(0L)).as("cbc"))
      val hd = train.agg(
        sum(when(col("label") === "spam", 1L).otherwise(0L)),
        sum(when(col("label") === "clean", 1L).otherwise(0L))).head()
      val nS = hd.getLong(0)
      val nC = hd.getLong(1)
      val scored = feats.where(col("doc_id") % 3 === 0)
        .join(model, Seq("b"), "left")
        .withColumn("d",
          expr(s"(1000000000L * (coalesce(cbs, 0L) + 1)) div (${nS + V})") -
            expr(s"(1000000000L * (coalesce(cbc, 0L) + 1)) div (${nC + V})"))
        .groupBy(col("doc_id"), col("label").as("actual_label"))
        .agg(sum(col("d")).as("score"))
      val confusion = scored
        .withColumn("predicted_label",
          when(col("score") > 0, lit("spam")).otherwise(lit("clean")))
        .groupBy("actual_label", "predicted_label")
        .agg(count(lit(1)).as("n"))
        .orderBy("actual_label", "predicted_label")
      graft.operators.CacheScope.unpersistAfterUse(confusion, feats)
    },

    "sample_reservoir" -> { (s, dir) =>
      // deterministic k-per-stratum uniform sample: hash-ranked, so the
      // same rows are sampled under any partitioning/backfill (a running
      // reservoir depends on encounter order). WindowGroupLimit keeps the
      // per-task top-k before the exchange.
      import graft.operators.Sampling
      Sampling.reservoirPerKey(Tables.documents(s, dir),
        Seq("source"), "doc_id", k = 10, salt = "rsv1")
        .select(col("source"), col("rk"), col("doc_id"), col("h"))
        .orderBy("source", "rk")
    },

    "sample_balanced" -> { (s, dir) =>
      // Class-balanced downsampling — every class capped at the MINORITY
      // class's count, selection = the `target` smallest (hash, id) per
      // class so membership is deterministic under any partitioning or
      // backfill (the sample_split/sample_reservoir hash discipline).
      // The naive per-class rank is a window with |classes| partitions —
      // single-task sorts of n/|classes| rows. Instead the distributed
      // HISTOGRAM SELECTION shape (the reshape_quantile_norm r9
      // re-plan): bucket the 60-bit hash's top 16 bits → per
      // (class, bucket) counts in ONE keyed agg; the |classes|×65536
      // metadata frame locates each class's boundary bucket and residual
      // quota; rows BELOW the boundary keep map-side, and only the
      // ~n/65536-row boundary slice is ranked. Census gates exact
      // MEMBERSHIP, not just counts: per class n_kept (= target),
      // Σ event_id and bit_xor of the kept hashes.
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"))
        .withColumn("h", Tf.hash60(concat(lit("bal-"), col("event_id").cast("string"))))
      val counts = ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      val target = counts.agg(min("cnt").as("target"))
      val bucketed = ev.withColumn("bucket", expr("h div 17592186044416")) // 2^44
      val hist = bucketed.groupBy("event_type", "bucket").agg(count(lit(1)).as("bc"))
      val wb = Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val boundary = hist
        .withColumn("below", coalesce(sum("bc").over(wb), lit(0L)))
        .crossJoin(broadcast(target))
        .where(col("below") < col("target") &&
          col("below") + col("bc") >= col("target"))
        .select(col("event_type"), col("bucket").as("bb"),
          (col("target") - col("below")).as("quota"))
      val withB = bucketed.join(broadcast(boundary), Seq("event_type"))
      val keepLow = withB.where(col("bucket") < col("bb"))
        .select("event_type", "event_id", "h")
      val wr = Window.partitionBy("event_type").orderBy(col("h"), col("event_id"))
      val keepEdge = withB.where(col("bucket") === col("bb"))
        .withColumn("rk", row_number().over(wr))
        .where(col("rk") <= col("quota"))
        .select("event_type", "event_id", "h")
      keepLow.union(keepEdge)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"),
          sum("event_id").as("sum_ids"),
          expr("bit_xor(h)").as("xor_h"))
        .orderBy("event_type")
    },

    "text_repetition" -> { (s, dir) =>
      // Gopher-style repetition filters, entirely map-only: the most
      // frequent bigram's share (max multiplicity — no explode/groupBy
      // shuffle), duplicate trigram share, and the longest consecutive
      // same-token run. All four signals come from ONE native pass over the
      // text (RepetitionStats kernel) — the prior interpreted formulation
      // (two aggregate() HOF folds + interpreted array_sort over per-doc
      // bigram arrays) was the battery's slowest query by 4x; the kernel is
      // the same swap ShingleHashes made for the dedup sketches.
      import graft.expressions.{RepetitionStats, Sketch}
      val nTok = element_at(col("rs"), 1)
      Tables.documents(s, dir)
        .withColumn("rs", Sketch.column(RepetitionStats(Sketch.expr(col("text")))))
        .select(
          col("doc_id"),
          nTok.as("n_tokens"),
          element_at(col("rs"), 2).as("top_bigram_count"),
          when(nTok >= 2,
            element_at(col("rs"), 2).cast("double") / (nTok - 1))
            .as("top_bigram_frac"),
          when(nTok >= 3,
            element_at(col("rs"), 3).cast("double") / (nTok - 2))
            .as("dup_trigram_frac"),
          element_at(col("rs"), 4).as("max_token_run"))
        .orderBy("doc_id")
    },

    "text_chunks" -> { (s, dir) =>
      // content-defined chunking: rolling-hash boundaries (ChunkBoundaries
      // kernel), chunk fingerprints; boundary arithmetic is SQL-replayable
      Dedup.contentChunks(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx")
    },

    "dedup_chunks" -> { (s, dir) =>
      // sub-document exact dedup: chunk fingerprints duplicated across docs
      Dedup.duplicatedChunks(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("chunk_md5")
    },

    "text_chunk_windows" -> { (s, dir) =>
      // Sliding token-window chunking with overlap — the RAG/embedding
      // chunker (fixed window W=32 tokens, stride S=24, so consecutive
      // chunks share W−S=8 boundary tokens and no sentence straddling a
      // cut is lost to both chunks). The content-defined chunker
      // (text_chunks) splits where the TEXT says so — stable under
      // insertion, the dedup-friendly choice; this one splits where the
      // TOKEN BUDGET says so — fixed-size pieces with guaranteed overlap,
      // the retrieval-friendly choice. Chunk k covers tokens
      // [k·S, k·S+W); count = 1 if n ≤ W else ceil((n−W)/S)+1 (the last
      // chunk may run short, never empty). Entirely MAP-ONLY: one split,
      // one bounded sequence-explode, one slice+join per row — no
      // shuffle, no state; at 100 TB this is the ideal operator shape
      // (pure narrow pipeline, trivially whole-stage-codegen'd).
      val W = 32
      val S = 24
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("k", explode(sequence(lit(0L),
          when(col("n") <= W, lit(0L))
            .otherwise(expr(s"(n - $W + ${S - 1}) div $S")))))
        .select(col("doc_id"), col("k").as("chunk_idx"),
          (col("k") * S).as("tok_start"),
          expr(s"size(slice(toks, cast(k * $S + 1 as int), $W))").cast("long")
            .as("n_tokens"),
          expr(s"array_join(slice(toks, cast(k * $S + 1 as int), $W), ' ')")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    },

    "pack_sequences" -> { (s, dir) =>
      // training-batch assembly: algebraic prefix sum (per-length suffix
      // totals broadcast + rank within length) packs docs into 2048-token
      // batches over a deterministic (length desc, id) order — no
      // unpartitioned window, no partitioning-dependent state
      val withLen = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Packing.packByTokenBudget(withLen, "doc_id", "n_tokens", 2048L)
        .orderBy("doc_id")
    },

    "pipeline_curate_incremental" -> { (s, dir) =>
      // The curation funnel at STEADY STATE — what actually runs on every
      // new crawl batch once a corpus exists (pipeline_curate is the
      // bootstrap; this is the daily loop): gate the delta batch map-only
      // (language-ID + quality), dedup it against the EXISTING corpus via
      // the sharded-Bloom prefilter + exact anti-join over maybe-hits
      // (the dedup_incremental lane — the base corpus is touched only
      // through its fingerprint column and the fixed-size filter table,
      // never rescanned as text), dedup within the batch (keyed
      // fingerprint window), and assign reproducible splits. Cross-batch
      // duplicates are PLANTED (1-in-10 delta docs copy their even
      // neighbor's text, the dedup_incremental plant) so the cross-batch
      // lane is non-vacuous at any SF. Shape at 100 TB: the delta pays
      // two map-only enrichment passes + one keyed probe + one keyed
      // window; base-side cost is one fingerprint scan + |shards|
      // fixed-size filters (in production the filter table is PERSISTED
      // and OR-merged per batch — mergeShardedFilters — so even that
      // scan amortizes away).
      import graft.expressions.{Sketch, TokenStats}
      import graft.operators.{IncrementalDedup, Sampling}
      def hits(stops: Seq[String]) = element_at(
        Sketch.column(TokenStats(Sketch.expr(col("text")), stops, lowercase = true)), 3)
      val nTok = element_at(col("st"), 1)
      val nUniq = element_at(col("st"), 2)
      val stopHits = element_at(col("st"), 3)
      val score = lit(0.4) * (nUniq / nTok) + lit(0.4) * (lit(1.0) - stopHits / nTok) +
        lit(0.2) * least(lit(1.0), nTok / lit(200.0))
      val docs = Tables.documents(s, dir)
      val corpusRaw = docs.where(col("doc_id") % 2 === 0).select("doc_id", "text")
      val delta = docs.where(col("doc_id") % 2 === 1).select("doc_id", "text")
        .join(corpusRaw.select(col("doc_id").as("nb_id"), col("text").as("nb_text")),
          col("nb_id") === col("doc_id") - 1, "left")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 5 && col("nb_id").isNotNull, col("nb_text"))
            .otherwise(col("text")).as("text"))
      val gated = delta
        .withColumn("st", Sketch.column(
          TokenStats(Sketch.expr(col("text")), Tf.EnStops, lowercase = true)))
        .withColumn("lang_pred",
          Tf.langId(hits(Tf.EnStops), hits(Tf.EsStops), hits(Tf.DeStops)))
        .withColumn("quality", score)
        .where(col("lang_pred") === "en" && col("quality") >= 0.6)
        .withColumn("fp", Tf.fingerprintHex(col("text")))
      val baseFp = corpusRaw.select(Tf.fingerprintHex(col("text")).as("fp"))
      val bitsPerShard = 1 << 16
      val n = corpusRaw.count() // bounded driver fetch (shard sizing, SE convention)
      val numShards = math.max(4L, (8L * n + bitsPerShard - 1) / bitsPerShard).toInt
      val fresh = IncrementalDedup.newRowsSharded(
        gated.select("doc_id", "quality", "fp"), baseFp, "fp",
        numShards, bitsPerShard, numHashes = 6)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      fresh
        .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("doc_id"), col("quality"),
          Sampling.assignSplit(col("doc_id"),
            Seq(("train", 80), ("valid", 90), ("test", 100))).as("split"))
        .orderBy("doc_id")
    },

    "pipeline_curate" -> { (s, dir) =>
      // the full curation funnel as ONE query: language-ID -> quality gate
      // -> exact near-dup removal (normalized fingerprint, min-id survivor)
      // -> reproducible split assignment. Shape at 100 TB: three map-only
      // enrichments, one keyed window on the fingerprint, zero joins.
      import graft.expressions.{Sketch, TokenStats}
      import graft.operators.Sampling
      def hits(stops: Seq[String]) = element_at(
        Sketch.column(TokenStats(Sketch.expr(col("text")), stops, lowercase = true)), 3)
      val nTok = element_at(col("st"), 1)
      val nUniq = element_at(col("st"), 2)
      val stopHits = element_at(col("st"), 3)
      val score = lit(0.4) * (nUniq / nTok) + lit(0.4) * (lit(1.0) - stopHits / nTok) +
        lit(0.2) * least(lit(1.0), nTok / lit(200.0))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      Tables.documents(s, dir)
        .withColumn("st", Sketch.column(
          TokenStats(Sketch.expr(col("text")), Tf.EnStops, lowercase = true)))
        .withColumn("lang_pred", Tf.langId(hits(Tf.EnStops), hits(Tf.EsStops), hits(Tf.DeStops)))
        .withColumn("quality", score)
        .where(col("lang_pred") === "en" && col("quality") >= 0.6)
        .withColumn("fp", Tf.fingerprintHex(col("text")))
        .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("doc_id"), col("source"), col("quality"),
          Sampling.assignSplit(col("doc_id"),
            Seq(("train", 80), ("valid", 90), ("test", 100))).as("split"))
        .orderBy("doc_id")
    },

    // ---- multimodal plumbing (#32) ----

    "multimodal_decode" -> { (s, dir) =>
      // REAL pure-JVM decode of self-describing formats (PPM P6 raster,
      // RIFF/WAV PCM16) with magic-byte dispatch in mapPartitions; payload
      // bytes synthesized from row data so the oracle can replay the
      // expected header fields and features arithmetically
      import s.implicits._
      import graft.operators.MediaCodecs
      val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val bytes =
            if (id % 2 == 0) MediaCodecs.syntheticPpm(id)
            else {
              val n = (50 + id % 20).toInt
              MediaCodecs.wavEncode(
                Array.tabulate(n)(i => (((id * 31 + i * 17) % 65536) - 32768).toShort),
                16000)
            }
          (id, bytes)
        }
      MediaCodecs.decodeMedia(payloads).toDF().orderBy("doc_id")
    },

    "multimodal_resize" -> { (s, dir) =>
      // the resize stage: nearest-neighbor downscale of real P6 payloads
      // inside mapPartitions; output bytes compared verbatim (hex) against
      // the oracle's arithmetic reconstruction
      import s.implicits._
      import graft.operators.MediaCodecs
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { id =>
          val src = MediaCodecs.syntheticPpm(id)
          val w2 = (1 + id % 4).toInt
          val h2 = (1 + id % 3).toInt
          MediaCodecs.ppmResizeNearest(src, w2, h2)
            .map(b => (id, w2.toLong, h2.toLong, b))
        })
        .toDF("doc_id", "new_w", "new_h", "resized")
        .select(col("doc_id"), col("new_w"), col("new_h"),
          octet_length(col("resized")).cast("long").as("out_len"),
          hex(col("resized")).as("out_hex"))
        .orderBy("doc_id")
    },

    "multimodal_qoi" -> { (s, dir) =>
      // QOI (qoiformat.org) round trip: pixels synthesized from row data
      // with SQL-replayable arithmetic (constant rows every y%3==0 exercise
      // RUN/INDEX ops; the rest DIFF/LUMA/RGB), encoded with the real op
      // set, decoded back in mapPartitions. The oracle never sees QOI — it
      // recomputes the planted pixel function directly, so a decode bug
      // (wrong op semantics, run overrun, index hash) breaks the hash.
      import s.implicits._
      import graft.operators.MediaCodecs
      val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val w = (2 + id % 5).toInt
        val h = (2 + id % 4).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            if (y % 3 == 0) {
              rgb(i) = ((id * 5) % 256).toByte
              rgb(i + 1) = ((id * 11) % 256).toByte
              rgb(i + 2) = ((id * 13) % 256).toByte
            } else {
              rgb(i) = ((id * 7 + x * 13 + y * 31) % 256).toByte
              rgb(i + 1) = ((id * 3 + x * 17 + y * 7) % 256).toByte
              rgb(i + 2) = ((id * 19 + x * 5 + y * 23) % 256).toByte
            }
            x += 1
          }
          y += 1
        }
        (id, MediaCodecs.qoiEncode(w, h, rgb))
      }
      MediaCodecs.decodeMedia(payloads).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    },

    "multimodal_gif" -> { (s, dir) =>
      // GIF89a round trip — the last major pre-DCT raster format in the
      // codec tier (PPM/BMP/QOI/PNG/WAV), and the only one whose
      // compression is variable-width LZW: clear/EOI codes, growing
      // dictionary, LSB-first packing, width bumps at powers of two
      // (where the decoder must bump one code EARLY — its table lags the
      // encoder's by exactly one entry — a real spec subtlety the
      // 128×200-noise spec case crosses repeatedly), 4096-cap mid-stream
      // clear. Pixels are planted with SQL-replayable arithmetic
      // (even rows constant → LZW runs; odd rows varying), encoded with
      // the real encoder, decoded in mapPartitions; every doc_id % 89 ==
      // 0 payload is truncated so the dead-letter lane is non-vacuous.
      // The oracle never sees GIF bytes — it recomputes dims and
      // palette-resolved channel means arithmetically.
      import s.implicits._
      import graft.operators.MediaCodecs
      val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val w = (2 + id % 5).toInt
        val h = (2 + id % 4).toInt
        val pal = Array.tabulate(4)(j => (((id * 5 + j * 40) % 256).toInt,
          ((id * 7 + j * 50) % 256).toInt, ((id * 11 + j * 60) % 256).toInt))
        val idx = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          (if (y % 2 == 0) (id + y) % 4 else (id + x * 3 + y * 5) % 4).toByte
        }
        val full = MediaCodecs.gifEncode(w, h, pal, idx)
        (id, if (id % 89 == 0) full.take(16) else full)
      }
      MediaCodecs.decodeMedia(payloads).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    },

    "convert_avro_binary" -> { (s, dir) =>
      // Avro BINARY record decode (the Kafka wire format Debezium
      // deployments actually ship where the reference consumes the JSON
      // rendering of the same records): zigzag varint long/int, 1-byte
      // bool, 8-byte LE IEEE double, zigzag-length-prefixed UTF-8 string,
      // fields back-to-back in writer-schema order — decoded by the
      // strict schema-driven reader in functions/AvroBinary.scala
      // (varint capped at 10 bytes, truncated input AND trailing bytes
      // dead-letter, the media-codec contract). Records are synthesized
      // from row data with SQL-replayable arithmetic; every doc_id % 97
      // == 0 payload is truncated to 3 bytes to keep the dead-letter
      // lane non-vacuous. The oracle recomputes the FIELDS arithmetically
      // and the BYTE LENGTH from the varint-group formula (1 + one per
      // 7-bit threshold) — so a wrong varint width, a missed zigzag, or
      // an accepted-trailing-bytes bug all break the hash. Map-only:
      // encode+decode run inside one narrow map, no shuffle.
      import s.implicits._
      import graft.functions.AvroBinary
      import graft.functions.AvroBinary._
      val schema = Seq[AType](ALong, AInt, ABool, ADouble, AString)
      Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val full = AvroBinary.encodeRecord(Seq(
          (ALong, id * 7 - 3), (AInt, (id % 500 - 250).toInt),
          (ABool, id % 2 == 1), (ADouble, (id % 1000).toDouble / 8.0),
          (AString, "u" + (id % 100))))
        val payload = if (id % 97 == 0) full.take(3) else full
        AvroBinary.decodeRecord(schema, payload) match {
          case Some(Seq(l: Long, i: Int, b: Boolean, d: Double, str: String)) =>
            (id, true, Some(l), Some(i.toLong), Some(b), Some(d), Some(str),
              payload.length.toLong)
          case _ =>
            (id, false, None: Option[Long], None: Option[Long],
              None: Option[Boolean], None: Option[Double], None: Option[String],
              payload.length.toLong)
        }
        // "decoded", not "ok": the bench's ASSERT_OK mode requires a column
        // named `ok` to be all-true, and the planted dead-letter lane is
        // SUPPOSED to be false for 1-in-97 rows
      }.toDF("doc_id", "decoded", "f_long", "f_int", "f_bool", "f_double", "f_str",
          "byte_len")
        .orderBy("doc_id")
    },

    "convert_proto_binary" -> { (s, dir) =>
      // Protobuf wire-format decode — structurally the OPPOSITE contract
      // of convert_avro_binary, and the pair covers both Kafka payload
      // families: Avro is schema-ordered fields with no framing, proto is
      // self-framing (field_number << 3 | wire_type) tags that arrive in
      // any order and may include fields the reader has never heard of —
      // which a correct decoder SKIPS by wire type (forward
      // compatibility), not rejects. The synthesized records emit fields
      // OUT of numeric order (3,1,9,4,2,5) and plant an UNKNOWN field 9
      // in every record, so a decoder that assumes order or rejects
      // unknowns fails every row; 1-in-89 payloads truncate to 2 bytes
      // for the dead-letter lane. The oracle recomputes fields
      // arithmetically and the byte length from the tag+varint width
      // formula — the skipped unknown field's bytes INCLUDED, so a
      // decoder that drops them from accounting breaks the hash too.
      // Map-only, like every codec lane.
      import s.implicits._
      import graft.functions.ProtoBinary
      import graft.functions.ProtoBinary._
      val schema = Map(1 -> (PInt64: PType), 2 -> (PSint64: PType),
        3 -> (PString: PType), 4 -> (PDouble: PType), 5 -> (PBool: PType))
      Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val full = ProtoBinary.encode(Seq(
          (3, PString, "p" + (id % 50)),
          (1, PInt64, id * 3 + 1),
          (9, PInt64, id % 128), // unknown to the reader: must be skipped
          (4, PDouble, (id % 1000).toDouble / 4.0),
          (2, PSint64, id % 400 - 200),
          (5, PBool, id % 3 == 0)))
        val payload = if (id % 89 == 0) full.take(2) else full
        ProtoBinary.decode(schema, payload) match {
          case Some(m) =>
            (id, true, m.get(1).map(_.asInstanceOf[Long]),
              m.get(2).map(_.asInstanceOf[Long]),
              m.get(3).map(_.asInstanceOf[String]),
              m.get(4).map(_.asInstanceOf[Double]),
              m.get(5).map(_.asInstanceOf[Boolean]),
              payload.length.toLong)
          case None =>
            (id, false, None: Option[Long], None: Option[Long],
              None: Option[String], None: Option[Double], None: Option[Boolean],
              payload.length.toLong)
        }
      }.toDF("doc_id", "decoded", "f_id", "f_delta", "f_name", "f_score",
          "f_flag", "byte_len")
        .orderBy("doc_id")
    },

    "multimodal_png" -> { (s, dir) =>
      // PNG round trip (RFC 2083, the ubiquitous raster format a bare JVM
      // decodes EXACTLY — Inflater + CRC32 ship in java.util.zip): pixels
      // synthesized from row data with SQL-replayable arithmetic, encoded
      // with the row filter CYCLING through all five types (y % 5; h ≥ 5
      // so every image exercises None/Sub/Up/Average/Paeth), decoded back
      // in mapPartitions with full CRC verification and per-row
      // unfiltering. The oracle never sees PNG — it recomputes the
      // planted pixel function directly, so a decode bug (wrong filter
      // reconstruction, CRC skip, inflate mishandling) breaks the hash.
      import s.implicits._
      import graft.operators.MediaCodecs
      val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long].map { id =>
        val w = (3 + id % 6).toInt
        val h = (5 + id % 4).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            rgb(i) = ((id * 3 + x * 7 + y * 11) % 256).toByte
            rgb(i + 1) = ((id * 5 + x * 13 + y * 3) % 256).toByte
            rgb(i + 2) = ((id * 7 + x * 5 + y * 17) % 256).toByte
            x += 1
          }
          y += 1
        }
        (id, MediaCodecs.pngEncode(w, h, rgb))
      }
      MediaCodecs.decodeMedia(payloads).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    },

    "multimodal_meta" -> { (s, dir) =>
      // Binary-column plumbing: payload as bytes + typed metadata + frame
      // sampling. The "decode" is a deterministic stub (md5-derived fake
      // dimensions) — the real impl would be a vectorized UDF over the
      // payload; the schema/partitioning/batch shape here is the real thing.
      val h60 = Tf.hash60(col("text"))
      Tables.documents(s, dir)
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("byte_len", octet_length(col("payload")).cast("long"))
        .withColumn("sha_hex", sha2(col("payload"), 256))
        .withColumn("fake_w", (lit(1L) + pmod(h60, lit(640L))).as("fake_w"))
        .withColumn("fake_h", (lit(1L) + pmod(expr(
          "cast(conv(substring(md5(text),1,15),16,10) as bigint) div 640"), lit(480L))))
        .withColumn("frame_idx", // gated: empty payload -> zero frames, not sequence(0,-1)
          explode(when(col("byte_len") > 0,
            sequence(lit(0L), expr("least(4, (byte_len + 99) div 100) - 1")))
            .otherwise(expr("array()").cast("array<bigint>"))))
        .withColumn("frame_text", expr("substring(text, cast(frame_idx*100 + 1 as int), 32)"))
        .withColumn("frame_sha", sha2(col("frame_text").cast("binary"), 256))
        .select("doc_id", "frame_idx", "byte_len", "sha_hex", "fake_w", "fake_h",
          "frame_text", "frame_sha")
        .orderBy("doc_id", "frame_idx")
    },

    "multimodal_frames" -> { (s, dir) =>
      // §2 row 32b's own gate: the partition-batched frame-slicing path
      // (operators/Multimodal.sampleFrames) driven end-to-end — fixed-
      // stride byte offsets over an opaque binary payload, one row per
      // frame, empty payloads yielding ZERO frames (not sequence(0,-1)).
      // The oracle replays slice positions + md5 of the sliced bytes in
      // DuckDB (documents are ASCII, so byte and char offsets coincide).
      // Shape at 100 TB: map-only explode, frames bounded per doc (≤6),
      // payload bytes never shuffle — frame_bytes reduces to md5 before
      // the sort.
      import graft.operators.Multimodal
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal.sampleFrames(docs, "doc_id", "payload",
          stride = 256, maxFrames = 6, frameLen = 64)
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * 256).as("start_pos"), col("byte_len"),
          md5(col("frame_bytes")).as("frame_md5"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_idx")
    },

    "cdc_snapshot_diff" -> { (s, dir) =>
      // CDC without a log: diff two PK-keyed snapshot versions into
      // Debezium-shaped c/u/d events with before/after images — the
      // fallback capture path when no binlog/WAL is reachable, feeding the
      // same envelope/state tier as log-based CDC. v1/v2 derive from
      // `orders` by arithmetic the oracle replays: v2 drops keys ≡7 (mod
      // 10) [deletes], v1 lacks keys ≡3 (mod 10) [inserts], and v1 carries
      // a +1.00 price perturbation on keys ≡0 (mod 5) [updates]. ONE
      // full-outer PK join (unique keys — no skew; bucketed storage makes
      // it shuffle-free), null-safe per-column change detection (no row
      // digests, no stringification), unchanged rows dropped before
      // anything wide happens.
      import graft.operators.SnapshotDiff
      val orders = Tables.orders(s, dir)
      val v1 = orders.where(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_totalprice", col("o_totalprice") +
          when(col("o_orderkey") % 5 === 0, lit(1.0)).otherwise(lit(0.0)))
      val v2 = orders.where(col("o_orderkey") % 10 =!= 7)
      SnapshotDiff.diff(v1, v2, Seq("o_orderkey")).orderBy("o_orderkey")
    },

    "cdc_incremental_agg" -> { (s, dir) =>
      // Incremental view maintenance: the (priority -> count, revenue)
      // aggregate is maintained from the v1 base plus the snapshot-diff
      // event batch ALONE — the post-image table is never read. Update =
      // delete(before) + insert(after), so group-moving updates land
      // correctly; DECIMAL sums make the telescoping exact, so the
      // oracle's full recompute over v2 must match bit for bit — the hash
      // compare IS the incremental ≡ recompute equivalence proof. Deltas
      // are |batch|-sized; the merge is one outer join on the group key
      // against |groups| state rows.
      import graft.operators.{CacheScope, IncrementalAgg, SnapshotDiff}
      val orders = Tables.orders(s, dir)
      val v1 = orders.where(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_totalprice", col("o_totalprice") +
          when(col("o_orderkey") % 5 === 0, lit(1.0)).otherwise(lit(0.0)))
      val v2 = orders.where(col("o_orderkey") % 10 =!= 7)
      // both delta branches (minus/plus) read the diff — persist the event
      // batch so the PK join runs once, not per branch
      val events = SnapshotDiff.diff(v1, v2, Seq("o_orderkey")).persist()
      val base = v1.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum(dec2(col("o_totalprice"))).as("total"))
      val out = IncrementalAgg.maintain(base, events, "op",
          col("before_o_orderpriority"), col("after_o_orderpriority"),
          dec2(col("before_o_totalprice")), dec2(col("after_o_totalprice")),
          "o_orderpriority")
        .select(col("o_orderpriority"), col("cnt"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderpriority")
      CacheScope.unpersistAfterUse(out, events)
    },

    "mixture_temperature" -> { (s, dir) =>
      // Temperature-based mixture flattening (the multilingual-sampling
      // standard, mT5/XLM-R: sample sources ∝ p_s^α with α = 1/2 so
      // low-resource sources are boosted without the repeats full
      // equalization forces): target weights w_s = sqrt(n_s) feed the SAME
      // no-upsampling machinery as mixture_rebalance. Exactness trick:
      // sqrt is IEEE-correctly-rounded in both engines, but Σw over
      // sources would be ORDER-DEPENDENT double addition (the one hazard
      // mixture_rebalance's small-integer weights dodged) — so w is
      // floored onto a 2^-20 grid: each weight then has ≤32 significant
      // bits, partial sums of 15 of them need <40 < 53 bits, and the sum
      // is EXACT under any aggregation order. Keep-decision = the same
      // replayable 60-bit md5 coin; the oracle replays the exact kept-set.
      import graft.operators.{CacheScope, Mixture}
      val docs = Tables.documents(s, dir)
      val weights = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        .select(col("source"),
          (floor(sqrt(col("cnt").cast("double")) * lit(1048576.0)) / lit(1048576.0))
            .as("w"))
      val r = Mixture.rates(docs, "source", weights).persist()
      val kept = docs
        .join(broadcast(r.select(col("source"), col("keep_rate"))), Seq("source"))
        .where(Mixture.unitHash(col("doc_id").cast("string")) < col("keep_rate"))
      val keptCounts = kept.groupBy("source").agg(count(lit(1)).as("n_kept"))
      val out = r.join(keptCounts, Seq("source"), "left_outer")
        .select(col("source"), col("n_src"), col("share"), col("keep_rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
      CacheScope.unpersistAfterUse(out, r)
    },

    "events_association" -> { (s, dir) =>
      // Association rules over behavioral baskets (the Apriori/market-
      // basket core: support, confidence, lift for event-type pairs,
      // basket = the set of types a user touched in one day). Shape at
      // 100 TB: the corpus collapses FIRST to distinct (user, day, type)
      // — one keyed dedup — then pair generation is a self-join keyed on
      // the (user, day) basket id whose per-basket cost is bounded by
      // |types|² (25 here), never corpus²; supports are keyed aggs with
      // |types|-bounded output. Lift and confidence are single IEEE
      // divisions of exact BIGINTs (bit-identical cross-engine); the
      // integer support columns carry the exact evidence.
      val dayNs = 86400000000000L
      val basket = Tables.events(s, dir)
        .select(col("user_id"), expr(s"ts_ns div $dayNs").as("day"), col("event_type"))
        .distinct()
      val nB = basket.select("user_id", "day").distinct().count() // bounded driver scalar
      val singles = basket.groupBy(col("event_type")).agg(count(lit(1)).as("n_single"))
      val pairs = basket.as("a")
        .join(basket.as("b"), Seq("user_id", "day"))
        .where(col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(singles.select(col("event_type").as("type_a"), col("n_single").as("n_a")),
          Seq("type_a"))
        .join(singles.select(col("event_type").as("type_b"), col("n_single").as("n_b")),
          Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
          lit(nB).as("n_baskets"),
          (col("n_ab").cast("double") / lit(nB.toDouble)).as("support"),
          (col("n_ab").cast("double") / col("n_a")).as("confidence_a_b"),
          ((col("n_ab") * lit(nB)).cast("double") / (col("n_a") * col("n_b")))
            .as("lift"))
        .orderBy("type_a", "type_b")
    },

    "events_user_paths" -> { (s, dir) =>
      // Top event-type paths (the behavioral n-gram census product
      // analytics runs to find common journeys): each user's events in
      // (ts, event_id) order yield consecutive 3-step paths via two
      // lead() windows — ONE user-partitioned window pass, never a global
      // sort or per-user collect_list buffer — then one keyed agg to the
      // ≤|types|³ path table (125 rows here regardless of corpus size).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .where(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy("e1", "e2", "e3")
    },

    "mixture_rebalance" -> { (s, dir) =>
      // Target-mixture thinning without upsampling: weights w_s =
      // (idx mod 4)+1 over the sources, M = min_s(n_s/w_s); every row kept
      // by the replayable 60-bit md5 coin under rate_s = w_s*M/n_s (the
      // binding source keeps rate 1.0 — largest corpus with no repeats).
      // One tiny keyed agg for counts, a one-row (M, W) broadcast onto the
      // |sources|-row rate table, the rate table broadcast onto the
      // corpus, map-only filter — nothing wide shuffles. Output is the
      // per-source audit (counts before/after, share, rate); the oracle
      // replays the exact kept-SET, not just its size.
      import graft.operators.{CacheScope, Mixture}
      val docs = Tables.documents(s, dir)
      val weights = docs.select("source").distinct()
        .withColumn("w",
          (substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("double"))
      val r = Mixture.rates(docs, "source", weights).persist()
      val kept = docs
        .join(broadcast(r.select(col("source"), col("keep_rate"))), Seq("source"))
        .where(Mixture.unitHash(col("doc_id").cast("string")) < col("keep_rate"))
      val keptCounts = kept.groupBy("source").agg(count(lit(1)).as("n_kept"))
      val out = r.join(keptCounts, Seq("source"), "left_outer")
        .select(col("source"), col("n_src"), col("share"), col("keep_rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
      CacheScope.unpersistAfterUse(out, r)
    }
  )

  /** DuckDB-equivalent SQL per query (driver runs these at sf0.01). */
  /** Brute-force all-pairs image-hash oracle, shared verbatim by
    * `dedup_images` and `dedup_images_incremental`: the incremental lane
    * computes the same pair set as prior-pairs ∪ delta-probe, so hashing
    * against the identical full-recompute SQL proves incremental ≡
    * recompute. */
  /** ml_tree oracle: three unrolled levels of the ml_split_gini SQL, each
    * re-deriving (node,feature,bucket) cells, prefix-sum stats, the
    * fixed-order IEEE impurity, the per-node (gini, feature, bucket)
    * argmin, and the nested-CASE split application — then the split
    * table UNION the leaf census. The [2^level, 2^{level+1}) freezing
    * rule rides the WHERE node >= lo filters. */
  private def mlTreeLevelSql(l: Int): String = {
    val lo = 1L << l
    s"""cells$l AS (
       |  SELECT node, feature, bucket, COUNT(*) AS cn, SUM(label) AS cp FROM (
       |    SELECT node, 'cents_b' AS feature, cents_b AS bucket, label
       |      FROM ev$l WHERE node >= $lo
       |    UNION ALL SELECT node, 'hour', hour, label FROM ev$l WHERE node >= $lo
       |    UNION ALL SELECT node, 'dow', dow, label FROM ev$l WHERE node >= $lo) u
       |  GROUP BY 1, 2, 3),
       |stats$l AS (
       |  SELECT node, feature, bucket,
       |    SUM(cn) OVER (PARTITION BY node, feature ORDER BY bucket) AS nl,
       |    SUM(cp) OVER (PARTITION BY node, feature ORDER BY bucket) AS al,
       |    SUM(cn) OVER (PARTITION BY node, feature) AS n,
       |    SUM(cp) OVER (PARTITION BY node, feature) AS a
       |  FROM cells$l),
       |g$l AS (
       |  SELECT node, feature, bucket, n, a,
       |    (CAST(nl AS DOUBLE)
       |      - CAST(al*al + (nl-al)*(nl-al) AS DOUBLE) / CAST(nl AS DOUBLE)
       |      + CAST(n - nl AS DOUBLE)
       |      - CAST((a-al)*(a-al) + ((n-nl)-(a-al))*((n-nl)-(a-al)) AS DOUBLE)
       |        / CAST(n - nl AS DOUBLE))
       |    / CAST(n AS DOUBLE) AS gini
       |  FROM stats$l WHERE nl < n),
       |best$l AS (
       |  SELECT node, feature, CAST(bucket AS BIGINT) AS bucket, gini,
       |    CAST(n AS BIGINT) AS n, CAST(a AS BIGINT) AS n_pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY node
       |    ORDER BY gini, feature, bucket) AS rn FROM g$l) WHERE rn = 1),
       |ev${l + 1} AS (
       |  SELECT e.cents_b, e.hour, e.dow, e.label,
       |    CASE WHEN b.node IS NULL THEN e.node
       |      ELSE 2*e.node + CASE WHEN (CASE b.feature
       |        WHEN 'cents_b' THEN e.cents_b WHEN 'hour' THEN e.hour
       |        ELSE e.dow END) <= b.bucket THEN 0 ELSE 1 END END AS node
       |  FROM ev$l e LEFT JOIN best$l b ON b.node = e.node)""".stripMargin
  }

  /** ml_forest oracle: the ml_tree level SQL with the bag-defining tree
    * key threaded through every GROUP BY / PARTITION BY / join. */
  private def mlForestLevelSql(l: Int): String = {
    val lo = 1L << l
    s"""cells$l AS (
       |  SELECT tree, node, feature, bucket, COUNT(*) AS cn, SUM(label) AS cp FROM (
       |    SELECT tree, node, 'cents_b' AS feature, cents_b AS bucket, label
       |      FROM fv$l WHERE node >= $lo
       |    UNION ALL SELECT tree, node, 'hour', hour, label FROM fv$l WHERE node >= $lo
       |    UNION ALL SELECT tree, node, 'dow', dow, label FROM fv$l WHERE node >= $lo) u
       |  GROUP BY 1, 2, 3, 4),
       |stats$l AS (
       |  SELECT tree, node, feature, bucket,
       |    SUM(cn) OVER (PARTITION BY tree, node, feature ORDER BY bucket) AS nl,
       |    SUM(cp) OVER (PARTITION BY tree, node, feature ORDER BY bucket) AS al,
       |    SUM(cn) OVER (PARTITION BY tree, node, feature) AS n,
       |    SUM(cp) OVER (PARTITION BY tree, node, feature) AS a
       |  FROM cells$l),
       |g$l AS (
       |  SELECT tree, node, feature, bucket, n, a,
       |    (CAST(nl AS DOUBLE)
       |      - CAST(al*al + (nl-al)*(nl-al) AS DOUBLE) / CAST(nl AS DOUBLE)
       |      + CAST(n - nl AS DOUBLE)
       |      - CAST((a-al)*(a-al) + ((n-nl)-(a-al))*((n-nl)-(a-al)) AS DOUBLE)
       |        / CAST(n - nl AS DOUBLE))
       |    / CAST(n AS DOUBLE) AS gini
       |  FROM stats$l WHERE nl < n),
       |best$l AS (
       |  SELECT tree, node, feature, CAST(bucket AS BIGINT) AS bucket, gini,
       |    CAST(n AS BIGINT) AS n, CAST(a AS BIGINT) AS n_pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY tree, node
       |    ORDER BY gini, feature, bucket) AS rn FROM g$l) WHERE rn = 1),
       |fv${l + 1} AS (
       |  SELECT e.tree, e.cents_b, e.hour, e.dow, e.label,
       |    CASE WHEN b.node IS NULL THEN e.node
       |      ELSE 2*e.node + CASE WHEN (CASE b.feature
       |        WHEN 'cents_b' THEN e.cents_b WHEN 'hour' THEN e.hour
       |        ELSE e.dow END) <= b.bucket THEN 0 ELSE 1 END END AS node
       |  FROM fv$l e LEFT JOIN best$l b
       |    ON b.tree = e.tree AND b.node = e.node)""".stripMargin
  }

  /** Shared CTE prefix: bucketed features (with event_id for scoring),
    * the hash-bagged per-tree union, and two unrolled training levels. */
  private val mlForestCtes: String =
    """WITH feats AS (
      |  SELECT event_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000 AS cents_b,
      |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
      |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      |  FROM events),
      |trees AS (SELECT CAST(range AS BIGINT) AS tree FROM range(3)),
      |fv0 AS (
      |  SELECT t.tree, cents_b, hour, dow, label, CAST(1 AS BIGINT) AS node
      |  FROM feats, trees t
      |  WHERE ('0x' || substr(md5('bag-' || t.tree || '-' || event_id), 1, 15))::BIGINT
      |        % 3 <> 0),
      |""".stripMargin +
      (0 to 1).map(mlForestLevelSql).mkString(",\n")

  private val mlForestOracle: String = mlForestCtes + "\n" +
    """SELECT tree, node, is_leaf, feature, threshold_bucket, gini, n, n_pos FROM (
      |  SELECT tree, node, FALSE AS is_leaf, feature, bucket AS threshold_bucket,
      |    gini, n, n_pos FROM best0
      |  UNION ALL SELECT tree, node, FALSE, feature, bucket, gini, n, n_pos FROM best1
      |  UNION ALL SELECT tree, node, TRUE, CAST(NULL AS VARCHAR),
      |    CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
      |    COUNT(*), CAST(SUM(label) AS BIGINT)
      |  FROM fv2 GROUP BY tree, node)
      |ORDER BY tree, node, is_leaf""".stripMargin

  /** Shared scoring CTEs (ml_forest_predict + ml_auc): leaf classes from
    * the training assignment, every (row × tree) routed through the same
    * two nested-CASE hops, per-row vote count v ∈ 0..3. */
  /** Shared row-routing + vote CTEs appended after a `cls` leaf-class
    * table: every (row × tree) through the two nested-CASE hops, per-row
    * vote count v. */
  private val mlScoreCtes: String =
    """sc0 AS (
      |  SELECT t.tree, event_id, cents_b, hour, dow, label,
      |    CAST(1 AS BIGINT) AS node
      |  FROM feats, trees t),
      |sc1 AS (
      |  SELECT e.tree, e.event_id, e.cents_b, e.hour, e.dow, e.label,
      |    CASE WHEN b.node IS NULL THEN e.node
      |      ELSE 2*e.node + CASE WHEN (CASE b.feature
      |        WHEN 'cents_b' THEN e.cents_b WHEN 'hour' THEN e.hour
      |        ELSE e.dow END) <= b.bucket THEN 0 ELSE 1 END END AS node
      |  FROM sc0 e LEFT JOIN best0 b ON b.tree = e.tree AND b.node = e.node),
      |sc2 AS (
      |  SELECT e.tree, e.event_id, e.label,
      |    CASE WHEN b.node IS NULL THEN e.node
      |      ELSE 2*e.node + CASE WHEN (CASE b.feature
      |        WHEN 'cents_b' THEN e.cents_b WHEN 'hour' THEN e.hour
      |        ELSE e.dow END) <= b.bucket THEN 0 ELSE 1 END END AS node
      |  FROM sc1 e LEFT JOIN best1 b ON b.tree = e.tree AND b.node = e.node),
      |votes AS (
      |  SELECT e.event_id, e.label,
      |    SUM(CASE WHEN COALESCE(c.leaf_pred, false) THEN 1 ELSE 0 END) AS v
      |  FROM sc2 e LEFT JOIN cls c ON c.tree = e.tree AND c.node = e.node
      |  GROUP BY 1, 2)""".stripMargin

  /** ml_forest_predict's votes: leaf class = training MAJORITY. */
  private val mlForestVotesCtes: String = mlForestCtes + ",\n" +
    """cls AS (
      |  SELECT tree, node, 2 * SUM(label) > COUNT(*) AS leaf_pred
      |  FROM fv2 GROUP BY 1, 2),
      |""".stripMargin + mlScoreCtes

  /** ml_auc / ml_confusion's votes: leaf votes positive when its
    * training rate EXCEEDS the corpus base rate (exact cross-multiplied
    * lift compare — a majority vote is vacuously all-negative when no
    * leaf passes 50%, which is every imbalanced corpus; the lift
    * operating point is what makes the downstream rank/threshold
    * statistics non-degenerate). */
  private val mlLiftVotesCtes: String = mlForestCtes + ",\n" +
    """tot AS (SELECT COUNT(*) AS nt, CAST(SUM(label) AS BIGINT) AS npt
      |  FROM feats),
      |cls AS (
      |  SELECT tree, node, SUM(label) * t.nt > COUNT(*) * t.npt AS leaf_pred
      |  FROM fv2, tot t GROUP BY tree, node, t.nt, t.npt),
      |""".stripMargin + mlScoreCtes

  private val mlForestPredictOracle: String = mlForestVotesCtes + "\n" +
    """SELECT CAST(label AS BIGINT) AS label,
      |  CAST(CASE WHEN v >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pred,
      |  COUNT(*) AS n
      |FROM votes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ml_auc oracle: the same vote stream folded into per-(score, label)
    * contingency cells, then the doubled Mann-Whitney U expanded
    * STATICALLY over the fixed 0..3 score domain (exact BIGINT; ties
    * carry the ½ as the un-halved tie term) and the one IEEE division —
    * mirrors operators/Auc.fromBucketScores term for term. */
  private val mlAucOracle: String = {
    val dom = 0 to 3
    val cells = dom.flatMap(v => Seq(
      s"SUM(CASE WHEN v = $v AND label = 1 THEN 1 ELSE 0 END) AS p$v",
      s"SUM(CASE WHEN v = $v AND label = 0 THEN 1 ELSE 0 END) AS q$v"))
      .mkString(",\n    ")
    val strict = for { i <- dom; j <- dom if i > j } yield s"2 * p$i * q$j"
    val ties = dom.map(v => s"p$v * q$v")
    val u2 = (strict ++ ties).mkString(" + ")
    val n1 = dom.map(v => s"p$v").mkString(" + ")
    val n0 = dom.map(v => s"q$v").mkString(" + ")
    mlLiftVotesCtes + s""",
cells AS (SELECT
    $cells
  FROM votes)
SELECT CAST($n1 AS BIGINT) AS n_pos, CAST($n0 AS BIGINT) AS n_neg,
  CAST($u2 AS BIGINT) AS u2,
  CAST($u2 AS DOUBLE) / CAST(2 * ($n1) * ($n0) AS DOUBLE) AS auc
FROM cells"""
  }

  /** ml_confusion oracle: the shared vote stream thresholded at v ≥ 2,
    * the four cells one conditional-sum agg, each metric one division
    * (F1 in the folded rational form — one rounding, like Spark). */
  private val mlConfusionOracle: String = mlLiftVotesCtes + ",\n" +
    """cf AS (SELECT
      |    SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp,
      |    SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
      |    SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS fn,
      |    SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS tn
      |  FROM (SELECT label, CASE WHEN v >= 2 THEN 1 ELSE 0 END AS pred
      |        FROM votes))
      |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |  CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS accuracy,
      |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision",
      |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
      |  CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
      |FROM cf""".stripMargin

  /** ml_lift oracle: the lift-vote cells again, cumulative partial sums
    * expanded statically per threshold cut, each metric one division
    * (lift in the cross-multiplied rational form; NULL when the cut
    * flags nothing) — mirrors operators/Auc.liftTable term for term. */
  private val mlLiftOracle: String = {
    val dom = 0 to 3
    val cells = dom.flatMap(v => Seq(
      s"SUM(CASE WHEN v = $v AND label = 1 THEN 1 ELSE 0 END) AS p$v",
      s"SUM(CASE WHEN v = $v AND label = 0 THEN 1 ELSE 0 END) AS q$v"))
      .mkString(",\n    ")
    val n1 = dom.map(v => s"p$v").mkString(" + ")
    val n = dom.flatMap(v => Seq(s"p$v", s"q$v")).mkString(" + ")
    val rows = dom.map { cut =>
      val tp = dom.filter(_ >= cut).map(v => s"p$v").mkString(" + ")
      val fl = dom.filter(_ >= cut).flatMap(v => Seq(s"p$v", s"q$v")).mkString(" + ")
      s"""SELECT CAST($cut AS BIGINT) AS cut,
         |  CAST($fl AS BIGINT) AS n_flagged, CAST($tp AS BIGINT) AS tp,
         |  CASE WHEN ($fl) = 0 THEN CAST(NULL AS DOUBLE)
         |    ELSE CAST(($tp) * ($n) AS DOUBLE)
         |      / CAST(($fl) * ($n1) AS DOUBLE) END AS lift,
         |  CAST($tp AS DOUBLE) / CAST($n1 AS DOUBLE) AS recall
         |FROM cells""".stripMargin
    }
    mlLiftVotesCtes + s""",
cells AS (SELECT
    $cells
  FROM votes)
""" + rows.mkString("\nUNION ALL ") + "\nORDER BY cut"
  }

  /** ml_pr_auc oracle: the lift-vote cells again, AP folded over
    * descending cuts in the same left-associated IEEE chain as
    * operators/Auc.averagePrecision (two exact-int divisions + one
    * multiply per term; empty cut contributes exact 0). */
  private val mlPrAucOracle: String = {
    val dom = 0 to 3
    val cells = dom.flatMap(v => Seq(
      s"SUM(CASE WHEN v = $v AND label = 1 THEN 1 ELSE 0 END) AS p$v",
      s"SUM(CASE WHEN v = $v AND label = 0 THEN 1 ELSE 0 END) AS q$v"))
      .mkString(",\n    ")
    val n1 = dom.map(v => s"p$v").mkString(" + ")
    val n = dom.flatMap(v => Seq(s"p$v", s"q$v")).mkString(" + ")
    val terms = dom.reverse.map { cut =>
      val tp = dom.filter(_ >= cut).map(v => s"p$v").mkString(" + ")
      val fl = dom.filter(_ >= cut).flatMap(v => Seq(s"p$v", s"q$v")).mkString(" + ")
      s"""CASE WHEN ($fl) = 0 THEN 0.0
         |    ELSE (CAST(p$cut AS DOUBLE) / CAST($n1 AS DOUBLE))
         |      * (CAST($tp AS DOUBLE) / CAST($fl AS DOUBLE)) END""".stripMargin
    }
    mlLiftVotesCtes + s""",
cells AS (SELECT
    $cells
  FROM votes)
SELECT CAST($n1 AS BIGINT) AS n_pos,
  CAST($n - ($n1) AS BIGINT) AS n_neg,
  CAST($n1 AS DOUBLE) / CAST($n AS DOUBLE) AS base_rate,
  """ + terms.mkString("\n  + ") + "\n  AS ap\nFROM cells"
  }

  /** ml_calibration oracle: per-score reliability rows + the Brier score
    * folded over the fixed domain ascending (left-associated, each term
    * the same double sequence as operators/Auc.calibrationTable). */
  private val mlCalibrationOracle: String = {
    val dom = 0 to 3
    val cells = dom.flatMap(v => Seq(
      s"SUM(CASE WHEN v = $v AND label = 1 THEN 1 ELSE 0 END) AS p$v",
      s"SUM(CASE WHEN v = $v AND label = 0 THEN 1 ELSE 0 END) AS q$v"))
      .mkString(",\n    ")
    val n = dom.flatMap(v => Seq(s"p$v", s"q$v")).mkString(" + ")
    val brierTerms = dom.map { v =>
      val pv = s"(CAST($v AS DOUBLE) / CAST(3 AS DOUBLE))"
      s"""CAST(p$v AS DOUBLE) * ((1.0 - $pv) * (1.0 - $pv))
         |    + CAST(q$v AS DOUBLE) * ($pv * $pv)""".stripMargin
    }
    val rows = dom.map { v =>
      s"""SELECT CAST($v AS BIGINT) AS score,
         |  CAST(p$v + q$v AS BIGINT) AS n, CAST(p$v AS BIGINT) AS n_pos,
         |  CAST($v AS DOUBLE) / CAST(3 AS DOUBLE) AS pred_p,
         |  CASE WHEN (p$v + q$v) = 0 THEN CAST(NULL AS DOUBLE)
         |    ELSE CAST(p$v AS DOUBLE) / CAST(p$v + q$v AS DOUBLE) END AS emp_p
         |FROM cells""".stripMargin
    }
    mlLiftVotesCtes + s""",
cells AS (SELECT
    $cells
  FROM votes),
br AS (SELECT
    (""" + brierTerms.mkString("\n  + ") + s""")
    / CAST($n AS DOUBLE) AS brier
  FROM cells),
rl AS (
""" + rows.mkString("\nUNION ALL ") + """)
SELECT r.score, r.n, r.n_pos, r.pred_p, r.emp_p,
  r.emp_p - r.pred_p AS gap, b.brier
FROM rl r, br b ORDER BY r.score"""
  }

  /** ml_cv oracle: the forest level SQL verbatim (it is generic over the
    * fv0 bag definition) with fold-complement bags — trees = range(4),
    * model t trains on fold ≠ t — then each row scored by its OWN fold's
    * model (sc0 sets tree = fold, no cross join) through the same two
    * nested-CASE hops, per-fold error census. */
  private val mlCvOracle: String = {
    val prefix =
      """WITH feats AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000 AS cents_b,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
        |    ('0x' || substr(md5('cv-' || event_id), 1, 15))::BIGINT % 4 AS fold
        |  FROM events),
        |trees AS (SELECT CAST(range AS BIGINT) AS tree FROM range(4)),
        |fv0 AS (
        |  SELECT t.tree, cents_b, hour, dow, label, CAST(1 AS BIGINT) AS node
        |  FROM feats, trees t WHERE feats.fold <> t.tree),
        |""".stripMargin + (0 to 1).map(mlForestLevelSql).mkString(",\n")
    prefix + ",\n" +
      """tot AS (SELECT COUNT(*) AS nt, CAST(SUM(label) AS BIGINT) AS npt
        |  FROM feats),
        |cls AS (
        |  SELECT tree, node, SUM(label) * t.nt > COUNT(*) * t.npt AS leaf_pred
        |  FROM fv2, tot t GROUP BY tree, node, t.nt, t.npt),
        |tr AS (SELECT tree, COUNT(*) AS n_train FROM fv0 GROUP BY 1),
        |sc0 AS (
        |  SELECT fold AS tree, event_id, cents_b, hour, dow, label,
        |    CAST(1 AS BIGINT) AS node
        |  FROM feats),
        |sc1 AS (
        |  SELECT e.tree, e.event_id, e.cents_b, e.hour, e.dow, e.label,
        |    CASE WHEN b.node IS NULL THEN e.node
        |      ELSE 2*e.node + CASE WHEN (CASE b.feature
        |        WHEN 'cents_b' THEN e.cents_b WHEN 'hour' THEN e.hour
        |        ELSE e.dow END) <= b.bucket THEN 0 ELSE 1 END END AS node
        |  FROM sc0 e LEFT JOIN best0 b ON b.tree = e.tree AND b.node = e.node),
        |sc2 AS (
        |  SELECT e.tree, e.event_id, e.label,
        |    CASE WHEN b.node IS NULL THEN e.node
        |      ELSE 2*e.node + CASE WHEN (CASE b.feature
        |        WHEN 'cents_b' THEN e.cents_b WHEN 'hour' THEN e.hour
        |        ELSE e.dow END) <= b.bucket THEN 0 ELSE 1 END END AS node
        |  FROM sc1 e LEFT JOIN best1 b ON b.tree = e.tree AND b.node = e.node),
        |pr AS (
        |  SELECT e.tree, e.label,
        |    CASE WHEN COALESCE(c.leaf_pred, false) THEN 1 ELSE 0 END AS pred
        |  FROM sc2 e LEFT JOIN cls c ON c.tree = e.tree AND c.node = e.node),
        |per AS (
        |  SELECT tree AS fold, COUNT(*) AS n_valid,
        |    SUM(CASE WHEN pred <> label THEN 1 ELSE 0 END) AS errors
        |  FROM pr GROUP BY 1)
        |SELECT p.fold, CAST(t.n_train AS BIGINT) AS n_train,
        |  CAST(p.n_valid AS BIGINT) AS n_valid, CAST(p.errors AS BIGINT) AS errors,
        |  CAST(p.errors AS DOUBLE) / CAST(p.n_valid AS DOUBLE) AS err_rate
        |FROM per p JOIN tr t ON t.tree = p.fold ORDER BY p.fold""".stripMargin
  }

  /** events_stationary oracle: transition cells → probabilities → 8
    * power iterations, all generated with the SAME fixed type order and
    * left-associated multiply-add chains as the Spark lane (SQL `+` is
    * left-associative, matching Column.reduce), so every double
    * hash-replays. */
  private val eventsStationaryOracle: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cells = (for { i <- types; j <- types } yield
      s"SUM(CASE WHEN from_type = '$i' AND to_type = '$j' THEN 1 ELSE 0 END) AS c_${i}_$j")
      .mkString(",\n    ")
    val probs = (for { i <- types; j <- types } yield {
      val rowTot = types.map(k => s"c_${i}_$k").mkString(" + ")
      s"CAST(c_${i}_$j AS DOUBLE) / CAST($rowTot AS DOUBLE) AS p_${i}_$j"
    }).mkString(",\n    ")
    val iters = (1 to 8).map { k =>
      def pi(t: String) = if (k == 1) "0.2" else s"pi${k - 1}_$t"
      val comps = types.map { j =>
        types.map(i => s"${pi(i)} * p_${i}_$j").mkString(" + ") + s" AS pi${k}_$j"
      }.mkString(",\n    ")
      val src = if (k == 1) "pm" else s"it${k - 1}"
      s"it$k AS (SELECT *,\n    $comps\n  FROM $src)"
    }
    val finalSel = types.map(t =>
      s"SELECT '$t' AS event_type, pi8_$t AS pi FROM it8").mkString("\nUNION ALL ")
    s"""WITH pr AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS to_type
       |  FROM events),
       |pairs AS (SELECT from_type, to_type FROM pr WHERE to_type IS NOT NULL),
       |cm AS (SELECT
       |    $cells
       |  FROM pairs),
       |pm AS (SELECT
       |    $probs
       |  FROM cm),
       |""".stripMargin + iters.mkString(",\n") + "\n" +
      finalSel + "\nORDER BY event_type"
  }

  /** sample_neyman oracle: the same one-row cell pivot; the exact
    * variance numerator rides HUGEINT and converts to DOUBLE via a
    * VARCHAR parse (the profile_benford lesson — both engines then do a
    * correctly-rounded decimal-string → double), every subsequent IEEE
    * op in the same fixed textual order as the Spark columns. */
  private val sampleNeymanOracle: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cells = types.flatMap(t => Seq(
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t",
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN cents ELSE 0 END) AS BIGINT) AS sx_$t",
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN cents * cents ELSE 0 END) AS BIGINT) AS sq_$t"))
      .mkString(",\n    ")
    val sCols = types.map(t =>
      s"""sqrt(CAST(CAST(CAST(n_$t AS HUGEINT) * sq_$t
         |      - CAST(sx_$t AS HUGEINT) * sx_$t AS VARCHAR) AS DOUBLE)
         |    / CAST(n_$t * n_$t AS DOUBLE)) AS s_$t""".stripMargin)
      .mkString(",\n    ")
    val wCols = types.map(t => s"CAST(n_$t AS DOUBLE) * s_$t AS w_$t")
      .mkString(",\n    ")
    val wAll = types.map(t => s"w_$t").mkString(" + ")
    val sel = types.map(t =>
      s"""SELECT '$t' AS event_type, n_$t AS n_rows, sx_$t AS sum_cents,
         |  s_$t AS s_dev,
         |  CAST(floor(1000.0 * w_$t / w_all) AS BIGINT) AS alloc FROM am""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |cm AS (SELECT
       |    $cells
       |  FROM e),
       |sm AS (SELECT *,
       |    $sCols
       |  FROM cm),
       |wm AS (SELECT *,
       |    $wCols
       |  FROM sm),
       |am AS (SELECT *, $wAll AS w_all FROM wm)
       |""".stripMargin + sel + "\nORDER BY event_type"
  }

  /** events_granger oracle: the day-aligned pair frame, exact HUGEINT
    * Gram sums, 3×3 Cramer determinants (exact, mirroring Spark's
    * DECIMAL(38,0) — association-free by exactness), one VARCHAR→DOUBLE
    * division per coefficient, and both SSE folds as SUM(sq ORDER BY
    * day). */
  private val eventsGrangerOracle: String = {
    // determinant of [[a,b,c],[d,e,f],[g,h,i]] in HUGEINT
    def det(a: String, b: String, c: String, d: String, e: String,
        f: String, g: String, h: String, i: String): String =
      s"""CAST($a AS HUGEINT)*(CAST($e AS HUGEINT)*$i - CAST($f AS HUGEINT)*$h)
         |    - CAST($b AS HUGEINT)*(CAST($d AS HUGEINT)*$i - CAST($f AS HUGEINT)*$g)
         |    + CAST($c AS HUGEINT)*(CAST($d AS HUGEINT)*$h - CAST($e AS HUGEINT)*$g)""".stripMargin
    def vd(x: String): String = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS x
       |  FROM events GROUP BY 1, 2),
       |lagd AS (
       |  SELECT event_type, day, x,
       |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS xm1
       |  FROM daily),
       |lag2 AS (SELECT * FROM lagd WHERE xm1 IS NOT NULL),
       |frame AS (
       |  SELECT b.event_type AS x_type, a.event_type AS y_type, a.day,
       |    a.x AS y, a.xm1 AS u, b.xm1 AS v
       |  FROM lag2 a JOIN lag2 b
       |    ON a.day = b.day AND a.event_type <> b.event_type),
       |sums AS (
       |  SELECT x_type, y_type, COUNT(*) AS n, SUM(y) AS sy, SUM(u) AS su,
       |    SUM(v) AS sv, SUM(u*u) AS suu, SUM(v*v) AS svv, SUM(u*v) AS suv,
       |    SUM(u*y) AS suy, SUM(v*y) AS svy
       |  FROM frame GROUP BY 1, 2),
       |dets AS (
       |  SELECT *,
       |    ${det("n", "su", "sv", "su", "suu", "suv", "sv", "suv", "svv")} AS det,
       |    ${det("sy", "su", "sv", "suy", "suu", "suv", "svy", "suv", "svv")} AS det0,
       |    ${det("n", "sy", "sv", "su", "suy", "suv", "sv", "svy", "svv")} AS det1,
       |    ${det("n", "su", "sy", "su", "suu", "suy", "sv", "suv", "svy")} AS det2,
       |    CAST(n AS HUGEINT)*suu - CAST(su AS HUGEINT)*su AS detr
       |  FROM sums),
       |coefs AS (
       |  SELECT x_type, y_type, n, sy, su,
       |    CASE WHEN det = 0 THEN CAST(NULL AS DOUBLE)
       |      ELSE ${vd("det0")} / ${vd("det")} END AS b0,
       |    CASE WHEN det = 0 THEN CAST(NULL AS DOUBLE)
       |      ELSE ${vd("det1")} / ${vd("det")} END AS b1,
       |    CASE WHEN det = 0 THEN CAST(NULL AS DOUBLE)
       |      ELSE ${vd("det2")} / ${vd("det")} END AS b2,
       |    CASE WHEN detr = 0 THEN CAST(NULL AS DOUBLE)
       |      ELSE ${vd("CAST(n AS HUGEINT)*suy - CAST(su AS HUGEINT)*sy")}
       |        / ${vd("detr")} END AS ar
       |  FROM dets),
       |coefs2 AS (
       |  SELECT *,
       |    (CAST(sy AS DOUBLE) - ar * CAST(su AS DOUBLE)) / CAST(n AS DOUBLE) AS cr
       |  FROM coefs),
       |scored AS (
       |  SELECT f.x_type, f.y_type, f.day, f.y, c.n,
       |    c.b0 + c.b1 * CAST(f.u AS DOUBLE) + c.b2 * CAST(f.v AS DOUBLE) AS pred_u,
       |    c.cr + c.ar * CAST(f.u AS DOUBLE) AS pred_r
       |  FROM frame f JOIN coefs2 c USING (x_type, y_type)),
       |sq AS (
       |  SELECT x_type, y_type, day, n,
       |    (CAST(y AS DOUBLE) - pred_u) * (CAST(y AS DOUBLE) - pred_u) AS squ,
       |    (CAST(y AS DOUBLE) - pred_r) * (CAST(y AS DOUBLE) - pred_r) AS sqr
       |  FROM scored)
       |SELECT x_type, y_type, CAST(MAX(n) AS BIGINT) AS n,
       |  SUM(sqr ORDER BY day) AS sse_r,
       |  SUM(squ ORDER BY day) AS sse_u,
       |  (SUM(sqr ORDER BY day) - SUM(squ ORDER BY day))
       |    * CAST(MAX(n) - 3 AS DOUBLE) / SUM(squ ORDER BY day) AS f_stat,
       |  (SUM(sqr ORDER BY day) - SUM(squ ORDER BY day))
       |    * CAST(MAX(n) - 3 AS DOUBLE) / SUM(squ ORDER BY day)
       |    > 3.8414588206941245 AS granger_cause
       |FROM sq GROUP BY 1, 2 ORDER BY x_type, y_type""".stripMargin
  }

  /** graph_betweenness oracle: recursive-CTE distances capped at the
    * radius, one σ CTE per forward level (sum of predecessor σ's — exact
    * BIGINT), one δ CTE per backward level — σ_v/σ_w·(1+δ_w) folded in
    * SUCCESSOR order via SUM(... ORDER BY e.dst), which DuckDB evaluates
    * as a sequential IEEE fold bit-identical to the operator's
    * sort_array+aggregate fold at ANY out-degree — then the fixed-order
    * 4-source pivot sum. The edges CTE is DISTINCT, mirroring the
    * operator's edges.distinct(): the 'scc-' hash construction collides
    * a few (src, dst) pairs per decade and a duplicated edge would
    * double-count σ and δ. */
  private val graphBetweennessOracle: String = {
    val h = BetweennessHopCap
    val srcVals =
      """(VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        |        (CAST(3 AS BIGINT)), (CAST(5 AS BIGINT))) src(s)""".stripMargin
    val prefix =
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM customer),
         |base AS (SELECT CAST(c_custkey AS BIGINT) AS u FROM customer),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT u AS src, dst FROM (
         |    SELECT u, ('0x' || substr(md5('scc-a-' || u), 1, 15))::BIGINT % nn.n AS dst
         |    FROM base, nn WHERE u % 7 <> 0
         |    UNION ALL
         |    SELECT u, ('0x' || substr(md5('scc-b-' || u), 1, 15))::BIGINT % nn.n AS dst
         |    FROM base, nn WHERE u % 7 <> 0)
         |  WHERE u <> dst),
         |walk AS MATERIALIZED (
         |  WITH RECURSIVE w(s, node, d) AS (
         |    SELECT src.s, src.s, CAST(0 AS BIGINT)
         |    FROM $srcVals
         |    UNION
         |    SELECT w.s, e.dst, w.d + 1 FROM w JOIN edges e ON e.src = w.node
         |    WHERE w.d < $h)
         |  SELECT s, node, d FROM w),
         |dist AS MATERIALIZED (
         |  SELECT s, node, MIN(d) AS dist FROM walk GROUP BY 1, 2),
         |sig0 AS (SELECT src.s, src.s AS node, CAST(1 AS BIGINT) AS sigma
         |  FROM $srcVals)""".stripMargin
    val sig = (1 to h).map { d =>
      s"""sig$d AS MATERIALIZED (
         |  SELECT p.s, e.dst AS node, SUM(p.sigma) AS sigma
         |  FROM sig${d - 1} p JOIN edges e ON e.src = p.node
         |  JOIN dist dd ON dd.s = p.s AND dd.node = e.dst AND dd.dist = $d
         |  GROUP BY 1, 2)""".stripMargin
    }
    val delStart =
      s"""del$h AS (SELECT s, node, CAST(0.0 AS DOUBLE) AS delta
         |  FROM dist WHERE dist = $h)""".stripMargin
    val del = ((h - 1) to 0 by -1).map { d =>
      s"""del$d AS MATERIALIZED (
         |  SELECT v.s, v.node, COALESCE(c.dsum, 0.0) AS delta
         |  FROM (SELECT s, node FROM dist WHERE dist = $d) v
         |  LEFT JOIN (
         |    SELECT sv.s, e.src AS node,
         |      SUM(CAST(sv.sigma AS DOUBLE) / CAST(sw.sigma AS DOUBLE)
         |          * (1.0 + dw.delta) ORDER BY e.dst) AS dsum
         |    FROM sig$d sv JOIN edges e ON e.src = sv.node
         |    JOIN del${d + 1} dw ON dw.s = sv.s AND dw.node = e.dst
         |    JOIN sig${d + 1} sw ON sw.s = sv.s AND sw.node = e.dst
         |    GROUP BY 1, 2) c ON c.s = v.s AND c.node = v.node)""".stripMargin
    }
    val acc = (0 to h).map(d => s"SELECT s, node, delta FROM del$d")
      .mkString("acc AS (\n  ", "\n  UNION ALL ", ")")
    val ctes = (prefix +: sig) ++ (delStart +: del) :+ acc
    ctes.mkString(",\n") + "\n" +
      """SELECT j.node, COUNT(*) AS n_src,
        |  ((COALESCE(MAX(CASE WHEN j.s = 1 THEN j.delta END), 0.0)
        |    + COALESCE(MAX(CASE WHEN j.s = 2 THEN j.delta END), 0.0))
        |    + COALESCE(MAX(CASE WHEN j.s = 3 THEN j.delta END), 0.0))
        |    + COALESCE(MAX(CASE WHEN j.s = 5 THEN j.delta END), 0.0) AS bc
        |FROM (SELECT a.s, a.node, a.delta FROM acc a
        |      JOIN base ON a.node = base.u WHERE a.node <> a.s) j
        |GROUP BY j.node ORDER BY bc DESC, j.node LIMIT 20""".stripMargin
  }

  private val mlTreeOracle: String =
    """WITH ev0 AS (
      |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000 AS cents_b,
      |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
      |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
      |    CAST(1 AS BIGINT) AS node
      |  FROM events),
      |""".stripMargin +
      (0 to 2).map(mlTreeLevelSql).mkString(",\n") + "\n" +
    """SELECT node, is_leaf, feature, threshold_bucket, gini, n, n_pos FROM (
      |  SELECT node, FALSE AS is_leaf, feature, bucket AS threshold_bucket,
      |    gini, n, n_pos FROM best0
      |  UNION ALL SELECT node, FALSE, feature, bucket, gini, n, n_pos FROM best1
      |  UNION ALL SELECT node, FALSE, feature, bucket, gini, n, n_pos FROM best2
      |  UNION ALL SELECT node, TRUE, CAST(NULL AS VARCHAR),
      |    CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
      |    COUNT(*), CAST(SUM(label) AS BIGINT)
      |  FROM ev3 GROUP BY node)
      |ORDER BY node, is_leaf""".stripMargin

  /** One unrolled ml_gbt boosting round: cells → per-feature prefix
    * sums → IEEE-pinned variance-reduction score (HUGEINT →
    * VARCHAR-parse → DOUBLE, the profile_benford convention) → global
    * argmax → leaf values as truncating integer divisions → closed-form
    * SSE → residual update (one-row cross join + CASE). Mirrors
    * operators/Boosting.fitStumps round-for-round. */
  private def gbtRoundSql(t: Int): String =
    s"""gc$t AS (
       |  SELECT feature, bucket, COUNT(*) AS cn, SUM(r) AS sr,
       |    SUM(CAST(r AS HUGEINT) * r) AS sq
       |  FROM (
       |    SELECT 'hour' AS feature, hour AS bucket, r FROM gv$t
       |    UNION ALL SELECT 'dow', dow, r FROM gv$t
       |    UNION ALL SELECT 'user_b', user_b, r FROM gv$t) u
       |  GROUP BY 1, 2),
       |gs$t AS (
       |  SELECT feature, bucket,
       |    SUM(cn) OVER (PARTITION BY feature ORDER BY bucket) AS nl,
       |    SUM(sr) OVER (PARTITION BY feature ORDER BY bucket) AS sl,
       |    SUM(cn) OVER (PARTITION BY feature) AS n,
       |    SUM(sr) OVER (PARTITION BY feature) AS s,
       |    SUM(sq) OVER (PARTITION BY feature) AS q
       |  FROM gc$t),
       |gsc$t AS (
       |  SELECT feature, CAST(bucket AS BIGINT) AS bucket,
       |    CAST(nl AS BIGINT) AS nl, CAST(sl AS BIGINT) AS sl,
       |    CAST(n - nl AS BIGINT) AS nr, CAST(s - sl AS BIGINT) AS sr_r,
       |    CAST(q AS BIGINT) AS q,
       |    CAST(CAST(CAST(sl AS HUGEINT) * sl AS VARCHAR) AS DOUBLE)
       |        / CAST(nl AS DOUBLE)
       |      + CAST(CAST(CAST(s - sl AS HUGEINT) * (s - sl) AS VARCHAR) AS DOUBLE)
       |        / CAST(n - nl AS DOUBLE) AS score
       |  FROM gs$t WHERE nl < n),
       |gb$t AS (
       |  SELECT feature, bucket, nl, sl, nr, sr_r, q, score,
       |    sl // (8 * nl) AS v_l, sr_r // (8 * nr) AS v_r,
       |    q - 2 * ((sl // (8 * nl)) * sl + (sr_r // (8 * nr)) * sr_r)
       |      + nl * (sl // (8 * nl)) * (sl // (8 * nl))
       |      + nr * (sr_r // (8 * nr)) * (sr_r // (8 * nr)) AS sse_after
       |  FROM (SELECT *, row_number() OVER (ORDER BY score DESC, feature,
       |    bucket) AS rn FROM gsc$t) WHERE rn = 1),
       |gv${t + 1} AS (
       |  SELECT e.hour, e.dow, e.user_b,
       |    e.r - CASE WHEN (CASE b.feature WHEN 'hour' THEN e.hour
       |        WHEN 'dow' THEN e.dow ELSE e.user_b END) <= b.bucket
       |      THEN b.v_l ELSE b.v_r END AS r
       |  FROM gv$t e, gb$t b)""".stripMargin

  private val mlGbtOracle: String =
    """WITH gv0 AS (
      |  SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hour,
      |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
      |    user_id % 16 AS user_b,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS r
      |  FROM events),
      |""".stripMargin +
      (0 to 2).map(gbtRoundSql).mkString(",\n") + "\n" +
      (0 to 2).map(t =>
        s"""SELECT CAST($t AS BIGINT) AS round, feature,
           |  bucket AS threshold_bucket, nl AS n_left, sl AS sum_left,
           |  nr AS n_right, sr_r AS sum_right, v_l AS v_left,
           |  v_r AS v_right, score, q AS sse_before, sse_after
           |FROM gb$t""".stripMargin)
        .mkString("\nUNION ALL\n") + "\nORDER BY round"

  /** profile_correlation oracle: the same one-pass sufficient statistics
    * with HUGEINT in place of DECIMAL(38,0) and the identical pinned
    * IEEE finish (VARCHAR-parse → DOUBLE, two sqrts, one multiply, one
    * divide). Generated per pair so the Spark and SQL pair lists can
    * never drift. */
  private val profileCorrelationOracle: String = {
    val cs = Seq("q", "p", "d", "t")
    val pairs = for { i <- cs.indices; j <- i + 1 until cs.size }
      yield (cs(i), cs(j))
    def vNum(c: String) =
      s"CAST(CAST(CAST(n AS HUGEINT) * ss_$c - CAST(s_$c AS HUGEINT) * s_$c AS VARCHAR) AS DOUBLE)"
    val pairSelects = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
         |  CAST(s_$a AS BIGINT) AS sum_x, CAST(s_$b AS BIGINT) AS sum_y,
         |  CAST(CAST(CAST(n AS HUGEINT) * sp_${a}_$b - CAST(s_$a AS HUGEINT) * s_$b AS VARCHAR) AS DOUBLE)
         |    / (sqrt(${vNum(a)}) * sqrt(${vNum(b)})) AS corr
         |FROM g""".stripMargin
    }.mkString("\nUNION ALL\n")
    """WITH li AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
      |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d,
      |    CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT) AS t
      |  FROM lineitem),
      |g AS (
      |  SELECT COUNT(*) AS n,
      |""".stripMargin +
      cs.map(c => s"    SUM($c) AS s_$c").mkString(",\n") + ",\n" +
      cs.map(c => s"    SUM(CAST($c AS HUGEINT) * $c) AS ss_$c").mkString(",\n") + ",\n" +
      pairs.map { case (a, b) =>
        s"    SUM(CAST($a AS HUGEINT) * $b) AS sp_${a}_$b" }.mkString(",\n") +
      "\n  FROM li)\n" + pairSelects + "\nORDER BY col_x, col_y"
  }

  private val dedupImagesOracle: String =
    """WITH img AS (
      |  SELECT doc_id AS img_id, doc_id // 3 AS seed, doc_id % 3 AS var,
      |    8*(2 + (doc_id // 3) % 3) AS w, 8*(2 + (doc_id // 3) % 2) AS h,
      |    ('0x' || substr(md5(CAST(doc_id // 3 AS VARCHAR)), 1, 15))::BIGINT AS h60
      |  FROM documents),
      |cells AS (
      |  SELECT img_id, tj.j*8 + ti.i AS k,
      |    CASE WHEN var = 1 AND ((ti.i*w//8) + (tj.j*h//8)) % 13 = 0
      |      THEN least(255, ((1+h60%127)*(ti.i*w//8) + (1+(h60//127)%131)*(tj.j*h//8)
      |                       + ((h60//16637)%61)*(ti.i*w//8)*(tj.j*h//8) + h60%256) % 256 + 24)
      |      ELSE ((1+h60%127)*(ti.i*w//8) + (1+(h60//127)%131)*(tj.j*h//8)
      |            + ((h60//16637)%61)*(ti.i*w//8)*(tj.j*h//8) + h60%256) % 256
      |    END AS g
      |  FROM img, UNNEST(generate_series(0,7)) AS ti(i), UNNEST(generate_series(0,7)) AS tj(j)),
      |m AS (SELECT img_id, k, g, SUM(g) OVER (PARTITION BY img_id) // 64 AS mean FROM cells),
      |hashes AS (
      |  SELECT img_id,
      |    SUM(CASE WHEN k < 32 AND g > mean THEN (1::BIGINT << k) ELSE 0 END) AS h_lo,
      |    SUM(CASE WHEN k >= 32 AND g > mean THEN (1::BIGINT << (k-32)) ELSE 0 END) AS h_hi
      |  FROM m GROUP BY img_id)
      |SELECT a.img_id AS a_id, b.img_id AS b_id,
      |  CAST(bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi)) AS BIGINT) AS hamming
      |FROM hashes a JOIN hashes b ON a.img_id < b.img_id
      |WHERE bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi)) <= 3
      |ORDER BY a_id, b_id""".stripMargin

  /** One value-iteration level of the Markov-attribution oracle: p{k}
    * from p{k-1} over the scenario×state grid — absorbing states pinned,
    * the removed channel forced to zero, transient states one truncating
    * division of the exact Σ n·p accumulator (mirrors the driver-side
    * iteration in `events_attribution_markov` round-for-round). */
  private def markovLevel(k: Int): String = {
    val prev = s"p${k - 1}"
    s"""p$k AS (
       |  SELECT g.scen, g.state,
       |    CAST(CASE WHEN g.state = 'purchase' THEN 1000000000
       |         WHEN g.state = '__end' THEN 0
       |         WHEN g.state = g.scen THEN 0
       |         ELSE COALESCE(a.acc // m.tot, 0) END AS BIGINT) AS p
       |  FROM grid g
       |  LEFT JOIN (SELECT $prev.scen, tr.from_s, SUM(tr.n * $prev.p) AS acc
       |             FROM trans tr JOIN $prev ON $prev.state = tr.to_s
       |             GROUP BY 1, 2) a
       |    ON a.scen = g.scen AND a.from_s = g.state
       |  LEFT JOIN marg m ON m.from_s = g.state)""".stripMargin
  }

  /** One synchronized peel of the k-core oracle: nodes of degree < 3 in
    * e{k-1} drop, e{k} keeps edges with both endpoints surviving —
    * mirrors the iterated semi-join peel in `graph_kcore`. */
  private def kcoreLevel(k: Int): String = {
    val prev = s"e${k - 1}"
    s"""n$k AS (SELECT u FROM $prev GROUP BY u HAVING COUNT(*) >= 3),
       |e$k AS (
       |  SELECT e.u, e.v FROM $prev e
       |  JOIN n$k a ON a.u = e.u JOIN n$k b ON b.u = e.v)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "snapshot_scan" ->
      """WITH b AS (SELECT min(l_orderkey) mn, max(l_orderkey) mx FROM lineitem),
        |w AS (SELECT mn, ((mx - mn + 1 + 7) // 8) AS cw FROM b)
        |SELECT ((l_orderkey - mn) // cw) AS chunk_id, count(*) AS n_rows,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_pk, CAST(max(l_orderkey) AS BIGINT) AS max_pk,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem, w GROUP BY 1 ORDER BY 1""".stripMargin,

    "snapshot_scan_range" ->
      """SELECT ((l_orderkey - 1000) // 2000) AS chunk_id, count(*) AS n_rows,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_pk, CAST(max(l_orderkey) AS BIGINT) AS max_pk
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 8999
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "snapshot_scan_composite" ->
      // lexGte/lexLte expanded to explicit boolean form; chunk_id = number
      // of boundary tuples at or below (l_orderkey, l_linenumber)
      """WITH w AS (
        |  SELECT l_orderkey, l_linenumber FROM lineitem
        |  WHERE (l_orderkey > 500 OR (l_orderkey = 500 AND l_linenumber >= 3))
        |    AND (l_orderkey < 5500 OR (l_orderkey = 5500 AND l_linenumber <= 2))),
        |c AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS ek,
        |    CAST(
        |      (CASE WHEN l_orderkey > 1750 OR (l_orderkey = 1750 AND l_linenumber >= 4) THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_orderkey > 3000 OR (l_orderkey = 3000 AND l_linenumber >= 4) THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_orderkey > 4250 OR (l_orderkey = 4250 AND l_linenumber >= 4) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS chunk_id
        |  FROM w)
        |SELECT chunk_id, count(*) AS n_rows,
        |  CAST(min(ek) AS BIGINT) AS min_key, CAST(max(ek) AS BIGINT) AS max_key
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "snapshot_scan_string" ->
      // boundary VALUES at ranks 1 + i*n/4 of the p_name total order (ties:
      // the value at a rank is well-defined); chunk_id = boundaries <= key
      """WITH n AS (SELECT count(*) AS n FROM part),
        |r AS (SELECT p_name, row_number() OVER (ORDER BY p_name) AS rn FROM part),
        |b AS (SELECT p_name AS bk FROM r, n
        |      WHERE rn IN (1 + (1*n)//4, 1 + (2*n)//4, 1 + (3*n)//4)),
        |c AS (SELECT p.p_name,
        |        CAST((SELECT count(*) FROM b WHERE p.p_name >= b.bk) AS BIGINT) AS chunk_id
        |      FROM part p)
        |SELECT chunk_id, count(*) AS n_rows, min(p_name) AS min_key, max(p_name) AS max_key
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "dynamo_unmarshal" ->
      """WITH t AS (SELECT event_id,
        |  '{"user_id":{"N":"' || CAST(user_id AS VARCHAR) || '"},"event_type":{"S":"' || event_type ||
        |  '"},"value":{"N":"' || CAST(value AS VARCHAR) || '"}}' AS dyn_json
        |  FROM events)
        |SELECT event_id, dyn_json,
        |  CAST(json_extract_string(dyn_json, '$.user_id.N') AS BIGINT) AS user_id_parsed,
        |  json_extract_string(dyn_json, '$.event_type.S') AS event_type_parsed,
        |  CAST(json_extract_string(dyn_json, '$.value.N') AS DOUBLE) AS value_parsed
        |FROM t ORDER BY event_id""".stripMargin,

    "dynamo_export" ->
      """WITH t AS (SELECT event_id,
        |  '{"Item":{"pk":{"N":"' || CAST(event_id AS VARCHAR) ||
        |  '"},"etype":{"S":"' || event_type ||
        |  '"},"payload":{"B":"' || base64(unhex(md5(event_type || CAST(event_id AS VARCHAR)))) ||
        |  '"},"owner":{"M":{"u":{"N":"' || CAST(user_id AS VARCHAR) || '"}}}}}' AS dyn_json
        |  FROM events)
        |SELECT event_id, dyn_json,
        |  CAST(json_extract_string(dyn_json, '$.Item.pk.N') AS BIGINT) AS pk,
        |  json_extract_string(dyn_json, '$.Item.etype.S') AS etype,
        |  hex(from_base64(json_extract_string(dyn_json, '$.Item.payload.B'))) AS payload_hex,
        |  CAST(octet_length(from_base64(json_extract_string(dyn_json, '$.Item.payload.B'))) AS BIGINT) AS payload_len,
        |  CAST(json_extract_string(dyn_json, '$.Item.owner.M.u.N') AS BIGINT) AS owner_u
        |FROM t ORDER BY event_id""".stripMargin,

    "dynamo_unmarshal_deep" ->
      """WITH t AS (SELECT event_id,
        |  '{"pk":{"N":"' || CAST(event_id AS VARCHAR) ||
        |  '"},"flag":{"BOOL":' || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END ||
        |  '},"tags":{"SS":["' || event_type || '","u' || CAST(user_id % 5 AS VARCHAR) ||
        |  '"]},"scores":{"NS":["' || CAST(value AS VARCHAR) || '","' || CAST(user_id AS VARCHAR) ||
        |  '"]},"meta":{"M":{"u":{"N":"' || CAST(user_id AS VARCHAR) ||
        |  '"},"t":{"S":"' || event_type ||
        |  '"}}},"items":{"L":[{"N":"' || CAST(user_id AS VARCHAR) ||
        |  '"},{"S":"' || event_type || '"}]}}' AS dyn_json
        |  FROM events)
        |SELECT event_id, dyn_json,
        |  CAST(json_extract_string(dyn_json, '$.pk.N') AS BIGINT) AS pk,
        |  CAST(json_extract_string(dyn_json, '$.flag.BOOL') AS BOOLEAN) AS flag,
        |  json_extract_string(dyn_json, '$.tags.SS[0]') AS tag_0,
        |  json_extract_string(dyn_json, '$.tags.SS[1]') AS tag_1,
        |  CAST(json_extract_string(dyn_json, '$.scores.NS[0]') AS DOUBLE) +
        |    CAST(json_extract_string(dyn_json, '$.scores.NS[1]') AS DOUBLE) AS score_sum,
        |  CAST(json_extract_string(dyn_json, '$.meta.M.u.N') AS BIGINT) AS meta_u,
        |  json_extract_string(dyn_json, '$.meta.M.t.S') AS meta_t,
        |  CAST(json_extract_string(dyn_json, '$.items.L[0].N') AS DOUBLE) AS item_0_n,
        |  json_extract_string(dyn_json, '$.items.L[1].S') AS item_1_s
        |FROM t ORDER BY event_id""".stripMargin,

    "scan_pushdown" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
        |  AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // the ORIGINAL correlated form — two scalar subqueries per row; the
    // Spark side runs the decorrelated keyed-join rewrite, so a hash match
    // here PROVES the decorrelation equivalence rather than assuming it
    "q17_small_qty" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_small
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size <= 10
        |  AND CAST(l.l_quantity AS DECIMAL(12,2)) * 5 *
        |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |    < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // the PLAIN join — the Spark side must lose nothing through the Bloom
    // prefilter (no false negatives) and keep nothing extra (exact join
    // drops false positives)
    "join_bloom_prefilter" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // brute-force all-pairs distance oracle; the Spark side must find the
    // identical pair set through the grid
    "join_spatial_grid" ->
      """WITH c AS (SELECT COUNT(*) AS n FROM customer),
        |pts AS (
        |  SELECT id, h60 % side AS x, (h60 // side) % side AS y FROM (
        |    SELECT c_custkey AS id,
        |      ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h60,
        |      2582 * CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS side
        |    FROM customer, c) q)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 250000
        |ORDER BY a_id, b_id""".stripMargin,

    // definitional DBSCAN: brute-force eps-pairs, HAVING-count cores,
    // recursive-CTE reachability closure over core-core edges with
    // MIN-label canonicalization (= the CC cluster id), min-cluster
    // border assignment, census + the -1 noise row
    "ml_dbscan" ->
      """WITH RECURSIVE c AS (SELECT COUNT(*) AS n FROM customer),
        |pts AS (
        |  SELECT id, h60 % side AS x, (h60 // side) % side AS y FROM (
        |    SELECT c_custkey AS id,
        |      ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h60,
        |      2582 * CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS side
        |    FROM customer, c) q),
        |eps_pairs AS (
        |  SELECT a.id AS a_id, b.id AS b_id
        |  FROM pts a JOIN pts b ON a.id < b.id
        |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000),
        |und AS (SELECT a_id AS id, b_id AS nb FROM eps_pairs
        |  UNION ALL SELECT b_id, a_id FROM eps_pairs),
        |core AS (SELECT id FROM und GROUP BY 1 HAVING COUNT(*) >= 3),
        |ce AS (
        |  SELECT u.id AS ea, u.nb AS eb FROM und u
        |  JOIN core c1 ON c1.id = u.id JOIN core c2 ON c2.id = u.nb),
        |reach(ra, rb) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT r.ra, e.eb FROM reach r JOIN ce e ON e.ea = r.rb),
        |corelab AS (SELECT ra AS id, MIN(rb) AS cluster FROM reach GROUP BY 1),
        |borderlab AS (
        |  SELECT u.id, MIN(cl.cluster) AS cluster
        |  FROM und u JOIN corelab cl ON cl.id = u.nb
        |  WHERE u.id NOT IN (SELECT id FROM core)
        |  GROUP BY 1),
        |lab AS (SELECT id, cluster, TRUE AS is_core FROM corelab
        |  UNION ALL SELECT id, cluster, FALSE FROM borderlab),
        |clus AS (
        |  SELECT CAST(cluster AS BIGINT) AS cluster_id,
        |    CAST(SUM(CASE WHEN is_core THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
        |    CAST(SUM(CASE WHEN is_core THEN 0 ELSE 1 END) AS BIGINT) AS n_border,
        |    COUNT(*) AS n_total
        |  FROM lab GROUP BY 1),
        |noi AS (
        |  SELECT CAST(-1 AS BIGINT) AS cluster_id, CAST(0 AS BIGINT) AS n_core,
        |    CAST(0 AS BIGINT) AS n_border,
        |    (SELECT COUNT(*) FROM pts WHERE id NOT IN (SELECT id FROM lab)) AS n_total)
        |SELECT * FROM clus UNION ALL SELECT * FROM noi ORDER BY cluster_id""".stripMargin,

    // brute-force within-radius pairs, symmetrized, same deterministic
    // (dist2, nb) window tie-break
    "join_spatial_knn" ->
      """WITH c AS (SELECT COUNT(*) AS n FROM customer),
        |pts AS (
        |  SELECT id, h60 % side AS x, (h60 // side) % side AS y FROM (
        |    SELECT c_custkey AS id,
        |      ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h60,
        |      2582 * CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS side
        |    FROM customer, c) q),
        |pairs AS (
        |  SELECT a.id AS a_id, b.id AS b_id,
        |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
        |  FROM pts a JOIN pts b ON a.id < b.id
        |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 250000),
        |sym AS (
        |  SELECT a_id AS id, b_id AS nb, dist2 FROM pairs
        |  UNION ALL SELECT b_id, a_id, dist2 FROM pairs)
        |SELECT id, CAST(rk AS BIGINT) AS rk, nb, dist2 FROM (
        |  SELECT id, nb, dist2,
        |    row_number() OVER (PARTITION BY id ORDER BY dist2, nb) AS rk
        |  FROM sym) q
        |WHERE rk <= 3 ORDER BY id, rk""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
        |        THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |        ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS mkt_share,
        |  COUNT(*) AS n_items
        |FROM region
        |JOIN nation cn ON cn.n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = cn.n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // original form: uncorrelated scalar subquery + correlated NOT EXISTS
    "q22_inactive_rich" ->
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0)
        |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q21_waiting_supplier" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,

    // the ORIGINAL correlated EXISTS with the cross-table comparison
    // inside the subquery; Spark runs the semi-join decorrelation
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the ORIGINAL IN + HAVING form that scans lineitem twice; Spark runs
    // the single-scan shared-aggregate rewrite
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    // the ORIGINAL left-outer + two-level aggregate form; the zero-order
    // bucket is the correctness tell
    // the ORIGINAL correlated form: per-part min-cost scalar subquery
    // re-evaluated per candidate row; Spark reuses ONE (part, supplier)
    // aggregate for both sides with an exact-decimal equality join
    "q2_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
        |         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'STANDARD'
        |  GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       CAST(cost AS DOUBLE) AS cost
        |FROM cost c
        |WHERE cost = (SELECT MIN(cost) FROM cost c2
        |              WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |         - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE)
        |    AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // the ORIGINAL group-HAVING-against-a-global-scalar form; both sides
    // exact decimal, the threshold cross-multiplied (never a float 0.001)
    "q11_important_parts" ->
      """WITH natl AS (
        |  SELECT l_partkey,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(4,0)) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7')
        |SELECT l_partkey AS p_partkey, CAST(SUM(val) AS DOUBLE) AS value
        |FROM natl GROUP BY 1
        |HAVING SUM(val) * 1000 > (SELECT SUM(val) FROM natl)
        |ORDER BY value DESC, p_partkey""".stripMargin,

    // the ORIGINAL NOT-IN form for the exclusion list
    "q16_parts_supplier_relationship" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // the ORIGINAL un-factored disjunction across the join — checks the
    // part-side predicate factoring is equivalence-preserving
    "q19_discounted_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // the ORIGINAL nested-IN + correlated-threshold form
    "q20_promotion_suppliers" ->
      """SELECT s_suppkey, s_name, s_acctbal, n_qualifying FROM (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_qualifying FROM (
        |    SELECT l_suppkey, l_partkey
        |    FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |    GROUP BY 1, 2
        |    HAVING 2 * SUM(CASE WHEN year(l_shipdate) = 1997
        |                   THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
        |         > SUM(CAST(l_quantity AS BIGINT))) q
        |  GROUP BY 1) qq
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |ORDER BY s_suppkey""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |                * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_late_lines" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_custkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // the ORIGINAL correlated form: the revenue view evaluated per
    // supplier AND inside the scalar MAX subquery; Spark reuses ONE
    // aggregate with an exact-decimal equality join
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    // the ORIGINAL disjunctive nation-pair form over the 6-table join
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(volume) AS DOUBLE) AS volume FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-07-01' AND l_shipdate > TIMESTAMP '1996-07-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |  JOIN customer ON c_nationkey = n_nationkey
        |  JOIN orders ON o_custkey = c_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "join_broadcast" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acct_total
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_anti_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e
        |  WHERE e.user_id = c.c_custkey AND e.event_type = 'purchase')
        |ORDER BY c_custkey""".stripMargin,

    "join_bucketed" ->
      """SELECT o_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "join_skew_salted" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "join_hybrid_skew" ->
      """WITH big AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS suppkey,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS qty
        |  FROM lineitem
        |), c AS (SELECT suppkey, COUNT(*) AS cnt FROM big GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS tot, COUNT(*) AS k FROM c),
        |hot AS (SELECT suppkey FROM c, t WHERE cnt * k >= 10 * tot)
        |SELECT s_nationkey, COUNT(*) AS n, CAST(SUM(qty) AS DOUBLE) AS sum_qty,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hot) AS n_hot_keys
        |FROM big JOIN supplier ON big.suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "join_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(value AS DECIMAL(12,2)) AS value FROM events),
        |w AS (SELECT event_id, user_id, ts_us, event_type,
        |    last_value(CASE WHEN event_type = 'purchase'
        |        THEN {'eid': event_id, 'val': value} END IGNORE NULLS)
        |      OVER win AS img
        |  FROM e WHERE event_type IN ('click', 'purchase')
        |  WINDOW win AS (PARTITION BY user_id
        |    ORDER BY ts_us, (event_type = 'purchase') DESC, event_id
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, ts_us, event_id,
        |  img.eid AS p_event_id, CAST(img.val AS DOUBLE) AS p_value
        |FROM w WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "join_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(value AS DECIMAL(12,2)) AS value FROM events),
        |w AS (SELECT event_id, user_id, ts_us, event_type,
        |    last_value(CASE WHEN event_type = 'purchase'
        |        THEN {'o': ts_us, 'eid': event_id, 'val': value} END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts_us, (event_type = 'purchase') DESC, event_id
        |            ROWS UNBOUNDED PRECEDING) AS b,
        |    first_value(CASE WHEN event_type = 'purchase'
        |        THEN {'o': ts_us, 'eid': event_id, 'val': value} END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts_us, (event_type = 'purchase') DESC, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
        |  FROM e WHERE event_type IN ('click', 'purchase')),
        |sel AS (SELECT user_id, ts_us, event_id, b, f,
        |    CASE WHEN b IS NULL AND f IS NULL THEN NULL
        |         WHEN f IS NULL THEN 'back'
        |         WHEN b IS NULL THEN 'fwd'
        |         WHEN ts_us - b.o <= f.o - ts_us THEN 'back'
        |         ELSE 'fwd' END AS dir
        |  FROM w WHERE event_type = 'click')
        |SELECT user_id, ts_us, event_id,
        |  CASE dir WHEN 'back' THEN b.eid WHEN 'fwd' THEN f.eid END AS p_event_id,
        |  CAST(CASE dir WHEN 'back' THEN b.val WHEN 'fwd' THEN f.val END AS DOUBLE) AS p_value,
        |  dir
        |FROM sel ORDER BY event_id""".stripMargin,

    "agg_distinct" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  COUNT(DISTINCT c_nationkey) AS n_nations,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acct_total
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
        |  quantile_cont(l_extendedprice, 0.75) AS p75_price,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sketch_distinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact, true AS ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the claims replay exactly: n_bitmap must equal count(DISTINCT), and
    // the first/last-day overlap is an INTERSECT count
    "bitmap_reaggregate" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, user_id FROM events),
        |bounds AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM ev GROUP BY 1),
        |n AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM ev GROUP BY 1),
        |got_both AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_both_days FROM (
        |    SELECT ev.event_type, user_id FROM ev JOIN bounds USING (event_type) WHERE day = d0
        |    INTERSECT
        |    SELECT ev.event_type, user_id FROM ev JOIN bounds USING (event_type) WHERE day = d1) q
        |  GROUP BY event_type)
        |SELECT n.event_type, n.n_exact, n.n_exact AS n_bitmap,
        |  true AS ok_merge_lossless, true AS ok_exact,
        |  COALESCE(g.n_both_days, 0) AS n_both_days
        |FROM n LEFT JOIN got_both g ON n.event_type = g.event_type
        |ORDER BY n.event_type""".stripMargin,

    "sketch_reaggregate" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  true AS ok_merge_lossless, true AS ok_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "reshape_quantile_norm" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rank
        |  FROM daily),
        |ng AS (SELECT COUNT(DISTINCT event_type) AS n_groups FROM daily),
        |rm AS (SELECT rank, SUM(cnt) AS rank_sum, COUNT(*) AS rank_n FROM ranked GROUP BY 1),
        |rm2 AS (SELECT rank, CAST(rank_sum AS DOUBLE) / CAST(rank_n AS DOUBLE) AS norm
        |        FROM rm, ng WHERE rank_n = n_groups)
        |SELECT event_type, day, cnt, CAST(rank AS BIGINT) AS rank, norm
        |FROM ranked JOIN rm2 USING (rank)
        |ORDER BY event_type, day""".stripMargin,

    "events_diversity" ->
      """WITH bu AS (
        |  SELECT event_type, user_id, COUNT(*) AS ni FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(ni) AS BIGINT) AS n,
        |  CAST(SUM(ni*ni) AS DOUBLE) / CAST(SUM(ni) * SUM(ni) AS DOUBLE) AS hhi,
        |  1.0 - CAST(SUM(ni*ni) AS DOUBLE) / CAST(SUM(ni) * SUM(ni) AS DOUBLE) AS simpson
        |FROM bu GROUP BY 1 ORDER BY 1""".stripMargin,

    "ml_feature_hash" ->
      """WITH ev AS (
        |  SELECT event_type || '-' || CAST(user_id % 100 AS VARCHAR) AS raw,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events)
        |SELECT ('0x' || substr(md5('fh-' || raw), 1, 15))::BIGINT % 64 AS bucket,
        |  COUNT(*) AS n_rows, CAST(SUM(label) AS BIGINT) AS n_pos,
        |  CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_features
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,

    // a DIFFERENT lag construction (rank self-join instead of lead()
    // windows); the cross-multiplied integer ACF form replays exactly,
    // the one IEEE division runs on int64-exact operands
    "events_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x*x) AS sxx
        |  FROM daily GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type, CAST(l.k AS BIGINT) AS lag, a.x AS x, b.x AS xk
        |  FROM ranked a
        |  JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) l(k) ON TRUE
        |  JOIN ranked b ON b.event_type = a.event_type AND b.r = a.r + l.k),
        |agg AS (
        |  SELECT event_type, lag, SUM(x*xk) AS sxy, SUM(x) AS hx,
        |    SUM(xk) AS tx, COUNT(*) AS m
        |  FROM pairs GROUP BY 1, 2)
        |SELECT a.event_type, a.lag, CAST(a.m AS BIGINT) AS n_pairs,
        |  CAST(n*n*sxy - n*s*(hx+tx) + m*s*s AS DOUBLE)
        |    / CAST(n*n*sxx - n*s*s AS DOUBLE) AS acf
        |FROM agg a JOIN tot t USING (event_type)
        |ORDER BY event_type, lag""".stripMargin,

    // the autocorr integer forms N1, N2, D themselves ride HUGEINT
    // (mirroring Spark's d19 DECIMAL promotion — the middle term
    // n·s·(hx+tx) sits within ~2× of int64 at sf10); every
    // HUGEINT→DOUBLE goes via VARCHAR to replay Spark's
    // DECIMAL(38,0)→double cast (sample_neyman convention)
    "events_pacf" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x*x) AS sxx
        |  FROM daily GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type, CAST(l.k AS BIGINT) AS lag, a.x AS x, b.x AS xk
        |  FROM ranked a
        |  JOIN (VALUES (1),(2)) l(k) ON TRUE
        |  JOIN ranked b ON b.event_type = a.event_type AND b.r = a.r + l.k),
        |agg AS (
        |  SELECT event_type, lag, SUM(x*xk) AS sxy, SUM(x) AS hx,
        |    SUM(xk) AS tx, COUNT(*) AS m
        |  FROM pairs GROUP BY 1, 2),
        |nk AS (
        |  SELECT a.event_type, a.lag, t.n,
        |    CAST(n AS HUGEINT)*n*sxy - CAST(n AS HUGEINT)*s*(hx+tx)
        |      + CAST(m AS HUGEINT)*s*s AS num,
        |    CAST(n AS HUGEINT)*n*sxx - CAST(n AS HUGEINT)*s*s AS den
        |  FROM agg a JOIN tot t USING (event_type)),
        |wide AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |    MAX(CASE WHEN lag = 1 THEN num END) AS n1,
        |    MAX(CASE WHEN lag = 2 THEN num END) AS n2,
        |    MAX(den) AS d
        |  FROM nk GROUP BY 1)
        |SELECT event_type, n_days,
        |  CAST(CAST(n1 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r1,
        |  CAST(CAST(n2 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r2,
        |  CASE WHEN d * d - n1 * n1 = 0
        |    THEN CAST(NULL AS DOUBLE)
        |    ELSE CAST(CAST(n2 * d - n1 * n1 AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(d * d - n1 * n1 AS VARCHAR) AS DOUBLE)
        |  END AS phi22
        |FROM wide ORDER BY event_type""".stripMargin,

    // the pacf integer machinery extended to lag 3; the Durbin-Levinson
    // chain is the SAME deterministic double expression tree Spark
    // evaluates — left-associated subtractions, one division per
    // reflection coefficient, no order-choosable sum anywhere
    "events_ar_fit" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x*x) AS sxx
        |  FROM daily GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type, CAST(l.k AS BIGINT) AS lag, a.x AS x, b.x AS xk
        |  FROM ranked a
        |  JOIN (VALUES (1),(2),(3)) l(k) ON TRUE
        |  JOIN ranked b ON b.event_type = a.event_type AND b.r = a.r + l.k),
        |agg AS (
        |  SELECT event_type, lag, SUM(x*xk) AS sxy, SUM(x) AS hx,
        |    SUM(xk) AS tx, COUNT(*) AS m
        |  FROM pairs GROUP BY 1, 2),
        |nk AS (
        |  SELECT a.event_type, a.lag, t.n,
        |    CAST(n AS HUGEINT)*n*sxy - CAST(n AS HUGEINT)*s*(hx+tx)
        |      + CAST(m AS HUGEINT)*s*s AS num,
        |    CAST(n AS HUGEINT)*n*sxx - CAST(n AS HUGEINT)*s*s AS den
        |  FROM agg a JOIN tot t USING (event_type)),
        |wide AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |    MAX(CASE WHEN lag = 1 THEN num END) AS n1,
        |    MAX(CASE WHEN lag = 2 THEN num END) AS n2,
        |    MAX(CASE WHEN lag = 3 THEN num END) AS n3,
        |    MAX(den) AS d
        |  FROM nk GROUP BY 1),
        |rs AS (
        |  SELECT event_type, n_days,
        |    CAST(CAST(n1 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r1,
        |    CAST(CAST(n2 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r2,
        |    CAST(CAST(n3 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r3
        |  FROM wide),
        |p2 AS (SELECT *, CASE WHEN 1.0 - r1*r1 = 0 THEN CAST(NULL AS DOUBLE)
        |    ELSE (r2 - r1*r1) / (1.0 - r1*r1) END AS phi22 FROM rs),
        |p21 AS (SELECT *, r1 - phi22*r1 AS phi21 FROM p2),
        |p3 AS (SELECT *, 1.0 - phi21*r1 - phi22*r2 AS den3 FROM p21),
        |p33 AS (SELECT *, CASE WHEN den3 = 0 THEN CAST(NULL AS DOUBLE)
        |    ELSE (r3 - phi21*r2 - phi22*r1) / den3 END AS phi33 FROM p3)
        |SELECT event_type, n_days, r1, r2, r3,
        |  phi21 - phi33*phi22 AS a1,
        |  phi22 - phi33*phi21 AS a2,
        |  phi33 AS a3,
        |  (1.0 - r1*r1) * (1.0 - phi22*phi22) * (1.0 - phi33*phi33) AS var_ratio
        |FROM p33 ORDER BY event_type""".stripMargin,

    // the autocorr integer machinery at lags 1..7; the 7-term Q sum is
    // written out left-associated in fixed k order, the chi-square
    // critical value is a shared literal
    "events_ljungbox" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x*x) AS sxx
        |  FROM daily GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type, CAST(l.k AS BIGINT) AS lag, a.x AS x, b.x AS xk
        |  FROM ranked a
        |  JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) l(k) ON TRUE
        |  JOIN ranked b ON b.event_type = a.event_type AND b.r = a.r + l.k),
        |agg AS (
        |  SELECT event_type, lag, SUM(x*xk) AS sxy, SUM(x) AS hx,
        |    SUM(xk) AS tx, COUNT(*) AS m
        |  FROM pairs GROUP BY 1, 2),
        |nk AS (
        |  SELECT a.event_type, a.lag, t.n,
        |    CAST(n AS HUGEINT)*n*sxy - CAST(n AS HUGEINT)*s*(hx+tx)
        |      + CAST(m AS HUGEINT)*s*s AS num,
        |    CAST(n AS HUGEINT)*n*sxx - CAST(n AS HUGEINT)*s*s AS den
        |  FROM agg a JOIN tot t USING (event_type)),
        |wide AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |    MAX(CASE WHEN lag = 1 THEN num END) AS n1,
        |    MAX(CASE WHEN lag = 2 THEN num END) AS n2,
        |    MAX(CASE WHEN lag = 3 THEN num END) AS n3,
        |    MAX(CASE WHEN lag = 4 THEN num END) AS n4,
        |    MAX(CASE WHEN lag = 5 THEN num END) AS n5,
        |    MAX(CASE WHEN lag = 6 THEN num END) AS n6,
        |    MAX(CASE WHEN lag = 7 THEN num END) AS n7,
        |    MAX(den) AS d
        |  FROM nk GROUP BY 1),
        |rs AS (
        |  SELECT event_type, n_days,
        |    CAST(CAST(n1 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r1,
        |    CAST(CAST(n2 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r2,
        |    CAST(CAST(n3 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r3,
        |    CAST(CAST(n4 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r4,
        |    CAST(CAST(n5 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r5,
        |    CAST(CAST(n6 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r6,
        |    CAST(CAST(n7 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r7
        |  FROM wide),
        |q AS (
        |  SELECT event_type, n_days,
        |    CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE) *
        |      (r1*r1 / CAST(n_days - 1 AS DOUBLE)
        |       + r2*r2 / CAST(n_days - 2 AS DOUBLE)
        |       + r3*r3 / CAST(n_days - 3 AS DOUBLE)
        |       + r4*r4 / CAST(n_days - 4 AS DOUBLE)
        |       + r5*r5 / CAST(n_days - 5 AS DOUBLE)
        |       + r6*r6 / CAST(n_days - 6 AS DOUBLE)
        |       + r7*r7 / CAST(n_days - 7 AS DOUBLE)) AS q_lb
        |  FROM rs)
        |SELECT event_type, n_days, q_lb, CAST(7 AS BIGINT) AS df,
        |  q_lb > 14.067140449340169 AS reject_white_noise
        |FROM q ORDER BY event_type""".stripMargin,

    "events_granger" -> eventsGrangerOracle,

    // the ar_fit coefficient chain + lag-window scoring; the AR residual
    // SSE replays Spark's day-ordered sort_array+aggregate fold via
    // SUM(sq ORDER BY day) (both sequential IEEE folds), the naive SSE
    // is exact BIGINT
    "events_ar_backtest" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x*x) AS sxx
        |  FROM daily GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type, CAST(l.k AS BIGINT) AS lag, a.x AS x, b.x AS xk
        |  FROM ranked a
        |  JOIN (VALUES (1),(2),(3)) l(k) ON TRUE
        |  JOIN ranked b ON b.event_type = a.event_type AND b.r = a.r + l.k),
        |agg AS (
        |  SELECT event_type, lag, SUM(x*xk) AS sxy, SUM(x) AS hx,
        |    SUM(xk) AS tx, COUNT(*) AS m
        |  FROM pairs GROUP BY 1, 2),
        |nk AS (
        |  SELECT a.event_type, a.lag, t.n, t.s,
        |    CAST(n AS HUGEINT)*n*sxy - CAST(n AS HUGEINT)*s*(hx+tx)
        |      + CAST(m AS HUGEINT)*s*s AS num,
        |    CAST(n AS HUGEINT)*n*sxx - CAST(n AS HUGEINT)*s*s AS den
        |  FROM agg a JOIN tot t USING (event_type)),
        |wide AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |    CAST(MAX(s) AS BIGINT) AS sum_x,
        |    MAX(CASE WHEN lag = 1 THEN num END) AS n1,
        |    MAX(CASE WHEN lag = 2 THEN num END) AS n2,
        |    MAX(CASE WHEN lag = 3 THEN num END) AS n3,
        |    MAX(den) AS d
        |  FROM nk GROUP BY 1),
        |rs AS (
        |  SELECT event_type,
        |    CAST(sum_x AS DOUBLE) / CAST(n_days AS DOUBLE) AS mu,
        |    CAST(CAST(n1 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r1,
        |    CAST(CAST(n2 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r2,
        |    CAST(CAST(n3 AS VARCHAR) AS DOUBLE) / CAST(CAST(d AS VARCHAR) AS DOUBLE) AS r3
        |  FROM wide),
        |p2 AS (SELECT *, CASE WHEN 1.0 - r1*r1 = 0 THEN CAST(NULL AS DOUBLE)
        |    ELSE (r2 - r1*r1) / (1.0 - r1*r1) END AS phi22 FROM rs),
        |p21 AS (SELECT *, r1 - phi22*r1 AS phi21 FROM p2),
        |p3 AS (SELECT *, 1.0 - phi21*r1 - phi22*r2 AS den3 FROM p21),
        |p33 AS (SELECT *, CASE WHEN den3 = 0 THEN CAST(NULL AS DOUBLE)
        |    ELSE (r3 - phi21*r2 - phi22*r1) / den3 END AS phi33 FROM p3),
        |coefs AS (
        |  SELECT event_type, mu, phi21 - phi33*phi22 AS a1,
        |    phi22 - phi33*phi21 AS a2, phi33 AS a3 FROM p33),
        |lagd AS (
        |  SELECT event_type, day, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS xm1,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS xm2,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS xm3
        |  FROM daily),
        |scored AS (
        |  SELECT l.event_type, l.day, l.x, l.xm1,
        |    mu + a1 * (CAST(xm1 AS DOUBLE) - mu)
        |       + a2 * (CAST(xm2 AS DOUBLE) - mu)
        |       + a3 * (CAST(xm3 AS DOUBLE) - mu) AS pred
        |  FROM lagd l JOIN coefs c USING (event_type)
        |  WHERE xm3 IS NOT NULL),
        |sq AS (
        |  SELECT event_type, day, x, xm1,
        |    (pred - CAST(x AS DOUBLE)) * (pred - CAST(x AS DOUBLE)) AS sq
        |  FROM scored)
        |SELECT event_type, COUNT(*) AS n_pred,
        |  SUM(sq ORDER BY day) AS sse_ar,
        |  CAST(SUM((x - xm1) * (x - xm1)) AS BIGINT) AS sse_naive,
        |  SUM(sq ORDER BY day)
        |    < CAST(CAST(SUM((x - xm1) * (x - xm1)) AS BIGINT) AS DOUBLE) AS improved
        |FROM sq GROUP BY 1 ORDER BY event_type""".stripMargin,

    // same pairwise frame; the Theil-Sen median replays via the identical
    // IEEE-double slope ordering with (d1, d2) tie-break and ceil-median
    "events_trend" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS y
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type,
        |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope,
        |    a.day AS d1, b.day AS d2
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND a.day < b.day),
        |ranked AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY slope, d1, d2) AS rn
        |  FROM pairs),
        |stats AS (
        |  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s, COUNT(*) AS m
        |  FROM pairs GROUP BY 1),
        |nd AS (SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1),
        |med AS (
        |  SELECT r.event_type, r.slope AS theil_sen_slope
        |  FROM ranked r JOIN stats t USING (event_type)
        |  WHERE r.rn = (t.m + 1) // 2)
        |SELECT event_type, n_days, s,
        |  CAST(s AS DOUBLE) / CAST(m AS DOUBLE) AS tau,
        |  theil_sen_slope, s > 0 AS trending_up
        |FROM stats JOIN nd USING (event_type) JOIN med USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // same 35-cell collapse; the index is one int64→double division
    "events_seasonality" ->
      """WITH ev AS (
        |  SELECT event_type, ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |cells AS (
        |  SELECT event_type, dow, COUNT(*) AS n_events,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents
        |  FROM ev GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS n_all,
        |    CAST(SUM(sum_cents) AS BIGINT) AS sum_all
        |  FROM cells GROUP BY 1)
        |SELECT event_type, dow, n_events,
        |  CAST(sum_cents * n_all AS DOUBLE) / CAST(n_events * sum_all AS DOUBLE)
        |    AS seasonal_index,
        |  sum_cents * n_all > n_events * sum_all AS above_average
        |FROM cells JOIN tot USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,

    // same cell-exploded equi-join and exact integer diamond test
    "join_spatial_polygon" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |pts AS (
        |  SELECT x, y, x // 2000 AS cx, y // 2000 AS cy FROM (
        |    SELECT h60 % side AS x, (h60 // side) % side AS y FROM (
        |      SELECT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h60,
        |        2582 * CAST(ceil(sqrt(CAST(nn.n AS DOUBLE))) AS BIGINT) AS side
        |      FROM customer, nn))),
        |poly AS (
        |  SELECT p.pid,
        |    ('0x' || substr(md5('poly-x-' || p.pid), 1, 15))::BIGINT
        |      % (2582 * CAST(ceil(sqrt(CAST(nn.n AS DOUBLE))) AS BIGINT)) AS cx0,
        |    ('0x' || substr(md5('poly-y-' || p.pid), 1, 15))::BIGINT
        |      % (2582 * CAST(ceil(sqrt(CAST(nn.n AS DOUBLE))) AS BIGINT)) AS cy0,
        |    ('0x' || substr(md5('poly-wx-' || p.pid), 1, 15))::BIGINT % 4000 + 6000 AS wx,
        |    ('0x' || substr(md5('poly-wy-' || p.pid), 1, 15))::BIGINT % 4000 + 6000 AS wy
        |  FROM (SELECT CAST(range AS BIGINT) AS pid FROM range(24)) p, nn),
        |cells AS (
        |  SELECT pid, cx0, cy0, wx, wy, gx.cxv AS cx, gy.cyv AS cy
        |  FROM poly,
        |    LATERAL (SELECT unnest(generate_series(
        |      GREATEST((cx0 - wx) // 2000, 0), (cx0 + wx) // 2000)) AS cxv) gx,
        |    LATERAL (SELECT unnest(generate_series(
        |      GREATEST((cy0 - wy) // 2000, 0), (cy0 + wy) // 2000)) AS cyv) gy),
        |hits AS (
        |  SELECT c.pid, COUNT(*) AS n_candidates,
        |    CAST(SUM(CASE WHEN abs(p.x - c.cx0) * c.wy + abs(p.y - c.cy0) * c.wx
        |      <= c.wx * c.wy THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
        |  FROM cells c JOIN pts p ON p.cx = c.cx AND p.cy = c.cy
        |  GROUP BY 1)
        |SELECT poly.pid, poly.wx, poly.wy,
        |  COALESCE(h.n_candidates, 0) AS n_candidates,
        |  COALESCE(h.n_inside, 0) AS n_inside
        |FROM poly LEFT JOIN hits h ON h.pid = poly.pid
        |ORDER BY poly.pid""".stripMargin,

    // BRUTE-FORCE ray cast — every point against every polygon's 8 edges,
    // no grid anywhere, so the hash match proves the Spark side's bbox
    // cell cover is complete; n_candidates replays the cell ranges
    // arithmetically. Same cross-multiplied crossing compares, exact ints.
    "join_spatial_polygon_concave" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |pts AS (
        |  SELECT id, x, y, x // 2000 AS cx, y // 2000 AS cy FROM (
        |    SELECT id, h60 % side AS x, (h60 // side) % side AS y FROM (
        |      SELECT CAST(c_custkey AS BIGINT) AS id,
        |        ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h60,
        |        2582 * CAST(ceil(sqrt(CAST(nn.n AS DOUBLE))) AS BIGINT) AS side
        |      FROM customer, nn))),
        |poly AS (
        |  SELECT p.pid,
        |    ('0x' || substr(md5('cpoly-x-' || p.pid), 1, 15))::BIGINT
        |      % (2582 * CAST(ceil(sqrt(CAST(nn.n AS DOUBLE))) AS BIGINT)) AS cx0,
        |    ('0x' || substr(md5('cpoly-y-' || p.pid), 1, 15))::BIGINT
        |      % (2582 * CAST(ceil(sqrt(CAST(nn.n AS DOUBLE))) AS BIGINT)) AS cy0,
        |    ('0x' || substr(md5('cpoly-wx-' || p.pid), 1, 15))::BIGINT % 4000 + 6000 AS wx,
        |    ('0x' || substr(md5('cpoly-wy-' || p.pid), 1, 15))::BIGINT % 4000 + 6000 AS wy
        |  FROM (SELECT CAST(range AS BIGINT) AS pid FROM range(24)) p, nn),
        |verts AS (
        |  SELECT pid, g.i,
        |    cx0 + CASE g.i WHEN 0 THEN wx WHEN 1 THEN wx // 3 WHEN 2 THEN 0
        |      WHEN 3 THEN -(wx // 3) WHEN 4 THEN -wx WHEN 5 THEN -(wx // 3)
        |      WHEN 6 THEN 0 ELSE wx // 3 END AS vx,
        |    cy0 + CASE g.i WHEN 0 THEN 0 WHEN 1 THEN wy // 3 WHEN 2 THEN wy
        |      WHEN 3 THEN wy // 3 WHEN 4 THEN 0 WHEN 5 THEN -(wy // 3)
        |      WHEN 6 THEN -wy ELSE -(wy // 3) END AS vy
        |  FROM poly, (SELECT CAST(range AS BIGINT) AS i FROM range(8)) g),
        |eds AS (
        |  SELECT a.pid, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
        |  FROM verts a JOIN verts b ON b.pid = a.pid AND b.i = (a.i + 1) % 8),
        |crossings AS (
        |  SELECT e.pid, p.id,
        |    SUM(CASE WHEN (e.y1 > p.y) <> (e.y2 > p.y) THEN
        |      CASE WHEN e.y2 > e.y1 THEN
        |        CASE WHEN (p.x - e.x1) * (e.y2 - e.y1)
        |               < (p.y - e.y1) * (e.x2 - e.x1) THEN 1 ELSE 0 END
        |      ELSE
        |        CASE WHEN (p.x - e.x1) * (e.y2 - e.y1)
        |               > (p.y - e.y1) * (e.x2 - e.x1) THEN 1 ELSE 0 END
        |      END ELSE 0 END) AS nc
        |  FROM pts p, eds e GROUP BY 1, 2),
        |inside AS (
        |  SELECT pid, CAST(SUM(nc % 2) AS BIGINT) AS n_inside
        |  FROM crossings GROUP BY 1),
        |bounds AS (
        |  SELECT pid, GREATEST((cx0 - wx) // 2000, 0) AS cxlo,
        |    (cx0 + wx) // 2000 AS cxhi,
        |    GREATEST((cy0 - wy) // 2000, 0) AS cylo,
        |    (cy0 + wy) // 2000 AS cyhi FROM poly),
        |cand AS (
        |  SELECT b.pid, COUNT(*) AS n_candidates
        |  FROM bounds b, pts p
        |  WHERE p.cx >= b.cxlo AND p.cx <= b.cxhi
        |    AND p.cy >= b.cylo AND p.cy <= b.cyhi
        |  GROUP BY 1)
        |SELECT poly.pid, poly.wx, poly.wy,
        |  COALESCE(cand.n_candidates, 0) AS n_candidates,
        |  COALESCE(i.n_inside, 0) AS n_inside
        |FROM poly LEFT JOIN cand ON cand.pid = poly.pid
        |  LEFT JOIN inside i ON i.pid = poly.pid
        |ORDER BY poly.pid""".stripMargin,

    // same sorted KM fold replayed step-by-step: one division + one
    // multiplication per death time, identical IEEE operation order
    "survival_km" ->
      """WITH RECURSIVE life AS (
        |  SELECT c.c_mktsegment AS segment,
        |    CAST(CAST(MAX(o.o_orderdate) AS DATE) - CAST(MIN(o.o_orderdate) AS DATE) AS BIGINT) AS t,
        |    CASE WHEN CAST(MAX(o.o_orderdate) AS DATE) < DATE '2001-01-01'
        |         THEN 1 ELSE 0 END AS e
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_mktsegment, o.o_custkey),
        |cells AS (
        |  SELECT segment, t, CAST(SUM(e) AS BIGINT) AS d, COUNT(*) AS tot
        |  FROM life GROUP BY 1, 2),
        |atrisk AS (
        |  SELECT segment, t, d,
        |    CAST(SUM(tot) OVER (PARTITION BY segment)
        |      - COALESCE(SUM(tot) OVER (PARTITION BY segment ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
        |  FROM cells),
        |ranked AS (
        |  SELECT segment, t, d, n,
        |    row_number() OVER (PARTITION BY segment ORDER BY t) AS r
        |  FROM atrisk WHERE d > 0),
        |km AS (
        |  SELECT segment, t, d, n, r,
        |    CAST(1.0 AS DOUBLE) * (CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)) AS s
        |  FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.segment, x.t, x.d, x.n, x.r,
        |    e.s * (CAST(x.n - x.d AS DOUBLE) / CAST(x.n AS DOUBLE))
        |  FROM km e JOIN ranked x ON x.segment = e.segment AND x.r = e.r + 1)
        |SELECT segment, t AS t_days, d AS n_deaths, n AS n_at_risk, s AS survival
        |FROM km ORDER BY segment, t_days""".stripMargin,

    // same life/at-risk frames as survival_km; the recurrence SUMS d/n
    // (one division + one addition per step, same fixed order)
    "survival_na" ->
      """WITH RECURSIVE life AS (
        |  SELECT c.c_mktsegment AS segment,
        |    CAST(CAST(MAX(o.o_orderdate) AS DATE) - CAST(MIN(o.o_orderdate) AS DATE) AS BIGINT) AS t,
        |    CASE WHEN CAST(MAX(o.o_orderdate) AS DATE) < DATE '2001-01-01'
        |         THEN 1 ELSE 0 END AS e
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_mktsegment, o.o_custkey),
        |cells AS (
        |  SELECT segment, t, CAST(SUM(e) AS BIGINT) AS d, COUNT(*) AS tot
        |  FROM life GROUP BY 1, 2),
        |atrisk AS (
        |  SELECT segment, t, d,
        |    CAST(SUM(tot) OVER (PARTITION BY segment)
        |      - COALESCE(SUM(tot) OVER (PARTITION BY segment ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
        |  FROM cells),
        |ranked AS (
        |  SELECT segment, t, d, n,
        |    row_number() OVER (PARTITION BY segment ORDER BY t) AS r
        |  FROM atrisk WHERE d > 0),
        |na AS (
        |  SELECT segment, t, d, n, r,
        |    CAST(0.0 AS DOUBLE) + (CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) AS h
        |  FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.segment, x.t, x.d, x.n, x.r,
        |    e.h + (CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE))
        |  FROM na e JOIN ranked x ON x.segment = e.segment AND x.r = e.r + 1)
        |SELECT segment, t AS t_days, d AS n_deaths, n AS n_at_risk, h AS cum_hazard
        |FROM na ORDER BY segment, t_days""".stripMargin,

    // same ntile total orders; the census is pure integer
    "customer_rfm" ->
      """WITH per AS (
        |  SELECT c.c_mktsegment AS segment, o.o_custkey,
        |    CAST(DATE '2001-08-01' - CAST(MAX(o.o_orderdate) AS DATE) AS BIGINT) AS recency,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT segment, cents,
        |    CAST(ntile(5) OVER (PARTITION BY segment ORDER BY recency, o_custkey) AS BIGINT) AS r_q,
        |    CAST(ntile(5) OVER (PARTITION BY segment ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_q,
        |    CAST(ntile(5) OVER (PARTITION BY segment ORDER BY cents DESC, o_custkey) AS BIGINT) AS m_q
        |  FROM per)
        |SELECT segment, r_q, f_q, m_q, COUNT(*) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS sum_monetary_cents
        |FROM scored GROUP BY 1, 2, 3, 4
        |ORDER BY segment, r_q, f_q, m_q""".stripMargin,

    // same scaled-ppb constants; HUGEINT numerators convert via VARCHAR
    // parse (the events_abtest lesson); χ² folds in digit order
    "profile_benford" ->
      """WITH RECURSIVE obs AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    COUNT(*) AS n_obs
        |  FROM orders GROUP BY 1),
        |e(digit, e_ppb) AS (VALUES (1, 301029996), (2, 176091259), (3, 124938737),
        |  (4, 96910013), (5, 79181246), (6, 66946790), (7, 57991947),
        |  (8, 51152522), (9, 45757491)),
        |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
        |terms AS (
        |  SELECT o.digit, o.n_obs, CAST(t.n * e.e_ppb AS BIGINT) AS expected_x1e9,
        |    CAST(CAST((CAST(o.n_obs AS HUGEINT) * 1000000000 - CAST(t.n AS HUGEINT) * e.e_ppb)
        |        * (CAST(o.n_obs AS HUGEINT) * 1000000000 - CAST(t.n AS HUGEINT) * e.e_ppb)
        |      AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(1000000000 AS HUGEINT) * t.n * e.e_ppb AS VARCHAR) AS DOUBLE)
        |      AS term
        |  FROM obs o JOIN e ON e.digit = o.digit, tot t),
        |ranked AS (
        |  SELECT digit, term, row_number() OVER (ORDER BY digit) AS r FROM terms),
        |acc AS (
        |  SELECT r, CAST(0.0 AS DOUBLE) + term AS s FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.r, a.s + x.term FROM acc a JOIN ranked x ON x.r = a.r + 1),
        |chi AS (SELECT s AS chi2 FROM acc ORDER BY r DESC LIMIT 1)
        |SELECT digit, n_obs, expected_x1e9, term, chi2,
        |  NOT (chi2 > 15.507313) AS conforms
        |FROM terms, chi ORDER BY digit""".stripMargin,

    // same triangle: MIN-month cohort join + one (cohort, age) keyed agg
    // same lag-per-customer gaps and ceil-rank walk
    "orders_order_gap" ->
      """WITH ord AS (
        |  SELECT c.c_mktsegment AS segment, o.o_custkey,
        |    CAST(o.o_orderdate AS DATE) AS d, o.o_orderkey
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |gaps AS (
        |  SELECT segment,
        |    CAST(d - lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
        |      AS BIGINT) AS gap_d
        |  FROM ord QUALIFY gap_d IS NOT NULL),
        |hist AS (SELECT segment, gap_d, COUNT(*) AS c FROM gaps GROUP BY 1, 2),
        |cum AS (SELECT segment, gap_d, c,
        |    CAST(SUM(c) OVER (PARTITION BY segment ORDER BY gap_d) AS BIGINT) AS cum
        |  FROM hist),
        |tot AS (SELECT segment, COUNT(*) AS n, CAST(SUM(gap_d) AS BIGINT) AS sg
        |  FROM gaps GROUP BY 1),
        |p50 AS (SELECT c.segment, MIN(c.gap_d) AS p50_days
        |  FROM cum c JOIN tot t USING (segment)
        |  WHERE c.cum >= (50 * t.n + 99) // 100 GROUP BY 1),
        |p90 AS (SELECT c.segment, MIN(c.gap_d) AS p90_days
        |  FROM cum c JOIN tot t USING (segment)
        |  WHERE c.cum >= (90 * t.n + 99) // 100 GROUP BY 1)
        |SELECT t.segment, t.n,
        |  CAST(t.sg AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_days,
        |  p50.p50_days, p90.p90_days
        |FROM tot t JOIN p50 USING (segment) JOIN p90 USING (segment)
        |ORDER BY t.segment""".stripMargin,

    // same order-keyed pair join; cosine/lift with the pinned sqrt finish
    "orders_itemsim" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |freq AS (SELECT pk, COUNT(*) AS f FROM op GROUP BY 1),
        |no AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM op),
        |co AS (
        |  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS cooc
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT pa, pb, cooc, fa.f AS fa, fb.f AS fb,
        |  CAST(cooc AS DOUBLE)
        |    / (sqrt(CAST(fa.f AS DOUBLE)) * sqrt(CAST(fb.f AS DOUBLE))) AS cosine,
        |  CAST(cooc * n_orders AS DOUBLE) / CAST(fa.f * fb.f AS DOUBLE) AS lift
        |FROM co JOIN freq fa ON fa.pk = co.pa JOIN freq fb ON fb.pk = co.pb, no
        |ORDER BY cooc DESC, pa, pb LIMIT 20""".stripMargin,

    "orders_cohort_ltv" ->
      """WITH om AS (
        |  SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |c AS (SELECT o_custkey, MIN(m) AS m0 FROM om GROUP BY 1)
        |SELECT m0 AS cohort_month, CAST(m - m0 AS BIGINT) AS age_months,
        |  CAST(COUNT(DISTINCT om.o_custkey) AS BIGINT) AS n_active,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents, COUNT(*) AS n_orders
        |FROM om JOIN c USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same nine integer sums; the Cramer determinants are exact integers
    // (HUGEINT here, DECIMAL(38,0) in Spark) so any exact evaluation
    // agrees, and the betas convert via VARCHAR parse
    "ml_logreg" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS h,
        |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS d,
        |    CASE WHEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) >= 2500
        |         THEN 1 ELSE -1 END AS t
        |  FROM events),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(h) AS BIGINT) AS sh, CAST(SUM(d) AS BIGINT) AS sd,
        |    CAST(SUM(h*h) AS BIGINT) AS shh, CAST(SUM(h*d) AS BIGINT) AS shd,
        |    CAST(SUM(d*d) AS BIGINT) AS sdd,
        |    CAST(SUM(t) AS BIGINT) AS b1, CAST(SUM(h*t) AS BIGINT) AS b2,
        |    CAST(SUM(d*t) AS BIGINT) AS b3
        |  FROM ev GROUP BY 1),
        |dets AS (
        |  SELECT event_type, n,
        |    CAST(n AS HUGEINT)*(CAST(shh AS HUGEINT)*sdd - CAST(shd AS HUGEINT)*shd)
        |      - CAST(sh AS HUGEINT)*(CAST(sh AS HUGEINT)*sdd - CAST(shd AS HUGEINT)*sd)
        |      + CAST(sd AS HUGEINT)*(CAST(sh AS HUGEINT)*shd - CAST(shh AS HUGEINT)*sd) AS det_a,
        |    CAST(b1 AS HUGEINT)*(CAST(shh AS HUGEINT)*sdd - CAST(shd AS HUGEINT)*shd)
        |      - CAST(sh AS HUGEINT)*(CAST(b2 AS HUGEINT)*sdd - CAST(shd AS HUGEINT)*b3)
        |      + CAST(sd AS HUGEINT)*(CAST(b2 AS HUGEINT)*shd - CAST(shh AS HUGEINT)*b3) AS det_0,
        |    CAST(n AS HUGEINT)*(CAST(b2 AS HUGEINT)*sdd - CAST(shd AS HUGEINT)*b3)
        |      - CAST(b1 AS HUGEINT)*(CAST(sh AS HUGEINT)*sdd - CAST(shd AS HUGEINT)*sd)
        |      + CAST(sd AS HUGEINT)*(CAST(sh AS HUGEINT)*b3 - CAST(b2 AS HUGEINT)*sd) AS det_1,
        |    CAST(n AS HUGEINT)*(CAST(shh AS HUGEINT)*b3 - CAST(b2 AS HUGEINT)*shd)
        |      - CAST(sh AS HUGEINT)*(CAST(sh AS HUGEINT)*b3 - CAST(b2 AS HUGEINT)*sd)
        |      + CAST(b1 AS HUGEINT)*(CAST(sh AS HUGEINT)*shd - CAST(shh AS HUGEINT)*sd) AS det_2
        |  FROM agg)
        |SELECT event_type, n,
        |  CAST(CAST(2*det_0 AS VARCHAR) AS DOUBLE) / CAST(CAST(det_a AS VARCHAR) AS DOUBLE) AS beta0,
        |  CAST(CAST(2*det_1 AS VARCHAR) AS DOUBLE) / CAST(CAST(det_a AS VARCHAR) AS DOUBLE) AS beta_hour,
        |  CAST(CAST(2*det_2 AS VARCHAR) AS DOUBLE) / CAST(CAST(det_a AS VARCHAR) AS DOUBLE) AS beta_dow
        |FROM dets ORDER BY event_type""".stripMargin,

    // same ≤8-edge min-plus semantics enumerated by a (node, cost, hops)
    // walk — algorithm vs definition, the graph_bfs convention weighted
    "graph_sssp" ->
      """WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS u FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT src, dst,
        |    ('0x' || substr(md5('w-' || src || '-' || dst), 1, 15))::BIGINT % 9 + 1 AS w
        |  FROM (
        |    SELECT u AS src, ('0x' || substr(md5('scc-a-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0
        |    UNION ALL
        |    SELECT u, ('0x' || substr(md5('scc-b-' || u), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE u % 7 <> 0)
        |  WHERE src <> dst),
        |walk AS MATERIALIZED (
        |  WITH RECURSIVE wk(node, cost, hops) AS (
        |    SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
        |    UNION
        |    SELECT e.dst, wk.cost + e.w, wk.hops + 1
        |    FROM wk JOIN edges e ON e.src = wk.node WHERE wk.hops < 8)
        |  SELECT node, MIN(cost) AS d FROM wk GROUP BY node),
        |reach AS (SELECT walk.node, walk.d FROM walk JOIN base ON walk.node = base.u)
        |SELECT d AS dist, COUNT(*) AS n_nodes FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    // mirrors the fixed IEEE operation order of the Spark expression
    // term-for-term; the argmin flag replays via the same
    // (gini, feature, bucket) top-1
    "ml_split_gini" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000 AS cents_b,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |cells AS (
        |  SELECT feature, bucket, COUNT(*) AS cn, SUM(label) AS cp FROM (
        |    SELECT 'cents' AS feature, cents_b AS bucket, label FROM ev
        |    UNION ALL SELECT 'hour', hour, label FROM ev
        |    UNION ALL SELECT 'dow', dow, label FROM ev) u
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT feature, bucket,
        |    SUM(cn) OVER (PARTITION BY feature ORDER BY bucket) AS nl,
        |    SUM(cp) OVER (PARTITION BY feature ORDER BY bucket) AS al,
        |    SUM(cn) OVER (PARTITION BY feature) AS n,
        |    SUM(cp) OVER (PARTITION BY feature) AS a
        |  FROM cells),
        |g AS (
        |  SELECT feature, bucket, nl, al, n, n - nl AS nr, a - al AS ar,
        |    (CAST(nl AS DOUBLE)
        |      - CAST(al*al + (nl-al)*(nl-al) AS DOUBLE) / CAST(nl AS DOUBLE)
        |      + CAST(n - nl AS DOUBLE)
        |      - CAST((a-al)*(a-al) + ((n-nl)-(a-al))*((n-nl)-(a-al)) AS DOUBLE)
        |        / CAST(n - nl AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS gini
        |  FROM stats WHERE nl < n),
        |best AS (SELECT feature, bucket FROM g ORDER BY gini, feature, bucket LIMIT 1)
        |SELECT g.feature, CAST(g.bucket AS BIGINT) AS threshold_bucket,
        |  CAST(nl AS BIGINT) AS n_left, CAST(al AS BIGINT) AS n_pos_left,
        |  CAST(nr AS BIGINT) AS n_right, CAST(ar AS BIGINT) AS n_pos_right,
        |  gini, (b.feature IS NOT NULL) AS is_best
        |FROM g LEFT JOIN best b ON g.feature = b.feature AND g.bucket = b.bucket
        |ORDER BY g.feature, threshold_bucket""".stripMargin,

    // three unrolled levels of the stump SQL (helper above): identical
    // cell aggs, prefix sums, IEEE impurity order, per-node argmin, and
    // nested-CASE split application — the DECISIONS and the VALUES both
    // hash-compare
    "ml_tree" -> mlTreeOracle,
    "ml_gbt" -> mlGbtOracle,
    "profile_correlation" -> profileCorrelationOracle,

    // one keyed agg per candidate FD; violations = Σ(distinct−1)
    "profile_fd" ->
      """WITH f1 AS (
        |  SELECT 'orderkey->custkey' AS fd, COUNT(*) AS n_groups,
        |    CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |    CAST(SUM(d - 1) AS BIGINT) AS n_extra_values,
        |    CAST(MAX(d) AS BIGINT) AS max_rhs_distinct
        |  FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS d
        |        FROM orders GROUP BY 1)),
        |f2 AS (
        |  SELECT 'custkey->orderpriority', COUNT(*),
        |    CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(d - 1) AS BIGINT), CAST(MAX(d) AS BIGINT)
        |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS d
        |        FROM orders GROUP BY 1)),
        |f3 AS (
        |  SELECT 'partkey->unitprice', COUNT(*),
        |    CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(d - 1) AS BIGINT), CAST(MAX(d) AS BIGINT)
        |  FROM (SELECT l_partkey, COUNT(DISTINCT
        |          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |            // CAST(l_quantity AS BIGINT)) AS d
        |        FROM lineitem GROUP BY 1)),
        |f4 AS (
        |  SELECT 'nationkey->regionkey', COUNT(*),
        |    CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(SUM(d - 1) AS BIGINT), CAST(MAX(d) AS BIGINT)
        |  FROM (SELECT c_nationkey, COUNT(DISTINCT n_regionkey) AS d
        |        FROM customer JOIN nation ON n_nationkey = c_nationkey
        |        GROUP BY 1)),
        |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |  UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
        |SELECT fd, n_groups, n_violating_groups, n_extra_values,
        |  max_rhs_distinct, n_violating_groups = 0 AS holds
        |FROM u ORDER BY fd""".stripMargin,

    // same ceil-rank Q1/Q3 from a plain window cumsum over the value
    // histogram, same doubled-integer Tukey fences
    "profile_outliers" ->
      """WITH cols AS (
        |  SELECT 'quantity' AS col0, CAST(l_quantity AS BIGINT) AS x FROM lineitem
        |  UNION ALL SELECT 'extendedprice_cents',
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'event_value_cents',
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) FROM events),
        |hist AS (SELECT col0, x, COUNT(*) AS c FROM cols GROUP BY 1, 2),
        |cum AS (SELECT col0, x, c,
        |    CAST(SUM(c) OVER (PARTITION BY col0 ORDER BY x) AS BIGINT) AS cum
        |  FROM hist),
        |tot AS (SELECT col0, COUNT(*) AS n, MIN(x) AS mn, MAX(x) AS mx
        |  FROM cols GROUP BY 1),
        |q1 AS (SELECT c.col0, MIN(c.x) AS q1 FROM cum c JOIN tot t USING (col0)
        |  WHERE c.cum >= (25 * t.n + 99) // 100 GROUP BY 1),
        |q3 AS (SELECT c.col0, MIN(c.x) AS q3 FROM cum c JOIN tot t USING (col0)
        |  WHERE c.cum >= (75 * t.n + 99) // 100 GROUP BY 1),
        |fen AS (
        |  SELECT cols.col0,
        |    CAST(SUM(CASE WHEN x * 2 < q1.q1 * 2 - (q3.q3 - q1.q1) * 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_out_low,
        |    CAST(SUM(CASE WHEN x * 2 > q3.q3 * 2 + (q3.q3 - q1.q1) * 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_out_high
        |  FROM cols JOIN q1 USING (col0) JOIN q3 USING (col0) GROUP BY 1)
        |SELECT t.col0 AS "column", t.n, t.mn AS min_v, t.mx AS max_v,
        |  q1.q1, q3.q3, fen.n_out_low, fen.n_out_high
        |FROM tot t JOIN q1 USING (col0) JOIN q3 USING (col0)
        |JOIN fen USING (col0)
        |ORDER BY t.col0""".stripMargin,

    // the tree key threaded through two unrolled stump levels; bag
    // membership replayed from the same md5 arithmetic
    "ml_forest" -> mlForestOracle,

    // same trained forest plus leaf-majority classes, nested-CASE
    // routing of every (row × tree), majority vote, confusion census
    "ml_forest_predict" -> mlForestPredictOracle,
    "ml_auc" -> mlAucOracle,
    "ml_confusion" -> mlConfusionOracle,
    "ml_cv" -> mlCvOracle,
    "ml_lift" -> mlLiftOracle,
    "ml_pr_auc" -> mlPrAucOracle,
    "ml_calibration" -> mlCalibrationOracle,

    // same contingency identity; the per-feature walk is a recursive CTE
    // adding bucket terms in the same ascending order
    "ml_chi2_select" ->
      """WITH RECURSIVE ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000 AS cents_b,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |cells AS (
        |  SELECT 'cents_b' AS feature, cents_b AS b, COUNT(*) AS nb,
        |    CAST(SUM(label) AS BIGINT) AS op FROM ev GROUP BY 2
        |  UNION ALL SELECT 'hour', hour, COUNT(*), CAST(SUM(label) AS BIGINT)
        |    FROM ev GROUP BY 2
        |  UNION ALL SELECT 'dow', dow, COUNT(*), CAST(SUM(label) AS BIGINT)
        |    FROM ev GROUP BY 2),
        |tot AS (
        |  SELECT feature, CAST(SUM(nb) AS BIGINT) AS n,
        |    CAST(SUM(op) AS BIGINT) AS p, COUNT(*) AS nbuckets
        |  FROM cells GROUP BY 1),
        |ranked AS (
        |  SELECT c.feature, c.nb, c.op, t.n, t.p, t.n - t.p AS q, t.nbuckets,
        |    row_number() OVER (PARTITION BY c.feature ORDER BY c.b) AS r
        |  FROM cells c JOIN tot t USING (feature)),
        |walk AS (
        |  SELECT feature, r, n, p, nbuckets,
        |    0.0 + (CAST(op * op AS DOUBLE) / CAST(nb * p AS DOUBLE)
        |      + CAST((nb - op) * (nb - op) AS DOUBLE) / CAST(nb * q AS DOUBLE)) AS t
        |  FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.feature, x.r, x.n, x.p, x.nbuckets,
        |    e.t + (CAST(x.op * x.op AS DOUBLE) / CAST(x.nb * x.p AS DOUBLE)
        |      + CAST((x.nb - x.op) * (x.nb - x.op) AS DOUBLE)
        |        / CAST(x.nb * x.q AS DOUBLE))
        |  FROM walk e JOIN ranked x ON x.feature = e.feature AND x.r = e.r + 1)
        |SELECT feature, nbuckets AS n_buckets, n, p,
        |  CAST(n AS DOUBLE) * t - CAST(n AS DOUBLE) AS chi2
        |FROM walk w WHERE r = nbuckets
        |ORDER BY chi2 DESC, feature""".stripMargin,

    // same contingency cells as chi2; the MI walk adds each bucket's
    // combined (pos + neg) term in the same ascending-bucket recursive
    // CTE, and ln is bit-identical cross-engine (Java Math.log vs DuckDB
    // ln, measured on order-sensitive ratios)
    "ml_mi_select" ->
      """WITH RECURSIVE ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000 AS cents_b,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |cells AS (
        |  SELECT 'cents_b' AS feature, cents_b AS b, COUNT(*) AS nb,
        |    CAST(SUM(label) AS BIGINT) AS op FROM ev GROUP BY 2
        |  UNION ALL SELECT 'hour', hour, COUNT(*), CAST(SUM(label) AS BIGINT)
        |    FROM ev GROUP BY 2
        |  UNION ALL SELECT 'dow', dow, COUNT(*), CAST(SUM(label) AS BIGINT)
        |    FROM ev GROUP BY 2),
        |tot AS (
        |  SELECT feature, CAST(SUM(nb) AS BIGINT) AS n,
        |    CAST(SUM(op) AS BIGINT) AS p, COUNT(*) AS nbuckets
        |  FROM cells GROUP BY 1),
        |ranked AS (
        |  SELECT c.feature, c.nb, c.op, t.n, t.p, t.n - t.p AS q, t.nbuckets,
        |    row_number() OVER (PARTITION BY c.feature ORDER BY c.b) AS r
        |  FROM cells c JOIN tot t USING (feature)),
        |walk AS (
        |  SELECT feature, r, n, p, nbuckets,
        |    0.0 + ((CASE WHEN op > 0 THEN CAST(op AS DOUBLE) / CAST(n AS DOUBLE)
        |        * ln(CAST(op * n AS DOUBLE) / CAST(nb * p AS DOUBLE))
        |      ELSE 0.0 END)
        |      + (CASE WHEN nb - op > 0
        |        THEN CAST(nb - op AS DOUBLE) / CAST(n AS DOUBLE)
        |          * ln(CAST((nb - op) * n AS DOUBLE) / CAST(nb * q AS DOUBLE))
        |      ELSE 0.0 END)) AS t
        |  FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.feature, x.r, x.n, x.p, x.nbuckets,
        |    e.t + ((CASE WHEN x.op > 0 THEN CAST(x.op AS DOUBLE) / CAST(x.n AS DOUBLE)
        |        * ln(CAST(x.op * x.n AS DOUBLE) / CAST(x.nb * x.p AS DOUBLE))
        |      ELSE 0.0 END)
        |      + (CASE WHEN x.nb - x.op > 0
        |        THEN CAST(x.nb - x.op AS DOUBLE) / CAST(x.n AS DOUBLE)
        |          * ln(CAST((x.nb - x.op) * x.n AS DOUBLE) / CAST(x.nb * x.q AS DOUBLE))
        |      ELSE 0.0 END))
        |  FROM walk e JOIN ranked x ON x.feature = e.feature AND x.r = e.r + 1)
        |SELECT feature, nbuckets AS n_buckets, n, p, t AS mi
        |FROM walk WHERE r = nbuckets
        |ORDER BY mi DESC, feature""".stripMargin,

    // the exact minimax characterization replayed relationally: pooled
    // means from inclusive prefix sums (range j..k = wp_k − wp_j + pos_j),
    // min over k ≥ i within each j ≤ i, then max over j — identical
    // correctly-rounded divisions, identical selections
    "ml_isotonic" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 5000 AS b,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |cells AS (SELECT b, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS pos
        |  FROM ev GROUP BY 1),
        |pref AS (
        |  SELECT b, n, pos,
        |    CAST(row_number() OVER (ORDER BY b) AS BIGINT) AS i,
        |    CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS wn,
        |    CAST(SUM(pos) OVER (ORDER BY b) AS BIGINT) AS wp
        |  FROM cells),
        |means AS (
        |  SELECT p1.i AS j, p2.i AS k,
        |    CAST(p2.wp - p1.wp + p1.pos AS DOUBLE) /
        |    CAST(p2.wn - p1.wn + p1.n AS DOUBLE) AS m
        |  FROM pref p1 JOIN pref p2 ON p2.i >= p1.i),
        |mins AS (
        |  SELECT ms.j, p.i, MIN(ms.m) AS mn
        |  FROM means ms JOIN pref p ON ms.j <= p.i AND ms.k >= p.i
        |  GROUP BY 1, 2),
        |iso AS (SELECT i, MAX(mn) AS iso_rate FROM mins GROUP BY 1)
        |SELECT p.b, p.n, p.pos,
        |  CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE) AS rate,
        |  iso.iso_rate
        |FROM pref p JOIN iso ON iso.i = p.i
        |ORDER BY p.b""".stripMargin,

    // one-pass sufficient statistics; HUGEINT products parsed to DOUBLE
    // via VARCHAR (the sample_neyman conversion convention) so the one
    // IEEE division per λ replays Spark's DECIMAL(38,0)→double cast
    "ml_ridge" -> {
      val lams = Seq(0L, 16L, 256L, 4096L)
      val sel = lams.map { lam =>
        s"""SELECT CAST($lam AS BIGINT) AS lam, CAST(n AS BIGINT) AS n, sx, sy,
           |  CAST(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
           |  / CAST(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
           |      + $lam * CAST(n AS HUGEINT) AS VARCHAR) AS DOUBLE) AS slope
           |FROM st""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT (epoch_ns(ts) // 3600000000000) % 24 AS x,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
         |  FROM events),
         |st AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
         |    CAST(SUM(x*x) AS BIGINT) AS sxx
         |  FROM e),
         |rl AS (
         |$sel)
         |SELECT lam, n, slope,
         |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE) AS intercept
         |FROM rl ORDER BY lam""".stripMargin
    },
    "events_stationary" -> eventsStationaryOracle,
    "sample_neyman" -> sampleNeymanOracle,

    // DIFFERENT prefix-sum construction (plain unpartitioned window
    // cumsum) feeding the same integer tick-crossing test
    "sample_pps" ->
      """WITH w AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS wt
        |  FROM orders),
        |cum AS (
        |  SELECT ok, wt, CAST(SUM(wt) OVER (ORDER BY ok) AS BIGINT) AS cum
        |  FROM w),
        |tot AS (SELECT MAX(cum) AS tw FROM cum)
        |SELECT ok, wt, cum, CAST((cum * 200) // tw AS BIGINT) AS tick
        |FROM cum, tot
        |WHERE (cum * 200) // tw > ((cum - wt) * 200) // tw
        |ORDER BY ok""".stripMargin,
    "ml_target_encode" ->
      """WITH e AS (SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |per AS (SELECT hour, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS sum_y
        |  FROM e GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_tot, CAST(SUM(label) AS BIGINT) AS sy_tot
        |  FROM e)
        |SELECT hour, n, sum_y,
        |  CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
        |  CAST(sum_y * n_tot + 10 * sy_tot AS DOUBLE)
        |    / CAST(n_tot * (n + 10) AS DOUBLE) AS enc
        |FROM per, t ORDER BY hour""".stripMargin,
    "graph_betweenness" -> graphBetweennessOracle,

    // the argmax-|T·P_k − k·S| estimator replayed with the same windows
    // and the same (d desc, day) total order — every output column exact
    "events_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, day, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY day) AS p,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS s,
        |    COUNT(*) OVER (PARTITION BY event_type) AS t,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS r
        |  FROM daily),
        |cand AS (
        |  SELECT event_type, day, abs(t * p - r * s) AS d, r, p,
        |    t - r AS nr, s - p AS sr
        |  FROM pre WHERE r < t)
        |SELECT event_type, day AS cp_day, CAST(d AS BIGINT) AS d_max,
        |  r AS n_left, CAST(p AS BIGINT) AS s_left,
        |  CAST(nr AS BIGINT) AS n_right, CAST(sr AS BIGINT) AS s_right
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY d DESC, day) AS rn FROM cand)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // replays the CUSUM excursion recurrence with a recursive CTE; the
    // integer mean and the 5μ/4 alarm threshold use the same truncating
    // division on both sides
    "events_cusum" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |mu AS (SELECT event_type, SUM(cnt) // COUNT(*) AS mu FROM daily GROUP BY 1),
        |ranked AS (
        |  SELECT d.event_type, d.day, d.cnt, m.mu,
        |    row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS r
        |  FROM daily d JOIN mu m ON d.event_type = m.event_type),
        |cu AS (
        |  SELECT event_type, day, cnt, mu, r,
        |    greatest(CAST(0 AS BIGINT), cnt - mu) AS s
        |  FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.cnt, x.mu, x.r,
        |    greatest(CAST(0 AS BIGINT), e.s + x.cnt - x.mu) AS s
        |  FROM cu e JOIN ranked x ON x.event_type = e.event_type AND x.r = e.r + 1)
        |SELECT event_type, day, cnt, CAST(mu AS BIGINT) AS mu, CAST(s AS BIGINT) AS cusum,
        |  s > (mu * 5) // 4 AS alarm
        |FROM cu ORDER BY event_type, day""".stripMargin,

    // replays the Holt level/trend recurrence with a recursive CTE;
    // DuckDB's integer `//` truncates toward zero exactly like Spark's
    // `div` (measured: −1 // 8 = 0), so the signed trend divides agree
    "events_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, day, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |h AS (
        |  SELECT event_type, day, cnt, r, cnt AS level, CAST(0 AS BIGINT) AS trend
        |  FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.cnt, x.r,
        |    (x.cnt + 7 * (e.level + e.trend)) // 8 AS level,
        |    (((x.cnt + 7 * (e.level + e.trend)) // 8 - e.level) + 7 * e.trend) // 8 AS trend
        |  FROM h e JOIN ranked x ON x.event_type = e.event_type AND x.r = e.r + 1)
        |SELECT event_type, day, cnt, CAST(level AS BIGINT) AS level, CAST(trend AS BIGINT) AS trend
        |FROM h ORDER BY event_type, day""".stripMargin,

    // same running-window composition; integer-exact cents
    "events_drawdown" ->
      """WITH t AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) - 2500 AS delta,
        |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) - 2500)
        |      OVER w AS cum
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (
        |  SELECT event_type, delta, cum,
        |    MAX(cum) OVER w2 AS peak
        |  FROM t
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(delta) AS BIGINT) AS final_pnl,
        |  CAST(MAX(cum) AS BIGINT) AS max_peak,
        |  CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    // sweep-line by definition: two delta rows per interval, keyed
    // collapse, keyed cumulative integration
    "orders_backlog" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS priority,
        |    DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS start_day,
        |    ('0x' || substr(md5('bk-' || o_orderkey), 1, 15))::BIGINT % 28 + 1 AS dur
        |  FROM orders),
        |deltas AS (
        |  SELECT priority, start_day AS day, CAST(1 AS BIGINT) AS d FROM base
        |  UNION ALL
        |  SELECT priority, start_day + dur AS day, CAST(-1 AS BIGINT) AS d FROM base)
        |SELECT priority, day, CAST(SUM(d) AS BIGINT) AS net,
        |  CAST(SUM(SUM(d)) OVER (PARTITION BY priority ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
        |FROM deltas GROUP BY priority, day
        |ORDER BY priority, day""".stripMargin,

    // same forward-gap weighting by definition via LEAD; exact decimal
    // weighted sum, one trailing IEEE division
    "events_twap" ->
      """WITH g AS (
        |  SELECT event_type, value,
        |    (LEAD(epoch_ns(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |      - epoch_ns(ts)) // 1000 AS dt_us
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_weighted,
        |  CAST(SUM(dt_us) AS BIGINT) AS span_us,
        |  CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) * dt_us) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(dt_us) AS BIGINT) AS DOUBLE) / 100.0 AS twap
        |FROM g WHERE dt_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical moment formulas over the same exact integer power sums;
    // m and v factored through CTEs so the IEEE expression trees match
    // the Column definitions operation-for-operation. Wide sums convert
    // to double via VARCHAR parse (fast_float, correctly rounded) because
    // DuckDB's direct hugeint->double cast double-rounds above 2^53,
    // while Spark's BigDecimal path rounds correctly (measured: 1-ulp
    // kurtosis drift with the direct cast)
    "events_moments" ->
      """WITH b AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(x*x) AS DECIMAL(38,0)) AS s2,
        |    CAST(SUM(x*x*x) AS DECIMAL(38,0)) AS s3,
        |    CAST(SUM(CAST(x*x AS HUGEINT) * (x*x)) AS DECIMAL(38,0)) AS s4
        |  FROM b GROUP BY event_type),
        |d AS (SELECT *, CAST(CAST(s1 AS VARCHAR) AS DOUBLE)/CAST(n AS DOUBLE) AS m FROM a),
        |e AS (SELECT *, CAST(CAST(s2 AS VARCHAR) AS DOUBLE)/CAST(n AS DOUBLE) - m*m AS v FROM d)
        |SELECT event_type, n, m/100.0 AS mean, v/10000.0 AS variance,
        |  (CAST(CAST(s3 AS VARCHAR) AS DOUBLE)/CAST(n AS DOUBLE) - 3.0*m*v - m*m*m)/(sqrt(v)*v) AS skewness,
        |  (CAST(CAST(s4 AS VARCHAR) AS DOUBLE)/CAST(n AS DOUBLE)
        |    - 4.0*m*(CAST(CAST(s3 AS VARCHAR) AS DOUBLE)/CAST(n AS DOUBLE))
        |    + 6.0*m*m*(CAST(CAST(s2 AS VARCHAR) AS DOUBLE)/CAST(n AS DOUBLE))
        |    - 3.0*m*m*m*m)/(v*v) - 3.0 AS kurtosis
        |FROM e ORDER BY event_type""".stripMargin,

    // replays the integer Holt-Winters recurrence with a recursive CTE
    // carrying the shifting 7-slot seasonal vector (phantom zeros cover
    // the warm-up rows exactly like the Spark HOF's size(acc) guard)
    "events_holtwinters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, day, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |h AS (
        |  SELECT event_type, day, cnt, r, cnt AS level,
        |    CAST(0 AS BIGINT) AS trend,
        |    CAST(0 AS BIGINT) AS sa, CAST(0 AS BIGINT) AS sb,
        |    CAST(0 AS BIGINT) AS sc, CAST(0 AS BIGINT) AS sd,
        |    CAST(0 AS BIGINT) AS se, CAST(0 AS BIGINT) AS sf,
        |    CAST(0 AS BIGINT) AS sg
        |  FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.cnt, x.r,
        |    ((x.cnt - e.sa) + 7 * (e.level + e.trend)) // 8 AS level,
        |    ((((x.cnt - e.sa) + 7 * (e.level + e.trend)) // 8 - e.level)
        |      + 7 * e.trend) // 8 AS trend,
        |    e.sb AS sa, e.sc AS sb, e.sd AS sc, e.se AS sd,
        |    e.sf AS se, e.sg AS sf,
        |    ((x.cnt - ((x.cnt - e.sa) + 7 * (e.level + e.trend)) // 8)
        |      + 7 * e.sa) // 8 AS sg
        |  FROM h e JOIN ranked x ON x.event_type = e.event_type AND x.r = e.r + 1)
        |SELECT event_type, day, cnt, CAST(level AS BIGINT) AS level,
        |  CAST(trend AS BIGINT) AS trend, CAST(sg AS BIGINT) AS season
        |FROM h ORDER BY event_type, day""".stripMargin,

    "events_rank_stats" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cnt,
        |  CAST(row_number() OVER w AS BIGINT) AS rk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(row_number() OVER w - 1 AS BIGINT) AS pct_num,
        |  CAST(COUNT(*) OVER (PARTITION BY event_type) - 1 AS BIGINT) AS pct_den
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY cnt DESC, day)
        |ORDER BY event_type, day""".stripMargin,

    // replays the integer EWMA recurrence with a recursive CTE over
    // per-type day ranks
    "events_ewma" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, day, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM daily),
        |ew AS (
        |  SELECT event_type, day, cnt, r, cnt AS ewma FROM ranked WHERE r = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.cnt, x.r, (7 * e.ewma + x.cnt) // 8 AS ewma
        |  FROM ew e JOIN ranked x ON x.event_type = e.event_type AND x.r = e.r + 1)
        |SELECT event_type, day, cnt, CAST(ewma AS BIGINT) AS ewma
        |FROM ew ORDER BY event_type, day""".stripMargin,

    "sketch_hist_reaggregate" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, value FROM events
        |), daily AS (
        |  SELECT event_type, day, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS cnt_day
        |  FROM ev GROUP BY 1, 2, 3
        |), merged AS (
        |  SELECT event_type, bucket, SUM(cnt_day) AS cnt FROM daily GROUP BY 1, 2
        |), direct AS (
        |  SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS cnt_direct
        |  FROM ev GROUP BY 1, 2
        |), est AS (
        |  SELECT event_type, MIN(bucket) AS p50_bucket FROM (
        |    SELECT event_type, bucket,
        |      SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |      SUM(cnt) OVER (PARTITION BY event_type) AS n
        |    FROM merged) t
        |  WHERE cum >= ceil(0.5 * n) GROUP BY 1
        |), cmp AS (
        |  SELECT COALESCE(m.event_type, d.event_type) AS event_type,
        |    COUNT(*) AS n_buckets,
        |    SUM(CASE WHEN m.cnt = d.cnt_direct THEN 1 ELSE 0 END) AS n_equal,
        |    SUM(m.cnt) AS n_rows
        |  FROM merged m FULL JOIN direct d
        |    ON m.event_type = d.event_type AND m.bucket = d.bucket
        |  GROUP BY 1
        |)
        |SELECT cmp.event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  n_equal = n_buckets AS ok_merge_lossless,
        |  (p50_bucket + 1) * 5.0 AS p50_est
        |FROM cmp JOIN est ON cmp.event_type = est.event_type
        |ORDER BY cmp.event_type""".stripMargin,

    // the estimate is replayed exactly: same md5 Kirsch-Mitzenmacher pair,
    // same (h1 + j*h2) % 1024 cells, MIN over depth-4 row sums — so `est`
    // hash-compares as a VALUE, not a claim
    "sketch_cms_reaggregate" ->
      """WITH ev AS (SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events),
        |c AS (SELECT event_type, uid, COUNT(*) AS n_exact FROM ev GROUP BY 1, 2),
        |h AS (SELECT DISTINCT uid,
        |        ('0x' || substr(md5(uid), 1, 15))::BIGINT AS h1,
        |        ('0x' || substr(md5(uid), 17, 15))::BIGINT * 2 + 1 AS h2
        |      FROM ev),
        |cells AS (
        |  SELECT c.event_type, u.j, (h.h1 + u.j * h.h2) % 1024 AS i,
        |         SUM(c.n_exact) AS cnt
        |  FROM c JOIN h USING (uid) CROSS JOIN UNNEST([0, 1, 2, 3]) AS u(j)
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                                   ORDER BY n_exact DESC, uid) AS rn FROM c),
        |top AS (SELECT event_type, uid, n_exact FROM r WHERE rn = 1),
        |est AS (
        |  SELECT t.event_type, CAST(MIN(cl.cnt) AS BIGINT) AS est
        |  FROM top t JOIN h USING (uid)
        |  CROSS JOIN UNNEST([0, 1, 2, 3]) AS u(j)
        |  JOIN cells cl ON cl.event_type = t.event_type AND cl.j = u.j
        |               AND cl.i = (h.h1 + u.j * h.h2) % 1024
        |  GROUP BY 1)
        |SELECT t.event_type, t.uid AS top_user, t.n_exact, e.est,
        |  true AS ok_merge_lossless, true AS ok_onesided, true AS ok_bound
        |FROM top t JOIN est e ON t.event_type = e.event_type
        |ORDER BY t.event_type""".stripMargin,

    // The oracle REPLAYS the whole rank sample: same md5-derived u, same
    // bottom-k-by-(u,v) selection, same integer-exact rank pick — so the
    // estimate VALUES hash-compare, not just claims. The DKW claims are
    // replayed with identical integer/decimal(38,0) arithmetic.
    "sketch_rank_reaggregate" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
        |    ('0x' || substr(md5(l_orderkey || '-' || l_linenumber), 1, 15))::BIGINT AS u
        |  FROM lineitem),
        |ranked AS (
        |  SELECT l_returnflag, v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY u, v) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM li),
        |kept AS (SELECT * FROM ranked WHERE rn <= 4096),
        |km AS (SELECT l_returnflag, n, COUNT(*) AS m FROM kept GROUP BY 1, 2),
        |byv AS (
        |  SELECT l_returnflag, v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS vr
        |  FROM kept),
        |qs AS (SELECT UNNEST([25, 50, 75, 95]) AS q_pct),
        |est AS (
        |  SELECT km.l_returnflag, q_pct, km.n, km.m, byv.v AS est
        |  FROM km CROSS JOIN qs
        |  JOIN byv ON byv.l_returnflag = km.l_returnflag
        |    AND byv.vr = (q_pct * km.m + 99) // 100),
        |rk AS (
        |  SELECT e.l_returnflag, e.q_pct,
        |    SUM(CASE WHEN li.v <= e.est THEN 1 ELSE 0 END) AS cnt_le,
        |    SUM(CASE WHEN li.v < e.est THEN 1 ELSE 0 END) AS cnt_lt
        |  FROM li JOIN est e ON li.l_returnflag = e.l_returnflag
        |  GROUP BY 1, 2)
        |SELECT e.l_returnflag, CAST(e.q_pct AS BIGINT) AS q_pct, e.est,
        |  CAST(e.n AS BIGINT) AS n, CAST(e.m AS BIGINT) AS m,
        |  true AS ok_merge_lossless,
        |  CASE WHEN e.q_pct * e.n - 100 * rk.cnt_le <= 0 THEN true
        |       ELSE CAST(e.q_pct * e.n - 100 * rk.cnt_le AS DECIMAL(38,0))
        |              * CAST(e.q_pct * e.n - 100 * rk.cnt_le AS DECIMAL(38,0)) * 2 * e.m
        |            <= CAST(150000 AS DECIMAL(38,0)) * e.n * e.n END AS ok_rank_lo,
        |  CASE WHEN 100 * rk.cnt_lt * e.m - e.q_pct * e.n * e.m - 100 * e.n <= 0 THEN true
        |       ELSE CAST(100 * rk.cnt_lt * e.m - e.q_pct * e.n * e.m - 100 * e.n AS DECIMAL(38,0))
        |              * CAST(100 * rk.cnt_lt * e.m - e.q_pct * e.n * e.m - 100 * e.n AS DECIMAL(38,0)) * 2
        |            <= CAST(150000 AS DECIMAL(38,0)) * e.n * e.n * e.m END AS ok_rank_hi
        |FROM est e JOIN rk ON e.l_returnflag = rk.l_returnflag AND e.q_pct = rk.q_pct
        |ORDER BY 1, 2""".stripMargin,

    // AMS counters replayed sign-by-sign from the same md5 bits; the
    // median-of-9 estimate is a deterministic integer, so it's COMPARED;
    // merge-losslessness is integer-sum associativity, oracle emits true
    "sketch_ams_f2" ->
      ("""WITH ev AS (
        |  SELECT event_type, user_id,
        |    ('0x' || substr(md5('ams-' || user_id), 1, 15))::BIGINT AS h
        |  FROM events),
        |m AS (
        |  SELECT event_type,
        |""".stripMargin +
        (0 until 9).map(j =>
          s"    CAST(SUM(1 - 2 * ((h // ${1L << j}) % 2)) AS BIGINT) AS m$j")
          .mkString(",\n") + "\n" +
      """  FROM ev GROUP BY 1),
        |ex AS (
        |  SELECT event_type, CAST(SUM(cnt * cnt) AS BIGINT) AS f2_exact,
        |    CAST(SUM(cnt) AS BIGINT) AS n_rows
        |  FROM (SELECT event_type, user_id, COUNT(*) AS cnt
        |        FROM events GROUP BY 1, 2) GROUP BY 1)
        |SELECT m.event_type, n_rows, f2_exact,
        |  CAST(list_sort([""".stripMargin +
        (0 until 9).map(j => s"m$j * m$j").mkString(", ") +
      """])[5] AS BIGINT) AS est_median,
        |  true AS ok_merge_lossless
        |FROM m JOIN ex ON m.event_type = ex.event_type
        |ORDER BY m.event_type""".stripMargin),

    "sketch_kmv" ->
      """WITH d AS (
        |  SELECT DISTINCT event_type, user_id,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events
        |), n AS (SELECT event_type, COUNT(*) AS nd FROM d GROUP BY 1),
        |p AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    COUNT(*) AS n_inter
        |  FROM d x JOIN d y ON x.user_id = y.user_id AND x.day = y.day
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT type_a, type_b,
        |  CAST(na.nd AS BIGINT) AS n_a, CAST(nb.nd AS BIGINT) AS n_b,
        |  CAST(p.n_inter AS BIGINT) AS n_inter,
        |  CAST(na.nd + nb.nd - p.n_inter AS BIGINT) AS n_union,
        |  true AS ok_a, true AS ok_b, true AS ok_union, true AS ok_inter
        |FROM p JOIN n na ON type_a = na.event_type
        |       JOIN n nb ON type_b = nb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    "agg_quantile_hist" ->
      """WITH nq AS (
        |  SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1
        |), tgt AS (
        |  SELECT l_returnflag, q, CAST(CEIL(q * n) AS BIGINT) AS r
        |  FROM nq CROSS JOIN (SELECT UNNEST([CAST('0.25' AS DECIMAL(3,2)),
        |    CAST('0.50' AS DECIMAL(3,2)), CAST('0.75' AS DECIMAL(3,2)),
        |    CAST('0.95' AS DECIMAL(3,2))]) AS q) qs
        |), hist AS (
        |  SELECT l_returnflag, CAST(FLOOR(l_extendedprice / 512.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2
        |), cum AS (
        |  SELECT l_returnflag, bucket,
        |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum
        |  FROM hist
        |), est AS (
        |  SELECT t.l_returnflag, t.q, (MIN(c.bucket) + 1) * 512.0 AS est
        |  FROM tgt t JOIN cum c ON c.l_returnflag = t.l_returnflag AND c.cum >= t.r
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn
        |  FROM lineitem
        |), ex AS (
        |  SELECT t.l_returnflag, t.q, r.v AS exact_v
        |  FROM tgt t JOIN ranked r ON r.l_returnflag = t.l_returnflag AND r.rn = t.r
        |)
        |SELECT e.l_returnflag, CAST(e.q AS DOUBLE) AS q, e.est, x.exact_v,
        |  (x.exact_v >= e.est - 512.0 AND x.exact_v <= e.est) AS ok
        |FROM est e JOIN ex x ON x.l_returnflag = e.l_returnflag AND x.q = e.q
        |ORDER BY 1, 2""".stripMargin,

    "window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    // three unrolled Lloyd rounds: assignment = cross join + row_number
    // argmin (ties to lowest j, matching the when-chain), update =
    // floor-divided integer means with COALESCE empty-cluster guard —
    // every comparison exact BIGINT on both engines
    "ml_kmeans" ->
      """WITH pts AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    16384 + 32768*((CAST(c_custkey AS BIGINT) % 4) % 2)
        |      + (('0x' || substr(md5('kmx-' || c_custkey), 1, 15))::BIGINT % 8193 - 4096) AS px,
        |    16384 + 32768*((CAST(c_custkey AS BIGINT) % 4) // 2)
        |      + (('0x' || substr(md5('kmy-' || c_custkey), 1, 15))::BIGINT % 8193 - 4096) AS py
        |  FROM customer),
        |c0 AS (SELECT CAST(j AS BIGINT) AS j, CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy
        |  FROM (VALUES (1, 8192, 8192), (2, 24576, 24576),
        |               (3, 40960, 40960), (4, 57344, 57344)) t(j, cx, cy)),
        |a1 AS (SELECT k, px, py, j AS cluster FROM (
        |  SELECT p.k, p.px, p.py, c.j, ROW_NUMBER() OVER (PARTITION BY p.k
        |    ORDER BY (p.px-c.cx)*(p.px-c.cx)+(p.py-c.cy)*(p.py-c.cy), c.j) AS rn
        |  FROM pts p CROSS JOIN c0 c) x WHERE rn = 1),
        |u1 AS (SELECT cluster AS j, SUM(px) // COUNT(*) AS cx, SUM(py) // COUNT(*) AS cy
        |  FROM a1 GROUP BY cluster),
        |c1 AS (SELECT c0.j, COALESCE(u1.cx, c0.cx) AS cx, COALESCE(u1.cy, c0.cy) AS cy
        |  FROM c0 LEFT JOIN u1 ON c0.j = u1.j),
        |a2 AS (SELECT k, px, py, j AS cluster FROM (
        |  SELECT p.k, p.px, p.py, c.j, ROW_NUMBER() OVER (PARTITION BY p.k
        |    ORDER BY (p.px-c.cx)*(p.px-c.cx)+(p.py-c.cy)*(p.py-c.cy), c.j) AS rn
        |  FROM pts p CROSS JOIN c1 c) x WHERE rn = 1),
        |u2 AS (SELECT cluster AS j, SUM(px) // COUNT(*) AS cx, SUM(py) // COUNT(*) AS cy
        |  FROM a2 GROUP BY cluster),
        |c2 AS (SELECT c1.j, COALESCE(u2.cx, c1.cx) AS cx, COALESCE(u2.cy, c1.cy) AS cy
        |  FROM c1 LEFT JOIN u2 ON c1.j = u2.j),
        |a3 AS (SELECT k, px, py, j AS cluster, dd FROM (
        |  SELECT p.k, p.px, p.py, c.j,
        |    (p.px-c.cx)*(p.px-c.cx)+(p.py-c.cy)*(p.py-c.cy) AS dd,
        |    ROW_NUMBER() OVER (PARTITION BY p.k
        |    ORDER BY (p.px-c.cx)*(p.px-c.cx)+(p.py-c.cy)*(p.py-c.cy), c.j) AS rn
        |  FROM pts p CROSS JOIN c2 c) x WHERE rn = 1)
        |SELECT cluster, COUNT(*) AS n_points,
        |  CAST(SUM(px) AS BIGINT) // COUNT(*) AS cx,
        |  CAST(SUM(py) AS BIGINT) // COUNT(*) AS cy,
        |  CAST(SUM(dd) AS BIGINT) AS inertia
        |FROM a3 GROUP BY cluster ORDER BY cluster""".stripMargin,

    // ground truth by definition: NOT EXISTS strict-dominance — a
    // completely different formulation from the bucketed prefilter +
    // per-bucket window plan
    "skyline_pareto" ->
      """WITH pts AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents,
        |    DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_day
        |  FROM orders)
        |SELECT p.o_orderkey, p.price_cents, p.order_day
        |FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.price_cents <= p.price_cents AND q.order_day >= p.order_day
        |    AND (q.price_cents < p.price_cents OR q.order_day > p.order_day))
        |ORDER BY price_cents, o_orderkey""".stripMargin,

    "sort_limit" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_grouping_sets" ->
      """WITH li AS (SELECT *, CAST(year(l_shipdate) AS BIGINT) AS ship_year
        |  FROM lineitem)
        |SELECT l_returnflag, l_linestatus, ship_year,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  CAST(GROUPING(ship_year) AS BIGINT) AS g_sy,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM li
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
        |ORDER BY g_rf, g_ls, g_sy,
        |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
        |  ship_year NULLS FIRST""".stripMargin,

    "json_schema_infer" ->
      """WITH p AS (SELECT
        |    CASE WHEN event_id % 4 = 0 THEN '{"k": ' || CAST(user_id % 100 AS VARCHAR)
        |           || ', "tag": "' || event_type || '"}'
        |         WHEN event_id % 4 = 1 THEN '{"k": ' || CAST(user_id % 100 AS VARCHAR)
        |           || '.5, "flag": ' || (CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END) || '}'
        |         WHEN event_id % 4 = 2 THEN '{"k": ' || CAST(user_id % 100 AS VARCHAR)
        |           || ', "nested": {"d": 1}}'
        |         ELSE '{"k": "' || CAST(user_id % 100 AS VARCHAR) || '"}'
        |    END AS j
        |  FROM events),
        |kt AS (SELECT u.k AS key,
        |    CASE json_type(p.j, '$."' || u.k || '"')
        |      WHEN 'UBIGINT' THEN 'int' WHEN 'BIGINT' THEN 'int'
        |      WHEN 'DOUBLE' THEN 'double' WHEN 'VARCHAR' THEN 'string'
        |      WHEN 'BOOLEAN' THEN 'boolean' WHEN 'OBJECT' THEN 'object'
        |      WHEN 'ARRAY' THEN 'array' ELSE 'null' END AS jtype
        |  FROM p, UNNEST(json_keys(p.j)) AS u(k)),
        |c AS (SELECT key, jtype, COUNT(*) AS n FROM kt GROUP BY 1, 2),
        |d AS (SELECT key, COUNT(DISTINCT jtype) AS n_types FROM kt GROUP BY 1)
        |SELECT c.key, c.jtype, c.n, d.n_types, d.n_types > 1 AS drifted
        |FROM c JOIN d USING (key) ORDER BY key, jtype""".stripMargin,

    "cdc_envelope" ->
      """SELECT event_id, 'r' AS op, epoch_ms(ts) AS ts_ms, 'events' AS source_table,
        |  user_id AS after_user_id, event_type AS after_event_type, value AS after_value,
        |  CAST(NULL AS BIGINT) AS before_user_id, CAST(NULL AS VARCHAR) AS before_event_type,
        |  CAST(NULL AS DOUBLE) AS before_value
        |FROM events ORDER BY event_id""".stripMargin,

    "cdc_before_after" ->
      """SELECT user_id,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1 THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
        |  epoch_ms(ts) AS ts_ms, 'events' AS source_table,
        |  event_type AS after_event_type, value AS after_value,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS before_event_type,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS before_value
        |FROM events ORDER BY user_id, ts_ms""".stripMargin,

    "cdc_schema" ->
      """SELECT event_id, 'r' AS op, epoch_ms(ts) AS ts_ms, 'events' AS source_table,
        |  '{"type":"struct","fields":[{"type":"struct","fields":[{"type":"int64","optional":true,"field":"user_id"},{"type":"string","optional":true,"field":"event_type"},{"type":"double","optional":true,"field":"value"},{"type":"int64","optional":true,"field":"ts","name":"io.debezium.time.MicroTimestamp"},{"type":"int32","optional":true,"field":"event_date","name":"io.debezium.time.Date"},{"type":"bytes","optional":true,"field":"price","name":"org.apache.kafka.connect.data.Decimal","parameters":{"scale":"2","connect.decimal.precision":"12"}}],"optional":false,"field":"after"}]}' AS schema_json,
        |  user_id AS after_user_id, event_type AS after_event_type, value AS after_value,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS after_ts,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS after_event_date,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS after_price
        |FROM events ORDER BY event_id""".stripMargin,

    "cdc_merge_into" ->
      """WITH tgt AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |src AS (SELECT
        |    CASE WHEN o_orderkey % 11 = 3 THEN o_orderkey + 10000000000 ELSE o_orderkey END AS k,
        |    CASE WHEN o_orderkey % 13 = 2 THEN 'd'
        |         WHEN o_orderkey % 11 = 3 THEN 'i'
        |         WHEN o_orderkey % 7 = 1 THEN 'u' END AS op,
        |    CAST(o_totalprice AS DECIMAL(12,2)) + 10 AS new_price
        |  FROM orders),
        |src2 AS (SELECT * FROM src WHERE op IS NOT NULL),
        |m AS (SELECT t.price, s.op, s.new_price
        |  FROM tgt t FULL JOIN src2 s ON t.k = s.k),
        |r AS (SELECT *,
        |    CASE WHEN op IS NULL THEN 'keep'
        |         WHEN price IS NOT NULL AND op = 'd' THEN 'delete'
        |         WHEN price IS NOT NULL THEN 'update'
        |         WHEN op = 'i' THEN 'insert'
        |         ELSE 'no_match_skip' END AS action
        |  FROM m),
        |r2 AS (SELECT *,
        |    CASE WHEN action = 'keep' THEN price
        |         WHEN action = 'update' THEN new_price
        |         WHEN action = 'insert' THEN new_price END AS out_price
        |  FROM r)
        |SELECT action, COUNT(*) AS n FROM r2 GROUP BY action
        |UNION ALL
        |SELECT 'post_state', COUNT(*) FROM r2 WHERE out_price IS NOT NULL
        |UNION ALL
        |SELECT 'post_price_cents', CAST(SUM(CAST(out_price * 100 AS BIGINT)) AS BIGINT)
        |FROM r2 WHERE out_price IS NOT NULL
        |ORDER BY action""".stripMargin,

    "cdc_latest_state" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value, epoch_ms(ts) AS last_ts_ms
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "cdc_handoff" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value, epoch_ms(ts) AS last_ts_ms
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,

    "cdc_scd2" ->
      """SELECT user_id, event_id, event_type, epoch_ms(ts) AS valid_from,
        |  lead(epoch_ms(ts)) OVER w AS valid_to,
        |  lead(epoch_ms(ts)) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    // same journey chain and 8 scaled-integer rounds, unrolled over the
    // scenario×state grid; only the share is an IEEE division
    "events_attribution_markov" -> (
      """WITH seq0 AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS j
        |  FROM events),
        |rows2 AS (
        |  SELECT user_id, j, event_type AS from_s,
        |    lead(event_type) OVER wj AS to_next,
        |    row_number() OVER wj AS rn
        |  FROM seq0
        |  WINDOW wj AS (PARTITION BY user_id, j ORDER BY epoch_ns(ts), event_id)),
        |trans AS (
        |  SELECT from_s, to_s, COUNT(*) AS n FROM (
        |    SELECT from_s, to_next AS to_s FROM rows2 WHERE to_next IS NOT NULL
        |    UNION ALL SELECT '__start', from_s FROM rows2 WHERE rn = 1
        |    UNION ALL SELECT from_s, '__end' FROM rows2
        |      WHERE to_next IS NULL AND from_s <> 'purchase')
        |  GROUP BY 1, 2),
        |marg AS (SELECT from_s, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY 1),
        |grid AS (
        |  SELECT sc.scen, st.state
        |  FROM (VALUES ('__base'), ('click'), ('error'), ('signup'), ('view')) sc(scen),
        |    (VALUES ('__start'), ('click'), ('error'), ('purchase'), ('signup'),
        |      ('view'), ('__end')) st(state)),
        |p0 AS (
        |  SELECT scen, state,
        |    CAST(CASE WHEN state = 'purchase' THEN 1000000000 ELSE 0 END AS BIGINT) AS p
        |  FROM grid),
        |""".stripMargin +
      (1 to 8).map(markovLevel).mkString(",\n") +
      """,
        |basep AS (SELECT p AS base_p FROM p8 WHERE scen = '__base' AND state = '__start'),
        |eff AS (
        |  SELECT scen AS channel, p AS removed_p,
        |    (SELECT base_p FROM basep) - p AS effect
        |  FROM p8 WHERE scen <> '__base' AND state = '__start'),
        |tote AS (SELECT CAST(SUM(effect) AS BIGINT) AS s FROM eff)
        |SELECT channel, (SELECT base_p FROM basep) AS base_p_x1e9,
        |  removed_p AS removed_p_x1e9, effect AS removal_effect_x1e9,
        |  CAST(effect AS DOUBLE) / CAST((SELECT s FROM tote) AS DOUBLE) AS share
        |FROM eff ORDER BY channel""".stripMargin),

    // same two top-1 frames joined; epoch-ms integers throughout
    "cdc_bitemporal" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000 AS eff_ms,
        |    epoch_ns(ts) // 1000000 +
        |      ('0x' || substr(md5('lag-' || event_id), 1, 15))::BIGINT % 259200000
        |      AS ingest_ms
        |  FROM events
        |  WHERE epoch_ns(ts) // 1000000 <= 1705708800000),
        |known AS (
        |  SELECT user_id, event_id, event_type, eff_ms, ingest_ms FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY eff_ms DESC, event_id DESC) AS rn
        |    FROM ev WHERE ingest_ms <= 1705881600000) WHERE rn = 1),
        |truth AS (
        |  SELECT user_id, event_id AS true_event_id FROM (
        |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY eff_ms DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1)
        |SELECT k.user_id, k.event_id, k.event_type, k.eff_ms, k.ingest_ms,
        |  t.true_event_id <> k.event_id AS superseded_later
        |FROM known k JOIN truth t ON t.user_id = k.user_id
        |ORDER BY k.user_id""".stripMargin,

    // full recompute over ALL events — the hash match proves the
    // key-scoped incremental backfill equals the rebuild
    "cdc_scd2_backfill" ->
      """SELECT user_id, event_id, event_type, epoch_ms(ts) AS valid_from,
        |  lead(epoch_ms(ts)) OVER w AS valid_to,
        |  lead(epoch_ms(ts)) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_ttl_dedup" ->
      """WITH ks AS (SELECT DISTINCT user_id AS k FROM events),
        |surv AS (
        |  SELECT k, CAST(k*7 % 1000 AS BIGINT) AS val, CAST(t.m AS BIGINT) AS ts_min
        |  FROM ks CROSS JOIN (VALUES (0),(90)) AS t(m)
        |  UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-7 AS BIGINT), CAST(60 AS BIGINT)
        |  UNION ALL SELECT CAST(-2 AS BIGINT), CAST(-14 AS BIGINT), CAST(61 AS BIGINT))
        |SELECT k, val, ts_min FROM surv ORDER BY k, ts_min""".stripMargin,

    "mongo_change" ->
      """WITH t AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'error' THEN 'delete'
        |         WHEN event_type = 'purchase' THEN 'insert' ELSE 'update' END AS op_type,
        |    substr(md5(CAST(event_id AS VARCHAR)), 1, 24) AS oid,
        |    user_id, event_type, value, epoch_ms(ts) AS ms
        |  FROM events),
        |j AS (
        |  SELECT event_id,
        |    '{"operationType":"' || op_type || '","ns":{"db":"graft","coll":"events"},"documentKey":{"_id":{"$oid":"' || oid || '"}}' ||
        |    CASE WHEN op_type = 'delete' THEN '' ELSE
        |      ',"fullDocument":{"_id":{"$oid":"' || oid || '"},"user_id":{"$numberLong":"' || CAST(user_id AS VARCHAR) ||
        |      '"},"event_type":"' || event_type || '","value":' || CAST(value AS VARCHAR) ||
        |      ',"ts":{"$date":{"$numberLong":"' || CAST(ms AS VARCHAR) || '"}}}' END
        |    || '}' AS mongo_json
        |  FROM t)
        |SELECT event_id, mongo_json,
        |  CASE json_extract_string(mongo_json, '$.operationType')
        |    WHEN 'insert' THEN 'c' WHEN 'update' THEN 'u' WHEN 'replace' THEN 'u'
        |    WHEN 'delete' THEN 'd' END AS op,
        |  json_extract_string(mongo_json, '$.ns.coll') AS coll,
        |  json_extract_string(mongo_json, '$.documentKey._id."$oid"') AS oid,
        |  CAST(json_extract_string(mongo_json, '$.fullDocument.user_id."$numberLong"') AS BIGINT) AS doc_user_id,
        |  json_extract_string(mongo_json, '$.fullDocument.event_type') AS doc_event_type,
        |  CAST(json_extract_string(mongo_json, '$.fullDocument.value') AS DOUBLE) AS doc_value,
        |  CAST(json_extract_string(mongo_json, '$.fullDocument.ts."$date"."$numberLong"') AS BIGINT) AS doc_ts_ms
        |FROM j ORDER BY event_id""".stripMargin,

    "convert_temporal" ->
      """WITH d AS (SELECT *,
        |    CASE WHEN event_id % 11 = 0 THEN '0000-00-00 00:00:00'
        |      WHEN event_id % 11 = 1 THEN '2024-00-' ||
        |        lpad(CAST(event_id % 28 + 1 AS VARCHAR), 2, '0') || ' 10:30:00'
        |      ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') END AS dt_str
        |  FROM events),
        |z AS (SELECT *, (length(dt_str) >= 10 AND (
        |    regexp_matches(substr(dt_str, 1, 10), '^0+-[^-]*-[^-]*$') OR
        |    regexp_matches(substr(dt_str, 1, 10), '^\d*[1-9]\d*-0+-[^-]*$') OR
        |    regexp_matches(substr(dt_str, 1, 10), '^\d*[1-9]\d*-\d*[1-9]\d*-0+$'))) AS dt_zero
        |  FROM d)
        |SELECT event_id,
        |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_days,
        |  epoch_ms(ts) AS ts_ms_epoch,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us_epoch,
        |  epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000 AS micros_of_day,
        |  CAST(CAST(ts AS DATE) AS VARCHAR) AS iso_date,
        |  regexp_replace(regexp_replace(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%f'), '0+$', ''), '\.$', '') || 'Z' AS zoned_ts,
        |  CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS yr,
        |  dt_str,
        |  dt_zero,
        |  CASE WHEN NOT dt_zero THEN epoch_ms(CAST(dt_str AS TIMESTAMP)) END AS dt_ms
        |FROM z ORDER BY event_id""".stripMargin,

    "convert_duration" ->
      """WITH t AS (SELECT event_id, (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000) * 1000 AS tod,
        |    (event_id % 100000) - 50000 AS iv,
        |    ((event_id % 100000) - 50000) * 100000 AS iv_wide
        |  FROM events)
        |SELECT event_id,
        |  CAST(tod // 1000000 AS INTEGER) AS dur_ms,
        |  tod // 1000 AS dur_us,
        |  tod AS dur_ns,
        |  CASE WHEN iv BETWEEN -32768 AND 32767 THEN CAST(iv AS SMALLINT) END AS i16,
        |  iv BETWEEN -32768 AND 32767 AS i16_ok,
        |  CASE WHEN iv_wide BETWEEN -2147483648 AND 2147483647 THEN CAST(iv_wide AS INTEGER) END AS i32,
        |  iv_wide BETWEEN -2147483648 AND 2147483647 AS i32_ok
        |FROM t ORDER BY event_id""".stripMargin,

    "convert_decimal" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS dec_str,
        |  CAST(CAST(o_totalprice AS DECIMAL(26,2)) * 100 AS BIGINT) AS unscaled,
        |  upper(to_hex(CAST(CAST(o_totalprice AS DECIMAL(26,2)) * 100 AS BIGINT))) AS unscaled_hex
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "convert_money" ->
      """WITH t AS (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(26,2)) * 100 AS BIGINT) u FROM orders),
        |g AS (SELECT o_orderkey, u // 100 AS d, u % 100 AS c FROM t)
        |SELECT o_orderkey,
        |  '$' || CASE WHEN d < 1000 THEN CAST(d AS VARCHAR)
        |    WHEN d < 1000000 THEN CAST(d // 1000 AS VARCHAR) || ',' || lpad(CAST(d % 1000 AS VARCHAR), 3, '0')
        |    ELSE CAST(d // 1000000 AS VARCHAR) || ',' || lpad(CAST((d // 1000) % 1000 AS VARCHAR), 3, '0') || ',' || lpad(CAST(d % 1000 AS VARCHAR), 3, '0') END
        |    || '.' || lpad(CAST(c AS VARCHAR), 2, '0') AS money_input,
        |  CAST(d AS VARCHAR) || '.' || lpad(CAST(c AS VARCHAR), 2, '0') AS parsed_str
        |FROM g ORDER BY o_orderkey""".stripMargin,

    "convert_json" ->
      """SELECT event_id, k_val, props_len, k_val * k_val AS k_sq FROM (
        |  SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |    CAST(len(props) AS BIGINT) AS props_len
        |  FROM events) t ORDER BY event_id""".stripMargin,

    "convert_interval_hstore" ->
      """WITH t AS (SELECT event_id,
        |    CAST(user_id % 30 AS VARCHAR) || ' days ' ||
        |    lpad(CAST(event_id % 24 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(user_id % 60 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') AS iv,
        |    '"lang"=>"en", "score"=>"' || CAST(value AS VARCHAR) || '"' AS hs
        |  FROM events),
        |p AS (SELECT event_id, iv, hs,
        |    CAST(regexp_extract(iv, '(\d+) days?', 1) AS BIGINT) AS iv_days,
        |    (CAST(regexp_extract(iv, '(\d{2}):(\d{2}):(\d{2})', 1) AS BIGINT) * 3600 +
        |     CAST(regexp_extract(iv, '(\d{2}):(\d{2}):(\d{2})', 2) AS BIGINT) * 60 +
        |     CAST(regexp_extract(iv, '(\d{2}):(\d{2}):(\d{2})', 3) AS BIGINT)) * 1000000 AS iv_micros
        |  FROM t)
        |SELECT event_id, iv, hs, iv_days, iv_micros,
        |  iv_days * 86400000000 + iv_micros AS iv_total_us,
        |  regexp_extract(hs, '"lang"=>"([^"]*)"', 1) AS hs_lang,
        |  CAST(regexp_extract(hs, '"score"=>"([^"]*)"', 1) AS DOUBLE) AS hs_score,
        |  CAST(NULL AS VARCHAR) AS hs_missing
        |FROM p ORDER BY event_id""".stripMargin,

    "convert_timetz" ->
      """WITH t AS (SELECT event_id,
        |    (CASE WHEN event_id % 97 = 0 THEN '25'
        |          ELSE lpad(CAST(user_id % 24 AS VARCHAR), 2, '0') END)
        |    || ':' || lpad(CAST(event_id % 60 AS VARCHAR), 2, '0')
        |    || ':' || lpad(CAST((user_id + event_id) % 60 AS VARCHAR), 2, '0')
        |    || (CASE WHEN event_id % 3 = 1 THEN '.' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
        |             WHEN event_id % 3 = 2 THEN '.' || lpad(CAST(user_id % 1000000 AS VARCHAR), 6, '0')
        |             ELSE '' END)
        |    || (CASE WHEN event_id % 89 = 0 THEN ''
        |             ELSE (CASE WHEN event_id % 2 = 0 THEN '+' ELSE '-' END)
        |               || lpad(CAST(event_id % 12 AS VARCHAR), 2, '0') END) AS ttz
        |  FROM events),
        |p AS (SELECT event_id, ttz,
        |    regexp_matches(ttz, '^\d{2}:\d{2}:\d{2}(\.\d{3}|\.\d{6})?[+-]\d{2}$') AS shp,
        |    CAST(substr(ttz, 1, 2) AS INT) AS h,
        |    CAST(substr(ttz, 4, 2) AS INT) AS mi,
        |    CAST(substr(ttz, 7, 2) AS INT) AS se,
        |    regexp_extract(ttz, '\.(\d+)', 1) AS fr,
        |    CASE WHEN regexp_extract(ttz, '([+-])\d{2}$', 1) = '+' THEN 1 ELSE -1 END AS sgn,
        |    CASE WHEN regexp_extract(ttz, '[+-](\d{2})$', 1) = '' THEN NULL
        |         ELSE CAST(regexp_extract(ttz, '[+-](\d{2})$', 1) AS INT) END AS oh
        |  FROM t),
        |q AS (SELECT event_id, ttz,
        |    shp AND h <= 23 AND mi <= 59 AND se <= 59 AND oh <= 23 AS valid,
        |    (((h*3600 + mi*60 + se - sgn*oh*3600) % 86400) + 86400) % 86400 AS utc_sec,
        |    CASE WHEN fr = '' THEN 0
        |         WHEN length(fr) = 3 THEN CAST(fr AS INT) * 1000
        |         ELSE CAST(fr AS INT) END AS frus
        |  FROM p)
        |SELECT event_id, ttz,
        |  CASE WHEN valid THEN
        |    lpad(CAST(utc_sec // 3600 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST((utc_sec % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
        |    lpad(CAST(utc_sec % 60 AS VARCHAR), 2, '0') || '.' ||
        |    lpad(CAST(frus AS VARCHAR), 6, '0') || 'Z'
        |  END AS ttz_utc
        |FROM q ORDER BY event_id""".stripMargin,

    "convert_uuid_bits" ->
      """WITH b AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 97 = 0 THEN '2' || bin(c_custkey)
        |      WHEN c_custkey % 89 = 0 THEN lpad(bin(c_custkey), 40, '0')
        |      ELSE bin(c_custkey) END AS bv_input
        |  FROM customer),
        |v AS (SELECT c_custkey, bv_input,
        |    CASE WHEN regexp_matches(bv_input, '^[01]+$') AND length(bv_input) <= 32 THEN
        |      list_sum(list_transform(range(0, length(bv_input)), i ->
        |        CASE WHEN substr(bv_input, CAST(length(bv_input) - i AS INT), 1) = '1'
        |          THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END))
        |    END AS v
        |  FROM b)
        |SELECT c_custkey,
        |  substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) || '-' ||
        |  substr(md5(CAST(c_custkey AS VARCHAR)), 9, 4) || '-' ||
        |  substr(md5(CAST(c_custkey AS VARCHAR)), 13, 4) || '-' ||
        |  substr(md5(CAST(c_custkey AS VARCHAR)), 17, 4) || '-' ||
        |  substr(md5(CAST(c_custkey AS VARCHAR)), 21, 12) AS uuid,
        |  CAST((c_custkey >> 0) & 1 AS BIGINT) AS bit0,
        |  CAST((c_custkey >> 3) & 1 AS BIGINT) AS bit3,
        |  CAST(bit_count(c_custkey) AS BIGINT) AS pop,
        |  bv_input,
        |  CASE WHEN v IS NOT NULL THEN
        |    (CASE WHEN (v >> 0) > 0 THEN lpad(upper(to_hex(v & 255)), 2, '0') ELSE '' END) ||
        |    (CASE WHEN (v >> 8) > 0 THEN lpad(upper(to_hex((v >> 8) & 255)), 2, '0') ELSE '' END) ||
        |    (CASE WHEN (v >> 16) > 0 THEN lpad(upper(to_hex((v >> 16) & 255)), 2, '0') ELSE '' END) ||
        |    (CASE WHEN (v >> 24) > 0 THEN lpad(upper(to_hex((v >> 24) & 255)), 2, '0') ELSE '' END)
        |  END AS bv_hex
        |FROM v ORDER BY c_custkey""".stripMargin,

    "convert_pg_misc" ->
      """SELECT c_custkey,
        |  c_custkey AS arr_0, CAST(c_nationkey AS BIGINT) AS arr_1,
        |  CAST(2 AS BIGINT) AS arr_n,
        |  to_base64(unhex(upper(substr(md5(c_name), 1, 16)))) AS wkb_b64
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "convert_guid_msgkey" ->
      """WITH g AS (SELECT c_custkey,
        |    upper(md5(CAST(c_custkey AS VARCHAR))) AS h FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 = 3 THEN 'd' ELSE 'u' END AS op,
        |  substr(h,7,2)||substr(h,5,2)||substr(h,3,2)||substr(h,1,2) || '-' ||
        |  substr(h,11,2)||substr(h,9,2) || '-' ||
        |  substr(h,15,2)||substr(h,13,2) || '-' ||
        |  substr(h,17,4) || '-' || substr(h,21,12) AS guid,
        |  '{"schema":{"type":"struct","fields":[{"type":"int64","optional":true,"field":"c_custkey"}]},"payload":{"c_custkey":'
        |    || CAST(c_custkey AS VARCHAR) || '}}' AS msg_key
        |FROM g ORDER BY c_custkey""".stripMargin,

    "convert_enum_array" ->
      """SELECT c_custkey,
        |  CAST(CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
        |    WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3 WHEN 'MACHINERY' THEN 4
        |    ELSE -1 END AS BIGINT) AS seg_idx,
        |  concat_ws(',',
        |    CASE WHEN ((c_custkey % 32) >> 0) & 1 = 1 THEN 'red' END,
        |    CASE WHEN ((c_custkey % 32) >> 1) & 1 = 1 THEN 'green' END,
        |    CASE WHEN ((c_custkey % 32) >> 2) & 1 = 1 THEN 'blue' END,
        |    CASE WHEN ((c_custkey % 32) >> 3) & 1 = 1 THEN 'alpha' END,
        |    CASE WHEN ((c_custkey % 32) >> 4) & 1 = 1 THEN 'beta' END) AS set_str,
        |  array_to_string([c_custkey, CAST(c_nationkey AS BIGINT)], ',') AS arr_str,
        |  CAST(2 AS BIGINT) AS arr_len,
        |  'POINT(' || CAST(c_nationkey AS VARCHAR) || ' ' || CAST(c_custkey AS VARCHAR) || ')' AS geom_wkt,
        |  CAST(regexp_extract('POINT(' || CAST(c_nationkey AS VARCHAR) || ' ' || CAST(c_custkey AS VARCHAR) || ')',
        |    'POINT\(([0-9]+) ([0-9]+)\)', 1) AS BIGINT) AS geom_x,
        |  CAST(regexp_extract('POINT(' || CAST(c_nationkey AS VARCHAR) || ' ' || CAST(c_custkey AS VARCHAR) || ')',
        |    'POINT\(([0-9]+) ([0-9]+)\)', 2) AS BIGINT) AS geom_y
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "gtid_resume" ->
      """WITH g AS (SELECT event_id,
        |    CAST(user_id % 8 AS VARCHAR) || ':' || CAST(event_id AS VARCHAR) AS gtid
        |  FROM events),
        |p AS (SELECT event_id, gtid, string_split(gtid, ':')[1] AS sid,
        |    CAST(string_split(gtid, ':')[2] AS BIGINT) AS txid FROM g),
        |seen(sid, highest) AS (SELECT * FROM (VALUES
        |  ('0', 5000), ('1', 2500), ('2', 9999999), ('3', 1)) v)
        |SELECT p.event_id, p.gtid, p.sid, p.txid
        |FROM p LEFT JOIN seen ON p.sid = seen.sid
        |WHERE seen.highest IS NULL OR p.txid >= seen.highest
        |ORDER BY p.event_id""".stripMargin,

    "binlog_resume" ->
      """WITH t AS (SELECT event_id,
        |    CAST(user_id % 4 AS VARCHAR) AS okey,
        |    'binlog.' || lpad(CAST(event_id // 4000 + 1 AS VARCHAR), 6, '0') AS file,
        |    (event_id % 4000) * 8 + 4 AS pos
        |  FROM events),
        |seen(okey, wfile, wpos) AS (SELECT * FROM (VALUES
        |  ('0', 'binlog.000002', 16004), ('1', 'binlog.000001', 20000),
        |  ('2', 'binlog.000099', 4)) v)
        |SELECT t.event_id, t.okey, t.file, t.pos
        |FROM t LEFT JOIN seen ON t.okey = seen.okey
        |WHERE seen.wfile IS NULL OR t.file > seen.wfile
        |  OR (t.file = seen.wfile AND t.pos >= seen.wpos)
        |ORDER BY t.event_id""".stripMargin,

    "shard_resume" ->
      """WITH t AS (SELECT event_id,
        |    'shard-' || CAST(user_id % 6 AS VARCHAR) AS shard_id,
        |    CAST(event_id AS VARCHAR) AS seq
        |  FROM events),
        |seen(shard_id, last_seq, processed) AS (SELECT * FROM (VALUES
        |  ('shard-0', '5000', false), ('shard-1', '999', false),
        |  ('shard-2', NULL, false), ('shard-4', '17', true)) v)
        |SELECT t.event_id, t.shard_id, t.seq
        |FROM t LEFT JOIN seen ON t.shard_id = seen.shard_id
        |WHERE NOT coalesce(seen.processed, false)
        |  AND (seen.last_seq IS NULL
        |    OR len(t.seq) > len(seen.last_seq)
        |    OR (len(t.seq) = len(seen.last_seq) AND t.seq > seen.last_seq))
        |ORDER BY t.event_id""".stripMargin,

    "schema_evolution" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS amount,
        |  'new' AS flag,
        |  CAST(NULL AS BIGINT) AS amount_cents,
        |  'events_v2' AS table_name
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_events" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, CAST(ts AS DATE) ORDER BY event_type, day""".stripMargin,

    "sink_shard_export" ->
      """WITH l AS (
        |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard_id,
        |    doc_id,
        |    CAST(doc_id AS VARCHAR) || chr(9) || md5(text) AS line
        |  FROM documents
        |), sh AS (
        |  SELECT shard_id, COUNT(*) AS n_docs,
        |    string_agg(line, chr(10) ORDER BY doc_id) AS content
        |  FROM l GROUP BY shard_id
        |)
        |SELECT shard_id, n_docs,
        |  CAST(octet_length(encode(content)) AS BIGINT) AS n_bytes,
        |  md5(content) AS content_md5
        |FROM sh ORDER BY shard_id""".stripMargin,

    "sink_batch" ->
      """SELECT l_orderkey // 2048 AS batch_id, COUNT(*) AS n_rows,
        |  CAST(MIN(l_orderkey) AS BIGINT) AS min_pk, CAST(MAX(l_orderkey) AS BIGINT) AS max_pk
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_enrich" ->
      """WITH dim AS (SELECT c_custkey % 150 AS ukey, MIN(c_mktsegment) AS segment
        |  FROM customer GROUP BY c_custkey % 150)
        |SELECT d.segment, e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d ON e.user_id % 150 = d.ukey
        |GROUP BY d.segment, e.event_type ORDER BY segment, event_type""".stripMargin,

    "stream_watermark_agg" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE date_trunc('day', ts) + INTERVAL 1 DAY
        |  <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    "stream_join" ->
      """SELECT c.user_id, epoch_us(c.ts) AS c_ts_us, c.event_id AS c_id,
        |  epoch_us(p.ts) AS p_ts_us, p.event_id AS p_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  -- compare at µs like the Spark side (ns-resolution bounds would
        |  -- disagree on sub-µs boundary cases)
        |  AND epoch_us(p.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
        |ORDER BY c_id, p_id""".stripMargin,

    "stream_outer_join" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) AS m),
        |matched AS (
        |  SELECT c.user_id, epoch_us(c.ts) AS c_ts_us, c.event_id AS c_id,
        |    epoch_us(p.ts) AS p_ts_us, p.event_id AS p_id
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND epoch_us(p.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
        |), evicted AS (
        |  SELECT c.user_id, epoch_us(c.ts) AS c_ts_us, c.event_id AS c_id,
        |    CAST(NULL AS BIGINT) AS p_ts_us, CAST(NULL AS BIGINT) AS p_id
        |  FROM c, wm
        |  WHERE epoch_us(c.ts) < epoch_us(wm.m) - 3600000000
        |    AND NOT EXISTS (SELECT 1 FROM p
        |      WHERE p.user_id = c.user_id
        |        AND epoch_us(p.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts))
        |)
        |SELECT * FROM matched UNION ALL SELECT * FROM evicted
        |ORDER BY c_id, p_id""".stripMargin,

    "stream_fanout" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  true AS ok_sinks_consistent
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_full_outer_join" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT epoch_us(least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)))
        |         - 3600000000 AS m),
        |matched AS (
        |  SELECT c.user_id, epoch_us(c.ts) AS c_ts_us, c.event_id AS c_id,
        |    epoch_us(p.ts) AS p_ts_us, p.event_id AS p_id
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND epoch_us(p.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
        |), click_null AS (
        |  SELECT c.user_id, epoch_us(c.ts) AS c_ts_us, c.event_id AS c_id,
        |    CAST(NULL AS BIGINT) AS p_ts_us, CAST(NULL AS BIGINT) AS p_id
        |  FROM c, wm
        |  WHERE epoch_us(c.ts) < wm.m
        |    AND NOT EXISTS (SELECT 1 FROM p
        |      WHERE p.user_id = c.user_id
        |        AND epoch_us(p.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts))
        |), purchase_null AS (
        |  SELECT p.user_id, CAST(NULL AS BIGINT) AS c_ts_us, CAST(NULL AS BIGINT) AS c_id,
        |    epoch_us(p.ts) AS p_ts_us, p.event_id AS p_id
        |  FROM p, wm
        |  WHERE epoch_us(p.ts) < wm.m - 3600000000
        |    AND NOT EXISTS (SELECT 1 FROM c
        |      WHERE c.user_id = p.user_id
        |        AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) AND epoch_us(p.ts) + 3600000000)
        |)
        |SELECT * FROM matched UNION ALL SELECT * FROM click_null
        |UNION ALL SELECT * FROM purchase_null
        |ORDER BY c_id, p_id""".stripMargin,

    "stream_evolve" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value,
        |  CASE WHEN event_id % 2 = 1 THEN props END AS flag
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |l AS (SELECT user_id, ts_ms, value,
        |        lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev_ts
        |      FROM e),
        |n AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 7200000 THEN 1 ELSE 0 END AS new_sess FROM l),
        |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms ROWS UNBOUNDED PRECEDING) AS sess_id FROM n)
        |SELECT user_id, MIN(ts_ms) AS session_start, MAX(ts_ms) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sess_id ORDER BY user_id, session_start""".stripMargin,

    "events_funnel" ->
      """WITH ev AS (SELECT * FROM events WHERE event_id % 13 = 0),
        |t1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, (SELECT COUNT(*) FROM t1) AS users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)
        |ORDER BY stage""".stripMargin,

    // same stage frames; minute-quantized gap histogram + ceil-rank walk
    "events_funnel_time" ->
      """WITH ev AS (SELECT * FROM events WHERE event_id % 13 = 0),
        |t1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id),
        |gaps AS (
        |  SELECT 'view_to_click' AS stage_pair,
        |    (epoch_ns(t2.t2) - epoch_ns(t1.t1)) // 60000000000 AS gap_min
        |  FROM t2 JOIN t1 ON t1.user_id = t2.user_id
        |  UNION ALL
        |  SELECT 'click_to_purchase',
        |    (epoch_ns(t3.t3) - epoch_ns(t2.t2)) // 60000000000
        |  FROM t3 JOIN t2 ON t2.user_id = t3.user_id),
        |hist AS (SELECT stage_pair, gap_min, COUNT(*) AS c FROM gaps GROUP BY 1, 2),
        |cum AS (SELECT stage_pair, gap_min, c,
        |    CAST(SUM(c) OVER (PARTITION BY stage_pair ORDER BY gap_min) AS BIGINT) AS cum
        |  FROM hist),
        |tot AS (SELECT stage_pair, COUNT(*) AS n, CAST(SUM(gap_min) AS BIGINT) AS sg
        |  FROM gaps GROUP BY 1),
        |p50 AS (SELECT c.stage_pair, MIN(c.gap_min) AS p50_min
        |  FROM cum c JOIN tot t USING (stage_pair)
        |  WHERE c.cum >= (50 * t.n + 99) // 100 GROUP BY 1),
        |p90 AS (SELECT c.stage_pair, MIN(c.gap_min) AS p90_min
        |  FROM cum c JOIN tot t USING (stage_pair)
        |  WHERE c.cum >= (90 * t.n + 99) // 100 GROUP BY 1)
        |SELECT t.stage_pair, t.n,
        |  CAST(t.sg AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_min,
        |  p50.p50_min, p90.p90_min
        |FROM tot t JOIN p50 USING (stage_pair) JOIN p90 USING (stage_pair)
        |ORDER BY t.stage_pair""".stripMargin,

    // same journey segmentation by definition: running purchase count,
    // keyed (user, journey) match, row_number first/last per journey
    "events_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM events),
        |purch AS (SELECT user_id, event_id, cum - 1 AS j FROM ev
        |  WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, event_type, ts, event_id, cum AS j FROM ev
        |  WHERE event_type <> 'purchase'),
        |ft AS (SELECT user_id, j, event_type AS first_touch FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, j
        |    ORDER BY ts, event_id) AS rn FROM touch) x WHERE rn = 1),
        |lt AS (SELECT user_id, j, event_type AS last_touch FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, j
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM touch) x WHERE rn = 1)
        |SELECT COALESCE(ft.first_touch, 'direct') AS first_touch,
        |  COALESCE(lt.last_touch, 'direct') AS last_touch,
        |  COUNT(*) AS n_purchases
        |FROM purch
        |LEFT JOIN ft ON purch.user_id = ft.user_id AND purch.j = ft.j
        |LEFT JOIN lt ON purch.user_id = lt.user_id AND purch.j = lt.j
        |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin,

    "events_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk
        |    FROM events WHERE event_id % 13 = 0),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset, COUNT(*) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY c.cohort_wk, a.wk - c.cohort_wk
        |ORDER BY cohort_wk, week_offset""".stripMargin,

    "events_anomaly" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    COUNT(*) * (CASE WHEN (epoch_ns(ts) // 86400000000000) % 17 = 5
        |                     THEN 6 ELSE 1 END) AS cnt
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, quantile_cont(cnt, 0.5) AS med FROM d GROUP BY 1
        |), a AS (
        |  SELECT d.*, m.med FROM d JOIN m USING (event_type)
        |), s AS (
        |  SELECT event_type, quantile_cont(abs(cnt - med), 0.5) AS mad
        |  FROM a GROUP BY 1
        |)
        |SELECT a.event_type, a.day, a.cnt, a.med, s.mad,
        |  (a.cnt > a.med + 6 * s.mad OR a.cnt < a.med - 6 * s.mad) AS is_anomaly
        |FROM a JOIN s USING (event_type) ORDER BY event_type, day""".stripMargin,

    "reshape_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    epoch_ns(ts) AS tsn, event_id, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events
        |), w AS (
        |  SELECT event_type, day, v,
        |    first_value(v) OVER (PARTITION BY event_type, day
        |                         ORDER BY tsn, event_id) AS open_v,
        |    last_value(v) OVER (PARTITION BY event_type, day
        |                        ORDER BY tsn, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING
        |                          AND UNBOUNDED FOLLOWING) AS close_v
        |  FROM e)
        |SELECT event_type, day, COUNT(*) AS volume,
        |  CAST(MIN(open_v) AS DOUBLE) AS open, CAST(MAX(v) AS DOUBLE) AS high,
        |  CAST(MIN(v) AS DOUBLE) AS low, CAST(MIN(close_v) AS DOUBLE) AS close
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_rolling_median" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), c0 AS (SELECT event_type, cnt, day, UNNEST(range(0, 7)) AS k FROM d),
        |cov AS (SELECT event_type, cnt, day + k AS day FROM c0)
        |SELECT d.event_type, d.day, COUNT(*) AS n_window,
        |  quantile_cont(cov.cnt, 0.5) AS med7
        |FROM d JOIN cov ON d.event_type = cov.event_type AND d.day = cov.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_forecast" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.event_type, COUNT(*) AS n_days_scored,
        |  CAST(SUM(abs(a.cnt - f.cnt)) AS BIGINT) AS total_abs_err,
        |  CAST(MAX(abs(a.cnt - f.cnt)) AS BIGINT) AS worst_abs_err,
        |  CAST(SUM(abs(a.cnt - f.cnt)) AS DOUBLE) / COUNT(*) AS mae
        |FROM d a JOIN d f ON a.event_type = f.event_type AND f.day = a.day - 7
        |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin,

    "events_gapfill" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal0 AS (
        |  SELECT t.event_type, UNNEST(range(b.d0, b.d1 + 1)) AS day
        |  FROM (SELECT DISTINCT event_type FROM d) t, b
        |), dense AS (
        |  SELECT cal0.event_type, cal0.day, COALESCE(d.cnt, 0) AS cnt
        |  FROM cal0 LEFT JOIN d USING (event_type, day)
        |)
        |SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(SUM(cnt) OVER w AS BIGINT) AS sum7,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n7,
        |  CAST(SUM(cnt) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg7
        |FROM dense
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,

    "events_rolling_users" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), dau AS (SELECT day, COUNT(*) AS dau FROM act GROUP BY 1),
        |c0 AS (SELECT user_id, day, UNNEST(range(0, 7)) AS k FROM act),
        |cover AS (SELECT DISTINCT user_id, day + k AS day FROM c0),
        |wau AS (SELECT day, COUNT(*) AS wau FROM cover GROUP BY 1)
        |SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau
        |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin,

    "dedup_exact" ->
      """SELECT user_id, event_type, event_id AS last_event_id, epoch_ms(ts) AS last_ts_ms
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "dedup_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> array_to_string(toks[i:i+4], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 5)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) AS jacc
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "graph_cc_incremental" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> array_to_string(toks[i:i+4], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 5),
        |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM s a JOIN s b ON a.doc_id < b.doc_id
        |       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(a.sh || b.sh)) >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr),
        |reach(v, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v
        |)
        |SELECT v AS doc_id, MIN(lab) AS cluster_id, v = MIN(lab) AS is_rep
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> array_to_string(toks[i:i+4], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 5),
        |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM s a JOIN s b ON a.doc_id < b.doc_id
        |       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(a.sh || b.sh)) >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr),
        |reach(v, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v
        |)
        |SELECT v AS doc_id, MIN(lab) AS cluster_id, v = MIN(lab) AS is_rep
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,

    // the same mutually-exclusive CASE ladder over hour-truncated spans;
    // the 13-row VALUES frame keeps absent relations at 0
    "join_interval_allen" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |a AS (
        |  SELECT user_id, day, MIN(ts_ns) // 3600000000000 AS a_start,
        |    MAX(ts_ns) // 3600000000000 + 1 AS a_end
        |  FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, day, MIN(ts_ns) // 3600000000000 AS b_start,
        |    MAX(ts_ns) // 3600000000000 + 1 AS b_end
        |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
        |rel AS (
        |  SELECT CASE
        |    WHEN a_end < b_start THEN 'before'
        |    WHEN a_end = b_start THEN 'meets'
        |    WHEN b_end < a_start THEN 'after'
        |    WHEN b_end = a_start THEN 'met_by'
        |    WHEN a_start = b_start AND a_end = b_end THEN 'equals'
        |    WHEN a_start = b_start AND a_end < b_end THEN 'starts'
        |    WHEN a_start = b_start THEN 'started_by'
        |    WHEN a_end = b_end AND a_start > b_start THEN 'finishes'
        |    WHEN a_end = b_end THEN 'finished_by'
        |    WHEN a_start > b_start AND a_end < b_end THEN 'during'
        |    WHEN a_start < b_start AND a_end > b_end THEN 'contains'
        |    WHEN a_start < b_start THEN 'overlaps'
        |    ELSE 'overlapped_by' END AS relation
        |  FROM a JOIN b ON a.user_id = b.user_id AND a.day = b.day),
        |all13 AS (SELECT * FROM (VALUES ('before'), ('meets'), ('overlaps'),
        |  ('starts'), ('during'), ('finishes'), ('equals'), ('finished_by'),
        |  ('contains'), ('started_by'), ('overlapped_by'), ('met_by'),
        |  ('after')) t(relation)),
        |census AS (SELECT relation, COUNT(*) AS n FROM rel GROUP BY 1)
        |SELECT all13.relation,
        |  CAST(COALESCE(census.n, 0) AS BIGINT) AS n_pairs
        |FROM all13 LEFT JOIN census ON all13.relation = census.relation
        |ORDER BY all13.relation""".stripMargin,

    "join_interval_overlap" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS tsn,
        |    epoch_ns(ts) // 86400000000000 AS day
        |  FROM events
        |), c AS (
        |  SELECT user_id, day AS c_day, MIN(tsn) AS c_start, MAX(tsn) + 1 AS c_end
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2
        |), er AS (
        |  SELECT user_id, day AS e_day, MIN(tsn) AS e_start, MAX(tsn) + 1 AS e_end
        |  FROM e WHERE event_type = 'error' GROUP BY 1, 2
        |)
        |SELECT c.user_id, c.c_day, er.e_day, c.c_start, er.e_start,
        |  least(c.c_end, er.e_end) - greatest(c.c_start, er.e_start) AS overlap_ns
        |FROM c JOIN er ON c.user_id = er.user_id
        |  AND c.c_start < er.e_end AND er.e_start < c.c_end
        |ORDER BY c.user_id, c_start, e_start""".stripMargin,

    "link_golden" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> array_to_string(toks[i:i+4], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 5),
        |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM s a JOIN s b ON a.doc_id < b.doc_id
        |       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(a.sh || b.sh)) >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr),
        |reach(v, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v
        |),
        |comp AS (SELECT v AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY v),
        |m AS (SELECT c.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
        |      FROM comp c JOIN documents d USING (doc_id)),
        |lv AS (SELECT cluster_id, lang, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
        |lr AS (SELECT cluster_id, lang,
        |         row_number() OVER (PARTITION BY cluster_id
        |                            ORDER BY cnt DESC, lang) AS rn FROM lv),
        |sv AS (SELECT cluster_id, source, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
        |sr AS (SELECT cluster_id, source,
        |         row_number() OVER (PARTITION BY cluster_id
        |                            ORDER BY cnt DESC, source) AS rn FROM sv),
        |agg AS (SELECT cluster_id, COUNT(*) AS n_members, MIN(doc_id) AS rep_doc_id,
        |          MAX(n_chars) AS max_chars FROM m GROUP BY 1)
        |SELECT agg.cluster_id, agg.n_members, agg.rep_doc_id, agg.max_chars,
        |  lr.lang AS golden_lang, sr.source AS golden_source
        |FROM agg
        |  JOIN lr ON lr.cluster_id = agg.cluster_id AND lr.rn = 1
        |  JOIN sr ON sr.cluster_id = agg.cluster_id AND sr.rn = 1
        |ORDER BY agg.cluster_id""".stripMargin,

    "dedup_survivors" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> array_to_string(toks[i:i+4], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 5),
        |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM s a JOIN s b ON a.doc_id < b.doc_id
        |       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(a.sh || b.sh)) >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr),
        |reach(v, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v
        |),
        |clus AS (SELECT v AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY v),
        |lt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS BIGINT) AS sh,
        |    len(list_distinct(toks)) AS u
        |  FROM lt),
        |sc AS (SELECT doc_id,
        |    0.4 * (u / n) + 0.4 * (1.0 - sh / n) + 0.2 * least(1.0, n / 200.0) AS quality
        |  FROM m),
        |lab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, sc.quality
        |  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
        |  JOIN sc ON sc.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id, quality,
        |  (row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) = 1) AS is_survivor
        |FROM lab ORDER BY doc_id""".stripMargin,

    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
        |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
        |      FROM n, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) u
        |      WHERE len(toks) >= 8),
        |dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
        |d AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)),
        |isl AS (SELECT doc_id, pos,
        |        CASE WHEN pos <= MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS new_island
        |        FROM d),
        |isl2 AS (SELECT doc_id, pos, SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
        |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e FROM isl2 GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS dup_tokens FROM sp GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  coalesce(agg.dup_tokens, 0) / n.n_tokens AS dup_frac
        |FROM n LEFT JOIN agg USING (doc_id) ORDER BY n.doc_id""".stripMargin,

    "dedup_span_removal" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
        |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
        |      FROM n, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) u
        |      WHERE len(toks) >= 8),
        |dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
        |d AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)),
        |isl AS (SELECT doc_id, pos,
        |        CASE WHEN pos <= MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS new_island
        |        FROM d),
        |isl2 AS (SELECT doc_id, pos, SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
        |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e FROM isl2 GROUP BY doc_id, island),
        |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |        FROM n, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u),
        |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tok tk
        |         WHERE NOT EXISTS (SELECT 1 FROM sp
        |                           WHERE sp.doc_id = tk.doc_id AND tk.pos >= sp.s AND tk.pos < sp.e)),
        |reasm AS (SELECT doc_id, COUNT(*) AS n_kept,
        |          string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |          FROM kept GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n.n_tokens - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(r.clean_text, '') AS clean_text
        |FROM n LEFT JOIN reasm r USING (doc_id) ORDER BY n.doc_id""".stripMargin,

    "dedup_substring_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
        |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS win
        |      FROM n, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) u
        |      WHERE len(toks) >= 8),
        |dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
        |d AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win) WHERE w.doc_id % 3 = 0),
        |isl AS (SELECT doc_id, pos,
        |        CASE WHEN pos <= MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS new_island
        |        FROM d),
        |isl2 AS (SELECT doc_id, pos, SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
        |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e FROM isl2 GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS dup_tokens FROM sp GROUP BY doc_id)
        |SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  coalesce(agg.dup_tokens, 0) / n.n_tokens AS dup_frac
        |FROM n LEFT JOIN agg USING (doc_id)
        |WHERE n.doc_id % 3 = 0 ORDER BY n.doc_id""".stripMargin,

    "dedup_containment" ->
      """WITH exc AS (SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(string_split(text, ' ')[1:40], ' ') AS text
        |       FROM documents
        |       WHERE len(string_split(text, ' ')) >= 60 AND doc_id % 11 = 0),
        |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM exc),
        |w AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 2),
        |        i -> array_to_string(toks[i:i+3], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 4),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        len(a.sh) AS m_a, len(b.sh) AS m_b,
        |        len(list_intersect(a.sh, b.sh)) AS inter
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(m_a AS BIGINT) AS m_a, CAST(m_b AS BIGINT) AS m_b,
        |  CAST(inter AS BIGINT) AS inter,
        |  CAST(inter AS DOUBLE) / least(m_a, m_b) AS containment
        |FROM p WHERE CAST(inter AS DOUBLE) / least(m_a, m_b) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_simhash" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv FROM w),
        |tot AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY doc_id),
        |b AS (SELECT doc_id, bit, SUM(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE 0 END) AS cnt
        |      FROM h CROSS JOIN (SELECT unnest(range(16)) AS bit) bits GROUP BY doc_id, bit)
        |SELECT b.doc_id, CAST(SUM(CASE WHEN 2 * cnt > n THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
        |FROM b JOIN tot ON b.doc_id = tot.doc_id GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // replays BOTH hard-EM rounds bit-for-bit: substring seeding, top-60
    // (cnt desc, piece) selection, bitmask Viterbi argmin with
    // smallest-mask ties, and the integer cost len(bin(C div c)); the
    // candidate-segmentation grid is shared across rounds (only scoring
    // changes), exactly as in the engine
    "text_unigram_train" ->
      """WITH w AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) u
        |  WHERE len(word) > 0 GROUP BY word),
        |subs AS MATERIALIZED (
        |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        |    SELECT substring(word, st.s, l.l) AS piece, freq
        |    FROM w, UNNEST(generate_series(1, 4)) AS l(l),
        |         UNNEST(generate_series(1, len(word) - l.l + 1)) AS st(s)) q
        |  GROUP BY piece),
        |v0 AS MATERIALIZED (
        |  SELECT piece, cnt FROM subs WHERE len(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (SELECT piece, cnt FROM subs WHERE len(piece) >= 2 ORDER BY cnt DESC, piece LIMIT 60) mq),
        |v0c AS MATERIALIZED (
        |  SELECT piece, cnt, length(bin(CAST((SELECT SUM(cnt) FROM v0) AS BIGINT) // cnt)) AS cost FROM v0),
        |grid AS MATERIALIZED (
        |  SELECT word, freq, mm.m, ti.i,
        |    CASE WHEN ti.i = len(word) - 1 OR ((mm.m >> ti.i) & 1) = 1 THEN 1 ELSE 0 END AS cut,
        |    substring(word, ti.i + 1, 1) AS ch
        |  FROM w, UNNEST(generate_series(0, (1 << (len(word) - 1)) - 1)) AS mm(m),
        |       UNNEST(generate_series(0, len(word) - 1)) AS ti(i)
        |  WHERE len(word) <= 8),
        |pieces AS MATERIALIZED (
        |  SELECT word, freq, m, pid, string_agg(ch, '' ORDER BY i) AS piece FROM (
        |    SELECT word, freq, m, i, ch,
        |      COALESCE(SUM(cut) OVER (PARTITION BY word, m ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pid
        |    FROM grid) g
        |  GROUP BY word, freq, m, pid),
        |best1 AS MATERIALIZED (
        |  SELECT word, m FROM (
        |    SELECT p.word, p.m, row_number() OVER (PARTITION BY p.word ORDER BY SUM(v.cost), p.m) AS rn
        |    FROM pieces p LEFT JOIN v0c v ON p.piece = v.piece
        |    GROUP BY p.word, p.m
        |    HAVING COUNT(*) = COUNT(v.piece)) q WHERE rn = 1),
        |cnt1 AS MATERIALIZED (
        |  SELECT p.piece, CAST(SUM(p.freq) AS BIGINT) AS cnt
        |  FROM pieces p JOIN best1 b ON p.word = b.word AND p.m = b.m
        |  GROUP BY p.piece),
        |v1c AS MATERIALIZED (
        |  SELECT piece, cnt, length(bin(CAST((SELECT SUM(cnt) FROM cnt1) AS BIGINT) // cnt)) AS cost FROM cnt1),
        |best2 AS MATERIALIZED (
        |  SELECT word, m FROM (
        |    SELECT p.word, p.m, row_number() OVER (PARTITION BY p.word ORDER BY SUM(v.cost), p.m) AS rn
        |    FROM pieces p LEFT JOIN v1c v ON p.piece = v.piece
        |    GROUP BY p.word, p.m
        |    HAVING COUNT(*) = COUNT(v.piece)) q WHERE rn = 1),
        |cnt2 AS MATERIALIZED (
        |  SELECT p.piece, CAST(SUM(p.freq) AS BIGINT) AS cnt
        |  FROM pieces p JOIN best2 b ON p.word = b.word AND p.m = b.m
        |  GROUP BY p.piece)
        |SELECT piece, cnt,
        |  CAST(length(bin(CAST((SELECT SUM(cnt) FROM cnt2) AS BIGINT) // cnt)) AS BIGINT) AS cost
        |FROM cnt2 ORDER BY cnt DESC, piece""".stripMargin,

    // the train oracle extended one argmin pass: segment every word under
    // the FINAL costs and reproduce the byte-exact '·'-joined segmentation
    "text_unigram_encode" ->
      """WITH w AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) u
        |  WHERE len(word) > 0 GROUP BY word),
        |subs AS MATERIALIZED (
        |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        |    SELECT substring(word, st.s, l.l) AS piece, freq
        |    FROM w, UNNEST(generate_series(1, 4)) AS l(l),
        |         UNNEST(generate_series(1, len(word) - l.l + 1)) AS st(s)) q
        |  GROUP BY piece),
        |v0 AS MATERIALIZED (
        |  SELECT piece, cnt FROM subs WHERE len(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (SELECT piece, cnt FROM subs WHERE len(piece) >= 2 ORDER BY cnt DESC, piece LIMIT 60) mq),
        |v0c AS MATERIALIZED (
        |  SELECT piece, cnt, length(bin(CAST((SELECT SUM(cnt) FROM v0) AS BIGINT) // cnt)) AS cost FROM v0),
        |grid AS MATERIALIZED (
        |  SELECT word, freq, mm.m, ti.i,
        |    CASE WHEN ti.i = len(word) - 1 OR ((mm.m >> ti.i) & 1) = 1 THEN 1 ELSE 0 END AS cut,
        |    substring(word, ti.i + 1, 1) AS ch
        |  FROM w, UNNEST(generate_series(0, (1 << (len(word) - 1)) - 1)) AS mm(m),
        |       UNNEST(generate_series(0, len(word) - 1)) AS ti(i)
        |  WHERE len(word) <= 8),
        |pieces AS MATERIALIZED (
        |  SELECT word, freq, m, pid, string_agg(ch, '' ORDER BY i) AS piece FROM (
        |    SELECT word, freq, m, i, ch,
        |      COALESCE(SUM(cut) OVER (PARTITION BY word, m ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pid
        |    FROM grid) g
        |  GROUP BY word, freq, m, pid),
        |best1 AS MATERIALIZED (
        |  SELECT word, m FROM (
        |    SELECT p.word, p.m, row_number() OVER (PARTITION BY p.word ORDER BY SUM(v.cost), p.m) AS rn
        |    FROM pieces p LEFT JOIN v0c v ON p.piece = v.piece
        |    GROUP BY p.word, p.m
        |    HAVING COUNT(*) = COUNT(v.piece)) q WHERE rn = 1),
        |cnt1 AS MATERIALIZED (
        |  SELECT p.piece, CAST(SUM(p.freq) AS BIGINT) AS cnt
        |  FROM pieces p JOIN best1 b ON p.word = b.word AND p.m = b.m
        |  GROUP BY p.piece),
        |v1c AS MATERIALIZED (
        |  SELECT piece, cnt, length(bin(CAST((SELECT SUM(cnt) FROM cnt1) AS BIGINT) // cnt)) AS cost FROM cnt1),
        |best2 AS MATERIALIZED (
        |  SELECT word, m FROM (
        |    SELECT p.word, p.m, row_number() OVER (PARTITION BY p.word ORDER BY SUM(v.cost), p.m) AS rn
        |    FROM pieces p LEFT JOIN v1c v ON p.piece = v.piece
        |    GROUP BY p.word, p.m
        |    HAVING COUNT(*) = COUNT(v.piece)) q WHERE rn = 1),
        |cnt2 AS MATERIALIZED (
        |  SELECT p.piece, CAST(SUM(p.freq) AS BIGINT) AS cnt
        |  FROM pieces p JOIN best2 b ON p.word = b.word AND p.m = b.m
        |  GROUP BY p.piece),
        |v2c AS MATERIALIZED (
        |  SELECT piece, cnt, length(bin(CAST((SELECT SUM(cnt) FROM cnt2) AS BIGINT) // cnt)) AS cost FROM cnt2),
        |best3 AS MATERIALIZED (
        |  SELECT word, m FROM (
        |    SELECT p.word, p.m, row_number() OVER (PARTITION BY p.word ORDER BY SUM(v.cost), p.m) AS rn
        |    FROM pieces p LEFT JOIN v2c v ON p.piece = v.piece
        |    GROUP BY p.word, p.m
        |    HAVING COUNT(*) = COUNT(v.piece)) q WHERE rn = 1),
        |wenc AS MATERIALIZED (
        |  SELECT p.word, COUNT(*) AS n_pieces,
        |    string_agg(p.piece, chr(183) ORDER BY p.pid) AS encoded,
        |    CAST(SUM(v.cost) AS BIGINT) AS enc_cost
        |  FROM pieces p JOIN best3 b ON p.word = b.word AND p.m = b.m
        |    JOIN v2c v ON p.piece = v.piece
        |  GROUP BY p.word)
        |SELECT w.word, w.freq, COALESCE(e.n_pieces, 0) AS n_pieces, e.encoded, e.enc_cost
        |FROM w LEFT JOIN wenc e ON w.word = e.word ORDER BY w.word""".stripMargin,

    // replays the planted pixel function → 8x8 aHash samples → bit packing
    // (two 32-bit halves, no sign arithmetic) → brute-force all-pairs
    // Hamming; the Spark side goes through real codec encode/decode and the
    // real resize, so a hash match proves the whole media pipeline
    "dedup_images" -> dedupImagesOracle,

    // IDENTICAL brute-force SQL on purpose: the Spark side computes the
    // same pair set incrementally (prior pairs ∪ delta probe), so the
    // hash match is an incremental ≡ recompute proof
    "dedup_images_incremental" -> dedupImagesOracle,

    // replays frame synthesis (md5-hex frames, dropped-first and
    // edited-frame variants) → distinct per-video frame hashes →
    // stop-frame cap → shared-frame counting
    "dedup_video_frames" ->
      """WITH vid AS (
        |  SELECT doc_id AS vid_id, doc_id // 3 AS seed, doc_id % 3 AS var,
        |    8 + (doc_id // 3) % 5 AS f
        |  FROM documents),
        |frames AS (
        |  SELECT vid_id,
        |    CASE WHEN var = 2 AND t.j % 5 = 2
        |      THEN md5(CAST(seed AS VARCHAR) || ':' || CAST(t.j AS VARCHAR) || ':x')
        |      ELSE md5(CAST(seed AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)) END AS fr
        |  FROM vid, UNNEST(generate_series(CASE WHEN var = 1 THEN 1 ELSE 0 END, f - 1)) AS t(j)),
        |fh AS (SELECT DISTINCT vid_id, md5(fr) AS h FROM frames),
        |hot AS (SELECT h FROM fh GROUP BY h HAVING COUNT(*) > 32),
        |fh2 AS (SELECT vid_id, h FROM fh WHERE h NOT IN (SELECT h FROM hot))
        |SELECT a.vid_id AS a_id, b.vid_id AS b_id, COUNT(*) AS n_shared
        |FROM fh2 a JOIN fh2 b ON a.h = b.h AND a.vid_id < b.vid_id
        |GROUP BY a.vid_id, b.vid_id HAVING COUNT(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin,

    // replays waveform synthesis → 64 window energies → adjacent-compare
    // bits → bit packing → brute-force all-pairs Hamming
    "dedup_audio" ->
      """WITH img AS (
        |  SELECT doc_id AS id, doc_id // 3 AS seed, doc_id % 3 AS var,
        |    CAST(8 + (doc_id // 3) % 5 AS BIGINT) AS k
        |  FROM documents),
        |samp AS (
        |  SELECT id, ti.i // k AS w,
        |    abs(((('0x' || substr(md5(CAST(seed AS VARCHAR) || '-' || CAST((ti.i // k) // 16 AS VARCHAR)),
        |                          ((ti.i // k) % 16) * 2 + 1, 2))::BIGINT % 97) + 1)
        |          * ((ti.i % 17) - 8)
        |        + CASE WHEN var = 2 AND ti.i % 97 = 0 THEN 64 ELSE 0 END)
        |      * CASE WHEN var = 1 THEN 2 ELSE 1 END AS a
        |  FROM img, UNNEST(generate_series(0, 64*k - 1)) AS ti(i)),
        |en AS (SELECT id, w, CAST(SUM(a) AS BIGINT) AS e FROM samp GROUP BY id, w),
        |bits AS (
        |  SELECT id, w, CASE WHEN e > nxt THEN 1 ELSE 0 END AS b FROM (
        |    SELECT id, w, e,
        |      COALESCE(LEAD(e) OVER (PARTITION BY id ORDER BY w),
        |               FIRST_VALUE(e) OVER (PARTITION BY id ORDER BY w)) AS nxt
        |    FROM en) q),
        |hashes AS (
        |  SELECT id,
        |    SUM(CASE WHEN w < 32 AND b = 1 THEN (1::BIGINT << w) ELSE 0 END) AS h_lo,
        |    SUM(CASE WHEN w >= 32 AND b = 1 THEN (1::BIGINT << (w - 32)) ELSE 0 END) AS h_hi
        |  FROM bits GROUP BY id)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi)) AS BIGINT) AS hamming
        |FROM hashes a JOIN hashes b ON a.id < b.id
        |WHERE bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH s AS (SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, len(text) - 1),
        |      i -> substr(text, CAST(i AS INT), 3))) AS sh
        |  FROM documents WHERE len(text) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) AS jacc
        |FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_embedding" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |twins AS (SELECT vec_id + 1000000000000 AS vec_id,
        |    list_transform(v, (x, i) -> x * (1.0 + 0.2 * CAST((i - 1) % 2 AS DOUBLE))) AS v
        |  FROM base WHERE vec_id % 20 = 0),
        |allv AS (SELECT * FROM base UNION ALL SELECT * FROM twins)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.9
        |ORDER BY vec_a, vec_b""".stripMargin,

    "dedup_semantic" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |twins AS (SELECT vec_id + 1000000000000 AS vec_id,
        |    list_transform(v, (x, i) -> x * (1.0 + 0.2 * CAST((i - 1) % 2 AS DOUBLE))) AS v
        |  FROM base WHERE vec_id % 20 = 0),
        |allv AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
        |pairs AS (SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9)
        |SELECT v.vec_id, p.a IS NULL AS kept, p.a AS dup_of, true AS ok
        |FROM allv v LEFT JOIN pairs p ON v.vec_id = p.b
        |ORDER BY vec_id""".stripMargin,

    "ml_linreg" ->
      """WITH st AS (SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT flag, n, sx, sy, sxy, sxx,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
        |  (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM st ORDER BY flag""".stripMargin,

    // same suffstats + closed-form SSE chain, textually parallel
    "ml_regression_eval" ->
      """WITH st AS (SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |ab AS (SELECT flag, n, sx, sy, sxy, sxx, syy,
        |    (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n AS DOUBLE) * sxx - sx * sx) AS b
        |  FROM st),
        |ab2 AS (SELECT *, (sy - b * sx) / CAST(n AS DOUBLE) AS a FROM ab),
        |fin AS (SELECT flag, n, b, a,
        |    syy - 2.0 * b * sxy - 2.0 * a * sy + b * b * sxx
        |      + 2.0 * a * b * sx + CAST(n AS DOUBLE) * a * a AS sse,
        |    syy - sy * sy / CAST(n AS DOUBLE) AS sst
        |  FROM ab2)
        |SELECT flag, n, b AS slope, a AS intercept, sse, sst,
        |  sqrt(sse / CAST(n AS DOUBLE)) AS rmse, 1.0 - sse / sst AS r2
        |FROM fin ORDER BY flag""".stripMargin,

    // same suffstat-then-fixed-IEEE-chain as ml_linreg, Cramer on the
    // centered 2x2 normal equations
    "ml_linreg2" ->
      """WITH st AS (SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s2y
        |  FROM lineitem GROUP BY l_returnflag),
        |ab AS (SELECT flag, n, s1, s2, sy,
        |    CAST(n AS DOUBLE) * s11 - s1 * s1 AS a11,
        |    CAST(n AS DOUBLE) * s22 - s2 * s2 AS a22,
        |    CAST(n AS DOUBLE) * s12 - s1 * s2 AS a12,
        |    CAST(n AS DOUBLE) * s1y - s1 * sy AS b1,
        |    CAST(n AS DOUBLE) * s2y - s2 * sy AS b2
        |  FROM st),
        |fit AS (SELECT flag, n, s1, s2, sy,
        |    (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
        |    (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS beta2
        |  FROM ab)
        |SELECT flag, n, s1, s2, sy, beta1, beta2,
        |  (sy - beta1 * s1 - beta2 * s2) / CAST(n AS DOUBLE) AS intercept
        |FROM fit ORDER BY flag""".stripMargin,

    // the CLEAR-key join — identical aggregates prove the tokenization
    // is injective and consistently applied across tables
    "audit_pseudonymize" ->
      """SELECT c_nationkey,
        |  COUNT(DISTINCT c_custkey) AS n_customers,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "audit_kanonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 5000) AS BIGINT) AS bal_bucket, COUNT(*) AS n
        |FROM customer
        |GROUP BY 1, 2, 3 HAVING COUNT(*) < 5
        |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin,

    "audit_ldiversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 5000) AS BIGINT) AS bal_bucket, COUNT(*) AS n,
        |  COUNT(DISTINCT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS l
        |FROM customer
        |GROUP BY 1, 2, 3
        |HAVING COUNT(DISTINCT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) < 3
        |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin,

    // EMD numerator as the exact integer sum of cumulative cross
    // differences; the one IEEE division and the cross-multiplied flag
    "audit_tcloseness" ->
      """WITH cust AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS b
        |  FROM customer),
        |cells AS (SELECT c_nationkey, c_mktsegment, b, COUNT(*) AS c
        |  FROM cust GROUP BY 1, 2, 3),
        |gtot AS (SELECT b, COUNT(*) AS g FROM cust GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS nn, COUNT(DISTINCT b) AS m FROM cust),
        |classes AS (SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2),
        |full0 AS (
        |  SELECT cl.c_nationkey, cl.c_mktsegment, cl.n, gl.b AS db, gl.g,
        |    COALESCE(ce.c, 0) AS c
        |  FROM classes cl CROSS JOIN gtot gl
        |  LEFT JOIN cells ce ON ce.c_nationkey = cl.c_nationkey
        |    AND ce.c_mktsegment = cl.c_mktsegment AND ce.b = gl.b),
        |cum AS (
        |  SELECT c_nationkey, c_mktsegment, n,
        |    CAST(SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY db) AS BIGINT) AS cc,
        |    CAST(SUM(g) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY db) AS BIGINT) AS cg
        |  FROM full0)
        |SELECT c_nationkey, c_mktsegment, n,
        |  CAST(SUM(ABS(cc * nn - cg * n)) AS BIGINT) AS emd_num,
        |  CAST(n * nn * (m - 1) AS BIGINT) AS emd_den,
        |  CAST(CAST(SUM(ABS(cc * nn - cg * n)) AS BIGINT) AS DOUBLE)
        |    / CAST(n * nn * (m - 1) AS DOUBLE) AS t,
        |  SUM(ABS(cc * nn - cg * n)) * 5 > n * nn * (m - 1) AS flagged
        |FROM cum, tot
        |GROUP BY c_nationkey, c_mktsegment, n, nn, m
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "audit_constraints" ->
      """WITH li AS (
        |  SELECT *, CASE WHEN (l_orderkey * 8 + l_linenumber) % 97 = 13
        |                 THEN -l_quantity ELSE l_quantity END AS qty
        |  FROM lineitem
        |), scan AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CASE WHEN qty < 0 THEN 1 ELSE 0 END) AS v_qty,
        |    SUM(CASE WHEN l_shipdate < TIMESTAMP '1990-01-01'
        |              OR l_shipdate >= TIMESTAMP '2010-01-01' THEN 1 ELSE 0 END) AS v_date,
        |    SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS v_flag
        |  FROM li
        |), fk AS (
        |  SELECT COUNT(*) AS n_checked,
        |    SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS v
        |  FROM (SELECT CASE WHEN o_orderkey % 101 = 7 THEN o_custkey + 1000000
        |               ELSE o_custkey END AS ck FROM orders) o
        |  LEFT JOIN customer c ON o.ck = c.c_custkey
        |)
        |SELECT rule, n_checked, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'lineitem_quantity_nonneg' AS rule, n AS n_checked,
        |    CAST(v_qty AS BIGINT) AS n_violations FROM scan
        |  UNION ALL SELECT 'lineitem_returnflag_domain', n, CAST(v_flag AS BIGINT) FROM scan
        |  UNION ALL SELECT 'lineitem_shipdate_range', n, CAST(v_date AS BIGINT) FROM scan
        |  UNION ALL SELECT 'orders_custkey_fk', n_checked, CAST(v AS BIGINT) FROM fk)
        |ORDER BY rule""".stripMargin,

    "audit_erasure" ->
      """WITH ch AS (
        |  SELECT doc_id, UNNEST(range(0,
        |    CASE WHEN len(string_split(text, ' ')) <= 32 THEN 1
        |         ELSE (len(string_split(text, ' ')) - 32 + 23) // 24 + 1 END)) AS k
        |  FROM documents
        |), fp AS (SELECT doc_id FROM documents),
        |d AS (SELECT doc_id FROM documents),
        |a AS (
        |  SELECT 'documents' AS table_name, COUNT(*) AS n_pre,
        |    COUNT(*) FILTER (doc_id % 41 <> 7) AS n_post,
        |    COUNT(*) FILTER (doc_id % 41 = 7) AS n_deleted,
        |    0 AS n_leaked
        |  FROM d
        |  UNION ALL
        |  SELECT 'chunks', COUNT(*),
        |    COUNT(*) FILTER (doc_id % 41 <> 7),
        |    COUNT(*) FILTER (doc_id % 41 = 7), 0
        |  FROM ch
        |  UNION ALL
        |  SELECT 'fp_index', COUNT(*),
        |    COUNT(*) FILTER (doc_id % 41 <> 7),
        |    COUNT(*) FILTER (doc_id % 41 = 7), 0
        |  FROM fp
        |)
        |SELECT table_name, CAST(n_pre AS BIGINT) AS n_pre,
        |  CAST(n_post AS BIGINT) AS n_post,
        |  CAST(n_deleted AS BIGINT) AS n_deleted,
        |  CAST(n_leaked AS BIGINT) AS n_leaked
        |FROM a ORDER BY table_name""".stripMargin,

    "audit_checksum" ->
      """WITH src AS (SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |snk AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey = 997 THEN price + 1 ELSE price END AS price FROM src),
        |hs AS (SELECT o_orderkey % 64 AS bucket,
        |    ('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |      CAST(price AS VARCHAR))), 1, 15))::BIGINT AS h FROM src),
        |hk AS (SELECT o_orderkey % 64 AS bucket,
        |    ('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |      CAST(price AS VARCHAR))), 1, 15))::BIGINT AS h FROM snk),
        |a AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_src,
        |    CAST(bit_xor(h) AS BIGINT) AS x_src FROM hs GROUP BY bucket),
        |b AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_sink,
        |    CAST(bit_xor(h) AS BIGINT) AS x_sink FROM hk GROUP BY bucket)
        |SELECT a.bucket, n_src, n_sink,
        |  (n_src = n_sink AND x_src = x_sink) AS checksums_match
        |FROM a JOIN b USING (bucket) ORDER BY bucket""".stripMargin,

    "cdc_incremental_join" ->
      """SELECT o.o_orderkey, c.c_custkey, c.c_name,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    // brute-force Gini: a direct global row_number over all keys — the
    // different-algorithm gate for the PrefixSum block decomposition
    "profile_skew" ->
      """WITH cnts AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS key, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT key, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt, key) AS BIGINT) AS i FROM cnts),
        |g AS (
        |  SELECT CAST(SUM(i * cnt) AS BIGINT) AS srx,
        |    CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS hhi_num FROM rk),
        |gg AS (
        |  SELECT CAST(2 * srx - (n_keys + 1) * n_rows AS BIGINT) AS gini_num,
        |    CAST(n_keys * n_rows AS BIGINT) AS gini_den,
        |    n_rows, n_keys, hhi_num FROM g),
        |top AS (SELECT key, cnt FROM cnts ORDER BY cnt DESC, key LIMIT 10)
        |SELECT key, cnt, gini_num, gini_den, n_rows, n_keys, hhi_num
        |FROM top, gg ORDER BY cnt DESC, key""".stripMargin,

    // per-column value histogram; the entropy fold is −SUM(p·ln p ORDER
    // BY v) over STRING-cast values (binary collation = Spark's
    // UTF8String sort_array order); h_norm NULL for constant columns
    "profile_entropy" ->
      """WITH vals AS (
        |  SELECT 'event_type' AS col0, CAST(event_type AS VARCHAR) AS v FROM events
        |  UNION ALL SELECT 'hour',
        |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS VARCHAR) FROM events
        |  UNION ALL SELECT 'dow',
        |    CAST(((epoch_ns(ts) // 86400000000000) + 4) % 7 AS VARCHAR) FROM events),
        |hist AS (SELECT col0, v, COUNT(*) AS c FROM vals GROUP BY 1, 2),
        |tot AS (SELECT col0, CAST(SUM(c) AS BIGINT) AS n,
        |    COUNT(*) AS n_distinct FROM hist GROUP BY 1),
        |ent AS (
        |  SELECT h.col0,
        |    -(SUM(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY v)) AS h_nats
        |  FROM hist h JOIN tot USING (col0) GROUP BY 1)
        |SELECT t.col0 AS "column", t.n, t.n_distinct, e.h_nats,
        |  CASE WHEN t.n_distinct > 1
        |    THEN e.h_nats / ln(CAST(t.n_distinct AS DOUBLE))
        |    ELSE CAST(NULL AS DOUBLE) END AS h_norm
        |FROM tot t JOIN ent e USING (col0)
        |ORDER BY t.col0""".stripMargin,

    "profile_table" ->
      """SELECT 'l_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
        |  CAST(MAX(l_orderkey) AS VARCHAR) AS max_value FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
        |  CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
        |  CAST(COUNT(DISTINCT CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT),
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR),
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
        |  CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
        |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
        |  CAST(MIN(l_returnflag) AS VARCHAR),
        |  CAST(MAX(l_returnflag) AS VARCHAR) FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', CAST(COUNT(*) AS BIGINT),
        |  CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
        |  CAST(COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT),
        |  CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR),
        |  CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR) FROM lineitem
        |ORDER BY col_name""".stripMargin,

    "layout_hilbert" -> {
      val zTerms = (0 until 12).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      val hit = "x1 >= 700 AND x0 <= 830 AND y1 >= 1500 AND y0 <= 1700"
      s"""WITH RECURSIVE b0 AS (SELECT o_orderkey,
        |    o_custkey % 4096 AS x,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 4096 AS y
        |  FROM orders),
        |hw(o_orderkey, hx, hy, s, d) AS (
        |  SELECT o_orderkey, x, y, 2048, CAST(0 AS BIGINT) FROM b0
        |  UNION ALL
        |  SELECT o_orderkey,
        |    CASE WHEN (hy // s) % 2 = 0
        |         THEN CASE WHEN (hx // s) % 2 = 1 THEN 4095 - hy ELSE hy END
        |         ELSE hx END,
        |    CASE WHEN (hy // s) % 2 = 0
        |         THEN CASE WHEN (hx // s) % 2 = 1 THEN 4095 - hx ELSE hx END
        |         ELSE hy END,
        |    s // 2,
        |    d + s * s * (CASE WHEN (hx // s) % 2 = 0 AND (hy // s) % 2 = 0 THEN 0
        |                      WHEN (hx // s) % 2 = 0 AND (hy // s) % 2 = 1 THEN 1
        |                      WHEN (hx // s) % 2 = 1 AND (hy // s) % 2 = 1 THEN 2
        |                      ELSE 3 END)
        |  FROM hw WHERE s >= 1
        |),
        |hk AS (SELECT o_orderkey, d AS hkey FROM hw WHERE s = 0),
        |bz AS (SELECT b0.o_orderkey, x, y, ($zTerms) AS zkey, hk.hkey
        |  FROM b0 JOIN hk ON b0.o_orderkey = hk.o_orderkey),
        |nn AS (SELECT COUNT(*) AS n FROM bz),
        |cn AS (SELECT o_orderkey AS k, COUNT(*) AS cnt FROM bz GROUP BY 1),
        |cz AS (SELECT zkey AS k, COUNT(*) AS cnt FROM bz GROUP BY 1),
        |ch AS (SELECT hkey AS k, COUNT(*) AS cnt FROM bz GROUP BY 1),
        |mn AS (SELECT k, (SUM(cnt) OVER (ORDER BY k) - cnt) * 64 // nn.n AS f
        |  FROM cn, nn),
        |mz AS (SELECT k, (SUM(cnt) OVER (ORDER BY k) - cnt) * 64 // nn.n AS f
        |  FROM cz, nn),
        |mh AS (SELECT k, (SUM(cnt) OVER (ORDER BY k) - cnt) * 64 // nn.n AS f
        |  FROM ch, nn),
        |fn AS (SELECT f, COUNT(*) AS n_rows, MIN(x) AS x0, MAX(x) AS x1,
        |    MIN(y) AS y0, MAX(y) AS y1
        |  FROM bz JOIN mn ON bz.o_orderkey = mn.k GROUP BY 1),
        |fz AS (SELECT f, COUNT(*) AS n_rows, MIN(x) AS x0, MAX(x) AS x1,
        |    MIN(y) AS y0, MAX(y) AS y1
        |  FROM bz JOIN mz ON bz.zkey = mz.k GROUP BY 1),
        |fh AS (SELECT f, COUNT(*) AS n_rows, MIN(x) AS x0, MAX(x) AS x1,
        |    MIN(y) AS y0, MAX(y) AS y1
        |  FROM bz JOIN mh ON bz.hkey = mh.k GROUP BY 1)
        |SELECT 'hilbert' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |  CAST(SUM(CASE WHEN $hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |FROM fh
        |UNION ALL
        |SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |  CAST(SUM(CASE WHEN $hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |FROM fn
        |UNION ALL
        |SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |  CAST(SUM(CASE WHEN $hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |FROM fz
        |ORDER BY layout""".stripMargin
    },

    "layout_zorder" -> {
      val zTerms = (0 until 12).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      val hit = "x1 >= 100 AND x0 <= 227 AND y1 >= 1000 AND y0 <= 1127"
      s"""WITH b0 AS (SELECT o_orderkey,
        |    o_custkey % 4096 AS x,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 4096 AS y
        |  FROM orders),
        |bz AS (SELECT o_orderkey, x, y, ($zTerms) AS zkey FROM b0),
        |bounds AS (SELECT MIN(o_orderkey) AS k_min, MAX(o_orderkey) + 1 AS k_max1 FROM bz),
        |bk AS (SELECT x, y,
        |    ((o_orderkey - k_min) * 64) // (k_max1 - k_min) AS b_nat,
        |    zkey >> 18 AS b_z
        |  FROM bz, bounds),
        |fn AS (SELECT b_nat AS f, COUNT(*) AS n_rows, MIN(x) AS x0, MAX(x) AS x1,
        |    MIN(y) AS y0, MAX(y) AS y1 FROM bk GROUP BY 1),
        |fz AS (SELECT b_z AS f, COUNT(*) AS n_rows, MIN(x) AS x0, MAX(x) AS x1,
        |    MIN(y) AS y0, MAX(y) AS y1 FROM bk GROUP BY 1)
        |SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |  CAST(SUM(CASE WHEN $hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |FROM fn
        |UNION ALL
        |SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |  CAST(SUM(CASE WHEN $hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |FROM fz
        |ORDER BY layout""".stripMargin
    },

    "join_fuzzy" ->
      """WITH t0 AS (SELECT doc_id, substr(text, 1, 40) AS t0 FROM documents),
        |tt0 AS (SELECT a.doc_id,
        |    CASE WHEN a.doc_id % 6 = 0 AND n.t0 IS NOT NULL AND len(n.t0) >= 6
        |         THEN substr(n.t0, 1, 4) || 'Q' || substr(n.t0, 6, 100)
        |         ELSE a.t0 END AS title
        |  FROM t0 a LEFT JOIN t0 n ON n.doc_id = a.doc_id + 1),
        |tt AS (SELECT * FROM tt0 WHERE len(title) > 0)
        |SELECT m.doc_id AS id_master, p.doc_id AS id_probe,
        |  CAST(levenshtein(m.title, p.title) AS BIGINT) AS dist
        |FROM tt m JOIN tt p ON m.doc_id % 3 != 0 AND p.doc_id % 3 = 0
        |WHERE levenshtein(m.title, p.title) <= 1
        |ORDER BY id_master, id_probe""".stripMargin,

    "join_range" ->
      """WITH pts AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ship_day,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS qty
        |  FROM lineitem
        |), ivs AS (
        |  SELECT o_orderkey,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS win_start,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 7 AS win_end
        |  FROM orders WHERE o_orderkey % 997 = 0
        |)
        |SELECT i.o_orderkey, COUNT(*) AS n_shipments,
        |  CAST(SUM(p.qty) AS DOUBLE) AS sum_qty
        |FROM pts p JOIN ivs i ON p.ship_day >= i.win_start AND p.ship_day < i.win_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_incremental" ->
      """WITH corpus AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 2 = 0
        |), planted AS (
        |  SELECT i.doc_id,
        |    CASE WHEN i.doc_id % 10 = 5 AND c.doc_id IS NOT NULL THEN c.text
        |         ELSE i.text END AS text
        |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1) i
        |  LEFT JOIN (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) c
        |    ON c.doc_id = i.doc_id - 1
        |), inc AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM planted
        |)
        |SELECT doc_id, fp FROM inc
        |WHERE fp NOT IN (SELECT fp FROM corpus)
        |ORDER BY doc_id""".stripMargin,

    "dedup_editdistance" ->
      """WITH t0 AS (SELECT doc_id, substr(text, 1, 40) AS t0 FROM documents),
        |tt0 AS (SELECT a.doc_id,
        |    CASE WHEN a.doc_id % 23 = 1 AND p.t0 IS NOT NULL AND len(p.t0) >= 9
        |         THEN substr(p.t0, 1, 7) || 'Z' || substr(p.t0, 9, 100)
        |         ELSE a.t0 END AS title
        |  FROM t0 a LEFT JOIN t0 p ON p.doc_id = a.doc_id - 1),
        |tt AS (SELECT * FROM tt0 WHERE len(title) > 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM tt a JOIN tt b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.title, b.title) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_lsh_incremental" ->
      """WITH wt AS (SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 30 = 10 AND t.text IS NOT NULL
        |         THEN t.text || ' probetail' ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents t ON t.doc_id = d.doc_id + 10),
        |w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM wt),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> array_to_string(toks[i:i+4], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 5),
        |sb AS (SELECT * FROM s WHERE doc_id % 10 != 0),
        |sd AS (SELECT * FROM s WHERE doc_id % 10 = 0),
        |bh AS (SELECT d.doc_id AS id, MIN(b.doc_id) AS dup_of_base
        |       FROM sd d JOIN sb b ON CAST(len(list_intersect(d.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(d.sh || b.sh)) >= 0.9
        |       GROUP BY d.doc_id),
        |dh AS (SELECT b.doc_id AS id, MIN(a.doc_id) AS dup_of_delta
        |       FROM sd a JOIN sd b ON a.doc_id < b.doc_id
        |        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(a.sh || b.sh)) >= 0.9
        |       GROUP BY b.doc_id)
        |SELECT w.doc_id, bh.dup_of_base, dh.dup_of_delta,
        |  bh.dup_of_base IS NULL AND dh.dup_of_delta IS NULL AS kept
        |FROM wt w LEFT JOIN bh ON w.doc_id = bh.id LEFT JOIN dh ON w.doc_id = dh.id
        |WHERE w.doc_id % 10 = 0 ORDER BY w.doc_id""".stripMargin,

    "decontaminate" ->
      """WITH bench AS (
        |  SELECT doc_id AS bench_id, text AS bench_text FROM documents WHERE doc_id % 41 = 0
        |), corp AS (
        |  SELECT c.doc_id,
        |    CASE WHEN c.doc_id % 25 = 3 AND b.bench_id IS NOT NULL
        |      THEN c.text || ' ' ||
        |        array_to_string(list_slice(string_split(b.bench_text, ' '), 1, 12), ' ')
        |      ELSE c.text END AS text
        |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0) c
        |  LEFT JOIN bench b ON b.bench_id = 41 * (c.doc_id % 7)
        |), csh AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS sh
        |  FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 7)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corp))
        |), bsh AS (
        |  SELECT DISTINCT bench_id, array_to_string(list_slice(t, i, i + 7), ' ') AS sh
        |  FROM (SELECT bench_id, t, UNNEST(generate_series(1, len(t) - 7)) AS i
        |        FROM (SELECT bench_id, string_split(bench_text, ' ') AS t FROM bench))
        |)
        |SELECT c.doc_id, b.bench_id, COUNT(*) AS n_hits
        |FROM csh c JOIN bsh b ON b.sh = c.sh
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY 1, 2""".stripMargin,

    "embed_pool" ->
      """WITH t AS (SELECT vec_id % 25 AS grp,
        |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
        |    UNNEST(generate_series(1, len(embedding))) AS i
        |  FROM embeddings)
        |SELECT grp, CAST(i - 1 AS BIGINT) AS pos, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e12 AS pool
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the zone table and every pruning decision replayed relationally;
    // date bounds as epoch-day ints (DATE - DATE is integer days)
    "layout_zonemap" ->
      """WITH o AS (
        |  SELECT o_orderkey // 4096 AS f,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |d AS (SELECT
        |    CAST(DATE '1994-01-01' - DATE '1970-01-01' AS BIGINT) AS d94lo,
        |    CAST(DATE '1994-12-31' - DATE '1970-01-01' AS BIGINT) AS d94hi,
        |    CAST(DATE '1993-01-01' - DATE '1970-01-01' AS BIGINT) AS d93,
        |    CAST(DATE '1997-06-01' - DATE '1970-01-01' AS BIGINT) AS d976),
        |z AS (
        |  SELECT f, COUNT(*) AS rws, MIN(day) AS dmin, MAX(day) AS dmax,
        |    MIN(cents) AS pmin, MAX(cents) AS pmax,
        |    SUM(CASE WHEN day >= d94lo AND day <= d94hi THEN 1 ELSE 0 END) AS m1,
        |    SUM(CASE WHEN cents >= 40000000 THEN 1 ELSE 0 END) AS m2,
        |    SUM(CASE WHEN day < d93 THEN 1 ELSE 0 END) AS m3,
        |    SUM(CASE WHEN day >= d976 AND cents < 5000000 THEN 1 ELSE 0 END) AS m4
        |  FROM o, d GROUP BY f),
        |p AS (
        |  SELECT 1 AS pid, (dmax >= d94lo AND dmin <= d94hi) AS scanned,
        |    rws, m1 AS m FROM z, d
        |  UNION ALL SELECT 2, pmax >= 40000000, rws, m2 FROM z
        |  UNION ALL SELECT 3, dmin < d93, rws, m3 FROM z, d
        |  UNION ALL SELECT 4, (dmax >= d976 AND pmin < 5000000), rws, m4 FROM z, d)
        |SELECT CAST(pid AS BIGINT) AS pid, COUNT(*) AS n_files,
        |  CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
        |  CAST(SUM(CASE WHEN scanned THEN rws ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(SUM(m) AS BIGINT) AS rows_matched,
        |  CAST(SUM(CASE WHEN NOT scanned THEN m ELSE 0 END) AS BIGINT) AS matched_in_pruned,
        |  CAST(SUM(CASE WHEN scanned THEN rws ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(rws) AS DOUBLE) AS scan_frac
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "layout_compact" ->
      """WITH f AS (
        |  SELECT l_orderkey // 64 AS file_id, COUNT(*) AS size_rows
        |  FROM lineitem GROUP BY 1
        |), c AS (
        |  SELECT file_id, size_rows,
        |    SUM(size_rows) OVER (ORDER BY file_id) AS cum
        |  FROM f
        |)
        |SELECT file_id, CAST(size_rows AS BIGINT) AS size_rows,
        |  CAST(cum AS BIGINT) AS cum,
        |  CAST((cum - 1) // 4096 AS BIGINT) AS bin_id
        |FROM c ORDER BY file_id""".stripMargin,

    "profile_drift" ->
      """WITH f AS (
        |  SELECT CASE WHEN doc_id % 2 = 1 AND doc_id % 3 = 0
        |              THEN n_chars + 300 ELSE n_chars END AS v,
        |    doc_id % 2 AS slice
        |  FROM documents
        |), b AS (
        |  SELECT v // 100 AS bucket,
        |    SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS n_base,
        |    SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS n_new
        |  FROM f GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
        |    CAST(SUM(n_new) AS BIGINT) AS nn FROM b
        |), d AS (
        |  SELECT b.bucket, CAST(b.n_base AS BIGINT) AS n_base,
        |    CAST(b.n_new AS BIGINT) AS n_new,
        |    CAST(abs(b.n_base * t.nn - b.n_new * t.nb) AS BIGINT) AS diff_num,
        |    t.nb, t.nn
        |  FROM b CROSS JOIN t
        |)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_base, n_new, diff_num,
        |  false AS drift
        |FROM d
        |UNION ALL
        |SELECT -1, CAST(SUM(n_base) AS BIGINT), CAST(SUM(n_new) AS BIGINT),
        |  CAST(SUM(diff_num) AS BIGINT), 5 * SUM(diff_num) >= nb * nn
        |FROM d GROUP BY nb, nn
        |ORDER BY bucket""".stripMargin,

    "ml_bootstrap" ->
      """WITH base AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) AS rid,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS xs
        |  FROM lineitem
        |), hp AS (
        |  SELECT flag, xs,
        |    ('0x' || substr(md5(rid), 1, 12))::BIGINT AS h1,
        |    ('0x' || substr(md5(rid), 17, 12))::BIGINT * 2 + 1 AS h2
        |  FROM base
        |), h AS (
        |  SELECT flag, xs, UNNEST(range(16)) AS r, h1, h2 FROM hp
        |), h2t AS (
        |  SELECT flag, xs, r, (h1 + r * h2) % 1000 AS hh FROM h
        |), w AS (
        |  SELECT flag, r, xs,
        |    CASE WHEN hh < 368 THEN 0 WHEN hh < 736 THEN 1 WHEN hh < 920 THEN 2
        |         WHEN hh < 981 THEN 3 WHEN hh < 996 THEN 4 WHEN hh < 999 THEN 5
        |         ELSE 6 END AS w
        |  FROM h2t
        |)
        |SELECT flag, r, CAST(SUM(w) AS BIGINT) AS n_eff,
        |  CAST(SUM(w * xs) AS BIGINT) AS sum_scaled,
        |  CAST(SUM(w * xs) AS DOUBLE) / CAST(SUM(w) AS BIGINT) / 100.0 AS mean_price
        |FROM w GROUP BY 1, 2 ORDER BY flag, r""".stripMargin,

    "events_sessions_batch" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_id FROM events
        |), l AS (
        |  SELECT user_id, t, event_id,
        |    lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
        |  FROM e
        |), b AS (
        |  SELECT user_id, t, event_id,
        |    CASE WHEN pt IS NULL OR t - pt > 43200000000000 THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), si AS (
        |  SELECT user_id, t,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM b
        |)
        |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
        |  COUNT(*) AS n_events, MIN(t) AS start_ns, MAX(t) AS end_ns,
        |  CAST((MAX(t) - MIN(t)) // 1000000000 AS BIGINT) AS duration_s
        |FROM si GROUP BY 1, 2 ORDER BY user_id, sess_idx""".stripMargin,

    "events_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS ft,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS tt
        |  FROM events
        |), c AS (
        |  SELECT ft, tt, COUNT(*) AS cnt FROM s WHERE tt IS NOT NULL GROUP BY 1, 2
        |), t AS (
        |  SELECT ft, CAST(SUM(cnt) AS BIGINT) AS tot FROM c GROUP BY 1
        |)
        |SELECT c.ft AS from_type, c.tt AS to_type, c.cnt,
        |  CAST(c.cnt AS DOUBLE) / t.tot AS prob
        |FROM c JOIN t USING (ft) ORDER BY from_type, to_type""".stripMargin,

    "dedup_allpairs" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             x -> x <> '') AS ws
        |  FROM documents
        |), tok AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, UNNEST(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
        |    FROM w WHERE len(ws) >= 3)
        |), sz AS (
        |  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1
        |), ov AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ov
        |  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT ov.id_a, ov.id_b, CAST(ov.ov AS BIGINT) AS ov,
        |  CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
        |  CAST(ov.ov AS DOUBLE) / sqrt(CAST(sa.n * sb.n AS DOUBLE)) AS cos
        |FROM ov JOIN sz sa ON ov.id_a = sa.doc_id
        |         JOIN sz sb ON ov.id_b = sb.doc_id
        |WHERE 100 * ov.ov * ov.ov >= 81 * sa.n * sb.n
        |ORDER BY id_a, id_b""".stripMargin,

    "text_url_canonical" ->
      """WITH p AS (
        |  SELECT doc_id, text || ' see https://' ||
        |    CASE WHEN doc_id % 9 = 1 THEN 'Site-' || CAST(doc_id % 5 AS VARCHAR)
        |           || '.example.com/page-' || CAST((doc_id // 9) % 3 AS VARCHAR)
        |           || '?utm_source=feed'
        |         WHEN doc_id % 9 = 4 THEN 'site-' || CAST(doc_id % 5 AS VARCHAR)
        |           || '.example.com:443/page-' || CAST((doc_id // 9) % 3 AS VARCHAR)
        |         ELSE 'site-' || CAST(doc_id % 5 AS VARCHAR)
        |           || '.example.com/page-' || CAST((doc_id // 9) % 3 AS VARCHAR)
        |           || '#section' END || ' now' AS ptext
        |  FROM documents
        |  WHERE doc_id % 9 IN (1, 4, 7)
        |), u AS (
        |  SELECT doc_id,
        |    UNNEST(regexp_extract_all(ptext, 'https://[A-Za-z0-9.:/#?=_-]+', 0)) AS raw
        |  FROM p
        |), c AS (
        |  SELECT raw, lower(regexp_replace(regexp_replace(regexp_replace(raw,
        |    '#.*', ''), '\?utm_[a-z]+=[a-z]*$', ''), ':443/', '/')) AS canonical
        |  FROM u
        |)
        |SELECT canonical, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_forms
        |FROM c GROUP BY 1 ORDER BY canonical""".stripMargin,

    "text_novelty" ->
      """WITH w AS (
        |  SELECT doc_id // 50 AS day,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS ws
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT day, s FROM (
        |    SELECT day, UNNEST(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
        |    FROM w WHERE len(ws) >= 3)
        |), fd AS (
        |  SELECT s, MIN(day) AS first_day FROM sh GROUP BY 1
        |)
        |SELECT sh.day, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN fd.first_day = sh.day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(SUM(CASE WHEN fd.first_day = sh.day THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS novelty_rate
        |FROM sh JOIN fd USING (s) GROUP BY 1 ORDER BY day""".stripMargin,

    "embed_gram" ->
      """WITH q AS (
        |  SELECT vec_id, i - 1 AS i, CAST(FLOOR(x * 1024) AS BIGINT) AS v
        |  FROM (SELECT vec_id,
        |          UNNEST(CAST(embedding AS DOUBLE[])) AS x,
        |          UNNEST(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)
        |), n AS (SELECT COUNT(*) AS n FROM embeddings)
        |SELECT n.n, a.i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS gram
        |FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        |CROSS JOIN n
        |GROUP BY n.n, a.i, b.i
        |ORDER BY a.i, j""".stripMargin,

    "embed_pca" ->
      """WITH q AS (
        |  SELECT CAST(FLOOR(UNNEST(CAST(embedding AS DOUBLE[])) * 1024) AS BIGINT) AS v
        |  FROM embeddings
        |)
        |SELECT (SELECT COUNT(*) FROM embeddings) AS n,
        |  CAST(SUM(v * v) AS BIGINT) AS trace,
        |  true AS ok_rayleigh, true AS ok_converged, true AS ok_ordered,
        |  true AS ok_trace_preserved, true AS ok_orthogonal
        |FROM q""".stripMargin,

    "embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e
        |), q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CASE WHEN scale = 0.0 THEN 0
        |      ELSE CAST(FLOOR(x / scale + 0.5) AS INT) END) AS qc
        |  FROM s
        |)
        |SELECT vec_id, scale,
        |  md5(array_to_string(qc, ',')) AS q_md5,
        |  list_max(list_transform(generate_series(1, len(v)),
        |    i -> abs(v[i] - CAST(qc[i] AS DOUBLE) * scale))) AS max_err,
        |  list_max(list_transform(generate_series(1, len(v)),
        |    i -> abs(v[i] - CAST(qc[i] AS DOUBLE) * scale))) <= scale * 0.5 + 1e-12 AS ok
        |FROM q ORDER BY vec_id""".stripMargin,

    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT qid, nid, list_cosine_similarity(cv, qv) AS cos FROM c, q WHERE nid != qid),
        |r AS (SELECT qid AS query_id, nid AS neighbor_id,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rnk
        |      FROM s)
        |SELECT query_id, rnk, neighbor_id FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // same pre-filter truth and post-filter overfetch emulation
    "ann_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |pre AS (
        |  SELECT qid, nid,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY list_cosine_similarity(cv, qv) DESC, nid) AS BIGINT) AS rnk
        |  FROM c, q WHERE nid != qid AND nid % 3 = 1),
        |post AS (
        |  SELECT qid, nid,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY list_cosine_similarity(cv, qv) DESC, nid) AS BIGINT) AS rnk
        |  FROM c, q WHERE nid != qid),
        |postf AS (
        |  SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY rnk) AS prank
        |  FROM post WHERE rnk <= 15 AND nid % 3 = 1)
        |SELECT p.qid AS query_id, p.rnk, p.nid AS neighbor_id,
        |  pf.nid IS NOT NULL AS post_filter_found
        |FROM pre p LEFT JOIN (SELECT qid, nid FROM postf WHERE prank <= 5) pf
        |  ON pf.qid = p.qid AND pf.nid = p.nid
        |WHERE p.rnk <= 5
        |ORDER BY query_id, p.rnk""".stripMargin,

    // same deterministic neighbor set + integer majority vote
    "ml_knn_classify" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |nn AS (
        |  SELECT qid, nid, nid % 4 AS nlabel,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY list_cosine_similarity(cv, qv) DESC, nid) AS BIGINT) AS rnk
        |  FROM c, q WHERE nid != qid),
        |votes AS (SELECT qid, nlabel, COUNT(*) AS v FROM nn WHERE rnk <= 5
        |  GROUP BY 1, 2),
        |best AS (SELECT qid, nlabel, v,
        |    row_number() OVER (PARTITION BY qid ORDER BY v DESC, nlabel) AS r
        |  FROM votes)
        |SELECT qid AS query_id, nlabel AS predicted_label, v AS votes
        |FROM best WHERE r = 1 ORDER BY query_id""".stripMargin,

    // ann_lsh / ann_ivf emit self-verification claims (per-query rank
    // structure + overall recall-vs-exact bound, judged inside the Spark
    // query) — the oracle asserts every claim came out true.
    "ann_lsh" ->
      """SELECT vec_id AS query_id, 'candidates_ranked' AS metric, true AS ok
        |FROM embeddings WHERE vec_id < 10
        |UNION ALL SELECT CAST(-1 AS BIGINT), 'recall_ge_0.15', true
        |ORDER BY query_id, metric""".stripMargin,

    "ann_ivf" ->
      """SELECT vec_id AS query_id, 'candidates_ranked' AS metric, true AS ok
        |FROM embeddings WHERE vec_id < 10
        |UNION ALL SELECT CAST(-1 AS BIGINT), 'recall_ge_0.2', true
        |ORDER BY query_id, metric""".stripMargin,

    "ann_pq" ->
      """SELECT vec_id AS query_id, 'candidates_ranked' AS metric, true AS ok
        |FROM embeddings WHERE vec_id < 10
        |UNION ALL SELECT CAST(-1 AS BIGINT), 'recall_ge_0.3', true
        |ORDER BY query_id, metric""".stripMargin,

    "ann_ivf_pq" ->
      """SELECT vec_id AS query_id, 'candidates_ranked' AS metric, true AS ok
        |FROM embeddings WHERE vec_id < 10
        |UNION ALL SELECT CAST(-1 AS BIGINT), 'recall_ge_0.2', true
        |ORDER BY query_id, metric""".stripMargin,

    // both rank lists replayed in full (exact cosine; embed_quantize's
    // dequantized codes), fused by the same two-term RRF sum
    "ann_rrf" ->
      """WITH c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |q AS (SELECT nid AS qid, cv AS qv FROM c WHERE nid < 10),
        |ra AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY list_cosine_similarity(cv, qv) DESC, nid) AS ra
        |  FROM c, q WHERE nid != qid QUALIFY ra <= 20),
        |dq0 AS (SELECT nid, cv,
        |    list_max(list_transform(cv, x -> abs(x))) / 127.0 AS scale FROM c),
        |dq AS (SELECT nid,
        |    list_transform(cv, x -> CAST(CASE WHEN scale = 0.0 THEN 0
        |      ELSE CAST(FLOOR(x / scale + 0.5) AS INT) END AS DOUBLE) * scale) AS dv
        |  FROM dq0),
        |qb AS (SELECT nid AS qid, dv AS qv FROM dq WHERE nid < 10),
        |rb AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY list_cosine_similarity(dv, qv) DESC, nid) AS rb
        |  FROM dq, qb WHERE nid != qid QUALIFY rb <= 20),
        |f AS (SELECT COALESCE(a.qid, b.qid) AS qid, COALESCE(a.nid, b.nid) AS nid,
        |    a.ra, b.rb
        |  FROM ra a FULL OUTER JOIN rb b ON a.qid = b.qid AND a.nid = b.nid),
        |sc AS (SELECT qid, nid, ra, rb,
        |    COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(ra AS DOUBLE)),
        |      CAST(0 AS DOUBLE))
        |    + COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rb AS DOUBLE)),
        |      CAST(0 AS DOUBLE)) AS rrf
        |  FROM f)
        |SELECT qid AS query_id,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS BIGINT) AS rnk,
        |  nid AS neighbor_id, rrf,
        |  ra IS NOT NULL AS in_exact, rb IS NOT NULL AS in_quant
        |FROM sc QUALIFY rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "text_tokens" ->
      """WITH t AS (SELECT doc_id, text, len(text) AS lc, len(string_split(text, ' ')) AS n,
        |    len(list_distinct(string_split(text, ' '))) AS u
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(u AS BIGINT) AS n_uniq,
        |  CAST(lc AS BIGINT) AS n_chars_txt,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens_bpe,
        |  (lc - (n - 1)) / n AS avg_token_len
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS BIGINT) AS sh,
        |    len(list_distinct(toks)) AS u
        |  FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, sh AS stop_hits,
        |  sh / n AS stop_ratio, u / n AS ttr,
        |  0.4 * (u / n) + 0.4 * (1.0 - sh / n) + 0.2 * least(1.0, n / 200.0) AS score
        |FROM m ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS BIGINT) AS he,
        |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','en','que','los','un'], x))) AS BIGINT) AS hs,
        |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','ein','zu'], x))) AS BIGINT) AS hd
        |  FROM t)
        |SELECT doc_id, he AS hits_en, hs AS hits_es, hd AS hits_de,
        |  CASE WHEN he >= hs AND he >= hd AND he > 0 THEN 'en'
        |       WHEN hs >= hd AND hs > 0 THEN 'es'
        |       WHEN hd > 0 THEN 'de' ELSE 'und' END AS lang_pred
        |FROM m ORDER BY doc_id""".stripMargin,

    "sketch_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT t FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        |                 FROM documents)
        |  WHERE length(t) >= 2
        |), hh AS (
        |  SELECT DISTINCT t,
        |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h1,
        |    ('0x' || substr(md5(t), 17, 15))::BIGINT * 2 + 1 AS h2
        |  FROM toks
        |), cells AS (
        |  SELECT j, (h.h1 + j * h.h2) % 8192 AS i, SUM(cnt) AS c
        |  FROM (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY 1) tc
        |  JOIN hh h USING (t)
        |  CROSS JOIN UNNEST([0, 1, 2, 3]) AS u(j)
        |  GROUP BY 1, 2
        |), top AS (
        |  SELECT t, COUNT(*) AS exact_n FROM toks GROUP BY t
        |  ORDER BY exact_n DESC, t LIMIT 20
        |), est AS (
        |  SELECT top.t, top.exact_n, CAST(MIN(c.c) AS BIGINT) AS est
        |  FROM top JOIN hh USING (t)
        |  CROSS JOIN UNNEST([0, 1, 2, 3]) AS u(j)
        |  JOIN cells c ON c.j = u.j AND c.i = (hh.h1 + u.j * hh.h2) % 8192
        |  GROUP BY 1, 2
        |)
        |SELECT t, exact_n, est, est >= exact_n AS ok FROM est
        |ORDER BY exact_n DESC, t""".stripMargin,

    "sketch_join_size" ->
      """WITH ko AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS cnt FROM orders GROUP BY 1
        |), kc AS (
        |  SELECT CAST(c_custkey AS VARCHAR) AS k, COUNT(*) AS cnt FROM customer GROUP BY 1
        |), h AS (
        |  SELECT k, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h1,
        |    ('0x' || substr(md5(k), 17, 15))::BIGINT * 2 + 1 AS h2
        |  FROM (SELECT k FROM ko UNION SELECT k FROM kc)
        |), co AS (
        |  SELECT j, (h.h1 + j * h.h2) % 1024 AS i, SUM(ko.cnt) AS c
        |  FROM ko JOIN h USING (k) CROSS JOIN UNNEST([0, 1, 2, 3]) AS u(j)
        |  GROUP BY 1, 2
        |), cc AS (
        |  SELECT j, (h.h1 + j * h.h2) % 1024 AS i, SUM(kc.cnt) AS c
        |  FROM kc JOIN h USING (k) CROSS JOIN UNNEST([0, 1, 2, 3]) AS u(j)
        |  GROUP BY 1, 2
        |), ip AS (
        |  SELECT co.j, SUM(co.c * cc.c) AS p
        |  FROM co JOIN cc ON co.j = cc.j AND co.i = cc.i
        |  GROUP BY 1
        |), e AS (
        |  SELECT COUNT(*) AS exact_n FROM orders JOIN customer ON o_custkey = c_custkey
        |)
        |SELECT e.exact_n, CAST((SELECT MIN(p) FROM ip) AS BIGINT) AS est,
        |  (SELECT MIN(p) FROM ip) >= e.exact_n AS ok
        |FROM e""".stripMargin,

    "text_compress" ->
      """SELECT doc_id, true AS ok_repetition_collapses, true AS ok_size_sane
        |FROM documents ORDER BY doc_id""".stripMargin,

    // per-doc code-point histogram via string_split (code points; '' is
    // guarded — DuckDB splits the empty string to ['']); the entropy fold
    // is −SUM(p·ln p ORDER BY ch), which replays the kernel's ascending
    // code-point Math.log fold bit for bit (binary UTF-8 collation =
    // code-point order)
    "text_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE text <> ''),
        |hist AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        |ent AS (
        |  SELECT h.doc_id, MAX(n) AS n_cp, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    -(SUM(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY ch)) AS h_nats
        |  FROM hist h JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(ent.n_cp, 0) AS n_cp,
        |  COALESCE(ent.n_distinct, 0) AS n_distinct,
        |  COALESCE(ent.h_nats, 0.0) AS h_nats
        |FROM documents d LEFT JOIN ent USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "text_normalize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1 THEN text || ' caf' || chr(101) || chr(769)
        |           || ' ma' || chr(110) || chr(771) || 'ana' || chr(7)
        |         ELSE text END AS t
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, t,
        |    regexp_replace(nfc_normalize(t), '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g') AS nt
        |  FROM p
        |)
        |SELECT doc_id, nt <> t AS changed, md5(nt) AS norm_md5,
        |  CAST(length(nt) AS BIGINT) AS norm_len
        |FROM n ORDER BY doc_id""".stripMargin,

    "text_urls" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 4 THEN text || ' see https://spam-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/page now'
        |         WHEN doc_id % 13 = 9 THEN text || ' docs at https://ok-' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/index'
        |         WHEN doc_id % 26 = 11 THEN text || ' https://spam-1.example.com/a and https://ok-2.example.com/b'
        |         ELSE text END AS ptext
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(ptext, 'https://([a-z0-9-]+\.example\.com)', 1)) AS domain FROM p),
        |b AS (SELECT 'spam-' || CAST(unnest(range(7)) AS VARCHAR) || '.example.com' AS domain)
        |SELECT u.doc_id, u.domain, (b.domain IS NOT NULL) AS blocked
        |FROM u LEFT JOIN b ON u.domain = b.domain
        |ORDER BY u.doc_id, u.domain""".stripMargin,

    "domain_cap" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_extract(text || ' via https://site-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p',
        |      'https://([a-z0-9-]+\.example\.com)', 1) AS domain,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS coin
        |  FROM documents),
        |r AS (SELECT doc_id, domain,
        |    CAST(row_number() OVER (PARTITION BY domain ORDER BY coin, doc_id) AS BIGINT) AS rank
        |  FROM d)
        |SELECT doc_id, domain, rank FROM r WHERE rank <= 3
        |ORDER BY domain, rank""".stripMargin,

    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 3 = 0 THEN 'nav home about contact login' END,
        |    text,
        |    CASE WHEN doc_id % 5 = 0 THEN 'copyright example site 2024 all rights reserved' END,
        |    CASE WHEN doc_id % 11 = 7 THEN 'ref note ' || CAST(doc_id % 97 AS VARCHAR) END) AS ptext
        |  FROM documents),
        |lines AS (SELECT doc_id,
        |    generate_subscripts(string_split(ptext, chr(10)), 1) AS pos,
        |    unnest(string_split(ptext, chr(10))) AS line
        |  FROM d),
        |common AS (SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 5),
        |kept AS (SELECT l.* FROM lines l LEFT JOIN common c ON l.line = c.line WHERE c.line IS NULL),
        |kagg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, kagg.clean_text,
        |  CAST(len(string_split(d.ptext, chr(10))) - kagg.n_kept AS BIGINT) AS n_dropped
        |FROM d JOIN kagg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "select_quality_top" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, len(toks) AS n,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS BIGINT) AS sh,
        |    len(list_distinct(toks)) AS u
        |  FROM t),
        |sc AS (SELECT doc_id,
        |    0.4 * (u / n) + 0.4 * (1.0 - sh / n) + 0.2 * least(1.0, n / 200.0) AS score
        |  FROM m)
        |SELECT doc_id, score,
        |  score >= (SELECT quantile_cont(score, 0.8) FROM sc) AS kept
        |FROM sc ORDER BY doc_id""".stripMargin,

    "text_oov" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |  FROM documents),
        |t AS (SELECT * FROM toks WHERE len(word) > 0),
        |vocab AS (SELECT word FROM t GROUP BY word
        |  ORDER BY COUNT(*) DESC, word LIMIT 15)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM t LEFT JOIN vocab v ON t.word = v.word
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // brute-force corpus scan answering the same conjunctive query —
    // the hash match proves index lookup ≡ scan
    "index_inverted" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split(lower(text), ' '),
        |      w -> len(w) > 0)) AS ws
        |  FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_uniq_words
        |FROM t
        |WHERE list_contains(ws, 'scan') AND list_contains(ws, 'merge')
        |  AND list_contains(ws, 'filter')
        |ORDER BY doc_id""".stripMargin,

    // ground truth by definition: transitive closure (recursive CTE) +
    // mutual-reachability min over the SAME hash-derived edges — a
    // different algorithm entirely from the FW-BW-Trim operator
    "graph_scc" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS u FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT u AS src, dst FROM (
        |    SELECT u, ('0x' || substr(md5('scc-a-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0
        |    UNION ALL
        |    SELECT u, ('0x' || substr(md5('scc-b-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0)
        |  WHERE u <> dst),
        |reach AS MATERIALIZED (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, dst FROM edges
        |    UNION
        |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
        |  SELECT src, dst FROM r),
        |mutual AS (
        |  SELECT r1.src AS u, r1.dst AS v FROM reach r1 JOIN reach r2
        |    ON r1.src = r2.dst AND r1.dst = r2.src),
        |scc AS (
        |  SELECT b.u AS node, LEAST(b.u, COALESCE(MIN(m.v), b.u)) AS scc_id
        |  FROM base b LEFT JOIN mutual m ON m.u = b.u GROUP BY b.u)
        |SELECT scc_id, COUNT(*) AS n_members FROM scc
        |GROUP BY scc_id ORDER BY scc_id""".stripMargin,

    // bigrams by definition via list indexing (a different construction
    // from the lead() window); same exact marginals and single division
    // same bigram machinery as collocations; the KN probability replays
    // as one exact BIGINT rational (D = 3/4 scaled through) + one IEEE
    // division of < 2^53 operands
    "text_kneser_ney" ->
      """WITH big AS (
        |  SELECT UNNEST(list_transform(generate_series(1, len(ws) - 1),
        |    i -> {'x': ws[i], 'y': ws[i + 1]})) AS b
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents) t),
        |pairs AS (SELECT b.x AS x, b.y AS y FROM big
        |  WHERE b.x <> '' AND b.y <> ''),
        |c12 AS (SELECT x, y, COUNT(*) AS c_xy FROM pairs GROUP BY 1, 2),
        |c1 AS (SELECT x, COUNT(*) AS c_x FROM pairs GROUP BY 1),
        |n1l AS (SELECT x, COUNT(*) AS n1_x FROM c12 GROUP BY 1),
        |n1r AS (SELECT y, COUNT(*) AS n1_y FROM c12 GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n_types FROM c12)
        |SELECT c12.x, c12.y, c_xy, c_x, n1_x, n1_y, n_types,
        |  CAST(GREATEST(4 * c_xy - 3, 0) * n_types + 3 * n1_x * n1_y AS BIGINT) AS p_num,
        |  CAST(4 * c_x * n_types AS BIGINT) AS p_den,
        |  CAST(GREATEST(4 * c_xy - 3, 0) * n_types + 3 * n1_x * n1_y AS DOUBLE)
        |    / CAST(4 * c_x * n_types AS DOUBLE) AS p_kn
        |FROM c12 JOIN c1 ON c12.x = c1.x JOIN n1l ON c12.x = n1l.x
        |  JOIN n1r ON c12.y = n1r.y, nt
        |ORDER BY c_xy DESC, c12.x, c12.y LIMIT 20""".stripMargin,

    "text_collocations" ->
      """WITH big AS (
        |  SELECT UNNEST(list_transform(generate_series(1, len(ws) - 1),
        |    i -> {'x': ws[i], 'y': ws[i + 1]})) AS b
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents) t),
        |pairs AS (SELECT b.x AS x, b.y AS y FROM big
        |  WHERE b.x <> '' AND b.y <> ''),
        |nxy AS (SELECT x, y, COUNT(*) AS n_xy FROM pairs GROUP BY x, y),
        |nx AS (SELECT x, COUNT(*) AS n_x FROM pairs GROUP BY x),
        |ny AS (SELECT y, COUNT(*) AS n_y FROM pairs GROUP BY y),
        |tot AS (SELECT COUNT(*) AS n_tot FROM pairs)
        |SELECT nxy.x, nxy.y, n_xy, n_x, n_y,
        |  CAST(n_xy * n_tot AS DOUBLE) / CAST(n_x * n_y AS DOUBLE) AS lift
        |FROM nxy JOIN nx ON nxy.x = nx.x JOIN ny ON nxy.y = ny.y, tot
        |WHERE n_xy >= 5
        |ORDER BY lift DESC, nxy.x, nxy.y LIMIT 20""".stripMargin,

    // everything by definition: closure + mutual-min SCC over the subset
    // instance, distinct condensed pairs, longest path by recursive
    // source-rooted enumeration + MAX(len)
    "graph_condensation" ->
      """WITH nn AS (SELECT COUNT(*) AS m FROM customer WHERE c_custkey % 4 = 0),
        |base AS (SELECT CAST(c_custkey AS BIGINT) // 4 AS u FROM customer
        |  WHERE c_custkey % 4 = 0),
        |edges AS MATERIALIZED (
        |  SELECT u AS src, dst FROM (
        |    SELECT u, ('0x' || substr(md5('cond-a-' || u), 1, 15))::BIGINT % nn.m AS dst
        |    FROM base, nn WHERE u % 7 <> 0
        |    UNION ALL
        |    SELECT u, ('0x' || substr(md5('cond-b-' || u), 1, 15))::BIGINT % nn.m AS dst
        |    FROM base, nn WHERE u % 7 <> 0)
        |  WHERE u <> dst),
        |reach AS MATERIALIZED (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, dst FROM edges
        |    UNION
        |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
        |  SELECT src, dst FROM r),
        |mutual AS (
        |  SELECT r1.src AS u, r1.dst AS v FROM reach r1 JOIN reach r2
        |    ON r1.src = r2.dst AND r1.dst = r2.src),
        |scc AS MATERIALIZED (
        |  SELECT b.u AS node, LEAST(b.u, COALESCE(MIN(m.v), b.u)) AS scc_id
        |  FROM base b LEFT JOIN mutual m ON m.u = b.u GROUP BY b.u),
        |sizes AS (SELECT scc_id, COUNT(*) AS n_members FROM scc GROUP BY scc_id),
        |cedges AS MATERIALIZED (
        |  SELECT DISTINCT s1.scc_id AS src, s2.scc_id AS dst
        |  FROM edges e JOIN scc s1 ON e.src = s1.node JOIN scc s2 ON e.dst = s2.node
        |  WHERE s1.scc_id <> s2.scc_id),
        |odeg AS (SELECT src AS scc_id, COUNT(*) AS out_degree FROM cedges GROUP BY src),
        |paths AS MATERIALIZED (
        |  WITH RECURSIVE p(node, len) AS (
        |    SELECT scc_id, CAST(0 AS BIGINT) FROM sizes
        |    WHERE scc_id NOT IN (SELECT dst FROM cedges)
        |    UNION
        |    SELECT ce.dst, p.len + 1 FROM p JOIN cedges ce ON ce.src = p.node)
        |  SELECT node, MAX(len) AS level FROM p GROUP BY node)
        |SELECT sizes.scc_id, sizes.n_members,
        |  COALESCE(odeg.out_degree, 0) AS out_degree, paths.level
        |FROM sizes
        |LEFT JOIN odeg ON sizes.scc_id = odeg.scc_id
        |JOIN paths ON sizes.scc_id = paths.node
        |ORDER BY sizes.scc_id""".stripMargin,

    // ground truth by definition: recursive-CTE level enumeration from the
    // source + MIN(d) per node over the SAME hash-derived edges, restricted
    // to the real node set — a different algorithm from the frontier BSP
    // same doubled-midrank construction over the shared-value histogram;
    // the U decision is pure integer
    "events_mannwhitney" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    (user_id % 2 = 0) AS va
        |  FROM events),
        |hist AS (
        |  SELECT event_type, cents,
        |    CAST(SUM(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    COUNT(*) AS c
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, ca, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cumc
        |  FROM hist),
        |agg AS (
        |  SELECT event_type,
        |    CAST(SUM(ca * (2 * (cumc - c) + c + 1)) AS BIGINT) AS r2a,
        |    CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(c) - SUM(ca) AS BIGINT) AS n_b
        |  FROM cum GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u,
        |  (r2a - n_a * (n_a + 1)) > n_a * n_b AS a_shifted_high
        |FROM agg ORDER BY event_type""".stripMargin,

    // same conditional sums; uplift sign via integer cross-multiplication
    "events_uplift" ->
      """WITH ev AS (
        |  SELECT ((epoch_ns(ts) // 3600000000000) % 24) // 4 AS seg,
        |    user_id % 2 = 0 AS treated,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events)
        |SELECT seg,
        |  CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |  CAST(SUM(CASE WHEN treated THEN y ELSE 0 END) AS BIGINT) AS c_t,
        |  CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |  CAST(SUM(CASE WHEN NOT treated THEN y ELSE 0 END) AS BIGINT) AS c_c,
        |  CAST(SUM(CASE WHEN treated THEN y ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS DOUBLE)
        |  - CAST(SUM(CASE WHEN NOT treated THEN y ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS DOUBLE) AS uplift,
        |  SUM(CASE WHEN treated THEN y ELSE 0 END)
        |    * SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END)
        |  > SUM(CASE WHEN NOT treated THEN y ELSE 0 END)
        |    * SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS positive_uplift
        |FROM ev GROUP BY seg ORDER BY seg""".stripMargin,

    // DIFFERENT midrank construction: per-row 2*RANK() + tiecount - 1
    // instead of the engine's histogram walk; H chain textually parallel
    "events_kruskal" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    user_id % 3 AS g
        |  FROM events),
        |mr AS (
        |  SELECT event_type, g,
        |    2 * RANK() OVER (PARTITION BY event_type ORDER BY cents)
        |      + COUNT(*) OVER (PARTITION BY event_type, cents) - 1 AS m2
        |  FROM ev),
        |agg AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN g = 0 THEN m2 ELSE 0 END) AS BIGINT) AS r20,
        |    CAST(SUM(CASE WHEN g = 1 THEN m2 ELSE 0 END) AS BIGINT) AS r21,
        |    CAST(SUM(CASE WHEN g = 2 THEN m2 ELSE 0 END) AS BIGINT) AS r22
        |  FROM mr GROUP BY 1),
        |ties AS (
        |  SELECT event_type, SUM(CAST(c AS HUGEINT) * (c * c - 1)) AS tt
        |  FROM (SELECT event_type, cents, COUNT(*) AS c FROM ev GROUP BY 1, 2)
        |  GROUP BY 1),
        |fin AS (
        |  SELECT a.event_type, n0, n1, n2, r20, r21, r22, tt,
        |    n0 + n1 + n2 AS n,
        |    CAST(r20 AS DOUBLE) * CAST(r20 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |      + CAST(r21 AS DOUBLE) * CAST(r21 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      + CAST(r22 AS DOUBLE) * CAST(r22 AS DOUBLE) / CAST(n2 AS DOUBLE) AS t
        |  FROM agg a JOIN ties USING (event_type)),
        |fin2 AS (
        |  SELECT *, 3.0 * t / CAST(n * (n + 1) AS DOUBLE)
        |      - 3.0 * CAST(n + 1 AS DOUBLE) AS h,
        |    CAST(n AS HUGEINT) * n * n - n AS nnn
        |  FROM fin)
        |SELECT event_type, n0, n1, n2, r20, r21, r22, h,
        |  CASE WHEN tt < nnn THEN
        |    h / (1.0 - CAST(CAST(tt AS VARCHAR) AS DOUBLE)
        |           / CAST(CAST(nnn AS VARCHAR) AS DOUBLE))
        |  ELSE NULL END AS h_tie_adj
        |FROM fin2 ORDER BY event_type""".stripMargin,

    // same exact conditional-sum suffstats, textually parallel chain
    "events_anova" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    user_id % 3 AS g
        |  FROM events),
        |agg AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN g = 0 THEN cents ELSE 0 END) AS BIGINT) AS s0,
        |    CAST(SUM(CASE WHEN g = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN g = 2 THEN cents ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(SUM(cents * cents) AS BIGINT) AS ss
        |  FROM ev GROUP BY 1),
        |fin AS (
        |  SELECT *, n0 + n1 + n2 AS n, s0 + s1 + s2 AS st,
        |    CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |      + CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS t,
        |    n0 > 0 AND n1 > 0 AND n2 > 0 AND n0 + n1 + n2 > 3 AS ok
        |  FROM agg),
        |fin2 AS (
        |  SELECT *,
        |    t - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
        |    CAST(ss AS DOUBLE) - t AS ssw,
        |    CAST(ss AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS sst
        |  FROM fin)
        |SELECT event_type, n, n0, n1, n2, s0, s1, s2,
        |  CASE WHEN ok THEN ssb END AS ssb,
        |  CASE WHEN ok THEN ssw END AS ssw,
        |  CASE WHEN ok THEN (ssb / 2.0) / (ssw / CAST(n - 3 AS DOUBLE)) END AS f_stat,
        |  CASE WHEN ok THEN ssb / sst END AS eta2
        |FROM fin2 ORDER BY event_type""".stripMargin,

    // same paired-sample doubled midranks and pinned sqrt finish
    "events_spearman" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, a.day,
        |    a.cnt AS xa, b.cnt AS xb
        |  FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type),
        |ranked AS (
        |  SELECT ta, tb,
        |    2 * RANK() OVER (PARTITION BY ta, tb ORDER BY xa)
        |      + COUNT(*) OVER (PARTITION BY ta, tb, xa) - 1 AS ra,
        |    2 * RANK() OVER (PARTITION BY ta, tb ORDER BY xb)
        |      + COUNT(*) OVER (PARTITION BY ta, tb, xb) - 1 AS rb
        |  FROM pairs),
        |st AS (
        |  SELECT ta, tb, COUNT(*) AS m,
        |    CAST(SUM(ra) AS BIGINT) AS sx, CAST(SUM(rb) AS BIGINT) AS sy,
        |    CAST(SUM(ra * rb) AS BIGINT) AS sxy,
        |    CAST(SUM(ra * ra) AS BIGINT) AS sxx,
        |    CAST(SUM(rb * rb) AS BIGINT) AS syy
        |  FROM ranked GROUP BY 1, 2)
        |SELECT ta, tb, m, CAST(m * sxy - sx * sy AS BIGINT) AS num,
        |  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
        |    CAST(m * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
        |  END AS rho
        |FROM st ORDER BY ta, tb""".stripMargin,

    // same integer ceil-rank percentile over the value histogram
    "events_winsorize" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |hist AS (SELECT event_type, cents, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, cents, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum
        |  FROM hist),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
        |j AS (
        |  SELECT cum.*, t.n, (5 * t.n + 99) // 100 AS r5, (95 * t.n + 99) // 100 AS r95
        |  FROM cum JOIN tot t USING (event_type)),
        |p5 AS (SELECT event_type, MIN(cents) AS p5 FROM j WHERE cum >= r5 GROUP BY 1),
        |p95 AS (SELECT event_type, MIN(cents) AS p95 FROM j WHERE cum >= r95 GROUP BY 1),
        |b AS (SELECT * FROM p5 JOIN p95 USING (event_type))
        |SELECT ev.event_type, CAST(COUNT(*) AS BIGINT) AS n, b.p5, b.p95,
        |  CAST(SUM(CASE WHEN cents < b.p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
        |  CAST(SUM(CASE WHEN cents > b.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
        |  CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_raw,
        |  CAST(SUM(GREATEST(b.p5, LEAST(cents, b.p95))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean_winsor
        |FROM ev JOIN b USING (event_type)
        |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin,

    // the decision replays by HUGEINT cross-multiplication; the wide
    // chi-square operands convert via VARCHAR parse (DuckDB's direct
    // hugeint→double cast double-rounds above 2^53)
    "events_abtest" ->
      """WITH ev AS (
        |  SELECT event_type, (user_id % 2 = 0) AS va,
        |    CASE WHEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) >= 2500
        |         THEN 1 ELSE 0 END AS conv
        |  FROM events),
        |agg AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN va THEN conv ELSE 0 END) AS HUGEINT) AS x1,
        |    CAST(SUM(CASE WHEN va THEN 1 - conv ELSE 0 END) AS HUGEINT) AS x2,
        |    CAST(SUM(CASE WHEN NOT va THEN conv ELSE 0 END) AS HUGEINT) AS y1,
        |    CAST(SUM(CASE WHEN NOT va THEN 1 - conv ELSE 0 END) AS HUGEINT) AS y2
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT event_type, x1, x2, y1, y2,
        |    (x1+x2+y1+y2) * (x1*y2 - x2*y1) * (x1*y2 - x2*y1) AS num,
        |    (x1+x2) * (y1+y2) * (x1+y1) * (x2+y2) AS den
        |  FROM agg)
        |SELECT event_type,
        |  CAST(x1+x2 AS BIGINT) AS n_a, CAST(x1 AS BIGINT) AS conv_a,
        |  CAST(y1+y2 AS BIGINT) AS n_b, CAST(y1 AS BIGINT) AS conv_b,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS chi2,
        |  num * 1000000 > den * 3841459 AS significant
        |FROM c ORDER BY event_type""".stripMargin,

    // same wedge construction over the md5 edge set; top-20 replays on
    // the exact (jaccard desc, u, v) order
    "graph_linkpred" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |raw AS (
        |  SELECT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('scc-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('scc-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |adj AS MATERIALIZED (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT src AS a, dst AS b FROM raw
        |    UNION ALL SELECT dst, src FROM raw)),
        |common AS (
        |  SELECT w1.a AS u, w2.a AS v, COUNT(*) AS c
        |  FROM adj w1 JOIN adj w2 ON w1.b = w2.b AND w1.a < w2.a
        |  GROUP BY 1, 2),
        |deg AS (SELECT a, COUNT(*) AS d FROM adj GROUP BY 1),
        |es AS (SELECT a AS eu, b AS ev FROM adj WHERE a < b)
        |SELECT u, v, c, du.d AS du, dv.d AS dv,
        |  CAST(c AS DOUBLE) / CAST(du.d + dv.d - c AS DOUBLE) AS jaccard,
        |  (es.eu IS NOT NULL) AS is_edge
        |FROM common
        |JOIN deg du ON du.a = u
        |JOIN deg dv ON dv.a = v
        |LEFT JOIN es ON es.eu = u AND es.ev = v
        |ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin,

    // single global window replays the banded two-phase scan exactly:
    // band ranges are disjoint in rev, so the orders coincide
    "orders_pareto" ->
      """WITH li AS (
        |  SELECT l_partkey AS pk,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT) AS rev
        |  FROM lineitem),
        |per AS (SELECT pk, CAST(SUM(rev) AS BIGINT) AS rev FROM li GROUP BY 1),
        |tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS trev FROM per),
        |c AS (
        |  SELECT pk, rev,
        |    CAST(SUM(rev) OVER (ORDER BY rev DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM per),
        |cl AS (
        |  SELECT CASE WHEN cum * 5 <= trev * 4 THEN 'A'
        |    WHEN cum * 20 <= trev * 19 THEN 'B' ELSE 'C' END AS abc_class,
        |    rev, trev
        |  FROM c, tot)
        |SELECT abc_class, COUNT(*) AS n_parts, CAST(SUM(rev) AS BIGINT) AS class_rev,
        |  CAST(SUM(rev) AS DOUBLE) / CAST(MAX(trev) AS DOUBLE) AS share
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same wedge join with the fixed-point 2^20 // deg(center)
    // weight attached BEFORE the pair agg — exact BIGINT scores
    "graph_linkpred_ra" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |raw AS (
        |  SELECT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('scc-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('scc-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |adj AS MATERIALIZED (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT src AS a, dst AS b FROM raw
        |    UNION ALL SELECT dst, src FROM raw)),
        |deg AS (SELECT a, COUNT(*) AS d FROM adj GROUP BY 1),
        |wadj AS (
        |  SELECT adj.a, adj.b, CAST(1048576 // dg.d AS BIGINT) AS wt
        |  FROM adj JOIN deg dg ON dg.a = adj.b),
        |pairs AS (
        |  SELECT w1.a AS u, w2.a AS v, COUNT(*) AS c, SUM(w1.wt) AS ra
        |  FROM wadj w1 JOIN wadj w2 ON w1.b = w2.b AND w1.a < w2.a
        |  GROUP BY 1, 2),
        |es AS (SELECT a AS eu, b AS ev FROM adj WHERE a < b)
        |SELECT u, v, CAST(c AS BIGINT) AS c, CAST(ra AS BIGINT) AS ra,
        |  (es.eu IS NOT NULL) AS is_edge
        |FROM pairs
        |LEFT JOIN es ON es.eu = u AND es.ev = v
        |ORDER BY ra DESC, u, v LIMIT 20""".stripMargin,

    // all three synchronous rounds unrolled with the same deterministic
    // (count desc, min label) argmax total order
    "graph_labelprop" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |raw AS (
        |  SELECT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('lpa-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('lpa-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM raw
        |    UNION ALL SELECT dst, src FROM raw)),
        |l0 AS (SELECT node, node AS label FROM base),
        |n1 AS (SELECT u, label FROM (
        |  SELECT e.u, l.label, COUNT(*) AS cnt,
        |    row_number() OVER (PARTITION BY e.u ORDER BY COUNT(*) DESC, l.label) AS rn
        |  FROM edges e JOIN l0 l ON l.node = e.v GROUP BY e.u, l.label) WHERE rn = 1),
        |l1 AS (SELECT l0.node, COALESCE(n1.label, l0.label) AS label
        |       FROM l0 LEFT JOIN n1 ON n1.u = l0.node),
        |n2 AS (SELECT u, label FROM (
        |  SELECT e.u, l.label, COUNT(*) AS cnt,
        |    row_number() OVER (PARTITION BY e.u ORDER BY COUNT(*) DESC, l.label) AS rn
        |  FROM edges e JOIN l1 l ON l.node = e.v GROUP BY e.u, l.label) WHERE rn = 1),
        |l2 AS (SELECT l1.node, COALESCE(n2.label, l1.label) AS label
        |       FROM l1 LEFT JOIN n2 ON n2.u = l1.node),
        |n3 AS (SELECT u, label FROM (
        |  SELECT e.u, l.label, COUNT(*) AS cnt,
        |    row_number() OVER (PARTITION BY e.u ORDER BY COUNT(*) DESC, l.label) AS rn
        |  FROM edges e JOIN l2 l ON l.node = e.v GROUP BY e.u, l.label) WHERE rn = 1),
        |l3 AS (SELECT l2.node, COALESCE(n3.label, l2.label) AS label
        |       FROM l2 LEFT JOIN n3 ON n3.u = l2.node)
        |SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // synchronous singleton-start Louvain sweep replayed by definition:
    // gain = 2m − k_u·k_v (exact BIGINT), per-node argmax with the same
    // (gain desc, v asc) total order, then the partition's scaled
    // modularity q_num = Σ_c (2m·e2_c − Σtot_c²) over q_den = 4m²
    "graph_modularity" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |raw AS (
        |  SELECT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('mod-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('mod-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM raw
        |    UNION ALL SELECT dst, src FROM raw)),
        |deg AS (SELECT u AS node, COUNT(*) AS k FROM edges GROUP BY 1),
        |mm AS (SELECT COUNT(*) // 2 AS m FROM edges),
        |mv AS (SELECT u, v FROM (
        |  SELECT e.u, e.v, 2 * mm.m - du.k * dv.k AS gain,
        |    row_number() OVER (PARTITION BY e.u
        |      ORDER BY (2 * mm.m - du.k * dv.k) DESC, e.v) AS rn
        |  FROM edges e
        |  JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node, mm)
        |  WHERE rn = 1 AND gain > 0),
        |labels AS MATERIALIZED (
        |  SELECT b.node, COALESCE(mv.v, b.node) AS label
        |  FROM base b LEFT JOIN mv ON mv.u = b.node),
        |intra AS (
        |  SELECT lu.label, COUNT(*) AS e2 FROM edges e
        |  JOIN labels lu ON e.u = lu.node JOIN labels lv ON e.v = lv.node
        |  WHERE lu.label = lv.label GROUP BY 1),
        |tot AS (
        |  SELECT l.label, SUM(COALESCE(d.k, 0)) AS sum_tot FROM labels l
        |  LEFT JOIN deg d ON l.node = d.node GROUP BY 1),
        |q AS (
        |  SELECT CAST(SUM(2 * mm.m * COALESCE(i.e2, 0)
        |           - t.sum_tot * t.sum_tot) AS BIGINT) AS q_num,
        |    CAST(ANY_VALUE(4 * mm.m * mm.m) AS BIGINT) AS q_den,
        |    COUNT(*) AS n_total
        |  FROM tot t LEFT JOIN intra i ON t.label = i.label, mm),
        |sizes AS (
        |  SELECT size, CAST(COUNT(*) AS BIGINT) AS n_communities FROM (
        |    SELECT label, CAST(COUNT(*) AS BIGINT) AS size
        |    FROM labels GROUP BY 1) GROUP BY 1)
        |SELECT size, n_communities, q_num, q_den, n_total
        |FROM sizes, q ORDER BY size""".stripMargin,

    // level 1 identical to graph_modularity's replay; level 2 contracts
    // (keyed label joins + (lu,lv) count agg), re-derives weighted
    // degrees, and replays the weighted gain 2m·w − K_u·K_v with the
    // same total order; both q values recomputed on the ORIGINAL graph
    "graph_louvain2" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |raw AS (
        |  SELECT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('mod-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('mod-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM raw
        |    UNION ALL SELECT dst, src FROM raw)),
        |deg AS (SELECT u AS node, COUNT(*) AS k FROM edges GROUP BY 1),
        |mm AS (SELECT COUNT(*) // 2 AS m FROM edges),
        |mv AS (SELECT u, v FROM (
        |  SELECT e.u, e.v, 2 * mm.m - du.k * dv.k AS gain,
        |    row_number() OVER (PARTITION BY e.u
        |      ORDER BY (2 * mm.m - du.k * dv.k) DESC, e.v) AS rn
        |  FROM edges e
        |  JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node, mm)
        |  WHERE rn = 1 AND gain > 0),
        |labels AS MATERIALIZED (
        |  SELECT b.node, COALESCE(mv.v, b.node) AS label
        |  FROM base b LEFT JOIN mv ON mv.u = b.node),
        |wed AS MATERIALIZED (
        |  SELECT lu.label AS u, lv.label AS v, COUNT(*) AS w FROM edges e
        |  JOIN labels lu ON e.u = lu.node JOIN labels lv ON e.v = lv.node
        |  GROUP BY 1, 2),
        |deg2 AS (SELECT u AS node, SUM(w) AS k FROM wed GROUP BY 1),
        |mm2 AS (SELECT SUM(w) // 2 AS m FROM wed),
        |mv2 AS (SELECT u, v FROM (
        |  SELECT wd.u, wd.v, 2 * mm2.m * wd.w - du.k * dv.k AS gain,
        |    row_number() OVER (PARTITION BY wd.u
        |      ORDER BY (2 * mm2.m * wd.w - du.k * dv.k) DESC, wd.v) AS rn
        |  FROM wed wd JOIN deg2 du ON wd.u = du.node
        |  JOIN deg2 dv ON wd.v = dv.node, mm2 WHERE wd.u <> wd.v)
        |  WHERE rn = 1 AND gain > 0),
        |l2map AS (
        |  SELECT n2.node, COALESCE(mv2.v, n2.node) AS label
        |  FROM (SELECT DISTINCT label AS node FROM labels) n2
        |  LEFT JOIN mv2 ON mv2.u = n2.node),
        |composed AS MATERIALIZED (
        |  SELECT l1.node, l2.label FROM labels l1
        |  JOIN l2map l2 ON l2.node = l1.label),
        |intra1 AS (
        |  SELECT lu.label, COUNT(*) AS e2 FROM edges e
        |  JOIN labels lu ON e.u = lu.node JOIN labels lv ON e.v = lv.node
        |  WHERE lu.label = lv.label GROUP BY 1),
        |tot1 AS (
        |  SELECT l.label, SUM(COALESCE(d.k, 0)) AS sum_tot FROM labels l
        |  LEFT JOIN deg d ON l.node = d.node GROUP BY 1),
        |q1 AS (
        |  SELECT CAST(SUM(2 * mm.m * COALESCE(i.e2, 0)
        |           - t.sum_tot * t.sum_tot) AS BIGINT) AS q1_num,
        |    CAST(ANY_VALUE(4 * mm.m * mm.m) AS BIGINT) AS q_den,
        |    COUNT(*) AS n_level1
        |  FROM tot1 t LEFT JOIN intra1 i ON t.label = i.label, mm),
        |intra2 AS (
        |  SELECT lu.label, COUNT(*) AS e2 FROM edges e
        |  JOIN composed lu ON e.u = lu.node JOIN composed lv ON e.v = lv.node
        |  WHERE lu.label = lv.label GROUP BY 1),
        |tot2 AS (
        |  SELECT l.label, SUM(COALESCE(d.k, 0)) AS sum_tot FROM composed l
        |  LEFT JOIN deg d ON l.node = d.node GROUP BY 1),
        |q2 AS (
        |  SELECT CAST(SUM(2 * mm.m * COALESCE(i.e2, 0)
        |           - t.sum_tot * t.sum_tot) AS BIGINT) AS q2_num,
        |    COUNT(*) AS n_level2
        |  FROM tot2 t LEFT JOIN intra2 i ON t.label = i.label, mm),
        |sizes AS (
        |  SELECT size, CAST(COUNT(*) AS BIGINT) AS n_communities FROM (
        |    SELECT label, CAST(COUNT(*) AS BIGINT) AS size
        |    FROM composed GROUP BY 1) GROUP BY 1)
        |SELECT size, n_communities, q1_num, q_den, n_level1, q2_num, n_level2
        |FROM sizes, q1, q2 ORDER BY size""".stripMargin,

    // same three scaled-integer rounds unrolled; truncating // matches
    // Spark's div exactly because every operand is non-negative
    "graph_pagerank" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('pr-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('pr-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
        |p0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM base),
        |c1 AS (SELECT e.dst, CAST(SUM((p.pr * 17) // (20 * d.deg)) AS BIGINT) AS c
        |  FROM edges e JOIN p0 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |  GROUP BY e.dst),
        |p1 AS (SELECT b.node, CAST(150000000 + COALESCE(c.c, 0) AS BIGINT) AS pr
        |  FROM base b LEFT JOIN c1 c ON c.dst = b.node),
        |c2 AS (SELECT e.dst, CAST(SUM((p.pr * 17) // (20 * d.deg)) AS BIGINT) AS c
        |  FROM edges e JOIN p1 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |  GROUP BY e.dst),
        |p2 AS (SELECT b.node, CAST(150000000 + COALESCE(c.c, 0) AS BIGINT) AS pr
        |  FROM base b LEFT JOIN c2 c ON c.dst = b.node),
        |c3 AS (SELECT e.dst, CAST(SUM((p.pr * 17) // (20 * d.deg)) AS BIGINT) AS c
        |  FROM edges e JOIN p2 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |  GROUP BY e.dst),
        |p3 AS (SELECT b.node, CAST(150000000 + COALESCE(c.c, 0) AS BIGINT) AS pr
        |  FROM base b LEFT JOIN c3 c ON c.dst = b.node)
        |SELECT node, pr FROM p3 ORDER BY pr DESC, node LIMIT 20""".stripMargin,

    // same 'pr-' digraph; reversed-key self-join census
    "graph_reciprocity" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('pr-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('pr-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base))
        |SELECT COUNT(*) AS n_edges,
        |  CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_reciprocated,
        |  CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) // 2 AS BIGINT)
        |    AS n_mutual_dyads,
        |  CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS reciprocity
        |FROM edges e LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src""".stripMargin,

    // same 'hits-' digraph; the four keyed half-round aggs unrolled,
    // all pure-integer path counts (unnormalized — rescale-free ranking)
    "graph_hits" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('hits-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node,
        |      ('0x' || substr(md5('hits-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM base),
        |a1r AS (SELECT e.dst, CAST(SUM(p.h) AS BIGINT) AS a
        |  FROM edges e JOIN h0 p ON p.node = e.src GROUP BY e.dst),
        |a1 AS (SELECT b.node, CAST(COALESCE(r.a, 0) AS BIGINT) AS a
        |  FROM base b LEFT JOIN a1r r ON r.dst = b.node),
        |h1r AS (SELECT e.src, CAST(SUM(p.a) AS BIGINT) AS h
        |  FROM edges e JOIN a1 p ON p.node = e.dst GROUP BY e.src),
        |h1 AS (SELECT b.node, CAST(COALESCE(r.h, 0) AS BIGINT) AS h
        |  FROM base b LEFT JOIN h1r r ON r.src = b.node),
        |a2r AS (SELECT e.dst, CAST(SUM(p.h) AS BIGINT) AS a
        |  FROM edges e JOIN h1 p ON p.node = e.src GROUP BY e.dst),
        |a2 AS (SELECT b.node, CAST(COALESCE(r.a, 0) AS BIGINT) AS a
        |  FROM base b LEFT JOIN a2r r ON r.dst = b.node),
        |h2r AS (SELECT e.src, CAST(SUM(p.a) AS BIGINT) AS h
        |  FROM edges e JOIN a2 p ON p.node = e.dst GROUP BY e.src),
        |h2 AS (SELECT b.node, CAST(COALESCE(r.h, 0) AS BIGINT) AS h
        |  FROM base b LEFT JOIN h2r r ON r.src = b.node)
        |SELECT a2.node, a2.a AS authority, h2.h AS hub
        |FROM a2 JOIN h2 ON h2.node = a2.node
        |ORDER BY authority DESC, hub DESC, a2.node LIMIT 20""".stripMargin,

    // same per-file counts; the DV cardinality must equal the
    // anti-join's per-file row loss
    "layout_deletion_vectors" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderkey // 2048 AS file_id,
        |    o_orderkey % 2048 AS pos
        |  FROM orders),
        |del AS (SELECT file_id, pos FROM base WHERE o_orderkey % 11 = 3),
        |r AS (SELECT file_id, COUNT(*) AS n_rows FROM base GROUP BY 1),
        |dc AS (SELECT file_id, COUNT(*) AS n_deleted FROM del GROUP BY 1),
        |sv AS (
        |  SELECT b.file_id, COUNT(*) AS n_survivors
        |  FROM base b LEFT JOIN del d ON d.file_id = b.file_id AND d.pos = b.pos
        |  WHERE d.pos IS NULL GROUP BY 1)
        |SELECT r.file_id, r.n_rows,
        |  CAST(COALESCE(dc.n_deleted, 0) AS BIGINT) AS n_deleted_dv,
        |  CAST(COALESCE(sv.n_survivors, 0) AS BIGINT) AS n_survivors,
        |  COALESCE(dc.n_deleted, 0) = r.n_rows - COALESCE(sv.n_survivors, 0) AS ok_dv
        |FROM r LEFT JOIN dc ON dc.file_id = r.file_id
        |LEFT JOIN sv ON sv.file_id = r.file_id
        |ORDER BY r.file_id""".stripMargin,

    // same 3-hash undirected graph and 8 unrolled synchronized peels
    "graph_kcore" -> (
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS node FROM customer),
        |raw AS (
        |  SELECT src, dst FROM (
        |    SELECT node AS src,
        |      ('0x' || substr(md5('kc-a-' || node), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node, ('0x' || substr(md5('kc-b-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0
        |    UNION ALL
        |    SELECT node, ('0x' || substr(md5('kc-c-' || node), 1, 15))::BIGINT % nn.n
        |    FROM base, nn WHERE node % 7 <> 0)
        |  WHERE src <> dst AND dst IN (SELECT node FROM base)),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM raw
        |    UNION ALL SELECT dst, src FROM raw)),
        |""".stripMargin +
      (1 to 8).map(kcoreLevel).mkString(",\n") +
      """
        |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM (
        |  SELECT u, COUNT(*) AS deg FROM e8 GROUP BY u)
        |GROUP BY deg ORDER BY deg""".stripMargin),

    "set_reconcile" ->
      """WITH y96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT 'acquired' AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96)
        |UNION ALL
        |SELECT 'churned', CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
        |UNION ALL
        |SELECT 'retained', CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
        |ORDER BY segment""".stripMargin,

    "graph_bfs" ->
      ("""WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS u FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT u AS src, dst FROM (
        |    SELECT u, ('0x' || substr(md5('scc-a-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0
        |    UNION ALL
        |    SELECT u, ('0x' || substr(md5('scc-b-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0)
        |  WHERE u <> dst),
        |walk AS MATERIALIZED (
        |  WITH RECURSIVE w(node, d) AS (
        |    SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |    UNION
        |    SELECT e.dst, w.d + 1 FROM w JOIN edges e ON e.src = w.node
        |    WHERE w.d < """.stripMargin + BfsHopCap.toString + """)
        |  SELECT node, MIN(d) AS dist FROM w GROUP BY node),
        |reach AS (
        |  SELECT walk.node, walk.dist FROM walk JOIN base ON walk.node = base.u)
        |SELECT dist, COUNT(*) AS n_nodes FROM reach
        |GROUP BY dist ORDER BY dist""".stripMargin),

    // four recursive walks in one CTE (source s threaded through),
    // MIN(d) per (s, node), Σ-distance closeness ranking by definition
    "graph_closeness" ->
      ("""WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS u FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT u AS src, dst FROM (
        |    SELECT u, ('0x' || substr(md5('scc-a-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0
        |    UNION ALL
        |    SELECT u, ('0x' || substr(md5('scc-b-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0)
        |  WHERE u <> dst),
        |walk AS MATERIALIZED (
        |  WITH RECURSIVE w(s, node, d) AS (
        |    SELECT src.s, src.s, CAST(0 AS BIGINT)
        |    FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        |          (CAST(3 AS BIGINT)), (CAST(5 AS BIGINT))) src(s)
        |    UNION
        |    SELECT w.s, e.dst, w.d + 1 FROM w JOIN edges e ON e.src = w.node
        |    WHERE w.d < """.stripMargin + BfsHopCap.toString + """)
        |  SELECT s, node, MIN(d) AS dist FROM w GROUP BY 1, 2),
        |reach AS (
        |  SELECT walk.s, walk.node, walk.dist FROM walk
        |  JOIN base ON walk.node = base.u),
        |agg AS (
        |  SELECT node, COUNT(*) AS n_src, CAST(SUM(dist) AS BIGINT) AS sum_dist
        |  FROM reach GROUP BY 1)
        |SELECT node, n_src, sum_dist FROM agg
        |ORDER BY n_src DESC, sum_dist, node LIMIT 20""".stripMargin),

    // same four recursive walks; per-source MAX(dist) census + the
    // one-row min/max bounds crossed back on
    "graph_eccentricity" ->
      ("""WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS u FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT u AS src, dst FROM (
        |    SELECT u, ('0x' || substr(md5('scc-a-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0
        |    UNION ALL
        |    SELECT u, ('0x' || substr(md5('scc-b-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0)
        |  WHERE u <> dst),
        |walk AS MATERIALIZED (
        |  WITH RECURSIVE w(s, node, d) AS (
        |    SELECT src.s, src.s, CAST(0 AS BIGINT)
        |    FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        |          (CAST(3 AS BIGINT)), (CAST(5 AS BIGINT))) src(s)
        |    UNION
        |    SELECT w.s, e.dst, w.d + 1 FROM w JOIN edges e ON e.src = w.node
        |    WHERE w.d < """.stripMargin + BfsHopCap.toString + """)
        |  SELECT s, node, MIN(d) AS dist FROM w GROUP BY 1, 2),
        |reach AS (
        |  SELECT walk.s, walk.node, walk.dist FROM walk
        |  JOIN base ON walk.node = base.u),
        |per AS (
        |  SELECT s, COUNT(*) AS n_reached, CAST(MAX(dist) AS BIGINT) AS ecc
        |  FROM reach GROUP BY 1),
        |b AS (SELECT MIN(ecc) AS radius_ub, MAX(ecc) AS diameter_lb FROM per)
        |SELECT per.s, per.n_reached, per.ecc, b.radius_ub, b.diameter_lb
        |FROM per, b ORDER BY per.s""".stripMargin),

    // same edge derivation; degree-annotated edge pass, exact sufficient
    // statistics, one fixed IEEE tail (cast/sqrt/sqrt/mul/div)
    "graph_assortativity" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM customer),
        |base AS (SELECT CAST(c_custkey AS BIGINT) AS u FROM customer),
        |edges AS MATERIALIZED (
        |  SELECT u AS src, dst FROM (
        |    SELECT u, ('0x' || substr(md5('scc-a-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0
        |    UNION ALL
        |    SELECT u, ('0x' || substr(md5('scc-b-' || u), 1, 15))::BIGINT % nn.n AS dst
        |    FROM base, nn WHERE u % 7 <> 0)
        |  WHERE u <> dst),
        |outd AS (SELECT src, COUNT(*) AS xd FROM edges GROUP BY 1),
        |ind AS (SELECT dst, COUNT(*) AS yd FROM edges GROUP BY 1),
        |ex AS (SELECT o.xd, i.yd FROM edges e
        |  JOIN outd o ON o.src = e.src JOIN ind i ON i.dst = e.dst),
        |st AS (SELECT COUNT(*) AS m,
        |  CAST(SUM(xd) AS BIGINT) AS sx, CAST(SUM(yd) AS BIGINT) AS sy,
        |  CAST(SUM(xd * yd) AS BIGINT) AS sxy,
        |  CAST(SUM(xd * xd) AS BIGINT) AS sxx,
        |  CAST(SUM(yd * yd) AS BIGINT) AS syy FROM ex)
        |SELECT m, sx, sy, sxy, sxx, syy,
        |  CAST(m * sxy - sx * sy AS DOUBLE)
        |    / NULLIF(sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(m * syy - sy * sy AS DOUBLE)), 0) AS r
        |FROM st""".stripMargin,

    // five likelihood-scored rounds, generated programmatically (same
    // round shape as text_bpe_train's unrolled oracle plus a per-round
    // symbol-count CTE and the scored ORDER BY — double division is
    // identically rounded in both engines, products < 2^53)
    "text_wordpiece_train" -> {
      val rounds = 5
      val cte = (1 to rounds).map { i =>
        s"""tk$i AS MATERIALIZED (SELECT seq, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
           |  FROM (SELECT seq, freq, string_split(trim(seq, '·'), '··') AS toks FROM s${i - 1}) q$i),
           |sym$i AS MATERIALIZED (SELECT tok, SUM(freq) AS f FROM tk$i GROUP BY tok),
           |c$i AS (SELECT a.tok AS lhs, b.tok AS rhs, SUM(a.freq) AS c
           |  FROM tk$i a JOIN tk$i b ON a.seq = b.seq AND b.pos = a.pos + 1 GROUP BY 1, 2),
           |t$i AS MATERIALIZED (SELECT c$i.lhs, c$i.rhs, c, sa.f AS fa, sb.f AS fb
           |  FROM c$i JOIN sym$i sa ON c$i.lhs = sa.tok JOIN sym$i sb ON c$i.rhs = sb.tok
           |  ORDER BY CAST(c AS DOUBLE) / CAST(sa.f * sb.f AS DOUBLE) DESC, c$i.lhs || '··' || c$i.rhs LIMIT 1),
           |s$i AS MATERIALIZED (SELECT replace(seq, '·' || (SELECT lhs || '··' || rhs FROM t$i) || '·',
           |  '·' || (SELECT lhs || rhs FROM t$i) || '·') AS seq, freq FROM s${i - 1})""".stripMargin
      }.mkString(",\n")
      val sel = (1 to rounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, lhs, rhs, lhs || rhs AS merged, " +
          s"CAST(c AS BIGINT) AS n_pair, CAST(fa AS BIGINT) AS f_lhs, CAST(fb AS BIGINT) AS f_rhs FROM t$i")
        .mkString("\nUNION ALL ")
      s"""WITH w AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS freq FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) u
         |  WHERE len(word) > 0 GROUP BY word),
         |s0 AS MATERIALIZED (SELECT '·' || array_to_string(list_append(string_split(word, ''), '</w>'), '··') || '·' AS seq, freq FROM w),
         |$cte
         |$sel
         |ORDER BY step""".stripMargin
    },

    "text_bpe_train" ->
      """WITH w AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) u
        |  WHERE len(word) > 0 GROUP BY word),
        |s0 AS MATERIALIZED (SELECT '·' || array_to_string(list_append(string_split(word, ''), '</w>'), '··') || '·' AS seq, freq FROM w),
        |tk1 AS MATERIALIZED (SELECT seq, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT seq, freq, string_split(trim(seq, '·'), '··') AS toks FROM s0) q1),
        |c1 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk1 a JOIN tk1 b ON a.seq = b.seq AND b.pos = a.pos + 1 GROUP BY pair),
        |t1 AS MATERIALIZED (SELECT pair, c FROM c1 ORDER BY c DESC, pair LIMIT 1),
        |s1 AS MATERIALIZED (SELECT replace(seq, '·' || (SELECT pair FROM t1) || '·',
        |  '·' || replace((SELECT pair FROM t1), '··', '') || '·') AS seq, freq FROM s0),
        |tk2 AS MATERIALIZED (SELECT seq, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT seq, freq, string_split(trim(seq, '·'), '··') AS toks FROM s1) q2),
        |c2 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk2 a JOIN tk2 b ON a.seq = b.seq AND b.pos = a.pos + 1 GROUP BY pair),
        |t2 AS MATERIALIZED (SELECT pair, c FROM c2 ORDER BY c DESC, pair LIMIT 1),
        |s2 AS MATERIALIZED (SELECT replace(seq, '·' || (SELECT pair FROM t2) || '·',
        |  '·' || replace((SELECT pair FROM t2), '··', '') || '·') AS seq, freq FROM s1),
        |tk3 AS MATERIALIZED (SELECT seq, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT seq, freq, string_split(trim(seq, '·'), '··') AS toks FROM s2) q3),
        |c3 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk3 a JOIN tk3 b ON a.seq = b.seq AND b.pos = a.pos + 1 GROUP BY pair),
        |t3 AS MATERIALIZED (SELECT pair, c FROM c3 ORDER BY c DESC, pair LIMIT 1),
        |s3 AS MATERIALIZED (SELECT replace(seq, '·' || (SELECT pair FROM t3) || '·',
        |  '·' || replace((SELECT pair FROM t3), '··', '') || '·') AS seq, freq FROM s2),
        |tk4 AS MATERIALIZED (SELECT seq, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT seq, freq, string_split(trim(seq, '·'), '··') AS toks FROM s3) q4),
        |c4 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk4 a JOIN tk4 b ON a.seq = b.seq AND b.pos = a.pos + 1 GROUP BY pair),
        |t4 AS MATERIALIZED (SELECT pair, c FROM c4 ORDER BY c DESC, pair LIMIT 1),
        |s4 AS MATERIALIZED (SELECT replace(seq, '·' || (SELECT pair FROM t4) || '·',
        |  '·' || replace((SELECT pair FROM t4), '··', '') || '·') AS seq, freq FROM s3),
        |tk5 AS MATERIALIZED (SELECT seq, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT seq, freq, string_split(trim(seq, '·'), '··') AS toks FROM s4) q5),
        |c5 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk5 a JOIN tk5 b ON a.seq = b.seq AND b.pos = a.pos + 1 GROUP BY pair),
        |t5 AS MATERIALIZED (SELECT pair, c FROM c5 ORDER BY c DESC, pair LIMIT 1),
        |s5 AS MATERIALIZED (SELECT replace(seq, '·' || (SELECT pair FROM t5) || '·',
        |  '·' || replace((SELECT pair FROM t5), '··', '') || '·') AS seq, freq FROM s4),
        |tk6 AS MATERIALIZED (SELECT seq, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT seq, freq, string_split(trim(seq, '·'), '··') AS toks FROM s5) q6),
        |c6 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk6 a JOIN tk6 b ON a.seq = b.seq AND b.pos = a.pos + 1 GROUP BY pair),
        |t6 AS MATERIALIZED (SELECT pair, c FROM c6 ORDER BY c DESC, pair LIMIT 1),
        |s6 AS MATERIALIZED (SELECT replace(seq, '·' || (SELECT pair FROM t6) || '·',
        |  '·' || replace((SELECT pair FROM t6), '··', '') || '·') AS seq, freq FROM s5)
        |SELECT CAST(1 AS BIGINT) AS step, string_split(pair, '··')[1] AS lhs, string_split(pair, '··')[2] AS rhs, replace(pair, '··', '') AS merged, CAST(c AS BIGINT) AS cnt FROM t1
        |UNION ALL SELECT CAST(2 AS BIGINT) AS step, string_split(pair, '··')[1] AS lhs, string_split(pair, '··')[2] AS rhs, replace(pair, '··', '') AS merged, CAST(c AS BIGINT) AS cnt FROM t2
        |UNION ALL SELECT CAST(3 AS BIGINT) AS step, string_split(pair, '··')[1] AS lhs, string_split(pair, '··')[2] AS rhs, replace(pair, '··', '') AS merged, CAST(c AS BIGINT) AS cnt FROM t3
        |UNION ALL SELECT CAST(4 AS BIGINT) AS step, string_split(pair, '··')[1] AS lhs, string_split(pair, '··')[2] AS rhs, replace(pair, '··', '') AS merged, CAST(c AS BIGINT) AS cnt FROM t4
        |UNION ALL SELECT CAST(5 AS BIGINT) AS step, string_split(pair, '··')[1] AS lhs, string_split(pair, '··')[2] AS rhs, replace(pair, '··', '') AS merged, CAST(c AS BIGINT) AS cnt FROM t5
        |UNION ALL SELECT CAST(6 AS BIGINT) AS step, string_split(pair, '··')[1] AS lhs, string_split(pair, '··')[2] AS rhs, replace(pair, '··', '') AS merged, CAST(c AS BIGINT) AS cnt FROM t6
        |ORDER BY step""".stripMargin,

    // replays vocab ranking AND the greedy maximal-munch walk (recursive
    // CTE advancing by the longest matching piece per position)
    "text_wordpiece_encode" ->
      """WITH toks AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE len(word) > 0),
        |words AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY 1),
        |pref AS (
        |  SELECT substr(word, 1, l) AS g, SUM(freq) AS f
        |  FROM words, (SELECT UNNEST([1,2,3,4]) AS l)
        |  WHERE len(word) >= l GROUP BY 1),
        |startv AS (
        |  SELECT g FROM (SELECT g, row_number() OVER (ORDER BY f DESC, g) AS rn FROM pref)
        |  WHERE rn <= 200 OR len(g) = 1),
        |cont_raw AS (
        |  SELECT substr(w.word, CAST(p AS INT), l) AS g, SUM(w.freq) AS f
        |  FROM (SELECT word, freq, UNNEST(generate_series(2, len(word))) AS p FROM words) w,
        |       (SELECT UNNEST([1,2,3,4]) AS l)
        |  WHERE len(w.word) - p + 1 >= l GROUP BY 1),
        |contv AS (
        |  SELECT g FROM (SELECT g, row_number() OVER (ORDER BY f DESC, g) AS rn FROM cont_raw)
        |  WHERE rn <= 200 OR len(g) = 1),
        |vocab AS (
        |  SELECT g, true AS is_start FROM startv
        |  UNION ALL SELECT g, false FROM contv),
        |walk AS (
        |  WITH RECURSIVE r(word, pos, cnt) AS (
        |    SELECT word, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM words
        |    UNION ALL
        |    SELECT w.word, w.pos + m.l, w.cnt + 1
        |    FROM r w, LATERAL (
        |      SELECT MAX(len(v.g)) AS l FROM vocab v
        |      WHERE ((w.pos = 1) = v.is_start)
        |        AND len(v.g) <= len(w.word) - w.pos + 1
        |        AND v.g = substr(w.word, CAST(w.pos AS INT), len(v.g))
        |    ) m
        |    WHERE w.pos <= len(w.word) AND m.l IS NOT NULL)
        |  SELECT word, cnt AS n_pieces FROM r WHERE pos = len(word) + 1)
        |SELECT t.doc_id, COUNT(*) AS n_words, CAST(SUM(e.n_pieces) AS BIGINT) AS n_subwords
        |FROM toks t JOIN walk e ON t.word = e.word
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_bpe_encode" ->
      """WITH tok AS MATERIALIZED (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents) u
        |  WHERE len(word) > 0),
        |w AS MATERIALIZED (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word),
        |s0 AS MATERIALIZED (SELECT word, '·' || array_to_string(list_append(string_split(word, ''), '</w>'), '··') || '·' AS seq, freq FROM w),
        |tk1 AS MATERIALIZED (SELECT word, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT word, freq, string_split(trim(seq, '·'), '··') AS toks FROM s0) q1),
        |c1 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk1 a JOIN tk1 b ON a.word = b.word AND b.pos = a.pos + 1 GROUP BY pair),
        |t1 AS MATERIALIZED (SELECT pair, c FROM c1 ORDER BY c DESC, pair LIMIT 1),
        |s1 AS MATERIALIZED (SELECT word, replace(seq, '·' || (SELECT pair FROM t1) || '·',
        |  '·' || replace((SELECT pair FROM t1), '··', '') || '·') AS seq, freq FROM s0),
        |tk2 AS MATERIALIZED (SELECT word, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT word, freq, string_split(trim(seq, '·'), '··') AS toks FROM s1) q2),
        |c2 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk2 a JOIN tk2 b ON a.word = b.word AND b.pos = a.pos + 1 GROUP BY pair),
        |t2 AS MATERIALIZED (SELECT pair, c FROM c2 ORDER BY c DESC, pair LIMIT 1),
        |s2 AS MATERIALIZED (SELECT word, replace(seq, '·' || (SELECT pair FROM t2) || '·',
        |  '·' || replace((SELECT pair FROM t2), '··', '') || '·') AS seq, freq FROM s1),
        |tk3 AS MATERIALIZED (SELECT word, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT word, freq, string_split(trim(seq, '·'), '··') AS toks FROM s2) q3),
        |c3 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk3 a JOIN tk3 b ON a.word = b.word AND b.pos = a.pos + 1 GROUP BY pair),
        |t3 AS MATERIALIZED (SELECT pair, c FROM c3 ORDER BY c DESC, pair LIMIT 1),
        |s3 AS MATERIALIZED (SELECT word, replace(seq, '·' || (SELECT pair FROM t3) || '·',
        |  '·' || replace((SELECT pair FROM t3), '··', '') || '·') AS seq, freq FROM s2),
        |tk4 AS MATERIALIZED (SELECT word, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT word, freq, string_split(trim(seq, '·'), '··') AS toks FROM s3) q4),
        |c4 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk4 a JOIN tk4 b ON a.word = b.word AND b.pos = a.pos + 1 GROUP BY pair),
        |t4 AS MATERIALIZED (SELECT pair, c FROM c4 ORDER BY c DESC, pair LIMIT 1),
        |s4 AS MATERIALIZED (SELECT word, replace(seq, '·' || (SELECT pair FROM t4) || '·',
        |  '·' || replace((SELECT pair FROM t4), '··', '') || '·') AS seq, freq FROM s3),
        |tk5 AS MATERIALIZED (SELECT word, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT word, freq, string_split(trim(seq, '·'), '··') AS toks FROM s4) q5),
        |c5 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk5 a JOIN tk5 b ON a.word = b.word AND b.pos = a.pos + 1 GROUP BY pair),
        |t5 AS MATERIALIZED (SELECT pair, c FROM c5 ORDER BY c DESC, pair LIMIT 1),
        |s5 AS MATERIALIZED (SELECT word, replace(seq, '·' || (SELECT pair FROM t5) || '·',
        |  '·' || replace((SELECT pair FROM t5), '··', '') || '·') AS seq, freq FROM s4),
        |tk6 AS MATERIALIZED (SELECT word, freq, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        |  FROM (SELECT word, freq, string_split(trim(seq, '·'), '··') AS toks FROM s5) q6),
        |c6 AS (SELECT a.tok || '··' || b.tok AS pair, SUM(a.freq) AS c
        |  FROM tk6 a JOIN tk6 b ON a.word = b.word AND b.pos = a.pos + 1 GROUP BY pair),
        |t6 AS MATERIALIZED (SELECT pair, c FROM c6 ORDER BY c DESC, pair LIMIT 1),
        |s6 AS MATERIALIZED (SELECT word, replace(seq, '·' || (SELECT pair FROM t6) || '·',
        |  '·' || replace((SELECT pair FROM t6), '··', '') || '·') AS seq, freq FROM s5),
        |enc AS MATERIALIZED (SELECT word, CAST(len(string_split(trim(seq, '·'), '··')) AS BIGINT) AS n_subwords FROM s6)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(e.n_subwords) AS BIGINT) AS n_subwords
        |FROM tok t JOIN enc e USING (word)
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "graph_triangles" ->
      """WITH t AS (SELECT list_filter(string_split(lower(text), ' '),
        |    w -> len(w) > 0) AS toks FROM documents),
        |bg AS (SELECT least(toks[i], toks[i+1]) AS u, greatest(toks[i], toks[i+1]) AS v
        |       FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) q
        |       WHERE len(toks) >= 2),
        |ed AS (SELECT DISTINCT u, v FROM bg WHERE u <> v),
        |tr AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |       FROM ed e1 JOIN ed e2 ON e2.u = e1.v
        |         JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nodes AS (SELECT UNNEST([a, b, c]) AS word FROM tr)
        |SELECT word, COUNT(*) AS n_triangles FROM nodes GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_textrank" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS arr
        |  FROM documents),
        |tk AS (SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS word
        |  FROM d WHERE len(arr) >= 2),
        |bg AS (SELECT a.word AS v, b.word AS w
        |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.word != b.word),
        |und AS (SELECT v, w FROM bg UNION ALL SELECT w AS v, v AS w FROM bg),
        |e0 AS MATERIALIZED (SELECT v AS src, w AS dst, CAST(COUNT(*) AS BIGINT) AS wt
        |  FROM und GROUP BY 1, 2),
        |ws AS MATERIALIZED (SELECT src, CAST(SUM(wt) AS BIGINT) AS wsum FROM e0 GROUP BY src),
        |e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.wt, ws.wsum FROM e0 JOIN ws USING (src)),
        |n AS MATERIALIZED (SELECT DISTINCT src AS word FROM e0),
        |r0 AS MATERIALIZED (SELECT word, CAST(1000000000 AS BIGINT) AS r FROM n),
        |r1 AS MATERIALIZED (SELECT n.word, 150000000 + (85 * COALESCE(c.csum, 0)) // 100 AS r
        |  FROM n LEFT JOIN (SELECT e.dst, CAST(SUM((x.r * e.wt) // e.wsum) AS BIGINT) AS csum
        |    FROM e JOIN r0 x ON e.src = x.word GROUP BY e.dst) c ON n.word = c.dst),
        |r2 AS MATERIALIZED (SELECT n.word, 150000000 + (85 * COALESCE(c.csum, 0)) // 100 AS r
        |  FROM n LEFT JOIN (SELECT e.dst, CAST(SUM((x.r * e.wt) // e.wsum) AS BIGINT) AS csum
        |    FROM e JOIN r1 x ON e.src = x.word GROUP BY e.dst) c ON n.word = c.dst),
        |r3 AS MATERIALIZED (SELECT n.word, 150000000 + (85 * COALESCE(c.csum, 0)) // 100 AS r
        |  FROM n LEFT JOIN (SELECT e.dst, CAST(SUM((x.r * e.wt) // e.wsum) AS BIGINT) AS csum
        |    FROM e JOIN r2 x ON e.src = x.word GROUP BY e.dst) c ON n.word = c.dst),
        |r4 AS MATERIALIZED (SELECT n.word, 150000000 + (85 * COALESCE(c.csum, 0)) // 100 AS r
        |  FROM n LEFT JOIN (SELECT e.dst, CAST(SUM((x.r * e.wt) // e.wsum) AS BIGINT) AS csum
        |    FROM e JOIN r3 x ON e.src = x.word GROUP BY e.dst) c ON n.word = c.dst),
        |r5 AS MATERIALIZED (SELECT n.word, 150000000 + (85 * COALESCE(c.csum, 0)) // 100 AS r
        |  FROM n LEFT JOIN (SELECT e.dst, CAST(SUM((x.r * e.wt) // e.wsum) AS BIGINT) AS csum
        |    FROM e JOIN r4 x ON e.src = x.word GROUP BY e.dst) c ON n.word = c.dst)
        |SELECT word, CAST(r AS BIGINT) AS rank FROM r5 ORDER BY word""".stripMargin,

    "text_lm_score" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS arr
        |  FROM documents),
        |tk AS (SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS word
        |  FROM d),
        |bg AS (SELECT a.doc_id, a.word AS v, b.word AS w
        |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |refbg AS (SELECT v, w FROM bg WHERE doc_id % 7 = 0),
        |cb AS (SELECT v, w, COUNT(*) AS cb FROM refbg GROUP BY v, w),
        |cv AS (SELECT v, COUNT(*) AS cv FROM refbg GROUP BY v),
        |vv AS (SELECT COUNT(DISTINCT word) AS vsz FROM tk WHERE doc_id % 7 = 0),
        |sc AS (SELECT bg.doc_id,
        |    CAST(floor(1000000000.0 * (coalesce(cb.cb, 0) + 1)
        |      / (coalesce(cv.cv, 0) + vv.vsz)) AS BIGINT) AS p
        |  FROM bg LEFT JOIN cb ON bg.v = cb.v AND bg.w = cb.w
        |          LEFT JOIN cv ON bg.v = cv.v, vv),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(p) AS BIGINT) AS score_sum
        |  FROM sc GROUP BY doc_id),
        |tot AS (SELECT CAST(SUM(score_sum) AS BIGINT) AS tot_sum,
        |    CAST(SUM(n_bigrams) AS BIGINT) AS tot_n FROM agg)
        |SELECT doc_id, n_bigrams, score_sum,
        |  CAST(score_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_p_e9,
        |  CAST(score_sum AS DECIMAL(19,0)) * CAST(tot_n AS DECIMAL(19,0))
        |    >= CAST(n_bigrams AS DECIMAL(19,0)) * CAST(tot_sum AS DECIMAL(19,0)) AS kept
        |FROM agg, tot ORDER BY doc_id""".stripMargin,

    "text_pii" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 1 THEN text || ' Contact user' || CAST(doc_id AS VARCHAR)
        |           || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.3.7 today'
        |         WHEN doc_id % 3 = 2 THEN text || ' card 4111111111111111 expires soon'
        |         ELSE text END AS ptext
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, ptext,
        |    regexp_replace(regexp_replace(regexp_replace(ptext,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{13,16}\b', '<CARD>', 'g') AS red
        |  FROM p
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(ptext, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(ptext, '\b\d{13,16}\b')) AS BIGINT) AS n_card,
        |  md5(red) AS red_md5, CAST(length(red) AS BIGINT) AS red_len
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
        |    string_split(text, ' ') AS toks
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp_md5,
        |  ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp60,
        |  CAST(len(list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> array_to_string(toks[i:i+4], ' ')))) AS BIGINT) AS n_shingles
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH tok0 AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS term FROM documents),
        |tok AS (SELECT doc_id, term FROM tok0 WHERE length(term) >= 2),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / dfq.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfq.df DESC, tf.term) AS rk
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, score FROM sc WHERE rk <= 3
        |ORDER BY doc_id, term""".stripMargin,

    "text_hapax" ->
      """WITH tok0 AS (SELECT source,
        |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS term FROM documents),
        |tok AS (SELECT source, term FROM tok0 WHERE length(term) >= 2),
        |tf AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |per AS (SELECT source,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis
        |  FROM tf GROUP BY 1)
        |SELECT source, n_tokens, vocab, hapax, dis,
        |  CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_share
        |FROM per ORDER BY source""".stripMargin,

    // same rational-BM25 kernel: HUGEINT numerators, one IEEE division,
    // fixed-textual-order three-term pivot sum
    "text_bm25" ->
      """WITH tok0 AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS term FROM documents),
        |tok AS (SELECT doc_id, term FROM tok0 WHERE length(term) >= 2),
        |dlen AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY 1),
        |g0 AS (SELECT CAST(SUM(len) AS BIGINT) AS s_tot, COUNT(*) AS d_tot FROM dlen),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('filter', 'merge', 'vector') GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT t.doc_id, t.term,
        |    CAST(CAST(CAST(44 AS HUGEINT) * g.s_tot * t.tf
        |        * (2 * g.d_tot - 2 * f.df + 1) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST((CAST(20 AS HUGEINT) * g.s_tot * t.tf
        |        + CAST(6 AS HUGEINT) * g.s_tot
        |        + CAST(18 AS HUGEINT) * l.len * g.d_tot)
        |        * (2 * f.df + 1) AS VARCHAR) AS DOUBLE) AS sc
        |  FROM tf t JOIN dfq f USING (term) JOIN dlen l USING (doc_id), g0 g),
        |pd AS (SELECT doc_id, COUNT(*) AS n_terms_matched,
        |    COALESCE(MAX(CASE WHEN term = 'filter' THEN sc END), CAST(0 AS DOUBLE))
        |    + COALESCE(MAX(CASE WHEN term = 'merge' THEN sc END), CAST(0 AS DOUBLE))
        |    + COALESCE(MAX(CASE WHEN term = 'vector' THEN sc END), CAST(0 AS DOUBLE)) AS score
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, n_terms_matched, score FROM pd
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    "sample_reservoir" ->
      """SELECT source, rk, doc_id, h FROM (
        |  SELECT source, doc_id, h,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rk
        |  FROM (SELECT source, doc_id,
        |          md5(CAST(doc_id AS VARCHAR) || '|rsv1') AS h FROM documents))
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,

    // the plain per-class rank replays the histogram-selection plan:
    // keep = target smallest (h, id) per class, census over the kept set
    "sample_balanced" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    ('0x' || substr(md5('bal-' || event_id), 1, 15))::BIGINT AS h
        |  FROM events),
        |t AS (SELECT MIN(cnt) AS target FROM (
        |  SELECT COUNT(*) AS cnt FROM ev GROUP BY event_type)),
        |r AS (
        |  SELECT event_type, event_id, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rk
        |  FROM ev)
        |SELECT event_type, COUNT(*) AS n_kept,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_ids, bit_xor(h) AS xor_h
        |FROM r, t WHERE rk <= target
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pos AS (SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(1, len(toks)+1)) AS i FROM t),
        |r AS (SELECT doc_id, i, tok,
        |    CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY i) = tok
        |      THEN 0 ELSE 1 END AS brk FROM pos),
        |g AS (SELECT doc_id, i,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM r),
        |runs AS (SELECT doc_id, grp, COUNT(*) AS runlen FROM g GROUP BY 1, 2),
        |maxrun AS (SELECT doc_id, MAX(runlen) AS max_token_run FROM runs GROUP BY 1),
        |bi AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)), i ->
        |      toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)])) AS bg FROM t),
        |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg),
        |topb AS (SELECT doc_id, MAX(c) AS top_bigram_count FROM bc GROUP BY doc_id),
        |tri AS (SELECT doc_id, list_transform(range(1, len(toks) - 1), i ->
        |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)] || ' ' ||
        |    toks[CAST(i+2 AS INT)]) AS tg FROM t),
        |tstat AS (SELECT doc_id, len(tg) AS n_tri, len(list_distinct(tg)) AS d_tri FROM tri)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(topb.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
        |  CASE WHEN len(t.toks) >= 2
        |    THEN CAST(topb.top_bigram_count AS DOUBLE) / (len(t.toks) - 1) END
        |    AS top_bigram_frac,
        |  CASE WHEN len(t.toks) >= 3
        |    THEN CAST(tstat.n_tri - tstat.d_tri AS DOUBLE) / tstat.n_tri END
        |    AS dup_trigram_frac,
        |  CAST(maxrun.max_token_run AS BIGINT) AS max_token_run
        |FROM t LEFT JOIN topb USING (doc_id) LEFT JOIN tstat USING (doc_id)
        |  LEFT JOIN maxrun USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "text_chunks" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |b AS (SELECT doc_id, text, n,
        |   CASE WHEN n > 0 THEN
        |     list_filter(range(8, n), i ->
        |       list_sum(list_transform(range(0, 8), j ->
        |         ord(substr(text, CAST(i - j AS INT), 1)) *
        |         [1,31,961,29791,923521,28629151,887503681,27512614111][CAST(j+1 AS INT)])) % 256 = 0)
        |     || [CAST(n AS BIGINT)] ELSE [] END AS bounds
        | FROM t),
        |c AS (SELECT doc_id, text, bounds, unnest(range(1, len(bounds)+1)) AS i FROM b),
        |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |   CAST(CASE WHEN i = 1 THEN 1 ELSE bounds[CAST(i-1 AS INT)] + 1 END AS BIGINT) AS chunk_off,
        |   CAST(bounds[CAST(i AS INT)] AS BIGINT) AS endp, text
        | FROM c)
        |SELECT doc_id, chunk_idx, chunk_off, endp - chunk_off + 1 AS chunk_len,
        |  md5(substr(text, CAST(chunk_off AS INT), CAST(endp - chunk_off + 1 AS INT))) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "dedup_chunks" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |b AS (SELECT doc_id, text, n,
        |   CASE WHEN n > 0 THEN
        |     list_filter(range(8, n), i ->
        |       list_sum(list_transform(range(0, 8), j ->
        |         ord(substr(text, CAST(i - j AS INT), 1)) *
        |         [1,31,961,29791,923521,28629151,887503681,27512614111][CAST(j+1 AS INT)])) % 256 = 0)
        |     || [CAST(n AS BIGINT)] ELSE [] END AS bounds
        | FROM t),
        |c AS (SELECT doc_id, text, bounds, unnest(range(1, len(bounds)+1)) AS i FROM b),
        |ch AS (SELECT doc_id,
        |   CAST(CASE WHEN i = 1 THEN 1 ELSE bounds[CAST(i-1 AS INT)] + 1 END AS BIGINT) AS chunk_off,
        |   CAST(bounds[CAST(i AS INT)] AS BIGINT) AS endp, text
        | FROM c)
        |SELECT md5(substr(text, CAST(chunk_off AS INT), CAST(endp - chunk_off + 1 AS INT))) AS chunk_md5,
        |  COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY chunk_md5""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  (cum_tokens - 1) // 2048 AS batch_id
        |FROM c ORDER BY doc_id""".stripMargin,

    "pipeline_curate_incremental" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |delta0 AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 10 = 5 AND c.doc_id IS NOT NULL
        |         THEN c.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN corpus c ON c.doc_id = d.doc_id - 1
        |  WHERE d.doc_id % 2 = 1),
        |t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM delta0),
        |m AS (SELECT doc_id, text, len(toks) AS n,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS BIGINT) AS sh,
        |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','en','que','los','un'], x))) AS BIGINT) AS hs,
        |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','ein','zu'], x))) AS BIGINT) AS hd,
        |    len(list_distinct(toks)) AS u
        |  FROM t),
        |scored AS (SELECT doc_id, text,
        |    0.4 * (u / n) + 0.4 * (1.0 - sh / n) + 0.2 * least(1.0, n / 200.0) AS quality
        |  FROM m
        |  WHERE (sh >= hs AND sh >= hd AND sh > 0)
        |    AND 0.4 * (u / n) + 0.4 * (1.0 - sh / n) + 0.2 * least(1.0, n / 200.0) >= 0.6),
        |fps AS (SELECT *, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
        |  FROM scored),
        |basefp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
        |  FROM corpus),
        |fresh AS (SELECT * FROM fps WHERE f NOT IN (SELECT f FROM basefp)),
        |ded AS (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rk
        |  FROM fresh)
        |SELECT doc_id, quality,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM ded WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "pipeline_curate" ->
      """WITH t AS (SELECT doc_id, source, text,
        |    string_split(lower(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, source, text, len(toks) AS n,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS BIGINT) AS sh,
        |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','en','que','los','un'], x))) AS BIGINT) AS hs,
        |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','ein','zu'], x))) AS BIGINT) AS hd,
        |    len(list_distinct(toks)) AS u
        |  FROM t),
        |scored AS (SELECT doc_id, source, text,
        |    0.4 * (u / n) + 0.4 * (1.0 - sh / n) + 0.2 * least(1.0, n / 200.0) AS quality
        |  FROM m
        |  WHERE (sh >= hs AND sh >= hd AND sh > 0)
        |    AND 0.4 * (u / n) + 0.4 * (1.0 - sh / n) + 0.2 * least(1.0, n / 200.0) >= 0.6),
        |dedup AS (SELECT *, row_number() OVER (
        |    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    ORDER BY doc_id) AS rk
        |  FROM scored)
        |SELECT doc_id, source, quality,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM dedup WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "sample_split" ->
      """SELECT doc_id, source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sample_split_grouped" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |        i -> array_to_string(toks[i:i+4], ' '))) AS sh
        |      FROM w WHERE len(toks) >= 5),
        |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
        |       FROM s a JOIN s b ON a.doc_id < b.doc_id
        |       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / len(list_distinct(a.sh || b.sh)) >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr),
        |reach(v, lab) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v
        |),
        |clus AS (SELECT v AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY v),
        |lab AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id,
        |  ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin,

    "sample_importance" ->
      """WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, lang,
        |        ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT % 4096 AS b
        |      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
        |      WHERE len(toks) >= 2),
        |ct AS (SELECT b, COUNT(*) AS c FROM f WHERE lang = 'en' GROUP BY b),
        |cs AS (SELECT b, COUNT(*) AS c FROM f GROUP BY b),
        |nt AS (SELECT COUNT(*) AS n FROM f WHERE lang = 'en'),
        |ns AS (SELECT COUNT(*) AS n FROM f),
        |sc AS (SELECT cs.b,
        |         (1000000000 * (coalesce(ct.c, 0) + 1)) // (nt.n + 4096)
        |       - (1000000000 * (cs.c + 1)) // (ns.n + 4096) AS fs
        |       FROM cs LEFT JOIN ct USING (b), nt, ns),
        |d AS (SELECT f.doc_id, COUNT(*) AS n_feats, SUM(sc.fs) AS score
        |      FROM f JOIN sc ON sc.b = f.b GROUP BY f.doc_id),
        |alldocs AS (SELECT doc.doc_id, CAST(coalesce(d.n_feats, 0) AS BIGINT) AS n_feats,
        |         CAST(coalesce(d.score, 0) AS BIGINT) AS score
        |         FROM documents doc LEFT JOIN d USING (doc_id)),
        |st AS (SELECT SUM(score) AS tot, COUNT(*) AS n FROM alldocs)
        |SELECT doc_id, n_feats, score, score * st.n > st.tot AS keep
        |FROM alldocs, st ORDER BY doc_id""".stripMargin,

    "ml_naive_bayes" ->
      """WITH lb AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1 THEN 'spam' ELSE 'clean' END AS label,
        |    CASE WHEN doc_id % 2 = 1 THEN text ||
        |      CASE (doc_id // 3) % 3
        |        WHEN 0 THEN ' win a free prize now click here for your fast easy reward bonus'
        |        WHEN 1 THEN ' cheap deals buy now limited offer today only save big act fast'
        |        ELSE ' click this link to win money guaranteed instant payout no risk' END
        |    ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, label, string_split(lower(text), ' ') AS toks FROM lb),
        |f AS (SELECT doc_id, label,
        |        ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT % 4096 AS b
        |      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
        |      WHERE len(toks) >= 2),
        |train AS (SELECT * FROM f WHERE doc_id % 3 <> 0),
        |m AS (SELECT b,
        |        SUM(CASE WHEN label = 'spam' THEN 1 ELSE 0 END) AS cbs,
        |        SUM(CASE WHEN label = 'clean' THEN 1 ELSE 0 END) AS cbc
        |      FROM train GROUP BY b),
        |nn AS (SELECT SUM(CASE WHEN label = 'spam' THEN 1 ELSE 0 END) AS ns,
        |         SUM(CASE WHEN label = 'clean' THEN 1 ELSE 0 END) AS nc
        |       FROM train),
        |sc AS (SELECT f.doc_id, f.label AS actual_label,
        |         SUM((1000000000 * (COALESCE(m.cbs, 0) + 1)) // (nn.ns + 4096)
        |           - (1000000000 * (COALESCE(m.cbc, 0) + 1)) // (nn.nc + 4096)) AS score
        |       FROM f LEFT JOIN m USING (b), nn
        |       WHERE f.doc_id % 3 = 0
        |       GROUP BY 1, 2)
        |SELECT actual_label,
        |  CASE WHEN score > 0 THEN 'spam' ELSE 'clean' END AS predicted_label,
        |  COUNT(*) AS n
        |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "multimodal_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 8 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 5 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 256 END AS BIGINT) AS mean_r,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 7) % 256 END AS BIGINT) AS mean_g,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 13) % 256 END AS BIGINT) AS mean_b,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 16000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 50 + doc_id % 20 END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN list_max(list_transform(range(50 + doc_id % 20),
        |    i -> abs(((doc_id * 31 + i * 17) % 65536) - 32768))) END AS BIGINT) AS peak,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN FLOOR(SQRT(
        |    CAST(list_sum(list_transform(range(50 + doc_id % 20),
        |      i -> (((doc_id * 31 + i * 17) % 65536) - 32768)
        |         * (((doc_id * 31 + i * 17) % 65536) - 32768))) AS DOUBLE)
        |    / (50 + doc_id % 20))) END AS BIGINT) AS rms,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN len(list_filter(range(1, CAST(50 + doc_id % 20 AS BIGINT)),
        |    i -> ((((doc_id * 31 + i * 17) % 65536) - 32768) >= 0)
        |      != ((((doc_id * 31 + (i - 1) * 17) % 65536) - 32768) >= 0))) END AS BIGINT) AS zero_cross
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 4 AS BIGINT) AS new_w,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS new_h,
        |  CAST(octet_length(blob) AS BIGINT) AS out_len, hex(blob) AS out_hex
        |FROM (SELECT doc_id,
        |  encode('P6' || chr(10) || CAST(1 + doc_id % 4 AS VARCHAR) || ' ' ||
        |    CAST(1 + doc_id % 3 AS VARCHAR) || chr(10) || '255' || chr(10)) ||
        |  repeat(unhex(lpad(to_hex(doc_id % 256), 2, '0') ||
        |               lpad(to_hex((doc_id * 7) % 256), 2, '0') ||
        |               lpad(to_hex((doc_id * 13) % 256), 2, '0')),
        |    CAST((1 + doc_id % 4) * (1 + doc_id % 3) AS INT)) AS blob
        | FROM documents) ORDER BY doc_id""".stripMargin,

    "text_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |    UNNEST(range(0, CASE WHEN len(toks) <= 32 THEN 1
        |                         ELSE (len(toks) - 32 + 23) // 24 + 1 END)) AS k
        |  FROM t)
        |SELECT doc_id, k AS chunk_idx, k * 24 AS tok_start,
        |  CAST(len(toks[k*24+1 : k*24+32]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[k*24+1 : k*24+32], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "multimodal_qoi" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 5 AS w, 2 + doc_id % 4 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h, UNNEST(range(0, w)) AS x FROM d),
        |xy AS (SELECT doc_id, w, h, x, UNNEST(range(0, h)) AS y FROM xs),
        |px AS (SELECT doc_id, w, h,
        |    CASE WHEN y % 3 = 0 THEN (doc_id * 5) % 256
        |         ELSE (doc_id * 7 + x * 13 + y * 31) % 256 END AS r,
        |    CASE WHEN y % 3 = 0 THEN (doc_id * 11) % 256
        |         ELSE (doc_id * 3 + x * 17 + y * 7) % 256 END AS g,
        |    CASE WHEN y % 3 = 0 THEN (doc_id * 13) % 256
        |         ELSE (doc_id * 19 + x * 5 + y * 23) % 256 END AS b
        |  FROM xy)
        |SELECT doc_id, 'qoi' AS format, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(r) // (w * h) AS BIGINT) AS mean_r,
        |  CAST(SUM(g) // (w * h) AS BIGINT) AS mean_g,
        |  CAST(SUM(b) // (w * h) AS BIGINT) AS mean_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // never sees GIF bytes: recomputes the planted palette + index
    // arithmetic; % 89 truncated payloads dead-letter (absent rows)
    "multimodal_gif" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
        |           FROM documents WHERE doc_id % 89 <> 0),
        |xs AS (SELECT doc_id, w, h, UNNEST(range(0, w)) AS x FROM d),
        |xy AS (SELECT doc_id, w, h, x, UNNEST(range(0, h)) AS y FROM xs),
        |px AS (SELECT doc_id, w, h,
        |    CASE WHEN y % 2 = 0 THEN (doc_id + y) % 4
        |         ELSE (doc_id + x * 3 + y * 5) % 4 END AS j
        |  FROM xy)
        |SELECT doc_id, 'gif' AS format, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM((doc_id * 5 + j * 40) % 256) // (w * h) AS BIGINT) AS mean_r,
        |  CAST(SUM((doc_id * 7 + j * 50) % 256) // (w * h) AS BIGINT) AS mean_g,
        |  CAST(SUM((doc_id * 11 + j * 60) % 256) // (w * h) AS BIGINT) AS mean_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    "convert_avro_binary" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    doc_id * 7 - 3 AS vl,
        |    doc_id % 500 - 250 AS vi,
        |    doc_id % 2 = 1 AS vb,
        |    (doc_id % 1000) / 8.0 AS vd,
        |    'u' || CAST(doc_id % 100 AS VARCHAR) AS vs,
        |    doc_id % 97 = 0 AS corrupt
        |  FROM documents
        |), z AS (
        |  SELECT *,
        |    CASE WHEN vl >= 0 THEN 2 * vl ELSE -2 * vl - 1 END AS z1,
        |    CASE WHEN vi >= 0 THEN 2 * vi ELSE -2 * vi - 1 END AS z2,
        |    length(vs) AS sl
        |  FROM base
        |), g AS (
        |  SELECT *,
        |    1 + (CASE WHEN z1 >= 128 THEN 1 ELSE 0 END)
        |      + (CASE WHEN z1 >= 16384 THEN 1 ELSE 0 END)
        |      + (CASE WHEN z1 >= 2097152 THEN 1 ELSE 0 END)
        |      + (CASE WHEN z1 >= 268435456 THEN 1 ELSE 0 END)
        |      + (CASE WHEN z1 >= 34359738368 THEN 1 ELSE 0 END) AS g1,
        |    1 + (CASE WHEN z2 >= 128 THEN 1 ELSE 0 END)
        |      + (CASE WHEN z2 >= 16384 THEN 1 ELSE 0 END) AS g2
        |  FROM z
        |)
        |SELECT doc_id, NOT corrupt AS decoded,
        |  CASE WHEN corrupt THEN NULL ELSE vl END AS f_long,
        |  CAST(CASE WHEN corrupt THEN NULL ELSE vi END AS BIGINT) AS f_int,
        |  CASE WHEN corrupt THEN NULL ELSE vb END AS f_bool,
        |  CASE WHEN corrupt THEN NULL ELSE vd END AS f_double,
        |  CASE WHEN corrupt THEN NULL ELSE vs END AS f_str,
        |  CAST(CASE WHEN corrupt THEN 3
        |            ELSE g1 + g2 + 1 + 8 + 1 + sl END AS BIGINT) AS byte_len
        |FROM g ORDER BY doc_id""".stripMargin,

    "convert_proto_binary" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    doc_id * 3 + 1 AS v1,
        |    doc_id % 400 - 200 AS v2,
        |    'p' || CAST(doc_id % 50 AS VARCHAR) AS v3,
        |    (doc_id % 1000) / 4.0 AS v4,
        |    doc_id % 3 = 0 AS v5,
        |    doc_id % 128 AS v9,
        |    doc_id % 89 = 0 AS corrupt
        |  FROM documents
        |), z AS (
        |  SELECT *,
        |    CASE WHEN v2 >= 0 THEN 2 * v2 ELSE -2 * v2 - 1 END AS z2,
        |    length(v3) AS sl
        |  FROM base
        |), g AS (
        |  SELECT *,
        |    1 + (CASE WHEN v1 >= 128 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v1 >= 16384 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v1 >= 2097152 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v1 >= 268435456 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v1 >= 34359738368 THEN 1 ELSE 0 END) AS g1,
        |    1 + (CASE WHEN z2 >= 128 THEN 1 ELSE 0 END) AS g2
        |  FROM z
        |)
        |SELECT doc_id, NOT corrupt AS decoded,
        |  CASE WHEN corrupt THEN NULL ELSE v1 END AS f_id,
        |  CASE WHEN corrupt THEN NULL ELSE v2 END AS f_delta,
        |  CASE WHEN corrupt THEN NULL ELSE v3 END AS f_name,
        |  CASE WHEN corrupt THEN NULL ELSE v4 END AS f_score,
        |  CASE WHEN corrupt THEN NULL ELSE v5 END AS f_flag,
        |  CAST(CASE WHEN corrupt THEN 2
        |            -- tags are 1 byte each (fields <= 9); unknown field 9's
        |            -- varint is 1 byte (v9 < 128) and IS counted
        |            ELSE (1 + 1 + sl) + (1 + g1) + (1 + 1) + (1 + 8) + (1 + g2) + (1 + 1)
        |       END AS BIGINT) AS byte_len
        |FROM g ORDER BY doc_id""".stripMargin,

    "multimodal_png" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 6 AS w, 5 + doc_id % 4 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h, UNNEST(range(0, w)) AS x FROM d),
        |xy AS (SELECT doc_id, w, h, x, UNNEST(range(0, h)) AS y FROM xs),
        |px AS (SELECT doc_id, w, h,
        |    (doc_id * 3 + x * 7 + y * 11) % 256 AS r,
        |    (doc_id * 5 + x * 13 + y * 3) % 256 AS g,
        |    (doc_id * 7 + x * 5 + y * 17) % 256 AS b
        |  FROM xy)
        |SELECT doc_id, 'png' AS format, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(r) // (w * h) AS BIGINT) AS mean_r,
        |  CAST(SUM(g) // (w * h) AS BIGINT) AS mean_g,
        |  CAST(SUM(b) // (w * h) AS BIGINT) AS mean_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS bl,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h60
        |  FROM documents),
        |f AS (SELECT doc_id, text, bl, h60,
        |    unnest(range(0, least(4, (bl + 99) // 100))) AS fi
        |  FROM t)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx, CAST(bl AS BIGINT) AS byte_len,
        |  sha256(text) AS sha_hex,
        |  CAST(1 + (h60 % 640) AS BIGINT) AS fake_w,
        |  CAST(1 + ((h60 // 640) % 480) AS BIGINT) AS fake_h,
        |  substr(text, CAST(fi * 100 + 1 AS INT), 32) AS frame_text,
        |  sha256(substr(text, CAST(fi * 100 + 1 AS INT), 32)) AS frame_sha
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "multimodal_frames" ->
      """SELECT doc_id, t.f AS frame_idx, t.f*256 AS start_pos,
        |  octet_length(CAST(text AS BLOB)) AS byte_len,
        |  md5(substring(text, CAST(t.f*256+1 AS INT), 64)) AS frame_md5,
        |  CAST(length(substring(text, CAST(t.f*256+1 AS INT), 64)) AS BIGINT) AS frame_len
        |FROM documents,
        |  UNNEST(generate_series(0, CAST(least(6, (octet_length(CAST(text AS BLOB))+255)//256) AS BIGINT) - 1)) AS t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "cdc_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |), v2 AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 7),
        |d AS (
        |  SELECT COALESCE(v2.o_orderkey, v1.o_orderkey) AS o_orderkey,
        |    CASE WHEN v1.o_orderkey IS NULL THEN 'c'
        |         WHEN v2.o_orderkey IS NULL THEN 'd'
        |         WHEN v1.o_custkey IS DISTINCT FROM v2.o_custkey
        |           OR v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
        |           OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
        |           OR v1.o_orderdate IS DISTINCT FROM v2.o_orderdate
        |           OR v1.o_orderpriority IS DISTINCT FROM v2.o_orderpriority
        |         THEN 'u' END AS op,
        |    v1.o_custkey AS before_o_custkey, v2.o_custkey AS after_o_custkey,
        |    v1.o_orderstatus AS before_o_orderstatus, v2.o_orderstatus AS after_o_orderstatus,
        |    v1.o_totalprice AS before_o_totalprice, v2.o_totalprice AS after_o_totalprice,
        |    v1.o_orderdate AS before_o_orderdate, v2.o_orderdate AS after_o_orderdate,
        |    v1.o_orderpriority AS before_o_orderpriority, v2.o_orderpriority AS after_o_orderpriority
        |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        |)
        |SELECT * FROM d WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    // the oracle RECOMPUTES the aggregate from the post-image table — the
    // hash compare proves the incrementally-maintained state equals a full
    // recompute, which is the IVM correctness property itself
    "cdc_incremental_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 10 <> 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "mixture_temperature" ->
      """WITH cw AS (
        |  SELECT source, COUNT(*) AS n_src,
        |    floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1048576.0) / 1048576.0 AS w
        |  FROM documents GROUP BY 1
        |), s AS (
        |  SELECT MIN(n_src / w) AS m, SUM(w) AS wsum FROM cw
        |), r AS (
        |  SELECT cw.source, cw.n_src, cw.w / s.wsum AS share,
        |    LEAST(1.0, cw.w * s.m / cw.n_src) AS keep_rate
        |  FROM cw, s
        |), k AS (
        |  SELECT d.source, COUNT(*) AS n_kept
        |  FROM documents d JOIN r ON d.source = r.source
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    / CAST(1152921504606846976 AS DOUBLE) < r.keep_rate
        |  GROUP BY 1
        |)
        |SELECT r.source, r.n_src, r.share, r.keep_rate,
        |  COALESCE(k.n_kept, 0) AS n_kept
        |FROM r LEFT JOIN k ON r.source = k.source ORDER BY r.source""".stripMargin,

    "events_association" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type
        |  FROM events
        |), nb AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, day FROM b)),
        |s AS (SELECT event_type, COUNT(*) AS n_single FROM b GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, c.event_type AS type_b, COUNT(*) AS n_ab
        |  FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
        |    AND a.event_type < c.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT type_a, type_b,
        |  CAST(sa.n_single AS BIGINT) AS n_a, CAST(sb.n_single AS BIGINT) AS n_b,
        |  CAST(p.n_ab AS BIGINT) AS n_ab, CAST(nb.n AS BIGINT) AS n_baskets,
        |  CAST(p.n_ab AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
        |  CAST(p.n_ab AS DOUBLE) / sa.n_single AS confidence_a_b,
        |  CAST(p.n_ab * nb.n AS DOUBLE) / (sa.n_single * sb.n_single) AS lift
        |FROM p
        |  JOIN s sa ON p.type_a = sa.event_type
        |  JOIN s sb ON p.type_b = sb.event_type, nb
        |ORDER BY type_a, type_b""".stripMargin,

    "events_user_paths" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type FROM events
        |), p AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
        |)
        |SELECT e1, e2, e3, COUNT(*) AS n FROM p WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "mixture_rebalance" ->
      """WITH w AS (
        |  SELECT source, CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS DOUBLE) AS w
        |  FROM (SELECT DISTINCT source FROM documents)
        |), cw AS (
        |  SELECT d.source, COUNT(*) AS n_src, MIN(w.w) AS w
        |  FROM documents d JOIN w ON d.source = w.source GROUP BY 1
        |), s AS (
        |  SELECT MIN(n_src / w) AS m, SUM(w) AS wsum FROM cw
        |), r AS (
        |  SELECT cw.source, cw.n_src, cw.w / s.wsum AS share,
        |    LEAST(1.0, cw.w * s.m / cw.n_src) AS keep_rate
        |  FROM cw, s
        |), k AS (
        |  SELECT d.source, COUNT(*) AS n_kept
        |  FROM documents d JOIN r ON d.source = r.source
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    / CAST(1152921504606846976 AS DOUBLE) < r.keep_rate
        |  GROUP BY 1
        |)
        |SELECT r.source, r.n_src, r.share, r.keep_rate,
        |  COALESCE(k.n_kept, 0) AS n_kept
        |FROM r LEFT JOIN k ON r.source = k.source ORDER BY r.source""".stripMargin
  )
}
