package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Envelope
import graft.expressions.{CosineSim, MinHashSig, ShingleHashes, Sketch, TokenStats}
import graft.functions.{Converters => Cv, TextFunctions => Tf, VectorFunctions => Vf}
import graft.operators.Dedup
import graft.sources.{SnapshotScan, Tables}

/** Direct layer calls for the traced run, each forced by a `noop` write in
  * its own span. A layer's self time is its call minus the bare scan of
  * the same input (`scan.<table>`), which run.py subtracts. Each call is
  * timed three times and the fastest kept: at these sizes a call takes
  * 0.05–0.5 s and one slow run would swamp the difference. */
object Probes {

  private def force(name: String, df: => DataFrame): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Trace.span(s"probe.$name") {
        df.write.mode("overwrite").format("noop").save()
      }
      (System.nanoTime() - t0) / 1e9
    }.min

  private def ingest(s: SparkSession, dir: String): Map[String, Any] = {
    val li = Tables.lineitem(s, dir)
    val bounds = SnapshotScan.pkBounds(li, "l_orderkey")
    val ev = Tables.events(s, dir)
    Map(
      "scan.lineitem" -> force("scan.lineitem", li),
      "sources.chunked_scan" -> force("sources.chunked_scan",
        SnapshotScan.chunkedSingleScan(li, "l_orderkey", bounds, 8)),
      "scan.orders" -> force("scan.orders", Tables.orders(s, dir)),
      "convert.orders" -> force("convert.orders", {
        val unscaled = Cv.unscaledLong(col("o_totalprice"))
        Tables.orders(s, dir).select(col("*"), Cv.decimalString(col("o_totalprice")),
          unscaled, upper(hex(unscaled)))
      }),
      "scan.events" -> force("scan.events", ev),
      "convert.events" -> force("convert.events", ev.select(col("*"),
        Cv.epochDays(col("ts_ntz")), Cv.microsSinceMidnight(expr("ts_ns div 1000")),
        Cv.isoDate(col("ts_ntz")), Cv.zonedTimestamp(col("ts_ntz")), Cv.yearInt(col("ts_ntz")))),
      // the envelope reads five columns; its baseline scans the same five
      "scan.events_envelope_cols" -> force("scan.events_envelope_cols",
        ev.select("event_id", "ts_ns", "user_id", "event_type", "value")),
      "cdc.envelope" -> force("cdc.envelope",
        Envelope.snapshotEnvelope(ev, "event_id", expr("ts_ns div 1000000"), "events",
          Seq("user_id", "event_type", "value"))),
      "sources.rows_read" -> li.count())
  }

  private def cdcStream(s: SparkSession, dir: String): Map[String, Any] = {
    val ev = Tables.events(s, dir)
    Map(
      "scan.events" -> force("scan.events", ev),
      "cdc.latest_state" -> force("cdc.latest_state",
        Envelope.latestState(ev, Seq("user_id"), Seq(col("ts_ns"), col("event_id")))))
  }

  private def analytics(s: SparkSession, dir: String): Map[String, Any] = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val c = emb.select(col("vec_id").as("nid"), Vf.toDouble(col("embedding")).as("cv"))
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), Vf.toDouble(col("embedding")).as("qv"))
    val pairs = c.join(broadcast(q), col("nid") =!= col("qid"))
    val cfg = Dedup.MinHashConfig()
    val buckets = docs
      .select(Sketch.column(ShingleHashes(Sketch.expr(col("text")), cfg.shingleSize,
        word = true)).as("sh"))
      .where(size(col("sh")) > 0)
      .select(Tf.lshBandHashes(Sketch.column(MinHashSig(Sketch.expr(col("sh")), cfg.numPerm)),
        cfg.bands, cfg.rowsPerBand).as("bands"))
      .select(posexplode(col("bands")))
      .groupBy("pos", "col").agg(count(lit(1)).as("b"))
    Map(
      "scan.documents" -> force("scan.documents", docs),
      "functions.text" -> force("functions.text", docs.select(col("*"),
        Tf.fingerprintHex(col("text")), Tf.fingerprint60(col("text")))),
      "expressions.token_stats" -> force("expressions.token_stats", docs.select(col("*"),
        Sketch.column(TokenStats(Sketch.expr(col("text")), Tf.EnStops, lowercase = true)))),
      "pairs.embeddings" -> force("pairs.embeddings",
        pairs.select(col("qid"), col("nid"), (size(col("cv")) + size(col("qv"))).as("x"))),
      "expressions.vector" -> force("expressions.vector",
        pairs.select(col("qid"), col("nid"),
          Sketch.column(CosineSim(Sketch.expr(col("cv")), Sketch.expr(col("qv")))).as("x"))),
      // candidate pairs: Σ b·(b−1)/2 over the LSH band buckets the
      // minhash lane builds (same shingles, signature and banding)
      "operators.lsh_candidate_pairs" -> Trace.span("probe.operators.lsh_census") {
        val r = buckets.agg(sum(expr("b * (b - 1) div 2"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      })
  }

  def run(s: SparkSession, workload: String, dir: String, tracer: Tracer): Map[String, Any] = {
    val out = workload match {
      case "ingest"     => ingest(s, dir)
      case "cdc_stream" => cdcStream(s, dir)
      case "analytics"  => analytics(s, dir)
    }
    tracer.drain()
    out
  }
}
