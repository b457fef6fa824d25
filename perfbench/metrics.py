"""Metric arithmetic of the benchmark: medians, geometric means, span self
times, and the reduction of one raw JVM result into the end-to-end and the
per-layer metrics that run.py prints."""
import math
import statistics

MB = 1024.0 * 1024.0

def unit(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms") or name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_precision", "_per_input_byte")):
        return "ratio"
    return "count"


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError(f"geomean needs positive values: {xs}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    s, e = span["start_ns"], span["end_ns"]
    clipped = [(max(s, c["start_ns"]), min(e, c["end_ns"])) for c in children]
    return (e - s) - union_length([(a, b) for a, b in clipped if b > a])


def pass_seconds(p):
    """A pass's time: its lanes plus the offset commits, without the
    untimed hygiene between lanes."""
    return sum(lane["s"] for lane in p["lanes"]) + p["commit_s"]


def end_to_end(raw, t_launch):
    warm = [p for p in raw["passes"][1:] if not p["traced"]]
    per_lane = {}
    for p in warm:
        for lane in p["lanes"]:
            per_lane.setdefault(lane["lane"], []).append(lane["s"])
    return {
        "setup_s": raw["ready_epoch_ms"] / 1000.0 - t_launch,
        "first_pass_s": pass_seconds(raw["passes"][0]),
        "pass_s": median(pass_seconds(p) for p in warm),
        "lane_geomean_s": geomean(median(v) for v in per_lane.values()),
        "live_heap_mb": live_heap_bytes(raw) / MB,
        "native_mb": native_bytes(raw) / MB,
    }


def live_heap_bytes(raw):
    """The most heap the program kept live: the largest heap in use right
    after a full collection, taken between lanes and at the end of the run."""
    live = [lane["heap_live_before"] for p in raw["passes"] for lane in p["lanes"]]
    return max(live + [raw["heap_live_end"]])


def native_bytes(raw):
    """Peak resident memory outside the Java heap: the JVM pre-touches its
    whole fixed heap, so peak RSS minus the committed heap is the peak of
    everything else (metaspace, code cache, thread stacks, direct and
    native buffers, mapped files)."""
    return raw["peak_rss_kb"] * 1024.0 - raw["heap_committed_bytes"]


def io_ratio(raw):
    """Bytes a pass leaves under SparkEntry's work root per input byte
    its lanes read (median over the warm passes)."""
    sizes = raw["input_bytes"]
    read = sum(sizes[t] for lane in raw["lane_tables"] for t in raw["lane_tables"][lane])
    ratios = [sum(lane["write_bytes"] for lane in p["lanes"]) / read
              for p in raw["passes"][1:]]
    return median(ratios)


def per_layer(raw):
    """Per-layer metrics of a traced run: medians over its traced warm
    passes, codegen over its cold pass, and the tracing overhead."""
    spans = raw["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    pass_spans = sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["start_ns"])
    traced_passes = [p for p in raw["passes"] if p["traced"]]
    assert len(pass_spans) == len(traced_passes), "one pass span per traced pass"
    rows = []
    for ps, p in list(zip(pass_spans, traced_passes))[1:]:
        rows.append(pass_layers(ps, p, kids, raw["nproc"], raw["all_lanes"]))
    out = {k: median(r[k] for r in rows) for k in rows[0]}

    untraced = [pass_seconds(p) for p in raw["passes"][1:] if not p["traced"]]
    traced = [pass_seconds(p) for p in traced_passes[1:]]
    out["tracing.overhead_s"] = median(traced) - median(untraced)
    out["plans.codegen_compile_s"] = raw["codegen_compile_ms"] / 1000.0
    out["plans.codegen_classes"] = raw["codegen_classes"]
    out["io.write_bytes_per_input_byte"] = io_ratio(raw)
    out.update(probe_layers(raw["probes"], out))
    return out


def pass_layers(pass_span, p, kids, nproc, all_lanes):
    """Layer figures of one traced pass."""
    out = {}
    lanes = [s for s in kids.get(pass_span["id"], []) if s["name"] == "lane"]
    jobs, plans, batches = [], [], []
    gap = 0
    for lane in lanes:
        ch = kids.get(lane["id"], [])
        lane_jobs = [c for c in ch if c["name"] == "spark.job"]
        jobs += lane_jobs
        plans += [c for c in ch if c["name"] == "plans.query_execution"]
        batches += [c for c in ch if c["name"] == "streaming.microbatch"]
        gap += self_time(lane, lane_jobs)
        name = lane["attrs"]["lane"]
        out[f"lane.{name}.s"] = (lane["end_ns"] - lane["start_ns"]) / 1e9
        out[f"lane.{name}.jobs"] = len(lane_jobs)
    for name in all_lanes:
        out.setdefault(f"lane.{name}.s", 0.0)
        out.setdefault(f"lane.{name}.jobs", 0)

    def tot(key):
        return sum(j["attrs"][key] for j in jobs)

    wall = pass_seconds(p)
    out.update({
        "spark.jobs": len(jobs),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.task_failures": tot("task_failures"),
        "spark.driver_gap_s": gap / 1e9,
        "spark.busy_ratio": tot("run_ms") / 1000.0 / (wall * nproc),
        "spark.shuffle_write_bytes": tot("shuffle_write"),
        "spark.shuffle_read_bytes": tot("shuffle_read"),
        "spark.spill_bytes": tot("spill"),
        "spark.gc_s": tot("gc_ms") / 1000.0,
        "spark.input_bytes": tot("input"),
        "spark.output_bytes": tot("output"),
        "spark.executor_run_s": tot("run_ms") / 1000.0,
        "spark.executor_cpu_s": tot("cpu_ns") / 1e9,
        "plans.query_executions": len(plans),
        "plans.catalyst_s": sum(q["attrs"]["catalyst_ms"] for q in plans) / 1000.0,
        "graftshim.checkpoint_jobs": sum(1 for j in jobs if j["attrs"]["graftshim"]),
        "graftshim.checkpoint_s": sum(j["end_ns"] - j["start_ns"] for j in jobs
                                      if j["attrs"]["graftshim"]) / 1e9,
    })

    # sink_batch writes while its frame is built (BatchedSink.writeBatched)
    sink = [s for lane in lanes if lane["attrs"]["lane"] == "sink_batch"
            for s in kids.get(lane["id"], []) if s["name"] == "lane.build"]
    sink_lane = [x for x in p["lanes"] if x["lane"] == "sink_batch"]
    commits = p["commit_ms"]
    out.update({
        "sinks.write_s": sum(s["end_ns"] - s["start_ns"] for s in sink) / 1e9,
        "sinks.batches": len(commits),
        "sinks.files_written": sum(x["files"] for x in sink_lane),
        "sinks.bytes_written": sum(x["write_bytes"] for x in sink_lane),
        "storage.commits": len(commits),
        "storage.commit_ms_p50": median(commits),
    })

    def bsum(key):
        return sum(b["attrs"][key] for b in batches)

    stream_lanes = [x for x in p["lanes"] if x["lane"].startswith("stream")]
    starts = [b["attrs"]["start_ms"] for b in batches if "start_ms" in b["attrs"]]
    out.update({
        "streaming.queries": len({b["attrs"]["query"] for b in batches}),
        "streaming.microbatches": len(batches),
        "streaming.input_rows": bsum("input_rows"),
        "streaming.start_ms": median(starts),
        "streaming.batch_p50_ms": median(b["attrs"]["trigger_ms"] for b in batches),
        "streaming.add_batch_ms": bsum("add_batch_ms"),
        "streaming.wal_commit_ms": bsum("wal_commit_ms"),
        "streaming.planning_ms": bsum("planning_ms"),
        "streaming.source_ms": bsum("source_ms"),
        "streaming.state_rows": max([b["attrs"]["state_rows"] for b in batches], default=0),
        "streaming.state_commit_ms": bsum("state_commit_ms"),
        "streaming.state_memory_bytes": max([b["attrs"]["state_memory_bytes"]
                                             for b in batches], default=0),
        "streaming.checkpoint_bytes": sum(x["checkpoint_bytes"] for x in stream_lanes),
    })
    lsh = [x for x in p["lanes"] if x["lane"] == "dedup_minhash_lsh"]
    out["operators.lsh_pairs"] = sum(x["rows"] for x in lsh)
    return out


def probe_layers(probes, out):
    """Self times of the direct layer calls: each call minus the bare scan
    of the same input, median over the traced passes."""
    def d(call, base):
        vals = [q[call] - q[base] for q in probes if call in q]
        return median(vals)

    def v(key):
        return median(q[key] for q in probes if key in q)

    cands = v("operators.lsh_candidate_pairs")
    return {
        "sources.scan_s": v("sources.chunked_scan"),
        "sources.rows_read": v("sources.rows_read"),
        "functions.convert_s": (d("convert.orders", "scan.orders")
                                + d("convert.events", "scan.events")
                                if any("convert.orders" in q for q in probes) else 0.0),
        "functions.text_s": d("functions.text", "scan.documents"),
        "expressions.token_stats_s": d("expressions.token_stats", "scan.documents"),
        "expressions.vector_s": d("expressions.vector", "pairs.embeddings"),
        "cdc.envelope_s": d("cdc.envelope", "scan.events_envelope_cols"),
        "cdc.latest_state_s": d("cdc.latest_state", "scan.events"),
        "operators.lsh_candidate_pairs": cands,
        "operators.lsh_precision": out["operators.lsh_pairs"] / cands if cands else 0.0,
    }
