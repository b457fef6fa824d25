#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 1

Run from the repository root. The first call builds the program and the
benchmark (perfbench/build.py) and generates the seed's inputs
(perfbench/gen.py); both are cached under .bench_build/perfbench.

One JVM runs on local[nproc] from one client thread: set-up (JVM start to a
ready session and an untimed warm-up query), a cold pass over the
workload's lanes, then a fixed number of warm passes that scales with
--seconds (WARM_PASSES_AT_30S). Each lane is forced by an order-independent
digest of its output, checked against perfbench/expected.json.

--trace 0 prints the end-to-end metrics; --trace 1 runs with listeners and
spans attached on alternate warm passes (untraced, traced, untraced, ...)
and prints the per-layer metrics, including the tracing overhead. The last stdout line is one JSON object;
every figure also goes to an artifact under .bench_build/perfbench/results.
Exits non-zero on any digest mismatch or failed lane.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
OUT = build.BUILD
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# Warm passes per run at --seconds 30, sized so that the cold pass and the
# warm passes take about that long on a 4-core machine; the count scales with
# --seconds but does not depend on measured times, so every run of a
# workload reports the same passes.
WARM_PASSES_AT_30S = {"ingest": 3, "cdc_stream": 2, "analytics": 2}

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "lane_geomean_s": "s",
              "live_heap_mb": "MB", "native_mb": "MB"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def jvm_cmd(classpath, archive, args, dump_archive=False):
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    # a fixed 2 GB heap, touched at start: no heap-resizing decisions, so GC
    # pauses repeat from run to run, and peak RSS minus the heap is the
    # peak of native memory
    opts += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xshare:auto",
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"]
    if dump_archive:
        opts.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif os.path.isfile(archive):
        opts.append(f"-XX:SharedArchiveFile={archive}")
    return ["java"] + opts + ["-cp", classpath, "perfbench.Main"] + args


def jvm_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "tmp", "spark-local")
    return env


def run_jvm(cmd, log):
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=jvm_env(), cwd=ROOT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish in {JVM_TIMEOUT_S}s (log: {log})")


def class_archive(classpath, key, workload, inputs):
    """Class-data sharing archive of the workload's set-up path, made once
    per build and workload by a set-up-only JVM, so each run's JVM maps
    those classes instead of loading and verifying them again. setup_s
    therefore leaves out loading and verifying the set-up classes."""
    archive = os.path.join(OUT, f"setup-{workload}.jsa")
    mark = archive + ".stamp"
    if os.path.isfile(archive) and os.path.isfile(mark) and open(mark).read() == key:
        return archive
    for f in (archive, mark):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(OUT, "work", f"archive-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rc = run_jvm(jvm_cmd(classpath, archive, [
        "--workload", workload, "--input", inputs, "--work", work,
        "--out", os.path.join(work, "setup.json"), "--setup-only", "1"], dump_archive=True),
        os.path.join(OUT, f"archive-{workload}.log"))
    if rc == 0 and os.path.isfile(archive):
        with open(mark, "w") as fh:
            fh.write(key)
    return archive


def warm_passes(workload, seconds, trace):
    n = max(1, int(WARM_PASSES_AT_30S[workload] * seconds / 30))
    # a traced run brackets each traced pass by untraced ones: an odd count >= 3
    return max(3, n | 1) if trace else n


def inputs_for(workload, seed):
    d = os.path.join(OUT, "inputs", gen.scale_name(workload), f"seed-{seed}")
    if os.path.isdir(d):
        return d, 0.0
    return d, gen.generate(workload, seed, d)


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def check_digests(raw, scale):
    """(attempted, failed, problems): every lane execution counts; a lane
    fails if it threw or its digest differs from the expected one."""
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh).get(scale, {})
    attempted, failed, problems = 0, 0, []
    for i, p in enumerate(raw["passes"]):
        for lane in p["lanes"]:
            attempted += 1
            got = f"{lane['rows']}:{lane['hashsum']}"
            want = expected.get(lane["lane"])
            if lane["error"] or got != want:
                failed += 1
                problems.append({"pass": i, "lane": lane["lane"], "got": got,
                                 "expected": want, "error": lane["error"]})
    return attempted, failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARM_PASSES_AT_30S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    load_start = loadavg()
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    scale = gen.scale_name(a.workload)
    inputs, gen_s = inputs_for(a.workload, a.seed)
    archive = class_archive(classpath, open(os.path.join(OUT, "perfbench.jar.stamp")).read(),
                            a.workload, inputs)

    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    cmd = jvm_cmd(classpath, archive, [
        "--workload", a.workload, "--input", inputs, "--work", work, "--out", raw_path,
        "--warm-passes", str(warm_passes(a.workload, a.seconds, a.trace)),
        "--trace", str(a.trace)])
    t_launch = time.time()
    rc = run_jvm(cmd, os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.isfile(raw_path):
        fail(f"JVM exited with {rc} (log: {os.path.join(work, 'jvm.log')})")
    with open(raw_path) as fh:
        raw = json.load(fh)

    attempted, failed, problems = check_digests(raw, scale)
    if a.trace:
        values = metrics.per_layer(raw)
        out = {k: {"value": v, "unit": metrics.unit(k)} for k, v in sorted(values.items())}
    else:
        values = metrics.end_to_end(raw, t_launch)
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    nproc = raw["nproc"]
    load1 = float(load_start.split()[0]) if load_start else 0.0
    artifact = {
        "meta": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
            "input_scale": scale, "scale": gen.SCALES[a.workload], "nproc": nproc,
            "git_sha": git_sha(),
            "source_sha256": open(os.path.join(OUT, "graft.jar.stamp")).read(),
            "java_version": raw["java_version"], "spark_version": raw["spark_version"],
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "jvm_loadavg_start": raw["load_start"], "jvm_loadavg_end": raw["load_end"],
            "suspect": load1 > nproc, "input_generation_s": gen_s,
            "class_archive": os.path.isfile(archive),
        },
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "problems": problems, "metrics": out,
        "passes": [{"kind": p["kind"], "traced": p["traced"],
                    "s": metrics.pass_seconds(p),
                    "lanes": {x["lane"]: x["s"] for x in p["lanes"]}}
                   for p in raw["passes"]],
    }
    res = os.path.join(OUT, "results")
    os.makedirs(res, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}"
    with open(os.path.join(res, name + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    if a.trace:
        shutil.copy(raw_path, os.path.join(res, name + "-spans.json"))

    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    if artifact["meta"]["suspect"]:
        print(f"suspect run: load1 {load1} > nproc {nproc} at start", file=sys.stderr)
    for p in problems:
        print(f"digest check failed: {json.dumps(p)}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
