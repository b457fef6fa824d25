#!/usr/bin/env python3
"""Confirm the expected lane digests of perfbench/expected.json.

For each seed given, runs every lane of the workload once on that seed's
inputs (perfbench.Main --dump), then compares each lane's output with its
`SparkEntry.oracleSql` run in DuckDB on the same inputs, with the compare
of scripts/check.py (columns by name, rows sorted, values as text). A lane
whose oracle does not finish within --oracle-timeout is checked only for an
identical digest on every seed. With --write, the digests of lanes that pass
are stored in expected.json under the workload's input scale.

    python3 perfbench/confirm.py --workload analytics --seeds 1 2 --write
"""
import argparse
import glob
import json
import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def oracle_frame(con, sql, timeout):
    """The oracle's result, or None if it does not finish in time."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).df()
    except Exception as e:  # duckdb raises InterruptException on timeout
        if "interrupt" in str(e).lower():
            return None
        raise
    finally:
        timer.cancel()


def same(got, exp):
    """scripts/check.py's compare: schema, row count and values as text."""
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns) or len(g) != len(e):
        return False, f"cols/rows differ: {list(g.columns)}/{len(g)} vs {list(e.columns)}/{len(e)}"
    if not all(str(a) == str(b) for a, b in zip(g.dtypes, e.dtypes)):
        return False, f"dtypes differ: {list(g.dtypes)} vs {list(e.dtypes)}"
    gs = g.sort_values(by=list(g.columns), ignore_index=True).astype(str)
    es = e.sort_values(by=list(e.columns), ignore_index=True).astype(str)
    if not gs.equals(es):
        bad = [c for c in g.columns if not gs[c].equals(es[c])]
        return False, f"values differ in {bad}"
    return True, "match"


def dump(workload, seed, classpath, archive):
    inputs, _ = run.inputs_for(workload, seed)
    work = os.path.join(run.OUT, "work", f"confirm-{workload}")
    out = os.path.join(run.OUT, "confirm", f"{workload}-seed{seed}")
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    raw = os.path.join(work, "raw.json")
    rc = run.run_jvm(run.jvm_cmd(classpath, archive, [
        "--workload", workload, "--input", inputs, "--work", work, "--out", raw,
        "--dump", out]), os.path.join(work, "jvm.log"))
    if rc != 0:
        run.fail(f"dump JVM exited with {rc} (log: {work}/jvm.log)")
    with open(raw) as fh:
        return inputs, out, json.load(fh)["digests"]


def main():
    import duckdb

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SCALES))
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--oracle-timeout", type=float, default=90.0)
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()

    classpath = build.build()
    scale = gen.scale_name(a.workload)
    key = open(os.path.join(run.OUT, "perfbench.jar.stamp")).read()
    first_inputs, _ = run.inputs_for(a.workload, a.seeds[0])
    archive = run.class_archive(classpath, key, a.workload, first_inputs)

    report = {}
    for seed in a.seeds:
        inputs, out, digests = dump(a.workload, seed, classpath, archive)
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        con = duckdb.connect()
        for t in gen.SCALES[a.workload]["tables"]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet/*.parquet')")
        for lane, d in sorted(digests.items()):
            digest = f"{d['rows']}:{d['hashsum']}"
            got = con.sql(f"SELECT * FROM read_parquet('{out}/{lane}/*.parquet')").df() \
                if glob.glob(f"{out}/{lane}/*.parquet") else None
            exp = oracle_frame(con, oracle[lane], a.oracle_timeout) if lane in oracle else None
            if got is None:
                verdict = (False, "no output files")
            elif exp is None:
                verdict = (None, "oracle did not finish")
            else:
                verdict = same(got, exp)
            report.setdefault(lane, []).append({"seed": seed, "digest": digest,
                                                "oracle": verdict[0], "note": verdict[1]})
            print(f"seed {seed} {lane}: {digest} oracle={verdict[0]} ({verdict[1]})")

    confirmed = {}
    for lane, rows in report.items():
        digests = {r["digest"] for r in rows}
        if len(digests) != 1:
            print(f"DEFECT {lane}: digest depends on the seed: {sorted(digests)}")
            continue
        if any(r["oracle"] is False for r in rows):
            print(f"FAIL {lane}: output differs from the oracle")
            continue
        if all(r["oracle"] is None for r in rows) and len(a.seeds) < 2:
            print(f"UNCONFIRMED {lane}: no oracle result; needs two seeds")
            continue
        confirmed[lane] = digests.pop()

    path = os.path.join(HERE, "expected.json")
    if a.write:
        expected = json.load(open(path)) if os.path.isfile(path) else {}
        expected.setdefault(scale, {}).update(confirmed)
        with open(path, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(json.dumps({"scale": scale, "confirmed": confirmed,
                      "report": report}, indent=1))
    sys.exit(0 if len(confirmed) == len(report) else 1)


if __name__ == "__main__":
    main()
