#!/usr/bin/env python3
"""Repository benchmark: the reference ETL job, its incremental re-run, the
saved queries over its output, and the corpus flagship.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 10 --trace 0

Builds the engine from source (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/fixtures.py), runs one JVM
(perfbench/scala/perfbench/Driver.scala) that times the workload in a closed
loop with one client on `local[nproc]`, checks every timed operation's
output, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. All files it writes stay under
`.bench_build/` in the working directory. See perfbench/README.md.
"""

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixtures  # noqa: E402

# Input sizes. saved_queries reads the hourly output of the same kind of
# source as etl_full, one week long instead of one month.
ETL_FULL = dict(buildings=48, steps=2976, upgrades=[0, 1], corrupt_upgrade=1)
QUERY_SRC = dict(buildings=48, steps=672, upgrades=[0, 1], corrupt_upgrade=1)
ETL_INCR = dict(buildings=120, steps=672, upgrades=[0, 1, 2], corrupt_upgrade=2)
CORPUS_DOCS = 1000

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "data_mb": "MB",
    "peak_rss_mb": "MB",
}

QUERY_NAMES = ["total_number_of_individual_building_models",
               "number_of_buildings_by_building_type_group",
               "isolated_individual_building_models"]

PER_LAYER = {
    "core.session_start_s": "s", "core.warmup_s": "s",
    "etl.run.wall_s": "s", "etl.run.spark_jobs": "count", "etl.run.tasks": "count",
    "etl.run.executor_cpu_s": "s", "etl.run.gc_s": "s", "etl.run.core_busy_ratio": "ratio",
    "etl.run.driver_only_s": "s", "etl.scan.rows": "count", "etl.scan.bytes": "bytes",
    "etl.shuffle.write_bytes": "bytes", "etl.shuffle.records": "count",
    "etl.partial_agg_ratio": "ratio", "etl.spill_bytes": "bytes",
    "etl.aggregate.wall_s": "s", "etl.listing_tasks": "count",
    "etl.manifest.wall_s": "s", "etl.bypass.wall_s": "s", "etl.schema_enforce.wall_s": "s",
    "etl.write.bytes": "bytes", "etl.write.files": "count",
    "ledger.listed": "count", "ledger.processed": "count", "ledger.bypassed": "count",
    "ledger.input_rows": "count", "ledger.output_rows": "count",
    "ledger.discrepancies": "count",
    **{f"queries.{n}.p50_s": "s" for n in QUERY_NAMES},
    "queries.tail_s": "s", "queries.plan_s": "s", "queries.spark_jobs_per_query": "count",
    "queries.tasks_per_query": "count", "queries.scan_bytes": "bytes",
    "queries.shuffle_bytes": "bytes",
    "ext.pipeline.construct_s": "s", "ext.pipeline.execute_s": "s",
    "ext.pipeline.spark_jobs": "count", "ext.pipeline.tasks": "count",
    "ext.pipeline.executor_cpu_s": "s", "ext.pipeline.shuffle_bytes": "bytes",
    "ext.pipeline.driver_only_s": "s", "ext.pipeline.gc_s": "s",
    "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# a fixed, pre-touched heap keeps the JVM's resident set from depending on
# when the collector chose to grow the heap
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 165


def check_declared(root):
    """Fail fast when BENCHMARK.json names other metrics than this runner
    reports."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        b = json.load(fh)
    declared = ({m["name"]: m["unit"] for m in b["end_to_end"]},
                {m["name"]: m["unit"] for m in b["per_layer"]})
    if declared != (END_TO_END, PER_LAYER):
        raise SystemExit("BENCHMARK.json metrics differ from perfbench/run.py")


def nproc():
    return len(os.sched_getaffinity(0))


def steal_sample(root):
    """(steal jiffies, total jiffies), via tools/steal.sh when it exists."""
    script = os.path.join(root, "tools", "steal.sh")
    if os.path.exists(script):
        out = subprocess.run(["bash", script], stdout=subprocess.PIPE, text=True).stdout
        steal, total = out.split()
        return int(steal), int(total)
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]), sum(int(x) for x in f[1:])


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    p = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


def make_fixtures(workload, seed, fx_root):
    """(fixture dir, input sizes) for the workload."""
    if workload == "etl_full":
        return fixtures.oedi(fx_root, seed, sample_from=ETL_FULL["upgrades"], **ETL_FULL), ETL_FULL
    if workload == "saved_queries":
        return fixtures.oedi(fx_root, seed, sample_from=QUERY_SRC["upgrades"], **QUERY_SRC), QUERY_SRC
    if workload == "etl_incremental":
        return fixtures.oedi(fx_root, seed, sample_from=[2], **ETL_INCR), ETL_INCR
    if workload == "corpus_pipeline":
        return fixtures.corpus(fx_root, seed, CORPUS_DOCS), dict(docs=CORPUS_DOCS)
    raise SystemExit(f"unknown workload {workload}")


# ---------------------------------------------------------------- checks

def close(a, b):
    return a is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def check_etl(op, exp, incremental):
    ups = [2] if incremental else exp["upgrades"]
    listed = sum(exp["files"][str(u)] for u in ups)
    valid = sum(exp["valid_files"][str(u)] for u in ups)
    want = {"listed": listed, "processed": valid, "bypassed": 2 * len(exp["upgrades"]),
            "input_rows": valid * exp["steps"], "output_rows": valid * exp["hours"],
            "discrepancies": [exp["corrupt_file"]], "schema_drift": []}
    errs = [f"ledger {k}={op['ledger'][k]!r}, expected {v!r}"
            for k, v in want.items() if op["ledger"][k] != v]
    for s, got in zip(exp["samples"], op["samples"]):
        if not close(got, s["mean"]):
            errs.append(f"{s['column']} u{s['upgrade']} b{s['bldg_id']} h{s['hour']}: "
                        f"{got!r}, expected {s['mean']!r}")
    if op["write_files"] < 1:
        errs.append("no output files")
    return errs


def expected_queries(exp):
    """Saved-query results derived from the generator's metadata: the data
    table holds every building with a readable file, one row per hour and
    upgrade; the metadata table is the baseline metadata file."""
    rows = {}  # bldg -> hourly rows in the data table
    for u in exp["upgrades"]:
        for b in exp["valid"][str(u)]:
            rows[b] = rows.get(b, 0) + exp["hours"]
    ket = [m for m in exp["meta"]
           if m["county"] == fixtures.COUNTIES[0] and m["bldg_id"] in rows]
    q1 = [[str(len({m["bldg_id"] for m in ket if m["type"] == "Hospital"}))]]
    groups = {}
    for m in ket:
        groups.setdefault(m["group"], set()).add(m["bldg_id"])
    q2 = sorted([g, str(len(b))] for g, b in groups.items())
    # ROW_NUMBER runs over join rows ordered by bldg_id: a building is kept
    # when its first join row falls within the first 500
    q3, seen = [], 0
    for b in sorted(m["bldg_id"] for m in ket if m["group"] == "Healthcare"):
        if seen < 500:
            q3.append([str(b), "Healthcare"])
        seen += rows[b]
    return {QUERY_NAMES[0]: q1, QUERY_NAMES[1]: q2, QUERY_NAMES[2]: sorted(q3)}


def check_query(op, want):
    got = sorted(op["rows"])
    return [] if got == want[op["query"]] else [f"{op['query']}: {got!r}, expected {want[op['query']]!r}"]


def oracle_rows(sql, fx):
    import duckdb
    con = duckdb.connect()
    try:
        path = os.path.join(fx, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, map(str, r))) for r in cur.fetchall()]
    finally:
        con.close()


def check_pipeline(op, want):
    got = [dict(zip(op["columns"], r)) for r in op["rows"]]
    return [] if got == want else [f"x0_pipeline: {got!r}, expected {want!r}"]


# ---------------------------------------------------------------- metrics

def quartile_spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return None
    k = len(s) - 10
    return {"percentile": round(100.0 * k / len(s), 1), "value": s[k - 1], "n": len(s)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still reaches the `finally` that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    check_declared(root)
    work = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    classes, src_sha, build_s = build.build(root, work)
    if build_s:
        print(f"built engine + benchmark in {build_s:.1f} s", file=sys.stderr)

    t_fx = time.monotonic()
    fx, size = make_fixtures(a.workload, a.seed, os.path.join(work, "fixtures"))
    fixture_s = time.monotonic() - t_fx
    exp = json.load(open(os.path.join(fx, "expected.json")))

    cores = nproc()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out_json = os.path.join(work, "runs", tag + ".jvm.json")
    log = os.path.join(work, "runs", tag + ".log")
    jvm_cwd = os.path.join(work, "jvm")
    os.makedirs(jvm_cwd, exist_ok=True)
    if os.path.exists(out_json):
        os.remove(out_json)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"),
            "perfbench.Driver", a.workload, fx, os.path.join(work, "scratch"),
            str(a.seconds), str(a.trace), str(cores), out_json]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    steal0 = steal_sample(root)
    t0 = time.monotonic()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=jvm_cwd, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    jvm_s = time.monotonic() - t0
    steal1 = steal_sample(root)
    if rc != 0 or not os.path.exists(out_json):
        sys.stderr.write(open(log).read()[-6000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc}); log: {log}")
    res = json.load(open(out_json))
    ops = res["ops"]

    # -- checks: every timed operation's output
    if a.workload in ("etl_full", "etl_incremental"):
        errs = [check_etl(op, exp, a.workload == "etl_incremental") for op in ops]
        # traced full runs also query the output they wrote
        probes = res["info"].get("probe_ops", [])
        if probes:
            want = expected_queries(exp)
            errs += [check_query(op, want) for op in probes]
    elif a.workload == "saved_queries":
        want = expected_queries(exp)
        errs = [check_query(op, want) for op in ops]
    else:
        want = oracle_rows(res["info"]["oracle_sql"], fx)
        errs = [check_pipeline(op, want) for op in ops]
    failed = sum(1 for e in errs if e)

    times = [op["wall_s"] for op in ops if not op["traced"]]
    setup = [s["session_start_s"] + s["warmup_s"] for s in res["setups"]]
    if a.workload in ("etl_full", "etl_incremental"):
        data_mb = statistics.median(op["write_bytes"] for op in ops) / 1e6
    else:
        data_mb = res["info"]["data_bytes"] / 1e6
    if a.trace:
        layers = dict(res["layers"])
        layers["core.session_start_s"] = statistics.median(s["session_start_s"] for s in res["setups"])
        layers["core.warmup_s"] = statistics.median(s["warmup_s"] for s in res["setups"])
        # a layer the workload does not go through reports 0
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": statistics.median(setup), "op_p50_s": statistics.median(times),
                  "data_mb": data_mb, "peak_rss_mb": res["peak_rss_kb"] / 1024.0}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    ds, dt = steal1[0] - steal0[0], steal1[1] - steal0[1]
    record = {
        "conditions": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "loop": f"closed loop, 1 client, local[{cores}]", "nproc": cores,
            "git_sha": git_sha(root), "source_sha256": src_sha,
            "spark": res["spark_version"], "java": f"{res['java_vm']} {res['java_version']}",
            "jvm_heap": JVM_HEAP, "input": size,
            "steal": {"jiffies": ds, "total_jiffies": dt, "ratio": ds / dt if dt else 0.0},
            "fixture_s": round(fixture_s, 3), "jvm_s": round(jvm_s, 3), "build_s": round(build_s, 3),
        },
        "reps": {"op_s": [op["wall_s"] for op in ops], "traced": [op["traced"] for op in ops],
                 "setup_s": setup, "queries": [op.get("query") for op in ops]},
        "spread": {"op_s_iqr_over_median": quartile_spread(times),
                   "op_s_min": min(times), "op_s_max": max(times), "op_s_n": len(times),
                   "setup_s_iqr_over_median": quartile_spread(setup)},
        "op_tail_s": tail(times),
        "failed_ops_ratio": failed / len(errs),
        "failures": [e for es in errs for e in es][:10],
    }
    with open(os.path.join(work, "runs", tag + ".json"), "w") as fh:
        json.dump(dict(record, spans=res["spans"], layers=res["layers"]), fh)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": len(errs), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
