#!/usr/bin/env python3
"""graft's benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the program and the
harness and generates the input tables (see build.py); later runs reuse
them. A run starts one JVM that drives graft through its public entry
points, times the workload, checks the outputs, and writes one record
(by query or rule, by layer) under <build dir>/records/. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json when --trace 0 and every
per-layer metric when --trace 1.

Other modes:
    --selftest              tests of the harness's tracer
    --record-ref <workload> record the reference output fingerprints
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # the checkout stays as it was
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def load_spec():
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(classes, data, workload, seed, seconds, trace, record_ref=False):
    bdir = build.build_dir()
    work = os.path.join(bdir, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "record.json")
    ref = os.path.join(HERE, "ref", f"{workload}.json")
    cmd = build.java_cmd(classes, tmp) + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--data", data,
        "--work", work, "--out", out, "--ref", ref,
        "--record-ref", "1" if record_ref else "0", "--cores", str(build.CORES),
        "--launch-ms", repr(time.time() * 1000)]
    logf = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    logf.close()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"run failed ({'timeout' if code is None else 'exit ' + str(code)})", 4)
    with open(out) as f:
        record = json.load(f)
    record["process_s"] = time.time() - t0
    return record, work


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or None
    except OSError:
        return None


def duckdb_context(record, data, work):
    """Warm DuckDB on the workload's oracle SQL (tools/duckbench.py), as
    context for the traced sql_rules run; not a gated metric."""
    tool = os.path.join(build.ROOT, "tools", "duckbench.py")
    oracle = os.path.join(work, "oracle.json")
    if not (os.path.exists(tool) and os.path.exists(oracle)):
        return {"skipped": "no tools/duckbench.py or oracle SQL"}
    try:
        import duckdb
    except ImportError:
        return {"skipped": "duckdb is not installed"}
    # duckbench reads <dir>/<table>.parquet as single files; GenData
    # writes directories of part files, so merge them once
    mirror = os.path.join(os.path.dirname(data), "duckdb-" + os.path.basename(data))
    if not os.path.exists(os.path.join(mirror, ".ok")):
        os.makedirs(mirror, exist_ok=True)
        con = duckdb.connect()
        for t in sorted(os.listdir(data)):
            if t.endswith(".parquet"):
                con.execute(f"COPY (SELECT * FROM '{data}/{t}/*.parquet') "
                            f"TO '{mirror}/{t}' (FORMAT PARQUET)")
        open(os.path.join(mirror, ".ok"), "w").close()
    r = subprocess.run([sys.executable, tool, mirror, oracle, "3"], text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=120)
    if r.returncode != 0:
        return {"skipped": "duckbench failed: " + r.stderr[-300:]}
    duck = json.loads(r.stdout.strip().splitlines()[-1])
    graft_t = {q: d.get("exec_s", 0) + d.get("plan_s", 0) + d.get("construct_s", 0)
               for q, d in record["queries"].items()}
    common = sorted(q for q in duck["queries"] if q in graft_t)
    g = sum(graft_t[q] for q in common)
    d = sum(duck["queries"][q] for q in common)
    return {"queries": len(common), "graft_s": g, "duckdb_s": d,
            "ratio": g / d if d > 0 else None, "duckdb_per_query": duck["queries"]}


def tracing_overhead(record, records_dir):
    """Traced wall_s over the median untraced wall_s of the same workload
    in this build directory, minus one."""
    walls = []
    for name in os.listdir(records_dir):
        if name.startswith(record["workload"] + "_") and name.endswith("_trace0.json"):
            with open(os.path.join(records_dir, name)) as f:
                walls.append(json.load(f)["end_to_end"]["wall_s"])
    traced = record["end_to_end"]["wall_s"]
    if not walls:
        return None
    base = statistics.median(walls)
    return {"untraced_runs": len(walls), "untraced_wall_s": base,
            "traced_wall_s": traced, "overhead_frac": traced / base - 1}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-ref", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(build.ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from the repository root")
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    if a.selftest:
        a.workload = "selftest"
    elif a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {workloads}")

    classes, data = build.build()
    record, work = run_jvm(classes, data, a.workload, a.seed, a.seconds, a.trace,
                           record_ref=a.record_ref)
    if a.selftest:
        print(json.dumps(record))
        sys.exit(0 if record.get("failed") == 0 else 1)

    record["commit"] = git_commit()
    record["source_hash"] = build.source_hash()
    records_dir = os.path.join(build.build_dir(), "records")
    os.makedirs(records_dir, exist_ok=True)
    if a.trace:
        record["tracing_overhead"] = tracing_overhead(record, records_dir)
        if a.workload == "sql_curation":
            record["duckdb"] = duckdb_context(record, data, work)
    if a.record_ref:
        ref = {"sf": build.SF, "queries": {
            q: {"rows": c["rows"], "fingerprint": c["fingerprint"]}
            for q, c in sorted(record["checks"].items()) if "fingerprint" in c}}
        os.makedirs(os.path.join(HERE, "ref"), exist_ok=True)
        with open(os.path.join(HERE, "ref", f"{a.workload}.json"), "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)
            f.write("\n")
    rec_path = os.path.join(records_dir, f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    source = record[kind]
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in source or source[m["name"]] is None:
            fail(f"metric {m['name']} missing from the run record", 5)
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
        print(f"{a.workload} {m['name']} = {source[m['name']]:.6g} {m['unit']}")
    extra = record.get("extra", {})
    host, speed = extra.get("host", {}), extra.get("host_speed", {})
    print(f"{a.workload} host steal_frac = {host.get('steal_frac', 0):.4f}, "
          f"load1m = {host.get('load1m_start', -1):.2f} -> {host.get('load1m_end', -1):.2f}, "
          f"speed factor = {speed.get('factor', 1):.3f} (wall), {speed.get('cpu_factor') or 1:.3f} (cpu)")
    for k, v in sorted(extra.get("end_to_end_raw", {}).items()):
        print(f"{a.workload} raw {k} = {v:.6g}")
    for q, c in sorted(record["checks"].items()):
        if not c.get("ok"):
            print(f"{a.workload} check FAILED: {q} {json.dumps(c)[:300]}")
    print(f"record: {os.path.relpath(rec_path, build.ROOT)}")
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
