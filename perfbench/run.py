"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, cached per seed under
.bench_out/inputs), then runs passes until --seconds have elapsed. Each pass
is a fresh JVM (perfbench.Main) that sets up a Spark session, runs one round
of the workload through the program's public entry points, checks the
outputs and writes a record. With --trace 1 the passes alternate untraced
and traced, and the traced ones report the per-layer metrics.

Prints a full record line, then as the last line one JSON object with the
keys correct, attempted, failed and metrics. The full record, spans
included, is kept under .bench_out/records/ for perfbench/report.py.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

RUN_BUDGET_S = 165   # passes of one run, after the build: the run must end within 180 s
MAX_PASSES = 12

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_json(path):
    with open(path) as f:
        return json.load(f)


def inputs_for(workload, seed):
    """Generated inputs for (workload, seed), made once and then reused."""
    d = os.path.join(OUT, "inputs", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d, load_json(os.path.join(d, "manifest.json"))


def expectations(manifest):
    out = {}
    for k, v in manifest.items():
        if k in ("hashes", "rows"):
            continue
        if k == "sample_series":
            v = ";".join(f"{a},{b}" for a, b in v)
        elif isinstance(v, list):
            v = ",".join(str(x) for x in v)
        out["expect." + k] = str(v)
    return out


def run_pass(cp, workload, inputs, manifest, session, traced, verify, k, timeout):
    work = os.path.join(OUT, "work", f"{workload}-{os.getpid()}-{k}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(work, "record.json")
    args = [workload, inputs, work, record, "1" if traced else "0", str(verify)]
    args += [f"{a}={b}" for a, b in session.items()]
    args += [f"{a}={b}" for a, b in expectations(manifest).items()]
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log = os.path.join(OUT, "logs", f"{workload}-pass{k}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    rec = load_json(record) if os.path.exists(record) else {"checks": []}
    rec["rc"] = rc
    rec["traced"] = traced
    if rc != 0:
        rec["checks"].append({"name": f"pass exited 0 (log {os.path.relpath(log, ROOT)})",
                              "ok": False, "detail": f"rc={rc}"})
    if verify and rc == 0:
        rec["checks"] += oracle_checks(os.path.join(inputs, "corpus"),
                                       os.path.join(work, "outputs"))
    shutil.rmtree(work, ignore_errors=True)
    return rec


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if v is None:
                vals.append("NULL")
            elif isinstance(v, float):
                # + 0.0 folds -0.0 into 0.0: equal values, different repr
                vals.append("NaN" if math.isnan(v) else repr(round(v, 9) + 0.0))
            elif isinstance(v, bool):
                vals.append(str(int(v)))
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return [cols[i] for i in order], out


def oracle_checks(corpus, outputs):
    """Each query's output against its DuckDB oracle SQL on the same tables,
    compared as sorted, stringified rows (the repository's oracle
    convention). Queries without an oracle must return rows."""
    import duckdb
    import pyarrow.parquet as pq
    oracles = load_json(os.path.join(outputs, "oracle_sql.json"))
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(corpus, f)}')")
    checks = []
    for name in sorted(d for d in os.listdir(outputs) if os.path.isdir(os.path.join(outputs, d))):
        try:
            t = pq.read_table(os.path.join(outputs, name))
            srows = [tuple(r.values()) for r in t.to_pylist()]
            if name not in oracles:
                ok, detail = len(srows) > 0, f"rows={len(srows)} (no oracle)"
            else:
                cur = con.execute(oracles[name])
                sc, sr = _normalize(srows, t.column_names)
                oc, orr = _normalize(cur.fetchall(), [d[0] for d in cur.description])
                ok = sc == oc and sr == orr and len(sr) > 0
                detail = f"rows={len(sr)} oracle_rows={len(orr)}" + ("" if sc == oc else f" cols {sc} != {oc}")
        except Exception as e:  # a failed compare is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        checks.append({"name": f"{name} matches the DuckDB oracle", "ok": ok, "detail": detail})
    con.close()
    return checks


def pct(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(xs)
    pos = q * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    layers = load_json(os.path.join(HERE, "layers.json"))
    if a.workload not in gen.GENERATORS:
        raise SystemExit(f"unknown workload {a.workload}")
    t_setup = time.time()
    cp = build.build()
    inputs, manifest = inputs_for(a.workload, a.seed)
    n = cores()
    session = dict(layers["session"], **{"spark.master": f"local[{n}]",
                                         "spark.sql.shuffle.partitions": str(n)})
    loadavg_start = os.getloadavg()
    build_and_gen_s = time.time() - t_setup

    # A traced run compares its round with untraced rounds of the same
    # workload: those of the untraced runs on record in this checkout, or
    # else one untraced pass it makes first.
    baseline = [r["pass_round_s"][0] for r in map(load_json, glob.glob(
        os.path.join(OUT, "records", f"{a.workload}-seed*-trace0.json")))
        if r.get("pass_round_s") and r["pass_round_s"][0]] if a.trace else []
    passes = []
    t0 = time.time()
    while len(passes) < MAX_PASSES:
        trace_pass = a.trace == 1 and (len(passes) % 2 == 1 or bool(baseline))
        # once per run, a third of the queries: which third follows the seed
        verify = a.seed % 3 + 1 if a.workload == "query_mix" and not passes else 0
        passes.append(run_pass(cp, a.workload, inputs, manifest, session, trace_pass, verify,
                               len(passes), max(5.0, t0 + RUN_BUDGET_S - time.time())))
        if passes[-1]["rc"] != 0:
            break
        if time.time() - t0 >= a.seconds and (a.trace == 0 or trace_pass):
            break
    measured_s = time.time() - t0

    checks = [c for p in passes for c in p["checks"]]
    failed = sum(1 for c in checks if not c["ok"])
    timing = [p for p in passes if not p["traced"] and p["rc"] == 0]
    traced = [p for p in passes if p["traced"] and p["rc"] == 0]
    if not timing and not traced:
        raise SystemExit("no pass completed; see " + os.path.relpath(os.path.join(OUT, "logs"), ROOT))
    metrics = {}
    figures = {}
    measured = timing or traced   # the figures of a traced-only run are traced
    ops = [x for p in measured for x in p["ops_ms"]]
    for k in measured[0]["figures"]:
        vals = [p["figures"][k] for p in measured if p["figures"].get(k) is not None]
        if vals:
            figures[k] = {"value": statistics.median(vals), "samples": len(vals)}
    for k in ("setup_s", "round_s", "peak_rss_mb"):
        figures[k] = {"value": statistics.median(p[k] for p in measured), "samples": len(measured)}
    figures["op_ms_p50"] = {"value": pct(ops, 0.5), "samples": len(ops)}
    if len(ops) >= 100:   # a p90 needs ten samples beyond it
        figures["op_ms_p90"] = {"value": pct(ops, 0.9), "samples": len(ops)}
    if a.trace == 0:
        metrics = {m["name"]: {"value": figures[m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    elif traced:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        got = {}
        for k in units:
            vals = [p["layers"][k] for p in traced if p["layers"].get(k) is not None]
            got[k] = statistics.median(vals) if vals else 0.0
        got["trace.overhead_pct"] = 100.0 * (
            statistics.median(p["round_s"] for p in traced) /
            statistics.median(baseline or [p["round_s"] for p in timing]) - 1)
        metrics = {k: {"value": got[k], "unit": units[k]} for k in units}
    ok = bool(passes) and all(p["rc"] == 0 for p in passes) and failed == 0 and bool(metrics)

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "passes": len(passes), "measured_s": measured_s,
        "build_and_generate_s": build_and_gen_s,
        "nproc": n, "loadavg_start": loadavg_start, "loadavg_finish": os.getloadavg(),
        "session": session, "input_hashes": manifest.get("hashes"),
        "inputs": {k: v for k, v in manifest.items() if k != "hashes"},
        "figures": figures, "checks": checks,
        "pass_stamps": [p.get("stamps", {}) for p in passes],
        "pass_round_s": [p.get("round_s") for p in passes],
        "pass_traced": [p["traced"] for p in passes],
        "spans": [p.get("spans", []) for p in traced],
        "metrics": metrics,
    }
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    path = os.path.join(OUT, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f)
    print(json.dumps({k: v for k, v in record.items() if k not in ("spans", "inputs")}))
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"correct": ok, "attempted": max(1, len(checks)), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
