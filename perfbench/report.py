"""Per-layer report of traced runs, next to the end-to-end medians.

    python3 perfbench/report.py [--workload <name>]

Reads the records perfbench/run.py keeps under .bench_out/records/. For each
workload it prints the end-to-end medians over the untraced runs (--trace 0)
on record, then, for the newest traced run (--trace 1), each layer's self
time inside the timed round with its share of the round's wall time, and
every per-layer metric. Self time is a span's duration minus the part its
child spans cover, so the shares add up to the round's wall time.
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(os.path.dirname(HERE), ".bench_out", "records")


def self_times(spans):
    """Self ms per span name within the subtree of the round span."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    root = next(s for s in spans if s["name"].endswith(".round"))
    out = defaultdict(float)
    stack = [root]
    while stack:
        s = stack.pop()
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids[s["id"]])
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["name"]] += (s["end"] - s["start"]) - covered
        stack += kids[s["id"]]
    return root["end"] - root["start"], dict(out)


def report(workload):
    untraced = [json.load(open(p)) for p in glob.glob(os.path.join(RECORDS, f"{workload}-seed*-trace0.json"))]
    traced = sorted(glob.glob(os.path.join(RECORDS, f"{workload}-seed*-trace1.json")), key=os.path.getmtime)
    print(f"== {workload}")
    if untraced:
        print(f"  end-to-end medians over {len(untraced)} untraced runs:")
        for k in untraced[0]["metrics"]:
            vals = [r["metrics"][k]["value"] for r in untraced if k in r["metrics"]]
            print(f"    {k:28s} {statistics.median(vals):12.4f} {untraced[0]['metrics'][k]['unit']}")
        figs = defaultdict(list)
        for r in untraced:
            for k, v in r["figures"].items():
                figs[k].append((v["value"], v["samples"]))
        for k, vs in sorted(figs.items()):
            if not k.startswith("query."):
                print(f"    {k:28s} {statistics.median(v for v, _ in vs):12.4f}"
                      f"   (median of {len(vs)} runs" +
                      (f", {vs[0][1]} samples in each)" if vs[0][1] > 1 else ")"))
    if not traced:
        print("  no traced run on record (run.py --trace 1)")
        return
    rec = json.load(open(traced[-1]))
    print(f"  traced run: seed {rec['seed']}, {os.path.basename(traced[-1])}")
    for spans in rec["spans"][:1]:
        wall, st = self_times(spans)
        print(f"  self time inside the round ({wall:.0f} ms wall):")
        for name, ms in sorted(st.items(), key=lambda kv: -kv[1]):
            print(f"    {name:34s} {ms:10.1f} ms  {100 * ms / wall:5.1f}%")
        print(f"    {'(sum)':34s} {sum(st.values()):10.1f} ms  {100 * sum(st.values()) / wall:5.1f}%")
    print("  per-layer metrics:")
    for k, v in rec["metrics"].items():
        print(f"    {k:40s} {v['value']:16.4f} {v['unit']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    a = ap.parse_args()
    names = [w["name"] for w in json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))["workloads"]]
    for w in ([a.workload] if a.workload else names):
        report(w)


if __name__ == "__main__":
    main()
