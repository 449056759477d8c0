#!/usr/bin/env python3
"""Summarize traced benchmark runs layer by layer.

    python3 perfbench/run.py --workload search_serve --trace 1 --spans t.ndjson
    python3 perfbench/run.py --workload search_serve --trace 0 > plain.out
    python3 perfbench/summarize.py t.ndjson --untraced plain.out

Reads the span/job NDJSON a traced run writes (several files may be given)
and prints, per workload:

  - per layer: self time, Spark jobs, driver-only time and bytes read,
    shuffled and spilled, each per op. A job belongs to the innermost span
    that was open when it started (exact with one client thread);
  - per span name: calls, wall time per call, jobs per call;
  - the share of op wall time inside Spark jobs versus driver-only time;
  - a decomposition check: each op's child spans plus its own residual
    must sum to its wall time within 10%;
  - tracing overhead: traced op p50 against the untraced run's op_p50_ms,
    when `--untraced` names that run's saved stdout.

Exits 1 if any op fails the decomposition check.
"""
import argparse
import collections
import json
import statistics
import sys


def union(iv):
    """Total length covered by a list of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def load(paths):
    by_wl = collections.defaultdict(lambda: {"spans": [], "jobs": [], "run": None})
    for p in paths:
        with open(p) as f:
            for line in f:
                r = json.loads(line)
                w = by_wl[r["workload"]]
                if r["type"] == "span":
                    w["spans"].append(r)
                elif r["type"] == "job":
                    w["jobs"].append(r)
                else:
                    w["run"] = r
    return by_wl


def summarize(name, d, untraced_p50):
    spans, jobs = d["spans"], d["jobs"]
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    ops = sorted(kids[0], key=lambda s: s["start_ms"])
    n_ops = max(1, len(ops))

    # innermost span open at each job's start
    def innermost(t, within):
        for s in within:
            if s["start_ms"] - 1 <= t <= s["end_ms"] + 1:
                return innermost(t, kids[s["id"]]) or s
        return None

    layer = collections.defaultdict(lambda: collections.Counter())
    per_name = collections.defaultdict(lambda: collections.Counter())
    for s in spans:
        ch = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"])) for c in kids[s["id"]]]
        wall = s["end_ms"] - s["start_ms"]
        layer[s["layer"]]["self_ms"] += max(0.0, wall - union([c for c in ch if c[1] > c[0]]))
        per_name[s["name"]]["calls"] += 1
        per_name[s["name"]]["wall_ms"] += wall
    for j in jobs:
        s = innermost(j["start_ms"], ops)
        if s is None:
            continue
        c = layer[s["layer"]]
        c["jobs"] += 1
        c["job_ms"] += max(0, j["end_ms"] - j["start_ms"])
        for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "run_ms"):
            c[k] += j[k]
        per_name[s["name"]]["jobs"] += 1

    # jobs versus driver-only time, and the decomposition check
    job_ms = drv_ms = wall_ms = 0.0
    bad = []
    for op in ops:
        w = op["end_ms"] - op["start_ms"]
        iv = [(max(j["start_ms"], op["start_ms"]), min(max(j["end_ms"], j["start_ms"] + 0.5), op["end_ms"]))
              for j in jobs if op["start_ms"] - 1 <= j["start_ms"] <= op["end_ms"] + 1]
        u = union([x for x in iv if x[1] > x[0]])
        job_ms += u
        drv_ms += w - u
        wall_ms += w
        ch = kids[op["id"]]
        residual = w - union([(c["start_ms"], c["end_ms"]) for c in ch])
        parts = sum(c["end_ms"] - c["start_ms"] for c in ch) + residual
        if w > 0 and abs(parts - w) > 0.10 * w:
            bad.append((op["id"], op["name"], round(w, 1), round(parts, 1)))

    print(f"== {name}: {len(ops)} ops, op wall {wall_ms / n_ops:.1f} ms/op")
    print(f"   in Spark jobs {100 * job_ms / max(wall_ms, 1e-9):.1f}%  driver-only {100 * drv_ms / max(wall_ms, 1e-9):.1f}%"
          f"  ({job_ms / n_ops:.1f} vs {drv_ms / n_ops:.1f} ms/op)")
    print(f"   {'layer':<10} {'self ms/op':>10} {'jobs/op':>8} {'job ms/op':>10} {'exec ms/op':>10} "
          f"{'in B/op':>10} {'shufR B/op':>11} {'shufW B/op':>11} {'spill B/op':>11}")
    for lname, c in sorted(layer.items(), key=lambda kv: -kv[1]["self_ms"]):
        print(f"   {lname:<10} {c['self_ms'] / n_ops:>10.1f} {c['jobs'] / n_ops:>8.2f} {c['job_ms'] / n_ops:>10.1f} "
              f"{c['run_ms'] / n_ops:>10.1f} {c['input_bytes'] / n_ops:>10.0f} {c['shuffle_read_bytes'] / n_ops:>11.0f} "
              f"{c['shuffle_write_bytes'] / n_ops:>11.0f} {c['spill_bytes'] / n_ops:>11.0f}")
    print(f"   {'span':<28} {'calls':>6} {'ms/call':>9} {'jobs/call':>9}")
    for sname, c in sorted(per_name.items(), key=lambda kv: -kv[1]["wall_ms"]):
        print(f"   {sname:<28} {c['calls']:>6} {c['wall_ms'] / c['calls']:>9.1f} {c['jobs'] / c['calls']:>9.2f}")
    if bad:
        print(f"   DECOMPOSITION CHECK FAILED on {len(bad)} ops, e.g. {bad[:3]}")
    else:
        print(f"   decomposition check: child spans + residual = op wall within 10% on all {len(ops)} ops")
    traced = d["run"]["op_p50_ms"] if d["run"] else statistics.median([o["end_ms"] - o["start_ms"] for o in ops] or [0])
    if untraced_p50:
        print(f"   tracing overhead: traced op p50 {traced:.1f} ms vs untraced {untraced_p50:.1f} ms "
              f"({100 * (traced - untraced_p50) / untraced_p50:+.1f}%)")
    return not bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ndjson", nargs="+")
    ap.add_argument("--untraced", action="append", default=[],
                    help="saved stdout of a --trace 0 run (repeatable, matched by workload)")
    a = ap.parse_args()
    untraced = {}
    for p in a.untraced:
        with open(p) as f:
            lines = [json.loads(l) for l in f if l.startswith("{")]
        info = next((l for l in lines if "workload" in l), None)
        if info and lines:
            untraced[info["workload"]] = lines[-1]["metrics"]["op_p50_ms"]["value"]
    ok = True
    for name, d in sorted(load(a.ndjson).items()):
        ok &= summarize(name, d, untraced.get(name))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
