#!/usr/bin/env python3
"""Run-to-run spread and agreement of the end-to-end metrics.

    python3 perfbench/steady.py --seeds 1-10 [--sets 2] [--workload corpus_batch ...]

Runs the benchmark once per seed and workload (tracing off), `--sets` times
over the same seeds, then prints, per set, workload and end-to-end metric of
BENCHMARK.json, the median over the runs and the spread: the distance
between the first and third quartile (`statistics.quantiles(values, n=4)`)
as a share of the median. A spread at or above a third of the metric's
bound is flagged. With two or more sets, each later set's median is
compared with the first set's: it is flagged when it is worse by more than
the bound, and the relative difference is printed either way. Exits 1 if
any run fails or anything is flagged.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += range(int(a), int(b or a) + 1)
    return out


def run_set(w, seed_list, seconds, save, tag):
    """One run per seed; returns {metric: [values]} and whether all passed."""
    values, ok = {}, True
    for s in seed_list:
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                            "--seconds", str(seconds), "--trace", "0"],
                           capture_output=True, text=True, cwd=HERE.parent)
        if save:
            Path(save).mkdir(parents=True, exist_ok=True)
            Path(save, f"{tag}{w}-{s}.out").write_text(r.stdout)
        if r.returncode != 0 or not r.stdout.strip():
            print(f"{tag}{w} seed {s}: exit {r.returncode}: {r.stderr.strip().splitlines()[-1:]}", flush=True)
            ok = False
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"{tag}{w} seed {s}: {res['failed']} of {res['attempted']} ops failed", flush=True)
            ok = False
        for m, v in res["metrics"].items():
            values.setdefault(m, []).append(v["value"])
        print(f"{tag}{w} seed {s}: " + " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
    return values, ok


def main():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workload", action="append", help="default: every workload of BENCHMARK.json")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--save", help="directory to keep each run's stdout in")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    spec = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for w in workloads:
        medians = []
        for k in range(a.sets):
            tag = f"set{k + 1} " if a.sets > 1 else ""
            values, passed = run_set(w, seeds(a.seeds), a.seconds, a.save, tag)
            ok &= passed
            medians.append({})
            for m, bound in ((m, spec[m]["bound"]) for m in spec):
                vs = values.get(m, [])
                if len(vs) < 2:
                    continue
                med = statistics.median(vs)
                q = statistics.quantiles(vs, n=4)
                spread = (q[2] - q[0]) / med if med else 0.0
                medians[k][m] = med
                flag = spread >= bound / 3
                ok &= not flag
                line = f"  {tag}{w:<14} {m:<18} median {med:<12.5g} spread {spread:6.3f}  (bound {bound})"
                if k > 0 and m in medians[0] and medians[0][m]:
                    diff = med / medians[0][m] - 1
                    worse = diff > bound if spec[m]["better"] == "lower" else -diff > bound
                    ok &= not worse
                    line += f"  vs set1 {diff:+.3f}{'  WORSE' if worse else ''}"
                print(line + ("  UNSTEADY" if flag else ""), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
