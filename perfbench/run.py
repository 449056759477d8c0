#!/usr/bin/env python3
"""Workload benchmark for graft: build, run one workload, print one JSON line.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the repo's main
sources and the benchmark (perfbench/src) with the Scala compiler shipped in
the Spark jars directory (the one build.sbt compiles against), offline, into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the classes while the sources are unchanged.

Every run works in one per-run directory under the build directory (stores,
caches, stream checkpoints, java.io.tmpdir, spark.local.dir) and removes it
at exit. The last stdout line is the result object; any fatal error prints
one `perfbench: FAILED workload=<w> phase=<phase> ...` line on stderr and
exits non-zero.

    --trace 1 --spans out.ndjson   also writes the span/job trace, which
                                   perfbench/summarize.py reads
    --selftest                     runs the benchmark's own checks instead
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("corpus_batch", "search_serve", "index_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(workload, phase, msg):
    one_line = " ".join(str(msg).split())[:400]
    print(f"perfbench: FAILED workload={workload} phase={phase} {one_line}",
          file=sys.stderr, flush=True)
    sys.exit(1)


def spark_jars():
    """The Spark jars: $SPARK_JARS_DIR, else $SPARK_HOME/jars, else the
    `unmanagedBase` directory the repo's build.sbt compiles against."""
    d = os.environ.get("SPARK_JARS_DIR")
    if not d and os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not d:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        d = m.group(1) if m else ""
    jars = sorted(Path(d).glob("*.jar")) if d else []
    if not jars:
        raise RuntimeError(f"no Spark jars under '{d}' (set SPARK_JARS_DIR)")
    return jars


def build(workload):
    """Compile src/main/scala + perfbench/src into one classes directory,
    keyed by a digest of every source file, the JDK and the jar list."""
    main_src = ROOT / "src" / "main" / "scala"
    bench_src = HERE / "src"
    srcs = sorted(main_src.rglob("*.scala")) if main_src.is_dir() else []
    if not srcs:
        fail(workload, "build", f"no Scala sources under {main_src.relative_to(ROOT)}")
    srcs += sorted(bench_src.rglob("*.scala"))
    try:
        jars = spark_jars()
    except RuntimeError as e:
        fail(workload, "build", e)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    out = build_dir / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return build_dir, out, jars
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = build_dir / "scalac-args.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", ":".join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", ":".join(map(str, jars)), f"@{argfile}"]
    t0 = time.time()
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(workload, "build", f"scalac exceeded {BUILD_TIMEOUT_S}s")
    if r.returncode != 0:
        errs = [l for l in (r.stdout + r.stderr).splitlines() if "error" in l]
        fail(workload, "build", "scalac: " + (errs[0] if errs else r.stderr[-300:]))
    (out / ".ok").write_text(f"{time.time() - t0:.1f}\n")
    # keep only the current build
    for old in build_dir.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return build_dir, out, jars


def dir_bytes(p):
    total = 0
    for root, _, files in os.walk(p):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def steal_s():
    """Host CPU time stolen from this machine so far (the 8th field of the
    cpu line in /proc/stat), in seconds; 0 where unavailable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def heap_arg():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"-Xmx{gb}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="with --trace 1: write the span/job NDJSON here")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    workload = a.workload or "selftest"

    build_dir, classes, jars = build(workload)
    run_dir = build_dir / f"run-{os.getpid()}-{int(time.time() * 1000)}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = ["java", heap_arg(), "-XX:+UseParallelGC", "-Xss16m",
           *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=WARN",
           "-cp", ":".join([str(classes)] + [str(j) for j in jars])]
    if a.selftest:
        cmd += ["graftbench.SelfTest", str(run_dir)]
    else:
        cmd += ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus), "--run-dir", str(run_dir)]
        if a.spans:
            cmd += ["--spans", str(Path(a.spans).resolve())]
    steal0, t0 = steal_s(), time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, cwd=str(run_dir), start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(workload, "op", f"JVM exceeded {RUN_TIMEOUT_S}s and was killed")
    host = {"run_wall_s": round(time.time() - t0, 1), "host_steal_s": round(steal_s() - steal0, 1)}
    tmp_left = dir_bytes(tmp)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    print(json.dumps(host))
    notes = [l for l in err.splitlines() if l.startswith("perfbench: ")]
    for l in notes:
        if not l.startswith("perfbench: FAILED"):
            print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fl = [l for l in notes if l.startswith("perfbench: FAILED")]
        if fl:
            print(fl[-1], file=sys.stderr)
            sys.exit(1)
        tail = [l for l in err.splitlines() if l.strip()][-3:]
        fail(workload, "op", f"JVM exit {proc.returncode}: " + " | ".join(tail))
    if a.selftest:
        print(lines[-1])
        return
    res = json.loads(lines[-1])
    if a.trace == 1:
        res["metrics"]["jvm.tmp_bytes_left"] = {"value": tmp_left, "unit": "bytes"}
    spec = ROOT / "BENCHMARK.json"
    if spec.exists():
        want = {m["name"]: m["unit"] for m in json.loads(spec.read_text())["per_layer" if a.trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            fail(workload, "check", f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))[:4]}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
