#!/usr/bin/env python3
"""Benchmark of the medallion engine: one workload, one seed, one run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 20 --trace 0

The first run builds the engine and the benchmark from source with sbt
(offline) and caches the classpath under .bench_build/; later runs reuse it
while the sources are unchanged. The run itself is one JVM
(graft.perfbench.Main). Its inputs are generated from the seed under
.bench_work/, its detail, span file and span table go to .bench_out/. The
last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, with every end_to_end metric of BENCHMARK.json (--trace 0) or
every per_layer metric (--trace 1). See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
OUT = ROOT / ".bench_out"
WORKLOADS = ("pipeline_full", "silver_incremental")
# A run must end within 180 s; the JVM gets what is left of this.
RUN_LIMIT_S = 170
# A fixed heap, touched in full at start with the parallel collector: how
# much of the heap G1 had touched when a run ended depended on its pause
# timing, and moved peak_rss_mb by 8-16% between runs. So
# peak_rss_mb is the fixed heap plus what the run holds outside it
# (metaspace, code cache, thread stacks, native and direct buffers).
JVM_HEAP = "1536m"
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-XX:MetaspaceSize=256m",
             "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing"]
# fewer glibc malloc arenas, so native memory does not depend on which
# threads happened to allocate
JVM_ENV = {"MALLOC_ARENA_MAX": "2"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first if the sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources at {ROOT} (build.sbt, src/main/scala); run from a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    cp_file = BUILD / "classpath.txt"
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp and cp_file.is_file():
            return cp_file.read_text().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = Path.home() / ".sbt" / "repositories"
        sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
        if repos.is_file():
            sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env.setdefault("SBT_OPTS", " ".join(sbt_opts))
        log = BUILD / "build.log"
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL).returncode
        lines = log.read_text(errors="replace").splitlines()
        cp = next((l.strip() for l in reversed(lines)
                   if "perfbench" in l and ".jar" in l and not l.startswith("[")), None)
        if rc != 0 or cp is None:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            die(f"build failed (sbt exit {rc}); log in {log}")
        cp_file.write_text(cp + "\n")
        (BUILD / "stamp").write_text(stamp)
        return cp


def run_jvm(cp, args, work, out, budget_s):
    cpus = len(os.sched_getaffinity(0))
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"] + JVM_FLAGS
           + [f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--out", str(out), "--cpus", str(cpus)])
    with open(out / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=dict(os.environ, **JVM_ENV), stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, start_new_session=True)
        # the JVM runs in its own process group: stop it when this script
        # is stopped, times out, or fails
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    out = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    try:
        # a run that had to build may take longer (the first one in a
        # checkout); any other run must end within RUN_LIMIT_S overall
        built = time.monotonic() - t0 > 60
        rc = run_jvm(cp, args, work, out, RUN_LIMIT_S - (0 if built else time.monotonic() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail_file = out / "detail.json"
    if rc != 0 or not detail_file.is_file():
        tail = (out / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; log in {out / 'jvm.log'}")
    detail = json.loads(detail_file.read_text())
    got = detail["metrics"]

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        v = got.get(m["name"])
        if v is None or v["value"] is None:
            if not args.trace:
                die(f"metric {m['name']} was not measured; see {detail_file}")
            v = {"value": 0, "unit": m["unit"]}  # a span this workload does not run
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}

    for f in detail["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    summary = {k: got[k]["value"] for k in ("error_rate", "host.steal_ms") if k in got}
    if args.trace:
        plain = OUT / f"{args.workload}-seed{args.seed}-trace0" / "detail.json"
        if plain.is_file():
            base = json.loads(plain.read_text())["metrics"]["op_p50_ms"]["value"]
            traced = got["op_p50_ms"]["value"]
            summary["trace_overhead"] = traced / base - 1.0
            with open(out / "span_table.txt", "a") as t:
                t.write(f"tracing overhead: op_p50_ms {traced:.1f} traced vs {base:.1f} untraced "
                        f"({100 * (traced / base - 1):+.1f}%)\n")
        summary["span_table"] = str((out / "span_table.txt").relative_to(ROOT))
    print("perfbench " + args.workload + " seed " + str(args.seed) + ": " + ", ".join(
        f"{k} {v['value']:.6g} {v['unit']}" for k, v in metrics.items())
        + "".join(f", {k} {v:.6g}" if isinstance(v, float) else f", {k} {v}"
                  for k, v in summary.items()))
    print(json.dumps({"correct": bool(detail["correct"]), "attempted": int(detail["attempted"]),
                      "failed": int(detail["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
