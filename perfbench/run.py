#!/usr/bin/env python3
"""Repo benchmark: one workload per call, one JSON result line at the end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repo root. It builds the library and the harness from
source with sbt (skipped when nothing changed since the last build), runs
the harness JVM against inputs made from --seed, checks the outputs, and
prints {"correct", "attempted", "failed", "metrics"} as its last stdout
line. With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones, the trace spans are written to
.bench_build/traces/, and the tracing overhead is reported against the
untraced runs of the same sources and --seconds (one is made if fewer than
3 exist).
Workloads, metric meanings and layer targets: perfbench/README.md and
perfbench/metrics.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
import gen_tables  # noqa: E402  (this script's directory is on sys.path)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdc_lag_1k", "query_pack")
# A call must end within 180 s (plus the build on a fresh checkout); every
# JVM gets what is left of that, so a traced call's extra runs stay inside.
CALL_BUDGET_S = 172
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE = 0.0  # set in main() once the build is done
# Untraced runs of the same sources and --seconds a traced run needs in the
# history before it compares against them instead of making its own.
HISTORY_MIN = 3
# The metric each workload's tracing overhead is judged on.
PRIMARY = {"cdc_lag_1k": "latency_p50_ms", "query_pack": "throughput_per_s"}


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest() -> str:
    """Digest of everything the build reads, to skip unchanged rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
             os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or \
                    "resources" in p:
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def history_path(workload: str, seconds: int) -> str:
    """Where the untraced runs of this workload, these sources (library,
    harness and this directory's scripts) and this --seconds are kept."""
    h = hashlib.sha256(sources_digest().encode())
    for name in sorted(os.listdir(HERE)):
        if name.endswith((".py", ".json")):
            with open(os.path.join(HERE, name), "rb") as f:
                h.update(name.encode() + f.read())
    return os.path.join(BUILD, "history",
                        f"{workload}-s{seconds}-{h.hexdigest()[:16]}.jsonl")


def build() -> str:
    """Compile library + harness; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building library and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false",
             f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = [ln for ln in r.stdout.splitlines()
          if ln and not ln.startswith("[") and os.pathsep in ln]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1]


def run_jvm(cp: str, workload: str, seed: int, seconds: int, trace: bool,
            work: str, data: str = None) -> dict:
    java_tmp = os.path.join(work, "java-tmp")
    os.makedirs(java_tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # A fixed-size heap and the parallel collector: on a 4-vCPU host, three
    # query_pack runs of one seed differed by up to 1.26x with the default
    # (G1, growing heap) and by up to 1.07x with these.
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={java_tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--cores", str(len(os.sched_getaffinity(0)))]
    if data:
        cmd += ["--data", data]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    # set-up (setup_s) is timed from here: the JVM start
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, cwd=work)
        try:
            p.wait(timeout=max(10.0, DEADLINE - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    res = os.path.join(work, "result.json")
    shutil.copy(log_path, os.path.join(BUILD, f"last-{workload}.log"))
    if p.returncode != 0 or not os.path.exists(res):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{workload} JVM exited with {p.returncode}")
    with open(res) as f:
        return json.load(f)


def oracle_failures(data: str, results: str) -> int:
    """Hash-compare the pack's results with the DuckDB oracle using the
    repo's tools/compare.py; returns the number of failing queries."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        data, results], capture_output=True, text=True,
                       timeout=300)
    bad = [ln for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
    ok = [ln for ln in r.stdout.splitlines() if ln.startswith("OK")]
    for ln in bad:
        log(f"oracle: {ln}")
    if r.returncode not in (0, 1) or not (ok or bad):
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        fail("oracle compare did not run")
    return len(bad)


def run_once(cp: str, args, trace: bool, tag: str) -> dict:
    """One JVM run of the workload, its outputs checked; returns the
    harness result with oracle failures folded in."""
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = None
        if args.workload == "query_pack":
            data = os.path.join(work, "data")
            gen_tables.main(data, args.seed, 0.01)
        r = run_jvm(cp, args.workload, args.seed, args.seconds, trace,
                    work, data)
        if data:
            r["failed"] += oracle_failures(data, os.path.join(work, "results"))
        if trace:
            dst = os.path.join(BUILD, "traces")
            os.makedirs(dst, exist_ok=True)
            for name in ("trace.jsonl", "trace_self_s.json"):
                out = os.path.join(dst, f"{args.workload}-seed{args.seed}-{name}")
                shutil.copy(os.path.join(work, name), out)
                log(f"trace: {out}")
        return r
    finally:
        shutil.rmtree(work, ignore_errors=True)


def remember(history: str, r: dict) -> None:
    """Keep a correct untraced run's end-to-end figures for traced runs."""
    if r["failed"] == 0:
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "a") as f:
            f.write(json.dumps(r["end_to_end"]) + "\n")


def recall(history: str) -> list:
    if not os.path.exists(history):
        return []
    with open(history) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) and
            os.path.isfile(os.path.join(ROOT, "tools", "compare.py"))):
        fail(f"{ROOT} is not a checkout of the repo (no build.sbt, src/, tools/)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        layer_spec = json.load(f)
    cp = build()
    # the call budget is timed from here: a (re)build happens once per
    # checkout
    global DEADLINE
    DEADLINE = time.time() + CALL_BUDGET_S
    r = run_once(cp, args, bool(args.trace), "main")
    attempted, failed = r["attempted"], r["failed"]
    history = history_path(args.workload, args.seconds)
    if args.trace:
        values = dict(r["layers"])
        # untraced figures: earlier untraced runs of the same sources and
        # --seconds when there are enough of them, else one untraced run now
        untraced = recall(history)
        if len(untraced) < HISTORY_MIN:
            plain = run_once(cp, args, False, "untraced")
            attempted += plain["attempted"]
            failed += plain["failed"]
            remember(history, plain)
            untraced = [plain["end_to_end"]]
        key = PRIMARY[args.workload]
        traced_v = r["end_to_end"][key]
        plain_v = statistics.median(e[key] for e in untraced)
        lower = next(m["better"] for m in spec["end_to_end"]
                     if m["name"] == key) == "lower"
        values["bench.trace_overhead_frac"] = \
            (traced_v - plain_v) / plain_v if lower else (plain_v - traced_v) / plain_v
        values["bench.failed_frac"] = r["failed"] / max(1, r["attempted"])
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name not in values:
                if args.workload in layer_spec[name]["workloads"]:
                    fail(f"harness did not report {name}")
                values[name] = 0.0  # layer not exercised by this workload
            metrics[name] = {"value": values[name], "unit": m["unit"]}
    else:
        remember(history, r)
        metrics = {m["name"]: {"value": r["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for k, v in sorted(r.get("checks", {}).items()):
        log(f"check {k} = {v}")
    log("host probes: " + ", ".join(f"{k} = {v:.3f}" for k, v in sorted(r["layers"].items())
                                    if k.startswith("host.")))
    # one event can fail several checks; failures count operations
    failed = min(failed, attempted)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
