#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the repository and
the benchmark with sbt (offline) into the checkout; later runs reuse that
build until a source file changes. Every run then starts one JVM
(perfbench.Main) that sets up a Spark session, runs the workload, checks
its outputs and prints its metrics. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Nothing but the build and
the generated query data outlives a run: each run works in its own empty
scratch directory under perfbench/.work and removes it at the end.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
JAVA_ARGS = os.path.join(BENCH, "target", "bench-java-args.txt")

# The metrics of the final JSON line, as BENCHMARK.json lists them. The
# report lines print more: peak_rss_mb, and the layer times that are
# structurally zero on one workload (README.md).
E2E = [("setup_s", "s"), ("total_s", "s"), ("op_p50_ms", "ms")]
LAYER = [
    "sources.xlsx_rows", "sources.pdf_calls", "sources.docx_calls",
    "sources.extract_bytes_in", "sources.extract_empty_frac",
    "engine.patients_dup_drop_frac", "engine.watcher_files_listed",
    "engine.documents_resolved_frac", "engine.txlog_versions",
    "engine.txlog_files_written", "engine.txlog_bytes_written",
    "engine.txlog_write_amp", "query.construct_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.actions",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_overhead_s",
    "spark.idle_core_frac", "spark.task_busy_s", "spark.task_cpu_s",
    "spark.task_gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.peak_exec_mem_bytes",
]
WORKLOADS = ("etl", "query_breadth", "query_heavy")

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("_amp"):
        return "ratio"
    return "count"


def fail(msg, code=1):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def run(cmd, cwd, timeout, log, env=None):
    """Run cmd in its own process group, output to log; kill the group and
    wait for it on timeout. Returns (exit code, stdout text)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                             env=env, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"{cmd[0]} timed out after {timeout} s (log: {log})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def sources():
    """Every file whose change requires a rebuild."""
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                yield os.path.join(d, f)


def ensure_build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no repository build next to perfbench/ (run from a full checkout)", 2)
    if os.path.isfile(JAVA_ARGS):
        built = os.path.getmtime(JAVA_ARGS)
        if all(os.path.getmtime(f) <= built for f in sources() if os.path.exists(f)):
            return
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    log = os.path.join(WORK, "logs", "build.log")
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                     "-Dsbt.override.build.repos=true", "writeJavaArgs"],
                    BENCH, BUILD_TIMEOUT_S, log, env)
    with open(log, "a") as f:
        f.write(out)
    if code != 0 or not os.path.isfile(JAVA_ARGS):
        fail(f"build failed (log: {os.path.join(WORK, 'logs', 'build.log')})", 3)
    print(f"[perfbench] built in {time.time() - t0:.1f} s")


def clean_stale_scratch():
    """Remove the scratch directories of runs that are no longer alive."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        if d.startswith("run-") and d[4:].isdigit():
            try:
                os.kill(int(d[4:]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--freeze", action="store_true",
                    help="print the hashes of every frozen query instead of checking")
    a = ap.parse_args()
    # turn SIGTERM into an exception, so the JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    ensure_build()
    clean_stale_scratch()
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    with open(JAVA_ARGS) as f:
        java_args = f.read().splitlines()
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"]
    cmd += java_args + ["perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--scratch", scratch,
            "--cores", str(cores)]
    if a.freeze:
        cmd.append("--freeze")
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        code, out = run(cmd, ROOT, 900 if a.freeze else JVM_TIMEOUT_S, log)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    tagged = {}
    for line in out.splitlines():
        tag, _, rest = line.partition(" ")
        if tag in ("PERFBENCH_E2E", "PERFBENCH_LAYER", "PERFBENCH_OUTCOME"):
            tagged[tag] = json.loads(rest)
        elif line.startswith("[perfbench]") or line.startswith("PERFBENCH_HASH"):
            print(line)
    if code != 0 or "PERFBENCH_OUTCOME" not in tagged:
        fail(f"benchmark JVM exited with {code} (log: {log})")
    if a.freeze:
        return

    e2e = tagged.get("PERFBENCH_E2E", {})
    outcome = tagged["PERFBENCH_OUTCOME"]
    saved = os.path.join(WORK, f"untraced-{a.workload}.json")
    if a.trace == 0:
        with open(saved, "w") as f:
            json.dump(e2e, f)
        wanted, values = [(n, u) for n, u in E2E], e2e
    else:
        if os.path.isfile(saved):
            with open(saved) as f:
                base = json.load(f)
            for n, u in E2E:
                if n in base and n in e2e:
                    d = e2e[n] - base[n]
                    rel = d / base[n] * 100 if base[n] else float("nan")
                    print(f"[perfbench] tracing overhead {n}: {e2e[n]:.4f} traced - "
                          f"{base[n]:.4f} untraced = {d:+.4f} {u} ({rel:+.1f}%)")
        wanted, values = [(n, layer_unit(n)) for n in LAYER], tagged.get("PERFBENCH_LAYER", {})

    missing = [n for n, _ in wanted if n not in values]
    metrics = {n: {"value": values[n], "unit": u} for n, u in wanted if n in values}
    correct = bool(outcome["correct"]) and not missing
    if missing:
        print(f"[perfbench] missing metrics: {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": int(outcome["attempted"]),
                      "failed": int(outcome["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
