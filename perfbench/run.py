#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ml_fit|graph_dedup>
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark (see
build.py). Each run generates its inputs from the seed, starts one JVM on
local[nproc], repeats set-up, times one cold pass and then warm passes for
``--seconds``, checks every operation's output, and writes its record
(and, when traced, its span file) under ``.bench_build/perfbench/runs/``.
With ``--trace 0`` the printed metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing written beside the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_inputs  # noqa: E402
import oracle  # noqa: E402

OUT = build.OUT
END_TO_END = ("setup_s", "cold_pass_s", "warm_pass_s", "success_rate", "heap_peak_mb")
RUN_LIMIT_S = 170  # a run, build excluded, ends within this
SETUP_REPS = 3  # input generation and JVM start are repeated like the in-JVM set-up
HEAP = "3g"

# Seeded table inputs per workload (ml_fit generates its arrays in the JVM).
TABLES = {
    "ml_fit": None,
    "graph_dedup": lambda d, seed: {**gen_inputs.trade_graph(d, seed, n_orders=20000),
                                    **gen_inputs.corpus(d, seed, n_docs=1000)},
}

# The JVM flags of the repository's sbt build (module opens Spark 4 needs
# on JDK 17, the vector module netlib's SIMD BLAS needs, code cache).
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in JDK_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{HEAP}",
    "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.retainedJobs=100",
    "-Dspark.ui.retainedStages=100",
    "-Dspark.ui.retainedTasks=5000",
    "-Dspark.sql.ui.retainedExecutions=20",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def benchmark_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return spec


def metric_names(spec, trace):
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def units(spec):
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def git_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def boot_s(classpath, cwd, env):
    """JVM start-up: the uptime a JVM with the run's flags and classpath
    reports on entering main."""
    proc = subprocess.run(["java"] + JVM_FLAGS + ["-cp", os.pathsep.join(classpath),
                                                  "perfbench.Main", "--boot"],
                          capture_output=True, text=True, cwd=cwd, env=env, timeout=60)
    if proc.returncode != 0:
        fail(f"the boot probe exited with {proc.returncode}: {proc.stderr[-2000:]}", 1)
    return float(proc.stdout.split()[-1])


def run_jvm(cmd, log_path, cwd, env, limit_s):
    """Runs the JVM to completion (or kills it at `limit_s`); returns its exit code."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd, env=env)
        try:
            return proc.wait(timeout=max(limit_s, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = benchmark_spec()
    t_start = time.monotonic()
    try:
        classpath, source_hash = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    build_s = time.monotonic() - t_start

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    os.makedirs(os.path.join(work, "tmp"))

    gen = TABLES[args.workload]
    table_rows, gen_times = {}, []
    for _ in range(SETUP_REPS if gen else 0):
        t0 = time.monotonic()
        table_rows = gen(input_dir, args.seed)
        gen_times.append(time.monotonic() - t0)
    gen_s = statistics.median(gen_times) if gen_times else 0.0

    cpus = nproc()
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                   "-cp", os.pathsep.join(classpath), "perfbench.Main",
                                   "--workload", args.workload, "--seed", str(args.seed),
                                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                                   "--input", input_dir, "--work", work, "--cpus", str(cpus)])
    # EngineConf.tuned() reads these A/B overrides; the benchmark always
    # measures the default engine config
    env = {k: v for k, v in os.environ.items() if k not in (
        "SPARK_GRAFT_SHJ_THRESHOLD", "SPARK_GRAFT_PREFER_SMJ", "SPARK_GRAFT_SERIALIZER")}
    # JVM start-up is part of set-up; like the rest of set-up it is
    # repeated, by probes, and the median of the probes and the run's own
    # JVM counts
    boots = [boot_s(classpath, work, env) for _ in range(SETUP_REPS - 1)]
    log_path = os.path.join(work, "jvm.log")
    limit = RUN_LIMIT_S - (time.monotonic() - t_start - build_s)
    code = run_jvm(cmd, log_path, work, env, limit)
    record_path = os.path.join(work, "record.json")
    if code != 0 or not os.path.exists(record_path):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("the JVM timed out" if code is None else f"the JVM exited with {code}", 1)
    with open(record_path) as fh:
        record = json.load(fh)

    # oracle checks of the first pass; later passes were checked against it
    failures = list(record["failures"])
    failed = len(failures)
    passes = len(record["passes"])
    cache = os.path.join(OUT, "oracle-cache")
    oracle_s = time.monotonic()
    for op, q in dict(record["oracle"] or {}).items():
        err = oracle.check(os.path.join(work, "out", op), input_dir, q["sql"], cache)
        if err:
            failures.append(f"{op}: oracle {q['query']}: {err}")
            failed += passes  # every pass returned these same rows
    oracle_s = time.monotonic() - oracle_s
    attempted = record["attempted"]
    failed = min(failed, attempted)

    e2e = record["end_to_end"]
    values = dict(zip(END_TO_END, (
        gen_s + statistics.median(boots + [e2e["boot_s"]]) + e2e["setup_median_s"],
        e2e["cold_pass_s"], e2e["warm_pass_s"],
        1.0 - failed / attempted, e2e["heap_peak_mb"])))
    printed = dict(record["per_layer"]) if args.trace else dict(values)
    names = metric_names(spec, args.trace)
    if sorted(printed) != sorted(names):
        fail(f"metrics {sorted(printed)} differ from BENCHMARK.json's {sorted(names)}")
    u = units(spec)
    metrics = {n: {"value": printed[n], "unit": u[n]} for n in names}
    values.update(printed)

    record.update({"git_sha": git_sha(), "source_hash": source_hash, "table_rows": table_rows,
                   "gen_s": gen_s, "gen_reps_s": gen_times, "boot_probes_s": boots,
                   "build_s": build_s, "oracle_s": oracle_s,
                   "failures": failures, "failed": failed, "metrics": values})
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{tag}-{stamp}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(runs, f"{tag}-{stamp}.spans.jsonl"))
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
