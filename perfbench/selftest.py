#!/usr/bin/env python3
"""Self-test of the benchmark's checks and metric names.

Shows that each output check accepts a correct output and rejects a
perturbed one (the JVM-side checks on real engine output, via
perfbench.SelfTest; the DuckDB oracle check here), and that the metric
names the benchmark prints equal those in BENCHMARK.json.

Usage (from the repository root): ``python3 perfbench/selftest.py``
"""
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # nothing written beside the sources
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def oracle_cases(tmp):
    """(name, reason for the correct output, reason for the perturbed one)."""
    inp = os.path.join(tmp, "input")
    os.makedirs(inp)
    pq.write_table(pa.table({"k": [1, 2, 2, 3], "v": [0.5, 1.5, 2.5, 3.5]}),
                   os.path.join(inp, "t.parquet"))
    sql = "SELECT k, round(sum(v), 6) AS s FROM t GROUP BY k"
    cases = []
    outputs = {
        "good": {"s": [4.0, 0.5, 3.5], "k": [2, 1, 3]},  # columns and rows in another order
        "value": {"k": [1, 2, 3], "s": [0.5, 4.0, 3.6]},
        "row": {"k": [1, 2], "s": [0.5, 4.0]},
        "column": {"k": [1, 2, 3], "total": [0.5, 4.0, 3.5]},
    }
    for name, cols in outputs.items():
        d = os.path.join(tmp, name)
        os.makedirs(d)
        pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))
    d = os.path.join(tmp, "decimal")
    os.makedirs(d)
    pq.write_table(pa.table({"k": pa.array([1, 2, 3]),
                             "s": pa.array([0.5, 4.0, 3.5]).cast(pa.decimal128(10, 2))}),
                   os.path.join(d, "part-0.parquet"))
    cache = os.path.join(tmp, "cache")
    good = oracle.check(os.path.join(tmp, "good"), inp, sql, cache)
    for bad in ("value", "row", "column", "decimal"):
        cases.append((f"oracle ({bad})", good,
                      oracle.check(os.path.join(tmp, bad), inp, sql, cache)))
    return cases


def main():
    misses = 0
    spec = run.benchmark_spec()
    os.makedirs(build.OUT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=build.OUT)
    try:
        for name, ok, bad in oracle_cases(tmp):
            passed = ok is None and bad is not None
            misses += not passed
            print(f"{'ok  ' if passed else 'MISS'} {name}: accepts real output ({ok or 'accepted'});"
                  f" rejects perturbed ({bad or 'ACCEPTED'})")
        classpath, _ = build.build()
        cmd = (["java"] + run.JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp",
               os.pathsep.join(classpath), "perfbench.SelfTest", "--work", tmp])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, cwd=tmp, timeout=600)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(l for l in lines if not l.startswith("per-layer metrics:")))
        if proc.returncode != 0:
            misses += 1
        jvm_names = next((l.split(":", 1)[1].strip().split(",") for l in lines
                          if l.startswith("per-layer metrics:")), [])
        for kind, printed in (("end_to_end", run.END_TO_END), ("per_layer", jvm_names)):
            declared = [m["name"] for m in spec[kind]]
            same = sorted(printed) == sorted(declared)
            misses += not same
            print(f"{'ok  ' if same else 'MISS'} {kind} metric names printed == BENCHMARK.json"
                  + ("" if same else f": printed {sorted(printed)}, declared {sorted(declared)}"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("self-test", "passed" if misses == 0 else f"failed ({misses} misses)")
    sys.exit(1 if misses else 0)


if __name__ == "__main__":
    main()
