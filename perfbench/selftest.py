#!/usr/bin/env python3
"""Self-test of the benchmark harness at a small scale (25 documents).

    python3 perfbench/selftest.py

Runs the harness's own checks (a corrupted output row must fail the
output check; the resume snapshot must leave the seeded pending buckets
and one tombstone), then runs every workload with --trace 0 and --trace 1
and checks that each metric BENCHMARK.json names is printed with its unit.
Exits 1 on any failure.
"""
import json
import os
import subprocess
import sys

import run

SCALE = "25"


def main():
    os.environ["PERFBENCH_BASE_DOCS"] = SCALE
    failures = []
    cp = run.build()
    work = os.path.join(run.WORK, "selftest")
    run.shutil.rmtree(work, ignore_errors=True)
    rec = run.run_jvm(cp, "extract_cold", 7, 1, "selftest", run.SLOTS, work,
                      run.time.monotonic() + run.RUN_TIMEOUT_S)
    for line in rec["selftest"]:
        print(line)
        if not line.startswith("ok "):
            failures.append(line)

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]] + ["extract_resume"]
    for workload in dict.fromkeys(workloads):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace)],
                cwd=run.ROOT, capture_output=True, text=True)
            name = f"{workload} --trace {trace}"
            if proc.returncode != 0:
                failures.append(f"{name}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"]:
                failures.append(f"{name}: output check failed")
            for m in spec[kind]:
                got = result["metrics"].get(m["name"])
                printed = any(l.startswith(f"{m['name']}: ") and l.endswith(f" {m['unit']}")
                              for l in lines[:-1])
                if got is None or got.get("unit") != m["unit"] or not printed \
                        or not isinstance(got.get("value"), (int, float)):
                    failures.append(f"{name}: metric {m['name']} [{m['unit']}] missing: {got}")
            print(f"{'ok' if not any(f.startswith(name) for f in failures) else 'FAIL'} {name}")
    for f in failures:
        print("FAIL " + f)
    print("selftest: " + ("passed" if not failures else f"{len(failures)} failure(s)"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
