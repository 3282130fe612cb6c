#!/usr/bin/env python3
"""Benchmark of the extraction engine: one workload per call.

    python3 perfbench/run.py --workload extract_cold --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first call builds the engine together
with the harness (sbt, offline) into perfbench/target; later calls reuse
the build while the sources are unchanged. Each call starts one JVM with a
local[4] Spark session (two with --trace 1: the second runs the job at one
slot for the scaling ratio), writes only under perfbench/work, and prints
every metric with its unit; the last line is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(HERE, "target", "perfbench-build.json")
DIGESTS = os.path.join(HERE, "curate_digests.txt")
WORKLOADS = ("extract_cold", "extract_resume", "curate")
SLOTS = 4
XMX = "3g"
# a fixed young generation, so that every timed job runs collections and
# peak_live_heap_mb sees what the job keeps (G1 otherwise sizes it up to
# 60% of the heap, and a short job may run none)
YOUNG = "128m"
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build compiles, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source digest; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    digest = sources_digest()
    if os.path.exists(BUILD):
        with open(BUILD) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        homes = [os.path.dirname(os.path.realpath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            fail("no Spark installation: set SPARK_HOME or put its bin/ on the PATH")
        env["SPARK_HOME"] = homes[0]
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    cp = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and "classes" in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(BUILD, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def run_jvm(cp, workload, seed, seconds, mode, slots, work, deadline):
    """One Main pass, killed at `deadline` (monotonic); returns its PERFBENCH record."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    scale = [f"-Dperfbench.baseDocs={int(os.environ['PERFBENCH_BASE_DOCS'])}"] \
        if os.environ.get("PERFBENCH_BASE_DOCS") else []
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + scale + [
        f"-Xms{XMX}", f"-Xmx{XMX}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        workload, str(seed), str(seconds), mode, str(slots), work, DIGESTS]
    log_path = os.path.join(work, f"{mode}-{slots}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} {mode} pass timed out; log: {log_path}")
    recs = [l[len("PERFBENCH "):] for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not recs:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} {mode} pass failed (exit {proc.returncode}); log: {log_path}")
    with open(os.path.join(work, f"{mode}-{slots}.json"), "w") as f:
        f.write(recs[-1])
    return json.loads(recs[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except OSError:
        return None


def source_revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = os.getloadavg()[0]
    cp = build()
    cpu_start = cpu_times()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    mode = "trace" if args.trace else "measure"
    rec = run_jvm(cp, args.workload, args.seed, args.seconds, mode, SLOTS, work, deadline)
    attempted, failed = rec["attempted"], rec["failed"]
    problems = list(rec["problems"])
    job = rec["job_s"]
    facts = rec["facts"]
    lines = []
    if not job:
        fail("no timed run passed its output check: " + "; ".join(problems))

    if args.trace:
        # the 1-slot pass in its own JVM, on the same inputs and job
        one = run_jvm(cp, args.workload, args.seed, args.seconds, "scaling", 1, work, deadline)
        attempted += one["attempted"]
        failed += one["failed"]
        problems += one["problems"]
        metrics = dict(rec["per_layer"])
        samples = rec["samples"]
        task_ms = samples["extract.task_ms"]
        for name, value in (
                ("trace.overhead_ratio", statistics.median(samples["traced_job_s"])
                 / statistics.median(samples["untraced_job_s"])
                 if samples["traced_job_s"] and samples["untraced_job_s"] else None),
                ("trace.unattributed_share", statistics.median(samples["trace.unattributed_share"])
                 if samples["trace.unattributed_share"] else None),
                ("extract.task_skew", max(task_ms) / max(statistics.median(task_ms), 1.0)
                 if task_ms else None)):
            metrics[name] = {"value": value, "unit": "ratio"}
        if one["job_s"]:
            metrics["scaling_eff"] = {
                "value": statistics.median(one["job_s"]) / (SLOTS * statistics.median(job)),
                "unit": "ratio"}
        missing = [k for k, v in metrics.items() if v["value"] is None]
        for k in missing:
            problems.append(f"per-layer metric {k} was not measured")
            del metrics[k]
        for k, v in rec["context"].items():
            lines.append(f"{k}: {v['value']} {v['unit']}")
        lines.append(f"spans: {os.path.relpath(os.path.join(work, 'spans.jsonl'), ROOT)}")
    else:
        job_s = statistics.median(job)
        q1, q3 = quartiles(job)
        metrics = {
            "job_s": {"value": job_s, "unit": "s"},
            "docs_per_s": {"value": rec["docs"] / job_s, "unit": "docs/s"},
            "setup_s": {"value": rec["setup_s"], "unit": "s"},
            "peak_live_heap_mb": {"value": rec["peak_live_heap_mb"], "unit": "MB"},
        }
        lines.append(f"peak_live_heap_mb over {rec['job_collections']} collections in timed jobs")
        if rec["peak_live_heap_mb"] is None:
            problems.append("no collection ran during a timed job: peak_live_heap_mb unmeasured")
        lines.append(f"job_s samples: n={len(job)} q1={q1:.4f} median={job_s:.4f} q3={q3:.4f} "
                     f"in order: {' '.join(f'{x:.3f}' for x in job)}")
        lines.append("setup_s parts: " + " ".join(f"{k}={v:.3f}" for k, v in rec["setup_parts"].items())
                     + " warm-up jobs: " + " ".join(f"{x:.3f}" for x in rec["warmup_s"])
                     + f" (untimed restores and checks: {rec['untimed_s']:.3f} s in all)")
        for name, unit in (("golden_mismatches", "count"), ("output_files", "count"),
                           ("error_doc_share", "ratio"), ("losers", "count")):
            if facts.get(name):
                lines.append(f"{name}: {statistics.median(facts[name])} {unit}")
        if rec.get("curate_digest"):
            lines.append(f"curate_digest: {rec['curate_digest']}")

    lines.append(f"failed_run_share: {failed / attempted} ratio ({failed} of {attempted} runs)")
    for p in problems:
        lines.append(f"CHECK FAILED: {p}")
    cpu_end = cpu_times()
    steal = None if not cpu_start or not cpu_end or cpu_end[1] == cpu_start[1] \
        else (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1])
    env = {"seed": args.seed, "workload": args.workload, "trace": args.trace,
           "load_1m_start": load_start, "load_1m_end": os.getloadavg()[0],
           "cpu_steal_share": steal,
           "nproc": os.cpu_count(), "xmx": XMX, "xmn": YOUNG, "slots": SLOTS,
           "git_head": source_revision(), "sources_sha256": sources_digest(),
           "spark_conf": rec["spark_conf"]}
    with open(os.path.join(WORK, "history.jsonl"), "a") as f:
        f.write(json.dumps({"time": time.time(), "env": env, "metrics": metrics}) + "\n")
    print("env: " + json.dumps(env, sort_keys=True))
    for line in lines:
        print(line)
    for name, m in metrics.items():
        print(f"{name}: {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
