#!/usr/bin/env python3
"""graft benchmark: three workloads through graft's production faces.

  python3 perfbench/run.py --workload <validate_bulk|validate_incremental|curate>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the benchmark from source
(perfbench/build.py), starts one JVM running Spark on local[nproc], sets
the workload up, runs its operations in a closed loop with
one client for --seconds, checks every operation's output against an
independent DuckDB computation (perfbench/check.py) and prints, as the
last line of standard output, one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (every other operation traced; the overhead is reported).
See perfbench/README.md for the workloads, metrics and layer map.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ("validate_bulk", "validate_incremental", "curate")


def tail_stat(walls):
    """The highest percentile with at least 10 operations beyond it
    (the maximum when fewer than 11 operations ran), and that percentile."""
    s = sorted(walls)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(res):
    ops = res["ops"]
    walls = [o["wall_s"] for o in ops]
    return {
        "setup_s": (res["session_s"] + res["prepare_s"] + res["warm_s"], "s"),
        "rows_per_s": (statistics.median(o["new_rows"] / o["wall_s"] for o in ops), "rows/s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_cpu_s": (statistics.median(o["cpu_s"] for o in ops), "s"),
    }


def mem_total_gb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return None


def run_jvm(args, work, classpath):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = build.java_cmd(classpath, work, *build.runtime_flags()) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--docs", build.DOCS]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                env=build.spark_env(work))
        try:
            code = proc.wait(timeout=args.seconds + 130)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:  # the log without stack frames
            lines = [x for x in f if not x.lstrip().startswith("at ")]
        sys.stderr.write("".join(lines[-60:]))
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    classpath = build.build()
    build_s = time.time() - t0
    base = build.OUT
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t1 = time.time()
        res = run_jvm(args, work, classpath)
        t2 = time.time()
        failures = check.check_run(res, base)
        t3 = time.time()
        print(f"timing: jvm {t2 - t1:.1f} s, check {t3 - t2:.1f} s", file=sys.stderr)
        if args.trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res["ops"])
    failed = len({f[0] for f in failures})
    for op_id, what in failures[:20]:
        print(f"check failed: op {op_id}: {what}")
    tail, pct = tail_stat([o["wall_s"] for o in res["ops"]])
    if args.trace:
        layers = res["layers"]
        metrics = {}
        for name, unit in check.per_layer_units().items():
            metrics[name] = {"value": layers.get(name, 0.0), "unit": unit}
        print("self time per span (s/op): " + json.dumps(layers.get("trace.self_s", {}), sort_keys=True))
        print(f"tracing overhead: traced op_p50_s {layers['trace.op_p50_traced_s']:.4f} vs "
              f"untraced {layers['trace.op_p50_untraced_s']:.4f} "
              f"({100 * layers['trace.overhead_frac']:+.1f}%)")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(res).items()}
    print(f"workload {args.workload} seed {args.seed}: {attempted} ops in {res['measured_s']:.1f} s "
          f"(closed loop, one client); op_tail_s {tail:.4f} s (p{pct:.1f}); "
          f"failed_frac {failed / max(1, attempted):.4f} ({failed}/{attempted}); "
          f"peak_rss_mb {res['peak_rss_mb']:.1f} MB; build {build_s:.1f} s")
    print(f"set-up: session {res['session_s']:.2f} s, input generation {res['prepare_s']:.2f} s, "
          f"warm-up {res['warm_s']:.2f} s; "
          "op wall s: " + ", ".join(f"{o['wall_s']:.2f}" for o in res["ops"]))
    print("inputs: " + json.dumps({k: v for k, v in res["inputs"].items()
                                   if k not in ("oracle_sql", "documents_glob")}, sort_keys=True))
    print("environment: " + json.dumps(dict(res["env"], mem_total_gb=mem_total_gb(), page_cache=(
        "the inputs are written by the same process just before they are read and are far "
        "smaller than RAM, so scans read the OS page cache: scan times measure decode, not "
        "the disk")), sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
