"""Benchmark entry point for the CDC tailer, its rollup consumer and readers.

    python3 perfbench/run.py --workload drip --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the seeded inputs once per seed
(cached under ``.perfbench_cache/``), then runs the workload in a fresh
child process with its own scratch directory under ``.perfbench_run/``,
removed afterwards. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run also writes its spans to ``.perfbench_out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from workloads import WORKLOADS, datagen_digest, datagen_params  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench_cache")
RUNS = os.path.join(ROOT, ".perfbench_run")
OUT = os.path.join(ROOT, ".perfbench_out")
CACHE_KEEP = 24  # seeded input sets kept per checkout (bulk's take 60 MB each)
CHILD_TIMEOUT_S = 150
# memory pinned for a 15 GB host shared with other work (session defaults
# ask for 16g heap + 8g off-heap)
CHILD_ENV = {"SPARK_GRAFT_DRIVER_MEM": "2g", "SPARK_GRAFT_OFFHEAP": "1g"}


def ensure_inputs(workload: str, seed: int) -> str:
    """Seeded base + change log, generated once per (datagen params, seed)."""
    d = os.path.join(CACHE, f"{workload}-{datagen_digest(workload)}-s{seed}")
    if os.path.exists(os.path.join(d, "_DONE")):
        os.utime(d)
        return d
    sys.path.insert(0, ROOT)
    from bigquery_etl_fork_spark import datagen

    p = datagen_params(workload)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_dataset(
        tmp,
        n_docs=p["n_docs"],
        n_events=p["epoch_events"] * p["n_epochs"],
        n_epochs=p["n_epochs"],
        seed=seed,
        hot_frac=p["hot_frac"],
        hot_mass=p["hot_mass"],
        insert_frac=p["insert_frac"],
        min_len=p["min_len"],
        max_len=p["max_len"],
    )
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    olds = sorted(
        (os.path.join(CACHE, n) for n in os.listdir(CACHE) if ".tmp" not in n),
        key=os.path.getmtime,
    )
    for old in olds[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if os.path.isfile(os.path.join(dp, f))
    )


def stop_group(proc: subprocess.Popen, grace_s: float = 30.0) -> None:
    """Wait for every process of the child's session (the JVM included) to
    end; kill what is left after ``grace_s``."""
    deadline = time.time() + grace_s
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            deadline = time.time() + 5
        time.sleep(0.1)


def run_child(args, data: str, trace: int, out: str, trace_out: str | None) -> dict | None:
    run = os.path.join(RUNS, f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run, sub), exist_ok=True)
    env = dict(
        os.environ,
        **CHILD_ENV,
        PERFBENCH_T0=repr(time.time()),
        SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"),
        TMPDIR=os.path.join(run, "tmp"),
        PYTHONPATH=ROOT,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--data", data, "--run-dir", run, "--out", out,
    ]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    if os.path.exists(out):
        os.remove(out)
    err_path = os.path.join(run, "stderr.log")
    proc = None
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                text=True, start_new_session=True,
            )
            try:
                stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                stdout, _ = proc.communicate()
                print(f"# child timed out after {CHILD_TIMEOUT_S} s", file=sys.stderr)
        sys.stdout.write(stdout)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(err_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            return None
        with open(out) as fh:
            return json.load(fh)
    finally:
        if proc is not None:
            stop_group(proc)
        shutil.rmtree(run, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "bigquery_etl_fork_spark")):
        print("perfbench: the bigquery_etl_fork_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    for d in (CACHE, RUNS, OUT):
        os.makedirs(d, exist_ok=True)
    runs_before = dir_bytes(RUNS)
    data = ensure_inputs(args.workload, args.seed)
    stem = os.path.join(OUT, f"{args.workload}-s{args.seed}")

    untraced = None
    if args.trace:
        # the tracing overhead compares against the latest untraced run of
        # this workload in this checkout; run one first if there is none
        prior = sorted(
            (os.path.join(OUT, f) for f in os.listdir(OUT)
             if f.startswith(args.workload + "-s") and f.endswith("-untraced.json")),
            key=os.path.getmtime,
        )
        if prior:
            with open(prior[-1]) as fh:
                untraced = json.load(fh)
        else:
            untraced = run_child(args, data, 0, stem + "-untraced.json", None)
            if untraced is None:
                return 1
    res = run_child(
        args, data, args.trace, stem + ("-traced.json" if args.trace else "-untraced.json"),
        f"{os.path.join(OUT, 'trace-' + args.workload)}-s{args.seed}.json" if args.trace else None,
    )
    if res is None:
        return 1
    leak = dir_bytes(RUNS) - runs_before
    print(f"# scratch bytes left behind: {leak}")

    if args.trace:
        metrics = dict(res["per_layer"])

        def op_mean(r):
            lat = r["info"]["latencies"]
            xs = [x for v in lat.values() for x in v]
            return sum(xs) / len(xs)

        overhead = op_mean(res) / op_mean(untraced) - 1.0
        metrics["trace.overhead_frac"] = {"value": overhead, "unit": "ratio"}
        # the part of the overhead the tracer can time itself (span records
        # and job-group calls), free of run-to-run host noise
        bookkeeping = res["bookkeeping_s"] / res["info"]["loop_s"]
        metrics["trace.bookkeeping_frac"] = {"value": bookkeeping, "unit": "ratio"}
        print(f"# tracing overhead (mean op latency, traced vs untraced): {overhead:+.4f}; "
              f"span sum error {res['sum_error_s'] * 1e3:.3f} ms; "
              f"bookkeeping {res['bookkeeping_s'] * 1e3:.1f} ms")
    else:
        metrics = res["e2e"]
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
