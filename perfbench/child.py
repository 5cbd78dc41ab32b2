"""One benchmark run, in a fresh process started by ``run.py``.

Phases: session start, one read of every input file, three bootstraps on
fresh lake roots (``setup_s`` takes their median), untimed warm-up epochs,
the timed closed loop, then untimed checks against the pandas oracle, the
space-amplification compaction and (with tracing) the event-log
attribution. The result goes to ``--out`` as JSON; a human-readable table
of every metric goes to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

import numpy as np
from pyspark.sql import functions as F

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))
# the package under test lives at the repository root, one level up
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigquery_etl_fork_spark.engine import CDCEngine, IncrementalRollup  # noqa: E402
from bigquery_etl_fork_spark.lake import LakeTable  # noqa: E402
from bigquery_etl_fork_spark.session import get_spark  # noqa: E402
from oracle import Oracle, hot_keys, norm_row, rollup_mismatches, state_mismatches  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import KEY_MIX, WORKLOADS  # noqa: E402

N_BOOTSTRAPS = 3
NUM_BUCKETS = 16
KEY = "doc_id"
MEASURES = {"n": ("count", None), "tok": ("sum", "n_tok")}
READS = ("refresh", "lookup", "scan")
PER_LAYER_UNITS = {
    "cdc.apply_self_s": "s",
    "cdc.jobs_per_epoch": "count",
    "cdc.tasks_per_epoch": "count",
    "lake.stage_delta_s": "s",
    "lake.shuffle_write_mb_per_epoch": "MB",
    "lake.commit_s": "s",
    "lake.compact_s": "s",
    "lake.compactions": "count",
    "lake.compact_bytes_rewritten": "bytes",
    "lake.files_per_epoch": "count",
    "lake.bytes_per_epoch": "bytes",
    "lake.delta_depth_mean": "files",
    "lake.read_s": "s",
    "lake.jobs_per_lookup": "count",
    "lake.read_files_kept_frac": "ratio",
    "lake.changes_s": "s",
    "rollup.refresh_self_s": "s",
    "rollup.tasks_per_refresh": "count",
    "rollup.full_recomputes": "count",
    "jvm.rss_mb_per_epoch": "MB",
}


def proc_status(pid: int, field: str) -> float:
    """A kB field of /proc/<pid>/status, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(field)


def median0(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean0(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(p / 100.0 * len(s) + 0.5)) - 1))]


def tail_pct(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it; None
    when that is below the median (fewer than 20 samples)."""
    p = 100 * (n - 10) // n
    return p if p >= 50 else None


def read_inputs(data_dir: str) -> tuple[dict[int, int], dict[int, int]]:
    """Read every input file once; return per-epoch event counts and bytes."""
    import pyarrow.parquet as pq

    events: dict[int, int] = {}
    nbytes: dict[int, int] = {}
    for dirpath, _, files in os.walk(data_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                while fh.read(1 << 20):
                    pass
            part = os.path.basename(dirpath)
            if part.startswith("epoch="):
                e = int(part.split("=", 1)[1])
                events[e] = events.get(e, 0) + pq.ParquetFile(p).metadata.num_rows
                nbytes[e] = nbytes.get(e, 0) + os.path.getsize(p)
    return events, nbytes


def live_bytes(table) -> int:
    return sum(f.get("bytes", 0) for fs in table.snapshot.buckets.values() for f in fs)


def written_since(table, from_version: int) -> dict[str, list[tuple[int, int]]]:
    """(files, bytes) each commit after ``from_version`` added, by commit op."""
    out: dict[str, list[tuple[int, int]]] = {}
    prev = {f["path"] for fs in table.snapshot_at(from_version).buckets.values() for f in fs}
    for v in range(from_version + 1, table.snapshot.version + 1):
        snap = table.snapshot_at(v)
        cur = {f["path"]: f for fs in snap.buckets.values() for f in fs}
        added = [f for p, f in cur.items() if p not in prev]
        out.setdefault(snap.commit_op, []).append(
            (len(added), sum(f.get("bytes", 0) for f in added))
        )
        prev = set(cur)
    return out


def lookup_keys(log_path: str, w: dict, seed: int, n: int = 4096) -> list[str]:
    """A seeded mix of hot keys, base keys and keys that were never written."""
    rng = np.random.default_rng(seed)
    hot = hot_keys(log_path, max(1, int(w["n_docs"] * w["hot_frac"])))
    keys = []
    for kind in rng.choice(list(KEY_MIX), size=n, p=list(KEY_MIX.values())):
        if kind == "hot":
            keys.append(hot[rng.integers(len(hot))])
        elif kind == "cold":
            keys.append(f"doc-{int(rng.integers(w['n_docs'])):012d}")
        else:
            keys.append(f"doc-x{int(rng.integers(1 << 40)):012d}")
    return keys


class Bench:
    """One workload run against the engine's public API."""

    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.base_path = os.path.join(args.data, "base_sequences.parquet")
        self.log_path = os.path.join(args.data, "change_log")
        self.lat: dict[str, list[float]] = {k: [] for k in ("epoch",) + READS}
        self.depth: list[float] = []
        self.kept_frac: list[float] = []
        self.rss: list[float] = []
        self.modes: list[str] = []
        self.looked: list[tuple[str, int, list]] = []
        self.events_timed = self.bytes_timed = 0
        self.error: str | None = None

    # ---------------- session and setup (timed as setup_s) ----------------

    def start(self) -> None:
        run = self.args.run_dir
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
            # the heap is committed at its full size from the start, so the
            # JVM's peak RSS does not depend on when the heap grew
            "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
        }
        if self.args.trace:
            os.makedirs(os.path.join(run, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        ncpu = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", master=f"local[{ncpu}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.time() - T0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        t = time.perf_counter()
        self.epoch_events, self.epoch_bytes = read_inputs(self.args.data)
        self.input_s = time.perf_counter() - t
        self.base_df = self.spark.read.parquet(self.base_path)
        self.log_df = self.spark.read.parquet(self.log_path)

    def epoch_df(self, e: int):
        return self.log_df.where(F.col("epoch") == e)

    def bootstrap(self, root: str) -> None:
        self.table = LakeTable.create(
            self.spark, os.path.join(root, "t"), self.base_df.schema,
            num_buckets=NUM_BUCKETS, properties={"key_col": KEY},
        )
        self.table.overwrite_all(self.base_df, key_col=KEY)
        self.eng = CDCEngine(
            self.spark, self.table, count_input=False,
            compact_files_per_bucket=self.w["compact_files_per_bucket"],
        )
        self.mv = None
        if self.w["rollup"]:
            self.mv = IncrementalRollup(
                self.spark, self.table, os.path.join(root, "mv"),
                group_cols=["source"], measures=MEASURES, key_col=KEY,
            )
            self.mv.refresh()

    def setup(self) -> None:
        boots = []
        for i in range(N_BOOTSTRAPS):
            root = os.path.join(self.args.run_dir, f"lake{i}")
            t = time.perf_counter()
            self.bootstrap(root)
            boots.append(time.perf_counter() - t)
            if i < N_BOOTSTRAPS - 1:
                shutil.rmtree(root)
        self.boots = boots
        self.keys = lookup_keys(self.log_path, self.w, self.args.seed)
        # untimed warm-up epochs (the first ones in a fresh JVM are slow),
        # then one read of every kind the loop times
        t = time.perf_counter()
        for e in range(1, self.w["warm_epochs"] + 1):
            self.eng.apply_epoch(e, self.epoch_df(e), est_bytes=self.epoch_bytes[e])
        if self.mv is not None:
            self.mv.refresh()
        self.lookup(self.keys[-1])
        self.scan()
        self.epoch = self.w["warm_epochs"]
        self.warm_s = time.perf_counter() - t
        self.setup_s = self.session_s + self.input_s + statistics.median(boots) + self.warm_s

    # ---------------- client operations ----------------

    def lookup(self, k: str) -> list:
        return self.table.read(keys=[k], key_col=KEY).where(F.col(KEY) == k).collect()

    def scan(self) -> None:
        self.table.read(key_col=KEY).write.format("noop").mode("overwrite").save()

    def timed(self, kind: str, fn):
        if kind in READS:
            c = self.table.delta_file_counts()
            self.depth.append(sum(c.values()) / len(c))
        with self.tracer.span("op." + kind):
            t = time.perf_counter()
            out = fn()
            self.lat[kind].append(time.perf_counter() - t)
        return out

    def apply_next_epoch(self) -> bool:
        """Apply the next epoch; True when its commit triggered compaction."""
        e = self.epoch = self.epoch + 1
        self.timed("epoch", lambda: self.eng.apply_epoch(
            e, self.epoch_df(e), est_bytes=self.epoch_bytes[e]))
        self.events_timed += self.epoch_events[e]
        self.bytes_timed += self.epoch_bytes[e]
        self.rss.append(proc_status(self.jvm_pid, "RssAnon"))
        self.live_peak = max(self.live_peak, live_bytes(self.table))
        if self.mv is not None:
            self.modes.append(self.timed("refresh", self.mv.refresh)["mode"])
        return self.table.snapshot.commit_op == "compact"

    def lookups(self, n: int) -> None:
        for _ in range(n):
            k = self.keys[len(self.looked) % len(self.keys)]
            rows = self.timed("lookup", lambda: self.lookup(k))
            st = self.table.last_read_stats
            total = st["base_files_total"] + st["delta_files_total"]
            self.kept_frac.append((st["base_files_kept"] + st["delta_files_kept"]) / max(total, 1))
            self.looked.append((k, self.epoch, rows))

    # ---------------- timed closed loop ----------------

    def loop(self) -> None:
        w, seconds = self.w, self.args.seconds
        self.tracer = tr = Tracer(self.spark, f"{self.args.workload}-s{self.args.seed}",
                                  bool(self.args.trace))
        tr.wrap(self.eng, "apply_epoch", "cdc.apply_epoch")
        for m in ("stage_delta", "commit_staged_delta", "compact_buckets", "read", "changes"):
            tr.wrap(self.table, m, f"lake.{m}")
        if self.mv is not None:
            tr.wrap(self.mv, "refresh", "rollup.refresh")
        self.start_version = self.table.snapshot.version
        self.live_peak = live_bytes(self.table)
        last_epoch = max(self.epoch_events)
        t0 = time.perf_counter()
        try:
            if w["timed_epochs"]:
                for _ in range(w["timed_epochs"]):
                    self.apply_next_epoch()
                # read rounds: every read sees the same state
                while time.perf_counter() - t0 < seconds or len(self.lat["scan"]) < w["min_rounds"]:
                    self.lookups(w["lookups_per_round"])
                    self.timed("scan", self.scan)
            else:
                cycles = 0
                while self.epoch < last_epoch:
                    compacted = self.apply_next_epoch()
                    cycles += compacted
                    self.lookups(w["lookups_per_epoch"])
                    # stop on a compaction cycle boundary, so every run ends
                    # in the same phase of the cycle
                    if (compacted and cycles >= w["min_cycles"]
                            and time.perf_counter() - t0 >= seconds):
                        break
        except Exception as e:  # noqa: BLE001 - a raise is a failed operation
            self.error = f"{type(e).__name__}: {e}"
        self.loop_s = time.perf_counter() - t0
        tr.enabled = False
        self.jvm_hwm = proc_status(self.jvm_pid, "VmHWM")
        self.py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.written = written_since(self.table, self.start_version)

    # ---------------- untimed checks ----------------

    def check(self) -> dict[str, int]:
        """Mismatch counts: final state and rollup against the oracle's
        replay, every lookup against the oracle's row at its epoch."""
        oracle = Oracle(self.base_path, self.log_path, self.epoch)
        state = oracle.state()
        actual = self.table.read(key_col=KEY).select(KEY, "tokens", "n_tok", "source").toPandas()
        checks = {"state": state_mismatches(actual, state)}
        if self.mv is not None:
            checks["rollup"] = rollup_mismatches(self.mv.read().toPandas(), state)

        def lookup_ok(k: str, e: int, rows: list) -> bool:
            want = oracle.row(k, e)
            if want is None:
                return not rows
            return len(rows) == 1 and norm_row(rows[0]) == want

        checks["lookups"] = sum(1 for k, e, rows in self.looked if not lookup_ok(k, e, rows))
        return checks

    def space_amp(self) -> float:
        """Peak live bytes over the run ÷ the final state fully compacted."""
        self.table.compact_buckets(list(range(self.table.num_buckets)), key_col=KEY)
        return self.live_peak / max(live_bytes(self.table), 1)

    # ---------------- result ----------------

    def result(self) -> dict:
        t = time.perf_counter()
        checks = self.check() if self.error is None else {}
        space_amp = self.space_amp()
        self.spark.stop()
        # timed operations (lookups included) plus one per whole-state check;
        # an operation that raised ended the loop and counts once
        whole = [k for k in ("state", "rollup") if k in checks]
        raised = int(self.error is not None)
        attempted = sum(len(v) for v in self.lat.values()) + len(whole) + raised
        failed = raised + checks.get("lookups", 0) + sum(1 for k in whole if checks[k])
        delta_w = self.written.get("delta", [])
        compact_w = self.written.get("compact", [])
        lat = self.lat
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "events_per_s": (self.events_timed / max(sum(lat["epoch"]), 1e-9), "events/s"),
            "epoch_p50_s": (median0(lat["epoch"]), "s"),
            "read_p50_s": (median0(lat["refresh"] if self.mv is not None else lat["scan"]), "s"),
            "lookup_p50_ms": (median0(lat["lookup"]) * 1e3, "ms"),
            "write_amp": (sum(b for _, b in delta_w + compact_w) / max(self.bytes_timed, 1),
                          "ratio"),
            "space_amp": (space_amp, "ratio"),
            "peak_rss_mb": (self.jvm_hwm + self.py_rss, "MB"),
        }
        info = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "epochs_timed": len(lat["epoch"]),
            "events_timed": self.events_timed,
            "loop_s": self.loop_s,
            "session_s": self.session_s,
            "bootstraps_s": self.boots,
            "warm_s": self.warm_s,
            "post_s": time.perf_counter() - t,
            "dedup_choice": self.eng._probe_choice,
            "checks": checks,
            "error": self.error,
            "latencies": lat,
            "failed_frac": failed / max(attempted, 1),
        }
        res = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "info": info,
        }
        if self.args.trace:
            tr = self.tracer
            tr.attribute(os.path.join(self.args.run_dir, "eventlog"))
            res["per_layer"] = self.per_layer(delta_w, compact_w)
            res["sum_error_s"] = tr.sums_check(("cdc.apply_epoch", "rollup.refresh"))
            res["bookkeeping_s"] = tr.bookkeeping_s
            if self.args.trace_out:
                tr.dump(self.args.trace_out, {"per_layer": res["per_layer"], "info": info})
        return res

    def per_layer(self, delta_w, compact_w) -> dict:
        tr = self.tracer

        def under_compaction(s) -> bool:
            p = s["parent"]
            while p is not None:
                if tr.spans[p]["name"] == "lake.compact_buckets":
                    return True
                p = tr.spans[p]["parent"]
            return False

        applies = tr.named("cdc.apply_epoch")
        refreshes = tr.named("rollup.refresh")
        compacts = tr.named("lake.compact_buckets")
        reads = [s for s in tr.named("lake.read", top_only=True) if not under_compaction(s)]
        n_ep = max(len(applies), 1)
        slope = 0.0
        if len(self.rss) >= 2:
            xm, ym = (len(self.rss) - 1) / 2.0, mean0(self.rss)
            slope = sum((i - xm) * (y - ym) for i, y in enumerate(self.rss)) / sum(
                (i - xm) ** 2 for i in range(len(self.rss)))
        values = {
            "cdc.apply_self_s": median0([tr.self_time(s) for s in applies]),
            "cdc.jobs_per_epoch": sum(tr.subtree(s, "jobs") for s in applies) / n_ep,
            "cdc.tasks_per_epoch": sum(tr.subtree(s, "tasks") for s in applies) / n_ep,
            "lake.stage_delta_s": median0([tr.wall(s) for s in tr.named("lake.stage_delta")]),
            "lake.shuffle_write_mb_per_epoch": sum(
                tr.subtree(s, "shuffle_write_bytes") for s in applies) / n_ep / 2**20,
            "lake.commit_s": median0([tr.wall(s) for s in tr.named("lake.commit_staged_delta")]),
            "lake.compact_s": mean0([tr.wall(s) for s in compacts]),
            "lake.compactions": len(compacts),
            "lake.compact_bytes_rewritten": sum(b for _, b in compact_w),
            "lake.files_per_epoch": mean0([n for n, _ in delta_w]),
            "lake.bytes_per_epoch": mean0([b for _, b in delta_w]),
            "lake.delta_depth_mean": mean0(self.depth),
            "lake.read_s": median0([tr.wall(s) for s in reads]),
            "lake.jobs_per_lookup": mean0([tr.subtree(s, "jobs") for s in tr.named("op.lookup")]),
            "lake.read_files_kept_frac": mean0(self.kept_frac),
            "lake.changes_s": median0([tr.wall(s) for s in tr.named("lake.changes")]),
            "rollup.refresh_self_s": median0([tr.self_time(s) for s in refreshes]),
            "rollup.tasks_per_refresh": mean0([tr.subtree(s, "tasks") for s in refreshes]),
            "rollup.full_recomputes": sum(1 for m in self.modes if m == "full"),
            "jvm.rss_mb_per_epoch": slope,
        }
        return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}


def print_table(res: dict) -> None:
    """Every metric by name and unit, including per-operation ones (refresh
    latency, tails) that the final JSON line leaves out because not every
    workload has them."""
    info = res["info"]
    print(f"# workload={info['workload']} seed={info['seed']} epochs={info['epochs_timed']} "
          f"events={info['events_timed']} loop_s={info['loop_s']:.2f} "
          f"dedup={info['dedup_choice']} checks={info['checks']} error={info['error']}")
    for k, m in res["e2e"].items():
        print(f"  {k:<34} {m['value']:>14.4f} {m['unit']}")
    print(f"  {'failed_frac':<34} {info['failed_frac']:>14.4f} ratio")
    units = {"epoch": ("s", 1.0), "refresh": ("s", 1.0), "lookup": ("ms", 1e3), "scan": ("s", 1.0)}
    for kind, xs in info["latencies"].items():
        if not xs:
            continue
        unit, scale = units[kind]
        print(f"  {kind + '_p50_' + unit:<34} {statistics.median(xs) * scale:>14.4f} {unit}"
              f"  (n={len(xs)})")
        tp = tail_pct(len(xs))
        if tp is not None:
            print(f"  {kind + '_tail_' + unit:<34} {pct(xs, tp) * scale:>14.4f} {unit}"
                  f"  (p{tp}, n={len(xs)})")
    for k, m in (res.get("per_layer") or {}).items():
        print(f"  {k:<34} {m['value']:>14.4f} {m['unit']}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", default=None)
    bench = Bench(ap.parse_args())
    bench.start()
    bench.setup()
    bench.loop()
    res = bench.result()
    print_table(res)
    with open(bench.args.out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
