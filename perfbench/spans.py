"""Spans around public engine calls, attributed to Spark jobs via job groups.

The benchmark wraps the public methods it calls (on the instances it
created) so each call records a span: name, start, end, parent and run id.
While a span is open its id is the Spark job group, so the event log ties
every job, task, shuffle byte, spill byte and GC millisecond to a span. A
span's self time is its wall time minus the part of it covered by child
spans.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from typing import Any


class Tracer:
    """Records spans when enabled; a disabled tracer is a no-op."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self._group(sid), name, False)
        self.bookkeeping_s += time.perf_counter() - b0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            b1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(self._group(parent["id"]), parent["name"], False)
            else:
                self.sc._jsc.sc().clearJobGroup()
            self.bookkeeping_s += time.perf_counter() - b1

    def _group(self, sid: int) -> str:
        return f"pb-{self.run_id}-{sid}"

    def wrap(self, obj: Any, method: str, name: str) -> None:
        """Shadow ``obj.method`` with a traced instance attribute."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    # ---------------- attribution ----------------

    def attribute(self, event_log_dir: str) -> None:
        """Fold the Spark event log into per-span job/task/shuffle counts."""
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(event_log_dir)
            for f in sorted(fs)
            if not f.startswith((".", "appstatus"))
        ]
        by_group = {self._group(s["id"]): s for s in self.spans}
        for s in self.spans:
            s.update(jobs=0, tasks=0, shuffle_write_bytes=0, spill_bytes=0, gc_ms=0)
        stage_span: dict[int, dict] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        s = by_group.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                        if s is None:
                            continue
                        s["jobs"] += 1
                        for st in ev.get("Stage Infos", []):
                            stage_span.setdefault(st["Stage ID"], s)
                    elif kind == "SparkListenerTaskEnd":
                        s = stage_span.get(ev.get("Stage ID"))
                        if s is None:
                            continue
                        m = ev.get("Task Metrics") or {}
                        s["tasks"] += 1
                        s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        s["gc_ms"] += m.get("JVM GC Time", 0)

    # ---------------- derived views ----------------

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def wall(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Wall time minus the union of child intervals."""
        iv = sorted((c["start"], c["end"]) for c in self.children(s["id"]))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return self.wall(s) - covered

    def subtree(self, s: dict, key: str) -> float:
        return s.get(key, 0) + sum(self.subtree(c, key) for c in self.children(s["id"]))

    def named(self, name: str, top_only: bool = False) -> list[dict]:
        """Spans called ``name``; ``top_only`` drops those nested in a span
        of the same name (``LakeTable.read`` recurses for time travel)."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            if top_only:
                p = s["parent"]
                while p is not None and self.spans[p]["name"] != name:
                    p = self.spans[p]["parent"]
                if p is not None:
                    continue
            out.append(s)
        return out

    def sums_check(self, names: tuple[str, ...]) -> float:
        """Largest |children + self - wall| over spans of ``names``, in s.
        Children never overlap here (one client thread), so their sum plus
        the self time must equal the wall time."""
        worst = 0.0
        for s in self.spans:
            if s["name"] in names:
                kids = sum(self.wall(c) for c in self.children(s["id"]))
                worst = max(worst, abs(kids + self.self_time(s) - self.wall(s)))
        return worst

    def dump(self, path: str, extra: dict) -> None:
        rows = []
        for s in self.spans:
            rows.append(
                {
                    **{k: s[k] for k in ("id", "name", "parent", "run")},
                    "start_s": s["start"],
                    "end_s": s["end"],
                    "wall_s": self.wall(s),
                    "self_s": self.self_time(s),
                    **{
                        k: s.get(k, 0)
                        for k in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_ms")
                    },
                }
            )
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh, indent=1)


if __name__ == "__main__":
    # print the per-layer table of a trace file written by a traced run
    import sys

    with open(sys.argv[1]) as fh:
        doc = json.load(fh)
    print(f"# {len(doc['spans'])} spans, workload {doc['info']['workload']}, seed {doc['info']['seed']}")
    for name, m in doc["per_layer"].items():
        print(f"  {name:<34} {m['value']:>14.4f} {m['unit']}")
