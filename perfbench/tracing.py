"""Spans around layer calls, and the per-layer table read from Spark's
event log.

A span is (name, start, end, parent, workload, run). Spans are kept in
memory and written out when the benchmark ends. While a span is open its
name tags the jobs Spark runs (``setJobGroup``), so the event log reads by
layer; the per-layer table itself attributes every job to the innermost
span whose interval holds the job's submission time.

Self time: a span's exclusive intervals are its own interval minus its
children's. Within them, time while some Spark job runs is the span's
``self_s``; time while none runs is driver time (planning, guard
``count()`` calls, file and manifest work) and sums into ``driver.self_s``.
So the spans' ``self_s`` plus ``driver.self_s`` equal the traced wall time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

# The layers the traced run records, by the public function it calls.
SPANS = [
    "decode.decode",
    "sessionize.locf_merge", "sessionize.sessionize", "sessionize.session_rollup",
    "bigkey.locf_merge_chunked", "bigkey.sessionize_chunked",
    "bigkey.session_rollup_agg",
    "rollup.bucket_rollup", "rollup.cascade", "rollup.gapfill_locf",
    "metrics.run_metrics", "gorilla.encode_tier",
    "checkpoint.partition_fingerprints", "checkpoint.run_partitioned",
    "checkpoint.partition", "catalog.expire_partitions",
    "catalog.read_partitioned",
    "dedup.simhash64", "dedup.simhash_candidates_adaptive",
    "dedup.minhash_lsh_pairs",
]
SPAN_METRICS = {
    "self_s": "s", "rows_out": "count", "cpu_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
}
# Per-layer metrics beyond the span table.
EXTRA_METRICS = {
    "driver.self_s": "s",
    "run.self_s": "s",
    "checkpoint.run_partitioned.recompute_ratio": "ratio",
    "dedup.simhash_candidates_adaptive.planted_recall": "ratio",
    "dedup.minhash_lsh_pairs.planted_recall": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    leaves job tags alone, so untraced runs pay no tracing cost."""

    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.run = 0
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _tag(self) -> None:
        if self._stack:
            s = self.spans[self._stack[-1]]
            self._sc.setJobGroup(
                s["name"], f"{self.workload}/run{self.run}/{s['name']}")
        else:
            self._sc.setJobGroup("perfbench", f"{self.workload}/run{self.run}")

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "run": self.run,
        })
        self._stack.append(idx)
        self._tag()
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            self._tag()

    def add_span(self, name: str, start: float, end: float, parent: int) -> None:
        """Insert a span measured elsewhere (a checkpoint partition, timed by
        its manifest) and adopt the spans that ran inside it."""
        idx = len(self.spans)
        for s in self.spans:
            if s["parent"] == parent and s["start"] >= start and s["end"] <= end:
                s["parent"] = idx
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "workload": self.workload,
                           "run": self.run})

    def last(self, name: str) -> int:
        return max(i for i, s in enumerate(self.spans) if s["name"] == name)

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + value

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f, indent=1)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks by stage) from the single uncompressed event log file
    under ``log_dir``. Times are epoch seconds."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"id": ev["Job ID"],
                                      "start": ev["Submission Time"] / 1e3,
                                      "end": None, "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "run": m.get("Executor Run Time", 0) / 1e3,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "shuffle": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return [j for j in jobs.values() if j["end"] is not None], tasks


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(span: tuple[float, float],
              holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    a, b = span
    out, cur = [], a
    for h0, h1 in _union(holes):
        if h1 <= cur or h0 >= b:
            continue
        if h0 > cur:
            out.append((cur, h0))
        cur = max(cur, h1)
    if cur < b:
        out.append((cur, b))
    return out


def _overlap(xs: list[tuple[float, float]], ys: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(b, d) - max(a, c)) for a, b in xs for c, d in ys)


def layer_table(tracer: Tracer, jobs: list[dict],
                tasks: dict[int, list[dict]]) -> dict[str, float]:
    """Per-layer metrics from the recorded spans and the parsed event log.
    Spans the workload never entered report 0."""
    spans = tracer.spans
    busy = _union([(j["start"], j["end"]) for j in jobs])
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(i)

    # each job belongs to the innermost span open at its submission
    def owner(t: float) -> int | None:
        best = None
        for i, s in enumerate(spans):
            if s["start"] <= t <= s["end"] and (
                    best is None or s["start"] >= spans[best]["start"]):
                best = i
        return best

    # A stage runs in the first job that lists it. Later jobs can list the
    # same stage again as skipped (with AQE a shuffle first runs as a
    # map-stage job and the result job reuses it), so each stage's tasks are
    # credited once, to its first job.
    stage_tasks: dict[int, list[list[dict]]] = {}
    credited: set[int] = set()
    for j in sorted(jobs, key=lambda j: (j["start"], j["id"])):
        fresh = [st for st in j["stages"] if st in tasks and st not in credited]
        credited.update(fresh)
        o = owner(j["start"])
        if o is not None:
            stage_tasks.setdefault(o, []).extend(tasks[st] for st in fresh)

    units = per_layer_units()
    out = dict.fromkeys(units, 0.0)
    driver = 0.0
    for i, s in enumerate(spans):
        excl = _subtract((s["start"], s["end"]),
                         [(spans[k]["start"], spans[k]["end"])
                          for k in kids.get(i, [])])
        self_busy = _overlap(excl, busy)
        driver += sum(b - a for a, b in excl) - self_busy
        name = s["name"]
        if f"{name}.self_s" not in units:
            raise KeyError(f"span {name!r} is not in the layer table")
        out[f"{name}.self_s"] += self_busy
        if name not in SPANS:  # the root span reports self time only
            continue
        stages = stage_tasks.get(i, [])
        flat = [t for st in stages for t in st]
        out[f"{name}.cpu_s"] += sum(t["cpu"] for t in flat)
        out[f"{name}.shuffle_write_mb"] += sum(t["shuffle"] for t in flat) / 1e6
        out[f"{name}.spill_mb"] += sum(t["spill"] for t in flat) / 1e6
        if stages:
            big = max(stages, key=lambda st: sum(t["run"] for t in st))
            med = statistics.median(t["dur"] for t in big)
            skew = max(t["dur"] for t in big) / med if med > 0 else 1.0
            out[f"{name}.task_skew"] = max(out[f"{name}.task_skew"], skew)
    out["driver.self_s"] = driver
    for key, v in tracer.counts.items():
        out[key] += v
    return out
