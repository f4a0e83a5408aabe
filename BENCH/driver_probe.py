"""Driver-side cost of building ``run_pipeline``'s plans.

For the plain route and the chunked route (``bigkey_chunk_ms=120_000``,
``cache_tiers=True``) over a rollup_hotkey-shaped input (the benchmark's
``gen.rollup_events``: 5k rows over 200 series, one (source, key) series
holding half), prints per build:

* py4j round trips, attributed to the innermost ``sbse`` module on the
  calling thread's Python stack that is not ``sbse.session`` (``other``
  when there is none, e.g. proxy deletes sent by py4j's finalizer thread),
  and the most frequent commands;
* build wall time: each route is built twice, plain first, so the first
  plain build is the process's cold one;
* the time spent in small calls (under 5 ms each) against large ones
  (analyses, and the chunked route's ``localCheckpoint`` jobs), with the
  largest calls named.

Building runs no job except the chunked route's ``localCheckpoint`` (its
shuffle stages run when the checkpointed plan is prepared). Run from the
repository root:

    python BENCH/driver_probe.py [--rows 5000] [--seed 1] [--master local[4]]
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

SMALL_S = 0.005


def _command(cmd: str) -> str:
    """``kind:name`` of a py4j command: the method of a call, the
    subcommand of a reflection or memory command."""
    parts = cmd.split("\n", 3)
    if parts[0] == "c" and len(parts) > 2:
        return f"c:{parts[2]}"
    return f"{parts[0]}:{parts[1] if len(parts) > 1 else ''}"


def _module() -> str:
    """The innermost ``sbse`` module on the stack other than
    ``sbse.session``, whose ``frame_sql`` every SQL-text stage calls."""
    f, seen = sys._getframe(2), "other"
    while f is not None:
        name = f.f_globals.get("__name__", "")
        if name == "sbse.session":
            seen = name
        elif name == "sbse" or name.startswith("sbse."):
            return name
        f = f.f_back
    return seen


class Counter:
    """Records every ``send_command`` on the session's gateway client."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls: list[tuple[str, str, float]] = []
        self.on = False
        inner = self.client.send_command

        def send_command(command, *a, **kw):
            if not self.on:
                return inner(command, *a, **kw)
            mod = (_module() if threading.current_thread()
                   is threading.main_thread() else "other")
            t0 = time.perf_counter()
            try:
                return inner(command, *a, **kw)
            finally:
                self.calls.append((mod, _command(command),
                                   time.perf_counter() - t0))

        self.client.send_command = send_command

    def measure(self, build):
        self.calls, self.on = [], True
        t0 = time.perf_counter()
        try:
            build()
        finally:
            wall = time.perf_counter() - t0
            self.on = False
        return wall, list(self.calls)


def _report(label: str, wall: float, calls) -> None:
    small = [d for _, _, d in calls if d < SMALL_S]
    large = sorted((c for c in calls if c[2] >= SMALL_S), key=lambda c: -c[2])
    print(f"== {label}: {len(calls)} round trips, build {wall:.3f} s; "
          f"{len(small)} small calls {sum(small):.3f} s, "
          f"{len(large)} large calls {sum(d for _, _, d in large):.3f} s")
    by_mod = collections.Counter(m for m, _, _ in calls)
    print("   per module: " + ", ".join(f"{m} {n}" for m, n in by_mod.most_common()))
    by_cmd = collections.Counter(c for _, c, _ in calls)
    print("   top commands: " + ", ".join(f"{c} {n}" for c, n in by_cmd.most_common(8)))
    print("   largest: " + ", ".join(f"{m}/{c} {d * 1e3:.0f} ms"
                                     for m, c, d in large[:8]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=5000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    import gen
    import pyarrow.parquet as pq

    from sbse.pipeline import run_pipeline
    from sbse.session import get_spark

    tmp = tempfile.mkdtemp(prefix="driver_probe_")
    spark = None
    try:
        ev = os.path.join(tmp, "events.parquet")
        pq.write_table(gen.rollup_events(args.seed, args.rows, 0.5), ev)
        gen.write_tokens(ev, os.path.join(tmp, "tokens"))
        spark = get_spark(master=args.master, app_name="driver_probe")
        spark.sparkContext.setLogLevel("ERROR")
        tok = spark.read.parquet(os.path.join(tmp, "tokens"))
        tok.schema  # noqa: B018 - resolve the scan outside the timed builds
        counter = Counter(spark)
        routes = {"plain": {}, "bigkey": {"bigkey_chunk_ms": 120_000}}
        for rnd in ("first", "second"):
            for name, kw in routes.items():
                wall, calls = counter.measure(lambda: run_pipeline(
                    tok, gap_ms=30_000, cache_tiers=True, **kw))
                _report(f"{name} build, {rnd}", wall, calls)
                spark.catalog.clearCache()
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
