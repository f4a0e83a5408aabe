"""sbse benchmark: closed-loop workloads on local[nproc], checked outputs.

    python3 perfbench/run.py --workload rollup_hotkey --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the repository root, through run.py, which runs this file in a
child process and ends every process it leaves behind. One process per
workload by default; ``--workload all`` runs every workload in turn in one
process.

With ``--trace 0`` a run reports the end-to-end metrics:

* ``setup_s``   median of three set-ups, each a session start (the first
                starts the JVM, the next two restart the SparkContext in it)
                plus the workload's warm-up job over part of its input;
* ``run_s``     median wall time of the timed runs;
* ``items_per_s`` input items (sequences or docs) / ``run_s``;
* ``peak_rss_mb`` peak resident memory (PSS) of the Spark JVM plus its Python
                workers over the timed runs.

Timed runs start one after another (a closed loop with one client): at
least one, and another only while it is expected (from the last run's
wall time) to end within ``--seconds``. The first is the first full-size
run after the set-up warm-up. Once it has ended, untimed, its outputs are
collected and checked against an independent reference, and its digest
becomes the one every later run must match. A failed check, a run that
raises, a digest mismatch or a process in which no run succeeded makes the
result incorrect. Steal % and load average per run, and the time each
phase of the process took, go to a summary line before the result line.

With ``--trace 1`` one session with Spark's event log on makes the checked
run, then the traced run, then an untraced run, and reports the per-layer
table (see tracing.py); the tracing overhead is the traced run's wall time
less the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import sbse  # noqa: E402,F401  (fails fast without the program)

import gen  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, GateError  # noqa: E402

SETUP_CYCLES = 3


def _isolate_scratch() -> None:
    """Keep Spark's, the JVM's and Python's scratch files in the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SBSE_DRIVER_MEM", "2g")


def _ship_from_pythonpath(spark) -> None:
    # get_spark puts the repository root on PYTHONPATH, which local-mode
    # Python workers inherit, so sbse imports there without the package zip
    # that ensure_shipped would stage outside the work dir.
    spark.sparkContext._sbse_shipped = True


def session(event_log: str | None = None):
    import sbse.session as ss

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # a fixed heap and young generation: resident memory then follows
        # what the program keeps, not when G1 resizes or collects
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    ss.ensure_shipped = _ship_from_pythonpath
    spark = ss.get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.runs: list[dict] = []

    def record(self, fn, expect) -> tuple[float, object]:
        """Make one run; return its wall time and output digest (None if it
        raised). With ``expect`` None the digest is the one to match."""
        self.attempted += 1
        w = host.Window()
        try:
            with w:
                digest = fn()
        except Exception:  # a failed run is counted, the loop goes on
            traceback.print_exc()
            self.failed += 1
            self.correct = False
            return w.wall, None
        ok = expect is None or digest == expect
        self.runs.append({"wall_s": round(w.wall, 4), "steal_pct": round(w.steal, 2),
                          "loadavg": round(w.load, 2), "digest_ok": ok})
        if not ok:
            print(f"digest mismatch: {digest} != {expect}", file=sys.stderr)
            self.failed += 1
            self.correct = False
        return w.wall, digest


class Phases:
    """Wall time of each phase of a process, for the summary line."""

    def __init__(self) -> None:
        self.times: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.times[name] = round(self.times.get(name, 0) + now - self._t, 2)
        self._t = now


def setup(wl, cycles: int, event_log: str | None = None):
    """Set up ``cycles`` times: start a session (a restart after the first)
    and run the workload's warm-up job in it. Returns the last session and
    the set-up times."""
    times = []
    spark = None
    for i in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session(event_log)
        wl.warm(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def gate(wl, spark, res: Result) -> None:
    """Check the outputs the last ``keep=True`` run kept against their
    independent reference, which a second thread computes while the
    outputs are collected."""
    with ThreadPoolExecutor(1) as pool:
        want = pool.submit(wl.reference)
        try:
            wl.check(spark, want.result)
        except GateError:
            traceback.print_exc()
            res.correct = False


def _end_jvm() -> None:
    """End the stopped session's JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _workload(name: str, seed: int, spark_inputs: bool = True):
    cache = gen.Cache(os.path.join(WORK, f"inputs-{gen.source_hash(ROOT)}"))
    wl = WORKLOADS[name](cache, seed)
    wl.prepare()
    if spark_inputs and not wl.spark_ready():
        # built by another process, so that this one's JVM starts as cold
        # as in every other run
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload",
                        name, "--seed", str(seed), "--prepare"], check=True)
    return wl


def prepare_spark_inputs(name: str, seed: int) -> None:
    wl = _workload(name, seed, spark_inputs=False)
    spark = session()
    try:
        wl.prepare_spark(spark)
    finally:
        spark.stop()
        _end_jvm()


def measure(name: str, seed: int, seconds: float) -> dict:
    phases = Phases()
    wl = _workload(name, seed)
    phases.mark("inputs")
    tracer = tracing.Tracer(name, enabled=False)
    res = Result()
    spark, setup_times = setup(wl, SETUP_CYCLES)
    phases.mark("setup")
    sampler = host.MemorySampler()
    walls: list[float] = []
    expect = None
    try:
        while True:
            wl.between()
            first = expect is None
            sampler.start()
            try:
                wall, digest = res.record(lambda: wl.run(spark, tracer, keep=first),
                                          expect)
            finally:
                sampler.stop()
            phases.mark("timed")
            if digest is None:
                break
            walls.append(wall)
            if first:
                expect = digest
                gate(wl, spark, res)
                phases.mark("gate")
            if sum(walls) + wall > seconds:
                break
    finally:
        spark.stop()
        phases.mark("stop")
    if not walls:
        res.correct = False
    run_s = statistics.median(walls) if walls else float("nan")
    print(json.dumps({"workload": name, "seed": seed, "items": wl.items,
                      "setup_s": [round(t, 4) for t in setup_times],
                      "phases_s": phases.times, "runs": res.runs}))
    return {
        "correct": res.correct, "attempted": res.attempted, "failed": res.failed,
        "metrics": {
            "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
            "run_s": {"value": run_s, "unit": "s"},
            "items_per_s": {"value": wl.items / run_s, "unit": "1/s"},
            "peak_rss_mb": {"value": sampler.peak / 1e6, "unit": "MB"},
        },
    }


def measure_traced(name: str, seed: int) -> dict:
    """One session with the event log on: the checked run, then the traced
    run, then an untraced run to compare it with."""
    wl = _workload(name, seed)
    log_dir = os.path.join(WORK, "eventlog", name)
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer = tracing.Tracer(name, enabled=False)
    res = Result()
    spark, _ = setup(wl, 1, event_log=log_dir)

    def traced():
        with tracer.span("run"):
            return wl.run(spark, tracer)

    try:
        wl.between()
        _, expect = res.record(lambda: wl.run(spark, tracer, keep=True), None)
        if expect is None:
            raise RuntimeError("the checked run failed; no traced run made")
        gate(wl, spark, res)
        tracer.enabled = True
        tracer.bind(spark)
        tracer.run = 1
        wl.between()
        res.record(traced, expect)
        tracer.enabled = False
        wl.between()
        run_s, _ = res.record(lambda: wl.run(spark, tracer), expect)
    finally:
        spark.stop()
    root = tracer.spans[tracer.last("run")]
    wall = root["end"] - root["start"]
    jobs, tasks = tracing.read_event_log(log_dir)
    table = tracing.layer_table(tracer, jobs, tasks)
    table["trace.wall_s"] = wall
    table["trace.overhead_s"] = wall - run_s
    tracer.dump(os.path.join(WORK, f"spans-{name}.json"))
    accounted = sum(v for k, v in table.items() if k.endswith(".self_s"))
    print(json.dumps({"workload": name, "seed": seed, "traced_wall_s": wall,
                      "untraced_run_s": run_s, "self_s_plus_driver_s": accounted,
                      "runs": res.runs}))
    return {
        "correct": res.correct, "attempted": res.attempted, "failed": res.failed,
        "metrics": {k: {"value": table[k], "unit": u}
                    for k, u in tracing.per_layer_units().items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the inputs that need Spark")
    args = ap.parse_args()
    _isolate_scratch()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if args.prepare:
        for name in names:
            prepare_spark_inputs(name, args.seed)
        return
    results = []
    for name in names:
        if args.trace:
            r = measure_traced(name, args.seed)
        else:
            r = measure(name, args.seed, args.seconds)
        for m in r["metrics"].values():
            if not math.isfinite(m["value"]):  # unmeasured: never a result
                r["correct"] = False
                m["value"] = 0.0
        if len(names) > 1:
            print(json.dumps({"workload": name, **r}))
        results.append(r)
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{n}.{k}": v for n, r in zip(names, results)
                        for k, v in r["metrics"].items()},
        }))


if __name__ == "__main__":
    main()
