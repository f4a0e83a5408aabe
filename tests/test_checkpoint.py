"""F6 checkpoint-resume: a killed run resumes with zero recomputation of
completed partitions and produces output identical to an uninterrupted run
(ledger pattern: migrations.go:112-135)."""

import glob
import json

import pytest
from pyspark.sql import functions as F


def _mini_pipeline(subset):
    from sbse.pipeline import run_pipeline

    out = run_pipeline(subset, decode_mode="expr", with_gorilla=False)
    return {"sessions": out["sessions"], "rollup_1m": out["rollup_1m"]}


def _read_all(spark, warehouse, table):
    # table root: partition discovery picks up ck_part=* and (for tables
    # with a time column) the nested log_date=* catalog layout
    df = spark.read.parquet(f"{warehouse}/{table}")
    df = df.drop("ck_part", "log_date")  # layout columns, not table data
    return sorted(map(str, df.collect()))


def test_kill_resume_identical(spark, tmp_path):
    from sbse.checkpoint import run_partitioned
    from sbse.tokens import synth

    tok = synth(spark, 1500)
    wh_ref = str(tmp_path / "ref")
    wh_killed = str(tmp_path / "killed")

    # uninterrupted reference run
    s = run_partitioned(tok, _mini_pipeline, wh_ref, "run", n_parts=4)
    assert set(s.values()) == {"computed"}

    # killed run: crash after 2 partitions
    calls = {"n": 0}

    def crashing(subset):
        if calls["n"] == 2:
            raise RuntimeError("simulated kill")
        calls["n"] += 1
        return _mini_pipeline(subset)

    with pytest.raises(RuntimeError, match="simulated kill"):
        run_partitioned(tok, crashing, wh_killed, "run", n_parts=4)
    done = glob.glob(f"{wh_killed}/_manifests/run/part-*.json")
    assert len(done) == 2  # manifests only for completed partitions

    # resume: completed partitions skipped, rest computed
    s2 = run_partitioned(tok, _mini_pipeline, wh_killed, "run", n_parts=4)
    assert sorted(s2.values()) == ["computed", "computed", "skipped", "skipped"]

    for table in ("sessions", "rollup_1m"):
        assert _read_all(spark, wh_killed, table) == _read_all(spark, wh_ref, table)


def test_fingerprint_invalidates_on_input_change(spark, tmp_path):
    from sbse.checkpoint import run_partitioned
    from sbse.tokens import synth

    wh = str(tmp_path / "wh")
    run_partitioned(synth(spark, 800), _mini_pipeline, wh, "r", n_parts=2)
    # same run id, different input -> both partitions recompute
    s = run_partitioned(synth(spark, 900), _mini_pipeline, wh, "r", n_parts=2)
    assert set(s.values()) == {"computed"}
    # and stale manifests were replaced with the new fingerprint
    for p in range(2):
        m = json.load(open(f"{wh}/_manifests/r/part-{p}.json"))
        assert m["input_rows"] > 0


def test_partitioned_equals_global(spark, tmp_path):
    """Key-based checkpoint partitioning: the union of per-partition session
    tables equals one global sessionization (no session straddles a
    checkpoint boundary — SURVEY.md §7.4 stitching risk eliminated by
    construction)."""
    from sbse.checkpoint import run_partitioned
    from sbse.pipeline import run_pipeline
    from sbse.tokens import synth

    tok = synth(spark, 1200)
    wh = str(tmp_path / "wh")
    run_partitioned(tok, _mini_pipeline, wh, "g", n_parts=4)
    got = _read_all(spark, wh, "sessions")
    want = sorted(
        map(str, run_pipeline(tok, decode_mode="expr",
                              with_gorilla=False)["sessions"].collect())
    )
    assert got == want


def test_resume_costs_one_job(spark, tmp_path):
    """Scan economy: a fully-skipped resume runs exactly ONE Spark job (the
    single-pass fingerprint aggregation) — not per-partition filtered scans
    or post-write re-reads (round-1 defect)."""
    from sbse.checkpoint import run_partitioned
    from sbse.tokens import synth

    tok = synth(spark, 800)
    wh = str(tmp_path / "wh")
    run_partitioned(tok, _mini_pipeline, wh, "j", n_parts=4)

    sc = spark.sparkContext
    sc.setJobGroup("resume-probe", "fully-skipped resume")
    try:
        s = run_partitioned(tok, _mini_pipeline, wh, "j", n_parts=4)
    finally:
        sc.setJobGroup("resume-probe-done", "")
    assert set(s.values()) == {"skipped"}
    jobs = sc.statusTracker().getJobIdsForGroup("resume-probe")
    # one logical aggregation; AQE materializes it as a map job + final job.
    # The round-1 implementation cost >= n_parts jobs here.
    assert len(jobs) <= 2, f"expected <=2 fingerprint jobs, saw {len(jobs)}"


def test_cold_run_stages_once_and_prunes(spark, tmp_path):
    """Cold-run scan economy: the raw input is scanned once into a staged
    ck_part-partitioned table; every per-partition pipeline reads ONLY its
    own ck_part=<p>/ directory (partition-pruned), never the raw input
    (round-2 defect: n_parts full input scans) — and the staging scratch is
    removed after a fully successful run."""
    import os

    from sbse.checkpoint import run_partitioned
    from sbse.tokens import synth

    raw_path = str(tmp_path / "raw_tokens")
    synth(spark, 1200).write.parquet(raw_path)
    tok = spark.read.parquet(raw_path)
    wh = str(tmp_path / "wh")

    seen: list[tuple[str, list[str]]] = []

    def probe(subset):
        plan = subset._jdf.queryExecution().executedPlan().toString()
        seen.append((plan, subset.inputFiles()))
        return _mini_pipeline(subset)

    s = run_partitioned(tok, probe, wh, "stage", n_parts=4)
    assert set(s.values()) == {"computed"}
    assert len(seen) == 4
    for i, (plan, files) in enumerate(seen):
        # the subset's base relation is the STAGED table, never the raw input
        assert files and all("_staging" in f for f in files), (i, files)
        assert not any("raw_tokens" in f for f in files), (i, files)
        # and its scan is partition-PRUNED to this ck_part
        assert "ck_part#" in plan and f"= {i})" in plan, (i, plan)
    assert not os.path.exists(f"{wh}/_staging/stage")  # scratch cleaned up


def test_fingerprint_covers_token_content(spark, tmp_path):
    """Same ids, same lengths, different token CONTENT -> partitions
    recompute (a resume must never serve stale outputs)."""
    from sbse.checkpoint import run_partitioned
    from tests.conftest import make_token_rows

    rows_a = [(f"d{i}", [1, 2, 3, 4, 5, 6], "src-00") for i in range(40)]
    rows_b = [(f"d{i}", [1, 2, 3, 4, 5, 7], "src-00") for i in range(40)]
    wh = str(tmp_path / "wh")
    run_partitioned(make_token_rows(spark, rows_a), _mini_pipeline, wh, "c",
                    n_parts=2)
    s = run_partitioned(make_token_rows(spark, rows_b), _mini_pipeline, wh, "c",
                        n_parts=2)
    assert "computed" in set(s.values())


def test_partition_labels_content_stable(spark):
    """ck_part is content-derived: same row -> same partition regardless of
    DataFrame partitioning (resume must survive cluster-size changes)."""
    from sbse.skew import checkpoint_partition
    from sbse.tokens import synth

    tok = synth(spark, 500)
    a = {r.doc_id: r.ck_part for r in checkpoint_partition(tok, 8).collect()}
    b = {r.doc_id: r.ck_part
         for r in checkpoint_partition(tok.repartition(11), 8).collect()}
    assert a == b


def test_cold_run_on_empty_input(spark, tmp_path):
    """ADVICE r3 (low): a cold run whose todo partitions are all EMPTY
    (e.g. an empty input table) must complete — writing empty outputs and
    manifests — not crash reading an empty staging dir."""
    from sbse.checkpoint import run_partitioned

    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    wh = str(tmp_path / "wh_empty")
    summary = run_partitioned(
        empty, lambda df: {"echo": df}, wh, run_id="r0", n_parts=3
    )
    assert summary == {0: "computed", 1: "computed", 2: "computed"}
    import os

    assert len(os.listdir(os.path.join(wh, "_manifests", "r0"))) == 3
    # resume skips everything
    again = run_partitioned(
        empty, lambda df: {"echo": df}, wh, run_id="r0", n_parts=3
    )
    assert again == {0: "skipped", 1: "skipped", 2: "skipped"}


def _gate(df, run):
    """``df`` through a one-task ``mapInPandas`` that calls ``run()`` before
    passing its rows on (one task, so two gated writes need only two cores
    to run side by side)."""
    def passthrough(batches):
        run()
        yield from batches

    return df.coalesce(1).mapInPandas(passthrough, df.schema)


def test_partition_writes_overlap(spark, tmp_path):
    """A partition's output writes run at the same time: each write's task
    marks that it started and waits for the other's mark, so written one
    after another, the first write times out and raises."""
    from sbse.checkpoint import run_partitioned
    from sbse.tokens import synth

    marks = str(tmp_path / "marks")

    def rendezvous(me, other):
        def run():
            import os
            import time

            os.makedirs(marks, exist_ok=True)
            open(os.path.join(marks, me), "w").close()
            deadline = time.monotonic() + 60
            while not os.path.exists(os.path.join(marks, other)):
                if time.monotonic() > deadline:
                    raise TimeoutError(f"write {me} ran without write {other}")
                time.sleep(0.05)
        return run

    def pipeline(subset):
        ids = subset.select("doc_id")
        return {"a": _gate(ids, rendezvous("a", "b")),
                "b": _gate(ids, rendezvous("b", "a"))}

    wh = str(tmp_path / "wh")
    assert run_partitioned(synth(spark, 300), pipeline, wh, "o",
                           n_parts=1) == {0: "computed"}
    m = json.load(open(f"{wh}/_manifests/o/part-0.json"))
    assert m["outputs"]["a"]["rows"] == m["outputs"]["b"]["rows"] == 300
    # A5 processing time, the partition's wall time in whole milliseconds
    assert 0 < m["proc_time_ms"] <= m["duration_s"] * 1000 + 1


def test_write_failure_leaves_no_manifest(spark, tmp_path):
    """One output's write fails in the third partition: run_partitioned
    raises that error once the other writes have ended, writes no manifest
    for the partition and leaves no job running; a rerun recomputes it and
    the warehouse equals an uninterrupted run's."""
    from sbse.checkpoint import run_partitioned
    from sbse.tokens import synth

    tok = synth(spark, 1500)
    wh_ref = str(tmp_path / "ref")
    wh = str(tmp_path / "failed")
    run_partitioned(tok, _mini_pipeline, wh_ref, "run", n_parts=4)

    def fail():
        raise RuntimeError("simulated write failure")

    calls = {"n": 0}

    def failing(subset):
        out = _mini_pipeline(subset)
        calls["n"] += 1
        if calls["n"] == 3:
            out["rollup_1m"] = _gate(out["rollup_1m"], fail)
        return out

    with pytest.raises(Exception, match="simulated write failure"):
        run_partitioned(tok, failing, wh, "run", n_parts=4)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    done = sorted(glob.glob(f"{wh}/_manifests/run/part-*.json"))
    # partitions run in order: 0 and 1 completed, 2 failed, 3 never started
    assert [d.rsplit("/", 1)[1] for d in done] == ["part-0.json", "part-1.json"]

    s = run_partitioned(tok, _mini_pipeline, wh, "run", n_parts=4)
    assert sorted(s.values()) == ["computed", "computed", "skipped", "skipped"]
    for table in ("sessions", "rollup_1m"):
        assert _read_all(spark, wh, table) == _read_all(spark, wh_ref, table)


def test_write_jobs_keep_callers_job_group(spark, tmp_path):
    """Every job of a cold run, the concurrent writes' included, carries
    the caller's job group, so ``cancelJobGroup`` can stop a refresh."""
    from sbse.checkpoint import run_partitioned
    from sbse.tokens import synth

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def fence(group):  # the id of a one-job marker run in its own group
        sc.setJobGroup(group, "")
        spark.range(1).collect()
        return max(tracker.getJobIdsForGroup(group))

    tok = synth(spark, 800)
    first = fence("probe-before")
    sc.setJobGroup("probe", "cold checkpointed run")
    try:
        run_partitioned(tok, _mini_pipeline, str(tmp_path / "wh"), "g",
                        n_parts=2)
    finally:
        last = fence("probe-after")
    ran = set(range(first + 1, last))
    assert ran and set(tracker.getJobIdsForGroup("probe")) == ran
    assert not ran & set(tracker.getJobIdsForGroup(None))
