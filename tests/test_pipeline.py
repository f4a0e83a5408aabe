"""``run_pipeline`` computes each frame that more than one output reads
once: the decoded frame, the per-event window frame (on both window
routes) and, with ``cache_tiers``, the 1m and 1h tiers, each behind one
lazy ``localCheckpoint``. The outputs equal a build without those barriers
row for row, and the jobs a barrier runs while the pipeline is built carry
a ``run_pipeline: <stage>`` description."""

import pytest

from tests.test_bigkey import _sym_diff, _states

ROUTES = [pytest.param(None, id="plain"), pytest.param(120_000, id="bigkey")]
TIERS = [pytest.param(False, id="tiers_lazy"),
         pytest.param(True, id="tiers_cached")]


@pytest.fixture(scope="module")
def token_table(spark, tmp_path_factory):
    """A synthetic token table read back from parquet, as the job and the
    benchmarks read theirs."""
    from sbse.tokens import synth

    path = str(tmp_path_factory.mktemp("tokens") / "tok")
    synth(spark, 3_000).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("cache_tiers", TIERS)
@pytest.mark.parametrize("chunk_ms", ROUTES)
def test_pipeline_checkpoints_shared_frames_once(spark, monkeypatch, token_table,
                                                 chunk_ms, cache_tiers):
    """The build checkpoints the decoded frame, the per-event window frame
    and, with ``cache_tiers``, the 1m and 1h tiers, and nothing else; q34's
    chain, whose rollup is the chunked frame's only consumer, materializes
    nothing."""
    from sbse.bigkey import locf_sessionize_chunked
    from sbse.pipeline import run_pipeline
    from sbse.sessionize import session_rollup

    states = _states(spark)
    seen = []
    frame_cls = type(token_table)
    checkpoint = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        result = checkpoint(self, *args, **kwargs)
        seen.append((self, result))
        return result

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    out = run_pipeline(token_table, decode_mode="expr", cache_tiers=cache_tiers,
                       bigkey_chunk_ms=chunk_ms)
    assert len(seen) == (4 if cache_tiers else 2)
    assert seen[0][1] is out["decoded"]
    assert seen[1][0].columns == [*out["states"].columns,
                                  "sidx", "is_trailing", "close_trailing"]
    if cache_tiers:
        assert seen[2][1] is out["rollup_1m"]
        assert seen[3][1] is out["rollup_1h"]
    seen.clear()
    session_rollup(locf_sessionize_chunked(states, gap_ms=30_000,
                                           chunk_ms=120_000))
    assert seen == []


@pytest.mark.parametrize("cache_tiers", TIERS)
@pytest.mark.parametrize("chunk_ms", ROUTES)
def test_pipeline_scans_and_decodes_once(spark, monkeypatch, token_table,
                                         chunk_ms, cache_tiers):
    """Every output reads the checkpoints, none the parquet table, and all
    of them equal a build whose barriers are bypassed, in which every
    output re-runs the scan."""
    from sbse import pipeline

    def scans(df) -> bool:
        df.collect()  # runs the frame's own plan, so the plan is final
        return "FileScan" in df._jdf.queryExecution().executedPlan().toString()

    kw = {"decode_mode": "expr", "cache_tiers": cache_tiers,
          "bigkey_chunk_ms": chunk_ms}
    out = pipeline.run_pipeline(token_table, **kw)
    assert [k for k, df in out.items() if scans(df)] == []
    monkeypatch.setattr(pipeline, "_barrier", lambda df, stage: df)
    bare = pipeline.run_pipeline(token_table, **kw)
    assert all(scans(df) for df in bare.values())
    assert sorted(out) == sorted(bare)
    for table in out:
        assert _sym_diff(out[table], bare[table]) == 0, table


def test_pipeline_build_jobs_named_after_stage(spark, token_table):
    """The jobs that the barriers run during the build carry the stage's
    description, and the caller's description is restored afterwards."""
    from sbse.pipeline import run_pipeline

    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()

    def descriptions() -> dict:
        jvm_sc.listenerBus().waitUntilEmpty()  # the store is fed from the bus
        jobs = jvm_sc.statusStore().jobsList(None)
        out = {}
        for job in (jobs.apply(i) for i in range(jobs.size())):
            d = job.description()
            out[job.jobId()] = d.get() if d.isDefined() else None
        return out

    for caller in ("caller's job", None):
        sc.setJobDescription(caller)
        before = descriptions()
        try:
            run_pipeline(token_table, decode_mode="expr", cache_tiers=True,
                         bigkey_chunk_ms=120_000)
            assert sc.getLocalProperty("spark.job.description") == caller
        finally:
            sc.setJobDescription(None)
        built = {d for j, d in descriptions().items() if j not in before}
        assert built == {"run_pipeline: window stage", "run_pipeline: 1m tier",
                         "run_pipeline: 1h tier"}, built
