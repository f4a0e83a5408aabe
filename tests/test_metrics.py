"""F5 run-metrics fixtures (stats.go:69-154 semantics) with counters
recomputed independently in Python."""

from pyspark.sql import functions as F

from tests.ref_decoder import decode_row


def test_counters_match_independent_decode(spark):
    from sbse.decode import decode
    from sbse.metrics import run_metrics
    from sbse.tokens import synth

    tok = synth(spark, 1000)
    rows = tok.collect()
    ref = [decode_row(r.doc_id, list(r.tokens), r.n_tok, r.source) for r in rows]
    exp_parsed = sum(1 for r in ref if r["ok"])
    exp_failed = sum(1 for r in ref if not r["ok"])
    exp_stored = sum(1 for r in ref if r["ok"] and r["key"] is not None)
    exp_hist = [
        sum(1 for r in ref if r["ok"] and r["msg_type"] == i) for i in range(10)
    ]
    exp_keys = len({(r["source"], r["key"]) for r in ref
                    if r["ok"] and r["key"] is not None})

    m = run_metrics(decode(tok, "expr")).collect()[0]
    assert m.total_rows == 1000
    assert m.parsed_rows == exp_parsed
    assert m.failed_rows == exp_failed
    assert m.stored_states == exp_stored
    assert m.active_keys == exp_keys
    assert list(m.msg_type_counts) == exp_hist
    # msg types 10..12 exist but are dropped from the histogram
    # (stats.go:89-93: index out of [0,10) silently ignored)
    assert sum(exp_hist) < exp_parsed


def test_session_counters(spark):
    from sbse.decode import decode
    from sbse.metrics import run_metrics
    from sbse.pipeline import run_pipeline
    from sbse.tokens import synth

    tok = synth(spark, 500)
    out = run_pipeline(tok, decode_mode="expr", close_trailing=False,
                       with_gorilla=False)
    m = run_metrics(out["decoded"], out["sessions"]).collect()[0]
    s = out["sessions"]
    assert m.created_sessions == s.count()
    assert m.ended_sessions == s.filter(F.col("ended_at").isNotNull()).count()
    assert m.active_sessions == s.filter(F.col("is_open")).count()
    assert m.ended_sessions + m.active_sessions >= m.created_sessions


def test_clamps(spark):
    """uint64->int64 persist clamp and negative->0 read clamp
    (db/client.go:131-139, 227-235; edge vectors client_test.go:1017-1057)."""
    from sbse.metrics import I64_MAX, clamp_read, clamp_u64

    df = spark.createDataFrame(
        [(0,), (999999999,), (-5,), (I64_MAX,)], "v bigint"
    ).select(
        clamp_u64(F.col("v")).alias("persisted"),
        clamp_read(F.col("v")).alias("read_back"),
    )
    got = sorted((r.persisted, r.read_back) for r in df.collect())
    assert got == [(-5, 0), (0, 0), (999999999, 999999999), (I64_MAX, I64_MAX)]


def test_distinct_scale_twin_accuracy(spark):
    """q02's active_keys is an EXACT countDistinct (shuffles the distinct
    set). The 100 TB scale twin is approx_count_distinct (HyperLogLog++:
    one pass, mergeable, fixed memory); the exact value pins its error
    within the configured 2% rsd."""
    from pyspark.sql import functions as F

    from sbse.decode import decode
    from sbse.tokens import token_table_from_events

    tok = token_table_from_events(spark, "/root/testdata/sf0.01")
    d = decode(tok.localCheckpoint(eager=False), mode="expr")
    keyed = d.filter(F.col("ok") & F.col("key").isNotNull()).select(
        F.concat("source", F.lit("|"), F.col("key").cast("string")).alias("k")
    )
    row = keyed.agg(
        F.countDistinct("k").alias("exact"),
        F.approx_count_distinct("k", 0.02).alias("approx"),
    ).collect()[0]
    assert row.exact > 0
    assert abs(row.approx - row.exact) <= max(3, 0.05 * row.exact), row


def _column_form_metrics(decoded, sessions):
    """The Column-API build of ``run_metrics`` (one py4j call per node),
    kept as the reference the SQL-text build must equal."""
    hist = F.array(*[
        F.sum(F.when(F.col("ok") & (F.col("msg_type") == i), 1).otherwise(0))
        .cast("bigint") for i in range(10)
    ]).alias("msg_type_counts")
    keyed = F.col("ok") & F.col("key").isNotNull()
    m = decoded.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint").alias("parsed_rows"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).cast("bigint").alias("failed_rows"),
        F.sum(F.when(keyed, 1).otherwise(0)).cast("bigint").alias("stored_states"),
        F.countDistinct(F.when(
            keyed, F.concat_ws("|", "source", F.col("key").cast("string"))
        )).alias("active_keys"),
        hist,
    )
    s = sessions.agg(
        F.count(F.lit(1)).alias("created_sessions"),
        F.sum(F.when(F.col("ended_at").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("ended_sessions"),
        F.sum(F.when(F.col("is_open"), 1).otherwise(0))
        .cast("bigint").alias("active_sessions"),
    )
    return m.crossJoin(s)


def test_sql_text_metrics_equal_column_form(spark):
    """Same names, types, values and executed plan (up to expression ids)
    as the Column form, on rows with failed decodes (ok false or null),
    MSG 1/2 rows without a key, and msg types outside 0..9."""
    import re

    from sbse.metrics import run_metrics

    decoded = spark.createDataFrame(
        [(True, 3, 7, "a"), (True, 3, 7, "a"), (True, 3, 8, "b"),
         (True, 1, None, "a"), (True, 2, None, "b"), (False, None, None, "a"),
         (False, 5, 9, "b"), (None, 4, 4, "a"), (True, 11, 12, "a"),
         (True, -1, 13, "b"), (True, 0, 7, "b"), (True, 9, 14, None)],
        "ok boolean, msg_type int, key bigint, source string",
    )
    sessions = spark.createDataFrame(
        [(1, True), (None, True), (2, False), (None, None)],
        "ended_at long, is_open boolean",
    )
    want = _column_form_metrics(decoded, sessions)
    got = run_metrics(decoded, sessions)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    row = got.collect()[0]
    assert (row.total_rows, row.parsed_rows, row.failed_rows,
            row.stored_states, row.active_keys) == (12, 9, 2, 7, 6)
    assert list(row.msg_type_counts) == [1, 1, 1, 3, 0, 0, 0, 0, 0, 1]
    assert (row.created_sessions, row.ended_sessions,
            row.active_sessions) == (4, 2, 2)

    def plan(df):  # expression, stage and codegen ids vary per build
        text = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+L?|(?<=QueryStage )\d+|(?<=plan_id=)\d+|"
                      r"(?<=\*\()\d+(?=\))", "", text)

    assert plan(got) == plan(want)
