"""Custom stateful streaming sessionizer (applyInPandasWithState + TTL
timeout): closed sessions emitted across microbatch boundaries must equal
the batch engine's session_rollup on the same input — ids included."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_token_rows
from tests.test_sessionize import mk

STATE_DDL = "source string, key bigint, ts timestamp, seq bigint, altitude_m int"
SENTINEL_TS = "2030-01-01 00:00:00"


def _merged_states(spark, rows):
    from sbse.decode import decode
    from sbse.sessionize import locf_merge, states_only

    return locf_merge(states_only(decode(make_token_rows(spark, rows), "expr")))


def test_stateful_sessions_match_batch_across_microbatches(spark, tmp_path):
    from sbse.sessionize import session_rollup, sessionize
    from sbse.streaming.stateful import stateful_sessions

    rows = [
        mk(i, s, key=k)
        for i, (s, k) in enumerate(
            (s, k) for k in (1, 2, 3) for s in (0, 10, 100, 110, 400, 1000)
        )
    ]
    merged = _merged_states(spark, rows)

    # batch truth: every session closed
    batch = session_rollup(sessionize(merged, gap_ms=30_000, close_trailing=True))
    want = {
        (r.session_id, r.source, r.key, str(r.started_at), str(r.ended_at),
         r.n_events, r.max_altitude)
        for r in batch.collect()
    }

    # stream input: 3 chronological files + a far-future sentinel per key
    # (the sentinel closes each key's trailing session by gap; its own
    # session stays open in state and is never emitted)
    data = sorted(
        merged.select("source", "key", "ts", "seq", "altitude_m").collect(),
        key=lambda r: (r.ts, r.seq),
    )
    thirds = [data[: len(data) // 3], data[len(data) // 3: 2 * len(data) // 3],
              data[2 * len(data) // 3:]]
    # sentinel rows for only HALF the keys: those keys' trailing sessions
    # close via the in-data gap; the other keys' trailing sessions must be
    # emitted by the event-time TTL TIMEOUT once the sentinel batch pushes
    # the watermark past their last_seen + gap — both paths tested at once.
    keys = sorted({(r.source, r.key) for r in data})
    sentinel = [(s, k, SENTINEL_TS, 10**9, 0) for s, k in keys[::2]]
    src_dir = tmp_path / "stream"
    src_dir.mkdir()
    for i, chunk in enumerate([*thirds, sentinel]):
        df = spark.createDataFrame(
            [(r[0], r[1], str(r[2]), r[3], r[4]) for r in chunk],
            "source string, key bigint, ts string, seq bigint, altitude_m int",
        ).select("source", "key", F.to_timestamp("ts").alias("ts"), "seq",
                 "altitude_m")
        p = str(src_dir / f"f{i}")
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):  # strictly increasing mtimes ->
            for f in files:                # deterministic microbatch order
                os.utime(os.path.join(root, f), (1_700_000_000 + i,
                                                 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(STATE_DDL)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    assert stream.isStreaming
    out = stateful_sessions(stream, gap_ms=30_000)
    q = (
        out.writeStream.format("memory").queryName("stateful_sess")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.session_id, r.source, r.key, str(r.started_at), str(r.ended_at),
         r.n_events, r.max_altitude)
        for r in spark.sql("SELECT * FROM stateful_sess").collect()
        if str(r.started_at) != SENTINEL_TS
    }
    assert got == want
    assert len(want) >= 9  # 3 keys x >=3 sessions: the fixture is non-trivial


def test_stateful_sessions_batch_boundary_merge(spark, tmp_path):
    """A session that STRADDLES a microbatch boundary (continuation rows in
    the next file within the gap) is merged in state, not split."""
    from sbse.streaming.stateful import stateful_sessions

    f1 = [("s0", 1, "2024-01-01 00:00:00", 0, 100),
          ("s0", 1, "2024-01-01 00:00:10", 1, 200)]
    f2 = [("s0", 1, "2024-01-01 00:00:20", 2, 150),
          ("s0", 1, "2024-01-01 00:10:00", 3, 50)]   # new session
    f3 = [("s0", 1, SENTINEL_TS, 9, 0)]
    src_dir = tmp_path / "stream2"
    src_dir.mkdir()
    for i, chunk in enumerate([f1, f2, f3]):
        df = spark.createDataFrame(
            chunk, "source string, key bigint, ts string, seq bigint, "
                   "altitude_m int"
        ).select("source", "key", F.to_timestamp("ts").alias("ts"), "seq",
                 "altitude_m")
        p = str(src_dir / f"f{i}")
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (1_700_000_000 + i,
                                                 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(STATE_DDL)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    out = stateful_sessions(stream, gap_ms=30_000)
    q = (
        out.writeStream.format("memory").queryName("stateful_sess2")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = sorted(
        spark.sql("SELECT * FROM stateful_sess2").collect(),
        key=lambda r: r.started_at,
    )
    assert len(rows) == 2
    first, second = rows
    assert (str(first.started_at), str(first.ended_at), first.n_events,
            first.max_altitude) == (
        "2024-01-01 00:00:00", "2024-01-01 00:00:20", 3, 200)
    assert (str(second.started_at), second.n_events) == (
        "2024-01-01 00:10:00", 1)


def _write_files(spark, src_dir, chunks, start=0, value="altitude_m int"):
    import os as _os

    for i, chunk in enumerate(chunks, start=start):
        df = spark.createDataFrame(
            chunk, f"source string, key bigint, ts string, seq bigint, {value}"
        ).select("source", "key", F.to_timestamp("ts").alias("ts"), "seq",
                 value.split()[0])
        p = str(src_dir / f"f{i:02d}")
        df.coalesce(1).write.parquet(p)
        for root, _, files in _os.walk(p):
            for f in files:
                _os.utime(_os.path.join(root, f),
                          (1_700_000_000 + i, 1_700_000_000 + i))


def _drain(spark, src_dir, ckpt, outdir, gap_ms=30_000):
    """availableNow drain to a parquet sink (memory sink cannot recover
    from a checkpoint; the file sink is the restartable surface). Returns
    ALL rows accumulated in the sink so far."""
    from sbse.streaming.stateful import OUT_SCHEMA, stateful_sessions

    stream = (
        spark.readStream.schema(STATE_DDL)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    q = (
        stateful_sessions(stream, gap_ms=gap_ms)
        .writeStream.format("parquet")
        .option("path", str(outdir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return {
        (r.session_id, r.source, r.key, str(r.started_at), str(r.ended_at),
         r.n_events, r.max_altitude)
        for r in spark.read.schema(OUT_SCHEMA).parquet(str(outdir)).collect()
    }


def test_boundary_storm_multi_batch_straddle_with_ttl_interleaving(
        spark, tmp_path):
    """The round-3 verdict's boundary storm (next-round item 7): one key's
    session straddles FOUR microbatches while a quiet key's session is
    closed by the event-time TTL timeout MID-STREAM (other keys' traffic
    advances the watermark past its last_seen + gap), a third key splits on
    an in-data gap across batches — then a checkpoint RESTART drains the
    rest. The union of both drains must equal the batch engine exactly."""
    from sbse.sessionize import sessionize

    def sec(s):
        return f"2024-01-01 00:{s // 60:02d}:{s % 60:02d}"

    # key 1 "straddler": one session 0..140 s spread over f0..f3 (inter-file
    # gaps of 20 s <= 30 s); key 2 "quiet": f0 only — no successor row ever,
    # so its emission can ONLY come from hasTimedOut; key 3: f1 + a 200 s
    # row in f2 (in-data gap closes its first session on arrival).
    A = [[("s0", 1, sec(b * 40 + o), b * 10 + o, 100 + b) for o in (0, 10, 20)]
         for b in range(4)]
    f0 = A[0] + [("s0", 2, sec(0), 900, 7), ("s0", 2, sec(5), 901, 9)]
    f1 = A[1] + [("s0", 3, sec(40), 910, 1), ("s0", 3, sec(45), 911, 2)]
    f2 = A[2] + [("s0", 3, sec(200), 912, 3)]
    f3 = A[3]
    src_dir = tmp_path / "storm"
    src_dir.mkdir()
    _write_files(spark, src_dir, [f0, f1, f2, f3])

    ckpt = tmp_path / "ckpt"
    outdir = tmp_path / "storm_out"
    got1 = _drain(spark, src_dir, ckpt, outdir)
    # mid-stream: the quiet key (2) was TTL-closed by watermark advance and
    # key 3's first session closed on arrival — the straddler must still be
    # OPEN (held in state across all four batches).
    assert {(g[2], g[3]) for g in got1} == {
        (2, "2024-01-01 00:00:00"), (3, "2024-01-01 00:00:40")}

    # restart from checkpoint with a sentinel file: key 1 closes by gap on
    # arrival, key 3's trailing session by TTL (sentinel watermark push).
    _write_files(spark, src_dir, [[("s0", 1, SENTINEL_TS, 999, 0)]], start=4)
    got2 = _drain(spark, src_dir, ckpt, outdir)
    got = {g for g in got1 | got2 if g[3] != SENTINEL_TS}

    events = [r for chunk in (f0, f1, f2, f3) for r in chunk]
    batch_df = spark.createDataFrame(
        events, "source string, key bigint, ts string, seq bigint, "
                "altitude_m int"
    ).select("source", "key", F.to_timestamp("ts").alias("ts"), "seq",
             F.col("altitude_m").cast("int"))
    batch = (
        sessionize(batch_df, gap_ms=30_000, close_trailing=True)
        .groupBy("session_id", "source", "key")
        .agg(F.min("ts").alias("started_at"), F.max("ts").alias("ended_at"),
             F.count(F.lit(1)).alias("n_events"),
             F.max("altitude_m").cast("bigint").alias("max_altitude"))
    )
    want = {
        (r.session_id, r.source, r.key, str(r.started_at), str(r.ended_at),
         r.n_events, r.max_altitude)
        for r in batch.collect()
    }
    assert got == want
    # the straddler really is one 12-event session spanning all four files
    a_sessions = [g for g in got if g[2] == 1]
    assert len(a_sessions) == 1 and a_sessions[0][5] == 12


def test_stateful_counter_increase_partials_fold_to_batch(spark, tmp_path):
    """Stream the counter stream in 4 microbatches; the emitted
    per-(key, bucket, batch) partials, re-summed per bucket (the same fold
    counter_cascade uses), equal rollup.counter_increase row-for-row —
    including a reset that lands exactly on a microbatch boundary."""
    import datetime as dt

    from sbse.rollup import counter_increase
    from sbse.streaming.stateful import stateful_counter_increase

    def row(key, sec, n_tok, seq):
        return ("s", key, str(dt.datetime(2024, 1, 1) +
                              dt.timedelta(seconds=sec)), seq, n_tok)

    rows = []
    rows += [row(1, i * 40, 10 + 3 * i, i) for i in range(12)]  # ramp, 8 min
    rows += [row(2, 0, 100, 50), row(2, 60, 7, 51),   # reset in minute 1
             row(2, 200, 9, 52), row(2, 400, 2, 53)]  # second reset
    rows += [row(4, 65, 20, 60), row(4, 66, 4, 61)]   # same-minute pair
    rows.sort(key=lambda r: (r[2], r[3]))

    ddl = "source string, key bigint, ts timestamp, seq bigint, n_tok bigint"
    batch_df = spark.createDataFrame(
        [(s, k, dt.datetime.fromisoformat(t), q, n) for s, k, t, q, n in rows],
        ddl)
    want = {(r.source, r.key, str(r.bucket_start), r.n_samples,
             r.tok_increase, r.n_resets)
            for r in counter_increase(batch_df, "minute").collect()}

    # split so a batch boundary falls INSIDE key 4's same-minute pair (and
    # inside its reset): the fold across microbatch partials is then load-
    # bearing, not vacuous
    cut = next(i for i in range(1, len(rows))
               if rows[i - 1][1] == rows[i][1] == 4
               and rows[i - 1][2][:16] == rows[i][2][:16])
    rest = rows[cut:]
    quarters = [rows[:cut]] + [rest[len(rest) * j // 3:
                                    len(rest) * (j + 1) // 3]
                               for j in range(3)]
    src_dir = tmp_path / "cstream"
    src_dir.mkdir()
    for i, chunk in enumerate(quarters):
        df = spark.createDataFrame(
            [(s, k, dt.datetime.fromisoformat(t), q, n)
             for s, k, t, q, n in chunk], ddl)
        p = str(src_dir / f"f{i}")
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f),
                         (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    out = stateful_counter_increase(stream, unit="minute")
    q = (out.writeStream.format("memory").queryName("stateful_counter")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    folded = spark.sql("""
        SELECT source, key, bucket_start,
               CAST(sum(n_samples) AS BIGINT) AS n_samples,
               CAST(sum(tok_increase) AS BIGINT) AS tok_increase,
               CAST(sum(n_resets) AS BIGINT) AS n_resets
        FROM stateful_counter GROUP BY source, key, bucket_start""")
    got = {(r.source, r.key, str(r.bucket_start), r.n_samples,
            r.tok_increase, r.n_resets) for r in folded.collect()}
    assert got == want
    # the partials are non-trivial: at least one bucket spans microbatches
    n_partials = spark.sql("SELECT count(*) FROM stateful_counter").first()[0]
    assert n_partials > len(want) or len(quarters) == 1


def _expect_replay_refused(spark, src_dir, ddl, operator, name):
    """Drain ``operator`` over the files in ``src_dir``; the query must fail
    on the replayed row."""
    from pyspark.errors import StreamingQueryException

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    q = (operator(stream).writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="out-of-order replay"):
        q.awaitTermination()


def test_stateful_sessions_refuse_replayed_last_row(spark, tmp_path):
    """An exact re-delivery of the previous microbatch's last row (an
    at-least-once replay of the last file) must fail the query: continuing
    the open session would count that row twice in n_events."""
    from sbse.streaming.stateful import stateful_sessions

    f0 = [("s0", 1, "2024-01-01 00:00:00", 0, 100),
          ("s0", 1, "2024-01-01 00:00:10", 1, 200)]
    _write_files(spark, tmp_path, [f0, f0[-1:]])
    _expect_replay_refused(
        spark, tmp_path, STATE_DDL,
        lambda s: stateful_sessions(s, gap_ms=30_000), "replay_sess")


def test_stateful_counter_refuses_replayed_last_row(spark, tmp_path):
    """Same replay for the counter operator: the re-delivered last sample
    would add its increase a second time."""
    from sbse.streaming.stateful import stateful_counter_increase

    f0 = [("s0", 1, "2024-01-01 00:00:00", 0, 10),
          ("s0", 1, "2024-01-01 00:00:10", 1, 15)]
    _write_files(spark, tmp_path, [f0, f0[-1:]], value="n_tok bigint")
    _expect_replay_refused(
        spark, tmp_path,
        "source string, key bigint, ts timestamp, seq bigint, n_tok bigint",
        lambda s: stateful_counter_increase(s, unit="minute"), "replay_ctr")
