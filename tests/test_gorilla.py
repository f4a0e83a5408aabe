"""Gorilla codec round-trip: unit vectors, property tests, Spark tier
round-trip, and a compression-ratio sanity check."""

import math
import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from sbse.gorilla import decode_points, encode_points


def rt(ts, vals):
    blob = encode_points(ts, vals)
    ts2, vals2 = decode_points(blob)
    return blob, ts2, vals2


def _bits(x):
    return struct.unpack(">Q", struct.pack(">d", x))[0]


def test_empty_and_single():
    blob, ts, vals = rt([], [])
    assert (ts, vals) == ([], [])
    blob, ts, vals = rt([1672531200000], [42.5])
    assert ts == [1672531200000] and vals == [42.5]


def test_regular_series_compresses():
    """Regular 1-minute buckets with slowly-varying values: the Gorilla
    sweet spot — must beat raw 16 B/point by a wide margin."""
    n = 1000
    ts = [1672531200000 + i * 60_000 for i in range(n)]
    vals = [float(100 + (i % 7)) for i in range(n)]
    blob, ts2, vals2 = rt(ts, vals)
    assert ts2 == ts and vals2 == vals
    assert len(blob) < n * 16 * 0.25, f"blob {len(blob)} bytes for {n} points"


def test_irregular_and_negative_dod():
    ts = [0, 1000, 1500, 1501, 90_000_000, 90_000_001]
    vals = [1.5, -2.25, 0.0, 0.0, 1e300, 5e-324]
    blob, ts2, vals2 = rt(ts, vals)
    assert ts2 == ts and vals2 == vals


def test_nan_and_inf_bit_exact():
    ts = [10, 20, 30, 40]
    vals = [float("nan"), float("inf"), float("-inf"), 0.0]
    _, ts2, vals2 = rt(ts, vals)
    assert ts2 == ts
    assert [_bits(v) for v in vals2] == [_bits(v) for v in vals]
    assert math.isnan(vals2[0])


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.floats(allow_nan=False, width=64),
        ),
        min_size=1,
        max_size=200,
    )
)
def test_roundtrip_property(points):
    points.sort()
    ts = [p[0] for p in points]
    vals = [p[1] for p in points]
    _, ts2, vals2 = rt(ts, vals)
    assert ts2 == ts
    assert [_bits(v) for v in vals2] == [_bits(v) for v in vals]


def test_spark_tier_roundtrip(spark):
    """encode_tier -> decode_tier over Spark == original (source, key,
    bucket, value) points, bit-exact."""
    from sbse.decode import decode
    from sbse.gorilla import decode_tier, encode_tier
    from sbse.rollup import bucket_rollup
    from sbse.sessionize import states_only
    from sbse.tokens import synth

    tier = bucket_rollup(states_only(decode(synth(spark, 2000), "expr")), "minute")
    blobs = encode_tier(tier, "n_tok_sum")
    back = decode_tier(blobs, "n_tok_sum")
    want = sorted(
        (r.source, r.key, str(r.bucket_start), float(r.n_tok_sum))
        for r in tier.collect()
    )
    got = sorted(
        (r.source, r.key, str(r.bucket_start), float(r.n_tok_sum))
        for r in back.collect()
    )
    assert got == want
    from pyspark.sql import functions as F

    n_chunks = (
        tier.select("source", "key", F.date_trunc("month", "bucket_start"))
        .distinct().count()
    )
    assert blobs.count() == n_chunks


def test_hot_key_chunked_encode(spark):
    """A single hot key with 1M minutely points spanning ~23 months encodes
    as per-month chunks — no group ever holds the key's full history
    (round-1 OOM/skew risk) — and round-trips exactly."""
    from pyspark.sql import functions as F

    from sbse.gorilla import decode_tier, encode_tier

    n = 1_000_000
    tier = spark.range(n).select(
        F.lit("s0").alias("source"),
        F.lit(1).cast("bigint").alias("key"),
        F.timestamp_millis(
            F.lit(1672531200000) + F.col("id") * 60_000
        ).alias("bucket_start"),
        (F.col("id") % 7).cast("bigint").alias("n_tok_sum"),
    )
    blobs = encode_tier(tier, "n_tok_sum")
    stats = blobs.agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.max("n_points").alias("max_pts"),
        F.sum("n_points").alias("total_pts"),
        F.sum(F.length("blob")).alias("bytes"),
    ).collect()[0]
    assert stats["n_blobs"] >= 23          # chunked by month, not one blob
    assert stats["max_pts"] <= 31 * 24 * 60  # a chunk holds <= one month
    assert stats["total_pts"] == n
    assert stats["bytes"] < n * 16 * 0.25  # still compresses
    back = decode_tier(blobs, "n_tok_sum")
    agg = back.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_tok_sum").alias("vsum"),
        F.min("bucket_start").cast("string").alias("tmin"),
        F.max("bucket_start").cast("string").alias("tmax"),
    ).collect()[0]
    assert agg["cnt"] == n
    assert agg["vsum"] == float(sum(i % 7 for i in range(7)) * (n // 7)
                                + sum(i % 7 for i in range(n % 7)))
    assert agg["tmin"] == "2023-01-01 00:00:00"


def test_blob_tier_catalog_lifecycle(spark, tmp_path):
    """Gorilla blobs under the warehouse lifecycle (mirrors
    test_catalog.test_expire_drops_without_rewrite for the compressed
    store): blobs land log_date-partitioned by chunk month; expiring a
    horizon drops whole chunk partitions as O(1) directory removals with
    survivors byte-untouched; decoding the survivors round-trips the
    surviving tier points exactly."""
    import os

    from pyspark.sql import functions as F

    from sbse import catalog
    from sbse.gorilla import read_blob_tier, write_blob_tier
    from tests.test_catalog import _mtimes

    # 1h tier spanning three months: one (source,key), hourly points
    tier = spark.range(24 * 90).select(
        F.lit("s0").alias("source"),
        F.lit(1).cast("bigint").alias("key"),
        F.timestamp_millis(
            F.lit(1704067200000) + F.col("id") * 3_600_000  # 2024-01-01 UTC
        ).alias("bucket_start"),
        (F.col("id") % 11).cast("bigint").cast("double").alias("n_tok_sum"),
    )
    path = str(tmp_path / "blob_1h")
    snap = write_blob_tier(tier, path, "n_tok_sum")
    assert sorted(snap["partitions"]) == ["2024-01-01", "2024-02-01",
                                          "2024-03-01"]

    feb_before = _mtimes(os.path.join(path, "log_date=2024-02-01"))
    dropped = catalog.expire_partitions(path, keep_from="2024-02-01")
    assert dropped == ["2024-01-01"]  # January chunk gone, O(1) dir removal
    assert _mtimes(os.path.join(path, "log_date=2024-02-01")) == feb_before
    snap2 = catalog.current_snapshot(path)
    assert snap2["op"] == "expire"
    assert sorted(snap2["partitions"]) == ["2024-02-01", "2024-03-01"]

    back = read_blob_tier(spark, path, "n_tok_sum")
    want = sorted(
        (r.source, r.key, str(r.bucket_start), float(r.n_tok_sum))
        for r in tier.filter(
            F.col("bucket_start") >= "2024-02-01 00:00:00").collect()
    )
    got = sorted(
        (r.source, r.key, str(r.bucket_start), float(r.n_tok_sum))
        for r in back.collect()
    )
    assert got == want


def test_read_blob_tier_mid_period_range(spark, tmp_path):
    """ADVICE r3 (medium): a chunk is labeled by its START but covers the
    whole month — a mid-period start must still read the chunk
    it falls inside (overlap pruning, not start containment), and a
    mid-period end must not return rows past the requested day range.
    Old behavior: start='2024-01-15' dropped ALL of Jan 15-31 (the Jan
    chunk was pruned away) and end='2024-02-10' returned the full Feb."""
    from pyspark.sql import functions as F

    from sbse.gorilla import read_blob_tier, write_blob_tier

    tier = spark.range(24 * 90).select(
        F.lit("s0").alias("source"),
        F.lit(1).cast("bigint").alias("key"),
        F.timestamp_millis(
            F.lit(1704067200000) + F.col("id") * 3_600_000  # 2024-01-01 UTC
        ).alias("bucket_start"),
        (F.col("id") % 11).cast("double").alias("n_tok_sum"),
    )
    path = str(tmp_path / "blob_mid")
    write_blob_tier(tier, path, "n_tok_sum")
    back = read_blob_tier(spark, path, "n_tok_sum",
                          start="2024-01-15", end="2024-02-10")
    got = back.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("bucket_start").cast("string").alias("lo"),
        F.max("bucket_start").cast("string").alias("hi"),
    ).collect()[0]
    # inclusive day range: Jan 15 00:00 .. Feb 10 23:00 = (17 + 10) * 24 h
    assert got["cnt"] == 27 * 24
    assert got["lo"] == "2024-01-15 00:00:00"
    assert got["hi"] == "2024-02-10 23:00:00"


def test_truncated_blob_raises():
    """ADVICE r3 (low): the byte-sliced BitReader must fail loudly on a
    truncated blob instead of mis-aligning and decoding garbage."""
    import pytest

    from sbse.gorilla import decode_points, encode_points

    blob = encode_points([1000, 2000, 3100, 4300], [1.0, 2.5, 2.5, -7.25])
    assert decode_points(blob)[0] == [1000, 2000, 3100, 4300]
    for cut in (1, 5, len(blob) - 1):
        with pytest.raises(ValueError, match="truncated"):
            decode_points(blob[:cut])


def test_encode_tier_streams_across_batches(spark):
    """encode_tier is one streamed pass whose open series continues into
    the next Arrow batch. The series span several months, so each key
    holds several monthly chunks; with 7-row batches, chunks of 2-15
    points open and close both inside a batch and across its boundary.
    Each blob must still equal encode_points over its chunk alone, byte for
    byte, and decode_tier must round-trip the tier. The input holds a
    one-point series, a chunk of one point, and a series that crosses a
    month boundary within hours."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sbse.gorilla import decode_tier, encode_points, encode_tier

    t0 = 1704067200000  # 2024-01-01 UTC
    day = 86_400_000
    pts = [
        (f"s{key % 2}", key, start + i * step, float((i * 7919) % 13) / 3)
        for key, start, n, step in (
            (1, t0, 50, 2 * day),               # ~100 days: Jan-Apr
            (2, t0, 1, 60_000),                 # one point
            (3, t0, 23, 9 * day),               # ~200 days: 2-4 per month
            (4, t0 + 30 * day, 40, day),        # Jan 31 - Mar 10
            (5, t0 + 31 * day - 5 * 1_800_000, 10, 1_800_000),  # Jan 31 -> Feb 1
        )
        for i in range(n)
    ]
    tier = spark.createDataFrame(
        pts, "source string, key bigint, ms bigint, n_tok_sum double"
    ).select("source", "key", F.timestamp_millis("ms").alias("bucket_start"),
             "n_tok_sum")

    def chunk_of(ms):
        d = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
        return int(d.replace(day=1, hour=0, minute=0, second=0,
                             microsecond=0).timestamp() * 1000)

    series = {}
    for src, key, ms, v in pts:
        series.setdefault((src, key, chunk_of(ms)), []).append((ms, v))
    assert sum(k[1] == 1 for k in series) == 4  # 50 points over 4 months
    assert sum(k[1] == 3 for k in series) == 7  # 23 points over 7 months
    assert sum(k[1] == 5 for k in series) == 2
    want = {}
    for k, sp in series.items():
        ts = [t for t, _ in sorted(sp)]
        want[k] = (len(ts), ts[0], ts[-1],
                   encode_points(ts, [v for _, v in sorted(sp)]))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        blobs = encode_tier(tier, "n_tok_sum")
        got = {
            (r.source, r.key, r.chunk_ms): (r.n_points, r.t_min, r.t_max,
                                            bytes(r.blob))
            for r in blobs.select(
                "*", F.unix_millis("chunk_start").alias("chunk_ms")
            ).collect()
        }
        back = decode_tier(blobs, "n_tok_sum").select(
            "source", "key", F.unix_millis("bucket_start").alias("ms"),
            "n_tok_sum",
        ).collect()
        empty = encode_tier(tier.limit(0), "n_tok_sum")
        assert empty.count() == 0
        assert decode_tier(empty, "n_tok_sum").count() == 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == want
    assert sorted(tuple(r) for r in back) == sorted(pts)
