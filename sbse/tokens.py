"""Token-table sources.

``token_table_from_events`` projects the harness ``events`` parquet into the
engine's canonical input shape via the shared dialect SQL (so the DuckDB
oracle reproduces it bit-for-bit). ``synth`` generates an arbitrary-size
deterministic token table from ``spark.range`` (seedless pure arithmetic — no
wall clock, no uuid) for unit fixtures and the bench harness; its row mix
follows FIXTURES.md F1 with a skewed ``source`` distribution (src-00 ~50%).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sbse import EPOCH0_S
from sbse.dialect import SPARK, token_table_sql
from sbse.session import frame_sql

TOKEN_SCHEMA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"

# Row floor for the event-scan widen: below a few hundred thousand rows the
# 2-core scan segment finishes faster than the extra exchange costs
# (measured at sf0.1: the widen added ~0.1-0.2s to every sub-second event
# query while saving nothing).
WIDEN_MIN_ROWS = 300_000


def token_table_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # Adaptive scan parallelism (round 6, guide §2.5 'one huge unsplittable
    # file'): the harness events table is a single parquet file with ONE row
    # group, so every downstream stage up to the first shuffle (token
    # projection, checkpoint write, decode) ran on <= 2 of the cores. When
    # the source offers fewer splits than the cluster has slots, pay one
    # round-robin exchange of the NARROW event rows (4 columns — before the
    # token arrays are built, so the shuffle moves ~30x fewer bytes than
    # widening the token table would); on a real multi-file table this is a
    # no-op. Content-deterministic: nothing downstream keys on partition or
    # row order. Tables under WIDEN_MIN_ROWS are not widened: the footer
    # read is a local metadata lookup; on a multi-file table the partition
    # check below already makes the widen a no-op.
    n_rows = None
    try:
        import pyarrow.parquet as pq

        n_rows = pq.ParquetFile(f"{sf_dir}/events.parquet").metadata.num_rows
    except Exception:
        pass
    par = spark.sparkContext.defaultParallelism
    if ((n_rows is None or n_rows >= WIDEN_MIN_ROWS)
            and ev.rdd.getNumPartitions() < min(par, 16)):
        # HASH repartition on the unique event id, not round-robin: a
        # keyless repartition(n) first pays a local sort of its input
        # (spark.sql.execution.sortBeforeRepartition, needed so retried
        # tasks reproduce the same row placement — guide §2.5), which on
        # the 2 scan cores cost more than the widening saved; hashing a
        # unique deterministic key needs no sort and spreads perfectly.
        ev = ev.repartition(par, "event_id")
    return frame_sql(token_table_sql(SPARK, "{ev}"), ev=ev)


def synth(spark: SparkSession, n_rows: int, n_keys: int = 100,
          spread_s: int = 6 * 3600) -> DataFrame:
    """Deterministic synthetic token table of ``n_rows`` rows.

    Emulates the events-projection base columns from pure arithmetic on the
    row index: a multiplicative-hash pseudo-random ``v``/``u`` and event
    seconds spread over ``spread_s`` so gap-based sessions actually form.
    """
    # xxhash64-based mixing: multiplicative congruences produce residue
    # lattices per (source, key) series (uniform gaps -> degenerate session
    # structure); hashing gives realistic irregular inter-arrival times.
    base = (
        f"SELECT id AS i, "
        f"CAST(pmod(xxhash64(id), 1000000007) AS DOUBLE) / 1000.0 AS v, "
        f"pmod(xxhash64(id, 1), {n_keys * 10}) AS u, "
        f"{EPOCH0_S} + pmod(xxhash64(id, 2), {spread_s}) AS s0 "
        f"FROM range({n_rows})"
    )
    # Reuse the shared projection but swap in the synthetic base.
    sql = token_table_sql(SPARK, "__IGNORED__").replace(
        "SELECT event_id AS i, value AS v, user_id AS u, "
        "unix_timestamp(ts) AS s0 FROM __IGNORED__",
        base,
    )
    assert "__IGNORED__" not in sql, "synth base substitution failed"
    return spark.sql(sql)
