"""Explicit skew handling (north_rule): salted repartitioning on
(source, salt) — one hot ``source`` (src-00 carries ~50% of rows) must not
pin a whole stage on one task.

AQE's skew-join splitting covers joins but NOT window-partition skew; for
windows the partition key is (source, key), whose cardinality already
spreads load — the salt below is for the scan/decode/write stages that would
otherwise inherit the input's source clustering."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt_buckets: int = 64) -> DataFrame:
    """Repartition on (source, salt) where salt = xxhash64(doc_id) % buckets —
    deterministic, spreads a hot source over ``salt_buckets`` tasks."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets))
    )
    return salted.repartition(num_partitions, "source", "_salt").drop("_salt")


def entity_key_expr():
    """The sessionization entity key, computed directly on the token table
    (same index arithmetic as the decode stage: MSG path tokens[5], STA/AIR/
    ID path tokens[4] — parser.go:65-67,103-105). Keyless/failed rows get a
    stable bucket of their own; they never produce sessions."""
    pc = F.pmod(F.coalesce(F.try_element_at("tokens", F.lit(1)), F.lit(0)), F.lit(4))
    return F.when(pc == 0, F.try_element_at("tokens", F.lit(6))).otherwise(
        F.try_element_at("tokens", F.lit(5))
    )


def checkpoint_partition(df: DataFrame, n_parts: int) -> DataFrame:
    """Deterministic partition label for checkpoint/resume: stable across
    runs and cluster sizes (content-derived, not task-derived).

    Partitions by (source, entity key) — NOT by doc_id — so every event of a
    sessionization key lands in one partition and per-partition pipelines
    compute exactly the global sessions/rollups (no session can straddle a
    checkpoint boundary; the reference's open-session stitching on restart,
    tracker main.go:68-93, becomes unnecessary by construction)."""
    return df.withColumn(
        "ck_part",
        F.pmod(
            F.xxhash64(F.col("source"), entity_key_expr()), F.lit(n_parts)
        ).cast("int"),
    )
