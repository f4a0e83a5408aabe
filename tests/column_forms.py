"""The Column-API builds of the pipeline's plan stages, kept as the
references their SQL-text builds in ``sbse`` must equal (names, types,
rows and executed plans; tests/test_sql_stages.py). The Column API makes
one py4j round trip per expression node; the SQL text a few per stage."""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sbse import GAP_MS_NORTH
from sbse.bigkey import CHUNK_MS_DEFAULT
from sbse.rollup import _STEP_INTERVAL
from sbse.sessionize import _MERGE_FIELDS, KEY_COLS


def ord_col() -> Column:
    return F.struct(F.col("ts"), F.col("seq"))


def session_id_col(start: Column, sidx: Column) -> Column:
    return F.sha2(
        F.concat_ws(
            "|",
            F.col("source"),
            F.col("key").cast("string"),
            F.unix_millis(start).cast("string"),
            sidx.cast("string"),
        ),
        256,
    )


def local_pass(states: DataFrame, part_cols, gap_ms: int):
    fields = [(c, z) for c, z in _MERGE_FIELDS
              if c in states.columns and f"{c}_m" not in states.columns]
    w = Window.partitionBy(*part_cols).orderBy("ts", "seq")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ms = F.lag(F.unix_millis("ts")).over(w)
    e = states.select(
        "*",
        *[
            F.last(F.nullif(F.col(c), F.lit(zero)), ignorenulls=True)
            .over(wr).alias(f"_loc_{c}")
            for c, zero in fields
        ],
        F.when(prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > F.lit(gap_ms)),
               F.lit(1)).otherwise(F.lit(0)).alias("_lnew"),
    )
    e = e.select(
        "*",
        F.sum("_lnew").over(wr).alias("_lsidx"),
        F.last(F.when(F.col("_lnew") == 1, F.col("ts")),
               ignorenulls=True).over(wr).alias("_lstart"),
    )
    return e, fields


def locf_sessionize(
    states: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    close_trailing: bool = True,
) -> DataFrame:
    e, fields = local_pass(states, KEY_COLS, gap_ms)
    sidx = F.col("_lsidx")
    return e.select(
        *states.columns,
        *[F.coalesce(F.col(f"_loc_{c}"), F.lit(zero)).alias(f"{c}_m")
          for c, zero in fields],
        F.col("_lnew").alias("new_sess"),
        sidx.alias("sidx"),
        F.col("_lstart").alias("s_start"),
        session_id_col(F.col("_lstart"), sidx).alias("session_id"),
        (sidx == F.max(sidx).over(Window.partitionBy(*KEY_COLS)))
        .alias("is_trailing"),
        F.lit(close_trailing).alias("close_trailing"),
    )


def session_rollup(sess_events: DataFrame) -> DataFrame:
    e = sess_events.withColumn("_ord", ord_col())
    agg = e.groupBy("source", "key", "sidx").agg(
        F.min("ts").alias("started_at"),
        # a literal close_trailing folds the when away, and with it the
        # per-key max(sidx) window behind is_trailing
        F.max(F.when(~F.col("is_trailing") | F.col("close_trailing"),
                     F.col("ts"))).alias("ended_at"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("max_by(callsign_m, _ord)").alias("callsign"),
        F.expr("min_by(lat_m, _ord)").alias("first_lat"),
        F.expr("min_by(lon_m, _ord)").alias("first_lon"),
        F.expr("max_by(lat_m, _ord)").alias("last_lat"),
        F.expr("max_by(lon_m, _ord)").alias("last_lon"),
        F.max("altitude_m").alias("max_altitude"),
        F.max("ground_speed_m").alias("max_ground_speed"),
        F.any_value("is_trailing").alias("is_trailing"),
    )
    return agg.select(
        session_id_col(F.col("started_at"), F.col("sidx")).alias("session_id"),
        "source",
        "key",
        "started_at",
        "ended_at",
        "n_events",
        "callsign",
        "first_lat",
        "first_lon",
        "last_lat",
        "last_lon",
        "max_altitude",
        "max_ground_speed",
        # lossy DB coercion preserved: flights.max_ground_speed INTEGER
        # (schema.sql:40) — Go float64 -> Postgres INTEGER rounds
        # half-to-even, so bround (not round: half-away diverges at .5);
        # the oracle mirrors with DuckDB round_even.
        F.bround("max_ground_speed").cast("bigint").alias("max_ground_speed_i"),
        F.col("is_trailing").alias("is_open"),
    )


def _with_chunk(df: DataFrame, chunk_ms: int) -> DataFrame:
    if "_chunk" in df.columns:
        raise ValueError(
            "input already has a _chunk column; drop it before chunking "
            f"with chunk_ms={chunk_ms}"
        )
    return df.select(
        "*", F.floor(F.unix_millis("ts") / F.lit(chunk_ms)).alias("_chunk"))


def locf_sessionize_chunked(
    states: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    chunk_ms: int = CHUNK_MS_DEFAULT,
    close_trailing: bool = True,
) -> DataFrame:
    if chunk_ms <= gap_ms:
        raise ValueError(
            f"chunk_ms={chunk_ms} must exceed gap_ms={gap_ms}: a chunk "
            f"shorter than the gap cannot bound the stitch to boundaries"
        )
    e, fields = local_pass(_with_chunk(states, chunk_ms),
                           (*KEY_COLS, "_chunk"), gap_ms)
    e = e.select("*", ord_col().alias("_ord"))
    # ONE summary groupBy: per-chunk LOCF carry state + session stitch facts
    summ = e.groupBy(*KEY_COLS, "_chunk").agg(
        *[
            F.expr(f"max_by(_loc_{c}, _ord)").alias(f"_fin_{c}")
            for c, _ in fields
        ],
        F.min("ts").alias("_first_ts"),
        F.max("ts").alias("_last_ts"),
        F.max("_lsidx").alias("_nloc"),
        F.expr("max_by(_lstart, _ord)").alias("_last_lstart"),
    )
    ws = Window.partitionBy(*KEY_COLS).orderBy("_chunk")
    wsr = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_prev = ws.rowsBetween(Window.unboundedPreceding, -1)
    prev_last = F.lag(F.unix_millis("_last_ts")).over(ws)
    summ = summ.select(
        "*",
        *[
            F.last(f"_fin_{c}", ignorenulls=True).over(w_prev).alias(f"_carry_{c}")
            for c, _ in fields
        ],
        F.when(
            prev_last.isNotNull()
            & (F.unix_millis("_first_ts") - prev_last <= F.lit(gap_ms)),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("_merge"),
    )
    news = F.col("_nloc") - F.col("_merge")
    anchor = F.when(
        ~((F.col("_nloc") == 1) & (F.col("_merge") == 1)), F.col("_last_lstart")
    )
    # _prevT (the previous chunk's T) = the anchored LOCF over prior chunks
    summ = summ.select("*", news.alias("_news"),
                       (F.sum(news).over(wsr) - news).alias("_off"),
                       F.last(anchor, ignorenulls=True).over(w_prev).alias("_prevT"))
    summ = summ.select(
        "*",
        F.max(F.col("_off") + F.col("_news"))
        .over(Window.partitionBy(*KEY_COLS)).alias("_gmax"),
    )
    # SHUFFLE_HASH, not broadcast: the summary is one row per populated
    # (source, key, chunk) — unbounded over retention when the whole corpus
    # routes through this path (at the sf1.0 bench 2-minute chunks already
    # make it ~94% of the event count), so a forced broadcast eventually
    # exceeds the 8 GB relation cap and has no fallback. The event side
    # reuses the window's (source, key, chunk) hash partitioning with no new
    # exchange; the summary side pays one small exchange and a per-partition
    # hash build.
    j = e.join(
        summ.select(
            *KEY_COLS, "_chunk", "_merge", "_off", "_gmax", "_prevT",
            *[f"_carry_{c}" for c, _ in fields],
        ).hint("SHUFFLE_HASH"),
        [*KEY_COLS, "_chunk"],
    )
    backmerged = (F.col("_lsidx") == 1) & (F.col("_merge") == 1)
    sidx = F.col("_off") + F.col("_lsidx") - F.col("_merge")
    s_start = F.when(backmerged, F.col("_prevT")).otherwise(F.col("_lstart"))
    return j.select(
        *states.columns,
        *[
            F.coalesce(F.col(f"_loc_{c}"), F.col(f"_carry_{c}"), F.lit(zero))
            .alias(f"{c}_m")
            for c, zero in fields
        ],
        F.when(F.col("_lnew") == 1, F.when(backmerged, 0).otherwise(1))
        .otherwise(0).alias("new_sess"),
        sidx.alias("sidx"),
        s_start.alias("s_start"),
        session_id_col(s_start, sidx).alias("session_id"),
        (sidx == F.col("_gmax")).alias("is_trailing"),
        F.lit(close_trailing).alias("close_trailing"),
    )


def bucket_rollup(states: DataFrame, unit: str = "minute") -> DataFrame:
    e = states.select(
        "source",
        "key",
        "n_tok",
        ord_col().alias("ord"),
        F.date_trunc(unit, F.col("ts")).alias("bucket_start"),
        F.xxhash64(F.col("tokens")).alias("fp"),
    )
    return e.groupBy("source", "key", "bucket_start").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_tok").cast("bigint").alias("n_tok_sum"),
        F.min("n_tok").alias("n_tok_min"),
        F.max("n_tok").alias("n_tok_max"),
        F.expr("min_by(n_tok, ord)").alias("first_ntok"),
        F.expr("max_by(n_tok, ord)").alias("last_ntok"),
        F.expr("min_by(fp, ord)").alias("first_fp"),
        F.expr("max_by(fp, ord)").alias("last_fp"),
    )


def cascade(tier: DataFrame, unit: str) -> DataFrame:
    return (
        tier.withColumn("parent", F.date_trunc(unit, F.col("bucket_start")))
        .groupBy("source", "key", "parent")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("n_tok_sum").cast("bigint").alias("n_tok_sum"),
            F.min("n_tok_min").alias("n_tok_min"),
            F.max("n_tok_max").alias("n_tok_max"),
            F.expr("min_by(first_ntok, bucket_start)").alias("first_ntok"),
            F.expr("max_by(last_ntok, bucket_start)").alias("last_ntok"),
            F.expr("min_by(first_fp, bucket_start)").alias("first_fp"),
            F.expr("max_by(last_fp, bucket_start)").alias("last_fp"),
        )
        .withColumnRenamed("parent", "bucket_start")
    )


def gapfill_locf(tier: DataFrame, unit: str = "minute") -> DataFrame:
    step = _STEP_INTERVAL[unit]
    ends = tier.groupBy("source", "key").agg(
        F.min("bucket_start").alias("b0"), F.max("bucket_start").alias("b1")
    )
    days = ends.select(
        "source", "key", "b0", "b1",
        F.explode(
            F.sequence(
                F.date_trunc("DAY", F.col("b0")),
                F.date_trunc("DAY", F.col("b1")),
                F.expr("interval 1 day"),
            )
        ).alias("d"),
    )
    day_end = F.col("d") + F.expr("interval 1 day") - F.expr(step)
    spine = days.select(
        "source",
        "key",
        F.explode(
            F.sequence(
                F.greatest(F.col("d"), F.col("b0")),
                F.least(day_end, F.col("b1")),
                F.expr(step),
            )
        ).alias("bucket_start"),
    )
    j = spine.join(tier, ["source", "key", "bucket_start"], "left")
    w = (
        Window.partitionBy("source", "key")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "source",
        "key",
        "bucket_start",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        F.coalesce("n_tok_sum", F.lit(0)).alias("n_tok_sum"),
        F.col("cnt").isNull().alias("is_gap"),
        F.last("last_ntok", ignorenulls=True).over(w).alias("last_ntok_locf"),
    )
