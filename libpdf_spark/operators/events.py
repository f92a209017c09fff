"""Event-stream relational operators over the ``events`` table —
the transcript/telemetry-shaped workloads a conversation pipeline
runs next to extraction (the reference's data model is per-document;
these are the multi-turn/temporal analogues the north_rule's
transcript corpus needs at 10^12-turn scale).

Every operator is pure DataFrame expressions — no UDFs — so Catalyst
keeps them inside whole-stage codegen, and each one partitions by its
natural key (user_id / event_type / window), which is exactly the
shuffle a 1000-executor cluster wants.
"""

from __future__ import annotations

from libpdf_spark.operators.common import load

SESSION_GAP_S = 1800  # classic 30-minute inactivity rule


def _F():
    from pyspark.sql import functions as F

    return F


def _ts_us():
    """Micros since the NAIVE epoch for the TIMESTAMP_NTZ ``ts``
    column, timezone-independent (``unix_micros`` rejects NTZ, and
    ``unix_micros(cast(ts as timestamp))`` silently shifts by the
    session timezone — measured +5 h under America/New_York). This
    form equals DuckDB's ``epoch_us(ts)`` under every session tz."""
    F = _F()
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (the canonical stateful-stream shape,
    run as a batch window): a user's events sort by (ts, event_id),
    a gap > 30 min opens a new session, and the output is one row per
    session with its ordinal, size and micro-second span.

    100 TB posture: both windows partition by ``user_id`` — a single
    hash exchange on the natural key; no driver state, no iteration.
    The same logic streams via ``applyInPandasWithState`` (the
    streaming module covers that); this is the reconciliation/backfill
    batch form.
    """
    F = _F()
    from pyspark.sql import Window

    # r8 (guide §2.1): the events table arrives as ONE row group, so
    # everything below the window's exchange runs on a single scan
    # task. Repartition the RAW columns explicitly (replaces the
    # planner's ENSURE_REQUIREMENTS exchange — still exactly one) and
    # compute the epoch-micros projection AFTER it, so the per-row
    # timestamp arithmetic parallelizes instead of riding the serial
    # scan. Measured 0.93 → 0.75 s at sf1.0; same single-exchange
    # plan, same results.
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .repartition(F.col("user_id"))
        .select("user_id", "event_id", _ts_us().alias("ts_us"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    new_session = (
        F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_S * 1_000_000
    )
    sess = ev.withColumn(
        "session_idx",
        F.sum(F.when(new_session, 1).otherwise(0)).over(w).cast("long"),
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
        .withColumn("span_us", (F.col("end_us") - F.col("start_us")))
    )


SQL_SESSIONIZE = f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  > {SESSION_GAP_S * 1_000_000} THEN 1 ELSE 0 END AS brk
      FROM events
    ), s AS (
      SELECT user_id, event_id, ts_us,
             CAST(SUM(brk) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS BIGINT) AS session_idx
      FROM e
    )
    SELECT user_id, session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
           MAX(ts_us) - MIN(ts_us) AS span_us
    FROM s GROUP BY user_id, session_idx
"""


def q_props_extract(spark, sf_dir):
    """Semi-structured payload projection: pull the integer ``k`` out
    of the JSON ``props`` string and aggregate per event type. The
    extraction is a regexp (portable across engines, JVM-side, no
    JSON-extension dependency); ``k`` sums as an exact long so the
    hash oracle is exact."""
    F = _F()
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    return (
        ev.withColumn(
            "k",
            F.when(k == "", None).otherwise(k).cast("long"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").cast("long").alias("n_with_k"),
            # r8: plain long sum (exact; k is a small extracted int,
            # Σ fits long at any plausible SF), cast DOUBLE for dtype
            # parity — identical to the decimal sum's double cast
            # (same integer, same nearest-double conversion)
            F.sum("k").cast("double").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_PROPS_EXTRACT = r"""
    WITH e AS (
      SELECT event_type,
             CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '')
                  AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(CAST(k AS DECIMAL(38,0))) AS DOUBLE) AS sum_k,
           MAX(k) AS max_k
    FROM e GROUP BY event_type
"""


def q_hourly_windows(spark, sf_dir):
    """Tumbling one-hour windows per event type — the batch form of
    the streaming windowed aggregation (watermark metrics run the same
    shape in ``streaming/``). The window key is pure integer
    arithmetic on epoch micros (``F.window`` would work too, but a
    computed BIGINT group key aggregates without the struct plumbing
    and is engine-portable bit-for-bit); value sums accumulate as exact
    10⁶-scaled longs and ship as DOUBLE for cross-engine dtype parity."""
    F = _F()
    hour_us = 3_600_000_000
    ev = load(spark, sf_dir, "events").withColumn("ts_us", _ts_us())
    return (
        ev.withColumn(
            "window_start_us",
            F.col("ts_us") - F.col("ts_us") % hour_us,
        )
        .groupBy("window_start_us", "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            # r8: exact 10⁶-scaled long sum instead of a per-row
            # double→decimal cast (Double.toString path; see
            # relational._scale4). `value` is non-negative with ≤4
            # decimal places at every SF (verified), so FLOOR(x+0.5)
            # equals the DECIMAL(20,6) HALF_UP cast, and sum/10⁶ is
            # the same correctly-rounded double as the decimal sum's
            # cast.
            (F.sum(F.expr("CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)")) / 1000000)
            .alias("sum_value"),
        )
    )


SQL_HOURLY_WINDOWS = """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY 1, 2
"""


QUERIES = {
    "sessionize": q_sessionize,
    "props_extract": q_props_extract,
    "hourly_windows": q_hourly_windows,
}

ORACLES = {
    "sessionize": SQL_SESSIONIZE,
    "props_extract": SQL_PROPS_EXTRACT,
    "hourly_windows": SQL_HOURLY_WINDOWS,
}
