"""Relational [D]-tier operators, one per SURVEY.md §2 shape.

Each mirrors a dataflow operator of the reference engine, lifted to
corpus scale on the testdata star schema. The reference file:line for
the shape is cited per function.

Scale notes (100 TB posture):
* dimension joins broadcast explicitly (``F.broadcast``);
* money sums add exact 10⁴-scaled BIGINTs (:func:`_scale4`) and divide
  back once per group, so Spark's partial aggregation order and
  DuckDB's sequential order produce identical results;
* window functions partition on the natural key — no global sorts.
"""

from __future__ import annotations

from libpdf_spark.operators.common import load


def _F():
    from pyspark.sql import functions as F

    return F


def _scale4(col):
    """Exact 10⁴-scaled BIGINT of a non-negative money double.

    Bit-identical to ``CAST(CAST(x AS DECIMAL(18,4)) * 10000 AS
    BIGINT)`` for the star schema's money columns (non-negative
    decimals with ≤4 fractional digits: the double's representation
    error is ≤ ~3e-7 at this magnitude, far below the 0.5 the
    truncation absorbs; verified 0 mismatches over every money column
    at sf0.01/0.1/1.0) — but without the double→decimal cast, which
    goes through Double.toString/BigDecimal per row and was measured
    as 2.4× the whole aggregation (guide §1.2 per-task work;
    r8 OPTIMIZATION notes). Domain contract: values quantized to ≤4
    decimal places (TPC-H-style money; every such column in the
    schema is also non-negative). FLOOR (not bare truncation) keeps
    the identity on negative non-tie values too, as cheap insurance —
    truncation rounds toward zero, floor+½ rounds half-up like the
    decimal cast."""
    F = _F()
    return F.expr(f"CAST(FLOOR({col} * 10000.0 + 0.5) AS BIGINT)")


def _exact_sum(col):
    """Exact sum of a money double as DOUBLE: integer-scaled long sum
    (codegen, map-side combinable, no per-row decimal) divided back.
    ``sum/10000`` is the correctly-rounded double of the exact
    rational, which equals ``CAST(exact_decimal_sum AS DOUBLE)`` —
    both are nearest-double of the same value."""
    F = _F()
    return F.sum(_scale4(col)) / 10000


# --- S3/F-tier: scan pruning + projection pushdown -------------------------
def q_scan_prune(spark, sf_dir):
    """Predicate + column pushdown to the parquet scan (S3,
    ``core.py:536-553`` page pruning; F1-F4 filter shapes)."""
    F = _F()
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_quantity") > 45)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


# --- J1: interval/containment join (broadcast range join) ------------------
_BUCKETS = [(0, 10, "small"), (10, 25, "medium"), (25, 40, "large"), (40, 51, "xlarge")]


def q_interval_join(spark, sf_dir):
    """bbox-containment join shape (J1, ``utils.py:212-257``): fact
    value contained in a dimension interval; small side broadcast —
    BroadcastNestedLoopJoin stays cheap because one side is tiny."""
    F = _F()
    buckets = spark.createDataFrame(_BUCKETS, "lo int, hi int, bucket string")
    part = load(spark, sf_dir, "part")
    return (
        part.join(
            F.broadcast(buckets),
            (part.p_size >= buckets.lo) & (part.p_size < buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_parts"),
            _exact_sum("p_retailprice").alias("sum_price"),
        )
    )


def _sql_interval_join():
    vals = ", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _BUCKETS)
    return f"""
        SELECT b.bucket AS bucket,
               COUNT(*) AS n_parts,
               CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM part p
        JOIN (VALUES {vals}) AS b(lo, hi, bucket)
          ON p.p_size >= b.lo AND p.p_size < b.hi
        GROUP BY b.bucket
    """


# --- J6/O2/W2: fuzzy top-1 join with tie-break ------------------------------
def q_top1_per_group(spark, sf_dir):
    """Top-1 winner per group with deterministic tie-break (J6 referee
    shape, ``textbox.py:386-528``; W2 vertical-distance tie-break).

    Optimization (r8, guide §2.4 window→agg): the row_number window
    sorted the full orders table on (custkey, price DESC, orderkey)
    twice (pre- and post-exchange) even with WindowGroupLimit
    pruning. ``max(struct(price, -orderkey))`` is the same selection
    — max totalprice, min orderkey on ties (negation flips the
    tie-break under max; struct comparison is lexicographic) — as an
    aggregation with map-side partial combine. A struct-typed max
    buffer plans as Sort+SortAggregate (not HashAggregate), but the
    sort key is o_custkey alone and the Window/WindowGroupLimit
    operators disappear: measured 1.28 s → 0.78 s at sf1.0. Output
    values are the original column values, bit-identical."""
    F = _F()
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.struct(
                    F.col("o_totalprice").alias("p"),
                    (-F.col("o_orderkey")).alias("negk"),
                )
            ).alias("m")
        )
        .select(
            "o_custkey",
            (-F.col("m.negk")).alias("o_orderkey"),
            F.col("m.p").alias("o_totalprice"),
        )
    )


SQL_TOP1 = """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn = 1
"""


# --- A1: bbox-union aggregation ---------------------------------------------
def q_bbox_union_agg(spark, sf_dir):
    """min/max hull per group (A1, ``horizontal_box.py:79-83``) —
    map-side combinable hash agg."""
    F = _F()
    # r8: repartition-first (see q_text_assembly) — at ~4 rows/group
    # the map-side partial aggregation pass over 6M rows reduced the
    # exchange by almost nothing; one post-exchange agg pass measured
    # 1.18 s → 0.75 s at sf1.0
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_discount", "l_tax")
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.min("l_discount").alias("x0"),
            F.min("l_tax").alias("y0"),
            F.max("l_discount").alias("x1"),
            F.max("l_tax").alias("y1"),
            F.count("*").alias("n"),
        )
    )


SQL_BBOX_UNION = """
    SELECT l_orderkey,
           MIN(l_discount) AS x0, MIN(l_tax) AS y0,
           MAX(l_discount) AS x1, MAX(l_tax) AS y1,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_orderkey
"""


# --- A2: order-sensitive text assembly --------------------------------------
def q_text_assembly(spark, sf_dir):
    """Ordered concat per group (A2, ``horizontal_box.py:93-200``):
    explicit in-array sort before joining — Spark's collect_list has
    no intrinsic order, so the sort key travels inside the struct."""
    F = _F()
    # r8 (guide §2.3 "narrower types"): collect one small BIGINT per
    # row — (l_linenumber << 8) | ascii(l_returnflag) — instead of a
    # struct<int,string>. Sorting the longs sorts (linenumber, flag)
    # identically (linenumber >= 0, flag is one ASCII char), and the
    # flag char is recovered with char(key & 255). Same ordered-concat
    # result; the ObjectHashAggregate buffers and the exchange carry
    # 8-byte longs instead of 2-field structs.
    # r8 (guide §2.4/§2.3): explicit repartition on the group key BEFORE
    # the aggregation. Group cardinality here is ~rows/4 at every SF
    # (~4 lineitems per order), so map-side partial collect_list
    # reduced almost nothing while paying ObjectHashAggregate buffer
    # build + array serialization into the exchange; pre-partitioning
    # ships plain (long, long) rows instead and aggregates once after
    # the (planner-reused) exchange. Measured sf1.0: 1.72 s → 0.93 s.
    # No partition count is hard-coded — spark.sql.shuffle.partitions
    # + AQE coalescing size it.
    key = F.shiftleft(F.col("l_linenumber").cast("long"), 8) + F.ascii(
        "l_returnflag"
    )
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", key.alias("k"))
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("k")),
                    lambda s: F.char(s.bitwiseAND(F.lit(255))),
                ),
                "",
            ).alias("flags")
        )
    )


SQL_TEXT_ASSEMBLY = """
    SELECT l_orderkey,
           STRING_AGG(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS flags
    FROM lineitem GROUP BY l_orderkey
"""
# NOTE: the testdata carries duplicate l_linenumber per order, so the
# tie-break on l_returnflag is required for a deterministic result —
# Spark's array_sort over struct(l_linenumber, l_returnflag) already
# sorts the full tuple.


# --- A3: uniform-attribute lift ----------------------------------------------
def q_uniform_attr(spark, sf_dir):
    """Attribute promoted iff identical across children (A3,
    ``horizontal_box.py:84-90``)."""
    F = _F()
    # r8: same repartition-before-ObjectHashAggregate shape as
    # q_text_assembly (collect_set buffers gain ~nothing map-side at
    # ~4 rows/group; ship plain rows, aggregate once post-exchange)
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linestatus")
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.when(
                F.size(F.collect_set("l_linestatus")) == 1,
                F.min("l_linestatus"),
            ).alias("uniform_status")
        )
    )


SQL_UNIFORM_ATTR = """
    SELECT l_orderkey,
           CASE WHEN COUNT(DISTINCT l_linestatus) = 1
                THEN MIN(l_linestatus) END AS uniform_status
    FROM lineitem GROUP BY l_orderkey
"""


# --- A5/W1: per-scope renumbering --------------------------------------------
def q_renumber(spark, sf_dir):
    """1-based idx per scope in stable order (A5, ``process.py:308-317``;
    W1 paragraph numbering ``textbox.py:543-571``)."""
    F = _F()
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("idx"),
        )
    )


SQL_RENUMBER = """
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS idx
    FROM orders
"""


# --- W3: neighbor lookahead ---------------------------------------------------
def q_lead_lag(spark, sf_dir):
    """lead() neighbor inspection (W3, ``textbox.py:771-791``)."""
    F = _F()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # r8: repartition raw columns first so the unix_timestamp math
    # runs post-exchange instead of on the single-row-group scan task
    # (see q_sessionize in events.py); the explicit repartition
    # replaces the window's planner-inserted exchange.
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .repartition(F.col("user_id"))
    )
    return ev.select(
        "user_id",
        "event_id",
        (
            F.lead(F.unix_timestamp("ts")).over(w) - F.unix_timestamp("ts")
        ).alias("gap_s"),
    )


SQL_LEAD_LAG = """
    SELECT user_id, event_id,
           CAST(date_diff('second', ts,
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                AS BIGINT) AS gap_s
    FROM events
"""


# --- W4: run segmentation (sessionization) -----------------------------------
def q_run_segmentation(spark, sf_dir):
    """lag-diff + cumulative-sum segment ids (W4, ``utils.py:585-631``
    line grouping shape) → session counts per user."""
    F = _F()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # r8: repartition-first for the same single-row-group-scan reason
    # as q_lead_lag above
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .repartition(F.col("user_id"))
    )
    seg = ev.withColumn(
        "new_session",
        F.when(
            F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
            > 1800,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    return seg.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_RUN_SEGMENTATION = """
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('second', LAG(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t GROUP BY user_id
"""


# --- A4/J10: header/footer occurrence aggregation ------------------------------
def q_repeated_position_agg(spark, sf_dir):
    """Repeated-position detection (A4/J10, ``extract.py:259-336``):
    band elements by rounded coordinate, count distinct pages (days),
    keep bands above the occurrence threshold."""
    F = _F()
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.round("value", 0).alias("y_band"))
        .agg(
            F.countDistinct(F.to_date("ts")).alias("n_days"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("n_days") >= 5)
    )


SQL_REPEATED_POSITION = """
    SELECT ROUND(value, 0) AS y_band,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           COUNT(*) AS n_events
    FROM events
    GROUP BY ROUND(value, 0)
    HAVING COUNT(DISTINCT CAST(ts AS DATE)) >= 5
"""


# --- O1/U1/O2: union + sort + top-k --------------------------------------------
def q_merge_sort_topk(spark, sf_dir):
    """Merge element kinds + reading-order sort + top-k (O1/U1,
    ``process.py:189-209``; O2 top-k)."""
    F = _F()
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return (
        cust.unionByName(supp)
        .orderBy(F.desc("acctbal"), F.asc("name"))
        .limit(20)
    )


SQL_MERGE_SORT_TOPK = """
    SELECT * FROM (
      SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
      UNION ALL
      SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier
    ) u ORDER BY acctbal DESC, name ASC LIMIT 20
"""


# --- U2: anti-join (except/removal) ---------------------------------------------
def q_antijoin(spark, sf_dir):
    """Removal of matched members (U2, ``textbox.py:226-229``):
    customers with no 1998 orders, as a left anti-join (the date
    filter keeps the result non-empty at every SF — a 0-row match
    would be a vacuous correctness check)."""
    F = _F()
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1998-01-01")
        .select("o_custkey")
    )
    return (
        load(spark, sf_dir, "customer")
        .join(orders, on=[F.col("c_custkey") == F.col("o_custkey")], how="left_anti")
        .select("c_custkey", "c_name")
    )


SQL_ANTIJOIN = """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '1998-01-01')
"""


# --- hash-agg metrics shape (TPC-H Q1 style) --------------------------------------
def q_pricing_summary(spark, sf_dir):
    """The metrics-table aggregation shape (SURVEY §2.4): wide hash agg
    with exact decimal sums; partial aggregation (map-side combine)
    comes free from Catalyst."""
    F = _F()
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    # r8: all money arithmetic on exact 10⁴-scaled longs (see _scale4).
    # disc_price = Σ p4·(10⁴−d4) is the exact total × 10⁸; a plain
    # long sum of the products would overflow at ~10⁹ rows, so the sum
    # is split hi/lo around 10⁸ (both comfortably in range at any
    # plausible SF) and recomposed exactly in one decimal expression
    # per GROUP (6 groups), not per row. DECIMAL(19,0) for hi keeps
    # the division result type at scale 9 ≥ the oracle's 8 fractional
    # digits, so no rounding before the final double conversion.
    pre = li.select(
        "l_returnflag",
        "l_linestatus",
        _scale4("l_quantity").alias("q4"),
        _scale4("l_extendedprice").alias("p4"),
        _scale4("l_discount").alias("d4"),
    )
    g = pre.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("q4").alias("sq4"),
        F.sum("p4").alias("sp4"),
        F.sum(F.expr("p4 * (10000 - d4) DIV 100000000")).alias("dhi"),
        F.sum(F.expr("p4 * (10000 - d4) % 100000000")).alias("dlo"),
        F.count("*").alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("sq4") / 10000).alias("sum_qty"),
        (F.col("sp4") / 10000).alias("sum_base_price"),
        F.expr(
            "CAST((CAST(dhi AS DECIMAL(19,0)) * 100000000 + dlo)"
            " / 100000000 AS DOUBLE)"
        ).alias("sum_disc_price"),
        "count_order",
    )


SQL_PRICING_SUMMARY = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(28,8))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


# --- broadcast dimension join chain -----------------------------------------------
def q_nation_revenue(spark, sf_dir):
    """Star join with explicit broadcast of the dimensions — the plan
    must show BroadcastHashJoin, never a shuffled sort-merge join for
    a 25-row dim."""
    F = _F()
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            _exact_sum("o_totalprice").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_NATION_REVENUE = """
    SELECT n.n_name AS n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


QUERIES = {
    "scan_prune": q_scan_prune,
    "interval_join": q_interval_join,
    "top1_per_group": q_top1_per_group,
    "bbox_union_agg": q_bbox_union_agg,
    "text_assembly": q_text_assembly,
    "uniform_attr": q_uniform_attr,
    "renumber": q_renumber,
    "lead_lag": q_lead_lag,
    "run_segmentation": q_run_segmentation,
    "repeated_position_agg": q_repeated_position_agg,
    "merge_sort_topk": q_merge_sort_topk,
    "antijoin": q_antijoin,
    "pricing_summary": q_pricing_summary,
    "nation_revenue": q_nation_revenue,
}

ORACLES = {
    "scan_prune": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1996-01-01'
          AND l_quantity > 45
    """,
    "interval_join": _sql_interval_join(),
    "top1_per_group": SQL_TOP1,
    "bbox_union_agg": SQL_BBOX_UNION,
    "text_assembly": SQL_TEXT_ASSEMBLY,
    "uniform_attr": SQL_UNIFORM_ATTR,
    "renumber": SQL_RENUMBER,
    "lead_lag": SQL_LEAD_LAG,
    "run_segmentation": SQL_RUN_SEGMENTATION,
    "repeated_position_agg": SQL_REPEATED_POSITION,
    "merge_sort_topk": SQL_MERGE_SORT_TOPK,
    "antijoin": SQL_ANTIJOIN,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "nation_revenue": SQL_NATION_REVENUE,
}
