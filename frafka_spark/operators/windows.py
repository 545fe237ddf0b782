"""B5 — window functions.

Every window ``ORDER BY`` carries a unique tiebreak key (SURVEY.md §2
determinism rule 2): ``row_number`` over a non-unique order is
nondeterministic in *any* engine. Ranking functions that must see
ties (``rank``/``dense_rank``) get a separate, deliberately
tie-producing window.

Windowed float sums use the same exact-DECIMAL trick as the
aggregates (determinism.py): a running sum of doubles is
order-defined but still accumulates differently across engines'
internal states, while decimal accumulation is exact.

Scale note: all windows here partition by a key (user_id, priority,
segment) — state per partition is bounded and Spark distributes
partitions across executors. The global-order operators
(``q_win_ntile``, ``q_win_rank_global_scaled``) avoid the
single-task global sort via ``range_partitioned_row_number``
(range-partition on the order keys + per-partition offsets; see
plans/scale_notes.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import DEC, half_up
from frafka_spark.io import table
from frafka_spark.registry import query


@query(
    "q_win_rank",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d') AS odate,
           rank()       OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS rnk,
           dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS drnk,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    WHERE o_orderstatus = 'P'
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank over a tie-producing order; row_number with tiebreak."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    w_ties = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    w_uniq = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.row_number().over(w_uniq).alias("rn"),
    )


@query(
    "q_win_lag_lead",
    oracle="""
    SELECT event_id, user_id, event_type,
           lag(event_type)     OVER w AS prev_type,
           lead(event_type)    OVER w AS next_type,
           lag(event_type, 2, 'NONE') OVER w AS prev2_type,
           round(value - lag(value) OVER w, 6) AS delta_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with offsets and defaults over per-user event sequences."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lag("event_type", 2, "NONE").over(w).alias("prev2_type"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_value"),
    )


@query(
    "q_win_running",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(38,6))) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value,
           count(*) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_n
    FROM events
    """,
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/count per user (unbounded-preceding row frame)."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@query(
    "q_win_moving",
    oracle="""
    SELECT event_id, user_id,
           floor(CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
                 / count(*) OVER w * 10000.0 + 0.5) / 10000.0
               AS moving_avg,
           CAST(min(value) OVER w AS DOUBLE) AS moving_min
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_win_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average/min over a bounded 3-row frame."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    return e.select(
        "event_id",
        "user_id",
        half_up(
            F.sum(F.col("value").cast(DEC)).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            4,
        ).alias("moving_avg"),
        F.min("value").over(w).cast("double").alias("moving_min"),
    )


@query(
    "q_win_ntile",
    oracle="""
    SELECT c_custkey,
           ntile(4)       OVER w AS quartile,
           floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0
               AS pct_rank,
           floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist over a global order — SCALE path.

    Through round 4 this was the repo's deliberate anti-pattern
    exhibit: a bare ``Window.orderBy(...)`` that funnels every row
    through one task. Now it rides ``range_partitioned_row_number``
    (the distributed global ranking) and derives all three
    distribution functions arithmetically from the rank ``rn`` and
    the total count ``n`` — valid because the ORDER BY includes the
    unique ``c_custkey`` tiebreak, making the order total (rank ==
    row_number, no ties):

    - ``ntile(k)``: first ``n % k`` buckets get ``n div k + 1`` rows,
      the rest ``n div k`` (SQL-standard split, integer arithmetic).
    - ``percent_rank = (rn - 1) / (n - 1)`` (0 when n == 1).
    - ``cume_dist = rn / n``.

    ``n`` rides the helper's ≤ cluster-width offsets frame (no second
    full-data pass), which is also the only single-task step left in
    the plan. The oracle stays the plain global-window formulation,
    so the hash check proves the distributed arithmetic IS
    ntile/percent_rank/cume_dist.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    df = range_partitioned_row_number(
        c,
        ["c_acctbal", "c_custkey"],
        out="_rn",
        total="_n",
        memo=(spark, sf_dir, "win_ntile_ranked"),
    )
    quartile = F.expr(
        """CAST(1 + CASE
             WHEN _rn <= (_n % 4) * (_n div 4 + 1)
             THEN (_rn - 1) div (_n div 4 + 1)
             ELSE (_n % 4) + (_rn - 1 - (_n % 4) * (_n div 4 + 1)) div (_n div 4)
           END AS INT)"""
    )
    return df.select(
        "c_custkey",
        quartile.alias("quartile"),
        F.when(
            F.col("_n") > 1,
            half_up((F.col("_rn") - 1) / (F.col("_n") - 1), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
        half_up(F.col("_rn") / F.col("_n"), 6).alias("cume"),
    )


@query(
    "q_win_first_last",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           first_value(l_partkey) OVER w AS first_part,
           last_value(l_partkey)  OVER w AS last_part,
           nth_value(l_partkey, 2) OVER w AS second_part
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value with an explicit full-partition frame.

    (l_orderkey, l_linenumber) is NOT unique in the fixtures (verified
    at sf0.01: 45832 distinct of 60000 rows), so the order adds
    l_partkey, l_suppkey — remaining ties are fully identical rows,
    which makes the windowed values deterministic.
    """
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.first("l_partkey").over(w).alias("first_part"),
        F.last("l_partkey").over(w).alias("last_part"),
        F.nth_value("l_partkey", 2).over(w).alias("second_part"),
    )


@query(
    "q_win_range_frame",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           round(o_totalprice, 4) AS price,
           count(*) OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
               RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW
           ) AS n_within_10k
    FROM orders
    """,
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame on a numeric order key (peers within a value band).

    The Python ``WindowSpec.rangeBetween`` only accepts integral
    bounds, so the fractional-capable RANGE frame goes through Spark
    SQL — same Catalyst plan either way.
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("fs_orders_range")
    return spark.sql(
        """
        SELECT o_orderkey,
               o_orderpriority,
               round(o_totalprice, 4) AS price,
               count(*) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_totalprice
                   RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW
               ) AS n_within_10k
        FROM fs_orders_range
        """
    )


def range_partitioned_row_number(
    df: DataFrame,
    order_by: list,
    out: str = "rn",
    total: str | None = None,
    memo: tuple | None = None,
) -> DataFrame:
    """Global row_number WITHOUT the single-task global sort.

    ``memo``: optional ``(spark, sf_dir, tag)`` — build the ranked
    relation through ``session_artifact`` so reconstruction returns
    the first-built frame. Even a LAZY localCheckpoint pays
    full analysis + physical planning of its subtree at CONSTRUCTION
    time (measured ~0.3-0.4 s driver CPU per call at sf0.1 — the
    ``_lr_feats`` lesson, guide §3.3 planning-cost note), so callers
    whose ``df``/``order_by`` are deterministic per (session,
    sf_dir) — every declared query using this helper — pass a tag
    and pay it once per session.

    The scale replacement for ``Window.orderBy(...)`` with no
    partition key (which moves ALL rows to one task — Spark itself
    warns): range-partition on the order keys, rank within each
    partition (distributed state), then add per-partition offsets
    computed from a partition-count aggregate that is at most
    one row per partition — the only data that ever reaches the
    driver, bounded by cluster width, not data size.

    ``order_by`` entries may be column names or sort expressions
    (``F.col(x).desc_nulls_last()`` etc. — both
    ``repartitionByRange`` and window ``orderBy`` honor them, and
    the range partitioner emits partitions in exactly that sort
    order, which the offset cumsum over ``_pid`` relies on). It
    must be a total order (include a unique tiebreak key) for the
    result to be deterministic.
    """
    from frafka_spark.io import shuffle_width

    if memo is not None:
        return session_artifact(
            *memo, lambda: range_partitioned_row_number(df, order_by, out, total)
        )

    ranged = df.repartitionByRange(shuffle_width(df), *order_by).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_by)
    # localCheckpoint (NOT cache): the offsets branch and the final
    # join both read this frame, and the range exchange samples fresh
    # boundaries on every re-execution — the two branches would
    # disagree on _pid and the offsets would be garbage. A cache is
    # only best-effort: an evicted block would silently recompute with
    # NEW boundaries mid-query. Checkpointing truncates the lineage,
    # so a lost block fails loudly instead of corrupting ranks (on a
    # cluster prefer a reliable checkpoint dir for fault tolerance).
    # eager=False keeps plan construction job-free (the queries()
    # contract): the offsets broadcast is built — and the checkpoint
    # therefore materialized, then lineage-truncated — before the
    # probe-side stage of the same action reads it, so both readers
    # still see ONE set of sampled boundaries.
    local = ranged.withColumn(
        "_local_rn", F.row_number().over(w_local)
    ).localCheckpoint(eager=False)
    # partition sizes -> cumulative offsets (≤ n rows; driver-safe)
    sizes = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = sizes.withColumn(
        "_offset", F.sum("_cnt").over(w_off) - F.col("_cnt")
    )
    if total is not None:
        # Total row count rides the same tiny offsets frame (a window
        # sum over ≤ cluster-width rows) — consumers needing n (ntile,
        # cume_dist) get it without a second full-data pass.
        w_all = Window.orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = offsets.withColumn(total, F.sum("_cnt").over(w_all))
    offsets = offsets.drop("_cnt")
    return (
        local.join(F.broadcast(offsets), "_pid")
        # bigint: a global rank at the scale this function targets
        # overflows int32
        .withColumn(out, (F.col("_offset") + F.col("_local_rn")).cast("bigint"))
        .drop("_pid", "_local_rn", "_offset")
    )


@query(
    "q_win_rank_global_scaled",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice, 4) AS price,
           CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                AS BIGINT) AS rn
    FROM orders
    """,
)
def q_win_rank_global_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row_number over a total order — the SCALE formulation.

    Declared-query twin of ``q_win_ntile``'s anti-pattern note: a
    bare ``Window.orderBy(...)`` funnels every row through ONE task,
    while ``range_partitioned_row_number`` range-partitions on the
    order keys, ranks within partitions, and reconciles with a
    per-partition offset table bounded by cluster width (docstring
    above). The oracle is a plain global window — so the driver's
    hash check proves the distributed formulation produces the exact
    global ranking. Order is total (o_orderkey is the unique
    tiebreak); equivalence against the single-task window is also
    pytest-pinned (tests/test_misc_ops.py).
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = range_partitioned_row_number(
        o,
        ["o_totalprice", "o_orderkey"],
        out="rn",
        memo=(spark, sf_dir, "win_rank_global_ranked"),
    )
    return ranked.select(
        "o_orderkey",
        F.round("o_totalprice", 4).alias("price"),
        "rn",
    )


@query(
    "q_win_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0
               AS cdist,
           floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0
               AS prank,
           nth_value(o_orderkey, 3) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: cume_dist / percent_rank /
    nth_value, all over a keyed partition (state stays distributed —
    the per-partition shuffle is the only wide step at any scale).

    The order includes the unique o_orderkey tiebreak so ranks are a
    total order; distribution values are rounded to 6 digits (ratios
    of small integers — no representable-decimal tie risk).
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        half_up(F.cume_dist().over(w), 6).alias("cdist"),
        half_up(F.percent_rank().over(w), 6).alias("prank"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
    )


@query(
    "q_win_time_range",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_1h
    FROM (SELECT *, epoch_us(ts) AS ts_us FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
)
def q_win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-window aggregate: per-user 1-hour rolling count
    and sum — the canonical "activity in the last hour" shape.

    The RANGE frame orders by *epoch microseconds* (exact integers on
    both engines — ``unix_micros`` ↔ ``epoch_us``) rather than a
    timestamp type, so frame-boundary arithmetic is integer-identical
    and timezone-free. The rolling sum accumulates in DECIMAL(38,6)
    (order-independent, exact), because a double running sum is
    accumulation-order-dependent across engines. Scale shape: one
    shuffle on user_id, then a per-partition sort — state never
    leaves the executors, identical at 10^3 or 10^9 users; events
    with equal (user_id, ts) are RANGE-frame peers and get identical
    values, so the result stays deterministic without a unique
    tiebreak.
    """
    from frafka_spark.functions.determinism import DEC

    e = table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_599_999_999, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("sum_1h"),
    )


@query(
    "q_win_range_frame_scaled",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           round(o_totalprice, 4) AS price,
           count(*) OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
               RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW
           ) AS n_within_10k
    FROM orders
    """,
)
def q_win_range_frame_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE frame count at scale — the twin of
    ``q_win_range_frame`` with the low-cardinality partition hazard
    engineered out (same oracle, same rows).

    ``PARTITION BY o_orderpriority`` has 5 values: the built-in
    window funnels 20% of a 100 TB table through each of 5 tasks.
    This formulation banks on bucket width = band width: with
    ``bucket = floor(price / 10000)``, the band ``[p − 10000, p]``
    touches exactly buckets ``b−1`` and ``b``, so

        n_within(p) = run_b(p)                      [≤ p in bucket b]
                    + tot(b−1) − run_{b−1}(p−10000) [≥ p−10000 in b−1]

    and BOTH terms come out of ONE keyed window pass over the ROWS
    themselves (VERDICT r9 #4 — the r8 formulation collapsed to
    distinct values, which forced a join back to ``o`` at the end;
    carrying ``o_orderkey`` through the window as payload removes
    that whole shuffle leg):

    1. Each ROW enters the stream twice: as itself in bucket b
       (kind 1, count 1, payload = its orderkey), and as a PROBE at
       key ``p − 10000.0`` assigned to bucket b−1 (kind 0, count 0,
       same payload; sorted before any equal-valued real row so the
       band stays inclusive-left — and if the IEEE subtraction
       rounds the probe key up onto b−1's top edge, the probe sorts
       past all of b−1 and its term is 0: still exact, no b−1 value
       can reach it). One window partitioned by (priority, bucket)
       with the peers-inclusive RANGE frame (ties on (k, kind)
       share their running sum, exactly the frame's peer rule)
       yields the running count AND the bucket total in one sort.
    2. Every stream row emits its term — a real row ``run``, a
       probe ``tot − run`` — and ONE hash aggregate keyed on the
       payload sums the two terms into n_within. No join back.

    Both exchanges are deterministic hash partitions — (priority,
    bucket) then orderkey — no range-boundary sampling, no
    checkpoint, no broadcast, no driver work, no join. Partition
    width is one band per priority (salt the bucket further if one
    price band is hot). The band arithmetic uses the same
    ``p − 10000.0`` double the window frame would compute, so
    results hash-match exactly.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    counts = banded_range_count_rows(
        o, "o_orderpriority", "o_totalprice", 10000.0, "o_orderkey"
    )
    return counts.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 4).alias("price"),
        F.col("n_in_band").alias("n_within_10k"),
    )


def banded_range_count(
    df: DataFrame, part: str, val: str, width: float
) -> DataFrame:
    """Per distinct (part, val): the count of group rows with value
    in the inclusive band ``[val − width, val]`` — the distributed
    replacement for ``count(*) OVER (PARTITION BY part ORDER BY val
    RANGE BETWEEN width PRECEDING AND CURRENT ROW)`` when ``part`` is
    low-cardinality. See ``q_win_range_frame_scaled`` for the
    bucket-band derivation and IEEE boundary analysis; the band's
    lower bound is the same ``val − width`` double the window frame
    computes. Property-tested against a per-row reference on
    adversarial boundary inputs (tests/test_properties.py)."""
    vals = df.groupBy(part, val).agg(F.count("*").cast("bigint").alias("c"))
    bucket = F.floor(F.col(val) / F.lit(width)).cast("bigint")
    real = vals.select(
        part,
        bucket.alias("bucket"),
        F.col(val).alias("k"),
        F.lit(1).alias("kind"),
        F.col("c"),
        F.col(val).alias("out_val"),
    )
    probe = vals.select(
        part,
        (bucket - F.lit(1)).alias("bucket"),
        (F.col(val) - F.lit(width)).alias("k"),
        F.lit(0).alias("kind"),
        F.lit(0).cast("bigint").alias("c"),
        F.col(val).alias("out_val"),
    )
    w_run = (
        Window.partitionBy(part, "bucket")
        .orderBy("k", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(part, "bucket")
    terms = (
        real.unionByName(probe)
        .withColumn("run", F.sum("c").over(w_run))
        .withColumn("tot", F.sum("c").over(w_tot))
        .select(
            part,
            F.col("out_val").alias(val),
            F.when(F.col("kind") == 1, F.col("run"))
            .otherwise(F.col("tot") - F.col("run"))
            .alias("term"),
        )
    )
    return terms.groupBy(part, val).agg(
        F.sum("term").cast("bigint").alias("n_in_band")
    )


def banded_range_count_rows(
    df: DataFrame, part: str, val: str, width: float, *payload: str
) -> DataFrame:
    """Per ROW of ``df``: the count of group rows with value in the
    inclusive band ``[val − width, val]``, carried with ``payload``
    columns — ``banded_range_count`` without the collapse to distinct
    values, so consumers that need per-row output (every window query)
    skip the join back entirely: the payload rides the band window and
    the final aggregate is keyed on it (VERDICT r9 #4).

    Requires ``payload`` to uniquely key rows (a row id, e.g.
    ``o_orderkey``) — the final aggregate groups on the payload ALONE
    (cheaper than re-hashing the (part, val) pair; both stream rows
    of a payload carry identical part/val, so the ``first()`` carries
    are deterministic), and duplicate payloads would merge and
    double-count. Ties on ``val`` across DIFFERENT rows are exact:
    the window's peers-inclusive RANGE frame gives every tied row the
    full tie group's running sum, the same peer rule as the built-in
    RANGE frame being replaced. Same IEEE boundary analysis as
    ``banded_range_count``; property-tested beside it
    (tests/test_properties.py).
    """
    if not payload:
        raise ValueError("banded_range_count_rows needs a row-id payload")
    bucket = F.floor(F.col(val) / F.lit(width)).cast("bigint")
    base = df.select(part, val, *payload)
    real = base.select(
        part,
        bucket.alias("__bkt"),
        F.col(val).alias("__k"),
        F.lit(1).alias("__kind"),
        F.lit(1).cast("bigint").alias("__c"),
        F.col(val).alias("__out_val"),
        *payload,
    )
    probe = base.select(
        part,
        (bucket - F.lit(1)).alias("__bkt"),
        (F.col(val) - F.lit(width)).alias("__k"),
        F.lit(0).alias("__kind"),
        F.lit(0).cast("bigint").alias("__c"),
        F.col(val).alias("__out_val"),
        *payload,
    )
    w_run = (
        Window.partitionBy(part, "__bkt")
        .orderBy("__k", "__kind")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(part, "__bkt")
    terms = (
        real.unionByName(probe)
        .withColumn("__run", F.sum("__c").over(w_run))
        .withColumn("__tot", F.sum("__c").over(w_tot))
        .select(
            part,
            F.col("__out_val").alias(val),
            *payload,
            F.when(F.col("__kind") == 1, F.col("__run"))
            .otherwise(F.col("__tot") - F.col("__run"))
            .alias("__term"),
        )
    )
    return terms.groupBy(*payload).agg(
        F.first(part).alias(part),
        F.first(val).alias(val),
        F.sum("__term").cast("bigint").alias("n_in_band"),
    )
