"""Distribution-comparison statistics: KS drift, Mann-Whitney U,
Spearman rank correlation, Benford first-digit audit, and a
functional-dependency audit.

These are the drift/quality monitors a training-data pipeline runs
between ingestion batches ("did the new crawl's quality-score
distribution shift?"): rank/ECDF statistics need no distributional
assumptions, so they are the standard gate before mixing a new source
into a corpus. All four statistics here are *exactly* reproducible
cross-engine: every comparison/count is integer arithmetic, and each
emitted float is ONE identical chain of IEEE double operations on
exact integers, pinned half-up (SURVEY.md §5.4 discipline — engine
``round`` never touches a computed quotient).

Scale shape: the ECDF statistics (KS, MWU) collapse the stream to
per-distinct-value counts first (a partial-aggregating group-by),
then take global running sums via ``range_partitioned_cumsum`` — the
cumulative twin of ``windows.range_partitioned_row_number`` — so no
single-task global window ever sees data-bounded input. The rank
pairing for Spearman runs on the calendar-bounded daily rollup
(broadcast self-join, window-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import half_up, sql_half_up
from frafka_spark.io import table
from frafka_spark.registry import query


def range_partitioned_cumsum(
    df: DataFrame,
    order_by: list,
    cols: list[str],
    memo: tuple | None = None,
) -> DataFrame:
    """Global running sums WITHOUT a single-task global window.

    ``memo``: optional ``(spark, sf_dir, tag)`` — same contract as
    ``range_partitioned_row_number``: the lazy localCheckpoint pays
    physical planning per CONSTRUCTION, so deterministic callers
    build the frame through ``session_artifact`` and pay it once per
    session.

    The cumulative-aggregate twin of
    ``windows.range_partitioned_row_number`` (same mechanics, same
    rationale — see its docstring for the localCheckpoint contract):
    range-partition on the order keys, run the cumulative sums
    per-partition under a ``_pid``-keyed window (distributed state),
    then reconcile with per-partition totals — a frame bounded by
    cluster width, the only place a bare ``Window.orderBy`` appears.

    ``order_by`` must be a total order over ``df`` (callers here
    pass the group-by key of a distinct-value rollup, which is unique
    by construction). Emits ``cum_<c>`` = inclusive running sum for
    each requested column.
    """
    from frafka_spark.io import shuffle_width

    if memo is not None:
        return session_artifact(
            *memo, lambda: range_partitioned_cumsum(df, order_by, cols)
        )

    ranged = df.repartitionByRange(shuffle_width(df), *order_by).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged
    for c in cols:
        local = local.withColumn(f"_cum_{c}", F.sum(c).over(w_local))
    local = local.localCheckpoint(eager=False)
    sizes = local.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_tot_{c}") for c in cols]
    )
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_tot_{c}").over(w_off), F.lit(0)).alias(
                f"_off_{c}"
            )
            for c in cols
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for c in cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_cum_{c}") + F.col(f"_off_{c}"))
    return out.drop(
        "_pid", *[f"_cum_{c}" for c in cols], *[f"_off_{c}" for c in cols]
    )


@query(
    "q_events_ks_drift",
    oracle=f"""
    WITH f AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    pv AS (
        SELECT value, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(ia) AS BIGINT) AS a_c
        FROM f GROUP BY value
    ),
    cum AS (
        SELECT value,
               CAST(sum(a_c) OVER w AS BIGINT) AS ca,
               CAST(sum(t - a_c) OVER w AS BIGINT) AS cb
        FROM pv
        WINDOW w AS (ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
        SELECT CAST(sum(a_c) AS BIGINT) AS n_a,
               CAST(sum(t - a_c) AS BIGINT) AS n_b
        FROM pv
    ),
    d AS (
        SELECT value,
               abs(CAST(ca AS DECIMAL(19,0)) * t.n_b
                   - CAST(cb AS DECIMAL(19,0)) * t.n_a) AS dd
        FROM cum CROSS JOIN tot t
    ),
    best AS (
        SELECT CAST(dd AS DOUBLE) AS d_num, value AS ks_at
        FROM d ORDER BY dd DESC, value ASC LIMIT 1
    )
    SELECT t.n_a, t.n_b, b.ks_at, b.d_num,
           {sql_half_up('b.d_num / (CAST(t.n_a AS DOUBLE) * t.n_b)', 6)}
               AS ks_d
    FROM tot t CROSS JOIN best b
    """,
)
def q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``click``
    and ``view`` value distributions — the distribution-drift gate
    ("did this batch's score distribution move?") in its exact form:
    D = max over observed x of |F_A(x) - F_B(x)|, plus the location
    where the maximum is attained (smallest such value).

    Exactness: the ECDF difference is compared as the INTEGER
    |c_A·n_B - c_B·n_A| (cross-multiplied to clear both denominators;
    DECIMAL(38,0) products so the identity survives row counts past
    2^31 per side), so the argmax is an integer comparison on both
    engines; only the final D divides — one identical double chain,
    half-up pinned. The argmax tiebreak (min value) rides a struct
    max of (diff, -value).

    Scale shape: stream → per-distinct-value counts (partial-agg
    group-by), running counts via ``range_partitioned_cumsum`` (no
    data-bounded single-task window), one broadcast 1-row totals
    frame, and a struct max-aggregate — every wide step is a keyed
    shuffle or a bounded broadcast.
    """
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .filter(F.col("value").isNotNull())
    )
    pv = e.groupBy("value").agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "a_c"
        ),
    )
    cum = range_partitioned_cumsum(
        pv, ["value"], ["a_c", "t"], memo=(spark, sf_dir, "ks_drift_cumsum")
    )
    tot = pv.agg(
        F.sum("a_c").alias("n_a"), F.sum(F.col("t") - F.col("a_c")).alias("n_b")
    )
    st = cum.crossJoin(F.broadcast(tot))
    ca = F.col("cum_a_c").cast("decimal(19,0)")
    cb = (F.col("cum_t") - F.col("cum_a_c")).cast("decimal(19,0)")
    diff = F.abs(ca * F.col("n_b") - cb * F.col("n_a"))
    best = st.agg(
        F.max(F.struct(diff.alias("dd"), (-F.col("value")).alias("nv"))).alias(
            "s"
        )
    ).select(
        F.col("s.dd").cast("double").alias("d_num"),
        (-F.col("s.nv")).alias("ks_at"),
    )
    return tot.crossJoin(F.broadcast(best)).select(
        "n_a",
        "n_b",
        "ks_at",
        "d_num",
        half_up(
            F.col("d_num") / (F.col("n_a").cast("double") * F.col("n_b")), 6
        ).alias("ks_d"),
    )


@query(
    "q_events_mwu",
    oracle=f"""
    WITH f AS (
        SELECT value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
        FROM events
        WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL
    ),
    pv AS (
        SELECT value, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(ia) AS BIGINT) AS a_c
        FROM f GROUP BY value
    ),
    cum AS (
        SELECT value, t, a_c,
               CAST(sum(t) OVER w AS BIGINT) AS ct
        FROM pv
        WINDOW w AS (ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    folds AS (
        SELECT CAST(sum(a_c) AS BIGINT) AS n_a,
               CAST(sum(t - a_c) AS BIGINT) AS n_b,
               CAST(sum(CAST(a_c AS DECIMAL(19,0)) * (2 * ct - t + 1))
                    AS DOUBLE) AS r1d,
               CAST(sum(CAST(t AS DECIMAL(19,0)) * t * t - t) AS DOUBLE)
                   AS ties
        FROM cum
    ),
    terms AS (
        SELECT n_a, n_b,
               (r1d - CAST(n_a AS DOUBLE) * (n_a + 1)) / 2.0 AS u1,
               CAST(n_a AS DOUBLE) * n_b / 2.0 AS mu,
               CAST(n_a AS DOUBLE) * n_b / 12.0
                   * (CAST(n_a + n_b + 1 AS DOUBLE)
                      - ties / (CAST(n_a + n_b AS DOUBLE)
                                * CAST(n_a + n_b - 1 AS DOUBLE))) AS sig2,
               ties
        FROM folds
    )
    SELECT n_a, n_b, u1,
           {sql_half_up('u1 / (CAST(n_a AS DOUBLE) * n_b)', 6)} AS auc,
           {sql_half_up('(u1 - mu) / sqrt(sig2)', 4)} AS z_mwu
    FROM terms
    """,
)
def q_events_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the ``purchase`` and ``error`` value
    distributions, with midrank tie handling and the tie-corrected
    normal approximation — the nonparametric "is A stochastically
    larger than B" gate, plus its effect size (AUC = U/(n_A·n_B),
    the probability a random A value exceeds a random B value).

    Exactness: midranks are kept as DOUBLED ranks (2·cnt_less + t + 1
    — always an integer, never a .5 float), so the rank sum, the tie
    term Σ(t³-t), and all intermediate folds are exact integer sums
    (DECIMAL(19,0) products). U, AUC, and the z statistic are each
    one identical double chain over those integers, half-up pinned.

    Scale shape: same as ``q_events_ks_drift`` — per-value rollup,
    ``range_partitioned_cumsum`` for the strictly-less counts, one
    single-row fold; no data-bounded global window.
    """
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .filter(F.col("value").isNotNull())
    )
    pv = e.groupBy("value").agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "a_c"
        ),
    )
    cum = range_partitioned_cumsum(
        pv, ["value"], ["t"], memo=(spark, sf_dir, "mwu_cumsum")
    )
    td = F.col("t").cast("decimal(19,0)")
    folds = cum.agg(
        F.sum("a_c").alias("n_a"),
        F.sum(F.col("t") - F.col("a_c")).alias("n_b"),
        F.sum(
            F.col("a_c").cast("decimal(19,0)")
            * (2 * F.col("cum_t") - F.col("t") + 1)
        )
        .cast("double")
        .alias("r1d"),
        F.sum(td * F.col("t") * F.col("t") - F.col("t"))
        .cast("double")
        .alias("ties"),
    )
    na_d = F.col("n_a").cast("double")
    nn = F.col("n_a") + F.col("n_b")
    terms = folds.select(
        "n_a",
        "n_b",
        ((F.col("r1d") - na_d * (F.col("n_a") + 1)) / F.lit(2.0)).alias("u1"),
        (na_d * F.col("n_b") / F.lit(2.0)).alias("mu"),
        (
            na_d
            * F.col("n_b")
            / F.lit(12.0)
            * (
                (nn + 1).cast("double")
                - F.col("ties") / (nn.cast("double") * (nn - 1).cast("double"))
            )
        ).alias("sig2"),
    )
    return terms.select(
        "n_a",
        "n_b",
        "u1",
        half_up(F.col("u1") / (na_d * F.col("n_b")), 6).alias("auc"),
        half_up((F.col("u1") - F.col("mu")) / F.sqrt(F.col("sig2")), 4).alias(
            "z_mwu"
        ),
    )


@query(
    "q_events_spearman",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS x,
               CAST(count(DISTINCT user_id) AS BIGINT) AS y
        FROM events GROUP BY day
    ),
    ranked AS (
        SELECT a.day,
               a.x, a.y,
               1 + CAST(sum(CASE WHEN b.x < a.x THEN 2
                                 WHEN b.x = a.x THEN 1 ELSE 0 END)
                        AS BIGINT) AS rx2,
               1 + CAST(sum(CASE WHEN b.y < a.y THEN 2
                                 WHEN b.y = a.y THEN 1 ELSE 0 END)
                        AS BIGINT) AS ry2
        FROM daily a CROSS JOIN daily b
        GROUP BY a.day, a.x, a.y
    ),
    folds AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rx2) AS BIGINT) AS sx,
               CAST(sum(ry2) AS BIGINT) AS sy,
               CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
               CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
               CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
               CAST(sum(x) AS BIGINT) AS rsx,
               CAST(sum(y) AS BIGINT) AS rsy,
               CAST(sum(x * y) AS BIGINT) AS rsxy,
               CAST(sum(x * x) AS BIGINT) AS rsxx,
               CAST(sum(y * y) AS BIGINT) AS rsyy
        FROM ranked
    )
    SELECT n AS n_days,
           {sql_half_up('CAST(n * sxy - sx * sy AS DOUBLE)'
                        ' / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))'
                        ' * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))', 4)}
               AS rho_spearman,
           {sql_half_up('CAST(n * rsxy - rsx * rsy AS DOUBLE)'
                        ' / (sqrt(CAST(n * rsxx - rsx * rsx AS DOUBLE))'
                        ' * sqrt(CAST(n * rsyy - rsy * rsy AS DOUBLE)))', 4)}
               AS r_pearson
    FROM folds
    """,
)
def q_events_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily event volume and daily
    distinct actives (does traffic track audience, monotonically?),
    with the raw Pearson r alongside — divergence between the two
    flags outlier-driven correlation.

    Exactness: midranks as doubled integers (see ``q_events_mwu``),
    assigned WINDOW-FREE by a broadcast self-join on the
    calendar-bounded daily rollup (31 days — the pairing is O(days²),
    not O(events)); both correlations are then one double chain over
    exact BIGINT folds, half-up pinned.

    Scale shape: one partial-agg group-by collapses the stream to
    days; everything after runs on the calendar-bounded spine.
    """
    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.unix_date(F.to_date("ts")).cast("bigint").alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("x"),
            F.countDistinct("user_id").alias("y"),
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    ranked = (
        a.crossJoin(F.broadcast(b))
        .groupBy(F.col("a.day"), F.col("a.x"), F.col("a.y"))
        .agg(
            (
                1
                + F.sum(
                    F.when(F.col("b.x") < F.col("a.x"), 2)
                    .when(F.col("b.x") == F.col("a.x"), 1)
                    .otherwise(0)
                )
            ).alias("rx2"),
            (
                1
                + F.sum(
                    F.when(F.col("b.y") < F.col("a.y"), 2)
                    .when(F.col("b.y") == F.col("a.y"), 1)
                    .otherwise(0)
                )
            ).alias("ry2"),
        )
        .select(
            F.col("a.x").alias("x"), F.col("a.y").alias("y"), "rx2", "ry2"
        )
    )
    folds = ranked.agg(
        F.count("*").alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum("x").alias("rsx"),
        F.sum("y").alias("rsy"),
        F.sum(F.col("x") * F.col("y")).alias("rsxy"),
        F.sum(F.col("x") * F.col("x")).alias("rsxx"),
        F.sum(F.col("y") * F.col("y")).alias("rsyy"),
    )

    def _corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        num = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        va = (n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        vb = (n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
        return half_up(num / (F.sqrt(va) * F.sqrt(vb)), 4)

    return folds.select(
        F.col("n").alias("n_days"),
        _corr("sxy", "sx", "sy", "sxx", "syy").alias("rho_spearman"),
        _corr("rsxy", "rsx", "rsy", "rsxx", "rsyy").alias("r_pearson"),
    )


# floor(log10(1 + 1/d)·1e6 + 0.5)/1e6 for d = 1..9, precomputed once
# and embedded as IDENTICAL decimal literals on both engines (an
# engine-side log10 would not be reproducible: IEEE log10 is not
# required to be correctly rounded and differs across libm builds).
_BENFORD = (
    0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
    0.066947, 0.057992, 0.051153, 0.045757,
)


@query(
    "q_agg_benford",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
    ),
    counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n
        FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           {sql_half_up('CAST(n AS DOUBLE) / total', 6)} AS share,
           CAST(list_extract([{', '.join(str(x) for x in _BENFORD)}], digit)
                AS DOUBLE) AS expected,
           {sql_half_up(
               'CAST(n AS DOUBLE) / total'
               f" - list_extract([{', '.join(str(x) for x in _BENFORD)}],"
               ' digit)', 6)} AS dev
    FROM counts CROSS JOIN tot
    """,
)
def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of ``o_totalprice`` —
    the classic fabricated-data / synthetic-data screen: observed
    first-digit shares vs the Benford expectation log10(1 + 1/d).

    Exactness: the first digit is extracted through the canonical
    BIGINT→string formatting (identical on both engines), never via
    floating log10 — and the Benford expectations are PRECOMPUTED
    6-decimal literals embedded identically on both sides, because
    engine-side log10 is not correctly rounded and may differ across
    libm builds. Shares and deviations are one division each off
    exact integer counts, half-up pinned.

    Scale shape: a 9-bucket hash aggregate with map-side partials and
    a broadcast 1-row total — nothing else.
    """
    o = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.element_at(
        F.array(*[F.lit(x) for x in _BENFORD]), F.col("digit")
    )
    share_raw = F.col("n").cast("double") / F.col("total")
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        half_up(share_raw, 6).alias("share"),
        expected.alias("expected"),
        half_up(share_raw - expected, 6).alias("dev"),
    )


@query(
    "q_agg_fd_audit",
    oracle=f"""
    WITH pairs AS (
        SELECT 'brand->type' AS fd, p_brand AS lhs, p_type AS rhs FROM part
        UNION ALL
        SELECT 'brand->size', p_brand, CAST(p_size AS VARCHAR) FROM part
        UNION ALL
        SELECT 'type->brand', p_type, p_brand FROM part
        UNION ALL
        SELECT 'name->brand', p_name, p_brand FROM part
    ),
    per_lhs AS (
        SELECT fd, lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY fd, lhs
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS lhs_groups,
           CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS viol_groups,
           CAST(sum(CASE WHEN k > 1 THEN n ELSE 0 END) AS BIGINT)
               AS viol_rows,
           CAST(max(k) AS BIGINT) AS max_rhs,
           {sql_half_up('CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)'
                        ' AS DOUBLE) / count(*)', 6)} AS viol_share
    FROM per_lhs GROUP BY fd
    """,
)
def q_agg_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over ``part``: for each candidate
    FD lhs→rhs, how many lhs groups map to more than one rhs (and how
    many rows sit in violating groups) — the schema-inference /
    data-quality profiling primitive next to ``q_agg_profile``.

    Candidates: three that the synthetic catalog violates
    (brand→type, brand→size, type→brand) and one expected to hold
    (name→brand) so both verdict shapes are exercised.

    Exactness: pure integer counting (count / count distinct / max),
    one pinned division for the violation share.

    Scale shape: the candidate set unpivots via a generator projection
    (4 rows out per part row — no join), then two partial-aggregating
    group-bys; distinct-counting per (fd, lhs) shuffles once on the
    audit key. Candidate count is the fan-out factor and is a code
    constant, so cost is linear in input.
    """
    p = table(spark, sf_dir, "part")

    def cand(fd: str, lhs, rhs):
        return F.struct(
            F.lit(fd).alias("fd"), lhs.alias("lhs"), rhs.alias("rhs")
        )

    pairs = p.select(
        F.explode(
            F.array(
                cand("brand->type", F.col("p_brand"), F.col("p_type")),
                cand(
                    "brand->size",
                    F.col("p_brand"),
                    F.col("p_size").cast("string"),
                ),
                cand("type->brand", F.col("p_type"), F.col("p_brand")),
                cand("name->brand", F.col("p_name"), F.col("p_brand")),
            )
        ).alias("c")
    ).select("c.fd", "c.lhs", "c.rhs")
    per_lhs = pairs.groupBy("fd", "lhs").agg(
        F.countDistinct("rhs").alias("k"), F.count("*").alias("n")
    )
    viol = F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
    return per_lhs.groupBy("fd").agg(
        F.count("*").alias("lhs_groups"),
        viol.alias("viol_groups"),
        F.sum(F.when(F.col("k") > 1, F.col("n")).otherwise(0)).alias(
            "viol_rows"
        ),
        F.max("k").alias("max_rhs"),
        half_up(viol.cast("double") / F.count("*"), 6).alias("viol_share"),
    )
