"""Coverage for ▣-tier items (SURVEY.md §2): operators that exist in
the engine but aren't oracle-declared — map functions (no map fixture
column / DuckDB map-hash friction), TF-IDF (Spark ML), the rate test
source, and the frafka env-config shim (Tier A14).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from frafka_spark.io import table
from frafka_spark.streaming.config import (
    sink_options_from_env,
    source_options_from_env,
)
from frafka_spark.streaming.source import FrSource

from tests.conftest import SF_DIR


def test_map_functions(spark):
    """create_map / map_keys / map_values / element_at / map_concat."""
    d = table(spark, SF_DIR, "documents").limit(100)
    m = d.select(
        "doc_id",
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("meta"),
    )
    out = m.select(
        "doc_id",
        F.map_keys("meta").alias("ks"),
        F.map_values("meta").alias("vs"),
        F.element_at("meta", "lang").alias("lang"),
        F.map_concat(
            "meta", F.create_map(F.lit("v"), F.lit("1"))
        ).alias("merged"),
    )
    rows = out.collect()
    docs = {r["doc_id"]: r for r in d.collect()}
    for r in rows:
        assert r["ks"] == ["lang", "source"]
        assert r["vs"] == [docs[r["doc_id"]]["lang"], docs[r["doc_id"]]["source"]]
        assert r["lang"] == docs[r["doc_id"]]["lang"]
        assert r["merged"]["v"] == "1" and len(r["merged"]) == 3


def test_tfidf_pipeline(spark):
    """HashingTF + IDF over documents: ranking property, not magic
    numbers — ubiquitous words get ~zero idf, the rare 'dup' marker
    scores high."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    d = table(spark, SF_DIR, "documents").select("doc_id", "text")
    words = Tokenizer(inputCol="text", outputCol="words").transform(d)
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=1 << 12).transform(
        words
    )
    model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    # idf vector: every common word ≈ 0 (df ≈ N), rare words > 2.
    import numpy as np

    idf = np.array(model.idf.toArray())
    htf = HashingTF(inputCol="w", outputCol="v", numFeatures=1 << 12)
    common_idx = (
        htf.transform(spark.createDataFrame([(["table"],)], ["w"]))
        .first()["v"]
        .indices[0]
    )
    rare_idx = (
        htf.transform(spark.createDataFrame([(["dup"],)], ["w"]))
        .first()["v"]
        .indices[0]
    )
    assert idf[common_idx] < 0.5, "ubiquitous word should have ~zero idf"
    assert idf[rare_idx] > 2.0, "rare marker word should have high idf"


def test_rate_source(spark, tmp_path):
    """The rate test source produces monotonically increasing rows."""
    src = FrSource.rate(spark, rows_per_second=500)
    q = (
        src.stream()
        .writeStream.format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 15
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) FROM rate_out").first()[0]
            if n >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    # At-least-once memory sink: assert coverage, not exact-once.
    mx, distinct = spark.sql(
        "SELECT max(value), count(DISTINCT value) FROM rate_out"
    ).first()
    assert distinct >= 100, f"rate source produced only {distinct} distinct rows"
    assert mx >= distinct - 1  # values are a dense 0..max sequence


def test_env_config_shim():
    """frafka's env-var surface maps onto Spark Kafka options (A14)."""
    env = {
        "KAFKA_BROKERS": "b1:9092,b2:9092",
        "KAFKA_TOPICS": "in1,in2",
        "KAFKA_CONSUMER_GROUP": "grp",
        "KAFKA_CONSUME_LATEST": "true",
        "KAFKA_MAX_OFFSETS_PER_TRIGGER": "50000",
    }
    opts = source_options_from_env(env)
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "in1,in2",
        "kafka.group.id": "grp",
        "startingOffsets": "latest",
        "maxOffsetsPerTrigger": "50000",
    }
    assert source_options_from_env({})["startingOffsets"] == "earliest"
    sink = sink_options_from_env({"KAFKA_BROKERS": "b:9092", "KAFKA_TOPIC": "out"})
    assert sink == {"kafka.bootstrap.servers": "b:9092", "topic": "out"}


def test_kafka_source_recipe_shape(spark):
    """FrSource.kafka builds the right readStream recipe (no broker in
    this environment — asserting the declarative construction only)."""
    src = FrSource.kafka(
        spark, env={"KAFKA_BROKERS": "b:9092", "KAFKA_TOPICS": "t"}
    )
    assert src.fmt == "kafka"
    assert src.options["kafka.bootstrap.servers"] == "b:9092"
    assert src.options["subscribe"] == "t"


def test_salted_join_matches_plain_join(spark):
    """Salted skew join ≡ plain join (operators/skew.py)."""
    from frafka_spark.operators.skew import salted_join

    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    s = table(spark, SF_DIR, "supplier").select("s_suppkey", "s_nationkey")
    plain = li.join(s, li.l_suppkey == s.s_suppkey).groupBy("s_nationkey").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    )
    salted = salted_join(li, s, li.l_suppkey == s.s_suppkey, n_salts=4).groupBy(
        "s_nationkey"
    ).agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    diff = plain.join(salted, "s_nationkey").filter(
        (plain.n != salted.n)
    ).count()
    assert diff == 0
    assert plain.count() == salted.count()


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed tables co-locate: the join plans with NO Exchange on
    either side — the zero-shuffle fact⋈fact join scale_notes.md
    promises from the bucketed layout."""
    from frafka_spark.plans.inspect import plan_str, shuffle_count
    from frafka_spark.sources.batch import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
        li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed_table(o, "fs_orders_bkt", "o_orderkey", n_buckets=8)
        write_bucketed_table(li, "fs_lineitem_bkt", "l_orderkey", n_buckets=8)
        bo = spark.table("fs_orders_bkt")
        bl = spark.table("fs_lineitem_bkt")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        assert shuffle_count(joined) == 0, plan_str(joined)
        # and it still computes the right thing
        want = o.join(li, o.o_orderkey == li.l_orderkey).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS fs_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS fs_lineitem_bkt")


def test_range_partitioned_cumsum_equals_global(spark):
    """The distributed running-sum replacement must agree with the
    single-task Window.orderBy formulation row for row, including
    when the cumulated columns carry ties and zeros, and its plan
    must not contain a Window ordered by the data column."""
    from pyspark.sql import Window

    from frafka_spark.operators.stats_tests import range_partitioned_cumsum
    from frafka_spark.plans.inspect import plan_str

    base = (
        spark.range(0, 5000)
        .select(
            (F.col("id") * 2654435761 % 100003).alias("v"),
            (F.col("id") % 7).alias("a"),
            (F.col("id") % 3).alias("b"),
        )
        .groupBy("v")
        .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    )
    got = range_partitioned_cumsum(base, ["v"], ["a", "b"])
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = base.withColumn("cum_a", F.sum("a").over(w)).withColumn(
        "cum_b", F.sum("b").over(w)
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    import re

    plan = plan_str(got)
    win_specs = re.findall(r"\(\d+\) Window[\s\S]*?Arguments: .*", plan)
    assert all(" v#" not in s for s in win_specs), win_specs


def test_range_partitioned_row_number_equals_global(spark):
    """The distributed global-rank replacement must agree with the
    single-task Window.orderBy formulation row for row, and its plan
    must not collapse to a single partition for the ranking step."""
    from pyspark.sql import Window

    from frafka_spark.io import table
    from frafka_spark.operators.windows import range_partitioned_row_number
    from frafka_spark.plans.inspect import plan_str

    o = table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    order = ["o_totalprice", "o_orderkey"]  # unique tiebreak
    got = range_partitioned_row_number(o, order, out="rn")
    w = Window.orderBy(*order)
    want = o.withColumn("rn", F.row_number().over(w).cast("bigint"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # No data-sized single-task sort exists by construction: the only
    # Window over the full data partitions by _pid (pre-checkpoint),
    # and the post-checkpoint plan's lone Window runs over the
    # <=n-partition offsets frame. AQE may legitimately coalesce the
    # tiny final join output to 1 partition at fixture scale, so the
    # output partition count is NOT asserted; the plan must simply be
    # free of a Window ordered by the data columns.
    plan = plan_str(got)
    import re
    win_specs = re.findall(r"\(\d+\) Window[\s\S]*?Arguments: .*", plan)
    assert all("o_totalprice" not in w for w in win_specs), win_specs


def test_range_partitioned_helpers_memoize_per_session(spark):
    """With a ``memo`` triple, both range-partitioned helpers build
    (and physically plan) their checkpoint leg once per session:
    reconstruction returns the SAME registered frame; without a memo
    every call still builds a fresh frame; results are identical
    either way."""
    from frafka_spark.artifacts import session_artifact
    from frafka_spark.io import table
    from frafka_spark.operators.stats_tests import range_partitioned_cumsum
    from frafka_spark.operators.windows import range_partitioned_row_number

    def stored(tag):
        def rebuilt():
            raise AssertionError(f"{tag} was rebuilt")

        return session_artifact(spark, SF_DIR, tag, rebuilt)

    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    order = ["o_totalprice", "o_orderkey"]
    tag = "test_rpn_memo"
    first = range_partitioned_row_number(o, order, out="rn", memo=(spark, SF_DIR, tag))
    assert stored(tag) is first
    second = range_partitioned_row_number(o, order, out="rn", memo=(spark, SF_DIR, tag))
    assert second is first
    plain = range_partitioned_row_number(o, order, out="rn")
    assert plain is not first
    a = sorted(tuple(r) for r in first.collect())
    b = sorted(tuple(r) for r in plain.collect())
    assert a and a == b

    base = o.groupBy("o_totalprice").agg(F.count("*").alias("t"))
    ctag = "test_rpc_memo"
    c1 = range_partitioned_cumsum(
        base, ["o_totalprice"], ["t"], memo=(spark, SF_DIR, ctag)
    )
    c2 = range_partitioned_cumsum(
        base, ["o_totalprice"], ["t"], memo=(spark, SF_DIR, ctag)
    )
    assert c2 is c1 and stored(ctag) is c1


def test_shuffle_width_clamps_plain_session_default(spark):
    """ADVICE r2: a plain session's default 200 must not fan tiny
    fixtures into 200 partitions — clamp to defaultParallelism × 2.
    (Spark 4 validates the conf as numeric at set-time, so the
    non-numeric fallback inside shuffle_width stays defensive-only.)
    """
    from frafka_spark.io import shuffle_width

    df = spark.range(10)
    cap = spark.sparkContext.defaultParallelism * 2
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert shuffle_width(df) == min(200, cap)
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert shuffle_width(df) == 3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_approx_distinct_error_bound(spark):
    """VERDICT r4 item 5: q_agg_approx_distinct is rows-only at the
    driver (HLL estimates are engine-specific), so pin a quantitative
    floor here: relative error vs the exact distinct ≤ 5% per group —
    2.5x the requested rsd=0.02, room for sketch variance without
    ever letting the estimate drift silently."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    approx = {
        r["l_returnflag"]: r
        for r in QUERIES["q_agg_approx_distinct"]
        .fn(spark, SF_DIR)
        .toPandas()
        .to_dict("records")
    }
    li = table(spark, SF_DIR, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
        )
        .toPandas()
        .to_dict("records")
    }
    assert set(approx) == set(exact)
    for flag, a in approx.items():
        e = exact[flag]
        for acol, ecol in (("approx_parts", "exact_parts"),
                           ("approx_orders", "exact_orders")):
            rel = abs(a[acol] - e[ecol]) / e[ecol]
            assert rel <= 0.05, (flag, acol, a[acol], e[ecol], rel)


def test_approx_quantile_error_bound(spark):
    """q_agg_approx_quantile is rows-only at the driver; pin a
    quantitative floor here: the GK sketch's p50/p90 must land within
    0.5% relative value error of the exact interpolated percentile
    per group at sf0.01 (rank error 1e-4 of partition mass)."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    approx = {
        r["o_orderpriority"]: r
        for r in QUERIES["q_agg_approx_quantile"]
        .fn(spark, SF_DIR)
        .toPandas()
        .to_dict("records")
    }
    o = table(spark, SF_DIR, "orders")
    exact = {
        r["o_orderpriority"]: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("exact_p50"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("exact_p90"),
        )
        .toPandas()
        .to_dict("records")
    }
    assert set(approx) == set(exact)
    for prio, a in approx.items():
        e = exact[prio]
        for acol, ecol in (("approx_p50", "exact_p50"), ("approx_p90", "exact_p90")):
            rel = abs(a[acol] - e[ecol]) / abs(e[ecol])
            assert rel <= 0.005, (prio, acol, a[acol], e[ecol], rel)


def test_merge_upsert_shuffle_path_matches_broadcast_path(spark):
    """merge_upsert(broadcast_changes=False) — the table-sized-change
    plan — must produce exactly the broadcast path's rows."""
    from frafka_spark.operators.merge import merge_upsert

    base = table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    changes = base.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.lit(0.0)
    ).unionAll(
        base.filter(F.col("c_custkey") % 11 == 0).withColumn(
            "c_custkey", F.col("c_custkey") + 500000
        )
    )
    a = merge_upsert(base, changes, "c_custkey", broadcast_changes=True)
    b = merge_upsert(base, changes, "c_custkey", broadcast_changes=False)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_anomaly_flag_consistent_with_z(spark):
    """q_events_anomaly: the flag IS |z| > 3, and NULL z never flags."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    from tests.conftest import SF_DIR

    pdf = QUERIES["q_events_anomaly"].fn(spark, SF_DIR).toPandas()
    assert len(pdf) > 0
    assert (pdf["n_base"] >= 12).all()
    nz = pdf[pdf["z"].notna()]
    assert (nz["is_anomaly"] == (nz["z"].abs() > 3.0)).all()
    assert not pdf[pdf["z"].isna()]["is_anomaly"].any()


def test_tpch_q5_broadcasts_all_dims(spark):
    """q_tpch_q5_shape: every dim side broadcasts; the only sort-merge/
    hash exchange joins are the fact-fact orderkey join."""
    import frafka_spark
    from frafka_spark.plans.inspect import plan_str
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    from tests.conftest import SF_DIR

    plan = plan_str(QUERIES["q_tpch_q5_shape"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_top_paths_counts_conserve(spark):
    """q_events_top_paths: exactly K rows, counts descending with
    path tiebreak, every path a 3-step chain of known event types."""
    import frafka_spark
    from frafka_spark.io import table
    from frafka_spark.operators.analytics import TOP_PATHS_K
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    from tests.conftest import SF_DIR

    pdf = QUERIES["q_events_top_paths"].fn(spark, SF_DIR).toPandas()
    assert len(pdf) == TOP_PATHS_K
    pairs = list(zip(pdf["n"], pdf["path"]))
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))
    types = {
        r[0]
        for r in table(spark, SF_DIR, "events").select("event_type").distinct().collect()
    }
    for p in pdf["path"]:
        steps = p.split(">")
        assert len(steps) == 3 and set(steps) <= types


def test_length_trim_partitions_corpus(spark):
    """q_llm_length_trim: per-language tails + kept = total, and the
    tails hold ≈10% each by construction of p10/p90."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    from tests.conftest import SF_DIR

    pdf = QUERIES["q_llm_length_trim"].fn(spark, SF_DIR).toPandas()
    assert ((pdf["n_low"] + pdf["n_high"] + pdf["n_kept"]) == pdf["n_docs"]).all()
    assert (pdf["lo"] <= pdf["hi"]).all()
    # p10/p90 bound each tail by ~10% (ties can push it under, never far over)
    assert (pdf["n_low"] <= 0.11 * pdf["n_docs"] + 1).all()
    assert (pdf["n_high"] <= 0.11 * pdf["n_docs"] + 1).all()


def test_sketch_merge_error_bound(spark):
    """q_agg_sketch_merge is rows-only at the driver (Datasketches
    binaries are engine-specific), so pin the quantitative floor
    here: the merged-sketch estimate must sit within 5% of the exact
    per-nation distinct (lgConfigK=12 ⇒ ~1.6% standard error), and
    the merge must be lossless against a direct one-level sketch."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    rows = QUERIES["q_agg_sketch_merge"].fn(spark, SF_DIR).toPandas()
    assert len(rows) == 25
    assert (rows["err_frac"] <= 0.05).all()
    # merge-losslessness: union of per-segment sketches == one-shot
    # per-nation sketch (Datasketches HLL union is exact over sketches)
    direct = (
        table(spark, SF_DIR, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("c_custkey", F.lit(12))
            ).alias("est_direct")
        )
        .toPandas()
        .set_index("c_nationkey")["est_direct"]
    )
    for _, r in rows.iterrows():
        assert int(r["est_customers"]) == int(direct[r["nationkey"]])


def test_observation_metrics_piggyback_on_query(spark):
    """`Observation` metrics (A6/A11-adjacent observability): a
    pipeline can collect row counts / sums / extremes DURING a query
    it already runs — no second scan — which at 100 TB is the
    difference between free telemetry and doubling the read. The
    observed values must equal a direct aggregation's."""
    from pyspark.sql import Observation

    li = table(spark, SF_DIR, "lineitem")
    obs = Observation("li_metrics")
    out = (
        li.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .filter(F.col("l_quantity") > 25)
        .groupBy("l_returnflag")
        .count()
    )
    out.collect()  # one pass: observation rides the scan
    direct = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("s"),
        F.max("l_extendedprice").alias("m"),
    ).first()
    got = obs.get
    assert got["n_rows"] == direct.n
    assert got["sum_qty"] == direct.s
    assert got["max_price"] == direct.m


def test_cms_one_sided_error_and_bloom_no_false_negatives(spark):
    """Sketch-family structural guarantees (the oracle hash proves
    cross-engine equality; these pin the *math*): a Count-Min
    estimate NEVER undercounts (min over per-row cells each ≥ the
    true count), and a Bloom filter NEVER false-negatives (every
    member's K bits were set by construction)."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    cms = QUERIES["q_agg_cms"].fn(spark, SF_DIR).toPandas()
    assert len(cms) == 10
    assert (cms["over_cnt"] >= 0).all()
    assert (cms["est_cnt"] == cms["true_cnt"] + cms["over_cnt"]).all()

    bloom = QUERIES["q_agg_bloom"].fn(spark, SF_DIR).toPandas()
    assert len(bloom) == 1
    r = bloom.iloc[0]
    assert r["false_negatives"] == 0
    assert r["bloom_positives"] >= r["n_true_members"]
    assert (
        r["bloom_positives"] - r["n_true_members"] == r["false_positives"]
    )
    # geometry: can't set more bits than K·members or M
    assert r["n_bits_set"] <= min(3 * int(r["n_members"]), 4096)


def test_semdedup_and_hard_negative_laws(spark):
    """Structural guarantees behind the wave-3 embedding ops: the
    minimum vec_id of every IVF cell is always kept (the min-id
    keeper rule can't drop the most-canonical member), verdicts
    partition the corpus, and every mined hard negative really is a
    different-label neighbor emitted in descending-cosine rank."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    sd = QUERIES["q_llm_semdedup"].fn(spark, SF_DIR).toPandas()
    assert (sd["kept"] == (sd["n_dups_lower"] == 0)).all()
    first = sd.sort_values("vec_id").groupby("cent_id").first()
    assert first["kept"].all(), "a cell's min vec_id was dropped"

    hn = QUERIES["q_llm_hard_negatives"].fn(spark, SF_DIR).toPandas()
    assert (hn.groupby("vec_id")["rank"].count() == 3).all()
    assert (hn["neighbor_label"] != hn["label"]).all()
    by_rank = hn.sort_values(["vec_id", "rank"]).groupby("vec_id")["cosine"]
    assert (by_rank.apply(lambda s: s.is_monotonic_decreasing)).all()


def test_phonetic_block_and_ab_test_laws(spark):
    """Blocking-join and A/B-readout invariants: every candidate pair
    shares its phonetic key, the verify column is exactly the lev<=2
    rule (red/rod survives it), and the A/B moments account for every
    user with a z whose sign matches the mean difference."""
    import frafka_spark
    from frafka_spark.io import table
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    pb = QUERIES["q_llm_phonetic_block"].fn(spark, SF_DIR).toPandas()
    assert (pb["is_match"] == (pb["lev"] <= 2)).all()
    matches = set(map(tuple, pb[pb["is_match"]][["w1", "w2"]].values))
    assert ("red", "rod") in matches

    ab = QUERIES["q_events_ab_test"].fn(spark, SF_DIR).toPandas().iloc[0]
    n_users = (
        table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert ab["n_a"] + ab["n_b"] == n_users
    assert (ab["welch_z"] > 0) == (ab["diff"] > 0) or ab["diff"] == 0


def test_label_prop_and_markov_laws(spark):
    """Propagation/chain invariants: seeds keep their round-0 label,
    rounds only take values 0/1/2/null, every label is a declared
    event type; the stationary vector is nonnegative and sums to 1e6
    within the documented per-iteration flooring loss."""
    import frafka_spark
    from frafka_spark.operators.graph import MARKOV_ITERS, MARKOV_TYPES
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    lp = QUERIES["q_events_label_prop"].fn(spark, SF_DIR).toPandas()
    seeds = lp[lp["user_id"] % 10 == 0]
    assert (seeds["rnd"] == 0).all()
    assert set(lp["label"].dropna()) <= set(MARKOV_TYPES)
    assert set(lp["rnd"].dropna()) <= {0, 1, 2}

    mk = QUERIES["q_events_markov_stationary"].fn(spark, SF_DIR).toPandas()
    assert len(mk) == len(MARKOV_TYPES)
    assert (mk["stationary_micro"] >= 0).all()
    total = mk["stationary_micro"].sum()
    loss_bound = (len(MARKOV_TYPES) + 1) * (MARKOV_ITERS + 1)
    assert 1_000_000 - loss_bound <= total <= 1_000_000


def test_modularity_pagerank_cuped_laws(spark):
    """Wave-4 invariants: modularity's integer accounting ties out
    (Σ degree_sum = 2m, Σ e_intra <= m, Q = Σcontrib/4m² within the
    display pin, Q in [-1, 1]); PageRank emits the top-15 with
    positive ranks and degrees; CUPED's variance reduction is a
    fraction and theta has the sign of the pooled covariance."""
    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    mo = QUERIES["q_events_modularity"].fn(spark, SF_DIR).toPandas()
    m = int(mo["m_edges"].iloc[0])
    assert mo["degree_sum"].sum() == 2 * m
    assert mo["e_intra"].sum() <= m
    q = mo["modularity"].iloc[0]
    assert -1.0 <= q <= 1.0
    assert abs(q - mo["q_contrib"].sum() / (4.0 * m * m)) < 1e-6

    pr = QUERIES["q_events_pagerank"].fn(spark, SF_DIR).toPandas()
    assert len(pr) == 15
    assert (pr["pagerank_micro"] > 0).all() and (pr["degree"] > 0).all()
    assert pr["pagerank_micro"].is_monotonic_decreasing

    cu = QUERIES["q_events_ab_cuped"].fn(spark, SF_DIR).toPandas().iloc[0]
    assert 0.0 <= cu["var_reduction"] <= 1.0


def test_did_srm_mde_kcore_variant_laws(spark):
    """Wave-5 invariants. Experimentation: DiD equals the four-mean
    identity within the display pin, SRM's verdict is consistent with
    the χ² statistic vs the shared critical value, and the MDE ties
    out against SE via the shared z constants. Graph: the k-core
    audit is monotone non-increasing in both vertices and edges,
    covers rounds 0..R exactly, and has gone constant by the final
    round (the fixed round count reached the peel's fixed point).
    VARIANT: the type introspections are the pinned constants and the
    null/missing verdicts hold for every row."""
    import frafka_spark
    from frafka_spark.functions.variant import _TAGS_TYPE, _VTYPE
    from frafka_spark.operators.experiments import _SRM_CRIT
    from frafka_spark.operators.graph import KCORE_ROUNDS
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    did = QUERIES["q_events_did"].fn(spark, SF_DIR).toPandas().iloc[0]
    ident = (did["post_a"] - did["pre_a"]) - (did["post_b"] - did["pre_b"])
    assert abs(did["did"] - ident) < 2e-4  # four display roundings

    srm = QUERIES["q_events_srm"].fn(spark, SF_DIR).toPandas().iloc[0]
    assert srm["chi2"] >= 0.0
    # the rounded statistic sits far from the threshold on every
    # fixture, so the display value must agree with the verdict
    assert bool(srm["srm_detected"]) == (srm["chi2"] > _SRM_CRIT)

    mde = QUERIES["q_events_power_mde"].fn(spark, SF_DIR).toPandas().iloc[0]
    assert mde["se"] > 0 and mde["mde_abs"] > 0 and mde["mde_rel"] > 0
    assert abs(mde["mde_abs"] - 2.801585 * mde["se"]) < 1e-2

    kc = QUERIES["q_events_kcore"].fn(spark, SF_DIR).toPandas()
    kc = kc.sort_values("round").reset_index(drop=True)
    assert list(kc["round"]) == list(range(KCORE_ROUNDS + 1))
    assert kc["n_vertices"].is_monotonic_decreasing
    assert kc["n_edges"].is_monotonic_decreasing
    last, prev = kc.iloc[-1], kc.iloc[-2]
    assert last["n_vertices"] == prev["n_vertices"]
    assert last["n_edges"] == prev["n_edges"]

    va = QUERIES["q_fn_variant"].fn(spark, SF_DIR).toPandas()
    assert (va["vtype"] == _VTYPE).all()
    assert (va["tags_type"] == _TAGS_TYPE).all()
    assert va["nul_is_null"].all() and (~va["miss_is_null"]).all()
    assert va["miss"].isna().all()


def test_sparse_cosine_and_ols2_laws(spark):
    """Wave-6 invariants. Sparse cosine: pairs are ordered
    (doc1 < doc2) with positive integer dots and cosines inside
    [floor, 1]; the planted near-dup pairs q_llm_dedup_near detects
    must surface here too (exact cosine is a superset detector at
    this floor). OLS: R² is a fraction, coefficients are finite, and
    the fit reproduces the single-feature regression when run on the
    same moments (cross-check vs numpy's lstsq on the per-user
    relation)."""
    import numpy as np

    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    sc = QUERIES["q_llm_sparse_cosine"].fn(spark, SF_DIR).toPandas()
    assert (sc["doc1"] < sc["doc2"]).all()
    assert (sc["dot"] > 0).all()
    assert ((sc["cosine"] >= 0.5) & (sc["cosine"] <= 1.0)).all()

    ols = QUERIES["q_events_ols2"].fn(spark, SF_DIR).toPandas().iloc[0]
    assert 0.0 <= ols["r2"] <= 1.0
    assert np.isfinite([ols["b0"], ols["b1"], ols["b2"]]).all()
    # independent reference fit on the same per-user design matrix
    from frafka_spark.io import table
    from pyspark.sql import functions as F

    pu = (
        table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x1"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x2"),
        )
        .toPandas()
    )
    X = np.column_stack([np.ones(len(pu)), pu["x1"], pu["x2"]])
    beta, *_ = np.linalg.lstsq(X, pu["y"].to_numpy(dtype=float), rcond=None)
    assert abs(ols["b0"] - beta[0]) < 1e-4
    assert abs(ols["b1"] - beta[1]) < 1e-4
    assert abs(ols["b2"] - beta[2]) < 1e-4


def test_pq_laws(spark):
    """PQ invariants: every vector gets exactly M codes (one per
    subspace), codes come from the declared codebook range,
    quantization errors are nonnegative, and a codebook vector's own
    subspace quantizes to ITSELF with zero error (min-distance
    identity)."""
    import frafka_spark
    from frafka_spark.llm.pq import PQ_CODES, PQ_M
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    pq = QUERIES["q_llm_embed_pq"].fn(spark, SF_DIR).toPandas()
    per_vec = pq.groupby("vec_id")["sub"].count()
    assert (per_vec == PQ_M).all()
    assert pq["code_id"].between(0, PQ_CODES - 1).all()
    assert (pq["qerr"] >= 0).all()
    own = pq[pq["vec_id"] < PQ_CODES]
    assert (own["code_id"] == own["vec_id"]).all()
    assert (own["qerr"] == 0).all()


def test_pq_adc_laws(spark):
    """ADC invariants: one row per declared query vector, hit is
    exactly the id-equality predicate, and both the exact and the
    ADC (reconstruction-space) distances are nonnegative squared
    L2 values."""
    import frafka_spark
    from frafka_spark.llm.pq import PQ_CODES, PQ_QUERY_N
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    adc = QUERIES["q_llm_pq_adc"].fn(spark, SF_DIR).toPandas()
    assert adc["q_id"].between(PQ_CODES, PQ_CODES + PQ_QUERY_N - 1).all()
    assert adc["q_id"].is_unique
    # every declared query vector produced a row — a dropped query id
    # (e.g. a lut-leg join regression) must fail here, not pass silently
    assert len(adc) == PQ_QUERY_N
    assert (adc["hit"] == (adc["adc_id"] == adc["exact_id"])).all()
    assert (adc["exact_d"] >= 0).all()
    assert (adc["adc_d"] >= 0).all()


def test_alert_episodes_match_reference_machine(spark):
    """The lo-row segmentation identity: the declared batch hysteresis
    key must reproduce, episode for episode, what a sequential
    single-pass reference state machine produces on the same
    per-minute dec_avg series (the same machine LOGIC the streaming
    test pins alert_stream against, there on round(avg) values — the
    state-machine semantics agree across paradigms; the literal rows
    differ only by the value rounding each side declares)."""
    import frafka_spark
    from pyspark.sql import functions as F

    from frafka_spark.functions.determinism import dec_avg
    from frafka_spark.io import table
    from frafka_spark.operators.alerting import ALERT_HI, ALERT_LO
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()
    obs = (
        table(spark, SF_DIR, "events")
        .groupBy(
            F.col("event_type").alias("key"),
            F.floor(F.unix_timestamp("ts") / 60).cast("bigint").alias("mi"),
        )
        .agg(dec_avg("value", "v"))
        .orderBy("key", "mi")
        .toPandas()
    )
    want = set()
    for key, grp in obs.groupby("key"):
        active, opened, peak, n = False, 0, 0.0, 0
        for mi, v in zip(grp["mi"], grp["v"]):
            mi, v = int(mi), float(v)
            if not active:
                if v > ALERT_HI:
                    active, opened, peak, n = True, mi, v, 1
            else:
                n += 1
                peak = max(peak, v)
                if v < ALERT_LO:
                    want.add((key, opened, mi, round(peak, 4), n))
                    active = False
    assert len(want) > 5  # the fixture exercises the machine

    got = QUERIES["q_events_alert_episodes"].fn(spark, SF_DIR).toPandas()
    got_set = {
        (r.key, int(r.opened_mi), int(r.closed_mi), round(r.peak, 4),
         int(r.n_points))
        for r in got.itertuples(index=False)
    }
    assert got_set == want
