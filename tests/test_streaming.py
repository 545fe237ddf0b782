"""Streaming parity-layer tests (SURVEY.md §5.3.2).

Mirrors the reference's integration-test strategy — round-trips
through a source and sink with Ack/Fail bookkeeping
[upstream: frafka/kafka_integration_test.go — SURVEY.md §5.1] — but
replayed from files with Trigger.AvailableNow instead of a live
Kafka (none exists in this environment, FIXTURES.md § streaming).

Covers: file-replay round-trip, per-record Fail→DLQ split, the
Events() feed, watermark late-data drop, dropDuplicatesWithinWatermark,
stream-static join, stream-stream join, applyInPandasWithState.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from frafka_spark.io import table
from frafka_spark.streaming.pipeline import Pipeline, record_transform
from frafka_spark.streaming.sink import FrSink
from frafka_spark.streaming.source import FrSource

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Fixture events re-written as 4 µs-timestamp parquet files."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def _stream_events(spark, path, files_per_trigger=2):
    return FrSource.files(
        spark, path, EVENTS_DDL, max_files_per_trigger=files_per_trigger
    )


def test_file_replay_roundtrip(spark, events_dir, tmp_path):
    """Replay→transform→sink equals the batch computation (A2/A10)."""
    out = str(tmp_path / "out")

    def transform(df):
        return df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "value"
        )

    pipe = Pipeline(
        source=_stream_events(spark, events_dir),
        transform=transform,
        sink=FrSink.parquet(out),
        checkpoint=str(tmp_path / "ckpt"),
    )
    pipe.run_to_completion()

    got = spark.read.parquet(out)
    want = transform(table(spark, SF_DIR, "events"))
    assert got.count() == want.count()
    assert got.select(F.sum("event_id")).first()[0] == want.select(
        F.sum("event_id")
    ).first()[0]


def test_dlq_split_ack_fail(spark, events_dir, tmp_path):
    """Per-record Fail routes to the DLQ; batch still commits (A5/A7).

    The direct analog of frafka's Fail-path tests: poison records
    (value > 195 here) raise inside the per-record transform; they
    must land in the fail sink with the error attached while every
    healthy record is processed and acked.
    """
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")

    def per_record(rec: dict) -> dict:
        if rec["value"] > 195.0:
            raise ValueError(f"poison value {rec['value']:.1f}")
        return {"event_id": rec["event_id"], "score": rec["value"] * 2.0}

    pipe = Pipeline(
        source=_stream_events(spark, events_dir),
        transform=record_transform(per_record, "event_id bigint, score double"),
        sink=FrSink.parquet(out),
        fail_sink=FrSink.parquet(dlq),
        checkpoint=str(tmp_path / "ckpt"),
    )
    pipe.run_to_completion()

    events = table(spark, SF_DIR, "events")
    n_total = events.count()
    n_poison = events.filter(F.col("value") > 195.0).count()
    assert n_poison > 0, "fixture should contain poison rows"

    good = spark.read.parquet(out)
    bad = spark.read.parquet(dlq)
    assert good.count() == n_total - n_poison  # Ack'd
    assert bad.count() == n_poison  # Fail'd → DLQ
    assert bad.filter(F.col("_fr_error").contains("poison value")).count() == n_poison
    # DLQ keeps the original payload for replay (frizzle FailSink parity).
    assert bad.filter(F.col("_fr_source").isNull()).count() == 0


def test_events_feed(spark, events_dir, tmp_path):
    """The async Events() feed surfaces progress + termination (A11)."""
    pipe = Pipeline(
        source=_stream_events(spark, events_dir),
        transform=lambda df: df.select("event_id"),
        sink=FrSink.parquet(str(tmp_path / "out")),
        checkpoint=str(tmp_path / "ckpt"),
    )
    pipe.run_to_completion()
    time.sleep(1.0)  # listener callbacks are async
    kinds = {e.kind for e in pipe.events()}
    assert "progress" in kinds
    assert "error" not in kinds


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late rows beyond the watermark are excluded from window aggs (B9).

    Two-phase replay through one checkpoint: query 1 processes the
    on-time file and commits its watermark (max ts − 10 min) to the
    checkpoint WAL; query 2 restarts from the checkpoint and sees only
    the late file — its rows are weeks behind the restored watermark
    and must be dropped by the stateful aggregation. (A single
    multi-file run would depend on intra-query file ordering, which
    FileStreamSource doesn't guarantee.)
    """
    import glob
    import shutil

    e = table(spark, SF_DIR, "events").filter(F.col("user_id") < 20)
    on_time = e.filter(F.col("ts") >= F.lit("2024-01-03"))
    late = e.filter(F.col("ts") < F.lit("2024-01-02"))
    assert late.count() > 0

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)

    def stage(df, name):
        phase = str(tmp_path / f"phase_{name}")
        df.coalesce(1).write.parquet(phase)
        (part,) = glob.glob(f"{phase}/part-*.parquet")
        shutil.copy(part, f"{src_dir}/{name}.parquet")

    def run_available_now():
        stream = FrSource.files(
            spark, src_dir, EVENTS_DDL, max_files_per_trigger=1
        ).stream()
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.select("w.start", "w.end", "user_id", "n")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(on_time, "f0_on_time")
    run_available_now()
    stage(late, "f1_late")
    run_available_now()

    out = spark.read.parquet(str(tmp_path / "out"))
    # Nothing from the late file's time range may appear...
    assert out.filter(F.col("start") < F.lit("2024-01-02")).count() == 0
    # ...while every on-time row whose window closed is accounted for.
    max_ts = on_time.agg(F.max("ts")).first()[0]
    closed = on_time.filter(
        F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    ).count()
    assert out.agg(F.coalesce(F.sum("n"), F.lit(0))).first()[0] == closed


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup: redelivered ids collapse to one row (B9).

    Simulates the at-least-once redelivery the reference exhibits on
    crash-between-deliver-and-commit (SURVEY.md §2 Tier A4 note).
    """
    e = table(spark, SF_DIR, "events").filter(F.col("user_id") < 10)
    dup_dir = str(tmp_path / "dups")
    # The same events written twice = exact redelivery.
    e.coalesce(1).write.mode("overwrite").parquet(dup_dir)
    e.coalesce(1).write.mode("append").parquet(dup_dir)

    stream = FrSource.files(spark, dup_dir, EVENTS_DDL, max_files_per_trigger=1).stream()
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT count(DISTINCT event_id), count(*) FROM dedup_out").first()
    assert n[0] == e.count()
    assert n[1] == e.count()  # no duplicate emissions


def test_stream_static_join(spark, events_dir, tmp_path):
    """Stream ⋈ static dimension (broadcast — no stream state) (B9)."""
    customers = table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = _stream_events(spark, events_dir).stream()
    joined = stream.join(F.broadcast(customers), "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want = (
        table(spark, SF_DIR, "events").join(customers, "user_id").count()
    )
    assert spark.sql("SELECT count(*) FROM ss_join_out").first()[0] == want


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-range condition."""
    e = table(spark, SF_DIR, "events").filter(F.col("user_id") < 30)
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    c_dir, p_dir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    clicks.coalesce(2).write.mode("overwrite").parquet(c_dir)
    purchases.coalesce(2).write.mode("overwrite").parquet(p_dir)

    cs = (
        FrSource.files(spark, c_dir, EVENTS_DDL, max_files_per_trigger=None)
        .stream()
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    ps = (
        FrSource.files(spark, p_dir, EVENTS_DDL, max_files_per_trigger=None)
        .stream()
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = cs.join(
        ps,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss2_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = (
        clicks.alias("c")
        .join(
            purchases.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .count()
    )
    assert spark.sql("SELECT count(*) FROM ss2_out").first()[0] == want


def test_apply_in_pandas_with_state(spark, events_dir, tmp_path):
    """Arbitrary stateful op: per-user running counts across batches (B9)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_per_user(key, pdfs, state: GroupState):
        if state.exists:
            (n,) = state.get
        else:
            n = 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_so_far": [n]})

    stream = _stream_events(spark, events_dir, files_per_trigger=1).stream()
    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_per_user,
        outputStructType="user_id bigint, n_so_far bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        counted.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.sql(
        "SELECT user_id, max(n_so_far) AS n FROM state_out GROUP BY user_id"
    )
    want = table(spark, SF_DIR, "events").groupBy("user_id").count()
    diff = (
        got.join(want, "user_id")
        .filter(F.col("n") != F.col("count"))
        .count()
    )
    assert diff == 0
    assert got.count() == want.count()


def test_pipeline_checkpoint_recovery(spark, tmp_path):
    """Restarting a Pipeline on the same checkpoint resumes without
    reprocessing (A4/A8: Ack durability + clean Stop/Close).

    Phase 1 processes the initial file set and stops; phase 2 sees one
    new file. The sink must hold each input row exactly once — a
    restart that replayed acked offsets would duplicate phase-1 rows.
    """
    import glob
    import shutil

    src_dir, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src_dir)
    e = table(spark, SF_DIR, "events")

    def stage(df, name):
        phase = str(tmp_path / f"phase_{name}")
        df.coalesce(1).write.parquet(phase)
        (part,) = glob.glob(f"{phase}/part-*.parquet")
        shutil.copy(part, f"{src_dir}/{name}.parquet")

    def run_once():
        pipe = Pipeline(
            source=FrSource.files(spark, src_dir, EVENTS_DDL),
            transform=lambda df: df.select("event_id", "user_id"),
            sink=FrSink.parquet(out),
            checkpoint=str(tmp_path / "ckpt"),
        )
        pipe.run_to_completion()
        pipe.close()

    first = e.filter(F.col("event_id") < 500)
    second = e.filter(F.col("event_id").between(500, 599))
    stage(first, "f0")
    run_once()
    assert spark.read.parquet(out).count() == first.count()

    stage(second, "f1")
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == first.count() + second.count()  # no replays
    assert got.select("event_id").distinct().count() == got.count()


def test_transform_with_state(spark, events_dir, tmp_path):
    """Spark 4 transformWithStateInPandas: per-key ValueState counts
    across micro-batches (the successor API to applyInPandasWithState).

    The state-server protocol needs google.protobuf, which is not in
    this image (and installs are disallowed) — skipped when absent;
    applyInPandasWithState above covers the stateful-op category.
    """
    pytest.importorskip(
        "google.protobuf", reason="transformWithState needs protobuf (not in image)"
    )
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_so_far": [n]})

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store (also the
    # provider scale_notes.md prescribes for 100 TB state volumes).
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = _stream_events(spark, events_dir, files_per_trigger=1).stream()
    counted = stream.groupBy("user_id").transformWithStateInPandas(
        CountProcessor(),
        outputStructType="user_id bigint, n_so_far bigint",
        outputMode="Update",
        timeMode="None",
    )
    q = (
        counted.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.sql("SELECT user_id, max(n_so_far) AS n FROM tws_out GROUP BY user_id")
    want = table(spark, SF_DIR, "events").groupBy("user_id").count()
    assert (
        got.join(want, "user_id").filter(F.col("n") != F.col("count")).count() == 0
    )
    assert got.count() == want.count()


def test_per_row_topic_routing_executes(spark, events_dir, tmp_path):
    """A10 beyond construction: per-row topic routing actually runs.

    The kafka producer sink routes each row by its ``topic`` column;
    with no broker available, FrSink.topic_routed_parquet applies the
    identical per-row destination contract (partitioned write on
    ``topic``). The transform assigns topics from row content, the
    pipeline streams through foreachBatch, and the assertion reads
    each topic's partition back — proving destination selection
    happened per row, not per query.
    """
    out = str(tmp_path / "routed")

    def route(df):
        return df.select(
            "event_id",
            "event_type",
            F.when(F.col("value") > 100.0, "hot").otherwise("cold").alias("topic"),
        )

    pipe = Pipeline(
        source=_stream_events(spark, events_dir),
        transform=route,
        sink=FrSink.topic_routed_parquet(out),
        checkpoint=str(tmp_path / "ckpt"),
    )
    pipe.run_to_completion()
    pipe.close()

    events = table(spark, SF_DIR, "events")
    n_hot = events.filter(F.col("value") > 100.0).count()
    n_cold = events.count() - n_hot
    assert n_hot > 0 and n_cold > 0, "fixture should populate both topics"

    hot = spark.read.parquet(f"{out}/topic=hot")
    cold = spark.read.parquet(f"{out}/topic=cold")
    assert hot.count() == n_hot
    assert cold.count() == n_cold
    # routing is content-correct, not just count-correct
    hot_ids = {r["event_id"] for r in hot.select("event_id").collect()}
    expect_hot = {
        r["event_id"]
        for r in events.filter(F.col("value") > 100.0).select("event_id").collect()
    }
    assert hot_ids == expect_hot


def test_idempotent_sink_survives_batch_redelivery(spark, events_dir, tmp_path):
    """Exactly-once upgrade (beyond frafka's at-least-once): a batch
    re-delivered after a mid-batch crash must REPLACE its own output,
    not append beside it. foreachBatch re-runs with the SAME batch_id
    on recovery, so the txn sink's dynamic partition overwrite makes
    the write idempotent; distinct batches never touch each other."""
    out = str(tmp_path / "txn_out")
    redelivery = Pipeline(
        source=FrSource.files(spark, events_dir, EVENTS_DDL),
        transform=lambda df: df.select("event_id", "user_id"),
        sink=FrSink.parquet_txn(out),
        checkpoint=str(tmp_path / "ckpt"),
    )
    b0 = table(spark, SF_DIR, "events").limit(100).select("event_id", "user_id")
    b1 = table(spark, SF_DIR, "events").limit(150).select("event_id", "user_id")

    redelivery._process_batch(b0, 0)
    redelivery._process_batch(b0, 0)  # simulated crash re-delivery, same id
    got = spark.read.parquet(out)
    assert got.count() == 100  # replaced, not appended

    redelivery._process_batch(b1, 1)  # a NEW batch coexists untouched
    got = spark.read.parquet(out)
    assert got.count() == 250
    assert got.filter(F.col("_batch_id") == 0).count() == 100

    # and the same sink works end-to-end through the streaming engine
    # (separate output: a fresh checkpoint restarts batch ids at 0,
    # which would — correctly — overwrite the manual batches above)
    out2 = str(tmp_path / "txn_out2")
    streaming = Pipeline(
        source=FrSource.files(spark, events_dir, EVENTS_DDL),
        transform=lambda df: df.select("event_id", "user_id"),
        sink=FrSink.parquet_txn(out2),
        checkpoint=str(tmp_path / "ckpt2"),
    )
    streaming.run_to_completion()
    streaming.close()
    n_events = table(spark, SF_DIR, "events").count()
    got2 = spark.read.parquet(out2)
    assert got2.count() == n_events
    assert got2.select("event_id").distinct().count() == n_events


def test_dlq_exactly_once_under_batch_redelivery(spark, events_dir, tmp_path):
    """The DLQ is written before the main sink, so a crash between the
    two writes redelivers a batch whose poison rows already landed.
    With a ``parquet_txn`` fail sink beside the manifest sink, every
    redelivery (after that crash, and again after a full commit)
    leaves each poison id in the DLQ once and each good id in the
    table once."""
    from frafka_spark.sources import manifest_table as mt

    tbl = str(tmp_path / "tbl")
    dlq = str(tmp_path / "dlq")

    def per_record(rec: dict) -> dict:
        if rec["value"] > 195.0:
            raise ValueError(f"poison value {rec['value']:.1f}")
        return {"event_id": rec["event_id"]}

    pipe = Pipeline(
        source=FrSource.files(spark, events_dir, EVENTS_DDL),
        transform=record_transform(per_record, "event_id bigint"),
        sink=FrSink.manifest(tbl),
        fail_sink=FrSink.parquet_txn(dlq),
    )
    batch = table(spark, SF_DIR, "events").filter(F.col("event_id") < 1000)
    ids = {r.event_id: r.value > 195.0 for r in batch.collect()}
    poison = sorted(i for i, bad in ids.items() if bad)
    good = sorted(i for i, bad in ids.items() if not bad)
    assert poison and good

    def crash(staged, batch_id):
        raise RuntimeError("crash after the DLQ write")

    main = pipe.sink
    pipe.sink = FrSink.manifest(tbl)
    pipe.sink.publish = crash
    with pytest.raises(RuntimeError, match="crash after the DLQ write"):
        pipe._process_batch(batch, 7)
    pipe.sink = main
    pipe._process_batch(batch, 7)  # redelivery after the crash
    pipe._process_batch(batch, 7)  # redelivery after a full commit

    dlq_ids = [
        r.event_id
        for r in spark.read.parquet(dlq)
        .select(F.get_json_object("_fr_source", "$.event_id").cast("long").alias("event_id"))
        .collect()
    ]
    assert sorted(dlq_ids) == poison
    assert sorted(r.event_id for r in mt.read_table(spark, tbl).collect()) == good
    assert mt.committed_batch_ids(tbl) == {7}


def _poison_pipeline(spark, events_dir, tbl, dlq, checkpoint=None):
    """Manifest sink + parquet DLQ; ``value > 195`` is poison."""

    def per_record(rec: dict) -> dict:
        if rec["value"] > 195.0:
            raise ValueError(f"poison value {rec['value']:.1f}")
        return {"event_id": rec["event_id"], "score": rec["value"] * 2.0}

    return Pipeline(
        source=FrSource.files(spark, events_dir, EVENTS_DDL),
        transform=record_transform(per_record, "event_id bigint, score double"),
        sink=FrSink.manifest(tbl),
        fail_sink=FrSink.parquet(dlq),
        checkpoint=checkpoint,
    )


def test_split_batch_runs_one_spark_job(spark, events_dir, tmp_path):
    """A micro-batch into a manifest sink with a parquet DLQ is written
    by ONE Spark job, split by outcome; both sides land, and the table
    holds exactly the transform's output columns."""
    from frafka_spark.sources import manifest_table as mt

    tbl, dlq = str(tmp_path / "tbl"), str(tmp_path / "dlq")
    pipe = _poison_pipeline(spark, events_dir, tbl, dlq)
    batch = table(spark, SF_DIR, "events").filter(F.col("event_id") < 1000)
    n_poison = batch.filter(F.col("value") > 195.0).count()
    assert 0 < n_poison < batch.count()

    sc = spark.sparkContext
    sc.setJobGroup("one-job-split", "split batch")
    try:
        pipe._process_batch(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("one-job-split")) == 1

    got = mt.read_table(spark, tbl)
    assert got.columns == ["event_id", "score"]
    assert got.count() == batch.count() - n_poison
    bad = spark.read.parquet(dlq)
    assert bad.count() == n_poison
    assert bad.filter(F.col("_fr_source").isNull()).count() == 0
    assert bad.filter(F.col("event_id").isNotNull()).count() == 0  # NULL output
    assert os.listdir(os.path.join(tbl, "_staging")) == []


def test_split_commits_batches_with_one_empty_side(spark, events_dir, tmp_path):
    """An all-poison batch still commits its batch id (with no table
    rows); a poison-free batch adds no DLQ file."""
    import glob

    from frafka_spark.sources import manifest_table as mt

    tbl, dlq = str(tmp_path / "tbl"), str(tmp_path / "dlq")
    pipe = _poison_pipeline(spark, events_dir, tbl, dlq)
    batch = table(spark, SF_DIR, "events").filter(F.col("event_id") < 1000)
    poison = batch.filter(F.col("value") > 195.0)
    clean = batch.filter(F.col("value") <= 195.0)

    pipe._process_batch(poison, 0)
    assert mt.committed_batch_ids(tbl) == {0}
    assert mt.read_table(spark, tbl).count() == 0
    dlq_files = sorted(glob.glob(f"{dlq}/*.parquet"))
    assert dlq_files and spark.read.parquet(dlq).count() == poison.count()

    pipe._process_batch(clean, 1)
    assert mt.committed_batch_ids(tbl) == {0, 1}
    assert mt.read_table(spark, tbl).count() == clean.count()
    assert sorted(glob.glob(f"{dlq}/*.parquet")) == dlq_files


def test_split_crash_before_publish_leaves_nothing_visible(
    spark, events_dir, tmp_path
):
    """A crash after the staged write and before either publish leaves
    no row in the DLQ or the table; the redelivery commits once."""
    import glob

    from frafka_spark.sources import manifest_table as mt

    tbl, dlq = str(tmp_path / "tbl"), str(tmp_path / "dlq")
    pipe = _poison_pipeline(spark, events_dir, tbl, dlq)
    batch = table(spark, SF_DIR, "events").filter(F.col("event_id") < 1000)
    n_poison = batch.filter(F.col("value") > 195.0).count()

    def crash(staged, batch_id):
        assert staged.files  # the staged write happened
        raise RuntimeError("crash before the DLQ publish")

    dlq_sink = pipe.fail_sink
    pipe.fail_sink = FrSink.parquet(dlq)
    pipe.fail_sink.publish = crash
    with pytest.raises(RuntimeError, match="crash before the DLQ publish"):
        pipe._process_batch(batch, 3)
    assert glob.glob(f"{dlq}/**/*.parquet", recursive=True) == []
    assert mt.current_version(tbl) is None
    assert os.listdir(os.path.join(tbl, "_staging")) == []

    pipe.fail_sink = dlq_sink
    pipe._process_batch(batch, 3)  # the redelivery
    assert mt.committed_batch_ids(tbl) == {3}
    assert mt.current_version(tbl) == 0
    got = mt.read_table(spark, tbl)
    assert got.count() == batch.count() - n_poison
    assert got.select("event_id").distinct().count() == got.count()
    assert spark.read.parquet(dlq).count() == n_poison


def test_split_staging_holds_no_success_marker(spark, events_dir, tmp_path):
    """The staged write leaves no ``_SUCCESS`` marker for publish to
    find (the staging directory has no reader), and still writes a
    ``.crc`` beside each data file."""
    from frafka_spark.sources import manifest_table as mt

    tbl, dlq = str(tmp_path / "tbl"), str(tmp_path / "dlq")
    pipe = _poison_pipeline(spark, events_dir, tbl, dlq)
    batch = table(spark, SF_DIR, "events").filter(F.col("event_id") < 1000)
    n_poison = batch.filter(F.col("value") > 195.0).count()

    listed = []
    publish = pipe.fail_sink.publish

    def spy(staged, batch_id):
        part_dir = os.path.dirname(staged.files[0])
        listed.append(sorted(os.listdir(os.path.dirname(part_dir))))
        listed.append(sorted(os.listdir(part_dir)))
        publish(staged, batch_id)

    pipe.fail_sink.publish = spy
    pipe._process_batch(batch, 0)
    staging, part = listed
    assert staging == ["_fr_ok=false", "_fr_ok=true"]
    data = [f for f in part if f.endswith(".parquet")]
    assert data and all(f".{f}.crc" in part for f in data)
    assert spark.read.parquet(dlq).count() == n_poison
    assert mt.committed_batch_ids(tbl) == {0}


def _checkpoint_file_manager(spark, path: str):
    """The manager Spark's checkpoint logs would use for ``path``."""
    jvm = spark.sparkContext._jvm
    cfm = getattr(
        jvm,
        "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager",
    )
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf), jvm


def test_checkpoint_logs_use_the_filesystem_manager(spark, tmp_path):
    """Checkpoint logs on ``file:`` go through ``FileSystem.rename``,
    whose check-then-rename spawns no ``readlink`` process per file."""
    fm, _ = _checkpoint_file_manager(spark, tmp_path.as_uri())
    assert fm.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_batch_file_is_never_overwritten(spark, tmp_path):
    """``HDFSMetadataLog`` writes each batch file with
    ``createAtomic(overwriteIfPossible=false)`` and relies on a second
    write of the same batch failing with ``FileAlreadyExistsException``
    and leaving the first file's bytes, and its ``.crc``, in place."""
    from py4j.protocol import Py4JJavaError

    offsets = tmp_path / "offsets"
    fm, jvm = _checkpoint_file_manager(spark, tmp_path.as_uri())
    fm.mkdirs(jvm.org.apache.hadoop.fs.Path(offsets.as_uri()))
    batch = jvm.org.apache.hadoop.fs.Path((offsets / "0").as_uri())
    out = fm.createAtomic(batch, False)
    out.write(bytearray(b"first writer"))
    out.close()

    out = fm.createAtomic(batch, False)
    out.write(bytearray(b"second writer"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists.isInstance(err.value.java_exception)
    assert (offsets / "0").read_bytes() == b"first writer"
    assert (offsets / ".0.crc").exists()


def test_two_pipelines_into_one_manifest_table(spark, tmp_path):
    """Redelivery is keyed by stream: two pipelines with different
    checkpoints each commit their own batch 0, 1, … into one table,
    and every row of both lands."""
    from frafka_spark.sources import manifest_table as mt

    tbl = str(tmp_path / "tbl")
    e = table(spark, SF_DIR, "events").filter(F.col("event_id") < 1000)
    n = {}
    for name, cond in (("a", F.col("event_id") % 2 == 0), ("b", F.col("event_id") % 2 == 1)):
        src = str(tmp_path / f"src_{name}")
        part = e.filter(cond)
        n[name] = part.count()
        part.repartition(2).write.parquet(src)
        pipe = Pipeline(
            source=FrSource.files(spark, src, EVENTS_DDL, max_files_per_trigger=1),
            transform=lambda df: df.select("event_id", "value"),
            sink=FrSink.manifest(tbl),
            checkpoint=str(tmp_path / f"ckpt_{name}"),
        )
        pipe.run_to_completion()
        pipe.close()
    got = mt.read_table(spark, tbl)
    assert got.count() == n["a"] + n["b"]
    assert got.select("event_id").distinct().count() == got.count()
    # a direct call is guarded against every stream's batches
    assert mt.write_stream_batch(got.limit(3), 0, tbl) is None


def test_kafka_recipe_loads_when_jar_present(spark):
    """Deploy-delta pin (VERDICT r5 #7): on a cluster that ships
    ``spark-sql-kafka-0-10`` this recipe must resolve and project the
    frizzle-Msg schema with NO code change — only env config. In this
    sandbox the jar is absent (no network to fetch it, no broker to
    talk to), so the test documents the exact failure mode it skips
    on; anything OTHER than "data source not found" is a real recipe
    bug and fails loudly here.

    ``load()`` is lazy for the kafka source — resolving the provider
    and building the plan needs the jar but never contacts a broker,
    so this executes fully on any jar-bearing deployment with a fake
    bootstrap address.
    """
    from frafka_spark.streaming.source import FrSource

    env = {
        "KAFKA_BROKERS": "broker-1:9092,broker-2:9092",
        "KAFKA_TOPICS": "events",
        "KAFKA_CONSUMER_GROUP": "frafka-test",
    }
    try:
        df = FrSource.kafka(spark, env).stream()
    except Exception as exc:
        msg = str(exc)
        assert (
            "Failed to find data source: kafka" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
        ), f"kafka recipe broke before provider resolution: {msg}"
        pytest.skip(
            "spark-sql-kafka jar absent (sandbox); recipe verified up "
            "to provider resolution — deploy with --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        )
    # Jar present: the frizzle-Msg projection must be intact.
    assert [f.name for f in df.schema.fields] == [
        "id", "data", "timestamp", "topic", "partition", "offset",
    ]
    assert df.isStreaming


def test_manifest_stream_sink_exactly_once(spark, tmp_path):
    """write_stream_batch: a real micro-batch stream lands in the
    manifest table exactly once even when a batch is redelivered
    (foreachBatch re-run with the same batch_id after a simulated
    crash) — the A12 idempotent-sink contract on the table format."""
    from pyspark.sql import functions as F

    from frafka_spark.sources import manifest_table as mt

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 6).select(F.col("id").alias("k")).write.json(src)

    stream = spark.readStream.schema("k bigint").json(src)
    seen: list[int] = []

    def sink(df, bid):
        seen.append(bid)
        mt.write_stream_batch(df, bid, tbl)

    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    n = mt.read_table(spark, tbl).count()
    assert n == 6

    # crash-redelivery: rerun the SAME batches manually — all skipped
    batch_df = spark.read.schema("k bigint").json(src)
    for bid in seen:
        assert mt.write_stream_batch(batch_df, bid, tbl) is None
    assert mt.read_table(spark, tbl).count() == 6
    # a genuinely new batch still lands
    assert mt.write_stream_batch(batch_df, max(seen) + 1, tbl) is not None
    assert mt.read_table(spark, tbl).count() == 12


def test_end_to_end_dlq_manifest_restart(spark, tmp_path):
    """The full frafka-parity ingest path in one scenario: file stream
    → per-record transform with poison records → DLQ split → good
    rows committed EXACTLY-ONCE into the native manifest table →
    clean stop → restart on the same checkpoint with new input → no
    replays, no duplicates, redelivered batches skipped by id.

    Ties together A2 (receive), A5/A7 (fail → DLQ), A4 (ack
    durability), A8 (stop/restart), A12 (idempotent flush) and the
    manifest table's snapshot commit in the composition a real
    deployment runs, rather than piecewise.
    """
    import glob
    import shutil

    from frafka_spark.sources import manifest_table as mt

    src_dir = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    dlq = str(tmp_path / "dlq")
    os.makedirs(src_dir)
    e = table(spark, SF_DIR, "events")

    def stage(df, name):
        phase = str(tmp_path / f"phase_{name}")
        df.coalesce(1).write.parquet(phase)
        (part,) = glob.glob(f"{phase}/part-*.parquet")
        shutil.copy(part, f"{src_dir}/{name}.parquet")

    def per_record(rec: dict) -> dict:
        if rec["value"] > 195.0:
            raise ValueError(f"poison value {rec['value']:.1f}")
        return {"event_id": rec["event_id"], "score": rec["value"] * 2.0}

    def run_once():
        pipe = Pipeline(
            source=FrSource.files(spark, src_dir, EVENTS_DDL),
            transform=record_transform(
                per_record, "event_id bigint, score double"
            ),
            sink=FrSink.manifest(tbl),
            fail_sink=FrSink.parquet(dlq),
            checkpoint=str(tmp_path / "ckpt"),
        )
        pipe.run_to_completion()
        pipe.close()

    first = e.filter(F.col("event_id") < 500)
    second = e.filter(F.col("event_id").between(500, 599))

    stage(first, "f0")
    run_once()
    n_poison1 = first.filter(F.col("value") > 195.0).count()
    got1 = mt.read_table(spark, tbl)
    assert got1.count() == first.count() - n_poison1
    # crash-redelivery: re-running any committed batch id is a no-op
    batch_ids = sorted(mt.committed_batch_ids(tbl))
    assert batch_ids, "pipeline should have committed at least one batch"
    replay = got1.limit(5)
    assert mt.write_stream_batch(replay, batch_ids[0], tbl) is None
    assert mt.read_table(spark, tbl).count() == first.count() - n_poison1

    stage(second, "f1")
    run_once()
    n_poison2 = second.filter(F.col("value") > 195.0).count()
    got2 = mt.read_table(spark, tbl)
    want = first.count() + second.count() - n_poison1 - n_poison2
    assert got2.count() == want  # no replays, no loss
    assert got2.select("event_id").distinct().count() == got2.count()
    # the DLQ holds every poison record exactly once, with the error
    bad = spark.read.parquet(dlq)
    assert bad.count() == n_poison1 + n_poison2
    assert (
        bad.filter(F.col("_fr_error").contains("poison value")).count()
        == bad.count()
    )


def test_stream_to_table_incremental_cdf_consumer(spark, tmp_path):
    """The incremental-consumer loop the CDF read exists for: a
    micro-batch stream appends to the manifest table; a downstream
    consumer repeatedly polls read_changes(last_seen, head) and must
    see every streamed row EXACTLY once (append fast path: no row
    re-delivered across polls, versions strictly advance, base
    snapshot never re-read)."""
    from pyspark.sql import functions as F

    from frafka_spark.sources import manifest_table as mt

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    # three source files -> availableNow stream chops them into batches
    for i in range(3):
        spark.range(i * 4, i * 4 + 4).select(
            F.col("id").alias("k")
        ).coalesce(1).write.mode("append").json(src)

    consumed: list[tuple[int, int]] = []  # (k, commit_version)
    last_seen = {"v": None}

    def sink(df, bid):
        mt.write_stream_batch(df, bid, tbl)
        # downstream consumer polls the table's CDF after each commit
        head = mt.current_version(tbl)
        frm = last_seen["v"]
        if frm is None:
            # first poll: bootstrap with the full first snapshot
            rows = [
                (r.k, head)
                for r in mt.read_table(spark, tbl, version=head).collect()
            ]
        else:
            rows = [
                (r.k, r._commit_version)
                for r in mt.read_changes(spark, tbl, frm, head).collect()
            ]
        consumed.extend(rows)
        last_seen["v"] = head

    q = (
        spark.readStream.schema("k bigint")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # exactly-once across the polls: every streamed k seen once
    ks = sorted(k for k, _ in consumed)
    assert ks == list(range(12)), ks
    # each poll's rows tagged with a version > the previous poll's head
    versions = [v for _, v in consumed]
    assert len(set(versions)) == mt.current_version(tbl) + 1
    # a final catch-up poll sees nothing new
    head = mt.current_version(tbl)
    assert mt.read_changes(spark, tbl, last_seen["v"], head).count() == 0


def test_avro_msg_roundtrip_when_connector_present(spark):
    """Deploy-delta pin, Avro edition: frizzle messages commonly ship
    Avro-encoded payloads, and ``from_avro``/``to_avro`` are the
    engine's decode path for them. The core avro jars ship with
    pyspark but the spark-avro SQL connector does NOT (and this
    sandbox has no network to fetch it), so on this image the calls
    raise AVRO_NOT_LOADED — anything else is a real regression and
    fails loudly. On a connector-bearing deployment (--packages
    org.apache.spark:spark-avro_2.13:<spark-version>) the roundtrip
    below executes end-to-end with no code change."""
    from pyspark.sql import functions as F
    from pyspark.sql.avro.functions import from_avro, to_avro

    schema = (
        '{"type":"record","name":"Msg","fields":'
        '[{"name":"k","type":"long"},{"name":"v","type":"string"}]}'
    )
    df = spark.range(3).select(
        F.struct(F.col("id").alias("k"), F.lit("x").alias("v")).alias("s")
    )
    try:
        rows = (
            df.select(to_avro("s").alias("b"))
            .select(from_avro("b", schema).alias("s"))
            .select("s.k", "s.v")
            .collect()
        )
    except Exception as exc:
        msg = str(exc)
        assert "AVRO_NOT_LOADED" in msg or "spark-avro" in msg, (
            f"avro path broke before connector resolution: {msg}"
        )
        pytest.skip(
            "spark-avro connector absent (sandbox); deploy with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    assert sorted((r.k, r.v) for r in rows) == [(0, "x"), (1, "x"), (2, "x")]


def test_interpolate_stream_matches_batch(spark, tmp_path):
    """Streaming linear interpolation (applyInPandasWithState — the
    q_ts_interpolate causal twin, VERDICT r7 #7): replaying the
    per-minute observation feed in three ordered micro-batches must
    reproduce the batch lag+explode interpolation exactly — state
    carries one (minute, value) pair per key across batch
    boundaries, so every interval straddling a trigger still closes.
    """
    from pyspark.sql import Window

    from frafka_spark.streaming.stateful import interpolate_stream

    # Per-(type, minute) observation feed, thinned (every 3rd minute
    # observed) so there are gaps to interpolate.
    obs = (
        table(spark, SF_DIR, "events")
        .groupBy(
            F.col("event_type").alias("key"),
            (F.unix_timestamp("ts") / 60).cast("bigint").alias("mi"),
        )
        .agg(F.round(F.avg("value"), 4).alias("v"))
        .filter(F.col("mi") % 3 == 0)
    )
    # Write three chronological chunks with increasing mtimes so the
    # file source replays them in minute order, one per trigger.
    lo, hi = obs.agg(F.min("mi"), F.max("mi")).first()
    feed = str(tmp_path / "feed")
    step = (hi - lo) // 3 + 1
    for i in range(3):
        (
            obs.filter(
                (F.col("mi") >= lo + i * step) & (F.col("mi") < lo + (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(feed)
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("key string, mi bigint, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        interpolate_stream(stream, max_gap_minutes=60)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("interp_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT key, mi, round(value, 6) AS value, kind FROM interp_out"
    )

    # Batch expectation: same pairwise interpolation via lag + explode.
    w = Window.partitionBy("key").orderBy("mi")
    paired = obs.select(
        "key",
        "mi",
        "v",
        F.lag("mi").over(w).alias("pm"),
        F.lag("v").over(w).alias("pv"),
    )
    first_rows = paired.filter(F.col("pm").isNull()).select(
        "key", "mi", F.col("v").alias("value"), F.lit("obs").alias("kind")
    )
    wide = paired.filter(
        F.col("pm").isNotNull() & ((F.col("mi") - F.col("pm")) > 60)
    ).select("key", "mi", F.col("v").alias("value"), F.lit("obs").alias("kind"))
    interp = (
        paired.filter(
            F.col("pm").isNotNull() & ((F.col("mi") - F.col("pm")) <= 60)
        )
        .select(
            "key",
            "mi",
            "v",
            "pm",
            "pv",
            F.explode(F.sequence(F.col("pm") + 1, F.col("mi"))).alias("m"),
        )
        .select(
            "key",
            F.col("m").alias("mi_out"),
            (
                F.col("pv")
                + (F.col("v") - F.col("pv"))
                * (
                    (F.col("m") - F.col("pm"))
                    / (F.col("mi") - F.col("pm"))
                )
            ).alias("value"),
            F.when(F.col("m") == F.col("mi"), "obs")
            .otherwise("interp")
            .alias("kind"),
        )
        .withColumnRenamed("mi_out", "mi")
    )
    want = first_rows.unionByName(wide).unionByName(interp).select(
        "key", "mi", F.round("value", 6).alias("value"), "kind"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_alert_stream_hysteresis_matches_reference(spark, tmp_path):
    """Streaming hysteresis alerting (applyInPandasWithState #2, the
    state-machine genre): replaying the per-minute feed in three
    ordered micro-batches must produce exactly the episodes a
    single-pass reference state machine produces — episodes that
    straddle trigger boundaries stay open in state and close in a
    later batch."""
    from frafka_spark.streaming.stateful import alert_stream

    HI, LO = 15.0, 5.0
    obs = (
        table(spark, SF_DIR, "events")
        .groupBy(
            F.col("event_type").alias("key"),
            (F.unix_timestamp("ts") / 60).cast("bigint").alias("mi"),
        )
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    pdf = obs.orderBy("key", "mi").toPandas()

    # independent single-pass reference machine
    want = []
    for key, grp in pdf.groupby("key"):
        active, opened, peak, n = False, 0, 0.0, 0
        for mi, v in zip(grp["mi"], grp["v"]):
            mi, v = int(mi), float(v)
            if not active:
                if v > HI:
                    active, opened, peak, n = True, mi, v, 1
            else:
                n += 1
                peak = max(peak, v)
                if v < LO:
                    want.append((key, opened, mi, round(peak, 4), n))
                    active = False
    assert len(want) > 5  # the fixture actually exercises the machine

    lo_mi, hi_mi = int(pdf["mi"].min()), int(pdf["mi"].max())
    feed = str(tmp_path / "feed")
    step = (hi_mi - lo_mi) // 3 + 1
    for i in range(3):
        (
            obs.filter(
                (F.col("mi") >= lo_mi + i * step)
                & (F.col("mi") < lo_mi + (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(feed)
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("key string, mi bigint, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        alert_stream(stream, hi=HI, lo=LO)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("alert_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        (r.key, r.opened_mi, r.closed_mi, round(r.peak, 4), r.n_points)
        for r in spark.sql(
            "SELECT * FROM alert_out ORDER BY key, opened_mi"
        ).collect()
    ]
    assert got == sorted(want)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Streaming per-event sessionization (applyInPandasWithState #3,
    the running-counter genre — VERDICT r8 #5): replaying the event
    feed in three chronological micro-batches must reproduce the
    batch q_events_sessionize tags exactly — sessions that straddle
    trigger boundaries continue from state (last timestamp + running
    ordinals) instead of restarting."""
    import frafka_spark
    from frafka_spark.registry import QUERIES
    from frafka_spark.streaming.stateful import sessionize_stream

    frafka_spark.load_all()

    ev = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    lo_us, hi_us = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    feed = str(tmp_path / "feed")
    step = (hi_us - lo_us) // 3 + 1
    for i in range(3):
        (
            ev.filter(
                (F.col("ts_us") >= lo_us + i * step)
                & (F.col("ts_us") < lo_us + (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(feed)
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("user_id bigint, event_id bigint, ts_us bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT user_id, event_id, session_seq, seq_in_session FROM sess_out"
    )
    want = QUERIES["q_events_sessionize"].fn(spark, SF_DIR).select(
        "user_id", "event_id", "session_seq", "seq_in_session"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # multi-event sessions must actually cross trigger boundaries for
    # the state carry to be exercised
    crossing = (
        got.groupBy("user_id", "session_seq")
        .agg(F.max("seq_in_session").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert crossing > 0


def test_late_drop_matches_streaming_metric(spark, tmp_path):
    """The declared q_stream_late_drop accounting must equal OBSERVED
    streaming behavior (VERDICT r8 #6): replay the same two phases —
    even-event_id feed first (committing watermark = max ts − 10 min
    to the checkpoint), then the odd feed — through a real
    watermarked hour-window aggregation, and the state operator's
    numRowsDroppedByWatermark across the late phase must equal the
    query's total n_late_dropped."""
    import glob
    import shutil

    import frafka_spark
    from frafka_spark.registry import QUERIES

    frafka_spark.load_all()

    e = table(spark, SF_DIR, "events")
    even = e.filter(F.col("event_id") % 2 == 0)
    odd = e.filter(F.col("event_id") % 2 == 1)

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)

    def stage(df, name):
        phase = str(tmp_path / f"phase_{name}")
        df.coalesce(1).write.parquet(phase)
        (part,) = glob.glob(f"{phase}/part-*.parquet")
        shutil.copy(part, f"{src_dir}/{name}.parquet")

    def run_available_now():
        stream = (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.select("w.start", "n")
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )

    stage(even, "f0_on_time")
    dropped_phase1 = run_available_now()
    assert dropped_phase1 == 0  # the on-time feed is one ordered file
    stage(odd, "f1_late")
    dropped_phase2 = run_available_now()

    acct = QUERIES["q_stream_late_drop"].fn(spark, SF_DIR)
    dropped_events = acct.agg(F.sum("n_late_dropped")).first()[0]
    assert dropped_events > 0  # the fixture actually exercises the path
    # numRowsDroppedByWatermark counts rows at the STATE operator,
    # which sits above the map-side partial aggregate — with a
    # single-file late feed (one task), that is exactly one partial
    # row per late window, so the observed metric ties to the
    # declared accounting at window granularity: every window with
    # n_late_dropped > 0 contributed one dropped partial row (the
    # drop rule is per window, so a window's late rows all share one
    # fate — kept and dropped can never mix within a window).
    dropped_windows = acct.filter(F.col("n_late_dropped") > 0).count()
    assert dropped_phase2 == dropped_windows
    # and the kept side stays consistent: kept late windows are
    # exactly those past the watermark, disjoint from dropped ones
    mixed = acct.filter(
        (F.col("n_late_dropped") > 0) & (F.col("n_late_kept") > 0)
    ).count()
    assert mixed == 0


def test_stateful_agg_on_rocksdb_state_store(spark, tmp_path):
    """The RocksDB state store provider (SURVEY §4's '100 TB notes'
    listed it as config-only — this executes it): the same
    watermarked hour-window aggregation runs with state backed by
    RocksDB instead of the in-memory HDFS-backed map, produces
    identical results, and the progress metrics prove the provider
    actually engaged (rocksdb* custom metrics on the state operator).
    At 100 TB this is the difference between executor-heap state and
    spillable on-disk state with incremental checkpointing."""
    ev = (
        table(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 50)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    feed = str(tmp_path / "feed")
    ev.coalesce(1).write.parquet(feed)

    def run(provider_conf: dict, tag: str):
        s = spark.readStream.schema(ev.schema).parquet(feed)
        agg = (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        writer = (
            agg.select(F.col("w.start").alias("start"), "n")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"rdb_{tag}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
        )
        for k, v in provider_conf.items():
            spark.conf.set(k, v)
        try:
            q = writer.start()
            q.awaitTermination()
            custom = [
                op.get("customMetrics", {})
                for p in q.recentProgress
                for op in p["stateOperators"]
            ]
            return (
                spark.sql(f"SELECT start, n FROM rdb_{tag}"),
                custom,
            )
        finally:
            for k in provider_conf:
                spark.conf.unset(k)

    rocks_conf = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }
    got_rocks, custom = run(rocks_conf, "rocks")
    got_default, _ = run({}, "default")
    # provider engaged: rocksdb metrics present on the state operator
    assert any(
        any(k.startswith("rocksdb") for k in c) for c in custom
    ), custom
    # and state backend choice never changes the answer
    assert got_rocks.exceptAll(got_default).count() == 0
    assert got_default.exceptAll(got_rocks).count() == 0
    assert got_rocks.count() > 0


def test_late_drop_boundary_window_end_equals_watermark(spark, tmp_path):
    """The declared drop rule's one semantic choice — a window whose
    end equals the watermark EXACTLY is dropped (window_end ≤ WM,
    Spark's state-eviction boundary) — pinned against real streaming
    on a synthetic feed engineered to land on the boundary: on-time
    max ts = 01:10:00 → watermark 01:00:00; a late 00:30 row's window
    ends exactly 01:00:00 (must drop), a late 01:05 row's window ends
    02:00:00 (must aggregate)."""
    import glob
    import shutil

    import pandas as pd

    def mk(rows, name):
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["ts", "k"]),
            schema="ts string, k int",
        ).select(F.col("ts").cast("timestamp").alias("ts"), "k")
        phase = str(tmp_path / f"phase_{name}")
        df.coalesce(1).write.parquet(phase)
        (part,) = glob.glob(f"{phase}/part-*.parquet")
        os.makedirs(str(tmp_path / "src"), exist_ok=True)
        shutil.copy(part, str(tmp_path / "src" / f"{name}.parquet"))

    def run():
        stream = (
            spark.readStream.schema("ts timestamp, k int")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.select(F.col("w.start").alias("start"), "n")
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )

    mk(
        [("2024-03-01 00:45:00", 0), ("2024-03-01 01:10:00", 0)],
        "f0_on_time",
    )  # max ts 01:10 → committed watermark 01:00:00 exactly
    assert run() == 0
    mk(
        [("2024-03-01 00:30:00", 1), ("2024-03-01 01:05:00", 1)],
        "f1_late",
    )
    dropped = run()
    # the 00:30 row's window [00:00, 01:00) has end == watermark →
    # dropped (one partial row); the 01:05 row survives into state
    assert dropped == 1, dropped
    # the declared rule agrees: win_end <= WM drops, > WM keeps
    wm_us = int(
        pd.Timestamp("2024-03-01 01:10:00").value / 1000
    ) - 600_000_000
    for ts, should_drop in (
        ("2024-03-01 00:30:00", True),
        ("2024-03-01 01:05:00", False),
    ):
        us = int(pd.Timestamp(ts).value / 1000)
        win_end = us - us % 3_600_000_000 + 3_600_000_000
        assert (win_end <= wm_us) is should_drop, ts


def test_sessionize_stream_drops_strictly_late_rows(spark, tmp_path):
    """A row arriving behind the key's state timestamp (strictly
    late — watermark territory) must be DROPPED, not tagged: tagging
    it would move the state timestamp backward and corrupt every
    later gap comparison. Equal timestamps are ties and pass through.
    Three triggers: [t0, t60], then a late t30 (dropped) + tie t60
    (tagged), then t70 (still same session — state was not
    corrupted by the late row)."""
    import glob
    import shutil

    import pandas as pd

    from frafka_spark.streaming.stateful import sessionize_stream

    MIN = 60_000_000
    phases = [
        [(1, 0 * MIN, 10), (1, 60 * MIN, 11)],
        [(1, 30 * MIN, 12), (1, 60 * MIN, 13)],  # late + tie
        [(1, 70 * MIN, 14)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(phases):
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts_us", "event_id"]),
            schema="user_id bigint, ts_us bigint, event_id bigint",
        )
        phase = str(tmp_path / f"p{i}")
        df.coalesce(1).write.parquet(phase)
        (part,) = glob.glob(f"{phase}/part-*.parquet")
        shutil.copy(part, f"{src}/f{i}.parquet")
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("user_id bigint, ts_us bigint, event_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_late")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.event_id: (r.session_seq, r.seq_in_session)
        for r in spark.sql("SELECT * FROM sess_late").collect()
    }
    assert 12 not in got  # the strictly-late row was dropped
    assert got[10] == (1, 1)
    assert got[11] == (2, 1)  # 60-min gap = new session (>= boundary)
    assert got[13] == (2, 2)  # tie with state ts: same session
    # 70 min is 10 min after the last tag — same session, position 3:
    # the late row neither advanced nor rewound the state timestamp
    assert got[14] == (2, 3)


def test_alert_stream_ignores_redelivered_minutes(spark, tmp_path):
    """Redelivered or late minutes must not re-transition the alert
    machine: replaying a batch's rows again (at-least-once territory)
    leaves episodes identical — n_points are not double-counted and
    a stale below-LO value cannot close an episode the machine has
    already moved past."""
    import glob
    import shutil

    import pandas as pd

    from frafka_spark.streaming.stateful import alert_stream

    HI, LO = 10.0, 2.0
    phases = [
        [("k", 1, 20.0), ("k", 2, 25.0)],          # opens, runs
        [("k", 1, 20.0), ("k", 2, 1.0), ("k", 3, 30.0)],  # redelivery + late close attempt
        [("k", 4, 1.0)],                              # genuine close
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(phases):
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["key", "mi", "v"]),
            schema="key string, mi bigint, v double",
        )
        phase = str(tmp_path / f"p{i}")
        df.coalesce(1).write.parquet(phase)
        (part,) = glob.glob(f"{phase}/part-*.parquet")
        shutil.copy(part, f"{src}/f{i}.parquet")
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("key string, mi bigint, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        alert_stream(stream, hi=HI, lo=LO)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("alert_redeliver")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    eps = spark.sql(
        "SELECT opened_mi, closed_mi, peak, n_points FROM alert_redeliver"
    ).collect()
    # exactly ONE episode: opened at minute 1, closed by the genuine
    # minute-4 crossing; the redelivered minute-1/2 rows and the stale
    # minute-2 close attempt were all ignored (phase-2's only fresh
    # row is minute 3)
    assert len(eps) == 1, eps
    (ep,) = eps
    assert (ep.opened_mi, ep.closed_mi) == (1, 4), ep
    assert ep.peak == 30.0 and ep.n_points == 4, ep


def test_sessionize_stream_honors_custom_column_names(spark, tmp_path):
    """sessionize_stream's key/ts/id column parameters must flow into
    the OUTPUT schema too (ADVICE r9: the output frame hardcoded
    user_id/event_id, mislabeling any non-default caller's columns)."""
    import pandas as pd

    from frafka_spark.streaming.stateful import sessionize_stream

    MIN = 60_000_000
    rows = [(7, 0 * MIN, 100), (7, 10 * MIN, 101), (7, 50 * MIN, 102)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["actor", "at_us", "evt"]),
        schema="actor bigint, at_us bigint, evt bigint",
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("actor bigint, at_us bigint, evt bigint")
        .parquet(src)
    )
    q = (
        sessionize_stream(
            stream,
            gap_minutes=30,
            key_col="actor",
            ts_col="at_us",
            id_col="evt",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_custom")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM sess_custom")
    assert out.columns == ["actor", "evt", "session_seq", "seq_in_session"]
    got = {
        r.evt: (r.actor, r.session_seq, r.seq_in_session)
        for r in out.collect()
    }
    assert got == {100: (7, 1, 1), 101: (7, 1, 2), 102: (7, 2, 1)}
