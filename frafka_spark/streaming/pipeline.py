"""Pipeline — the frizzle processing loop re-expressed on Spark.

The reference's whole "engine" is this loop [upstream: frizzle README
§ usage — SURVEY.md §3.3]::

    for msg := range f.Receive() {
        out, err := transform(msg)
        if err != nil { f.Fail(msg) }        // → fail sink (DLQ)
        else          { f.Send(out, topic); f.Ack(msg) }
    }

Spark mapping (SURVEY.md §3.4):

- Receive        → the source micro-batch
- transform      → a DataFrame transformation, or a per-record Python
                   function wrapped in ``mapInPandas`` with per-record
                   error capture (``record_transform``)
- Ack            → micro-batch commit to the checkpoint WAL (offsets
                   advance only after the batch's writes finish —
                   at-least-once, same as the reference)
- Fail/FailSink  → the DLQ split inside ``foreachBatch``: rows whose
                   transform errored go to the fail sink, the rest to
                   the main sink, and the batch still commits
                   [SURVEY.md §7 hard-list #4]. With file sinks on both
                   sides this is one Spark job per micro-batch (see
                   ``Pipeline``)
- Events()       → ``PipelineListener`` (StreamingQueryListener)
                   exposing progress/error events as a drainable list

Scale: everything per-record runs Arrow-batched inside executors; the
driver never sees row data. State (watermarks, dedup, session
windows) lives in the state store, keyed and partitioned — the same
code runs against a 1000-executor Kafka topic set.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import traceback
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import StructType

from frafka_spark.streaming.sink import FrSink, StagedFiles
from frafka_spark.streaming.source import FrSource

ERROR_COL = "_fr_error"
#: partition column of a split write's staging directory (Ack = true)
OK_COL = "_fr_ok"


def _acked(out: DataFrame) -> DataFrame:
    """The rows whose transform succeeded, without the DLQ columns."""
    return out.filter(out[ERROR_COL].isNull()).drop(ERROR_COL, "_fr_source")


def _record_mapper(fn: Callable[[dict], dict | None], out_names: list[str]):
    """The ``mapInPandas`` function of ``record_transform``: ``fn`` per
    record, its ``out_names`` keys, then the two Fail columns."""
    columns = [*out_names, ERROR_COL, "_fr_source"]

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                try:
                    out = fn(rec) or {}
                    out = {k: out.get(k) for k in out_names}
                    out[ERROR_COL] = None
                    out["_fr_source"] = None
                except Exception as exc:  # per-record Fail path
                    out = dict.fromkeys(out_names)
                    out[ERROR_COL] = f"{type(exc).__name__}: {exc}"
                    out["_fr_source"] = json.dumps(rec, default=str)
                rows.append(out)
            yield pd.DataFrame(rows, columns=columns)

    return mapper


def record_transform(
    fn: Callable[[dict], dict | None],
    output_schema: str,
) -> Callable[[DataFrame], DataFrame]:
    """Wrap a per-record Python function with per-record error capture.

    frizzle parity: ``fn(record_dict) -> out_dict`` may raise (=Fail)
    or return the transformed record (=ok). The wrapper runs it over
    Arrow batches via ``mapInPandas``; failed records carry the error
    string in ``_fr_error`` with null payload, so the pipeline can
    split them to the DLQ without aborting the batch.

    ``output_schema`` is the DDL schema of fn's output dict, e.g.
    ``"event_id bigint, score double"``.
    """
    full_schema = f"{output_schema}, {ERROR_COL} string, _fr_source string"
    built: list = []  # (schema, mapper): the DDL parses through the JVM once

    def apply(df: DataFrame) -> DataFrame:
        if not built:
            schema = StructType.fromDDL(full_schema)
            built.append((schema, _record_mapper(fn, schema.names[:-2])))
        schema, mapper = built[0]
        return df.mapInPandas(mapper, schema)

    return apply


@dataclass
class PipelineEvent:
    """One entry of the async event feed (frafka Events() parity)."""

    kind: str  # "progress" | "terminated" | "error"
    detail: str
    query_id: str = ""


class PipelineListener(StreamingQueryListener):
    """Drainable async event feed — frafka's Events() channel analog.

    Scoped to one pipeline: events are filtered by the query ids this
    pipeline started (a StreamingQueryListener is session-global, so
    without the filter one pipeline would see every other pipeline's
    progress and failures).

    [upstream: frizzle § Eventer; frafka/sink.go § delivery-report
    loop — SURVEY.md §2 Tier A11]
    """

    def __init__(self) -> None:
        self._events: list[PipelineEvent] = []
        self._query_ids: set[str] = set()
        self._lock = threading.Lock()

    def watch(self, query_id: str) -> None:
        with self._lock:
            self._query_ids.add(str(query_id))

    def _mine(self, query_id) -> bool:
        with self._lock:
            return str(query_id) in self._query_ids

    def onQueryStarted(self, event) -> None:
        # start events arrive before Pipeline.start() learns the id;
        # record them keyed by id and filter at drain time instead.
        with self._lock:
            self._events.append(
                PipelineEvent("progress", "query started", str(event.id))
            )

    def onQueryProgress(self, event) -> None:
        if self._mine(event.progress.id):
            with self._lock:
                self._events.append(
                    PipelineEvent(
                        "progress",
                        f"batch={event.progress.batchId}",
                        str(event.progress.id),
                    )
                )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if self._mine(event.id):
            kind = "error" if event.exception else "terminated"
            with self._lock:
                self._events.append(
                    PipelineEvent(kind, str(event.exception or "clean"), str(event.id))
                )

    def drain(self) -> list[PipelineEvent]:
        with self._lock:
            out = [e for e in self._events if e.query_id in self._query_ids]
            self._events = []
        return out


class Pipeline:
    """source → transform → sink with Ack/Fail/DLQ parity.

    Each micro-batch with a ``fail_sink`` is ONE Spark job: the
    transformed batch is written once, partitioned on outcome
    (``_fr_error IS NULL``), into a staging directory under the main
    sink. Two metadata-only publish steps follow, the DLQ first and
    the main sink second (``FrSink.publish``), so a crash between them
    redelivers a batch whose DLQ rows already landed, as with two
    writes. A crash before either publish leaves no visible row.

    The main sink receives the transform's output columns;
    ``read_table`` of a manifest sink returns exactly those. DLQ files
    hold ``_fr_source`` and ``_fr_error`` beside the output columns,
    which are NULL there (a manifest DLQ's table schema is
    ``_fr_source, _fr_error``); parquet main-sink files likewise hold
    the two DLQ columns as NULLs.

    A sink that cannot publish staged files (``FrSink.split_layout``:
    Kafka, per-row ``partition_by`` routing, writer options beyond the
    path, a manifest table with a partitioned layout) keeps two
    filtered writes over the persisted batch, DLQ first.

    Redelivery: a batch is redelivered with the same ``batch_id``. A
    plain ``FrSink.parquet`` fail sink appends again, so its DLQ is
    at-least-once; ``FrSink.parquet_txn`` replaces the batch's own
    partition and ``FrSink.manifest`` skips a batch its stream already
    committed, which makes the DLQ exactly-once beside an exactly-once
    main sink (``FrSink.manifest`` or ``parquet_txn``).
    """

    def __init__(
        self,
        source: FrSource,
        transform: Callable[[DataFrame], DataFrame] | None,
        sink: FrSink,
        fail_sink: FrSink | None = None,
        checkpoint: str | None = None,
        name: str = "fr-pipeline",
    ) -> None:
        self.source = source
        self.transform = transform or (lambda df: df)
        self.sink = sink
        self.fail_sink = fail_sink
        self.checkpoint = checkpoint
        self.name = name
        self.listener = PipelineListener()
        self._listener_registered = False
        if fail_sink is not None and "memory" in (sink.fmt, fail_sink.fmt):
            # The DLQ split runs inside foreachBatch, which writes both
            # sinks in batch mode — the memory sink is stream-only, so
            # the split would silently never run (or crash mid-batch).
            raise ValueError(
                "fail_sink routing requires batch-writable sinks "
                "(parquet/kafka) on both the main and fail side; "
                "got memory"
            )

    # -- the foreachBatch body: transform, split by outcome, publish --
    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        out = self.transform(batch_df)
        if ERROR_COL not in out.columns:
            self.sink.write_batch(out, batch_id)
        elif self.fail_sink is None:
            self.sink.write_batch(_acked(out), batch_id)
        elif not self._split_once(out, batch_id):
            self._split_twice(out, batch_id)

    def _split_once(self, out: DataFrame, batch_id: int) -> bool:
        """One Spark job: write ``out`` once under the main sink's
        staging directory, partitioned on outcome, then publish the
        Fail files to the DLQ and the Ack files to the sink. False,
        with nothing written, when either sink must write its own
        rows (see ``FrSink.split_layout``)."""
        schema = out.schema
        failed = StructType([schema["_fr_source"], schema[ERROR_COL]])
        acked = StructType(
            [f for f in schema.fields if f.name not in failed.names]
        )
        fail_map = self.fail_sink.split_layout(failed)
        ack_map = self.sink.split_layout(acked)
        if fail_map is None or ack_map is None:
            return False
        staged_df = out.withColumn(OK_COL, F.col(ERROR_COL).isNull())
        names = {**fail_map, **ack_map}
        if names:  # the files carry the tables' physical names
            staged_df = staged_df.withColumnsRenamed(names)
        staging = self.sink.staging_dir()
        try:
            # the staging directory is private and removed after the
            # publish, so the job's _SUCCESS marker would have no reader
            staged_df.write.option(
                "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
            ).partitionBy(OK_COL).parquet(staging)

            def staged(ok: bool, schema, mapping) -> StagedFiles:
                d = os.path.join(staging, f"{OK_COL}={str(ok).lower()}")
                files = sorted(glob.glob(os.path.join(d, "*.parquet")))
                return StagedFiles(out.sparkSession, files, schema, mapping)

            # Fail → DLQ before Send+Ack: a crash between the two
            # publishes redelivers a batch whose DLQ rows already landed
            self.fail_sink.publish(staged(False, failed, fail_map), batch_id)
            self.sink.publish(staged(True, acked, ack_map), batch_id)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return True

    def _split_twice(self, out: DataFrame, batch_id: int) -> None:
        """Two filtered writes over the persisted batch, DLQ first."""
        out.persist()
        try:
            bad = out.filter(out[ERROR_COL].isNotNull()).select(
                "_fr_source", ERROR_COL
            )
            self.fail_sink.write_batch(bad, batch_id)  # Fail → DLQ (A5/A7)
            self.sink.write_batch(_acked(out), batch_id)  # Send+Ack (A10/A4)
        finally:
            out.unpersist()

    def start(self, available_now: bool = True):
        """Start the query (Trigger.AvailableNow for bounded replays)."""
        spark = self.source.spark
        if not self._listener_registered:
            spark.streams.addListener(self.listener)
            self._listener_registered = True
        stream = self.source.stream()
        if self.sink.fmt == "memory":
            # memory sink is stream-only: write the transformed stream
            # directly (constructor already rejected fail_sink here).
            writer = self.sink.configure(self.transform(stream).writeStream)
        else:
            writer = stream.writeStream.foreachBatch(self._process_batch)
        writer = writer.queryName(self.name)
        if self.checkpoint:
            writer = writer.option("checkpointLocation", self.checkpoint)
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self.listener.watch(q.id)
        return q

    def close(self) -> None:
        """Deregister the session-global listener (frafka Close parity)."""
        if self._listener_registered:
            self.source.spark.streams.removeListener(self.listener)
            self._listener_registered = False

    def run_to_completion(self) -> None:
        """Replay the whole bounded source and stop (test harness)."""
        q = self.start(available_now=True)
        q.awaitTermination()

    def events(self) -> list[PipelineEvent]:
        """Drain the async event feed (frafka Events() parity)."""
        return self.listener.drain()
