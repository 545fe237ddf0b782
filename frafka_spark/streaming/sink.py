"""FrSink — the frafka Sink re-expressed as Structured Streaming.

frafka's Sink is an async Kafka producer: ``Send(msg, topic)``
(partition chosen by Kafka), delivery reports surfacing failures on
an events channel, flush-on-close [upstream: frafka/sink.go §
InitSink/Send/Close — SURVEY.md §2 Tier A9-A12]. The Spark analogs:

- per-record topic routing = a ``topic`` column on the output frame
  (the Kafka sink reads it per row — exact ``Send(msg, topic)``
  parity);
- delivery guarantees = micro-batch epoch commit (at-least-once to
  Kafka, like the reference);
- flush/close = epoch boundary — every batch is fully produced
  before its offsets commit (Tier A12);
- delivery reports = StreamingQueryListener (see pipeline.py).

File/memory variants exist for this broker-less test environment.

File sinks also take part in the pipeline's one-job split: the
pipeline writes a micro-batch once, partitioned on outcome, under the
main sink's ``staging_dir``, and each sink then publishes its share of
the files with ``publish``, a metadata-only step. ``split_layout``
says whether a sink can (Kafka, memory, per-row ``partition_by``
routing, writer options beyond the path and a manifest table with a
partitioned layout cannot; they keep ``write_batch``).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from frafka_spark.streaming.config import sink_options_from_env


@dataclass
class StagedFiles:
    """Parquet files a split write left for one sink to publish."""

    spark: SparkSession
    files: list[str]
    #: the sink's logical columns; the files may hold more
    schema: StructType
    #: logical → physical column names in the files
    mapping: dict[str, str]


def _move(files: list[str], directory: str) -> None:
    if files:
        os.makedirs(directory, exist_ok=True)
    for fp in files:
        shutil.move(fp, os.path.join(directory, os.path.basename(fp)))


@dataclass
class FrSink:
    fmt: str
    options: dict[str, str] = field(default_factory=dict)
    output_mode: str = "append"
    partition_by: str | None = None
    #: exactly-once mode: partition on the (re-delivery-stable) batch
    #: id and dynamically overwrite only that partition per write.
    idempotent: bool = False

    @classmethod
    def kafka(cls, env=None, **overrides) -> "FrSink":
        """Kafka producer sink from frafka-style env config.

        If the frame has a ``topic`` column it routes per record
        (frafka ``Send(msg, topic)``); otherwise set a fixed
        ``topic`` option.
        """
        opts = sink_options_from_env(env)
        opts.update(overrides)
        return cls("kafka", opts)

    @classmethod
    def parquet(cls, path: str) -> "FrSink":
        return cls("parquet", {"path": path})

    @classmethod
    def topic_routed_parquet(cls, path: str) -> "FrSink":
        """Broker-less execution of per-row topic routing (A10).

        The Kafka producer sink routes each row by its ``topic``
        column; with no broker in this environment, this sink applies
        the SAME per-row destination contract by partitioning the
        write on ``topic`` — every row lands under ``topic=<value>/``,
        so routing is actually *executed* (not construction-only) and
        assertable from the output layout. Swapping this for
        ``FrSink.kafka()`` changes only the transport.
        """
        return cls("parquet", {"path": path}, partition_by="topic")

    @classmethod
    def manifest(cls, path: str) -> "FrSink":
        """Exactly-once sink into the native manifest table format.

        The strongest sink in the library: each micro-batch commits as
        ONE atomic manifest snapshot carrying its batch_id, so a
        redelivered batch (crash between the data write and the
        checkpoint commit) is detected by id and skipped — the
        ``parquet_txn`` idempotence contract, plus the table format's
        time travel, file-skipping stats, and concurrent-reader
        snapshot isolation on the output. This is the sink that turns
        the frafka-parity pipeline into a lakehouse ingest path.

        Redelivery is keyed by stream (the streaming query's id), so
        pipelines with different checkpoints can share one table. In a
        split pipeline write its ``publish`` is one manifest commit of
        the staged files; a table with a partitioned layout is written
        by ``write_batch`` instead.
        """
        return cls("manifest", {"path": path})

    @classmethod
    def parquet_txn(cls, path: str) -> "FrSink":
        """Idempotent (exactly-once) parquet sink for foreachBatch.

        frafka's own guarantee is at-least-once: a crash between the
        producer flush and the offset commit re-delivers the batch,
        and an append-mode sink then duplicates rows. Structured
        Streaming has the same contract inside ``foreachBatch`` —
        the batch id, however, is STABLE across re-deliveries, which
        is the standard upgrade path: partition the write on
        ``_batch_id`` and overwrite ONLY that partition (dynamic
        partition overwrite). A re-delivered batch replaces its own
        partition instead of appending beside it; distinct batches
        never touch each other's partitions. Readers see
        exactly-once output at the price of one partition column
        [public pattern: Structured Streaming foreachBatch docs'
        idempotent-write guidance]. In a split pipeline write its
        ``publish`` replaces ``_batch_id=<id>/`` with the staged files.
        """
        return cls("parquet", {"path": path}, idempotent=True)

    @classmethod
    def memory(cls, name: str, output_mode: str = "append") -> "FrSink":
        return cls("memory", {"queryName": name}, output_mode)

    def configure(self, writer: DataStreamWriter) -> DataStreamWriter:
        writer = writer.format(self.fmt).outputMode(self.output_mode)
        if self.partition_by:
            # keep the per-row routing contract on the streaming-writer
            # path too, not only in write_batch
            writer = writer.partitionBy(self.partition_by)
        for k, v in self.options.items():
            if k == "queryName":
                writer = writer.queryName(v)
            else:
                writer = writer.option(k, v)
        return writer

    def split_layout(self, schema: StructType) -> dict[str, str] | None:
        """The column mapping (logical → physical) under which a split
        write must lay out this sink's rows of logical ``schema`` for
        ``publish``, or None when the sink writes its rows itself with
        ``write_batch``: a Kafka or memory sink, per-row
        ``partition_by`` routing, writer options beyond the path, or a
        manifest table whose layout is partitioned."""
        if (
            self.fmt not in ("parquet", "manifest")
            or self.partition_by
            or set(self.options) != {"path"}
        ):
            return None
        if self.fmt == "parquet":
            return {}
        from frafka_spark.sources import manifest_table as mt

        return mt.stream_layout(self.options["path"], schema)

    def staging_dir(self) -> str:
        """A fresh directory under this sink for a split write. Its
        ``_staging`` parent is hidden from Spark's file listing and is
        no part of a manifest table, so staged rows are invisible."""
        return os.path.join(self.options["path"], "_staging", uuid.uuid4().hex)

    def publish(self, staged: StagedFiles, batch_id: int) -> None:
        """Publish files a split write already wrote, metadata only:
        ``parquet`` renames them into its directory; ``parquet_txn``
        replaces the contents of ``_batch_id=<id>/`` with them;
        ``manifest`` commits them as batch ``batch_id`` through the
        table's one commit path (redelivery guard, schema and CHECK
        constraints, retry loop), so a redelivered batch is skipped."""
        path = self.options["path"]
        if self.fmt == "manifest":
            from frafka_spark.sources import manifest_table as mt

            mt.commit_stream_files(
                staged.spark, staged.files, staged.schema, staged.mapping,
                batch_id, path,
            )
        elif self.idempotent:
            part = os.path.join(path, f"_batch_id={batch_id}")
            hidden = os.path.join(path, f".{uuid.uuid4().hex}")
            _move(staged.files, hidden)
            shutil.rmtree(part, ignore_errors=True)
            if staged.files:
                os.rename(hidden, part)
        else:
            _move(staged.files, path)

    def write_batch(self, df: DataFrame, batch_id: int | None = None) -> None:
        """Batch-mode write (used inside foreachBatch pipelines)."""
        if self.fmt == "memory":
            raise ValueError("memory sink is stream-only; use configure()")
        if self.fmt == "manifest":
            if batch_id is None:
                raise ValueError("manifest sink needs the foreachBatch batch_id")
            from frafka_spark.sources import manifest_table as mt

            mt.write_stream_batch(df, batch_id, self.options["path"])
            return
        if self.idempotent:
            if batch_id is None:
                raise ValueError("idempotent sink needs the foreachBatch batch_id")
            from pyspark.sql import functions as F

            (
                df.withColumn("_batch_id", F.lit(batch_id))
                .write.format(self.fmt)
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .options(**self.options)
                .save()
            )
            return
        writer = df.write.format(self.fmt).mode("append")
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        for k, v in self.options.items():
            writer = writer.option(k, v)
        writer.save()
