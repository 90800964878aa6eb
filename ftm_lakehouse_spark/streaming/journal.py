"""Streaming ingest: the reference's write-ahead journal, re-expressed
as Structured Streaming.

The reference journal (/root/reference/ftm_lakehouse/storage/journal/
sql.py) existed for two semantics — crash-safe buffering and dedup by
``(id, fragment)`` (its ``ON CONFLICT ... DO UPDATE`` upsert).
Structured Streaming supplies the first: checkpointed ``foreachBatch``
sinks, fenced by the commit log's ``(txnAppId, epoch)`` idempotent
append, replace the yield→write→delete durability dance. The second is
the merge's rule (SURVEY §2.9 I1): each micro-batch is appended
through :func:`~ftm_lakehouse_spark.operators.merge.canonicalize`, so
in-batch duplicates collapse before they land, and a statement re-sent
in a later micro-batch is one more raw row that the next merge
resolves by latest ``last_seen`` — the same answer the batch append
path gives. The query is stateless: no state store, no watermark.

``StreamingJournal`` tails a directory of statement parquet drops (the
cluster equivalent would be Kafka — same code, different
``readStream.format``) and appends canonical micro-batches to a
StatementStore.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.statement import STATEMENT_SCHEMA
from ftm_lakehouse_spark.operators.merge import canonicalize
from ftm_lakehouse_spark.sources.statement_store import StatementStore

__all__ = ["StreamingJournal"]


class StreamingJournal:
    def __init__(
        self,
        spark: SparkSession,
        store: StatementStore,
        source_dir: str,
        checkpoint_dir: str,
        watermark: str = "10 minutes",
    ):
        self.spark = spark
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.watermark = watermark

    def start(self, trigger_once: bool = False):
        """Begin tailing the source directory. ``trigger_once`` drains
        what is present and stops (the batch-incremental mode the
        reference's ``flush()`` implements destructively)."""
        # exactly-once: foreachBatch is at-least-once (a crash between
        # the write and the checkpoint advance replays the epoch), so
        # the append is fenced by (query identity, epoch) — the commit
        # log skips any epoch it has already made durable (Delta's
        # txnAppId/txnVersion idiom, reference journal I1 semantics)
        txn_app = f"journal:{self.checkpoint_dir}"

        def sink(batch_df, epoch: int) -> None:
            self.store.append(canonicalize(batch_df), txn=(txn_app, epoch))

        writer = (
            self.spark.readStream.schema(STATEMENT_SCHEMA)
            .parquet(self.source_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def windowed_stats(self, window: str = "5 minutes"):
        """Streaming per-window ingest statistics (watermarked windowed
        aggregation — the streaming analog of ``stats()``)."""
        return (
            self.spark.readStream.schema(STATEMENT_SCHEMA)
            .parquet(self.source_dir)
            .withWatermark("last_seen", self.watermark)
            .groupBy(F.window("last_seen", window), F.col("schema"))
            .agg(
                F.count("*").alias("n_statements"),
                F.approx_count_distinct("entity_id").alias("n_entities"),
            )
        )
