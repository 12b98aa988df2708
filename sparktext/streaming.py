"""Structured Streaming ingest (incremental indexing, §north_star
"resumable builds" carried to a live source).

The reference is a batch library whose incremental story is
``add_document + commit`` (appending segments); the Spark-native
equivalent of a long-running IndexWriter is a Structured Streaming file
source feeding micro-batch commits. Each micro-batch routes through
:func:`sparktext.manifest.append_documents` — one group, one commit of
the index's log per batch — with ``txn=(query id, batch id)``, so the
sink is exactly-once end to end (Delta Lake's idempotent-writer design):

- Spark's streaming checkpoint guarantees each source file lands in
  exactly one micro-batch id;
- a batch Spark replays after a crash (the sink committed, the
  checkpoint did not record it) carries the same batch id; the log
  already holds that txn, so the append is a no-op (with a warning). A
  later batch whose content equals an earlier one's has a new batch id
  and appends.

The query id is Spark's own, kept in the checkpoint: it survives restarts
from that checkpoint, and a fresh checkpoint (whose batch ids restart at
0) gets a fresh one. The sink finds it among the active queries by the
unique name each start gives its query.

``trigger(availableNow=True)`` drains everything currently in the
source and stops — the batch-job-with-streaming-semantics mode used for
scheduled incremental index refreshes; omit it for a continuously
running ingest.

Compaction interplay: a micro-batch and :func:`compact_index
<sparktext.manifest.compact_index>` race for the next log version like
any two writers, and the loser redoes its work on the winner's snapshot.
Compaction never moves the index directory, so the checkpoint inside it
stays where the stream left it.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession

#: canonical corpus schema for streaming file sources (file streams
#: require an explicit schema — no inference at stream start)
CORPUS_STREAM_SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "content string, n_chars long"
)


def stream_ingest(
    spark: SparkSession,
    index_dir: str,
    source_dir: str,
    schema: str = CORPUS_STREAM_SCHEMA,
    fmt: str = "parquet",
    num_segments: int | None = None,
    available_now: bool = True,
    drop_doc_ids: bool = True,
):
    """Start a streaming query appending ``source_dir`` files to the
    persisted index at ``index_dir`` (which must already hold a base
    build). Returns the StreamingQuery; call ``awaitTermination()``.

    ``drop_doc_ids``: source files carrying their own ``doc_id`` column
    would collide across micro-batches (append offsets every batch by
    the current max); dropping lets ``assign_doc_ids`` mint dense ids
    per batch — the default for real feeds.
    """
    from sparktext.manifest import STREAM_CHECKPOINT, append_documents

    name = f"stream_ingest-{uuid.uuid4().hex}"
    reader = spark.readStream.schema(schema)
    stream = getattr(reader, fmt)(source_dir) if fmt in ("parquet", "json") \
        else reader.format(fmt).load(source_dir)

    def _sink(batch_df, batch_id: int) -> None:
        if drop_doc_ids and "doc_id" in batch_df.columns:
            batch_df = batch_df.drop("doc_id")
        if batch_df.isEmpty():
            return
        query_id = next(q.id for q in spark.streams.active if q.name == name)
        append_documents(
            spark, index_dir, batch_df, num_segments=num_segments,
            txn=(f"stream_ingest:{query_id}", batch_id),
        )

    writer = (
        stream.writeStream.queryName(name).foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(index_dir, STREAM_CHECKPOINT))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
