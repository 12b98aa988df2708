"""Structured Streaming ingest -> exactly-once micro-batch appends."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _topk(index, qstr, k=12):
    from sparktext.query import matched_docs, parse_query
    from sparktext.topk import top_k

    hits = top_k(matched_docs(index, parse_query(qstr)), k)
    return [(r["doc_id"], round(r["score"], 9)) for r in hits.collect()]


def test_stream_ingest_incremental(spark, micro_corpus, micro_index, tmpdir):
    """Two file-source waves drained by availableNow streams must equal
    the from-scratch batch build over the union corpus — and a re-run
    with nothing new must be a no-op (the checkpoint has no new batch)."""
    from sparktext.build import build_index
    from sparktext.manifest import load_index, snapshot
    from sparktext.streaming import stream_ingest

    idx_dir = str(tmpdir.join("idx"))
    src_dir = str(tmpdir.join("feed"))
    os.makedirs(src_dir, exist_ok=True)

    first = micro_corpus.filter(F.col("doc_id") < 6)
    build_index(spark, first, num_segments=2, index_dir=idx_dir, num_groups=1)

    # wave 1: docs 6-8
    micro_corpus.filter((F.col("doc_id") >= 6) & (F.col("doc_id") < 9)) \
        .coalesce(1).write.mode("append").parquet(src_dir)
    q = stream_ingest(spark, idx_dir, src_dir, num_segments=2)
    q.awaitTermination()
    idx = load_index(spark, idx_dir)
    assert idx.stats.num_docs == 9

    # wave 2: docs 9-11
    micro_corpus.filter(F.col("doc_id") >= 9) \
        .coalesce(1).write.mode("append").parquet(src_dir)
    q = stream_ingest(spark, idx_dir, src_dir, num_segments=2)
    q.awaitTermination()
    idx = load_index(spark, idx_dir)
    assert idx.stats.num_docs == 12

    # results equal the batch build (doc ids are minted per batch in
    # arrival order, which here coincides with the micro fixture's)
    for qs in ["heavy", "apple banana", "+grape cherry", "unique"]:
        assert _topk(idx, qs) == _topk(micro_index, qs), qs

    # drained stream re-run: no new files -> no new commit
    version = snapshot(idx_dir).version
    q = stream_ingest(spark, idx_dir, src_dir, num_segments=2)
    q.awaitTermination()
    assert snapshot(idx_dir).version == version


def test_stream_identical_content_batches_both_append(spark, micro_corpus, tmpdir):
    """Two DISTINCT micro-batches carrying identical rows must BOTH
    index (the batch id in the sink's txn distinguishes a new batch
    from a replay of the previous one; content alone cannot)."""
    from sparktext.build import build_index
    from sparktext.manifest import load_index
    from sparktext.streaming import stream_ingest

    idx_dir = str(tmpdir.join("idx2"))
    src_dir = str(tmpdir.join("feed2"))
    os.makedirs(src_dir, exist_ok=True)
    first = micro_corpus.filter(F.col("doc_id") < 6)
    build_index(spark, first, num_segments=2, index_dir=idx_dir, num_groups=1)

    wave = micro_corpus.filter(F.col("doc_id") >= 6)
    wave.coalesce(1).write.mode("append").parquet(src_dir)
    stream_ingest(spark, idx_dir, src_dir, num_segments=2).awaitTermination()
    assert load_index(spark, idx_dir).stats.num_docs == 12

    # same CONTENT again, as a new file -> a new batch -> must append
    wave.coalesce(1).write.mode("append").parquet(src_dir)
    stream_ingest(spark, idx_dir, src_dir, num_segments=2).awaitTermination()
    assert load_index(spark, idx_dir).stats.num_docs == 18


def test_stream_replayed_batch_lands_once(spark, micro_corpus, tmpdir, monkeypatch):
    """A crash after the sink committed but before Spark recorded the
    batch makes Spark run the sink again with the same batch id: the
    log already holds that txn, so exactly one group lands."""
    from sparktext import manifest
    from sparktext.build import build_index
    from sparktext.manifest import load_index, snapshot
    from sparktext.streaming import stream_ingest

    idx_dir = str(tmpdir.join("idx4"))
    src_dir = str(tmpdir.join("feed4"))
    os.makedirs(src_dir, exist_ok=True)
    build_index(spark, micro_corpus.filter(F.col("doc_id") < 6),
                num_segments=2, index_dir=idx_dir, num_groups=1)
    micro_corpus.filter(F.col("doc_id") >= 6).coalesce(1) \
        .write.mode("append").parquet(src_dir)

    txns = []
    real = manifest.append_documents

    def spy(*args, txn=None, **kwargs):
        txns.append(txn)
        return real(*args, txn=txn, **kwargs)

    monkeypatch.setattr(manifest, "append_documents", spy)
    stream_ingest(spark, idx_dir, src_dir, num_segments=2).awaitTermination()
    # forget that batch 0 completed: the restart replays it
    commits = os.path.join(idx_dir, manifest.STREAM_CHECKPOINT, "commits")
    for name in ("0", ".0.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    stream_ingest(spark, idx_dir, src_dir, num_segments=2).awaitTermination()

    assert len(txns) == 2 and txns[0] == txns[1] and txns[0][1] == 0
    assert len(snapshot(idx_dir).groups) == 2
    assert load_index(spark, idx_dir).stats.num_docs == 12


def test_compaction_preserves_stream_checkpoint(spark, micro_corpus, tmpdir):
    """compact_index must leave the streaming checkpoint in place —
    losing it would replay the whole source as new docs on the next
    stream_ingest run."""
    from sparktext.build import build_index
    from sparktext.manifest import compact_index, load_index, snapshot
    from sparktext.streaming import stream_ingest

    idx_dir = str(tmpdir.join("idx3"))
    src_dir = str(tmpdir.join("feed3"))
    os.makedirs(src_dir, exist_ok=True)
    build_index(spark, micro_corpus.filter(F.col("doc_id") < 6),
                num_segments=2, index_dir=idx_dir, num_groups=1)
    micro_corpus.filter(F.col("doc_id") >= 6).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    stream_ingest(spark, idx_dir, src_dir, num_segments=2).awaitTermination()
    assert load_index(spark, idx_dir).stats.num_docs == 12

    compact_index(spark, idx_dir, num_segments=2)
    assert os.path.exists(os.path.join(idx_dir, "_stream_checkpoint"))
    # nothing new in the source: a drained re-run must NOT re-ingest
    stream_ingest(spark, idx_dir, src_dir, num_segments=2).awaitTermination()
    assert load_index(spark, idx_dir).stats.num_docs == 12
    assert len(snapshot(idx_dir).groups) == 1
