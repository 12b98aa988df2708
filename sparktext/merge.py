"""Segment merge with salted repartitioning (SURVEY.md A10, §4.7).

tantivy's ``IndexMerger`` k-way-merges segments into fewer, larger ones
(remap doc ids, concatenate postings, rebuild the dictionary). Here doc
ids are global and segment doc-ranges contiguous, so a merge is:

1. decode every source block (mapInPandas, partition-pruned per source
   segment),
2. recompute ``segment_id = doc_id // new_seg_size`` — a pure projection,
   no shuffle needed for assignment,
3. re-encode blocks through :func:`sparktext.build.encode_posting_blocks`
   — the SALTED path: heavy terms are split into contiguous
   SALT_CHUNK-doc runs so no merge task ever materializes a whole
   stop-word posting list (the "salted repartitioning to defuse term
   skew" requirement of BASELINE.json north_star), then block ids are
   renumbered by a window over block headers,
4. doc_meta gets the new segment_id by the same projection; term_dict
   and corpus stats are segment-independent and carry over unchanged.

Deletes are PURGED at merge (tantivy's IndexMerger applies the alive
bitset): decoded postings, doc_meta and positions are anti-joined against
the tombstone table before re-encode, and the merged index carries
``deleted=None``. term_dict/stats stay the PRE-delete values on purpose —
the tombstone query path scores with pre-delete statistics (tantivy
likewise keeps deleted docs in segment stats until they are rewritten),
so keeping them makes merge query-transparent: build→delete→merge→query
returns exactly what build→delete→query returns (asserted in
tests/test_merge.py::test_merge_after_delete).

Positions (phrase index) are carried through with the same segment
reassignment, so phrase queries keep working on merged indexes.

The merged index must answer every query identically (asserted in
tests/test_merge.py, including a synthetic 50%-doc-frequency skew term).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparktext import codec
from sparktext.build import (
    Index,
    IndexStats,
    encode_posting_blocks,
    facet_posting_rows,
    term_dict_from_blocks,
)


def merge_segments(
    index: Index, num_segments: int, recompute_stats: bool = False
) -> Index:
    """Merge/re-segment an index to ``num_segments`` segments.

    ``recompute_stats=True`` re-derives term_dict (from the merged block
    headers) and num_docs/total_tokens (from the merged doc_meta) AFTER
    tombstone purge — the reference's post-merge semantics, where a
    rewritten segment carries post-purge statistics. The default (False)
    keeps the pre-delete statistics, which makes merge query-transparent
    (build→delete→merge scores == build→delete scores) but lets
    doc_freq/num_docs overcount accumulate across repeated delete+merge
    cycles, drifting BM25 idf away from a fresh rebuild of the alive
    corpus. Pick per use-case: transparency for incremental serving,
    recompute for periodic compaction.
    """
    spark = index.postings.sparkSession
    n_docs = index.stats.num_docs
    seg_size = max(1, -(-n_docs // num_segments))

    decoded = index.postings.select(
        "segment_id", "term", "count", "first_doc",
        "doc_bits", "doc_bytes", "tf_bytes", "norm_bytes",
    ).mapInPandas(
        lambda it: (codec.decode_blocks_pdf(pdf) for pdf in it),
        schema="segment_id int, term string, doc_id long, tf long, norm_id long",
    )
    new_seg = (F.col("doc_id") / F.lit(seg_size)).cast("int")

    doc_meta = index.doc_meta.withColumn("segment_id", new_seg)
    positions = index.positions
    if positions is not None:
        positions = positions.withColumn("segment_id", new_seg)
    if index.deleted is not None:
        # Purge tombstones (tantivy merge semantics): drop deleted docs
        # from every doc-mapped table before re-encoding.
        decoded = decoded.join(index.deleted, "doc_id", "left_anti")
        doc_meta = doc_meta.join(index.deleted, "doc_id", "left_anti")
        if positions is not None:
            positions = positions.join(index.deleted, "doc_id", "left_anti")

    reassigned = decoded.withColumn("segment_id", new_seg)
    postings = encode_posting_blocks(reassigned, index.n_buckets).persist()

    term_dict, stats = index.term_dict, index.stats
    if recompute_stats:
        # Same derivations as a fresh build: headers (128x fewer rows
        # than postings, algebraic sums) for the dictionary, one tiny
        # doc_meta aggregate for the corpus stats.
        term_dict = term_dict_from_blocks(postings, index.n_buckets).persist()
        srow = doc_meta.agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("tt")
        ).collect()[0]
        stats = IndexStats(num_docs=int(srow["n"]), total_tokens=int(srow["tt"] or 0))

    # Facet field (build.with_facets): facet blocks decode to GLOBAL doc
    # ids that a merge never remaps, so without deletes the table carries
    # over untouched. A purge, though, leaves tombstoned doc ids inside
    # facet blocks while the merged index drops its tombstone table — the
    # facets must be REBUILT from the purged doc_meta (cheap: a metadata
    # projection + encode). That needs the serializable facet_expr; an
    # ad-hoc Column-built facet table cannot be rebuilt and is dropped
    # (re-run with_facets on the merged index).
    facet_postings = index.facet_postings
    if facet_postings is not None and index.deleted is not None:
        if index.facet_expr is not None:
            facet_postings = encode_posting_blocks(
                facet_posting_rows(doc_meta, index.facet_expr, index.facet_depth),
                index.n_buckets,
            ).persist()
        else:
            facet_postings = None

    return Index(
        doc_meta=doc_meta,
        postings=postings,
        term_dict=term_dict,
        stats=stats,
        n_buckets=index.n_buckets,
        positions=positions,
        deleted=None,
        facet_postings=facet_postings,
        facet_expr=index.facet_expr,
        facet_depth=index.facet_depth,
    )
