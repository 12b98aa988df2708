"""Index build pipeline (SURVEY.md A3, A4, A6, A7, A8, A12; §3.1).

Corpus contract (BASELINE.json input_hint): an Iceberg-shaped table with
columns ``(repo, path, commit, lang, content)`` — plus optionally a caller
supplied dense ``doc_id``. The build:

1. attaches ``sha = sha2(content, 256)`` (the per-row invariant carried
   through every doc-mapped table),
2. assigns deterministic dense ``doc_id`` (order by repo, path, commit)
   when absent, using the scalable two-phase pattern (per-partition
   row_number + collected partition offsets — no global window),
3. assigns segments, one per partition: the doc-id assignment's range
   partitions (contiguous doc ranges), a well-split input's own
   partitions, or ``segment_id = doc_id // ceil(N / num_segments)``
   (always the last on the persisted path, whose resume needs
   boundaries independent of range sampling),
4. ONE fused tokenize + encode pass per segment (:func:`build_segments`,
   mapInPandas over Arrow batches): per-(segment, term) sorted posting
   lists chunked into 128-doc blocks with delta+FOR/varint compression
   and inline fieldnorm bytes (:mod:`sparktext.codec`), one doc-meta row
   per doc, and (``with_positions``) one positions row per (doc, term) —
   persisted once, so postings, doc_meta and positions are filter views
   of one cache: the Spark idiom for tantivy's single ``SegmentWriter``.
   The in-memory build, each persisted segment group and every append
   go through it,
5. a global ``term_dict(term, doc_freq, total_tf)`` derived from block
   headers (:func:`term_dict_from_blocks`) — the broadcast-side
   statistics for BM25 — plus corpus stats (num_docs, total_tokens).

Scale notes: posting-group size is bounded by the segment size, so no
worker holds more than one segment's tokens (§4.7 skew bound; merge and
facets re-encode through the salted :func:`encode_posting_blocks`);
``term_bucket = pmod(xxhash64(term), n_buckets)`` is written as a parquet
partition column so query-time term filters prune files (§4.1). Postings
are keyed by the term STRING (no dense term-id indirection) — a global
dense term-id assignment would need an extra near-global sort at 10^12
scale for zero query-time benefit when the dictionary is broadcast anyway.

Persisted layout under ``index_dir`` (A12): see :mod:`sparktext.manifest`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from dataclasses import field as dc_field
from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparktext import codec
from sparktext.fieldnorm import fieldnorm_to_id
from sparktext.tokenizer import tokenize_flat_arrow

DEFAULT_N_BUCKETS = 16

CORPUS_COLS = ("repo", "path", "commit", "lang", "content")

@dataclass
class IndexStats:
    num_docs: int
    total_tokens: int

    @property
    def avg_len(self) -> float:
        # tantivy's BM25 average fieldnorm: exact total token count / docs.
        return self.total_tokens / max(1, self.num_docs)


@dataclass
class Index:
    """The queryable index: three DataFrames + scalar stats.

    ``positions`` (optional, ``build_index(with_positions=True)``): the
    per-(segment, term, doc) token-position arrays backing phrase queries
    (B6). ``deleted`` (optional, A11): alive-filtering tombstone table
    ``(doc_id)`` — applied as an anti-join at query time, exactly
    tantivy's per-segment alive bitset role.
    """

    doc_meta: DataFrame  # doc_id, segment_id, repo, path, commit, lang, doc_len, norm_id, sha
    postings: DataFrame  # BLOCK_SCHEMA + term_bucket
    term_dict: DataFrame  # term, doc_freq, total_tf
    stats: IndexStats
    n_buckets: int = DEFAULT_N_BUCKETS
    positions: DataFrame | None = None  # segment_id, term, doc_id, positions
    deleted: DataFrame | None = None  # doc_id
    _headers: DataFrame | None = None  # lazy block-header mini-cache
    #: build intermediates the index's frames read through (the fused
    #: build output cache)
    _build_caches: list = dc_field(default_factory=list)
    #: optional facet postings (tantivy `facet` field): same block codec
    #: as ``postings`` but terms are '/a/b' ancestor paths; see with_facets
    facet_postings: DataFrame | None = None
    #: SQL expression the facet field derives from (serializable — lets
    #: append/merge re-derive facet postings) + its depth cap
    facet_expr: str | None = None
    facet_depth: int | None = None
    #: driver-side term-dictionary stat memo (sparktext.score.term_stats):
    #: filled lazily per QUERIED term (None = negative entry), so repeated
    #: queries skip the per-call term_dict collect job entirely — the
    #: in-memory term dictionary every engine keeps (tantivy mmaps its
    #: FST; the broadcast-dict design of SURVEY §4.2 is the same idea).
    #: Bounded by distinct queried terms, ~100 B each; never persisted.
    #: Postings/term_dict are immutable per Index instance (deletes are
    #: tombstones on a NEW Index; append/merge build new instances), so
    #: entries can never go stale.
    _tstats: dict = dc_field(default_factory=dict)

    def block_headers(self) -> DataFrame:
        """Block headers WITHOUT the binary payload columns, persisted on
        first use (128x fewer rows than postings and ~10x narrower).
        WAND's seed-selection and bound subtrees scan headers repeatedly;
        reading them through the full postings cache would re-filter every
        payload batch once per subtree — linear in index size per query.
        One bounded cache per index, like term_dict."""
        if self._headers is None:
            self._headers = self.postings.select(
                "segment_id", "term", "term_bucket", "block_id", "count",
                "first_doc", "last_doc", "max_tf", "min_norm_id",
            ).persist()
        return self._headers

    def unpersist(self) -> None:
        """Release every cache this index holds (postings, doc_meta,
        term_dict, positions, tombstones, the header mini-cache, the
        build intermediates). For benchmarks and multi-index sessions: a
        retired index's caches otherwise keep competing for executor
        storage memory with the live one's."""
        for df in (self.doc_meta, self.postings, self.term_dict,
                   self.positions, self.deleted, self._headers,
                   self.facet_postings, *self._build_caches):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass

    def with_deletes(self, doc_ids_df: DataFrame) -> "Index":
        """A11: mark docs deleted (tombstones; postings untouched)."""
        new_del = doc_ids_df.select("doc_id").distinct()
        if self.deleted is not None:
            new_del = self.deleted.union(new_del).distinct()
        return Index(
            doc_meta=self.doc_meta, postings=self.postings,
            term_dict=self.term_dict, stats=self.stats,
            n_buckets=self.n_buckets, positions=self.positions,
            deleted=new_del.persist(), facet_postings=self.facet_postings,
            facet_expr=self.facet_expr, facet_depth=self.facet_depth,
            # tombstones don't touch the term dictionary: share the memo
            _tstats=self._tstats, _build_caches=self._build_caches,
        )


def with_sha(corpus: DataFrame) -> DataFrame:
    """Attach the per-row content sha256 invariant column."""
    if "sha" in corpus.columns:
        return corpus
    return corpus.withColumn("sha", F.sha2(F.col("content"), 256))


def assign_doc_ids(
    corpus: DataFrame,
    num_partitions: int,
    keep_pid: bool = False,
    _cache_out: list | None = None,
) -> DataFrame:
    """Deterministic dense doc_id ordered by (repo, path, commit).

    Two-phase (scales to arbitrary row counts — no single-partition
    window): range-partition on the key, per-partition row_number, then add
    collected cumulative partition offsets via a broadcast join.

    The ranged DataFrame is PERSISTED before the counts collect (which
    materializes it): repartitionByRange samples its boundaries and Spark
    documents the result as potentially inconsistent across executions,
    so without the pin the counts job and the assignment job could see
    different partitionings — mismatched offsets, duplicate/skipped ids.
    The cache guarantees both jobs read the same physical partitions.
    (Residual cluster caveat: losing a cached partition to executor death
    re-runs the sampling lineage for that partition only; production
    builds should checkpoint or write-out the ranged corpus instead.)
    Callers pass ``_cache_out`` (a list) to receive the cached DataFrame
    and unpersist it once their own downstream materialization is done.

    ``keep_pid=True`` keeps the ``_pid`` range-partition column: each
    range partition holds a CONTIGUOUS doc-id range (ids are assigned in
    partition order), so the caller can adopt ``_pid`` directly as
    ``segment_id`` and skip a whole extra corpus shuffle — the window's
    hash(_pid) exchange already co-located every segment's rows.
    """
    if "doc_id" in corpus.columns:
        return corpus
    ranged = corpus.repartitionByRange(num_partitions, "repo", "path", "commit")
    ranged = ranged.withColumn("_pid", F.spark_partition_id()).persist()
    if _cache_out is not None:
        _cache_out.append(ranged)
    counts = ranged.groupBy("_pid").count().orderBy("_pid").collect()
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    spark = corpus.sparkSession
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"
    )
    w = Window.partitionBy("_pid").orderBy("repo", "path", "commit")
    out = (
        ranged.withColumn("_rn", F.row_number().over(w) - F.lit(1))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id", (F.col("_rn") + F.col("_offset")).cast("long"))
        .drop("_rn", "_offset")
    )
    return out if keep_pid else out.drop("_pid")


#: doc-metadata columns carried through the fused worker (null on
#: block and positions rows; n_chars also null when the corpus lacks it)
_META_CARRY = ("repo", "path", "commit", "lang", "sha", "n_chars")

_FUSED_SCHEMA = (
    "kind tinyint, segment_id int, term string, block_id int, count int, "
    "first_doc long, last_doc long, max_tf int, sum_tf long, min_norm_id int, "
    "doc_bits int, doc_bytes binary, tf_bytes binary, norm_bytes binary, "
    "doc_id long, doc_len int, norm_id int, "
    "repo string, path string, commit string, lang string, sha string, "
    "n_chars long, positions array<int>"
)
_FUSED_COLS = [c.split()[0] for c in _FUSED_SCHEMA.split(", ")]


def _fused_frame(kind: int, cols) -> pd.DataFrame:
    """One output frame of the fused worker: ``cols`` under ``kind``,
    null in every other fused column."""
    df = pd.DataFrame(cols)
    df.insert(0, "kind", np.int8(kind))
    for c in _FUSED_COLS:
        if c not in df.columns:
            df[c] = None
    return df[_FUSED_COLS]


def _build_segment_partition(
    batches: Iterator[pd.DataFrame], with_positions: bool = False
) -> Iterator[pd.DataFrame]:
    """Fused per-partition index build (SURVEY A4's preferred shape):
    tokenize AND encode posting blocks inside ONE mapInPandas pass —
    segment == partition, so no token-level shuffle and no token-level
    persist ever materializes. Emits kind=0 block rows (BLOCK_SCHEMA
    fields), kind=1 doc rows carrying the FULL doc metadata incl.
    norm_id (so doc_meta needs no downstream join at all) and, with
    ``with_positions``, kind=2 rows ``(segment_id, term, doc_id,
    positions)``: the token indexes of each (doc, term) pair, in the
    same key order as the tf runs.

    The token stream stays off the Python heap end-to-end: per batch,
    :func:`tokenize_flat_arrow` yields tokens as ONE Arrow string buffer;
    the partition-level accumulation concatenates buffers; a single
    C++ ``dictionary_encode`` maps every token to an int32 code; the
    (doc, term)->tf aggregation runs over a fused ``code*NDOCS+docpos``
    int64 key. Object-dtype string arrays (60+ bytes/token of
    pointer-chased heap) were the DRAM-bandwidth term that capped
    8->32-core build scaling at ~0.6 efficiency; the Arrow buffer is
    ~6x denser and the grouping touches only ints. Term STRINGS
    materialize once per (segment, term) run for the block rows (and
    once per (doc, term) pair for positions rows).

    Memory is bounded by segment sizing (seg_size docs), which the
    caller controls — the knob that must scale with executor memory.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    tok_arrays: list = []       # one Arrow string array per batch
    tok_docpos: list = []       # global (partition-level) doc position per token
    seg_parts: list = []
    did_parts: list = []
    dlen_parts: list = []
    meta_parts: list[pd.DataFrame] = []
    n_seen = 0
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        row_idx, toks = tokenize_flat_arrow(pdf["content"])
        doc_ids = pdf["doc_id"].to_numpy()
        seg_ids = pdf["segment_id"].to_numpy()
        doc_len = np.zeros(n, dtype=np.int64)
        if len(toks):
            np.add.at(doc_len, row_idx, 1)
            tok_arrays.append(toks)
            tok_docpos.append(row_idx + n_seen)
        seg_parts.append(seg_ids)
        did_parts.append(doc_ids)
        dlen_parts.append(doc_len)
        mp = pd.DataFrame({
            "segment_id": seg_ids, "doc_id": doc_ids,
            "doc_len": doc_len.astype(np.int32),
            "norm_id": fieldnorm_to_id(doc_len).astype(np.int32),
        })
        for c in _META_CARRY:
            mp[c] = pdf[c].to_numpy() if c in pdf.columns else None
        meta_parts.append(mp)
        n_seen += n

    # Each kind is emitted as its own frame (same schema): concatenating
    # them forced pandas through object-NA reconciliation on every carry
    # column — measurable churn at 32 concurrent workers.
    if tok_arrays:
        flat = pa.concat_arrays(
            a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
            for a in tok_arrays
        )
        enc = pc.dictionary_encode(flat)
        # Renumber codes in term-string order, so every output section
        # is term-sorted and cached batches carry narrow term min/max
        # stats that a term filter can skip on.
        rank = pc.array_sort_indices(enc.dictionary).to_numpy()
        vocab = enc.dictionary.take(pa.array(rank))
        remap = np.empty(rank.size, dtype=np.int64)
        remap[rank] = np.arange(rank.size)
        codes = remap[enc.indices.to_numpy(zero_copy_only=False)]
        docpos = np.concatenate(tok_docpos)
        seg_all = np.concatenate(seg_parts)
        did_all = np.concatenate(did_parts)
        dlen_all = np.concatenate(dlen_parts)
        # tf per (code, doc) over a fused int64 key: hash-aggregate the
        # raw tokens (value_counts, O(T)), then sort only the ~T/2
        # aggregated pairs — measured 2-4x faster than np.unique's full
        # sort of the raw token stream.
        key = codes * np.int64(n_seen) + docpos
        vc = pd.Series(key).value_counts(sort=False)
        uk = vc.index.to_numpy()
        tf_g = vc.to_numpy()
        o = np.argsort(uk, kind="stable")
        uk, tf_g = uk[o], tf_g[o]
        code_g = uk // n_seen
        pos_g = (uk % n_seen).astype(np.int64)
        seg_g = seg_all[pos_g]
        did_g = did_all[pos_g]
        nid_g = fieldnorm_to_id(dlen_all[pos_g])
        if with_positions:
            # Tokens arrive in (doc, position) order, so a token's index
            # in its doc is its stream index minus the doc's first one; a
            # stable sort on the key groups them into the tf runs above.
            first = np.cumsum(dlen_all) - dlen_all
            tok_pos = (np.arange(key.size) - first[docpos]).astype(np.int32)
            offsets = np.zeros(tf_g.size + 1, dtype=np.int32)
            np.cumsum(tf_g, out=offsets[1:])
            pos_lists = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(tok_pos[np.argsort(key, kind="stable")])
            )
        # Run order needed: (segment, term) groups contiguous, doc_id
        # ascending inside. When partition row order is already doc_id-
        # ascending with monotone segments (every built-in assignment
        # path), the sorted keys are already exactly that — skip the
        # sort. Arbitrary caller-supplied orders fall back to a lexsort.
        monotonic = (
            did_all.size < 2
            or (np.all(did_all[1:] > did_all[:-1]) and np.all(seg_all[1:] >= seg_all[:-1]))
        )
        if not monotonic:
            order = np.lexsort((did_g, code_g, seg_g))
            code_g, seg_g, did_g = code_g[order], seg_g[order], did_g[order]
            tf_g, nid_g = tf_g[order], nid_g[order]
            if with_positions:
                pos_lists = pos_lists.take(pa.array(order))
        change = np.empty(len(code_g), dtype=bool)
        change[0] = True
        change[1:] = (code_g[1:] != code_g[:-1]) | (seg_g[1:] != seg_g[:-1])
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(code_g))
        run_terms = vocab.take(pa.array(code_g[starts], type=pa.int32())).to_pylist()
        records: list[dict] = []
        for term, s, e in zip(run_terms, starts, ends):
            rows = codec.encode_blocks(did_g[s:e], tf_g[s:e], nid_g[s:e])
            seg = int(seg_g[s])
            for r in rows:
                r["segment_id"] = seg
                r["term"] = term
            records.extend(rows)
        blocks = pd.DataFrame.from_records(records)
        blocks["segment_id"] = blocks["segment_id"].astype(np.int32)
        yield _fused_frame(0, blocks)
        if with_positions:
            yield _fused_frame(2, {
                "segment_id": seg_g.astype(np.int32),
                "term": vocab.take(pa.array(code_g)).to_numpy(zero_copy_only=False),
                "doc_id": did_g,
                "positions": pos_lists.to_numpy(zero_copy_only=False),
            })
    if meta_parts:
        yield _fused_frame(1, pd.concat(meta_parts, ignore_index=True))


#: Salt chunk (§4.7): posting rows are grouped by (segment, term,
#: doc_id // SALT_CHUNK) for block encoding, so no single task ever holds
#: more than SALT_CHUNK postings of one term — a stop-word term spanning a
#: 100M-doc segment would otherwise OOM one executor. Chunks are
#: CONTIGUOUS doc ranges, so each salted group is a sorted run and runs
#: concatenate into the final posting list by construction (only block_id
#: needs renumbering, done by a cheap window over block headers).
SALT_CHUNK = 16384


def _build_blocks_salted(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas worker: one (segment, term, salt) run -> encoded blocks.

    norm_id may come pre-computed (merge path) or be derived from doc_len
    (facet path).
    """
    segment_id, term = key[0], key[1]
    order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
    doc_ids = pdf["doc_id"].to_numpy()[order]
    tfs = pdf["tf"].to_numpy()[order]
    if "norm_id" in pdf.columns:
        norm_ids = pdf["norm_id"].to_numpy()[order].astype(np.uint8)
    else:
        norm_ids = fieldnorm_to_id(pdf["doc_len"].to_numpy()[order])
    rows = codec.encode_blocks(doc_ids, tfs, norm_ids)
    out = pd.DataFrame(rows)
    out.insert(0, "segment_id", np.int32(segment_id))
    out.insert(1, "term", term)
    return out


def encode_posting_blocks(
    posting_rows: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(segment_id, term, doc_id, tf, doc_len|norm_id) rows -> block rows.

    Salted two-phase encode (§4.7): group by (segment, term, salt) where
    salt is the contiguous SALT_CHUNK doc-range, encode each run, then
    renumber block_id per (segment, term) ordered by first_doc. The
    renumber window runs over BLOCK HEADERS (128x smaller than postings),
    so the extra exchange is cheap; the win is bounded task memory and
    heavy-term parallelism at merge and facet-encode time.
    """
    spark = posting_rows.sparkSession
    n_shuffle = shuffle_partitions or spark.sparkContext.defaultParallelism * 2
    salted = posting_rows.withColumn(
        "_salt", (F.col("doc_id") / F.lit(SALT_CHUNK)).cast("int")
    )
    blocks = (
        salted.repartition(n_shuffle, "segment_id", "term", "_salt")
        .groupBy("segment_id", "term", "_salt")
        .applyInPandas(_build_blocks_salted, schema=codec.BLOCK_SCHEMA)
    )
    w = Window.partitionBy("segment_id", "term").orderBy("first_doc")
    return (
        blocks.withColumn("block_id", F.row_number().over(w) - F.lit(1))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    )


def term_bucket_col(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def term_dict_from_blocks(postings: DataFrame, n_buckets: int) -> DataFrame:
    """A6: the global ``term_dict(term, doc_freq, total_tf, term_bucket)``
    derived from BLOCK HEADERS (128x fewer rows than postings). The
    groupBy is algebraic -> map-side partial aggregation already defuses
    term skew for these sums."""
    return (
        postings.groupBy("term")
        .agg(F.sum("count").alias("doc_freq"), F.sum("sum_tf").alias("total_tf"))
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    )


def build_segments(corpus: DataFrame, n_buckets: int, with_positions: bool):
    """The one segment writer: tokenize + block-encode a corpus that
    already carries ``doc_id`` and ``segment_id`` (one segment per
    partition) in ONE fused mapInPandas pass, persisted once. Returns
    ``(fused, postings, doc_meta, positions)``: the cache, then filter
    views over it (``positions`` is None without ``with_positions``).
    The caller owns the cache and unpersists it when done."""
    carry = [c for c in _META_CARRY if c in corpus.columns]
    fused = (
        corpus.select("doc_id", "segment_id", "content", *carry)
        .mapInPandas(
            partial(_build_segment_partition, with_positions=with_positions),
            schema=_FUSED_SCHEMA,
        )
        .persist()
    )
    kind = F.col("kind")
    postings = (
        fused.filter(kind == 0)
        .select("segment_id", "term", "block_id", "count", "first_doc",
                "last_doc", "max_tf", "sum_tf", "min_norm_id",
                "doc_bits", "doc_bytes", "tf_bytes", "norm_bytes")
        .withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    )
    doc_meta = fused.filter(kind == 1).select(
        "doc_id", "segment_id", "repo", "path", "commit", "lang", "sha",
        "doc_len", "norm_id",
        *(["n_chars"] if "n_chars" in corpus.columns else []),
    )
    positions = (
        fused.filter(kind == 2).select("segment_id", "term", "doc_id", "positions")
        if with_positions else None
    )
    return fused, postings, doc_meta, positions


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    num_segments: int | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    index_dir: str | None = None,
    resume: bool = False,
    num_groups: int = 1,
    with_positions: bool = False,
) -> Index:
    """Build the full index from a canonical corpus DataFrame.

    In-memory mode (``index_dir=None``): returns an :class:`Index` whose
    DataFrames are persisted (MEMORY_AND_DISK). Persisted mode: writes the
    A12 layout, one commit of its log per segment group, and supports
    ``resume`` (:mod:`sparktext.manifest`).
    """
    if index_dir is not None:
        from sparktext.manifest import build_persistent_index

        return build_persistent_index(
            spark, corpus, index_dir, num_segments=num_segments,
            n_buckets=n_buckets, resume=resume, num_groups=num_groups,
            with_positions=with_positions,
        )

    if num_segments is None:
        num_segments = max(4, spark.sparkContext.defaultParallelism)
    _id_caches: list = []
    if "doc_id" not in corpus.columns:
        # The doc-id assignment's window already co-located each range
        # partition (= a contiguous doc range) — adopt it as the segment
        # and SKIP the second full-corpus shuffle entirely.
        corpus = assign_doc_ids(
            corpus, num_segments, keep_pid=True, _cache_out=_id_caches
        ).withColumnRenamed("_pid", "segment_id")
    elif corpus.rdd.getNumPartitions() >= max(num_segments // 2, 2):
        # Caller-supplied doc ids AND a well-split input: adopt the input
        # partitions as segments outright — zero shuffle. Segments become
        # arrival-order batches (exactly tantivy's segment semantics;
        # nothing requires contiguous doc ranges: per-(segment, term)
        # posting lists are sorted in the worker, scores are
        # segmentation-independent, and merge re-derives segmentation).
        # Sparse in-segment doc ids cost a few extra delta bits per gap.
        corpus = corpus.withColumn("segment_id", F.spark_partition_id())
    else:
        # Few-partition input (e.g. one small local file): repartition
        # BEFORE the sha projection so per-row prep runs post-exchange —
        # and so one source file can't serialize the whole build. The
        # contiguous doc-range segments need the doc count first.
        seg_size = max(1, math.ceil(corpus.count() / num_segments))
        corpus = corpus.withColumn(
            "segment_id", (F.col("doc_id") / F.lit(seg_size)).cast("int")
        ).repartition(num_segments, "segment_id")

    fused, postings, doc_meta, positions = build_segments(
        with_sha(corpus), n_buckets, with_positions
    )
    # Term scans get their own compact cache of block rows: the fused
    # cache's columnar batches (10k rows) mix block, doc and positions
    # rows, and a term filter can skip only whole batches.
    postings = postings.persist()
    term_dict = term_dict_from_blocks(postings, n_buckets).persist()
    # First action: materializes tokenize + encode + the fused cache;
    # n_docs and total_tokens come out of the same tiny aggregate.
    srow = doc_meta.agg(F.count("*").alias("n"), F.sum("doc_len").alias("tt")).collect()[0]
    # The doc-id assignment's ranged cache has served its purpose.
    for c in _id_caches:
        c.unpersist()
    stats = IndexStats(num_docs=int(srow["n"]), total_tokens=int(srow["tt"] or 0))
    return Index(doc_meta=doc_meta, postings=postings, term_dict=term_dict,
                 stats=stats, n_buckets=n_buckets, positions=positions,
                 _build_caches=[fused])


def facet_posting_rows(doc_meta: DataFrame, facet_expr, depth: int | None) -> DataFrame:
    """(doc_id, segment_id, term=ancestor-prefix, tf=1, doc_len=1) rows
    for the facet encode of ``facet_expr`` (a SQL string or a Column) —
    shared by with_facets, the persisted groups, and the post-purge
    merge rebuild."""
    from sparktext.aggs import facet_prefixes_col  # local: import cycle

    if isinstance(facet_expr, str):
        facet_expr = F.expr(facet_expr)
    return (
        doc_meta.select(
            "doc_id", "segment_id",
            F.explode(facet_prefixes_col(facet_expr, depth)).alias("term"),
        )
        .withColumn("tf", F.lit(1))
        .withColumn("doc_len", F.lit(1))
    )


def with_facets(
    index: Index,
    facet_expr,
    depth: int | None = None,
    index_dir: str | None = None,
) -> Index:
    """Index a facet field (tantivy's ``Facet`` type; SURVEY §2 A2/C7
    query-side complement): hierarchical '/a/b' paths become exact TERMS
    in a facet postings table built through the SAME A4 block-codec
    encode as text postings.

    Every ancestor prefix of a doc's facet path is indexed (rollup AT
    INDEX TIME — tantivy stores facet ords the same way), so a
    '/lang/rust' SUBTREE query is a single exact-term lookup: no LIKE
    scan over doc_meta, partition-pruned by term_bucket exactly like a
    term query. ``facet_expr`` is a SQL expression STRING over
    ``index.doc_meta`` columns (e.g. ``"concat('/', lang, '/', repo)"``)
    — a string, not a Column, so the spec can be persisted in the
    index's commit log and the facet table MAINTAINED by
    ``append_documents`` (per-group extension), ``compact_index`` and
    ``merge_segments`` (post-purge rebuild). A Column is still accepted
    for ad-hoc in-memory use (it cannot be persisted or maintained).

    Facet terms score constant 1.0 (tantivy multi-term ConstScorer), so
    tf=1 and doc_len=1 placeholders feed the codec; text BM25 statistics
    are untouched — the facet table is separate from ``postings`` and
    never pollutes avgdl/idf.

    ``index_dir``: persist the field instead, in one commit of the
    index's log (:func:`sparktext.manifest.write_facets`), and return
    the index loaded from there; ``load_index`` picks it up on reload.
    """
    if index_dir is not None:
        if not isinstance(facet_expr, str):
            raise TypeError(
                "persisted facets need a SQL-string facet_expr (it is stored "
                "in the commit log so appends and compaction can re-derive "
                "the table)"
            )
        from sparktext.manifest import write_facets

        return write_facets(index.doc_meta.sparkSession, index_dir, facet_expr, depth)
    fp = encode_posting_blocks(
        facet_posting_rows(index.doc_meta, facet_expr, depth), index.n_buckets
    ).persist()
    return Index(
        doc_meta=index.doc_meta, postings=index.postings,
        term_dict=index.term_dict, stats=index.stats,
        n_buckets=index.n_buckets, positions=index.positions,
        deleted=index.deleted, facet_postings=fp,
        facet_expr=facet_expr if isinstance(facet_expr, str) else None,
        facet_depth=depth,
        # facets don't touch the text term dictionary: share the memo
        _tstats=index._tstats, _build_caches=index._build_caches,
    )
