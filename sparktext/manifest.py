"""Persisted index layout and its commit log (A12).

Layout under ``index_dir``::

    _log/%020d.json  the commit log: one file per version
    postings/        parquet, partitioned by group_id + term_bucket
    doc_meta/        parquet, partitioned by group_id
    positions/       (with_positions) parquet, partitioned like postings
    facet_postings/  (with_facets) parquet, partitioned like postings
    term_dict/       parquet, partitioned by group_id: each group's own
                     term-dictionary partial

A *group* is what one writer adds in one commit: a segment group of a
build, an append batch, or a compaction's output. :func:`_write_group`
writes each the same way: postings, doc_meta and positions (from
:func:`sparktext.build.build_segments`, or from a merge), the group's
term-dictionary partial and, when the index has a facet field, its facet
postings. The commit records the group's ``n_docs``, ``total_tokens``,
content fingerprint (lineage: an order-insensitive hash of its docs'
sha and metadata) and ``wall_ms``. :func:`load_index` sums the partials
and the counts, the way tantivy sums per-segment ``doc_freq``, so no
writer ever re-reads another group's data.

The log follows Delta Lake (VLDB'20). Commit N is ``_log/%020d.json``,
created complete or not at all: it is written to a private temp file,
then ``link(2)``-ed to its name, which fails if the name exists. That
link is the only commit point. A commit lists the data files it adds and
removes and carries metadata: the build geometry (commit 0), the facet
spec, the stats of the groups it adds, the groups it drops, a
``txn(app_id, version)`` for exactly-once callers, and the doc, segment
and group id high-water marks. Readers replay the log and read only live
files, as an explicit file list, so:

- a crashed writer leaves only files no commit references; :func:`vacuum`
  deletes them;
- a resumed build adopts the geometry of commit 0 and builds only the
  groups the log lacks;
- compaction is one commit that removes exactly the files it read, and
  the directory is never renamed;
- concurrent writers race for the next version without a lock: the loser
  deletes its own files and redoes its work against the new snapshot,
  with new doc, segment and group ids.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import uuid
import warnings
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktext.build import (
    DEFAULT_N_BUCKETS,
    Index,
    IndexStats,
    assign_doc_ids,
    build_segments,
    encode_posting_blocks,
    facet_posting_rows,
    term_bucket_col,
    term_dict_from_blocks,
    with_sha,
)

_LOG = "_log"
_COMMIT_NAME = re.compile(r"\d{20}\.json")
#: streaming-ingest checkpoint directory: Spark's state, not index data
STREAM_CHECKPOINT = "_stream_checkpoint"
#: commit races one operation may lose before it gives up
_MAX_ATTEMPTS = 10


@dataclass
class Snapshot:
    """The index as of one log version (-1: nothing committed yet)."""

    version: int = -1
    geometry: dict | None = None
    #: live data files, relative to index_dir
    files: set = field(default_factory=set)
    #: group_id -> the commit's stats for every live group
    groups: dict = field(default_factory=dict)
    #: build groups ever committed (compaction may have merged them since)
    built: set = field(default_factory=set)
    facets: dict | None = None
    #: app_id -> highest committed txn version
    txns: dict = field(default_factory=dict)
    #: first unused doc, segment and group id
    next: dict = field(default_factory=lambda: {"doc": 0, "segment": 0, "group": 0})


def snapshot(index_dir: str) -> Snapshot:
    """Replay ``index_dir``'s commit log up to its latest version."""
    snap = Snapshot()
    log = os.path.join(index_dir, _LOG)
    names = sorted(os.listdir(log)) if os.path.isdir(log) else []
    for name in filter(_COMMIT_NAME.fullmatch, names):
        with open(os.path.join(log, name)) as f:
            c = json.load(f)
        snap.version = int(name[:20])
        snap.geometry = snap.geometry or c.get("geometry")
        snap.files.difference_update(c.get("remove", []))
        snap.files.update(c.get("add", []))
        for g in c.get("drop_groups", []):
            del snap.groups[g]
        for s in c.get("groups", []):
            snap.groups[s["group_id"]] = s
            if c["op"] == "build":
                snap.built.add(s["group_id"])
        snap.facets = c.get("facets", snap.facets)
        if "txn" in c:
            app, v = c["txn"]["app_id"], c["txn"]["version"]
            snap.txns[app] = max(v, snap.txns.get(app, v))
        for k, v in c.get("next", {}).items():
            snap.next[k] = max(v, snap.next[k])
    return snap


def _commit(index_dir: str, version: int, actions: dict) -> bool:
    """Create commit ``version`` complete, or not at all. False when
    another writer created it first."""
    log = os.path.join(index_dir, _LOG)
    os.makedirs(log, exist_ok=True)
    tmp = os.path.join(log, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(actions, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(log, f"{version:020d}.json"))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _transact(index_dir: str, attempt) -> None:
    """Optimistic concurrency: ``attempt(snapshot)`` writes one
    operation's files against the latest snapshot and returns its commit
    (None: nothing to commit). When another writer takes the version
    first, the attempt's files are deleted (no commit references them)
    and it runs again against the new snapshot."""
    for _ in range(_MAX_ATTEMPTS):
        snap = snapshot(index_dir)
        actions = attempt(snap)
        if actions is None or _commit(index_dir, snap.version + 1, actions):
            return
        for p in actions.get("add", []):
            os.remove(os.path.join(index_dir, p))
    raise RuntimeError(f"{index_dir!r}: lost {_MAX_ATTEMPTS} commit races in a row")


def _stage(df: DataFrame, staging: str, table: str, partition_by: list[str]) -> None:
    """Write one table of an attempt into its private staging directory:
    Spark's output commit cannot share a directory with another writer."""
    df.write.mode("append").partitionBy(*partition_by).parquet(os.path.join(staging, table))


def _publish(index_dir: str, staging: str) -> list[str]:
    """Move the staged parquet files into their table directories and
    return their paths relative to ``index_dir``. Spark names each file
    after its write job, so no other writer's file is ever replaced."""
    added = []
    for root, _, names in os.walk(staging):
        for n in names:
            if n.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, n), staging)
                os.makedirs(os.path.join(index_dir, os.path.dirname(rel)), exist_ok=True)
                os.rename(os.path.join(root, n), os.path.join(index_dir, rel))
                added.append(rel)
    shutil.rmtree(staging)
    return sorted(added)


def _staging_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "_staging", uuid.uuid4().hex)


def _fp_sum_agg():
    """Order-insensitive content fingerprint (lineage): per-row xxhash64
    over the sha and the metadata columns, summed in unbounded decimal
    (ANSI-safe) and folded to a long."""
    return F.pmod(
        F.sum(
            F.xxhash64("sha", "repo", "path", "commit", "lang")
            .cast("decimal(38,0)")
        ),
        F.lit(2**62),
    ).cast("long")


def _stage_facets(staging: str, g: int, doc_meta: DataFrame, facets: dict,
                  n_buckets: int) -> None:
    """Encode one group's facet prefixes (build.with_facets) into its
    (group_id, term_bucket) partitions."""
    blocks = encode_posting_blocks(
        facet_posting_rows(doc_meta, facets["expr"], facets["depth"]), n_buckets
    )
    _stage(
        blocks.withColumn("group_id", F.lit(g))
        .sortWithinPartitions("term", "segment_id", "block_id"),
        staging, "facet_postings", ["group_id", "term_bucket"],
    )


def _write_group(index_dir: str, g: int, n_buckets: int, postings: DataFrame,
                 doc_meta: DataFrame, positions: DataFrame | None,
                 facets: dict | None, t0: float) -> dict:
    """Stage group ``g``'s tables, its term-dictionary partial and (when
    the index has a facet field) its facet postings, then publish them.
    Returns the group's commit: the files it adds, its stats and the id
    high-water marks of its docs and segments."""
    staging = _staging_dir(index_dir)
    gid = F.lit(g)
    if positions is not None:
        _stage(
            positions.withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
            .withColumn("group_id", gid),
            staging, "positions", ["group_id", "term_bucket"],
        )
    # One postings file per term_bucket (not per segment and bucket): a
    # term query opens one file per group. sortWithinPartitions(term):
    # tight parquet row-group min/max on the term column -> row-group
    # skipping under the pushed term filter at query time (§4.1).
    _stage(
        postings.withColumn("group_id", gid).repartition("term_bucket")
        .sortWithinPartitions("term", "segment_id", "block_id"),
        staging, "postings", ["group_id", "term_bucket"],
    )
    _stage(term_dict_from_blocks(postings, n_buckets).withColumn("group_id", gid),
           staging, "term_dict", ["group_id"])
    if facets is not None:
        _stage_facets(staging, g, doc_meta, facets, n_buckets)
    _stage(doc_meta.withColumn("group_id", gid), staging, "doc_meta", ["group_id"])
    s = doc_meta.agg(
        F.count("*").alias("n"), F.sum("doc_len").alias("tt"), _fp_sum_agg().alias("fp"),
        F.coalesce(F.max("doc_id") + 1, F.lit(0)).alias("doc"),
        F.coalesce(F.max("segment_id") + 1, F.lit(0)).alias("segment"),
    ).collect()[0]
    return {
        "add": _publish(index_dir, staging),
        "groups": [{
            "group_id": g, "n_docs": int(s["n"]), "total_tokens": int(s["tt"] or 0),
            "fingerprint": int(s["fp"] or 0), "wall_ms": int((time.time() - t0) * 1000),
        }],
        "next": {"doc": int(s["doc"]), "segment": int(s["segment"]), "group": g + 1},
    }


def build_persistent_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    num_segments: int | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    resume: bool = False,
    num_groups: int = 4,
    with_positions: bool = False,
) -> Index:
    """Checkpointed build: the corpus is split into ``num_groups``
    contiguous segment groups, one commit each. ``resume=True`` adopts
    the geometry of commit 0 (resuming at a different parallelism would
    re-derive different segment and group boundaries and skip or
    duplicate docs) and builds only the groups the log lacks."""
    snap = snapshot(index_dir)
    if snap.version >= 0:
        if not resume:
            raise ValueError(
                f"index_dir {index_dir!r} already holds an index; pass "
                "resume=True to continue an interrupted build, or point at an "
                "empty directory"
            )
        geometry = snap.geometry
    else:
        if num_segments is None:
            num_segments = max(4, spark.sparkContext.defaultParallelism)
        geometry = {"num_segments": num_segments, "num_groups": num_groups,
                    "with_positions": with_positions, "n_buckets": n_buckets}
    todo = [g for g in range(geometry["num_groups"]) if g not in snap.built]
    if not todo:
        return load_index(spark, index_dir)

    num_segments = geometry["num_segments"]
    id_caches: list = []
    corpus = assign_doc_ids(corpus, num_segments, _cache_out=id_caches)
    srow = corpus.agg(F.count("*").alias("n"), F.max("doc_id").alias("maxd")).collect()[0]
    # doc_id // seg_size, not the assignment's range partitions: resume
    # needs segment boundaries that do not depend on range sampling.
    seg_size = max(1, math.ceil(srow["n"] / num_segments))
    segs_per_group = max(1, math.ceil(num_segments / geometry["num_groups"]))
    corpus = (
        corpus.withColumn("segment_id", (F.col("doc_id") / F.lit(seg_size)).cast("int"))
        .withColumn("group_id", (F.col("segment_id") / F.lit(segs_per_group)).cast("int"))
        .persist()
    )
    # The build reserves its whole id range up front, so an append that
    # lands before an interrupted build resumes cannot take its ids.
    reserve = {"doc": int(srow["maxd"] or 0) + 1, "segment": num_segments,
               "group": geometry["num_groups"]}
    try:
        for g in todo:
            _transact(index_dir, partial(_build_group, index_dir, corpus, geometry,
                                         segs_per_group, reserve, g))
    finally:
        corpus.unpersist()
        for c in id_caches:
            c.unpersist()
    return load_index(spark, index_dir)


def _build_group(index_dir: str, corpus: DataFrame, geometry: dict, segs_per_group: int,
                 reserve: dict, g: int, snap: Snapshot) -> dict | None:
    """One build group's attempt (see :func:`_transact`)."""
    if g in snap.built:
        return None
    if snap.geometry not in (None, geometry):
        raise ValueError(f"{index_dir!r}: another build committed a different geometry")
    t0 = time.time()
    n_buckets = geometry["n_buckets"]
    # One exchange per group; the sha projection runs after it, not on
    # the input partitioning.
    fused, postings, doc_meta, positions = build_segments(
        with_sha(corpus.filter(F.col("group_id") == g)
                 .repartition(segs_per_group, "segment_id")),
        n_buckets, geometry["with_positions"],
    )
    actions = _write_group(index_dir, g, n_buckets, postings, doc_meta, positions,
                           snap.facets, t0)
    fused.unpersist()
    actions["op"] = "build"
    actions["next"] = {k: max(v, reserve[k]) for k, v in actions["next"].items()}
    if snap.version < 0:
        actions["geometry"] = geometry
    return actions


def append_documents(
    spark: SparkSession,
    index_dir: str,
    new_corpus: DataFrame,
    num_segments: int | None = None,
    txn: tuple[str, int] | None = None,
) -> Index:
    """Incremental commit (tantivy ``add_document`` + ``commit`` ≈
    appending segments): index ``new_corpus`` as one new group of fresh
    segments after the current ones, in one commit. No existing file is
    rewritten or read: the group carries its own term-dictionary partial
    and counts, so an append costs what its batch costs. Results equal a
    from-scratch build over the union corpus because BM25 reads only
    global stats + per-doc norms (asserted in tests). Run
    :func:`compact_index` to compact.

    ``txn=(app_id, version)`` makes retries exactly-once: the batch is
    skipped, with a warning, when the log already holds a txn of
    ``app_id`` at ``version`` or later (a streaming sink passes its
    batch id). The txn alone decides: identical content under new
    metadata, or under a new txn version, is a new batch. Without
    a txn every call appends. A crash before the commit leaves only
    unreferenced files, so a plain retry is safe then; only a retry
    after a commit the caller never saw needs the txn.

    A writer that loses the commit race to another writer redoes the
    group with the new snapshot's doc, segment and group ids."""
    if num_segments is None:
        num_segments = max(4, spark.sparkContext.defaultParallelism)
    id_caches: list = []
    corpus = with_sha(new_corpus)
    if "doc_id" not in corpus.columns:
        corpus = assign_doc_ids(corpus, num_segments, _cache_out=id_caches)
    corpus = corpus.persist()
    n_new = corpus.count()
    seg_size = max(1, math.ceil(n_new / num_segments))

    def attempt(snap: Snapshot) -> dict | None:
        if snap.version < 0:
            raise ValueError(f"{index_dir!r} holds no index; build it first")
        if n_new == 0:
            return None
        if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
            warnings.warn(
                f"append to {index_dir!r} skipped: txn {txn[0]!r} version {txn[1]} is "
                f"already committed (a crash retry or a replayed batch)", stacklevel=4,
            )
            return None
        t0 = time.time()
        base_doc, base_seg = snap.next["doc"], snap.next["segment"]
        fused, postings, doc_meta, positions = build_segments(
            corpus.withColumn(
                "segment_id", (F.col("doc_id") / F.lit(seg_size)).cast("int") + F.lit(base_seg)
            ).withColumn("doc_id", F.col("doc_id") + F.lit(base_doc))
            .repartition(num_segments, "segment_id"),
            snap.geometry["n_buckets"], snap.geometry["with_positions"],
        )
        actions = _write_group(index_dir, snap.next["group"], snap.geometry["n_buckets"],
                               postings, doc_meta, positions, snap.facets, t0)
        fused.unpersist()
        actions["op"] = "append"
        if txn is not None:
            actions["txn"] = {"app_id": txn[0], "version": txn[1]}
        return actions

    try:
        _transact(index_dir, attempt)
    finally:
        corpus.unpersist()
        for c in id_caches:
            c.unpersist()
    return load_index(spark, index_dir)


def _table(spark: SparkSession, index_dir: str, snap: Snapshot, name: str):
    """Table ``name`` as of ``snap``: its live files, read with the table
    directory as basePath so the group_id/term_bucket partition columns
    (and term_bucket pruning) stay. None when it has no live file."""
    paths = sorted(os.path.join(index_dir, p) for p in snap.files if p.startswith(name + "/"))
    if not paths:
        return None
    return spark.read.option("basePath", os.path.join(index_dir, name)).parquet(*paths)


def _read_index(spark: SparkSession, index_dir: str, snap: Snapshot) -> Index:
    if snap.version < 0:
        raise ValueError(f"{index_dir!r} holds no committed index")
    term_dict = (
        _table(spark, index_dir, snap, "term_dict")
        .groupBy("term", "term_bucket")
        .agg(F.sum("doc_freq").alias("doc_freq"), F.sum("total_tf").alias("total_tf"))
        .select("term", "doc_freq", "total_tf", "term_bucket")
    )
    facets = snap.facets or {}
    return Index(
        doc_meta=_table(spark, index_dir, snap, "doc_meta"),
        postings=_table(spark, index_dir, snap, "postings"),
        term_dict=term_dict,
        stats=IndexStats(
            num_docs=sum(s["n_docs"] for s in snap.groups.values()),
            total_tokens=sum(s["total_tokens"] for s in snap.groups.values()),
        ),
        n_buckets=snap.geometry["n_buckets"],
        positions=_table(spark, index_dir, snap, "positions"),
        facet_postings=_table(spark, index_dir, snap, "facet_postings"),
        facet_expr=facets.get("expr"),
        facet_depth=facets.get("depth"),
    )


def load_index(spark: SparkSession, index_dir: str) -> Index:
    """The index as of the latest commit: reads exactly its live files
    and sums the groups' term-dictionary partials and counts."""
    return _read_index(spark, index_dir, snapshot(index_dir))


def write_facets(spark: SparkSession, index_dir: str, facet_expr: str,
                 depth: int | None) -> Index:
    """Persist a facet field (:func:`sparktext.build.with_facets`) in one
    commit: the facet postings of every live group, replacing any
    earlier facet files, and the facet spec that appends and compaction
    re-derive the field from."""
    facets = {"expr": facet_expr, "depth": depth}

    def attempt(snap: Snapshot) -> dict:
        doc_meta = _read_index(spark, index_dir, snap).doc_meta
        staging = _staging_dir(index_dir)
        for g in sorted(snap.groups):
            _stage_facets(staging, g, doc_meta.filter(F.col("group_id") == g), facets,
                          snap.geometry["n_buckets"])
        return {
            "op": "facets", "facets": facets, "add": _publish(index_dir, staging),
            "remove": sorted(p for p in snap.files if p.startswith("facet_postings/")),
        }

    _transact(index_dir, attempt)
    return load_index(spark, index_dir)


def compact_index(spark: SparkSession, index_dir: str, num_segments: int) -> Index:
    """Persisted compaction (A10 merge x A12 layout): merge every live
    group into one new group of ``num_segments`` segments, committed as
    ONE commit that adds it and removes exactly the files it read. The
    directory is never renamed, so the streaming checkpoint inside it
    stays put, and readers of the previous version keep their files
    until :func:`vacuum`. An append that commits first makes this
    attempt lose the race; it then merges again, appended group
    included."""
    from sparktext.merge import merge_segments

    def attempt(snap: Snapshot) -> dict:
        t0 = time.time()
        merged = merge_segments(_read_index(spark, index_dir, snap), num_segments)
        # merge numbers segments from 0; shift them past every id in use,
        # as an append does.
        base = F.lit(snap.next["segment"])
        postings, doc_meta, positions = (
            None if df is None else df.withColumn("segment_id", F.col("segment_id") + base)
            for df in (merged.postings, merged.doc_meta, merged.positions)
        )
        actions = _write_group(index_dir, snap.next["group"], snap.geometry["n_buckets"],
                               postings, doc_meta, positions, snap.facets, t0)
        merged.unpersist()
        actions.update(op="compact", remove=sorted(snap.files),
                       drop_groups=sorted(snap.groups))
        return actions

    _transact(index_dir, attempt)
    return load_index(spark, index_dir)


def vacuum(index_dir: str) -> None:
    """Delete every file the latest version does not reference: what a
    crashed or outraced writer left, and the files compaction or
    with_facets removed. Run it with no writer active (a live writer's
    published but not yet committed files are unreferenced too) and once
    no reader still uses an older version. The streaming checkpoint is
    left alone."""
    snap = snapshot(index_dir)
    keep = snap.files | {os.path.join(_LOG, f"{v:020d}.json") for v in range(snap.version + 1)}
    for root, _, names in os.walk(index_dir, topdown=False):
        rel = os.path.relpath(root, index_dir)
        if rel.split(os.sep)[0] == STREAM_CHECKPOINT:
            continue
        for n in names:
            if os.path.normpath(os.path.join(rel, n)) not in keep:
                os.remove(os.path.join(root, n))
        if rel != "." and not os.listdir(root):
            os.rmdir(root)
