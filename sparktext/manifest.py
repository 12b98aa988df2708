"""Persistent index layout, checkpoint/resume, lineage + metrics (A12).

Layout under ``index_dir``::

    postings/    parquet, partitioned by group_id (checkpoint granularity)
                 + term_bucket (query-time pruning)
    doc_meta/    parquet, partitioned by group_id
    positions/   (with_positions) parquet, partitioned like postings
    term_dict/   parquet (finalize output, derived from block headers)
    stats.json   num_docs, total_tokens, n_buckets, num_segments
    geometry.json  num_segments, num_groups, with_positions (resume sidecar)
    _manifest/   parquet: one row per completed segment-group
                 (group_id, n_docs, input_fingerprint, wall_ms, build_id,
                  status, num_segments, num_groups, with_positions)
    _metrics/    parquet: per-stage rows (stage, group_id, rows, wall_ms)

Every segment group — each group of a build and each append — is written
the same way: :func:`sparktext.build.build_segments` (the one segment
writer the in-memory build also uses) yields its postings, doc_meta and
positions, :func:`_write_group` writes them, and a manifest row marks
the group complete. Each table holds exactly the in-memory index's
columns plus ``group_id``.

Resumability (BASELINE.json north_rule "resumable from checkpoint with
per-partition lineage + metrics"): the corpus is split into
``num_groups`` contiguous segment-groups. A re-run with ``resume=True``
skips the groups the manifest marks complete, then re-finalizes the
(cheap, vocabulary-sized) term dictionary from all block headers.
``input_fingerprint`` is the order-insensitive sum of xxhash64 over each
doc's sha and metadata — lineage evidence that a resumed build saw the
same input rows (the per-row sha256 itself lives in doc_meta,
satisfying the content-sha invariant).

Crash-safety contract:

- group data is written with DYNAMIC partition overwrite keyed on
  ``group_id``: a crash between a group's data write and its manifest
  append leaves orphan files that the resumed run simply overwrites —
  no duplicate rows can survive a resume;
- a fresh build REFUSES a non-empty ``index_dir`` (re-running with
  ``resume=False`` used to double-append everything silently);
- ``geometry.json`` is written before the first group and a resume
  ADOPTS it (callers resuming at different parallelism used to silently
  skip or duplicate docs);
- appends and compaction take a single-writer lock beside the index.
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid

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


class WriterLockHeld(RuntimeError):
    """Another writer (append/compact/stream batch) holds the index's
    single-writer lock. Retry after it finishes — concurrent writers
    racing compaction's directory swap can land data in a directory
    about to be deleted."""


def _lock_pid(path: str):
    """The pid recorded in a writer lock file (None if unreadable)."""
    try:
        with open(path) as f:
            return json.load(f).get("pid")
    except (OSError, ValueError):
        return None


def _pid_alive(pid) -> bool:
    return pid is not None and os.path.exists(f"/proc/{pid}")


class _writer_lock:
    """Single-writer guard shared by :func:`append_documents` and
    :func:`compact_index` (and, through append, every streaming
    micro-batch): a JSON lock file BESIDE the index directory — it must
    survive compaction's renames of the directory itself — created
    complete by ``link(2)``-ing a written temp file to the lock path
    (fails if the path exists). A live holder raises
    :class:`WriterLockHeld` (fail-fast, callers retry after the swap);
    a stale lock whose pid is dead is broken with a warning. This
    enforces the contract the compaction swap protocol assumes: no
    append may land between ``base -> old`` and ``tmp -> base`` (it
    would write into a directory that is about to be rmtree'd)."""

    def __init__(self, index_dir: str, op: str):
        self.path = index_dir.rstrip("/") + ".writer_lock"
        self.op = op

    def __enter__(self):
        import warnings

        # The lock is born complete: write a private temp file, then
        # link(2) it to the lock path — link fails if the path exists, so
        # no reader ever sees an empty lock file (pid=None).
        tmp = f"{self.path}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump({"pid": os.getpid(), "op": self.op, "ts": time.time()}, f)
        try:
            while True:
                try:
                    os.link(tmp, self.path)
                    return self
                except FileExistsError:
                    pass
                pid = _lock_pid(self.path)
                if _pid_alive(pid):
                    raise WriterLockHeld(
                        f"index writer lock {self.path!r} held by live "
                        f"pid {pid}; retry after the current writer "
                        f"(append/compact) finishes"
                    )
                # Atomic CLAIM before breaking: rename the stale file to a
                # per-pid name — rename(2) is atomic, so exactly ONE waiter
                # wins a given file; a loser's rename raises and it loops
                # back to the create.
                claim = f"{self.path}.stale.{os.getpid()}"
                try:
                    os.rename(self.path, claim)
                except FileNotFoundError:
                    continue  # another waiter claimed it first
                # Between reading the dead pid and the rename, another
                # waiter may have broken that lock and taken a fresh one:
                # then this rename claimed a LIVE lock. Re-read what was
                # claimed; anything but the dead holder goes back.
                got = _lock_pid(claim)
                if got != pid or _pid_alive(got):
                    os.rename(claim, self.path)
                    raise WriterLockHeld(
                        f"index writer lock {self.path!r} was taken by pid "
                        f"{got} while breaking a stale lock; retry"
                    )
                warnings.warn(
                    f"breaking stale index writer lock {self.path!r} "
                    f"(holder pid {pid} is dead)"
                )
                try:
                    os.unlink(claim)
                except OSError:
                    pass
        finally:
            os.unlink(tmp)

    def __exit__(self, *exc):
        try:
            os.unlink(self.path)
        except OSError:
            pass
        return False


def _fp_sum_agg():
    """Order-insensitive input fingerprint aggregate: per-row xxhash64
    over the content sha AND the metadata columns, summed in unbounded
    decimal (ANSI-safe) and folded to a long. Metadata is folded in
    because the fingerprint gates the append crash-retry skip: sha
    alone (= sha256(content)) could not tell a crash replay from a new
    batch carrying identical content under DIFFERENT repo/path/commit
    metadata — that batch's metadata would silently never be indexed."""
    return F.pmod(
        F.sum(
            F.xxhash64("sha", "repo", "path", "commit", "lang")
            .cast("decimal(38,0)")
        ),
        F.lit(2**62),
    ).cast("long")


def _recover_torn_swap(base: str) -> None:
    """Complete (or roll back) a compaction swap a crash tore in half.
    MUST be called holding the writer lock. Crash between the two
    renames: the live dir is missing but tmp carries ``_COMPACT_DONE``
    — finish the swap (tmp is a complete index incl. the staged
    streaming checkpoint). Crash before the first rename completed the
    second: the old dir alone remains — restore it."""
    if os.path.exists(base):
        return
    tmp, old = base + ".compact_tmp", base + ".compact_old"
    if os.path.exists(os.path.join(tmp, "_COMPACT_DONE")):
        os.rename(tmp, base)
    elif os.path.exists(old):
        os.rename(old, base)  # pre-rename crash left the old dir
    else:
        raise ValueError(f"{base!r} holds no index")


def _salvage_stream_checkpoint(src_dir: str, dst_dir: str) -> None:
    """Move ``src_dir``'s streaming-ingest checkpoint into ``dst_dir``
    unless one is already there — exactly-once STATE, not index data;
    every path that deletes a superseded index directory must salvage
    it first or the next stream_ingest replays the whole source."""
    s = os.path.join(src_dir, "_stream_checkpoint")
    d = os.path.join(dst_dir, "_stream_checkpoint")
    if os.path.exists(s) and not os.path.exists(d):
        os.rename(s, d)


def _read_manifest(spark: SparkSession, index_dir: str) -> DataFrame | None:
    path = os.path.join(index_dir, "_manifest")
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def _overwrite_group(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Idempotent group write: dynamic partition overwrite replaces
    exactly the partitions present in ``df`` (its group_id), so a resumed
    group REPLACES any partial files a crashed run left behind."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, old)


def _write_group(index_dir: str, g: int, n_buckets: int, postings: DataFrame,
                 doc_meta: DataFrame, positions: DataFrame | None) -> None:
    """Write one segment group's tables (the views
    :func:`sparktext.build.build_segments` returns) under ``group_id=g``.
    Every table is a dynamic partition overwrite, so a retry after a
    crash anywhere before the manifest row replaces the orphans instead
    of doubling rows. doc_meta goes last."""
    gid = F.lit(g)
    if positions is not None:
        _overwrite_group(
            positions.withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
            .withColumn("group_id", gid),
            os.path.join(index_dir, "positions"), ["group_id", "term_bucket"],
        )
    # One postings file per term_bucket (not per segment and bucket): a
    # term query opens one file per group. sortWithinPartitions(term):
    # tight parquet row-group min/max on the term column -> row-group
    # skipping under the pushed term filter at query time (§4.1).
    _overwrite_group(
        postings.withColumn("group_id", gid).repartition("term_bucket")
        .sortWithinPartitions("term", "segment_id", "block_id"),
        os.path.join(index_dir, "postings"), ["group_id", "term_bucket"],
    )
    _overwrite_group(doc_meta.withColumn("group_id", gid),
                     os.path.join(index_dir, "doc_meta"), ["group_id"])


def _write_facet_group(index_dir: str, g: int, n_buckets: int, doc_meta: DataFrame,
                       facet_expr: str, depth: int | None) -> None:
    """Encode one group's facet prefixes (build.with_facets) and
    overwrite just its (group_id, term_bucket) partitions — the same
    crash-retry contract as the text postings."""
    fblocks = encode_posting_blocks(
        facet_posting_rows(doc_meta.drop("group_id"), facet_expr, depth), n_buckets
    )
    _overwrite_group(
        fblocks.withColumn("group_id", F.lit(g))
        .sortWithinPartitions("term", "segment_id", "block_id"),
        os.path.join(index_dir, "facet_postings"), ["group_id", "term_bucket"],
    )


def _manifest_row(index_dir: str, g: int, n_docs: int, fp, t0: float,
                  build_id: str, num_segments: int, num_groups: int,
                  with_positions: bool) -> None:
    """Append the row that marks group ``g`` complete: the commit point."""
    df = SparkSession.active().createDataFrame(
        [(int(g), int(n_docs), int(fp or 0), int((time.time() - t0) * 1000),
          build_id, "complete", int(num_segments), int(num_groups),
          bool(with_positions))],
        "group_id int, n_docs long, input_fingerprint long, wall_ms long, "
        "build_id string, status string, num_segments int, num_groups int, "
        "with_positions boolean",
    )
    df.write.mode("append").parquet(os.path.join(index_dir, "_manifest"))


def _metrics_row(index_dir: str, stage: str, g: int, rows: int, t0: float,
                 build_id: str) -> None:
    df = SparkSession.active().createDataFrame(
        [(stage, int(g), int(rows), int((time.time() - t0) * 1000), build_id)],
        "stage string, group_id int, rows long, wall_ms long, build_id string",
    )
    df.write.mode("append").parquet(os.path.join(index_dir, "_metrics"))


def _write_geometry(index_dir: str, num_segments: int, num_groups: int,
                    with_positions: bool) -> None:
    """The resume sidecar: build_persistent_index(resume=True) adopts
    all three keys."""
    with open(os.path.join(index_dir, "geometry.json"), "w") as f:
        json.dump({"num_segments": int(num_segments), "num_groups": int(num_groups),
                   "with_positions": bool(with_positions)}, f)


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
    """Checkpointed build: per-group postings/doc_meta writes + manifest."""
    if num_segments is None:
        num_segments = max(4, spark.sparkContext.defaultParallelism)
    build_id = uuid.uuid4().hex[:12]

    prior = _read_manifest(spark, index_dir)
    if not resume and (
        prior is not None or os.path.exists(os.path.join(index_dir, "postings"))
    ):
        raise ValueError(
            f"index_dir {index_dir!r} already holds an index; pass "
            "resume=True to continue an interrupted build, or point at an "
            "empty directory (re-running a fresh build here would "
            "double-write every row)"
        )
    geometry_path = os.path.join(index_dir, "geometry.json")
    if resume and os.path.exists(geometry_path):
        # Adopt the recorded build geometry: resuming at a different
        # parallelism would re-derive different segment/group boundaries
        # and silently skip or duplicate docs. The sidecar is written
        # BEFORE the first group write, so it exists even when the build
        # crashed mid-first-group (no manifest row yet) — without it,
        # orphan partitions from the crashed geometry could survive
        # _overwrite_group's partition-scoped replacement and load as
        # duplicate postings.
        with open(geometry_path) as f:
            geo = json.load(f)
        num_segments, num_groups = int(geo["num_segments"]), int(geo["num_groups"])
        with_positions = bool(geo["with_positions"])
    elif resume and prior is not None:
        # Pre-sidecar index: fall back to the manifest row.
        row0 = (
            prior.select("num_segments", "num_groups", "with_positions")
            .orderBy(F.desc("num_segments"))
            .limit(1)
            .collect()[0]
        )
        num_segments, num_groups = int(row0["num_segments"]), int(row0["num_groups"])
        with_positions = bool(row0["with_positions"])
    os.makedirs(index_dir, exist_ok=True)
    _write_geometry(index_dir, num_segments, num_groups, with_positions)

    _id_caches: list = []
    corpus = assign_doc_ids(corpus, num_segments, _cache_out=_id_caches)
    n_docs = corpus.count()
    # doc_id // seg_size, not the assignment's range partitions: resume
    # needs segment boundaries that do not depend on range sampling.
    seg_size = max(1, math.ceil(n_docs / num_segments))
    segs_per_group = max(1, math.ceil(num_segments / num_groups))
    # repartition before the sha projection (see build.py note): heavy
    # per-row prep must run post-exchange, not on the input partitioning
    corpus = with_sha(
        corpus.withColumn("segment_id", (F.col("doc_id") / F.lit(seg_size)).cast("int"))
        .withColumn("group_id", (F.col("segment_id") / F.lit(segs_per_group)).cast("int"))
        .repartition(num_segments, "segment_id")
    ).persist()

    done: set[int] = set()
    manifest = _read_manifest(spark, index_dir) if resume else None
    if manifest is not None:
        done = {
            r["group_id"]
            for r in manifest.filter(F.col("status") == "complete").select("group_id").collect()
        }

    for g in (g for g in range(num_groups) if g not in done):
        t0 = time.time()
        fused, postings, doc_meta, positions = build_segments(
            corpus.filter(F.col("group_id") == g).repartition(segs_per_group, "segment_id"),
            n_buckets, with_positions,
        )
        _write_group(index_dir, g, n_buckets, postings, doc_meta, positions)
        agg = doc_meta.agg(F.count("*").alias("n"), _fp_sum_agg().alias("fp")).collect()[0]
        _manifest_row(index_dir, g, agg["n"], agg["fp"], t0, build_id,
                      num_segments, num_groups, with_positions)
        _metrics_row(index_dir, "tokenize+blocks", g, agg["n"], t0, build_id)
        fused.unpersist()

    # Finalize: term dictionary + stats from what's on disk (covers both
    # fresh and resumed builds uniformly).
    _finalize(spark, index_dir, n_buckets, num_segments, build_id)
    corpus.unpersist()
    for c in _id_caches:
        c.unpersist()
    return load_index(spark, index_dir)


def _finalize(spark: SparkSession, index_dir: str, n_buckets: int,
              num_segments: int, build_id: str) -> None:
    """Rebuild term_dict + stats from on-disk block headers (idempotent)."""
    t0 = time.time()
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    term_dict_from_blocks(postings, n_buckets).write.mode("overwrite").parquet(
        os.path.join(index_dir, "term_dict")
    )
    doc_meta = spark.read.parquet(os.path.join(index_dir, "doc_meta"))
    srow = doc_meta.agg(F.count("*").alias("n"), F.sum("doc_len").alias("tt")).collect()[0]
    with open(os.path.join(index_dir, "stats.json"), "w") as f:
        json.dump({
            "num_docs": int(srow["n"]), "total_tokens": int(srow["tt"] or 0),
            "n_buckets": n_buckets, "num_segments": num_segments,
        }, f)
    _metrics_row(index_dir, "finalize", -1, srow["n"], t0, build_id)


def append_documents(
    spark: SparkSession,
    index_dir: str,
    new_corpus: DataFrame,
    num_segments: int | None = None,
    force: bool = False,
    commit_token: str | None = None,
) -> Index:
    """Incremental commit (tantivy ``add_document``+``commit`` ≈ appending
    segments): index new docs as FRESH segments after the current ones,
    append postings/doc_meta/manifest, re-finalize the (vocabulary-sized)
    term dictionary and stats. Existing segment files are never rewritten;
    results equal a from-scratch build over the union corpus because BM25
    reads only global stats + per-doc norms (asserted in tests). Run
    :func:`sparktext.merge.merge_segments` afterwards to compact.

    Crash-safety: re-running the append after a crash repairs the index
    in BOTH crash windows (asserted in tests):

    - crash BEFORE the manifest commit: group ids and base offsets derive
      from MANIFEST-complete groups and every data write is a dynamic
      partition overwrite, so the retry recomputes the SAME group id and
      replaces the orphan partitions;
    - crash AFTER the manifest commit but before ``_finalize`` (the
      group's data + manifest row are durable, term_dict/stats are
      stale): the retry detects that the new corpus' content fingerprint
      and row count equal the LAST complete group's and runs the
      (idempotent) finalize repair instead of appending the same docs
      again under a new group id.

    The bare fingerprint check means appending the exact same corpus
    twice in a row is read as a crashed retry; pass ``force=True`` for
    the rare intentional double-append, or — better — a ``commit_token``
    (any caller-stable string identifying THIS commit attempt, e.g. a
    streaming batch id): the skip then fires only when BOTH the content
    fingerprint AND the token match the last complete group, so a
    legitimately distinct batch that happens to carry identical content
    (a re-exported snapshot) is still appended, while a replay of the
    same attempt is still repaired. The token is recorded in the
    manifest row's ``build_id`` column. An index left un-retried after a
    crashed append should not be served: either its orphans carry no
    manifest row or its term_dict predates the last group.

    Concurrency: appends take the index's single-writer lock; a live
    :func:`compact_index` (or another append) raises
    :class:`WriterLockHeld` — fail fast, retry after the swap."""
    with _writer_lock(index_dir, "append"):
        # A crash mid-compaction-swap leaves the live dir missing with a
        # complete tmp (or old) beside it; finish that swap here rather
        # than failing on the missing directory — the batch then appends
        # onto the recovered index, losing nothing.
        _recover_torn_swap(index_dir.rstrip("/"))
        return _append_documents_locked(
            spark, index_dir, new_corpus, num_segments, force, commit_token
        )


def _append_documents_locked(
    spark: SparkSession,
    index_dir: str,
    new_corpus: DataFrame,
    num_segments: int | None,
    force: bool,
    commit_token: str | None,
) -> Index:
    with open(os.path.join(index_dir, "stats.json")) as f:
        st = json.load(f)
    n_buckets = st["n_buckets"]
    build_id = commit_token if commit_token is not None else uuid.uuid4().hex[:12]
    has_positions = os.path.exists(os.path.join(index_dir, "positions"))
    # Base state comes from the MANIFEST (complete groups only), not from
    # raw doc_meta maxima: a crash between a previous append's data
    # writes and its manifest row leaves orphan group partitions, and
    # deriving g/base_doc from them would mint a fresh group id and
    # duplicate those docs under new ids. Restricting to manifest-complete
    # groups makes a retried append recompute the SAME group id, and the
    # dynamic-overwrite writes below replace the orphans.
    manifest0 = _read_manifest(spark, index_dir)
    if manifest0 is None:
        raise ValueError(f"{index_dir!r} holds no manifest; build it first")
    max_complete = int(
        manifest0.filter(F.col("status") == "complete")
        .agg(F.max("group_id")).collect()[0][0]
    )
    doc_meta0 = spark.read.parquet(os.path.join(index_dir, "doc_meta")).filter(
        F.col("group_id") <= max_complete
    )
    agg0 = doc_meta0.agg(
        F.max("doc_id").alias("maxd"), F.max("segment_id").alias("maxs"),
    ).collect()[0]
    base_doc = int(agg0["maxd"]) + 1
    base_seg = int(agg0["maxs"]) + 1
    g = max_complete + 1

    if num_segments is None:
        num_segments = max(4, spark.sparkContext.defaultParallelism)
    corpus = with_sha(new_corpus)
    _id_caches: list = []
    if "doc_id" not in corpus.columns:
        corpus = assign_doc_ids(corpus, num_segments, _cache_out=_id_caches)
    corpus = corpus.withColumn("doc_id", F.col("doc_id") + F.lit(base_doc)).persist()
    agg = corpus.agg(F.count("*").alias("n"), _fp_sum_agg().alias("fp")).collect()[0]
    n_new, fp = int(agg["n"]), agg["fp"]
    last = (
        manifest0.filter(F.col("status") == "complete")
        .orderBy(F.desc("group_id"))
        .select("n_docs", "input_fingerprint", "num_segments", "num_groups",
                "build_id")
        .first()
    )
    if (
        not force
        and last is not None
        and int(last["n_docs"]) == n_new
        and int(last["input_fingerprint"]) == int(fp or 0)
        # with a commit_token, only a replay of the SAME attempt skips —
        # a distinct batch with coincidentally identical content appends
        and (commit_token is None or last["build_id"] == commit_token)
    ):
        # The same corpus is already committed as the last complete group
        # — this is a retry after a crash in the post-commit window
        # (manifest row durable, term_dict/stats possibly stale). Repair
        # by re-running the idempotent finalize; do NOT append the docs
        # again under a new group id. Loud by design: a caller whose
        # batch was NOT a crash retry must hear that it was dropped
        # (pass force=True or a fresh commit_token to append anyway).
        import warnings

        warnings.warn(
            f"append_documents({index_dir!r}): batch of {n_new} docs has "
            f"the same content+metadata fingerprint"
            + ("" if commit_token is None
               else f" and commit_token {commit_token!r}")
            + " as the last committed group — treating it as a crash "
            "retry: repairing finalize, NOT appending again "
            "(force=True overrides)"
        )
        total_segments, num_groups = int(last["num_segments"]), int(last["num_groups"])
    else:
        t0 = time.time()
        seg_size = max(1, math.ceil(n_new / num_segments))
        segment = ((F.col("doc_id") - F.lit(base_doc)) / F.lit(seg_size)).cast("int")
        fused, postings, doc_meta, positions = build_segments(
            corpus.withColumn("segment_id", segment + F.lit(base_seg))
            .repartition(num_segments, "segment_id"),
            n_buckets, has_positions,
        )
        # Phrase queries over appended docs must equal a from-scratch
        # positions build (asserted in tests), so positions extend too.
        _write_group(index_dir, g, n_buckets, postings, doc_meta, positions)
        facets_json = os.path.join(index_dir, "facets.json")
        if os.path.exists(facets_json) and os.path.exists(
            os.path.join(index_dir, "facet_postings")
        ):
            # Maintain the facet field (build.with_facets sidecar).
            with open(facets_json) as f:
                fj = json.load(f)
            _write_facet_group(index_dir, g, n_buckets, doc_meta, fj["expr"],
                               fj.get("depth"))
        total_segments, num_groups = st["num_segments"] + num_segments, g + 1
        _manifest_row(index_dir, g, n_new, fp, t0, build_id, total_segments,
                      num_groups, has_positions)
        fused.unpersist()

    _finalize(spark, index_dir, n_buckets, total_segments, build_id)
    # Keep the resume sidecar in sync with the appended segment count.
    _write_geometry(index_dir, total_segments, num_groups, has_positions)
    corpus.unpersist()
    for c in _id_caches:
        c.unpersist()
    return load_index(spark, index_dir)


def load_index(spark: SparkSession, index_dir: str) -> Index:
    with open(os.path.join(index_dir, "stats.json")) as f:
        st = json.load(f)
    pos_path = os.path.join(index_dir, "positions")
    positions = (
        spark.read.parquet(pos_path) if os.path.exists(pos_path) else None
    )
    # Facet table only when BOTH the table and its facets.json sidecar
    # exist: the persisted writer removes the sidecar first and writes it
    # last, so any crash inside with_facets leaves table-without-sidecar
    # — a torn state this guard treats as "no facets" (re-run
    # with_facets) instead of serving an unmaintainable table whose
    # appends would silently miss new docs.
    facet_path = os.path.join(index_dir, "facet_postings")
    facets_json = os.path.join(index_dir, "facets.json")
    facet_postings = None
    facet_expr = facet_depth = None
    if os.path.exists(facet_path) and os.path.exists(facets_json):
        facet_postings = spark.read.parquet(facet_path)
        with open(facets_json) as f:
            fj = json.load(f)
        facet_expr, facet_depth = fj.get("expr"), fj.get("depth")
    return Index(
        doc_meta=spark.read.parquet(os.path.join(index_dir, "doc_meta")),
        postings=spark.read.parquet(os.path.join(index_dir, "postings")),
        term_dict=spark.read.parquet(os.path.join(index_dir, "term_dict")),
        stats=IndexStats(num_docs=st["num_docs"], total_tokens=st["total_tokens"]),
        n_buckets=st["n_buckets"],
        positions=positions,
        facet_postings=facet_postings,
        facet_expr=facet_expr,
        facet_depth=facet_depth,
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    num_segments: int,
    recompute_stats: bool = True,
) -> Index:
    """Persisted compaction (A10 merge x A12 layout): merge every
    group/segment — purging tombstone files if a ``_deleted`` table ever
    lands on disk is the caller's concern; in-memory deletes don't
    persist — into a FRESH single-group index directory, then swap it in
    with directory renames.

    Swap protocol (crash-safe, re-runnable):

    1. the whole new index is written to ``<dir>.compact_tmp`` and a
       ``_COMPACT_DONE`` marker is the LAST file written there;
    2. ``<dir>`` -> ``<dir>.compact_old``, then tmp -> ``<dir>`` (each
       rename atomic on POSIX), then the old dir is deleted.

    Crash before the marker: tmp is garbage, the live index is
    untouched, re-run. Crash between the renames: the live dir is
    missing but tmp carries the marker — the next :func:`compact_index`
    (or any caller hitting the missing dir) completes the swap; the
    recovery path runs FIRST on every invocation.

    The streaming-ingest checkpoint (``_stream_checkpoint``) is
    exactly-once STATE: it is COPIED into tmp before the completion
    marker (so the swapped-in dir always carries it) and salvaged out
    of any superseded directory before deletion — losing it would make
    the next stream_ingest replay the whole source as duplicates.

    Concurrency: holds the index's single-writer lock for the whole
    merge+swap; concurrent :func:`append_documents` (including
    streaming micro-batches) fail fast with :class:`WriterLockHeld`
    instead of racing the directory swap.
    """
    with _writer_lock(index_dir, "compact"):
        return _compact_index_locked(spark, index_dir, num_segments,
                                     recompute_stats)


def _compact_index_locked(
    spark: SparkSession,
    index_dir: str,
    num_segments: int,
    recompute_stats: bool,
) -> Index:
    import shutil

    base = index_dir.rstrip("/")
    tmp, old = base + ".compact_tmp", base + ".compact_old"
    _recover_torn_swap(base)
    shutil.rmtree(tmp, ignore_errors=True)
    _salvage_stream_checkpoint(old, base)
    shutil.rmtree(old, ignore_errors=True)

    from sparktext.merge import merge_segments

    t0 = time.time()
    idx = load_index(spark, base)
    merged = merge_segments(idx, num_segments, recompute_stats=recompute_stats)
    build_id = uuid.uuid4().hex[:12]

    os.makedirs(tmp)
    _write_group(tmp, 0, idx.n_buckets, merged.postings, merged.doc_meta,
                 merged.positions)
    merged.term_dict.write.parquet(os.path.join(tmp, "term_dict"))
    if merged.facet_postings is not None and merged.facet_expr is not None:
        _write_facet_group(tmp, 0, idx.n_buckets, merged.doc_meta,
                           merged.facet_expr, merged.facet_depth)
        with open(os.path.join(tmp, "facets.json"), "w") as f:
            json.dump({"expr": merged.facet_expr, "depth": merged.facet_depth}, f)

    srow = merged.doc_meta.agg(F.count("*").alias("n"), _fp_sum_agg().alias("fp")).collect()[0]
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump({
            "num_docs": int(srow["n"]),
            "total_tokens": int(merged.stats.total_tokens),
            "n_buckets": idx.n_buckets, "num_segments": num_segments,
        }, f)
    has_positions = merged.positions is not None
    _write_geometry(tmp, num_segments, 1, has_positions)
    _manifest_row(tmp, 0, srow["n"], srow["fp"], t0, build_id, num_segments, 1,
                  has_positions)
    _metrics_row(tmp, "compact", 0, srow["n"], t0, build_id)
    # Stage the streaming checkpoint into tmp BEFORE the marker: once
    # _COMPACT_DONE exists, tmp may be swapped in by recovery after any
    # crash — it must already be a complete index INCLUDING the
    # exactly-once state (a crash between the two renames used to strand
    # the checkpoint in the doomed old dir).
    live_ckpt = os.path.join(base, "_stream_checkpoint")
    if os.path.exists(live_ckpt):
        # A LIVE stream writes offset/commit WAL files outside the writer
        # lock, so entries can appear/vanish mid-copy (round-5 advisory).
        # Retry on vanished files; exactly-once does NOT depend on this
        # copy being a perfect point-in-time snapshot — the commit_token
        # replay discrimination in append re-deduplicates any micro-batch
        # the checkpoint copy is behind on. Compaction under a live
        # stream remains discouraged (the stream's own foreachBatch
        # appends fail fast on the held writer lock).
        for attempt in range(3):
            dst = os.path.join(tmp, "_stream_checkpoint")
            try:
                shutil.copytree(live_ckpt, dst)
                break
            except (FileNotFoundError, shutil.Error):
                shutil.rmtree(dst, ignore_errors=True)
                if attempt == 2:
                    raise
    with open(os.path.join(tmp, "_COMPACT_DONE"), "w") as f:
        f.write(build_id)

    merged.unpersist()
    os.rename(base, old)
    os.rename(tmp, base)
    # tmp carried the checkpoint copy; the salvage is a no-op here and
    # covers only pre-staging layouts.
    _salvage_stream_checkpoint(old, base)
    shutil.rmtree(old, ignore_errors=True)
    return load_index(spark, base)
