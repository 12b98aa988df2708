"""A12: persisted layout, commit log, resume, lineage, incremental append."""

import json
import os
import shutil
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from sparktext import manifest

FACET_EXPR = "concat('/', lang, '/', repo)"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _topk(index, qstr, k=12):
    from sparktext.query import matched_docs, parse_query
    from sparktext.topk import top_k

    rows = top_k(matched_docs(index, parse_query(qstr)), k).collect()
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


def _halves(corpus):
    """Docs 0-5, and docs 6-11 with local ids 0-5 (an append offsets
    them back to 6-11)."""
    second = corpus.filter(F.col("doc_id") >= 6).withColumn("doc_id", F.col("doc_id") - 6)
    return corpus.filter(F.col("doc_id") < 6), second


def _disk_files(d):
    """Every file under ``d`` outside the log and the stream checkpoint."""
    out = set()
    for root, _, names in os.walk(d):
        rel = os.path.relpath(root, d)
        if rel.split(os.sep)[0] not in (manifest._LOG, manifest.STREAM_CHECKPOINT):
            out |= {os.path.normpath(os.path.join(rel, n)) for n in names}
    return out


class _Crash(Exception):
    """The writer died between two filesystem steps."""


def _crash_before(monkeypatch, at):
    """Fail the writer before its ``at``-th filesystem step: staging a
    table, publishing the staged files, or creating a commit. Returns
    the count of steps taken (``at=None`` never fails)."""
    taken = [0]
    for name in ("_stage", "_publish", "_commit"):
        def step(*args, _real=getattr(manifest, name)):
            if taken[0] == at:
                raise _Crash
            taken[0] += 1
            return _real(*args)

        monkeypatch.setattr(manifest, name, step)
    return taken


def test_persist_load_resume(spark, micro_corpus, micro_index, tmpdir):
    from sparktext.build import build_index
    from sparktext.manifest import load_index, snapshot

    idx = build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")

    # per-group lineage + metrics live in the log
    snap = snapshot(tmpdir)
    assert sorted(snap.groups) == [0, 1] and snap.version == 1
    assert sum(s["n_docs"] for s in snap.groups.values()) == 12
    assert all(s["wall_ms"] >= 0 and s["fingerprint"] for s in snap.groups.values())

    # resume: nothing to do, results unchanged
    idx2 = build_index(
        spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2, resume=True
    )
    assert _topk(idx2, "apple banana") == _topk(micro_index, "apple banana")
    # no duplicate group was committed
    assert snapshot(tmpdir).version == 1

    loaded = load_index(spark, tmpdir)
    assert loaded.stats.num_docs == micro_index.stats.num_docs
    assert loaded.stats.total_tokens == micro_index.stats.total_tokens


def test_append_equals_full_build(spark, micro_corpus, micro_index, tmpdir):
    from sparktext.build import build_index
    from sparktext.manifest import append_documents, snapshot

    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    idx = append_documents(spark, tmpdir, second, num_segments=2)

    assert idx.stats.num_docs == 12
    for q in ["heavy", "apple banana", "+grape cherry", "apple -banana", "unique"]:
        assert _topk(idx, q) == _topk(micro_index, q), q

    assert len(snapshot(tmpdir).groups) == 2  # original group + appended group


def test_append_then_merge(spark, micro_corpus, micro_index, tmpdir):
    from sparktext.build import build_index
    from sparktext.manifest import append_documents
    from sparktext.merge import merge_segments

    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    idx = append_documents(spark, tmpdir, second, num_segments=2)
    merged = merge_segments(idx, 1)
    assert _topk(merged, "heavy") == _topk(micro_index, "heavy")


def test_fresh_build_refuses_nonempty_dir(spark, micro_corpus, tmpdir):
    from sparktext.build import build_index

    build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)
    with pytest.raises(ValueError, match="resume=True"):
        build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)


def test_resume_adopts_geometry(spark, micro_corpus, micro_index, tmpdir):
    """Resuming at a different parallelism must NOT re-derive different
    segment/group boundaries — the geometry of commit 0 wins."""
    from sparktext.build import build_index
    from sparktext.manifest import snapshot

    build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)
    idx = build_index(
        spark, micro_corpus, num_segments=7, index_dir=tmpdir, num_groups=5, resume=True
    )
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert len(snapshot(tmpdir).groups) == 2  # no extra groups


def test_resume_after_crash_between_data_and_manifest(
    spark, micro_corpus, micro_index, tmpdir, monkeypatch
):
    """Crash after group 1's files are published, before its commit: the
    files are orphans no reader sees, the resumed run commits the group
    once, and vacuum leaves no duplicate rows on disk."""
    from sparktext.build import build_index
    from sparktext.manifest import load_index, snapshot, vacuum

    # steps per group: stage postings, term_dict, doc_meta; publish; commit
    _crash_before(monkeypatch, at=9)
    with pytest.raises(_Crash):
        build_index(spark, micro_corpus, num_segments=4, index_dir=tmpdir, num_groups=2)
    monkeypatch.undo()
    assert sorted(snapshot(tmpdir).groups) == [0]
    assert load_index(spark, tmpdir).stats.num_docs == 6

    idx = build_index(
        spark, micro_corpus, num_segments=4, index_dir=tmpdir, num_groups=2, resume=True
    )
    assert idx.stats.num_docs == micro_index.stats.num_docs  # no duplicates
    assert idx.doc_meta.count() == 12
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    vacuum(tmpdir)
    assert spark.read.parquet(f"{tmpdir}/doc_meta").count() == 12


def test_positions_through_persistent_path(spark, micro_corpus, tmpdir):
    """B6×A12: phrase queries on an index built via checkpoint + loaded
    from disk must match the in-memory positions build."""
    from sparktext.build import build_index
    from sparktext.manifest import load_index
    from sparktext.query import phrase_docs

    mem = build_index(spark, micro_corpus, num_segments=3, with_positions=True)
    build_index(
        spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2,
        with_positions=True,
    )
    disk = load_index(spark, tmpdir)
    assert disk.positions is not None
    for phrase in (["apple", "banana"], ["grape", "heavy", "grape"]):
        a = sorted((r["doc_id"], round(r["score"], 9))
                   for r in phrase_docs(mem, phrase).collect())
        b = sorted((r["doc_id"], round(r["score"], 9))
                   for r in phrase_docs(disk, phrase).collect())
        assert a == b and a, phrase

    # resume on the positions index is a no-op and keeps positions
    idx3 = build_index(
        spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2, resume=True
    )
    assert idx3.positions is not None


@pytest.mark.parametrize("with_positions", [False, True])
def test_persisted_columns_match_in_memory(spark, micro_corpus, tmpdir, with_positions):
    """A persisted group (build and append alike) holds exactly the
    in-memory index's postings and doc_meta columns plus group_id — no
    all-null carry-over columns, whatever with_positions is."""
    import os

    from sparktext.build import build_index
    from sparktext.manifest import append_documents

    mem = build_index(spark, micro_corpus, num_segments=3, with_positions=with_positions)
    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    d = os.path.join(str(tmpdir), "idx")
    build_index(spark, first, num_segments=2, index_dir=d, num_groups=1,
                with_positions=with_positions)
    append_documents(spark, d, second, num_segments=2)
    for table, frame in (("postings", mem.postings), ("doc_meta", mem.doc_meta)):
        want = sorted(frame.columns + ["group_id"])
        for g in (0, 1):  # the build's group, then the append's
            part = spark.read.parquet(os.path.join(d, table, f"group_id={g}"))
            got = part.columns + ["group_id"]
            assert sorted(got) == want, (table, g)
    mem.unpersist()


def test_persisted_query_plan_prunes(spark, micro_corpus, tmpdir):
    """§4.1 evidence: a term query against the persisted index must push
    the term filter into the parquet scan (row-group skipping) AND prune
    term_bucket partitions (file skipping)."""
    from sparktext.build import build_index
    from sparktext.query import matched_docs, parse_query

    idx = build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)
    plan = matched_docs(idx, parse_query("apple"))._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(term), EqualTo(term,apple)]" in plan
    assert "PartitionFilters: [isnotnull(term_bucket" in plan


def test_geometry_sidecar_survives_first_group_crash(
    spark, micro_corpus, micro_index, tmpdir, monkeypatch
):
    """Crash DURING the first group (its files published, no commit yet):
    a resume at a different parallelism must not load the crashed
    geometry's orphan partitions as duplicate postings. Nothing was
    committed, so the resume is a fresh build at the new geometry."""
    from sparktext.build import build_index
    from sparktext.manifest import snapshot

    _crash_before(monkeypatch, at=4)  # group 0's commit
    with pytest.raises(_Crash):
        build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)
    monkeypatch.undo()
    assert snapshot(tmpdir).version == -1 and _disk_files(tmpdir)

    idx = build_index(
        spark, micro_corpus, num_segments=7, index_dir=tmpdir, num_groups=5, resume=True
    )
    assert idx.stats.num_docs == micro_index.stats.num_docs
    assert idx.doc_meta.count() == 12
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert snapshot(tmpdir).geometry["num_segments"] == 7


def test_append_extends_positions(spark, micro_corpus, tmpdir):
    """A12×B6: append_documents on a positions index writes the new
    group's positions partition — phrase queries over the union equal a
    from-scratch positions build."""
    from sparktext.build import build_index
    from sparktext.manifest import append_documents, snapshot
    from sparktext.query import phrase_docs

    full = build_index(
        spark, micro_corpus, num_segments=2, index_dir=tmpdir + "/full",
        num_groups=1, with_positions=True,
    )
    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(
        spark, first, num_segments=2, index_dir=tmpdir + "/inc",
        num_groups=1, with_positions=True,
    )
    idx = append_documents(spark, tmpdir + "/inc", second, num_segments=2)
    assert idx.positions is not None
    for phrase in [["apple", "banana"], ["grape", "heavy", "grape"], ["date", "egg"]]:
        a = sorted((r["doc_id"], round(r["score"], 9))
                   for r in phrase_docs(idx, phrase).collect())
        b = sorted((r["doc_id"], round(r["score"], 9))
                   for r in phrase_docs(full, phrase).collect())
        assert a == b and a, phrase
    snap = snapshot(tmpdir + "/inc")
    assert snap.geometry["with_positions"] and len(snap.groups) == 2
    assert {p.split("/")[1] for p in snap.files if p.startswith("positions/")} == {
        "group_id=0", "group_id=1"}


def test_append_crash_retry_no_duplicates(spark, micro_corpus, micro_index, tmpdir, monkeypatch):
    """Crash between an append's data writes and its commit: the retried
    append commits the batch once — no duplicate docs, no duplicate
    postings."""
    from sparktext.build import build_index
    from sparktext.manifest import append_documents, load_index

    first, second = _halves(micro_corpus)
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    _crash_before(monkeypatch, at=4)  # the append's commit
    with pytest.raises(_Crash):
        append_documents(spark, tmpdir, second, num_segments=2)
    monkeypatch.undo()
    assert load_index(spark, tmpdir).stats.num_docs == 6

    idx = append_documents(spark, tmpdir, second, num_segments=2)
    assert idx.stats.num_docs == 12
    assert idx.doc_meta.count() == 12
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert _topk(idx, "apple banana") == _topk(micro_index, "apple banana")


def test_append_retry_after_postcommit_crash(spark, micro_corpus, micro_index, tmpdir):
    """A crash AFTER the commit, before the caller saw it: a retry with
    the same txn lands nothing. A new txn version, or no txn, always
    appends — identical content under different metadata included."""
    from sparktext.build import build_index
    from sparktext.manifest import append_documents, snapshot

    first, second = _halves(micro_corpus)
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    append_documents(spark, tmpdir, second, num_segments=2, txn=("feed", 0))
    version = snapshot(tmpdir).version

    with pytest.warns(UserWarning, match="already committed"):
        idx = append_documents(spark, tmpdir, second, num_segments=2, txn=("feed", 0))
    assert idx.stats.num_docs == 12 and snapshot(tmpdir).version == version
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert _topk(idx, "apple banana") == _topk(micro_index, "apple banana")

    idx3 = append_documents(spark, tmpdir, second, num_segments=2, txn=("feed", 1))
    assert idx3.stats.num_docs == 18
    moved = second.withColumn("repo", F.lit("mirror"))
    idx4 = append_documents(spark, tmpdir, moved, num_segments=2)
    assert idx4.stats.num_docs == 24
    assert len(snapshot(tmpdir).groups) == 4


def test_append_skip_warns_and_metadata_change_appends(spark, micro_corpus, tmpdir):
    """The replay skip is LOUD, and it never swallows a batch whose
    content matches but whose metadata differs: only the txn marks a
    replay, so the same content under new repo/path metadata appends."""
    from sparktext.build import build_index
    from sparktext.manifest import append_documents, snapshot

    first, second = _halves(micro_corpus)
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    append_documents(spark, tmpdir, second, num_segments=2, txn=("feed", 0))
    version = snapshot(tmpdir).version

    # exact replay (same content, metadata and txn): skipped, loudly
    with pytest.warns(UserWarning, match="crash retry"):
        idx = append_documents(spark, tmpdir, second, num_segments=2, txn=("feed", 0))
    assert idx.stats.num_docs == 12 and snapshot(tmpdir).version == version

    # same CONTENT under different metadata: a real new batch — appends
    moved = second.withColumn("repo", F.lit("mirror")).withColumn(
        "path", F.concat(F.lit("mirror/"), F.col("path"))
    )
    idx2 = append_documents(spark, tmpdir, moved, num_segments=2, txn=("feed", 1))
    assert idx2.stats.num_docs == 18
    snap = snapshot(tmpdir)
    assert snap.version == version + 1 and len(snap.groups) == 3
    fps = [s["fingerprint"] for s in snap.groups.values()]
    assert len(set(fps)) == 3


def test_compact_index_roundtrip(spark, micro_corpus, micro_index, tmpdir):
    """Persisted compaction: multi-group index -> one group in one
    commit; queries, phrases and facets all equal the pre-compaction
    index; resume afterwards is a no-op."""
    from sparktext.build import build_index, with_facets
    from sparktext.manifest import compact_index, load_index, snapshot, vacuum
    from sparktext.query import facet_subtree_docs, phrase_docs

    d = os.path.join(str(tmpdir), "idx")
    build_index(spark, micro_corpus, num_segments=4, index_dir=d,
                num_groups=2, with_positions=True)
    with_facets(load_index(spark, d), FACET_EXPR, index_dir=d)

    idx = compact_index(spark, d, num_segments=2)
    assert idx.stats.num_docs == 12
    assert len(snapshot(d).groups) == 1
    for q in ["heavy", "apple banana", "+grape cherry", "apple -banana"]:
        assert _topk(idx, q) == _topk(micro_index, q), q
    assert phrase_docs(idx, ["apple", "banana"]).count() == 3
    assert facet_subtree_docs(idx, "/py").count() == 7
    # idempotent re-run
    idx2 = compact_index(spark, d, num_segments=2)
    assert idx2.stats.num_docs == 12
    vacuum(d)
    assert _disk_files(d) == snapshot(d).files
    assert _topk(load_index(spark, d), "heavy") == _topk(micro_index, "heavy")

    # resume=True on the compacted dir adopts its geometry (incl. the
    # with_positions flag) and commits nothing
    version = snapshot(d).version
    idx4 = build_index(spark, micro_corpus, num_segments=99, index_dir=d,
                       resume=True, num_groups=7)
    assert idx4.stats.num_docs == 12
    assert idx4.positions is not None
    assert snapshot(d).version == version


def test_compaction_carries_stream_checkpoint(spark, micro_corpus, tmpdir, monkeypatch):
    """The streaming checkpoint inside the index survives a clean
    compaction, a crashed one, and vacuum: compaction never moves the
    directory."""
    from sparktext.build import build_index
    from sparktext.manifest import compact_index, vacuum

    d = os.path.join(str(tmpdir), "idx")
    build_index(spark, micro_corpus, num_segments=4, index_dir=d, num_groups=2)
    ck = os.path.join(d, manifest.STREAM_CHECKPOINT, "offsets", "0")
    os.makedirs(os.path.dirname(ck))
    with open(ck, "w") as f:
        f.write("batch-0-state")

    compact_index(spark, d, num_segments=2)
    _crash_before(monkeypatch, at=4)  # the compaction's commit
    with pytest.raises(_Crash):
        compact_index(spark, d, num_segments=2)
    monkeypatch.undo()
    vacuum(d)
    with open(ck) as f:
        assert f.read() == "batch-0-state"


def test_append_recovers_torn_compaction_swap(spark, micro_corpus, micro_index, tmpdir,
                                              monkeypatch):
    """An append after a compaction that crashed before its commit finds
    the index at its last version and commits the batch — no lost
    index, no lost batch; vacuum clears the compaction's leftovers."""
    from sparktext.build import build_index
    from sparktext.manifest import append_documents, compact_index, snapshot, vacuum

    first, second = _halves(micro_corpus)
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    _crash_before(monkeypatch, at=4)  # the compaction's commit
    with pytest.raises(_Crash):
        compact_index(spark, tmpdir, num_segments=1)
    monkeypatch.undo()

    idx = append_documents(spark, tmpdir, second, num_segments=2)
    assert idx.stats.num_docs == 12
    assert idx.doc_meta.count() == 12
    assert _topk(idx, "apple banana") == _topk(micro_index, "apple banana")
    vacuum(tmpdir)
    assert _disk_files(tmpdir) == snapshot(tmpdir).files


def _race_at_commit(monkeypatch, first=None):
    """Hold the first two commit attempts until both writers reach
    theirs, so they race for the same version; with ``first`` (a commit
    ``op``) that writer's link goes first and wins. Returns the versions
    attempted."""
    real = manifest._commit
    barrier = threading.Barrier(2, timeout=300)
    won = threading.Event()
    lock = threading.Lock()
    versions = []

    def racing_commit(index_dir, version, actions):
        with lock:
            versions.append(version)
            first_two = len(versions) <= 2
        if not first_two:
            return real(index_dir, version, actions)
        barrier.wait()
        if first is None:
            return real(index_dir, version, actions)
        if actions["op"] != first:
            assert won.wait(timeout=300)
        try:
            return real(index_dir, version, actions)
        finally:
            won.set()

    monkeypatch.setattr(manifest, "_commit", racing_commit)
    return versions


def _by_path(index, qstr):
    """Top-k as (path, score): comparable across doc-id assignments."""
    from sparktext.query import matched_docs, parse_query
    from sparktext.topk import top_k

    paths = {r["doc_id"]: r["path"] for r in index.doc_meta.collect()}
    rows = top_k(matched_docs(index, parse_query(qstr)), 12).collect()
    return sorted((paths[r["doc_id"]], round(r["score"], 9)) for r in rows)


def _assert_all_docs_once(index, micro_index):
    meta = index.doc_meta.select("doc_id", "path").collect()
    assert len({r["doc_id"] for r in meta}) == len(meta) == 12
    assert sorted(r["path"] for r in meta) == sorted(
        r["path"] for r in micro_index.doc_meta.collect())
    for q in ("heavy", "apple banana"):
        assert _by_path(index, q) == _by_path(micro_index, q), q


def test_concurrent_appends_both_land(spark, micro_corpus, micro_index, tmpdir, monkeypatch):
    """Two appends race for the same log version: exactly one wins, the
    other redoes its group with the new snapshot's ids and commits next.
    Both batches land, no doc is lost or duplicated."""
    from sparktext.build import build_index
    from sparktext.manifest import append_documents, load_index, snapshot

    build_index(spark, micro_corpus.filter(F.col("doc_id") < 4), num_segments=2,
                index_dir=tmpdir, num_groups=1)
    batches = [
        micro_corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 4))
        .withColumn("doc_id", F.col("doc_id") - lo)
        for lo in (4, 8)
    ]
    versions = _race_at_commit(monkeypatch)
    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(append_documents, spark, tmpdir, b, 2) for b in batches]
        for fut in futures:
            fut.result(timeout=600)
    assert versions == [1, 1, 2]
    _assert_all_docs_once(load_index(spark, tmpdir), micro_index)
    # the loser deleted its own files: nothing is left unreferenced
    assert _disk_files(tmpdir) == snapshot(tmpdir).files


def _log_commits(d):
    """Every commit of ``d``'s log, in version order."""
    log = os.path.join(d, manifest._LOG)
    commits = []
    for n in sorted(filter(manifest._COMMIT_NAME.fullmatch, os.listdir(log))):
        with open(os.path.join(log, n)) as f:
            commits.append(json.load(f))
    return commits


def test_append_races_compaction(spark, micro_corpus, micro_index, tmpdir, monkeypatch):
    """An append and a compaction race for the same version, each side
    winning once: the loser redoes its work on the winner's snapshot, so
    the batch lands once and the compaction covers what it read."""
    from sparktext.build import build_index
    from sparktext.manifest import (append_documents, compact_index, load_index,
                                    snapshot, vacuum)

    first, second = _halves(micro_corpus)
    for winner, loser in (("compact", "append"), ("append", "compact")):
        d = os.path.join(tmpdir, winner)
        build_index(spark, first, num_segments=2, index_dir=d, num_groups=2)
        read = snapshot(d).files
        with pytest.MonkeyPatch.context() as mp:
            versions = _race_at_commit(mp, first=winner)
            with ThreadPoolExecutor(2) as pool:
                futures = [pool.submit(compact_index, spark, d, 1),
                           pool.submit(append_documents, spark, d, second, 2)]
                for fut in futures:
                    fut.result(timeout=600)
        assert versions == [2, 2, 3], winner
        commits = _log_commits(d)
        assert [c["op"] for c in commits[2:]] == [winner, loser]
        snap = snapshot(d)
        _assert_all_docs_once(load_index(spark, d), micro_index)
        # the compaction removed everything it read, and the loser
        # deleted its first attempt: every file on disk was committed
        removed = _disk_files(d) - snap.files
        assert read <= removed
        assert _disk_files(d) == set().union(*(c.get("add", []) for c in commits))
        vacuum(d)
        assert _disk_files(d) == snap.files


def _crash_scenario(name, spark, corpus, template):
    """Prepare ``template`` at the old version of writer ``name``; return
    ``(op, retry)``, each taking the index directory."""
    from sparktext.build import build_index, with_facets
    from sparktext.manifest import append_documents, compact_index, load_index

    first, second = _halves(corpus)

    def build(d, resume=False):
        return build_index(spark, corpus, num_segments=2, index_dir=d, num_groups=2,
                           resume=resume)

    def resume(d):
        return build(d, resume=True)

    os.makedirs(template)
    if name == "build":
        return build, resume
    if name == "resume":
        with pytest.MonkeyPatch.context() as mp:
            _crash_before(mp, at=5)  # group 1's first step
            with pytest.raises(_Crash):
                build(template)
        return resume, resume
    if name == "append":
        build_index(spark, first, num_segments=2, index_dir=template, num_groups=1)

        def append(d):
            return append_documents(spark, d, second, num_segments=2)

        return append, append

    def facets(d):
        return with_facets(load_index(spark, d), FACET_EXPR, index_dir=d)

    def compact(d):
        return compact_index(spark, d, num_segments=1)

    build(template)
    if name == "with_facets":
        return facets, facets
    facets(template)
    return compact, compact


@pytest.mark.parametrize("name", ["build", "resume", "append", "with_facets", "compact"])
def test_crash_between_every_filesystem_step(spark, micro_corpus, tmpdir, monkeypatch, name):
    """Fail the writer before each of its filesystem steps in turn.
    After each failure the index loads at a committed version between
    the old and the new one, whose results equal an in-memory build over
    its committed docs; one retry lands the operation exactly once;
    vacuum leaves exactly the files the log references."""
    from sparktext.build import build_index
    from sparktext.manifest import load_index, snapshot, vacuum
    from sparktext.query import facet_subtree_docs

    refs = {}

    def check(d):
        """Assert the loaded index equals an in-memory build over the
        docs it holds; return those docs."""
        idx = load_index(spark, d)
        docs = tuple(sorted(r["doc_id"] for r in idx.doc_meta.select("doc_id").collect()))
        if docs not in refs:
            refs[docs] = build_index(
                spark, micro_corpus.filter(F.col("doc_id").isin(list(docs))), num_segments=2)
        assert idx.stats.num_docs == len(docs)
        for q in ("heavy", "apple banana"):
            assert _topk(idx, q) == _topk(refs[docs], q), q
        if snapshot(d).facets is not None:
            py = {r["doc_id"] for r in refs[docs].doc_meta.collect() if r["lang"] == "py"}
            assert {r["doc_id"] for r in facet_subtree_docs(idx, "/py").collect()} == py
        return docs

    template = os.path.join(tmpdir, "template")
    op, retry = _crash_scenario(name, spark, micro_corpus, template)
    old = snapshot(template).version

    def fresh(tag):
        d = os.path.join(tmpdir, tag)
        shutil.copytree(template, d)
        return d

    clean = fresh("clean")
    with monkeypatch.context() as mp:
        taken = _crash_before(mp, at=None)
        op(clean)
    steps, new = taken[0], snapshot(clean).version
    want = check(clean)
    assert steps >= 3 and new > old

    for at in range(steps):
        d = fresh(f"crash{at}")
        with monkeypatch.context() as mp:
            _crash_before(mp, at=at)
            with pytest.raises(_Crash):
                op(d)
        assert old <= snapshot(d).version < new, at
        if snapshot(d).version >= 0:
            check(d)
        retry(d)
        snap = snapshot(d)
        assert snap.version == new, at
        assert check(d) == want, at
        vacuum(d)
        assert _disk_files(d) == snap.files, at
        check(d)
        shutil.rmtree(d)
