"""A12: persisted layout, resume, lineage, incremental append."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


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


def test_persist_load_resume(spark, micro_corpus, micro_index, tmpdir):
    from sparktext.build import build_index
    from sparktext.manifest import load_index

    idx = build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")

    man = spark.read.parquet(f"{tmpdir}/_manifest")
    assert man.filter("status = 'complete'").count() == 2
    met = spark.read.parquet(f"{tmpdir}/_metrics")
    assert met.filter("stage = 'finalize'").count() >= 1

    # resume: nothing to do, results unchanged
    idx2 = build_index(
        spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2, resume=True
    )
    assert _topk(idx2, "apple banana") == _topk(micro_index, "apple banana")
    # no duplicate group rows were appended
    assert spark.read.parquet(f"{tmpdir}/_manifest").count() == 2

    loaded = load_index(spark, tmpdir)
    assert loaded.stats.num_docs == micro_index.stats.num_docs
    assert loaded.stats.total_tokens == micro_index.stats.total_tokens


def test_append_equals_full_build(spark, micro_corpus, micro_index, tmpdir):
    from sparktext.build import build_index
    from sparktext.manifest import append_documents

    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    idx = append_documents(spark, tmpdir, second, num_segments=2)

    assert idx.stats.num_docs == 12
    for q in ["heavy", "apple banana", "+grape cherry", "apple -banana", "unique"]:
        assert _topk(idx, q) == _topk(micro_index, q), q

    man = spark.read.parquet(f"{tmpdir}/_manifest")
    assert man.count() == 2  # original group + appended group


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
    segment/group boundaries — the manifest's geometry wins."""
    from sparktext.build import build_index

    build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=2)
    idx = build_index(
        spark, micro_corpus, num_segments=7, index_dir=tmpdir, num_groups=5, resume=True
    )
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert spark.read.parquet(f"{tmpdir}/_manifest").count() == 2  # no extra groups


def test_resume_after_crash_between_data_and_manifest(spark, micro_corpus, micro_index, tmpdir):
    """Simulated crash: group data written, manifest row NOT — the resumed
    run must overwrite (not duplicate) the orphan group files."""
    import os

    from sparktext.build import build_index

    done = tmpdir + "/done"
    crashed = tmpdir + "/crashed"
    build_index(spark, micro_corpus, num_segments=3, index_dir=done, num_groups=2)
    # reproduce the on-disk state after a crash: group 0's postings and
    # doc_meta exist, no manifest, no term_dict/stats
    for sub in ("postings", "doc_meta"):
        src = os.path.join(done, sub)
        dst = os.path.join(crashed, sub)
        for part in os.listdir(src):
            if part.startswith("group_id=0"):
                shutil.copytree(os.path.join(src, part), os.path.join(dst, part))
    idx = build_index(
        spark, micro_corpus, num_segments=3, index_dir=crashed, num_groups=2, resume=True
    )
    assert idx.stats.num_docs == micro_index.stats.num_docs  # no duplicates
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert spark.read.parquet(f"{crashed}/doc_meta").count() == 12


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


def test_geometry_sidecar_survives_first_group_crash(spark, micro_corpus, micro_index, tmpdir):
    """Crash DURING the first group (data partially written, no manifest
    row yet): a resume at different parallelism must adopt the geometry
    sidecar, not re-derive boundaries — otherwise orphan partitions from
    the crashed geometry survive as duplicate postings."""
    import os

    from sparktext.build import build_index

    done = tmpdir + "/done2"
    crashed = tmpdir + "/crashed2"
    build_index(spark, micro_corpus, num_segments=3, index_dir=done, num_groups=2)
    for sub in ("postings", "doc_meta"):
        src = os.path.join(done, sub)
        dst = os.path.join(crashed, sub)
        for part in os.listdir(src):
            if part.startswith("group_id=0"):
                shutil.copytree(os.path.join(src, part), os.path.join(dst, part))
    # the sidecar was written before the first group write
    shutil.copy(os.path.join(done, "geometry.json"), os.path.join(crashed, "geometry.json"))
    idx = build_index(
        spark, micro_corpus, num_segments=7, index_dir=crashed, num_groups=5, resume=True
    )
    assert idx.stats.num_docs == micro_index.stats.num_docs
    assert spark.read.parquet(f"{crashed}/doc_meta").count() == 12
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")


def test_append_extends_positions(spark, micro_corpus, tmpdir):
    """A12×B6: append_documents on a positions index writes the new
    group's positions partition — phrase queries over the union equal a
    from-scratch positions build."""
    from sparktext.build import build_index
    from sparktext.manifest import append_documents
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
    man = spark.read.parquet(tmpdir + "/inc/_manifest")
    assert man.filter("with_positions").count() == 2


def test_append_crash_retry_no_duplicates(spark, micro_corpus, micro_index, tmpdir):
    """Crash between an append's data writes and its manifest row: the
    retried append must reuse the SAME group id and overwrite the orphan
    partitions — no duplicate docs, no duplicate postings."""
    import os

    from sparktext.build import build_index
    from sparktext.manifest import append_documents

    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    append_documents(spark, tmpdir, second, num_segments=2)
    # reproduce the crash state: appended group's data on disk, but the
    # manifest and stats rolled back to the pre-append state
    man = spark.read.parquet(tmpdir + "/_manifest")
    pre = man.orderBy("group_id").limit(1)
    pre_rows = pre.collect()
    spark.createDataFrame(pre_rows, man.schema).write.mode("overwrite").parquet(
        tmpdir + "/_manifest_new"
    )
    shutil.rmtree(tmpdir + "/_manifest")
    os.rename(tmpdir + "/_manifest_new", tmpdir + "/_manifest")

    idx = append_documents(spark, tmpdir, second, num_segments=2)
    assert idx.stats.num_docs == 12
    assert spark.read.parquet(tmpdir + "/doc_meta").count() == 12
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert _topk(idx, "apple banana") == _topk(micro_index, "apple banana")


def test_append_retry_after_postcommit_crash(spark, micro_corpus, micro_index, tmpdir):
    """Crash AFTER the manifest commit but BEFORE finalize: the group's
    data + manifest row are durable but term_dict/stats are stale. A
    retried append must detect the committed fingerprint and re-run the
    idempotent finalize — NOT append the same docs again; force=True is
    the intentional-double-add escape."""
    import os

    from sparktext.build import build_index
    from sparktext.manifest import append_documents

    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=tmpdir, num_groups=1)
    with open(os.path.join(str(tmpdir), "stats.json")) as f:
        stale_stats = f.read()
    append_documents(spark, tmpdir, second, num_segments=2)
    # reproduce the crash state: roll stats.json back to pre-append
    # (finalize "never ran"); manifest + group data stay durable
    with open(os.path.join(str(tmpdir), "stats.json"), "w") as f:
        f.write(stale_stats)

    idx = append_documents(spark, tmpdir, second, num_segments=2)
    assert idx.stats.num_docs == 12
    assert spark.read.parquet(f"{tmpdir}/_manifest").count() == 2
    assert spark.read.parquet(f"{tmpdir}/doc_meta").count() == 12
    assert _topk(idx, "heavy") == _topk(micro_index, "heavy")
    assert _topk(idx, "apple banana") == _topk(micro_index, "apple banana")

    idx3 = append_documents(spark, tmpdir, second, num_segments=2, force=True)
    assert idx3.stats.num_docs == 18
    assert spark.read.parquet(f"{tmpdir}/_manifest").count() == 3


def test_compact_index_roundtrip(spark, micro_corpus, micro_index, tmpdir):
    """Persisted compaction: multi-group index -> single-group directory
    via the atomic-swap protocol; queries, phrases and facets all equal
    the pre-compaction index; torn-swap recovery completes the swap."""
    import os

    from sparktext.build import build_index, with_facets
    from sparktext.manifest import compact_index, load_index
    from sparktext.query import facet_subtree_docs

    d = os.path.join(str(tmpdir), "idx")
    build_index(spark, micro_corpus, num_segments=4, index_dir=d,
                num_groups=2, with_positions=True)
    with_facets(load_index(spark, d), "concat('/', lang, '/', repo)", index_dir=d)

    idx = compact_index(spark, d, num_segments=2)
    assert idx.stats.num_docs == 12
    man = spark.read.parquet(f"{d}/_manifest")
    assert man.count() == 1 and man.collect()[0]["num_groups"] == 1
    for q in ["heavy", "apple banana", "+grape cherry", "apple -banana"]:
        assert _topk(idx, q) == _topk(micro_index, q), q
    from sparktext.query import phrase_docs
    assert phrase_docs(idx, ["apple", "banana"]).count() == 3
    assert facet_subtree_docs(idx, "/py").count() == 7
    # idempotent re-run
    idx2 = compact_index(spark, d, num_segments=2)
    assert idx2.stats.num_docs == 12

    # torn swap: live dir renamed away, tmp holds the DONE marker -> the
    # next compact_index completes the swap before doing anything else
    os.rename(d, d + ".compact_tmp")
    # (simulate: the tmp IS a complete index; marker from the last run)
    with open(d + ".compact_tmp/_COMPACT_DONE", "w") as f:
        f.write("x")
    idx3 = compact_index(spark, d, num_segments=2)
    assert idx3.stats.num_docs == 12

    # resume=True on the compacted dir adopts its geometry (incl. the
    # with_positions flag) and is a no-op re-finalize
    idx4 = build_index(spark, micro_corpus, num_segments=99, index_dir=d,
                       resume=True, num_groups=7)
    assert idx4.stats.num_docs == 12
    assert idx4.positions is not None
    assert spark.read.parquet(f"{d}/_manifest").count() == 1


def test_writer_lock_blocks_concurrent_append(spark, micro_corpus, tmpdir):
    """Single-writer guard: an append launched while a compaction (or
    another append) holds the lock fails fast with WriterLockHeld and
    neither loses nor duplicates the batch — after the holder releases,
    the same append commits exactly once."""
    import os

    from sparktext.build import build_index
    from sparktext.manifest import WriterLockHeld, _writer_lock, append_documents

    d = os.path.join(str(tmpdir), "idx")
    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=d, num_groups=1)

    with _writer_lock(d, "compact"):  # live holder: this very pid
        with pytest.raises(WriterLockHeld):
            append_documents(spark, d, second, num_segments=2)
    # nothing was lost: index untouched, lock released, retry commits
    assert spark.read.parquet(f"{d}/doc_meta").count() == 6
    idx = append_documents(spark, d, second, num_segments=2)
    assert idx.stats.num_docs == 12
    assert spark.read.parquet(f"{d}/_manifest").count() == 2
    # the lock file is gone after a successful append
    assert not os.path.exists(d + ".writer_lock")


def test_stale_writer_lock_is_broken(spark, micro_corpus, tmpdir):
    """A lock whose holder pid is dead must not wedge the index."""
    import json as _json
    import os

    from sparktext.build import build_index
    from sparktext.manifest import append_documents

    d = os.path.join(str(tmpdir), "idx")
    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=d, num_groups=1)
    with open(d + ".writer_lock", "w") as f:
        _json.dump({"pid": 2**22 + 12345, "op": "compact", "ts": 0}, f)
    with pytest.warns(UserWarning, match="stale"):
        idx = append_documents(spark, d, second, num_segments=2)
    assert idx.stats.num_docs == 12


def test_stale_lock_claim_of_live_lock_backs_out(tmpdir, monkeypatch):
    """Two waiters see the same dead pid; the winner breaks the stale
    lock and takes a live one before the loser's claim rename runs. The
    loser's rename then grabs the LIVE lock: it must put the file back
    and raise, not break it."""
    import json as _json
    import os

    from sparktext import manifest
    from sparktext.manifest import WriterLockHeld, _writer_lock

    d = os.path.join(str(tmpdir), "idx")
    path = d + ".writer_lock"
    with open(path, "w") as f:
        _json.dump({"pid": 2**22 + 12345, "op": "compact", "ts": 0}, f)
    live = {"pid": os.getpid(), "op": "append", "ts": 1}
    real_rename = os.rename

    def racing_rename(src, dst):
        if src == path:  # the winner swaps in its live lock first
            os.unlink(path)
            with open(path, "w") as f:
                _json.dump(live, f)
        return real_rename(src, dst)

    monkeypatch.setattr(manifest.os, "rename", racing_rename)
    with pytest.raises(WriterLockHeld):
        with _writer_lock(d, "append"):
            pass
    monkeypatch.undo()
    with open(path) as f:
        assert _json.load(f) == live
    assert [p for p in os.listdir(str(tmpdir)) if p != "idx.writer_lock"] == []


def test_append_skip_warns_and_metadata_change_appends(
    spark, micro_corpus, tmpdir
):
    """The crash-retry skip is LOUD, and it no longer swallows a batch
    whose content matches but whose metadata differs: the fingerprint
    folds repo/path/commit/lang, so only a true replay (same content AND
    metadata, or same commit_token) is treated as a crashed retry."""
    import os

    from sparktext.build import build_index
    from sparktext.manifest import append_documents

    d = os.path.join(str(tmpdir), "idx")
    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=d, num_groups=1)
    append_documents(spark, d, second, num_segments=2)

    # exact replay (same content + metadata): skipped, loudly
    with pytest.warns(UserWarning, match="crash retry"):
        idx = append_documents(spark, d, second, num_segments=2)
    assert idx.stats.num_docs == 12

    # same CONTENT under different metadata: a real new batch — appends
    moved = second.withColumn("repo", F.lit("mirror")).withColumn(
        "path", F.concat(F.lit("mirror/"), F.col("path"))
    )
    idx2 = append_documents(spark, d, moved, num_segments=2)
    assert idx2.stats.num_docs == 18
    assert spark.read.parquet(f"{d}/_manifest").count() == 3


def test_compaction_carries_stream_checkpoint(spark, micro_corpus, tmpdir):
    """The streaming checkpoint survives (a) a clean compaction, (b) a
    crash between the two swap renames — the window that used to strand
    it in the doomed .compact_old dir — and (c) a pre-staging torn swap
    where only the old dir still holds it."""
    import os

    from sparktext.build import build_index
    from sparktext.manifest import compact_index

    d = os.path.join(str(tmpdir), "idx")
    build_index(spark, micro_corpus, num_segments=4, index_dir=d, num_groups=2)
    ck = os.path.join(d, "_stream_checkpoint")
    os.makedirs(os.path.join(ck, "offsets"))
    with open(os.path.join(ck, "offsets", "0"), "w") as f:
        f.write("batch-0-state")

    # (a) clean compaction
    compact_index(spark, d, num_segments=2)
    with open(os.path.join(ck, "offsets", "0")) as f:
        assert f.read() == "batch-0-state"

    # (b) crash between rename(base, old) and rename(tmp, base): tmp is
    # a complete index CARRYING the staged checkpoint copy. Reproduce by
    # replaying compaction's end state by hand.
    shutil.copytree(d, d + ".compact_tmp")
    with open(d + ".compact_tmp/_COMPACT_DONE", "w") as f:
        f.write("x")
    os.rename(d, d + ".compact_old")
    idx = compact_index(spark, d, num_segments=2)
    assert idx.stats.num_docs == 12
    with open(os.path.join(ck, "offsets", "0")) as f:
        assert f.read() == "batch-0-state"
    assert not os.path.exists(d + ".compact_old")

    # (c) pre-staging layout: tmp lacks the checkpoint, old has it
    shutil.copytree(d, d + ".compact_tmp")
    shutil.rmtree(d + ".compact_tmp/_stream_checkpoint")
    with open(d + ".compact_tmp/_COMPACT_DONE", "w") as f:
        f.write("x")
    os.rename(d, d + ".compact_old")
    idx = compact_index(spark, d, num_segments=2)
    assert idx.stats.num_docs == 12
    with open(os.path.join(ck, "offsets", "0")) as f:
        assert f.read() == "batch-0-state"


def test_append_recovers_torn_compaction_swap(spark, micro_corpus, tmpdir):
    """An append hitting the missing-base/tmp-complete torn state (crash
    between compaction's renames) completes the swap under the lock and
    then commits the batch — no lost index, no lost batch."""
    import os

    from sparktext.build import build_index
    from sparktext.manifest import append_documents

    d = os.path.join(str(tmpdir), "idx")
    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=d, num_groups=1)
    os.rename(d, d + ".compact_tmp")
    with open(d + ".compact_tmp/_COMPACT_DONE", "w") as f:
        f.write("x")

    idx = append_documents(spark, d, second, num_segments=2)
    assert idx.stats.num_docs == 12
    assert spark.read.parquet(f"{d}/doc_meta").count() == 12
    assert not os.path.exists(d + ".compact_tmp")
