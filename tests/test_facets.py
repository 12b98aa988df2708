"""Facet FIELD indexing + subtree queries (SURVEY §2 A2/C7 query-side
complement; round-3 verdict item 9).

with_facets indexes every ancestor prefix of a doc's '/a/b' facet path
through the SAME A4 block codec as text postings, so a subtree query is
one exact-term lookup (tantivy's Facet field design). Aggregation-side
rollup (facet_terms_agg) is covered in test_aggs; this file covers the
QUERY side: exact membership, deletes, persistence, partition pruning.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import MICRO_DOCS

LANG = {d[0]: d[4] for d in MICRO_DOCS}
REPO = {d[0]: d[1] for d in MICRO_DOCS}


FACET_EXPR = "concat('/', lang, '/', repo)"


def _facet_col():
    return F.concat(F.lit("/"), F.col("lang"), F.lit("/"), F.col("repo"))


@pytest.fixture(scope="module")
def facet_index(spark, micro_index):
    from sparktext.build import with_facets

    return with_facets(micro_index, _facet_col())


def _docs(df):
    return {r["doc_id"] for r in df.collect()}


def test_facet_subtree_level1(facet_index):
    from sparktext.query import facet_subtree_docs

    got = _docs(facet_subtree_docs(facet_index, "/py"))
    assert got == {d for d, lg in LANG.items() if lg == "py"}
    rows = facet_subtree_docs(facet_index, "/py").collect()
    assert all(r["score"] == 1.0 for r in rows)


def test_facet_subtree_level2_and_normalization(facet_index):
    from sparktext.query import facet_subtree_docs

    want = {d for d in LANG if LANG[d] == "rs" and REPO[d] == "r1"}
    assert _docs(facet_subtree_docs(facet_index, "/rs/r1")) == want
    # trailing/leading slashes normalize to the same term
    assert _docs(facet_subtree_docs(facet_index, "rs/r1/")) == want


def test_facet_subtree_missing_and_guard(facet_index, micro_index):
    from sparktext.query import facet_subtree_docs

    assert facet_subtree_docs(facet_index, "/zz").count() == 0
    with pytest.raises(ValueError, match="facet"):
        facet_subtree_docs(micro_index, "/py")


def test_facet_subtree_respects_deletes(spark, facet_index):
    from sparktext.query import facet_subtree_docs

    py_docs = sorted(d for d, lg in LANG.items() if lg == "py")
    dead = spark.createDataFrame([(py_docs[0],)], "doc_id long")
    idx2 = facet_index.with_deletes(dead)
    assert _docs(facet_subtree_docs(idx2, "/py")) == set(py_docs[1:])


def test_facet_persisted_roundtrip_and_pruning(spark, micro_corpus, tmpdir):
    from sparktext.build import build_index, with_facets
    from sparktext.manifest import load_index
    from sparktext.query import facet_subtree_docs

    idx = build_index(spark, micro_corpus, num_segments=3, index_dir=tmpdir, num_groups=1)
    # persisted facets need the serializable SQL-string spec
    with pytest.raises(TypeError, match="facet_expr"):
        with_facets(idx, _facet_col(), index_dir=str(tmpdir))
    with_facets(idx, FACET_EXPR, index_dir=str(tmpdir))
    loaded = load_index(spark, str(tmpdir))
    assert loaded.facet_postings is not None
    assert loaded.facet_expr == FACET_EXPR
    got = _docs(facet_subtree_docs(loaded, "/rs"))
    assert got == {d for d, lg in LANG.items() if lg == "rs"}
    # the exact facet term must reach the parquet scan as a pushed filter
    # and the term_bucket partition filter must prune files — the same
    # §4.1 story as text term queries
    plan = (
        facet_subtree_docs(loaded, "/rs")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EqualTo(term,/rs)" in plan, plan
    assert "PartitionFilters: [isnotnull(term_bucket" in plan, plan


def test_facets_maintained_through_append(spark, micro_corpus, tmpdir):
    """append_documents extends the facet table for the new group (from
    the facet spec in the commit log) — subtree queries stay complete."""
    from sparktext.build import build_index, with_facets
    from sparktext.manifest import append_documents, load_index
    from sparktext.query import facet_subtree_docs

    first = micro_corpus.filter(F.col("doc_id") < 6)
    second = micro_corpus.filter(F.col("doc_id") >= 6).withColumn(
        "doc_id", F.col("doc_id") - 6
    )
    build_index(spark, first, num_segments=2, index_dir=str(tmpdir), num_groups=1)
    with_facets(load_index(spark, str(tmpdir)), FACET_EXPR, index_dir=str(tmpdir))
    append_documents(spark, str(tmpdir), second, num_segments=2)
    idx = load_index(spark, str(tmpdir))
    got = _docs(facet_subtree_docs(idx, "/py"))
    assert got == {d for d, lg in LANG.items() if lg == "py"}
    got2 = _docs(facet_subtree_docs(idx, "/rs/r1"))
    assert got2 == {d for d in LANG if LANG[d] == "rs" and REPO[d] == "r1"}


def test_facets_rebuilt_at_purging_merge(spark, facet_index):
    """Merging with tombstones purges facet postings too (rebuild from
    the serializable expr when available; dropped for ad-hoc Columns)."""
    from sparktext.build import with_facets
    from sparktext.merge import merge_segments
    from sparktext.query import facet_subtree_docs

    py_docs = sorted(d for d, lg in LANG.items() if lg == "py")
    dead = spark.createDataFrame([(py_docs[0],)], "doc_id long")

    # string-expr facets: rebuilt post-purge
    idx = with_facets(facet_index, FACET_EXPR)
    merged = merge_segments(idx.with_deletes(dead), 2)
    assert merged.deleted is None
    assert _docs(facet_subtree_docs(merged, "/py")) == set(py_docs[1:])

    # ad-hoc Column facets: cannot be rebuilt -> dropped with guidance
    idx2 = with_facets(facet_index, _facet_col())
    merged2 = merge_segments(idx2.with_deletes(dead), 2)
    assert merged2.facet_postings is None


def test_facet_root_subtree_and_reexpr_truncation(spark, micro_corpus, tmpdir, facet_index):
    """'/' = every faceted doc; re-running with_facets with a DIFFERENT
    expr must truncate the old hierarchy (no mixed-table leftovers)."""
    from sparktext.build import build_index, with_facets
    from sparktext.manifest import load_index
    from sparktext.query import facet_subtree_docs

    assert _docs(facet_subtree_docs(facet_index, "/")) == set(LANG)

    d = str(tmpdir)
    build_index(spark, micro_corpus, num_segments=3, index_dir=d, num_groups=1)
    with_facets(load_index(spark, d), FACET_EXPR, index_dir=d)
    # switch hierarchies: repo-first instead of lang-first
    with_facets(load_index(spark, d), "concat('/', repo)", index_dir=d)
    loaded = load_index(spark, d)
    assert loaded.facet_expr == "concat('/', repo)"
    # old-hierarchy roots are GONE (a stale '/py' bucket would match)
    assert facet_subtree_docs(loaded, "/py").count() == 0
    assert _docs(facet_subtree_docs(loaded, "/r0")) == {
        d_ for d_, r in REPO.items() if r == "r0"
    }
    assert _docs(facet_subtree_docs(loaded, "/")) == set(LANG)
