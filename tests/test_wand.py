"""B10: block-max WAND must be result-identical to exhaustive scoring."""

import pytest

from sparktext.query import matched_docs, parse_query
from sparktext.topk import top_k


def _topk(index, qstr, k, exhaustive):
    # wand_min_postings=0 forces the PRUNING plan even on tiny fixtures
    # (the cost-based gate would otherwise pick the exhaustive plan).
    df = top_k(
        matched_docs(index, parse_query(qstr), exhaustive=exhaustive, k=k,
                     wand_min_postings=0),
        k,
    )
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _kept_blocks(index, qstr, k):
    """Blocks the pruner keeps for one query, forced past its gate (a
    batch of one, exactly as matched_docs calls it)."""
    from sparktext.query import postings_for_terms
    from sparktext.score import term_stats, wand_blocks_for_batch

    q = parse_query(qstr)
    sm = term_stats(index, q.scored_terms)
    kept = wand_blocks_for_batch(index, {"q": q}, k, sm, q.scored_terms, 0)
    return (kept if kept is not None else postings_for_terms(index, q.scored_terms, sm)).count()


@pytest.mark.parametrize("qstr,k", [
    ("heavy", 3),
    ("apple banana", 5),
    ("unique", 10),
    ("grape egg fig", 4),
])
def test_wand_equals_exhaustive_micro(micro_index, qstr, k):
    assert _topk(micro_index, qstr, k, False) == _topk(micro_index, qstr, k, True)


@pytest.fixture(scope="module")
def doc_index(spark):
    from sparktext.build import build_index
    from sparktext.corpus import documents_as_corpus

    corpus = documents_as_corpus(spark, "/root/testdata/sf0.001")
    return build_index(spark, corpus, num_segments=8)


@pytest.mark.parametrize("qstr,k", [
    ("spark", 10),
    ("query window scan", 10),
    ("customer merge", 5),
])
def test_wand_equals_exhaustive_sf0001(doc_index, qstr, k):
    assert _topk(doc_index, qstr, k, False) == _topk(doc_index, qstr, k, True)


def test_wand_actually_prunes_on_skewed_tf(spark):
    """A corpus where a few docs have tf=10 and hundreds have tf=1: the
    seed θ (from the high-ub block) must exceed the tf=1 blocks' bounds,
    so WAND must PRUNE them — and still return identical top-k."""
    rows = []
    for i in range(600):
        tf = 10 if i < 10 else 1
        content = " ".join(["hot"] * tf + ["pad", f"w{i % 7}"])
        rows.append((i, "r", f"p/{i}", f"c{i}", "py", content, len(content)))
    corpus = spark.createDataFrame(
        rows,
        "doc_id long, repo string, path string, commit string, lang string, "
        "content string, n_chars long",
    )
    from sparktext.build import build_index
    from sparktext.query import postings_for_terms

    # one segment -> >4 blocks of 128 docs for 'hot'
    index = build_index(spark, corpus, num_segments=1)
    total = postings_for_terms(index, ["hot"]).count()
    kept = _kept_blocks(index, "hot", 5)
    assert total >= 5
    assert kept < total  # pruning really happened
    assert _topk(index, "hot", 5, False) == _topk(index, "hot", 5, True)


def test_wand_prunes_blocks(doc_index):
    """The candidate set must not exceed the full block set; on a corpus
    with >k docs per term it should genuinely shrink it."""
    from sparktext.query import postings_for_terms

    total = postings_for_terms(doc_index, ["spark", "query"]).count()
    assert _kept_blocks(doc_index, "spark query", 10) <= total


def test_cost_based_fallback(doc_index):
    """Below the postings threshold, exhaustive=False must pick the
    exhaustive plan (no theta subtree) — plans are identical."""
    from sparktext.query import matched_docs, parse_query

    q = parse_query("query window scan")
    lazy_wand = matched_docs(doc_index, q, exhaustive=False, k=10)
    lazy_ex = matched_docs(doc_index, q, exhaustive=True)
    assert "wand_pruned" not in lazy_wand._jdf.queryExecution().analyzed().toString()
    # forcing the threshold off re-enables the pruning plan
    forced = matched_docs(doc_index, q, exhaustive=False, k=10, wand_min_postings=0)
    assert "wand_pruned" in forced._jdf.queryExecution().analyzed().toString()
    # a must query anchors its terms: even forced, nothing is pruned
    forced_must = matched_docs(
        doc_index, parse_query("+spark query"), exhaustive=False, k=10,
        wand_min_postings=0,
    )
    assert "wand_pruned" not in forced_must._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("qstr,k", [
    ("+heavy apple banana", 5),     # must driver + should
    ("+apple grape -banana", 6),    # must + should + must_not
    ("apple -banana", 5),           # must_not only
    ("heavy^2 apple", 5),           # boosted should
    ("+heavy apple^3 banana", 4),   # must + boosted should
])
def test_wand_equals_exhaustive_boolean(micro_index, qstr, k):
    """Boolean and boosted shapes through exhaustive=False: boosted
    should-only queries prune, must/must_not queries anchor their terms
    (kept whole) — results must stay rank-identical to the exhaustive
    plan."""
    assert _topk(micro_index, qstr, k, False) == _topk(micro_index, qstr, k, True)


def test_wand_negative_boost_falls_back(micro_index):
    """ub * boost only bounds the boosted partial for boost > 0 — a
    negative boost must route to the exhaustive plan."""
    q = parse_query("apple^-2 banana")
    lazy = matched_docs(micro_index, q, exhaustive=False, k=5, wand_min_postings=0)
    assert "wand_pruned" not in lazy._jdf.queryExecution().analyzed().toString()


def test_wand_on_persisted_index(spark, micro_corpus, tmpdir):
    """The driver-literal θ/bounds collects must work against the
    parquet-backed postings too (partition-pruned seed fetch, header
    mini-cache built from the persisted table) — in-memory-only coverage
    would miss a persisted-path regression."""
    from sparktext.build import build_index

    idx = build_index(spark, micro_corpus, num_segments=3,
                      index_dir=str(tmpdir), num_groups=2)
    for qstr, k in [("heavy", 3), ("apple banana", 5), ("+heavy apple", 4)]:
        assert _topk(idx, qstr, k, False) == _topk(idx, qstr, k, True), qstr


def test_wand_with_tombstones_falls_back_and_matches(micro_index):
    """Tombstones poison the theta seed (deleted docs can hold the
    seeded k-th best score, inflating theta and pruning blocks of real
    results), so matched_docs must route deleted-carrying indexes to
    the exhaustive plan — results identical to exhaustive, deleted docs
    absent, even with wand_min_postings=0 forcing the pruning branch."""
    # 'heavy' top docs include doc 2 (tf=3) and 7; delete the top doc so
    # a stale theta would provably overshoot the best alive score.
    full = _topk(micro_index, "heavy", 3, True)
    victim = full[0][0]
    spark = micro_index.postings.sparkSession
    idx = micro_index.with_deletes(
        spark.createDataFrame([(victim,)], "doc_id long")
    )
    try:
        pruned = _topk(idx, "heavy", 3, False)
        exhaustive = _topk(idx, "heavy", 3, True)
        assert pruned == exhaustive
        assert all(d != victim for d, _ in pruned)
        # the fallback is the reason: the pruned-plan marker is absent
        from sparktext.query import matched_docs as md, parse_query as pq
        plan = md(idx, pq("heavy"), exhaustive=False, k=3,
                  wand_min_postings=0)._jdf.queryExecution().analyzed().toString()
        assert "wand_pruned" not in plan
    finally:
        idx.deleted.unpersist()


def _batch_results(index, queries, k, exhaustive, wmp=0):
    from sparktext.query import search_many

    rows = search_many(index, queries, k=k, exhaustive=exhaustive,
                       wand_min_postings=wmp).collect()
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9))
        )
    for qid in got:
        got[qid].sort(key=lambda t: (-t[1], t[0]))
    return got


def test_batch_wand_equals_exhaustive_micro(micro_index):
    """Batch pruning (exhaustive=False, forced gate) must be
    result-identical to the exhaustive batch across mixed shapes —
    pure-should queries prune, boolean/boosted queries anchor their
    terms (kept in full)."""
    queries = {
        "q1": "heavy",
        "q2": "apple banana",
        "q3": "+grape cherry",       # must: anchored
        "q4": "apple -banana",       # must_not: anchored
        "q5": "heavy^2 grape",       # boosted pure-should: prunable
        "q6": "unique",
    }
    for k in (3, 12):
        assert _batch_results(micro_index, queries, k, False) == \
            _batch_results(micro_index, queries, k, True), k


def test_batch_wand_prunes_and_matches_on_zipf(spark):
    """On the clustered-skew corpus the batch survivor union must be a
    strict subset of the full block set (real pruning) while batch
    results stay identical to exhaustive."""
    from sparktext.build import build_index
    from sparktext.query import parse_query, postings_for_terms
    from sparktext.score import term_stats, wand_blocks_for_batch
    from sparktext.corpus import skewed_impact_corpus

    index = build_index(spark, skewed_impact_corpus(spark, 4000), num_segments=2)
    queries = {
        "z1": "alpha beta",
        "z2": "gamma",
        "z3": "alpha beta gamma",
    }
    live = {qid: parse_query(qs) for qid, qs in queries.items()}
    terms = ["alpha", "beta", "gamma"]
    sm = term_stats(index, terms)
    total = postings_for_terms(index, terms, sm).count()
    blocks = wand_blocks_for_batch(index, live, 5, sm, terms, 0)
    assert blocks is not None
    kept = blocks.count()
    assert kept < total, (kept, total)
    assert _batch_results(index, queries, 5, False) == \
        _batch_results(index, queries, 5, True)
    index.unpersist()


def test_batch_wand_gate_and_tombstone_fallback(micro_index):
    """Below the postings gate or with tombstones the batch helper
    declines (None) — the caller decodes the full union."""
    from sparktext.query import parse_query
    from sparktext.score import term_stats, wand_blocks_for_batch

    live = {"a": parse_query("heavy")}
    sm = term_stats(micro_index, ["heavy"])
    # gate: candidate postings (10) < min
    assert wand_blocks_for_batch(micro_index, live, 3, sm, ["heavy"], 10**6) is None
    # tombstones poison theta -> decline
    spark = micro_index.postings.sparkSession
    idx = micro_index.with_deletes(spark.createDataFrame([(2,)], "doc_id long"))
    try:
        assert wand_blocks_for_batch(idx, live, 3, sm, ["heavy"], 0) is None
    finally:
        idx.deleted.unpersist()
