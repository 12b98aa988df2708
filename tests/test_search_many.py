"""search_many (batch B2–B5+B9) must equal per-query results exactly."""

import pytest


QUERIES = {
    "q_single": "heavy",
    "q_or": "apple banana",
    "q_must": "+apple +banana",
    "q_mixed": "+grape cherry",
    "q_not": "apple -banana",
    "q_missing": "zzzmissing",
    "q_must_missing": "+zzzmissing apple",
    "q_rare": "unique",
}


def _individual(index, qstr, k):
    from sparktext.query import matched_docs, parse_query
    from sparktext.topk import top_k

    rows = top_k(matched_docs(index, parse_query(qstr)), k).collect()
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


@pytest.mark.parametrize("k", [3, 12])
def test_batch_equals_individual(micro_index, k):
    from sparktext.query import search_many

    batch = search_many(micro_index, QUERIES, k=k)
    got: dict[str, list] = {qid: [] for qid in QUERIES}
    rows = batch.collect()
    order = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9)))
    for qid in got:
        got[qid].sort(key=lambda t: (-t[1], t[0]))
    for qid, qstr in QUERIES.items():
        assert got.get(qid, []) == _individual(micro_index, qstr, k), qid


def test_batch_empty_queries(micro_index):
    from sparktext.query import search_many

    assert search_many(micro_index, {"a": "zzz", "b": ""}).count() == 0


def test_join_strategy_equals_broadcast(spark, micro_index):
    """The equi-join batch plan must be result-identical to the
    broadcast fan-out plan on every fixture query shape."""
    from sparktext.query import search_many

    qs = {
        "t1": "apple", "t2": "banana cherry", "t3": "+grape cherry",
        "t4": "apple -banana", "t5": "+heavy +apple -grape",
        "t6": "nonexistentterm", "t7": "+missingmust apple",
        "t8": "heavy egg fig",
    }

    def rows(strategy):
        out = search_many(micro_index, qs, k=12, round_decimals=9,
                          strategy=strategy).collect()
        return sorted((r["query_id"], r["doc_id"], r["score"]) for r in out)

    assert rows("broadcast") == rows("join")


def test_auto_strategy_policy():
    """The cost-based broadcast-vs-join call: shared-vocabulary batches
    (fan-out volume within SEARCH_MANY_JOIN_RATIO x of join volume) stay
    on the measured-faster broadcast plan; disjoint-vocabulary thousands
    (each doc relevant to ~1 query, fan-out ratio ~= |queries|) switch to
    the equi-join plan whose rows are the true match volume."""
    from sparktext.query import Query, _pick_batch_strategy

    # 200 shared-vocab queries over 3 common terms: ratio ~ |queries|/3
    stats = {t: {"doc_freq": 300_000} for t in ("a", "b", "c")}
    live = {f"q{i}": Query(should=["a", "b", "c"]) for i in range(200)}
    assert _pick_batch_strategy(2_000_000, stats, live, {"a", "b", "c"}) == "broadcast"

    # 5000 disjoint single-term queries: fan-out = matched x 5000,
    # join volume = matched -> ratio 5000 >> gate
    stats2 = {f"t{i}": {"doc_freq": 400} for i in range(5000)}
    live2 = {f"q{i}": Query(should=[f"t{i}"]) for i in range(5000)}
    assert _pick_batch_strategy(2_000_000, stats2, live2, set(stats2)) == "join"


def test_many_dup_queries_still_correct(spark, micro_index):
    """auto on a large duplicated batch (whatever plan it picks) must
    return each query's own correct result."""
    from sparktext.query import search_many

    many = {f"q{i}": "apple banana" for i in range(80)}
    out = search_many(micro_index, many, k=3, round_decimals=9)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    single = sorted(got["q0"])
    assert len(got) == len(many)
    assert all(sorted(v) == single for v in got.values())


def test_search_many_dedups_identical_queries(micro_index):
    """Duplicate query strings (and distinct strings with identical
    evaluated signatures) are evaluated once and fanned back out —
    every submitted qid still gets its full, identical top-k."""
    from sparktext.query import search_many

    base = {"a": "apple banana", "b": "+grape cherry", "c": "heavy -banana"}
    singles = {
        qid: sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in search_many(micro_index, {qid: q}, k=5).collect()
        )
        for qid, q in base.items()
    }
    dup = {f"{qid}#{i}": q for i in range(5) for qid, q in base.items()}
    # a boost of 1.0 and a missing term are signature-invisible
    dup["a#x"] = "apple^1 banana zzzmissing"
    got: dict[str, list] = {}
    for r in search_many(micro_index, dup, k=5).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9)))
    assert set(got) == set(dup)
    for qid in dup:
        assert sorted(got[qid]) == singles[qid.split("#")[0]], qid


def test_auto_prune_gate_skips_small_batches(micro_index, monkeypatch):
    """Round 6 default (exhaustive=None): the batch volume gate must NOT
    attempt pruning on a tiny batch (fixed driver jobs would dominate).
    The volume is the SUM over queries of each query's candidate
    postings, not (union postings x live queries): three disjoint
    single-term queries (heavy 10 + date 4 + unique 1 = 15 postings)
    stay exhaustive under a gate of 30, which the union formula
    (15 x 3 = 45) would open; a gate of 15 opens."""
    import sparktext.query as query_mod
    import sparktext.score as score_mod
    from sparktext.query import search_many

    calls = []
    orig = score_mod.wand_blocks_for_batch

    def spy(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    monkeypatch.setattr(score_mod, "wand_blocks_for_batch", spy)
    search_many(micro_index, {"a": "apple", "b": "banana cherry"}, k=3).collect()
    assert calls == []
    disjoint = {"a": "heavy", "b": "date", "c": "unique"}
    monkeypatch.setattr(query_mod, "WAND_BATCH_MIN_VOLUME", 30)
    search_many(micro_index, disjoint, k=3).collect()
    assert calls == []
    monkeypatch.setattr(query_mod, "WAND_BATCH_MIN_VOLUME", 15)
    search_many(micro_index, disjoint, k=3).collect()
    assert len(calls) == 1


def test_auto_prune_gate_fires_and_results_identical(micro_index, monkeypatch):
    """With the volume gate lowered, the DEFAULT path must route through
    batch pruning (gate forwarded as 0) and stay result-identical."""
    import sparktext.query as query_mod
    import sparktext.score as score_mod
    from sparktext.query import search_many

    calls = []
    orig = score_mod.wand_blocks_for_batch

    def spy(index, live, k, stats_map, terms, gate):
        calls.append(gate)
        out = orig(index, live, k, stats_map, terms, gate)
        assert out is not None  # pruning ACTIVE, not a silent fallback
        return out

    monkeypatch.setattr(score_mod, "wand_blocks_for_batch", spy)
    monkeypatch.setattr(query_mod, "WAND_BATCH_MIN_VOLUME", 1)
    qs = {"a": "apple", "b": "banana cherry", "c": "heavy apple"}
    got: dict[str, list] = {}
    for r in search_many(micro_index, qs, k=4).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9)))
    assert calls == [0]
    for qid in got:
        got[qid].sort(key=lambda t: (-t[1], t[0]))
    for qid, qstr in qs.items():
        assert got.get(qid, []) == _individual(micro_index, qstr, 4), qid


PHRASE_QUERIES = {
    "p_exact": '"apple banana"',
    "p_slop": '"apple cherry"~3',
    "p_mixed": '"apple banana" heavy',
    "p_must_phrase": '+"apple banana" grape',
    "p_not_phrase": 'heavy -"apple banana"',
    "p_term_must": '+grape "apple banana"',
    "p_shared": '"apple banana" unique',
}


def _individual_full(index, qstr, k):
    from sparktext.query import matched_docs, parse_query
    from sparktext.topk import top_k

    rows = top_k(matched_docs(index, parse_query(qstr)), k).collect()
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


@pytest.fixture(scope="module")
def pos_index_sm(spark, micro_corpus):
    from sparktext.build import build_index

    return build_index(spark, micro_corpus, num_segments=3, with_positions=True)


def test_batch_phrases_equal_individual(pos_index_sm):
    """Mixed batch with quoted phrases: every phrase shape (exact, slop,
    phrase+terms, must-phrase, must_not-phrase, term-must+phrase) must
    equal its single-query matched_docs result; plain queries in the
    same batch ride the ordinary shared plan."""
    from sparktext.query import search_many

    batch = dict(PHRASE_QUERIES)
    batch.update({"q_plain": "heavy", "q_bool": "+grape cherry"})
    rows = search_many(pos_index_sm, batch, k=12).collect()
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9)))
    for qid in got:
        got[qid].sort(key=lambda t: (-t[1], t[0]))
    for qid, qstr in batch.items():
        assert got.get(qid, []) == _individual_full(pos_index_sm, qstr, 12), qid


def test_batch_phrase_clause_shared_once(pos_index_sm):
    """Two queries quoting the SAME phrase share one phrase_docs plan
    (clause-level dedup in the phrase cache)."""
    from sparktext import query as qmod

    calls = []
    orig = qmod.phrase_docs

    def counting(index, terms, slop=0):
        calls.append((tuple(terms), slop))
        return orig(index, terms, slop)

    qmod.phrase_docs = counting
    try:
        qmod.search_many(pos_index_sm, {
            "a": '"apple banana" heavy',
            "b": '"apple banana" grape',
            "c": '"apple banana"~2',
        }, k=5).collect()
    finally:
        qmod.phrase_docs = orig
    # exact clause used by a+b computed once; slop variant is distinct
    assert sorted(calls) == [(("apple", "banana"), 0), (("apple", "banana"), 2)]
