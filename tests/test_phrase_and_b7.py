"""B6 phrase queries, B7 range/prefix/fuzzy, A11 deletes."""

import math

import pytest

from tests.conftest import MICRO_DOCS

DOCS = {d[0]: d[5] for d in MICRO_DOCS}


@pytest.fixture(scope="module")
def pos_index(spark, micro_corpus):
    from sparktext.build import build_index

    return build_index(spark, micro_corpus, num_segments=3, with_positions=True)


def _phrase_expected(phrase):
    terms = phrase.split()
    out = {}
    for d, text in DOCS.items():
        toks = text.split()
        tf = sum(
            1
            for i in range(len(toks) - len(terms) + 1)
            if toks[i : i + len(terms)] == terms
        )
        if tf:
            out[d] = tf
    return out


@pytest.mark.parametrize("phrase", [
    "apple banana",       # multiple docs
    "heavy heavy",        # overlapping repeat inside doc 2
    "grape heavy grape",  # 3-term, doc 7 only
    "banana apple",       # reversed -> only docs with that order
    "egg fig heavy",      # 3-term
    "cherry unique",      # no match
])
def test_phrase_matches(pos_index, phrase):
    from sparktext.query import phrase_docs

    rows = {r["doc_id"]: r["score"] for r in phrase_docs(pos_index, phrase.split()).collect()}
    exp = _phrase_expected(phrase)
    assert set(rows) == set(exp), phrase


def test_phrase_scores(pos_index):
    """Score = sum(idf) * bm25_tf_part with phrase frequency as tf."""
    from sparktext.fieldnorm import quantize
    from sparktext.query import phrase_docs
    from tests.reference_impl import build_ref

    ref = build_ref(DOCS)
    terms = ["apple", "banana"]
    exp_tf = _phrase_expected("apple banana")
    sum_idf = sum(
        math.log(1 + (ref["n"] - ref["df"][t] + 0.5) / (ref["df"][t] + 0.5)) for t in terms
    )
    rows = {r["doc_id"]: r["score"] for r in phrase_docs(pos_index, terms).collect()}
    for d, tf in exp_tf.items():
        dl = float(quantize([ref["doc_len"][d]])[0])
        expected = sum_idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / ref["avg"]))
        assert rows[d] == pytest.approx(expected, abs=1e-9)


def _positions_reference(docs):
    """(doc_id, term) -> token indexes, from the build's own tokenizer."""
    import pandas as pd

    from sparktext.tokenizer import tokenize_flat

    ids = [d for d, _ in docs]
    row_idx, toks = tokenize_flat(pd.Series([t for _, t in docs]))
    ref, seen = {}, {}
    for i, tok in zip(row_idx, toks):
        ref.setdefault((ids[i], tok), []).append(seen.get(i, 0))
        seen[i] = seen.get(i, 0) + 1
    return ref


@pytest.mark.parametrize("case", ["repeated_terms", "non_monotonic_ids", "zero_token_doc"])
def test_fused_worker_positions(spark, micro_corpus, case):
    """The fused build worker's positions rows equal token indexes per
    (doc, term) from the tokenizer: repeated terms (docs 1, 2, 7);
    caller-supplied doc ids in descending row order (every partition is
    non-monotonic, so the worker's lexsort must reorder positions with
    the tf runs); and an appended doc with no tokens at all."""
    from pyspark.sql import functions as F

    from sparktext.build import build_index

    corpus = micro_corpus
    if case == "non_monotonic_ids":
        corpus = corpus.withColumn("doc_id", F.lit(100) - F.col("doc_id"))
    elif case == "zero_token_doc":
        extra = spark.createDataFrame(
            [(12, "r3", "d/0.py", "c12", "py", " !! ", 4)], corpus.schema
        )
        corpus = corpus.union(extra)
    rows = corpus.select("doc_id", "content").collect()
    idx = build_index(spark, corpus, num_segments=3, with_positions=True)
    got = {(r["doc_id"], r["term"]): list(r["positions"])
           for r in idx.positions.collect()}
    assert got == _positions_reference([(r["doc_id"], r["content"]) for r in rows])
    assert idx.stats.num_docs == len(rows)
    if case == "zero_token_doc":
        assert idx.doc_meta.filter("doc_id = 12").first()["doc_len"] == 0
    idx.unpersist()


def test_phrase_without_positions(micro_index):
    from sparktext.query import phrase_docs

    with pytest.raises(ValueError):
        phrase_docs(micro_index, ["apple", "banana"])


def test_term_range(micro_index):
    from sparktext.query import term_range_docs

    # ["banana", "date") covers banana, cherry, date(exclusive)
    rows = {r["doc_id"] for r in term_range_docs(micro_index, "banana", "date").collect()}
    exp = {d for d, t in DOCS.items() if any(w in ("banana", "cherry") for w in t.split())}
    assert rows == exp
    inc = {r["doc_id"] for r in term_range_docs(micro_index, "banana", "date", inclusive=True).collect()}
    exp_inc = {d for d, t in DOCS.items() if any(w in ("banana", "cherry", "date") for w in t.split())}
    assert inc == exp_inc


def test_prefix(micro_index):
    from sparktext.query import prefix_docs

    rows = {r["doc_id"] for r in prefix_docs(micro_index, "gra").collect()}
    assert rows == {d for d, t in DOCS.items() if "grape" in t.split()}
    assert prefix_docs(micro_index, "zz").count() == 0


def test_fuzzy(micro_index):
    from sparktext.query import fuzzy_docs

    # 'aple' -> 'apple' at edit distance 1
    rows = {r["doc_id"] for r in fuzzy_docs(micro_index, "aple", 1).collect()}
    assert rows == {d for d, t in DOCS.items() if "apple" in t.split()}
    # distance 1 from 'date': 'date' only in this vocab
    rows = {r["doc_id"] for r in fuzzy_docs(micro_index, "gate", 1).collect()}
    assert rows == {d for d, t in DOCS.items() if "date" in t.split()}


def test_deletes(spark, micro_index):
    from sparktext.query import matched_docs, parse_query

    apple_docs = {d for d, t in DOCS.items() if "apple" in t.split()}
    victim = min(apple_docs)
    deleted = spark.createDataFrame([(victim,)], "doc_id long")
    idx2 = micro_index.with_deletes(deleted)
    rows = {r["doc_id"] for r in matched_docs(idx2, parse_query("apple")).collect()}
    assert rows == apple_docs - {victim}
    # original index untouched
    rows0 = {r["doc_id"] for r in matched_docs(micro_index, parse_query("apple")).collect()}
    assert rows0 == apple_docs


def test_regex(micro_index):
    from sparktext.query import regex_docs

    # terms matching ^(gr|d).*e$ -> grape, date
    rows = {r["doc_id"] for r in regex_docs(micro_index, "^(gr|d).*e$").collect()}
    exp = {d for d, t in DOCS.items() if {"grape", "date"} & set(t.split())}
    assert rows == exp
    assert regex_docs(micro_index, "^zz.*").count() == 0


def test_expansion_no_driver_collect(micro_index):
    """B7 expansions must not materialize the vocabulary driver-side:
    the plan should contain a broadcast join against the term dict, and
    no isin literal list."""
    from sparktext.query import prefix_docs

    plan = prefix_docs(micro_index, "gra")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_regex_whole_term_anchoring(micro_index):
    """tantivy RegexQuery anchors to the WHOLE term: an unanchored
    pattern must not behave as a substring search."""
    from sparktext.query import regex_docs

    # 'appl' is a substring of 'apple' but matches no whole term
    assert regex_docs(micro_index, "appl").count() == 0
    rows = {r["doc_id"] for r in regex_docs(micro_index, "appl.*").collect()}
    assert rows == {d for d, t in DOCS.items() if "apple" in t.split()}


def _anchor_matches(pos, terms, p0, slop):
    """Exact injective reference: can the later slots be assigned
    DISTINCT positions within their windows (anchor consumes p0)?
    Brute-force backtracking — the oracle for the engine's Hall-condition
    plan."""
    used = {terms[0]: {p0}}

    def bt(slots):
        if not slots:
            return True
        i, t = slots[0]
        for p in pos[t]:
            if p in used.setdefault(t, set()):
                continue
            if abs(p - p0 - i) <= slop:
                used[t].add(p)
                if bt(slots[1:]):
                    return True
                used[t].remove(p)
        return False

    return bt([(i, t) for i, t in enumerate(terms) if i > 0])


def _phrase_slop_expected(phrase, slop):
    terms = phrase.split()
    out = {}
    for d, text in DOCS.items():
        toks = text.split()
        pos = {}
        for i, t in enumerate(toks):
            pos.setdefault(t, []).append(i)
        if any(t not in pos for t in terms):
            continue
        tf = sum(1 for p0 in pos[terms[0]] if _anchor_matches(pos, terms, p0, slop))
        if tf:
            out[d] = tf
    return out


@pytest.mark.parametrize("phrase,slop", [
    ("apple heavy", 1),    # one-gap window ('apple banana heavy')
    ("banana apple", 2),   # transposition costs 2
    ("apple banana", 1),
    ("egg heavy", 1),
    ("cherry unique", 3),  # still no co-window
    # repeated-term phrases: each slot must consume a DISTINCT position
    ("heavy heavy", 1),    # doc 2's [1,2,3] run; NOT single-heavy docs
    ("apple apple", 1),    # only doc 1 ('apple apple')
    ("unique unique", 3),  # doc 8 holds ONE 'unique' -> no match
    ("grape grape grape", 1),  # doc 7: grape at [0,2,3]
])
def test_phrase_slop_matches(pos_index, phrase, slop):
    from sparktext.query import phrase_docs

    rows = {r["doc_id"] for r in phrase_docs(pos_index, phrase.split(), slop=slop).collect()}
    assert rows == set(_phrase_slop_expected(phrase, slop)), (phrase, slop)
    # sanity: the slop window strictly widens the slop=0 match set
    exact = {r["doc_id"] for r in phrase_docs(pos_index, phrase.split()).collect()}
    assert exact <= rows


def test_phrase_slop_zero_equals_exact(pos_index):
    from sparktext.query import phrase_docs

    for phrase in ["apple banana", "grape heavy grape", "heavy heavy"]:
        a = sorted((r["doc_id"], round(r["score"], 9))
                   for r in phrase_docs(pos_index, phrase.split()).collect())
        b = sorted((r["doc_id"], round(r["score"], 9))
                   for r in phrase_docs(pos_index, phrase.split(), slop=0).collect())
        assert a == b, phrase


def test_all_query(spark, micro_index):
    from sparktext.query import all_docs

    rows = {r["doc_id"]: r["score"] for r in all_docs(micro_index).collect()}
    assert set(rows) == set(DOCS)
    assert set(rows.values()) == {1.0}
    # tombstones excluded
    deleted = spark.createDataFrame([(0,), (5,)], "doc_id long")
    idx2 = micro_index.with_deletes(deleted)
    assert {r["doc_id"] for r in all_docs(idx2).collect()} == set(DOCS) - {0, 5}


def test_quoted_phrase_parsing():
    from sparktext.query import parse_query

    q = parse_query('+"grape heavy" -"apple banana" "egg fig"~2 cherry^2')
    assert q.phrases == [
        (["grape", "heavy"], 0, "must"),
        (["apple", "banana"], 0, "must_not"),
        (["egg", "fig"], 2, "should"),
    ]
    assert q.boosts == {"cherry": 2.0}
    assert q.should == ["cherry"]
    # empty quotes are dropped; bare terms still parse around quotes
    assert parse_query('"" apple').phrases == []
    assert parse_query('"" apple').should == ["apple"]


def test_quoted_phrase_boolean_composition(pos_index):
    from sparktext.query import matched_docs, parse_query, phrase_docs

    def docs(qstr):
        return {r["doc_id"] for r in matched_docs(pos_index, parse_query(qstr)).collect()}

    # phrase alone == phrase_docs
    assert docs('"apple banana"') == {
        r["doc_id"] for r in phrase_docs(pos_index, ["apple", "banana"]).collect()
    } == {0, 5, 10}
    # should phrase + should term: union, scores sum
    assert docs('"apple banana" cherry') == {0, 1, 3, 5, 10}
    ph = {r["doc_id"]: r["score"]
          for r in phrase_docs(pos_index, ["apple", "banana"]).collect()}
    ch = {r["doc_id"]: r["score"]
          for r in matched_docs(pos_index, parse_query("cherry")).collect()}
    got = {r["doc_id"]: r["score"]
           for r in matched_docs(pos_index, parse_query('"apple banana" cherry')).collect()}
    for d, s in got.items():
        assert abs(s - (ph.get(d, 0.0) + ch.get(d, 0.0))) < 1e-9, d
    # must phrase restricts; should term only adds score
    assert docs('+"apple banana" cherry') == {0, 5, 10}
    # should phrase with term-level must_not binds globally
    # ("grape heavy" adjacency: docs 6,7,8,9; none contain cherry)
    assert docs('"grape heavy" -cherry') == {6, 7, 8, 9}
    assert docs('"grape heavy" -unique') == {6, 7, 9}
    assert docs('"apple banana" -heavy') == {10}
    # must_not phrase excludes docs matched by terms
    assert docs('apple -"grape heavy"') == {0, 1, 5, 10}
    # sloppy quoted phrase: "banana apple"~2 covers the transposition
    assert docs('"banana apple"~2') >= {0, 10}
    # term-level must binds phrase-matched docs too
    assert docs('+cherry "apple banana"') == {1, 3, 5}
    # missing-term phrase matches nothing; as must -> empty
    assert docs('+"apple zzzmissing" banana') == set()
    assert docs('"apple zzzmissing" banana') == docs("banana")


def test_sloppy_phrase_repeat_cap(pos_index):
    """Hall's-condition subset enumeration is exponential in per-term
    repeats; a crafted query repeating one token many times must be
    refused before any expression building (driver DoS guard)."""
    from sparktext.query import MAX_PHRASE_TERM_REPEATS, phrase_docs

    terms = ["apple"] * (MAX_PHRASE_TERM_REPEATS + 1)
    with pytest.raises(ValueError, match="repeats"):
        phrase_docs(pos_index, terms, slop=2)
    # at the cap itself the matcher still runs (and matches nothing on
    # docs holding fewer than cap occurrences)
    ok = phrase_docs(pos_index, ["apple"] * MAX_PHRASE_TERM_REPEATS, slop=2)
    assert ok.count() == 0
