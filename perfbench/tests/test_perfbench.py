from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from perfbench import gen
from perfbench.measure import Spans, plan_metrics, tail
from perfbench.oracle import Oracle, compare_facets, compare_topk


def _ops(corpus, seed, n=30):
    return list(itertools.islice(gen.op_stream(corpus, seed, "t.ops", "spsfb", 4), n))


def test_generator_is_deterministic_per_seed():
    a, b = gen.fixture_corpus(3, 400), gen.fixture_corpus(3, 400)
    pd.testing.assert_frame_equal(a.docs, b.docs)
    assert not a.docs["content"].equals(gen.fixture_corpus(4, 400).docs["content"])
    z1, z2 = gen.zipf_corpus(3, 300, vocab_size=2000), gen.zipf_corpus(3, 300, vocab_size=2000)
    pd.testing.assert_frame_equal(z1.docs, z2.docs)
    assert _ops(z1, 5) == _ops(z2, 5)
    assert _ops(z1, 5) != _ops(z1, 6)
    assert gen.marker_word(3, 0) == gen.marker_word(3, 0) != gen.marker_word(3, 1)


def test_generated_words_tokenize_like_split():
    from sparktext.tokenizer import tokenize_text

    z = gen.zipf_corpus(7, 200, vocab_size=2000, markers=[gen.marker_word(7, 0)])
    f = gen.fixture_corpus(7, 200)
    for text in pd.concat([z.docs["content"], f.docs["content"]]):
        words = text.split()
        assert all(w.isascii() and w.isalpha() and w.islower() and len(w) < 40 for w in words)
        assert tokenize_text(text) == words


def test_op_stream_keeps_the_cycle_shares():
    ops = _ops(gen.fixture_corpus(1, 300), 1, 50)
    kinds = [o.kind for o in ops]
    assert kinds[:5] == ["search", "phrase", "search", "facet", "batch"]
    assert kinds.count("search") == 20 and kinds.count("batch") == 10
    assert all(len(o.batch) == 4 for o in ops if o.kind == "batch")


@pytest.mark.parametrize("n,want", [
    (19, (100.0, 19, 0)), (20, (50.0, 10, 10)), (39, (50.0, 20, 19)),
    (40, (75.0, 30, 10)), (100, (90.0, 90, 10)), (1000, (99.0, 990, 10)),
    (10000, (99.9, 9990, 10)),
])
def test_tail_picks_highest_percentile_with_ten_beyond(n, want):
    vals = list(range(n, 0, -1))  # order must not matter
    assert tail([float(v) for v in vals]) == want


def test_compare_topk_accepts_straddling_ties_and_rejects_errors():
    ids = np.array([1, 2, 3, 4, 5])
    scores = np.array([3.0, 2.0, 2.0, 2.0, 1.0])
    assert compare_topk([(1, 3.0), (3, 2.0)], ids, scores, 2) is None  # tie at rank 2 as a set
    assert compare_topk([(1, 3.0), (2, 2.0)], ids, scores, 2) is None
    assert compare_topk([(1, 3.0), (5, 1.0)], ids, scores, 2) is not None
    assert compare_topk([(1, 3.1), (2, 2.0)], ids, scores, 2) is not None
    assert compare_topk([(2, 2.0), (1, 3.0)], ids, scores, 2) is not None
    assert compare_topk([(1, 3.0)], ids, scores, 2) is not None
    assert compare_topk([], ids[:0], scores[:0], 10) is None


def test_span_self_time_subtracts_children():
    s = Spans(True)
    with s.span("op", 1):
        with s.span("child"):
            pass
    st = s.self_times()
    r = s.rows
    assert r[1]["parent"] == 0 and r[1]["op"] == 1
    assert st["op"] == pytest.approx((r[0]["end"] - r[0]["start"]) - (r[1]["end"] - r[1]["start"]))


@pytest.fixture(scope="module")
def micro(spark):
    from tests.conftest import MICRO_DOCS, MICRO_SCHEMA
    from sparktext.build import build_index

    docs = pd.DataFrame(MICRO_DOCS, columns=["doc_id", "repo", "path", "commit",
                                             "lang", "content", "n_chars"])
    index = build_index(spark, spark.createDataFrame(MICRO_DOCS, MICRO_SCHEMA),
                        num_segments=3, with_positions=True)
    yield index, Oracle(docs)
    index.unpersist()


@pytest.mark.parametrize("q", [
    "heavy", "apple banana", "+apple banana", "banana heavy -cherry", "unique",
    "+grape +heavy", "nothere", "+nothere apple", '"apple banana"', '"heavy heavy"',
    '"grape heavy"',
])
def test_oracle_agrees_with_engine_on_micro_corpus(micro, q):
    from sparktext.query import matched_docs, parse_query
    from sparktext.topk import top_k

    index, oracle = micro
    for k in (3, 12):
        rows = top_k(matched_docs(index, parse_query(q)), k).collect()
        ids, scores = oracle.evaluate(q)
        assert compare_topk([(r["doc_id"], r["score"]) for r in rows], ids, scores, k) is None


@pytest.mark.parametrize("q", ["heavy", "apple -date", "+egg fig"])
def test_oracle_facets_agree_with_engine_on_micro_corpus(micro, q):
    from perfbench.workloads import FACET_AGGS
    from sparktext.aggs import CountAgg, StatsAgg, agg_search, collect_results

    index, oracle = micro
    res = collect_results(agg_search(index, q, k=5, metric_aggs=[CountAgg(), StatsAgg("n_chars")],
                                     bucket_aggs=FACET_AGGS))
    assert compare_facets(res, oracle.facets(q)) is None


def test_plan_metric_reader_unwraps_aqe(spark):
    from pyspark.sql import functions as F

    df = (spark.range(1000, numPartitions=2).withColumn("g", F.col("id") % 7)
          .mapInPandas(lambda it: it, "id long, g long")
          .groupBy("g").count())
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    m = plan_metrics(plan)
    assert m["mapinpandas_nodes"] == 1 and m["exchange_nodes"] == 1
    assert m["py_rows_in"] == 1000 and m["py_bytes_in"] > 0
    assert m["shuffle_bytes"] > 0
