"""Round-2 hardening: codec input validation, LSH mega-bucket cap,
agg_search WAND guard, per-query cache hygiene."""

import numpy as np
import pytest


def test_encode_blocks_rejects_unsorted_and_duplicate_ids():
    from sparktext.codec import encode_blocks

    norm = np.zeros(3, dtype=np.uint8)
    with pytest.raises(ValueError, match="strictly increasing"):
        encode_blocks(np.array([1, 3, 2]), np.array([1, 1, 1]), norm)
    with pytest.raises(ValueError, match="strictly increasing"):
        encode_blocks(np.array([1, 2, 2]), np.array([1, 1, 1]), norm)
    # valid input still encodes
    rows = encode_blocks(np.array([1, 2, 5]), np.array([1, 2, 1]), norm)
    assert rows[0]["count"] == 3


def test_lsh_mega_bucket_cap(spark):
    """1k identical docs = one mega band-bucket (499,500 pairs quadratic).
    With the cap the bucket is dropped (exact-dedup's job) and the job
    stays linear; distinct docs below the cap still pair up."""
    from sparktext.textops import lsh_candidate_pairs

    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(1000)]
    rows += [(2000, "unique words here repeated words here"),
             (2001, "unique words here repeated words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs(docs, max_bucket=50)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(2000, 2001)}
    # uncapped keeps the identical docs (sanity that the cap did the work)
    some = lsh_candidate_pairs(
        docs.filter("doc_id < 3 or doc_id >= 2000")
    ).count()
    assert some == 4  # C(3,2) identical + 1 distinct pair


def test_agg_search_rejects_wand_with_aggs(micro_index):
    from sparktext.aggs import CountAgg, agg_search

    with pytest.raises(ValueError, match="hits-only"):
        agg_search(micro_index, "heavy", k=3, exhaustive=False,
                   metric_aggs=[CountAgg()])
    with pytest.raises(ValueError, match="hits-only"):
        agg_search(micro_index, "heavy", k=3, exhaustive=False,
                   post_filter="lang = 'py'")
    # hits-only WAND is fine
    out = agg_search(micro_index, "heavy apple", k=3, exhaustive=False)
    assert out["hits"].count() == 3
    out["release"]()


def test_no_cache_growth_over_query_loop(spark, micro_index, micro_corpus):
    """Storage must not grow across repeated queries: WAND path holds no
    persist, agg_search releases its matched set, and a phrase-carrying
    batch caches nothing (each round quotes a different phrase, so a
    per-call persist could not hide behind an already-cached plan)."""
    from sparktext.aggs import CountAgg, agg_search
    from sparktext.build import build_index
    from sparktext.query import matched_docs, parse_query, search_many
    from sparktext.topk import top_k

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    pos_index = build_index(spark, micro_corpus, num_segments=2, with_positions=True)
    phrases = ["apple banana", "banana heavy", "heavy cherry", "date egg",
               "egg fig", "fig grape"]

    def one_round(phrase):
        out = agg_search(micro_index, "heavy", k=3, metric_aggs=[CountAgg()])
        out["metrics"].collect()
        out["hits"].collect()
        out["release"]()
        top_k(matched_docs(micro_index, parse_query("heavy apple"),
                           exhaustive=False, k=3), 3).collect()
        search_many(pos_index, {"p": f'"{phrase}" heavy',
                                "q": f'+grape -"{phrase}"',
                                "r": "heavy"}, k=3).collect()

    try:
        # warm once (index tables themselves are intentionally persisted)
        one_round(phrases[0])
        base = n_cached()
        for phrase in phrases[1:]:
            one_round(phrase)
        assert n_cached() <= base
    finally:
        pos_index.unpersist()


def test_unpersist_releases_build_caches(spark, micro_corpus):
    """Index.unpersist() releases every cache build_index made, the
    build intermediates included (the fused build output; the positions
    path's corpus and token rows), on both build paths."""
    from sparktext.build import build_index
    from sparktext.query import matched_docs, parse_query

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # a corpus plan of its own: releasing a cache can also drop other
    # session caches built over the same plan (other micro indexes)
    corpus = micro_corpus.filter("doc_id < 11")
    for with_positions in (False, True):
        before = n_cached()
        idx = build_index(spark, corpus, num_segments=2,
                          with_positions=with_positions)
        matched_docs(idx, parse_query('+heavy apple -date')).collect()
        idx.doc_meta.count()
        idx.block_headers().count()
        if with_positions:
            idx.positions.count()
        idx.unpersist()
        assert n_cached() == before, with_positions


def test_training_data_pipeline(spark):
    from sparktext.textops import training_data_pipeline

    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs far away"),
        (1, "the quick brown fox jumps over the lazy dog and runs far away"),  # exact dup of 0
        (2, "z z z z z"),                                                      # low quality
        (3, "a completely different document about spark query engines and "
            "the many joys of distributed aggregation pipelines in the lake"),
        (4, "the quick brown fox jumps over the lazy dog and runs far off"),   # near-dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = training_data_pipeline(docs, min_quality=0.3)
    ids = sorted(r["doc_id"] for r in out.collect())
    # 1 (exact dup) gone, 2 (quality) gone, 4 (near-dup, larger id) gone
    assert ids == [0, 3]
    assert "quality" in out.columns


def test_minhash_xxhash64_recall_matches_sha(spark):
    """The xxhash64 production path must recall every true near-dup pair
    the sha256 oracle path recalls: ground truth = all pairs with exact
    shingle-Jaccard >= 0.5 on the sf0.001 fixture corpus (brute-forced in
    the test; 500 docs). Both hash families are independent MinHash
    implementations, so candidate SUPERSETS may differ — recall of real
    pairs is the contract."""
    from pyspark.sql import functions as F

    from sparktext.textops import lsh_candidate_pairs, shingles_col, tokens_col

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = docs.select("doc_id", shingles_col(tokens_col(F.col("text"))).alias("sh"))
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in (
            sh.toDF("doc_a", "sh_a").crossJoin(sh.toDF("doc_b", "sh_b"))
            .filter("doc_a < doc_b")
            .withColumn(
                "j",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .filter("j >= 0.5")
            .collect()
        )
    }
    assert truth  # the fixture seeds near-dups; an empty truth set would vacuous-pass
    sha = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()}
    xxh = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(docs, hash_fn="xxhash64").collect()
    }
    assert truth <= sha
    assert truth <= xxh
    # deterministic: xxhash64 is seed-fixed, not process-salted
    xxh2 = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(docs, hash_fn="xxhash64").collect()
    }
    assert xxh == xxh2


def test_minhash_production_params(spark):
    """The 128-perm / 16-band production parameterization runs end-to-end
    on the xxhash64 path and still recalls the seeded near-dups. With
    rows-per-band=8, P[candidate] = 1-(1-j^8)^16 — near-certain for
    j>=0.9, so the fixture's highest-similarity pairs must all surface."""
    from pyspark.sql import functions as F

    from sparktext.textops import (
        PRODUCTION_MINHASH_BANDS, PRODUCTION_MINHASH_H,
        lsh_candidate_pairs, shingles_col, tokens_col,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = docs.select("doc_id", shingles_col(tokens_col(F.col("text"))).alias("sh"))
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in (
            sh.toDF("doc_a", "sh_a").crossJoin(sh.toDF("doc_b", "sh_b"))
            .filter("doc_a < doc_b")
            .withColumn(
                "j",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .filter("j >= 0.9")
            .collect()
        )
    }
    assert truth
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(
            docs, h=PRODUCTION_MINHASH_H, bands=PRODUCTION_MINHASH_BANDS,
            hash_fn="xxhash64", max_bucket=1000,
        ).collect()
    }
    assert truth <= pairs
