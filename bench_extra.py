"""Round-6 optimization measurement harness (bench.py stays FROZEN).

Modes (``python bench_extra.py <mode> [args]``):

- ``batch_crossover [n_docs ...]`` — exhaustive vs forced batch block-max
  pruning for the 7-query zipf batch at several corpus sizes; calibrates
  the batch auto-pruning gate (guide §1: measure before tuning a
  threshold). Volume metric = candidate postings x live queries.
- ``qbreak`` — per-phase wall breakdown of the single-query hot path on
  the sf0.1 fixture index (term_stats / plan+collect), noop-sink
  isolated (guide §1.4), to locate the fixed per-query overhead.
- ``plans <out_dir> [suffix]`` — dump ``.explain('formatted')`` for every
  bench-shaped query to ``<out_dir>/<name>_<suffix>.txt`` (the judge's
  plan evidence, plans/r06/).

All modes honour $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

ZIPF_BATCH = {
    "zb0": "alpha", "zb1": "beta", "zb2": "gamma",
    "zb3": "alpha beta", "zb4": "beta gamma",
    "zb5": "alpha beta gamma", "zb6": "alpha^2 gamma",
}


def _spark():
    from sparktext.session import get_spark

    spark = get_spark(app_name="sparktext-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _host_stat():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle, sum(vals)


def _best(fn, reps=REPS):
    b = None
    for _ in range(reps):
        t = time.time()
        fn()
        dt = time.time() - t
        b = dt if b is None else min(b, dt)
    return round(b, 3)


def batch_crossover(sizes):
    spark = _spark()
    from sparktext.build import build_index
    from sparktext.corpus import skewed_impact_corpus
    from sparktext.query import search_many

    for n in sizes:
        idx = build_index(spark, skewed_impact_corpus(spark, n),
                          num_segments=int(CPUS))
        idx.postings.count()
        from sparktext.score import term_stats

        sm = term_stats(idx, ["alpha", "beta", "gamma"])
        cand = sum(sm[t]["doc_freq"] for t in sm)
        b0, t0 = _host_stat()
        ex = _best(lambda: search_many(idx, ZIPF_BATCH, k=10,
                                       exhaustive=True).collect())
        pr = _best(lambda: search_many(idx, ZIPF_BATCH, k=10,
                                       exhaustive=False,
                                       wand_min_postings=0).collect())
        b1, t1 = _host_stat()
        print(json.dumps({
            "n_docs": n, "candidate_postings": cand,
            "n_queries": len(ZIPF_BATCH),
            "volume": cand * len(ZIPF_BATCH),
            "exhaustive_s": ex, "pruned_s": pr,
            "host_busy": round((b1 - b0) / max(1, t1 - t0), 3),
            "cpus": int(CPUS), "reps": REPS,
        }), flush=True)
        idx.unpersist()


def qbreak():
    spark = _spark()
    from sparktext.build import build_index
    from sparktext.corpus import documents_as_corpus
    from sparktext.query import matched_docs, parse_query
    from sparktext.score import term_stats
    from sparktext.topk import top_k

    idx = build_index(spark, documents_as_corpus(spark, SF_DIR),
                      num_segments=int(CPUS))
    idx.postings.count()
    idx.doc_meta.count()
    idx.term_dict.count()  # pre-materialize so rep-1 noise is excluded

    out = {}
    q = parse_query("spark")
    out["t_term_stats"] = _best(lambda: term_stats(idx, q.scored_terms))
    out["t_q_term_collect"] = _best(
        lambda: top_k(matched_docs(idx, q), 10).collect())

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out["t_q_term_noop"] = _best(lambda: noop(top_k(matched_docs(idx, q), 10)))
    qor = parse_query("query window scan")
    out["t_q_or_collect"] = _best(
        lambda: top_k(matched_docs(idx, qor), 10).collect())
    qm = parse_query("+merge +customer")
    out["t_q_must_collect"] = _best(
        lambda: top_k(matched_docs(idx, qm), 10).collect())
    # plain parquet count: session/job fixed-cost floor
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out["t_sentinel"] = _best(lambda: docs.count())
    b, t = _host_stat()
    print(json.dumps(out), flush=True)


def dump_plans(out_dir, suffix):
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    from sparktext.aggs import CountAgg, StatsAgg, agg_search
    from sparktext.ann import cosine_topk
    from sparktext.build import build_index
    from sparktext.corpus import documents_as_corpus, skewed_impact_corpus
    from sparktext.query import matched_docs, parse_query, regex_docs, search_many
    from sparktext.textops import lsh_candidate_pairs, simhash
    from sparktext.topk import top_k

    idx = build_index(spark, documents_as_corpus(spark, SF_DIR),
                      num_segments=int(CPUS))
    idx.postings.count()
    idx.doc_meta.count()

    zn = int(os.environ.get("SPARK_GRAFT_ZIPF_N", "500000"))
    zidx = build_index(spark, skewed_impact_corpus(spark, zn),
                       num_segments=int(CPUS))
    zidx.postings.count()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in
            emb.filter("vec_id = 0").collect()[0]["embedding"]]

    qpath = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tests", "queries.json")
    with open(qpath) as f:
        fixture_queries = {k: v["q"] for k, v in json.load(f).items()}

    def agg_fused_df():
        out = agg_search(
            idx, "spark", k=10,
            metric_aggs=[CountAgg(), StatsAgg("n_chars")],
            bucket_aggs={"by_lang": ("terms", "lang", 5, []),
                         "hist": ("histogram", "n_chars", 100.0, 0.0, [])},
        )
        df = out["hits"]
        out["release"]()
        return df

    targets = {
        "q_term": lambda: top_k(matched_docs(idx, parse_query("spark")), 10),
        "q_or": lambda: top_k(
            matched_docs(idx, parse_query("query window scan")), 10),
        "q_must": lambda: top_k(
            matched_docs(idx, parse_query("+merge +customer")), 10),
        "q_must_not": lambda: top_k(
            matched_docs(idx, parse_query("scan -filter")), 10),
        "q_agg_fused_hits": agg_fused_df,
        "q_regex": lambda: regex_docs(idx, "^s.*n$"),
        "q_batch20": lambda: search_many(idx, fixture_queries, k=10),
        "q_batch_zipf": lambda: search_many(zidx, ZIPF_BATCH, k=10),
        "q_batch_zipf_wand": lambda: search_many(
            zidx, ZIPF_BATCH, k=10, exhaustive=False, wand_min_postings=0),
        "op_minhash_lsh": lambda: lsh_candidate_pairs(docs, hash_fn="xxhash64"),
        "op_simhash": lambda: simhash(docs, hash_fn="xxhash64"),
        "op_ann_cosine": lambda: cosine_topk(emb, qvec, 10),
    }
    for name, fn in targets.items():
        try:
            df = fn()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # pragma: no cover - capture failures loudly
            plan = f"EXPLAIN FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt", flush=True)


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "qbreak"
    if mode == "batch_crossover":
        sizes = [int(a) for a in sys.argv[2:]] or [
            125_000, 250_000, 500_000, 1_000_000]
        batch_crossover(sizes)
    elif mode == "qbreak":
        qbreak()
    elif mode == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        dump_plans(out_dir, suffix)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
