"""The benchmark's workloads and the closed loop that drives them.

One client in one process sends the next op only after the previous one
returned. Each op is timed around the public sparktext calls a user makes
(plan call, then collect), then checked against :mod:`perfbench.oracle`.
With ``trace`` on, the run also reads Spark's counters and ``/proc``
after every op and keeps spans; those reads happen after the op's clock
stops.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict

import pandas as pd

from perfbench import gen
from perfbench.measure import (
    ProcTree, SparkCounters, Spans, median, plan_metrics, storage_mb,
)
from perfbench.oracle import Oracle, compare_facets, compare_topk

K = 10

#: Sizes and op mixes. A cycle string lists one round of op kinds in the
#: order they run (s=search, p=phrase, f=facet, b=batch); its letter
#: counts are the shares. ``warmup`` is the untimed ops per kind run first:
#: the first call of a kind costs 2-3x a warm one, and the second batch
#: still 10-20% more than the third. ``min`` is the fewest samples per kind
#: a timed window takes, whatever its length.
FIXTURE = {"docs": 5000, "cycle": "sfpbsfspss", "batch_size": 20,
           "warmup": {"search": 1, "facet": 1, "phrase": 1, "batch": 2},
           "min": {"search": 2, "facet": 2, "phrase": 1, "batch": 2}}
ZIPF = {"docs": 6000, "cycle": "sfbsfbsfbs", "batch_size": 25,
        "warmup": {"search": 1, "facet": 1, "batch": 2},
        "min": {"search": 2, "facet": 2, "batch": 2}}
INGEST = {"base_docs": 1000, "batch_docs": 250, "searches": 3}

FACET_AGGS = {
    "lang": ("terms", "lang", 5, []),
    "repo": ("terms", "repo", 10, []),
    "hist": ("histogram", "n_chars", 100.0, 0.0, []),
}
COUNT_KEYS = ("jobs", "stages_run", "block_rows_scanned", "py_rows_in",
              "py_bytes_in", "py_rows_out", "shuffle_bytes", "files_read",
              "bytes_read")


class Run:
    """State of one benchmark run: samples, failures, traces."""

    def __init__(self, spark, trace: bool, jvm_pid: int):
        self.spark = spark
        self.trace = trace
        self.spans = Spans(trace)
        self.counters = SparkCounters(spark) if trace else None
        self.tree = ProcTree(jvm_pid)
        self.attempted = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.warm_lat: dict[str, list[float]] = defaultdict(list)
        self.batch_queries = 0
        self.batch_wall = 0.0
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self.counts: dict[str, dict] = {}
        self.block_counts: dict[str, int] = {}
        self.phases: list[tuple[str, float]] = []

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (printed as wall seconds)."""
        self.phases.append((name, time.perf_counter()))

    def fail(self, label: str, reason: str) -> None:
        msg = f"{label}: {reason}"
        self.failures.append(msg)
        print(f"REJECTED {msg}", flush=True)

    # ------------------------------------------------------------ tracing --

    def trace_begin(self, label: str):
        """Start counting an op's jobs and CPU (traced runs only)."""
        if not self.trace:
            return None
        self.counters.begin(label)
        return time.time(), self.tree.cpu_ms()

    def trace_end(self, mark, dfs=()) -> dict:
        """The op's Spark counters, CPU deltas and the plan metrics of the
        DataFrames it collected; {} in untraced runs."""
        if mark is None:
            return {}
        with self.spans.span("trace.read_counters"):
            t0, cpu0 = mark
            out = self.counters.end(t0, time.time())
            cpu1 = self.tree.cpu_ms()
            out["jvm_cpu_ms"] = cpu1["jvm"] - cpu0["jvm"]
            out["pyworker_cpu_ms"] = cpu1["pyworker"] - cpu0["pyworker"]
            for df in dfs:
                for k, v in plan_metrics(df._jdf.queryExecution().executedPlan()).items():
                    out[k] = out.get(k, 0) + v
        return out

    # ---------------------------------------------------------------- ops --

    def op(self, op: gen.Op, index, oracle: Oracle, record: bool,
           prefix: str = "") -> None:
        """Run, time and check one op; ``record`` keeps its samples."""
        from sparktext.aggs import CountAgg, StatsAgg, agg_search, collect_results
        from sparktext.query import matched_docs, parse_query, search_many
        from sparktext.score import term_stats
        from sparktext.topk import top_k

        self.attempted += 1
        label = f"{prefix}{op.kind}#{op.op_id}"
        mark = self.trace_begin(label)
        ts_ms = None
        layer = "aggs" if op.kind == "facet" else "query"
        try:
            with self.spans.span(op.kind, op.op_id):
                t0 = time.perf_counter()
                if op.kind in ("search", "phrase"):
                    q = parse_query(op.query)
                    if self.trace:
                        with self.spans.span("score.term_stats"):
                            term_stats(index, q.scored_terms + q.must_not)
                        ts_ms = (time.perf_counter() - t0) * 1000
                    tp = time.perf_counter()
                    with self.spans.span("query.plan"):
                        if op.kind == "search":
                            matched = matched_docs(index, q, exhaustive=False, k=K)
                        else:
                            matched = matched_docs(index, q)
                        df = top_k(matched, K)
                    tx = time.perf_counter()
                    with self.spans.span("query.exec"):
                        rows = df.collect()
                    dfs = [df]
                elif op.kind == "facet":
                    tp = time.perf_counter()
                    with self.spans.span("aggs.plan"):
                        out = agg_search(index, op.query, k=K,
                                         metric_aggs=[CountAgg(), StatsAgg("n_chars")],
                                         bucket_aggs=FACET_AGGS)
                    tx = time.perf_counter()
                    with self.spans.span("aggs.exec"):
                        rows = collect_results(out)
                    dfs = [v for k, v in out.items() if k != "release"]
                else:
                    tp = time.perf_counter()
                    with self.spans.span("query.plan"):
                        df = search_many(index, op.batch, k=K)
                    tx = time.perf_counter()
                    with self.spans.span("query.exec"):
                        rows = df.collect()
                    dfs = [df]
                t1 = time.perf_counter()
        except Exception as e:  # an op that raises is counted and printed; the loop goes on
            self.trace_end(mark)
            self.fail(label, f"raised {type(e).__name__}: {e}")
            return
        m = self.trace_end(mark, dfs)
        reason = self.check(op, rows, oracle)
        if reason is not None:
            self.fail(label, reason)
        if not record:
            self.warm_lat[op.kind].append(t1 - t0)
            return
        self.lat[op.kind].append(t1 - t0)
        if op.kind == "batch":
            self.batch_queries += len(op.batch)
            self.batch_wall += t1 - t0
        if not self.trace:
            return
        name = f"{layer}.{op.kind}"
        self.layer[f"{name}.plan_ms"].append((tx - tp) * 1000)
        self.layer[f"{name}.exec_ms"].append((t1 - tx) * 1000)
        keys = ("jobs", "stages_run") if op.kind == "facet" else (
            "jobs", "stages_run", "sched_wait_ms", "driver_ms", "task_run_ms",
            "block_rows_scanned", "py_rows_in", "py_bytes_in", "py_time_ms",
            "shuffle_bytes")
        for k in keys:
            self.layer[f"{name}.{k}"].append(m[k])
        for k in ("jvm_cpu_ms", "pyworker_cpu_ms"):
            self.layer[f"proc.{op.kind}.{k}"].append(m[k])
        if op.kind == "facet":
            self.layer["aggs.facet.matched_rows"].append(rows["metrics"][0]["count"])
        if ts_ms is not None and op.kind == "search":
            self.layer["score.term_stats_ms"].append(ts_ms)
        if op.kind in ("search", "batch") and self.block_counts:
            blocks = sum(self.block_counts.get(t, 0) for t in op_terms(op))
            if blocks:
                self.layer[f"score.{op.kind}.blocks_decoded_frac"].append(m["py_rows_in"] / blocks)
        self.counts[label] = {k: m.get(k, 0) for k in COUNT_KEYS}

    def check(self, op: gen.Op, rows, oracle: Oracle) -> str | None:
        if op.kind in ("search", "phrase"):
            ids, scores = oracle.evaluate(op.query)
            return compare_topk([(r["doc_id"], r["score"]) for r in rows], ids, scores, K)
        if op.kind == "facet":
            ids, scores = oracle.evaluate(op.query)
            hits = [(r["doc_id"], r["score"]) for r in rows["hits"]]
            return (compare_topk(hits, ids, scores, K)
                    or compare_facets(rows, oracle.facets(op.query)))
        per_q: dict[str, list] = defaultdict(list)
        for r in rows:
            per_q[r["query_id"]].append((r["doc_id"], r["score"]))
        unknown = set(per_q) - set(op.batch)
        if unknown:
            return f"rows for unknown query ids {sorted(unknown)[:3]}"
        for qid, qs in op.batch.items():
            got = sorted(per_q.get(qid, []), key=lambda ds: (-ds[1], ds[0]))
            ids, scores = oracle.evaluate(qs)
            reason = compare_topk(got, ids, scores, K)
            if reason is not None:
                return f"query {qid} {qs!r}: {reason}"
        return None

    # -------------------------------------------------------------- build --

    def build(self, corpus: gen.Corpus, with_positions: bool):
        from sparktext.build import build_index

        cdf = self.spark.createDataFrame(corpus.docs)
        mark = self.trace_begin("build")
        with self.spans.span("build"):
            t0 = time.perf_counter()
            index = build_index(self.spark, cdf, with_positions=with_positions)
            index.postings.count()
            index.doc_meta.count()
            index.term_dict.count()
            wall = time.perf_counter() - t0
        m = self.trace_end(mark)
        self.values["build_docs_per_s"] = len(corpus.docs) / wall
        if self.trace:
            self.values.update({
                "build.wall_s": wall,
                "build.jobs": m["jobs"],
                "build.stages_run": m["stages_run"],
                "build.task_run_s": m["task_run_ms"] / 1000,
                "build.task_cpu_s": m["task_cpu_ms"] / 1000,
                "build.pyworker_cpu_s": m["pyworker_cpu_ms"] / 1000,
                "build.cache_mb": storage_mb(self.spark),
                "proc.build.jvm_cpu_ms": m["jvm_cpu_ms"],
                "proc.build.pyworker_cpu_ms": m["pyworker_cpu_ms"],
            })
            self.counts["build"] = {"jobs": m["jobs"], "stages_run": m["stages_run"]}
            with self.spans.span("trace.block_counts"):
                self.block_counts = {
                    r["term"]: r["count"]
                    for r in index.postings.groupBy("term").count().collect()
                }
        return index

    # ---------------------------------------------------------- the loop --

    def closed_loop(self, index, oracle: Oracle, corpus: gen.Corpus, seed: int,
                    spec: dict, stream: str, seconds: float) -> None:
        """Untimed full-size warm-up ops (``spec["warmup"]`` per kind),
        then the timed loop for ``seconds`` of wall time and until every
        kind has run its ``min`` ops."""
        left = dict(spec["warmup"])
        for op in gen.op_stream(corpus, seed, f"{stream}.warmup", spec["cycle"],
                                spec["batch_size"]):
            if not any(left.values()):
                break
            if left[op.kind]:
                left[op.kind] -= 1
                self.op(op, index, oracle, record=False, prefix="warmup.")
        self.phase("warmup")
        ops = gen.op_stream(corpus, seed, stream, spec["cycle"], spec["batch_size"])
        t_end = time.perf_counter() + seconds
        ran: dict[str, int] = defaultdict(int)
        for op in ops:
            if time.perf_counter() >= t_end and all(
                    ran[k] >= n for k, n in spec["min"].items()):
                break
            self.op(op, index, oracle, record=True)
            ran[op.kind] += 1
        self.phase("window")

    # ------------------------------------------------------ kernel rates --

    def kernel_rates(self, corpus: gen.Corpus, oracle: Oracle, index, seed: int) -> None:
        """Driver-side rates of the tokenizer and codec kernels."""
        from sparktext import codec
        from sparktext.fieldnorm import fieldnorm_to_id
        from sparktext.tokenizer import tokenize_flat_arrow

        rng = gen.rng_for(seed, "kernels")
        texts = corpus.docs["content"].to_numpy()
        sample = pd.Series(texts[rng.integers(0, len(texts), size=10000)])
        with self.spans.span("tokenizer.tokenize_flat_arrow"):
            n_tok, t = _median_time(3, lambda: len(tokenize_flat_arrow(sample)[0]))
        self.values["tokenizer.tokens_per_s"] = n_tok / t

        lists = [(d, tf, fieldnorm_to_id(ln)) for d, tf, ln in oracle.posting_lists(1000)]
        n_post = sum(len(d) for d, _, _ in lists)
        with self.spans.span("codec.encode_blocks"):
            _, t = _median_time(3, lambda: [codec.encode_blocks(*a) for a in lists])
        self.values["codec.encode_postings_per_s"] = n_post / t

        cols = ["segment_id", "term", "count", "first_doc", "doc_bits",
                "doc_bytes", "tf_bytes", "norm_bytes"]
        with self.spans.span("trace.sample_blocks"):
            blocks = (index.postings.select(*cols)
                      .sample(False, min(1.0, 4000 / max(1, sum(self.block_counts.values()))),
                              seed=seed)
                      .toPandas())
        with self.spans.span("codec.decode_blocks_pdf"):
            n_dec, t = _median_time(3, lambda: len(codec.decode_blocks_pdf(blocks)))
        self.values["codec.decode_postings_per_s"] = n_dec / t


def _median_time(reps: int, fn):
    """(result, median seconds) of ``reps`` calls."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, median(times)


def op_terms(op: gen.Op) -> set[str]:
    """Terms whose postings the op decodes (scored and excluded)."""
    qs = [op.query] if op.batch is None else list(op.batch.values())
    return {w.lstrip("+-") for q in qs for w in q.split()}


# -------------------------------------------------------------- workloads --


def fixture_serve(run: Run, seed: int, seconds: float, work: str) -> dict:
    corpus = gen.fixture_corpus(seed, FIXTURE["docs"])
    oracle = Oracle(corpus.docs)
    check_tokenization(corpus, seed)
    run.phase("inputs")
    index = run.build(corpus, with_positions=True)
    run.phase("build")
    run.closed_loop(index, oracle, corpus, seed, FIXTURE, "fixture.ops", seconds)
    if run.trace:
        run.kernel_rates(corpus, oracle, index, seed)
    index.unpersist()
    return {"corpus": corpus.sizes, "mix": FIXTURE}


def zipf_bulk(run: Run, seed: int, seconds: float, work: str) -> dict:
    corpus = gen.zipf_corpus(seed, ZIPF["docs"])
    oracle = Oracle(corpus.docs)
    check_tokenization(corpus, seed)
    run.phase("inputs")
    index = run.build(corpus, with_positions=False)
    run.phase("build")
    run.closed_loop(index, oracle, corpus, seed, ZIPF, "zipf.ops", seconds)
    sizes = {"corpus": corpus.sizes, "mix": ZIPF}
    if run.trace:
        run.kernel_rates(corpus, oracle, index, seed)
    index.unpersist()
    if run.trace:
        sizes["ingest"] = ingest(run, seed, os.path.join(work, "ingest"))
        run.phase("ingest")
    return sizes


def ingest(run: Run, seed: int, index_dir: str) -> dict:
    """The persisted write path: build a base index, append one batch
    carrying a marker word unique to it, load, then probe and search."""
    from sparktext.manifest import append_documents, build_persistent_index, load_index
    from sparktext.query import matched_docs, parse_query
    from sparktext.topk import top_k

    spark = run.spark
    n0, nb = INGEST["base_docs"], INGEST["batch_docs"]
    base = gen.zipf_corpus(seed, n0, stream="ingest.base")
    marker = gen.marker_word(seed, 0)
    batch = gen.zipf_corpus(seed, nb, stream="ingest.batch0", markers=[marker])
    check_tokenization(batch, seed)

    mark = run.trace_begin("manifest.build")
    with run.spans.span("manifest.build"):
        t0 = time.perf_counter()
        build_persistent_index(spark, spark.createDataFrame(base.docs), index_dir, num_groups=1)
        run.values["manifest.build.wall_s"] = time.perf_counter() - t0
    run.values["manifest.build.jobs"] = run.trace_end(mark)["jobs"]

    before = _snapshot(index_dir)
    batch_df = spark.createDataFrame(batch.docs)
    mark = run.trace_begin("manifest.append")
    with run.spans.span("manifest.append"):
        t0 = time.perf_counter()
        append_documents(spark, index_dir, batch_df)
        call_s = time.perf_counter() - t0
    m = run.trace_end(mark)
    with run.spans.span("manifest.load"):
        t0 = time.perf_counter()
        index = load_index(spark, index_dir)
        load_s = time.perf_counter() - t0
    after = _snapshot(index_dir)
    written = [p for p, st in after.items() if before.get(p) != st]
    size = sum(st[0] for st in after.values())
    run.values.update({
        "manifest.append.call_s": call_s,
        "manifest.append.load_s": load_s,
        "manifest.append.searchable_s": call_s + load_s,
        "manifest.append.jobs": m["jobs"],
        "manifest.append.task_run_s": m["task_run_ms"] / 1000,
        "manifest.append.bytes_written": sum(after[p][0] for p in written),
        "manifest.append.files_added": len(set(after) - set(before)),
        "manifest.files_total": len(after),
        "manifest.index_bytes_per_content_byte": size / (base.content_bytes + batch.content_bytes),
    })
    run.counts["manifest.append"] = {
        "jobs": m["jobs"], "files_added": run.values["manifest.append.files_added"]}

    shifted = batch.docs.assign(doc_id=batch.docs["doc_id"] + n0)
    union = gen.Corpus(pd.concat([base.docs, shifted], ignore_index=True))
    oracle = Oracle(union.docs)
    run.attempted += 1
    try:
        with run.spans.span("ingest.marker_probe"):
            rows = top_k(matched_docs(index, parse_query(marker)), nb).collect()
    except Exception as e:  # counted and printed like a loop op
        run.fail("ingest.marker_probe", f"raised {type(e).__name__}: {e}")
        rows = None
    if rows is not None:
        got = {r["doc_id"] for r in rows}
        want = set(shifted["doc_id"].tolist())
        reason = None if got == want else f"marker probe returned {len(got & want)}/{nb} batch docs"
        ids, scores = oracle.evaluate(marker)
        reason = reason or compare_topk([(r["doc_id"], r["score"]) for r in rows], ids, scores, nb)
        if reason is not None:
            run.fail("ingest.marker_probe", reason)

    files_read, bytes_read = [], []
    for op in gen.op_stream(union, seed, "ingest.ops", "s", 0):
        if op.op_id >= INGEST["searches"]:
            break
        label = f"ingest.search#{op.op_id}"
        run.attempted += 1
        mark = run.trace_begin(label)
        try:
            df = top_k(matched_docs(index, parse_query(op.query), exhaustive=False, k=K), K)
            with run.spans.span("ingest.search", op.op_id):
                rows = df.collect()
        except Exception as e:  # counted and printed like a loop op
            run.trace_end(mark)
            run.fail(label, f"raised {type(e).__name__}: {e}")
            continue
        pm = run.trace_end(mark, [df])
        files_read.append(pm["files_read"])
        bytes_read.append(pm["bytes_read"])
        reason = run.check(op, rows, oracle)
        if reason is not None:
            run.fail(label, reason)
    run.values["query.search.files_read"] = median(files_read)
    run.values["query.search.bytes_read"] = median(bytes_read)
    shutil.rmtree(index_dir, ignore_errors=True)
    return {"base_docs": n0, "batch_docs": nb, "marker": marker,
            "searches": INGEST["searches"]}


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime) of every file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def check_tokenization(corpus: gen.Corpus, seed: int, n: int = 200) -> None:
    """The oracle tokenizes with ``str.split``; that is only valid while
    the engine's tokenizer agrees on the generated text."""
    from sparktext.tokenizer import tokenize_text

    texts = corpus.docs["content"].to_numpy()
    rng = gen.rng_for(seed, "tokenization-check")
    for i in rng.integers(0, len(texts), size=min(n, len(texts))):
        if tokenize_text(texts[i]) != texts[i].split():
            raise AssertionError(f"engine tokenization differs from split() on doc {i}")


WORKLOADS = {"fixture-serve": fixture_serve, "zipf-bulk": zipf_bulk}

