"""BM25 scoring (B8) and block-max WAND pruning (B10).

BM25 exactly as tantivy's public formula (k1=1.2, b=0.75):

    idf(t)       = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d, t)  = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

where ``dl`` is the DECODED QUANTIZED fieldnorm (sparktext.fieldnorm §4.5)
and ``avgdl`` the exact corpus mean token count. The score is a pure
column expression over decoded postings — whole-stage-codegen'd, no UDF.

Block-max WAND here is a *data-parallel two-phase* reformulation of
tantivy's document-at-a-time algorithm (no Catalyst equivalent, §4.3),
in ONE pruner, :func:`wand_blocks_for_batch`; a single query is a batch
of one:

- every block row carries (max_tf, min_norm_id); its score upper bound is
  the BM25 formula evaluated at tf=max_tf, dl=decode(min_norm_id) — BM25
  is increasing in tf and decreasing in dl, so this bounds any doc in it;
- phase 1 fetches only the few highest-bound blocks per term, decodes
  them on the driver and scores them exactly; per query, the k-th best
  *partial* score is a valid lower bound θ of its final k-th best score;
- phase 2 keeps block B of term t in segment s iff
  ub(B) + Σ_{t'≠t} max_ub(t', s) >= θ for some query. The "other terms"
  bound is PER-SEGMENT (a doc's postings live in exactly one segment, so
  only same-segment blocks of other terms can contribute to its score)
  — far tighter than a global per-term bound when impact is clustered by
  doc range, which is exactly the layout block-max WAND exploits.

Correctness: if B is pruned, every doc d in B has true score
<= ub(B) + Σ_{t'≠t} max_ub(t', seg(d)) < θ <= k-th best; so no true
top-k member ever loses a block (contradiction: its total would be < θ),
and a pruned doc's underestimated score stays strictly below every true
top-k score. Results are therefore identical to exhaustive scoring
(asserted in tests/test_wand.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparktext.fieldnorm import FIELDNORM_TABLE

K1 = 1.2
B = 0.75


def idf(num_docs: int, doc_freq: int) -> float:
    return math.log(1.0 + (num_docs - doc_freq + 0.5) / (doc_freq + 0.5))


def term_stats(index, terms: list[str]) -> dict[str, dict]:
    """Driver-side lookup of per-term statistics from the term dictionary.

    The term_dict is tiny relative to the corpus (vocabulary-sized); a
    filtered collect of <= len(terms) rows is the broadcast-dictionary
    pattern of BASELINE.json north_star ("document-frequency/length
    statistics carried in a broadcast term dictionary").

    Looked-up stats are MEMOIZED per Index instance (``Index._tstats``,
    including negative entries for absent terms): the per-query collect
    job (~0.35 s at local[32] — measured round 6) is paid once per
    distinct term, not once per query. This is the in-memory term
    dictionary every engine keeps, not result caching: stats depend only
    on the immutable postings of this Index instance.
    """
    uniq = sorted(set(t for t in terms if t))
    if not uniq:
        return {}
    cache = getattr(index, "_tstats", None)
    if cache is None:
        cache = {}
    missing = [t for t in uniq if t not in cache]
    if missing:
        rows = index.term_dict.filter(F.col("term").isin(missing)).collect()
        n = index.stats.num_docs
        for r in rows:
            cache[r["term"]] = {
                "doc_freq": r["doc_freq"],
                "total_tf": r["total_tf"],
                "term_bucket": r["term_bucket"],
                "idf": idf(n, r["doc_freq"]),
            }
        for t in missing:
            cache.setdefault(t, None)  # negative entry: term not in dict
    return {t: cache[t] for t in uniq if cache.get(t) is not None}


def _decoded_norm_col(norm_id_col: Column) -> Column:
    """norm_id -> quantized doc length via a 256-literal array lookup
    (stays inside whole-stage codegen; no UDF)."""
    table = F.array(*[F.lit(int(v)) for v in FIELDNORM_TABLE])
    return F.element_at(table, norm_id_col.cast("int") + 1).cast("double")


def _idf_map_col(stats_map: dict[str, dict], term_col: Column) -> Column:
    pairs = []
    for t, s in stats_map.items():
        pairs.extend([F.lit(t), F.lit(float(s["idf"]))])
    return F.element_at(F.create_map(*pairs), term_col)


def bm25_score_col(index, stats_map, term_col, tf_col, norm_id_col) -> Column:
    """The B8 score as a single column expression."""
    avgdl = float(index.stats.avg_len)
    dl = _decoded_norm_col(norm_id_col)
    tf = tf_col.cast("double")
    idf_c = _idf_map_col(stats_map, term_col)
    return idf_c * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / F.lit(avgdl)))


def block_ub_col(index, stats_map) -> Column:
    """Per-block score upper bound from (max_tf, min_norm_id)."""
    avgdl = float(index.stats.avg_len)
    dl = _decoded_norm_col(F.col("min_norm_id"))
    tf = F.col("max_tf").cast("double")
    idf_c = _idf_map_col(stats_map, F.col("term"))
    return idf_c * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / F.lit(avgdl)))


#: Literal threshold gate: the per-(term, segment) survivor thresholds
#: are inlined as literal map lookups when there are at most this many
#: (segments x query terms — a query-sized lookup, same class as the
#: term_stats collect), which keeps the survivor subtree free of extra
#: exchanges. Beyond it, a broadcast join carries them.
WAND_DRIVER_BOUNDS_MAX = 4096


def _boost_mult_col(boosts: dict[str, float], term_col: Column) -> Column:
    """Per-term positive boost multiplier as a literal map (1.0 default)."""
    pairs = []
    for t, b in boosts.items():
        if b != 1.0:
            pairs.extend([F.lit(t), F.lit(float(b))])
    if not pairs:
        return F.lit(1.0)
    return F.coalesce(F.element_at(F.create_map(*pairs), term_col), F.lit(1.0))


def _seed_key_cond(hdr: DataFrame, k: int):
    """Literal filter selecting the few highest-ub blocks per term.

    The keys are tiny (seeds_per_term x |terms| rows, collected from the
    header mini-cache) so an isin over a fused key string beats a
    broadcast join by one whole exchange materialization.
    """
    seeds_per_term = max(1, math.ceil(k / 128)) + 1
    w = Window.partitionBy("term").orderBy(
        F.desc("_ub"), F.asc("segment_id"), F.asc("block_id")
    )
    seed_rows = (
        hdr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= seeds_per_term)
        .select("segment_id", "term", "block_id")
        .collect()
    )
    keys = [f"{r['segment_id']}|{r['term']}|{r['block_id']}" for r in seed_rows]
    return F.concat_ws(
        "|", F.col("segment_id"), F.col("term"), F.col("block_id")
    ).isin(keys)


def _theta_from_decoded(index, stats_map, boosts, dec, k: int) -> float:
    """θ from an already-decoded seed posting frame (columns term,
    doc_id, tf, norm_id): the k-th best per-doc partial sum, scored with
    the same BM25 formula in numpy. 0 when fewer than k seed docs —
    prune nothing. Called once per query over ONE shared decode (sliced
    to the query's terms by the caller)."""
    import numpy as np
    import pandas as pd

    if len(dec) == 0:
        return 0.0
    idf_map = {t: s["idf"] * boosts.get(t, 1.0) for t, s in stats_map.items()}
    idf = dec["term"].map(idf_map).to_numpy(dtype=np.float64)
    tf = dec["tf"].to_numpy(dtype=np.float64)
    dl = np.asarray(FIELDNORM_TABLE, dtype=np.float64)[
        dec["norm_id"].to_numpy(dtype=np.int64)
    ]
    avgdl = float(index.stats.avg_len)
    part = idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    sums = pd.Series(part).groupby(dec["doc_id"].to_numpy()).sum()
    if len(sums) < k:
        return 0.0
    theta = float(np.sort(sums.to_numpy())[-k])
    # Relative slack: numpy/pandas accumulate in a different order than
    # the JVM expression tree, so θ can land a few ulps ABOVE the exact
    # JVM score of a tied doc — and '>= θ' would then prune blocks of
    # docs the exhaustive plan returns. θ only needs to be a LOWER
    # bound; 1e-9 relative covers any last-ulp ordering difference at
    # the cost of keeping a vanishing sliver of extra blocks.
    return theta - max(abs(theta) * 1e-9, 1e-12)


#: Batch bound-table cap: the batch pruning path collects per-(segment,
#: term) max-ub rows for the union of pure-should batch terms. Beyond
#: this many rows the driver-side threshold fold (and either survivor
#: plan) stops being query-sized — fall back to the exhaustive batch.
WAND_BATCH_BOUNDS_MAX = 65536

#: One-collect header fast path (round 6): when the batch terms' block
#: HEADERS fit under this many rows (~rows x 40 B = 10 MB driver-side,
#: = cap x 128 ≈ 33M candidate postings), ONE collect of (segment, term,
#: block_id, ub) replaces the separate bounds-groupBy collect and the
#: seed-key window collect — one driver job instead of two in the batch
#: pruning fixed cost. Larger geometries keep the two-job distributed
#: path.
WAND_HEADER_ROWS_MAX = 262144


def wand_blocks_for_batch(
    index,
    live: dict,
    k: int,
    stats_map: dict,
    terms: list[str],
    wand_min_postings: int,
) -> DataFrame | None:
    """Block-max pruning (B10) for a :func:`sparktext.query.search_many`
    batch, and for :func:`sparktext.query.matched_docs` as a batch of
    one: returns the posting-block rows the shared decode must cover, or
    ``None`` when pruning is inapplicable (the caller then decodes the
    full union — results identical either way).

    A block survives iff it survives for ANY query — folded driver-side
    into ONE per-(term, segment) threshold so the survivor filter stays
    a single literal-map (or broadcast-join) lookup regardless of batch
    size::

        thr(t, s) = min over pure-should queries q containing t of
                    (θ_q - Σ_{t'∈q, t'≠t} max_ub(t', s)·boost_q(t'))
                    / boost_q(t)
        keep B of term t in segment s  iff  ub_raw(B) >= thr(t, s)

    Correctness per query follows the module-level argument: q's
    survivor set here is a SUPERSET of its own WAND survivors (the min
    only lowers thresholds), every true top-k doc of q keeps all its
    blocks, and extra kept blocks only add exactly-scored candidates —
    equality with the exhaustive plan is asserted in tests.

    Sharing structure (the whole point — fixed cost is paid ONCE for
    the batch, not per query): one header-cache job collects the
    per-(segment, term) bound table for the union of pure-should batch
    terms; one job fetches the union of per-term seed payload blocks;
    the driver decodes them ONCE and computes every θ_q by slicing that
    frame to q's terms (numpy, query-sized). The threshold fold loops
    |pure queries| x |segments| x |terms per query| driver-side —
    ~1M cheap ops for a 5000-query batch on 64 segments.

    Scope guards (each falls back to ``None`` = exhaustive):

    - tombstones poison θ (a deleted doc can hold the seeded k-th best
      score, lifting θ above the best alive one) — skip;
    - candidate postings below ``wand_min_postings`` — pruning cannot
      repay its two extra tiny jobs;
    - queries with must/must_not or quoted phrase clauses (boolean
      filters need full postings of THEIR terms; phrase scores have no
      block bound) or non-positive boosts anchor all their terms: those
      blocks are always kept, and only terms used exclusively by
      pure-should queries are pruned;
    - a bound table beyond :data:`WAND_BATCH_BOUNDS_MAX` rows.
    """
    import pandas as pd

    from sparktext import codec
    from sparktext.query import postings_for_terms  # local import: cycle

    if index.deleted is not None or not k:
        return None
    present = [t for t in terms if t in stats_map]
    if sum(stats_map[t]["doc_freq"] for t in present) < wand_min_postings:
        return None

    pure: dict[str, tuple] = {}
    anchored_terms: set[str] = set()
    for qid, q in live.items():
        sp = [t for t in q.scored_terms if t in stats_map]
        if (
            not q.must and not q.must_not and not q.phrases and sp
            and all(b > 0 for b in q.boosts.values())
        ):
            pure[qid] = (q, sp)
        else:
            anchored_terms.update(
                t for t in q.scored_terms + q.must_not if t in stats_map
            )
    prunable = sorted(
        {t for _, sp in pure.values() for t in sp} - anchored_terms
    )
    if not pure or not prunable:
        return None
    prunable_set = set(prunable)
    bound_terms = sorted({t for _, sp in pure.values() for t in sp})

    blocks = postings_for_terms(index, present, stats_map)
    buckets = sorted({stats_map[t]["term_bucket"] for t in bound_terms})
    hdr = index.block_headers().filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(bound_terms)
    ).withColumn("_ub", block_ub_col(index, stats_map))  # RAW ub; boosts fold driver-side

    hdr_rows = (
        hdr.select("segment_id", "term", "block_id", "_ub")
        .limit(WAND_HEADER_ROWS_MAX + 1)
        .collect()
    )
    if len(hdr_rows) <= WAND_HEADER_ROWS_MAX:
        # One-collect fast path: bounds AND seed keys from the same rows.
        maxub: dict[tuple, float] = {}
        by_term: dict[str, list] = {}
        for r in hdr_rows:
            v = float(r["_ub"])
            key = (r["term"], r["segment_id"])
            if key not in maxub or v > maxub[key]:
                maxub[key] = v
            by_term.setdefault(r["term"], []).append(r)
        if len(maxub) > WAND_BATCH_BOUNDS_MAX:
            return None
        seeds_per_term = max(1, math.ceil(k / 128)) + 1
        seed_keys = []
        for t, rows_t in by_term.items():
            # same ordering as _seed_key_cond's window: ub desc, then
            # (segment, block) asc for determinism
            rows_t.sort(key=lambda r: (-r["_ub"], r["segment_id"], r["block_id"]))
            seed_keys.extend(
                f"{r['segment_id']}|{t}|{r['block_id']}"
                for r in rows_t[:seeds_per_term]
            )
        seed_cond = F.concat_ws(
            "|", F.col("segment_id"), F.col("term"), F.col("block_id")
        ).isin(seed_keys)
    else:
        bound_rows = (
            hdr.groupBy("segment_id", "term").agg(F.max("_ub").alias("m"))
            .limit(WAND_BATCH_BOUNDS_MAX + 1)
            .collect()
        )
        if len(bound_rows) > WAND_BATCH_BOUNDS_MAX:
            return None
        maxub = {(r["term"], r["segment_id"]): float(r["m"]) for r in bound_rows}
        seed_cond = _seed_key_cond(hdr, k)
    segs = sorted({s for (_, s) in maxub})

    seed_payload = (
        blocks.filter(seed_cond & F.col("term").isin(bound_terms))
        .select("segment_id", "term", "count", "first_doc",
                "doc_bits", "doc_bytes", "tf_bytes", "norm_bytes")
        .collect()
    )
    dec = (
        codec.decode_blocks_pdf(pd.DataFrame([r.asDict() for r in seed_payload]))
        if seed_payload else pd.DataFrame(
            {"term": [], "doc_id": [], "tf": [], "norm_id": []}
        )
    )

    neg_inf = float("-inf")
    thr: dict[tuple, float] = {}
    for qid, (q, sp) in pure.items():
        boosts = {t: float(q.boosts.get(t, 1.0)) for t in sp}
        sub = dec[dec["term"].isin(sp)] if len(dec) else dec
        theta = _theta_from_decoded(index, stats_map, boosts, sub, k)
        for s in segs:
            if theta <= 0.0:
                # fewer than k seed docs: q prunes nothing — its terms'
                # thresholds collapse to -inf (keep everything)
                for t in sp:
                    if t in prunable_set:
                        thr[(t, s)] = neg_inf
                continue
            other_all = sum(maxub.get((t2, s), 0.0) * boosts[t2] for t2 in sp)
            for t in sp:
                if t not in prunable_set:
                    continue
                th = (theta - (other_all - maxub.get((t, s), 0.0) * boosts[t])) \
                    / boosts[t]
                key = (t, s)
                if key not in thr or th < thr[key]:
                    thr[key] = th

    prunable_blocks = blocks.filter(F.col("term").isin(prunable)).withColumn(
        "_ub", block_ub_col(index, stats_map)
    )
    finite = {ky: v for ky, v in thr.items() if v != neg_inf}
    if len(finite) <= WAND_DRIVER_BOUNDS_MAX:
        # literal-map thresholds: zero extra exchanges (missing key =
        # -inf threshold = keep, covering the theta<=0 sentinels too)
        if not finite:
            return None  # every threshold is -inf: pruning keeps all
        pairs = []
        for (t, s), v in finite.items():
            pairs.extend([F.lit(f"{t}|{s}"), F.lit(v)])
        lookup = F.element_at(
            F.create_map(*pairs),
            F.concat_ws("|", F.col("term"), F.col("segment_id")),
        )
        survivors = prunable_blocks.filter(
            F.col("_ub") >= F.coalesce(lookup, F.lit(neg_inf))
        ).drop("_ub")
    else:
        spark = index.postings.sparkSession
        thr_df = spark.createDataFrame(
            [(t, s, v) for (t, s), v in finite.items()],
            "term string, segment_id int, _thr double",
        )
        survivors = (
            prunable_blocks.join(F.broadcast(thr_df), ["term", "segment_id"], "left")
            .filter(F.col("_ub") >= F.coalesce(F.col("_thr"), F.lit(neg_inf)))
            .drop("_ub", "_thr")
        )
    anchored_all = sorted(set(present) - prunable_set)
    if anchored_all:
        survivors = blocks.filter(F.col("term").isin(anchored_all)).unionByName(
            survivors
        )
    return survivors.alias("wand_pruned")
