"""Query AST, parser and boolean matching (SURVEY.md B1–B7).

Query syntax (a small subset of tantivy's public query language):
``spark fast`` — two SHOULD terms (OR/union, scores summed);
``+spark data`` — ``spark`` is MUST (required), ``data`` SHOULD;
``-slow`` — MUST_NOT (excluded, contributes no score);
``spark^2`` — clause boost (score multiplier);
terms are run through the same default tokenizer as indexing (A1), so a
clause may expand to several tokens (each inheriting the clause occur
and boost). DOCUMENTED DIVERGENCE (pinned in
test_build_and_search.py::test_duplicate_term_boost_semantics): a term
appearing in SEVERAL clauses is scored ONCE, with the last EXPLICIT
boost winning (an unboosted repeat does not reset an earlier boost);
tantivy scores each clause separately and sums, so `apple^2 apple`
scores 3x apple there and 2x here. Reachable only by duplicate-term
queries; per-clause additive scoring would force per-clause rows
through the shared (doc, term) partial stage for no mainstream gain.

Quoted phrases (``"a b"``, ``"a b"~2``, ``+"a b"``, ``-"a b"``) are
clauses like any term: each distinct ``(phrase, slop)`` clause becomes
a pseudo-term whose rows are the docs :func:`phrase_docs` matches and
whose partial is the phrase score (B6).

Matching semantics (tantivy BooleanQuery):
- only SHOULD clauses: a doc matches if it contains >= 1 should clause;
- any MUST clauses: a doc must match ALL must clauses; should clauses
  are optional and only add score;
- MUST_NOT: excluded docs, never scored.
Scores: sum of per-(doc, clause) partials over should+must clauses (B3).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktext import codec
from sparktext.score import (
    B, K1, _boost_mult_col, _decoded_norm_col, bm25_score_col, term_stats,
)
from sparktext.tokenizer import tokenize_text


@dataclass
class Query:
    should: list[str] = field(default_factory=list)
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    #: per-term score multipliers (tantivy's `term^2` boost); absent = 1.0
    boosts: dict[str, float] = field(default_factory=dict)
    #: quoted phrase clauses: (terms, slop, occur) — tantivy's
    #: ``"a b"`` / ``"a b"~2`` / ``+"a b"`` / ``-"a b"`` syntax
    phrases: list[tuple] = field(default_factory=list)

    @property
    def scored_terms(self) -> list[str]:
        seen, out = set(), []
        for t in self.must + self.should:
            if t not in seen:
                seen.add(t)
                out.append(t)
        return out

    @property
    def has_boosts(self) -> bool:
        return any(b != 1.0 for b in self.boosts.values())


def parse_query(qstr: str) -> Query:
    """B1: query string -> :class:`Query` AST.

    Clause syntax (tantivy query-parser subset): ``+term`` must,
    ``-term`` must_not, ``term^2.5`` boost (score multiplier; applies to
    every token the clause expands to), ``"a b"`` quoted phrase,
    ``"a b"~2`` sloppy phrase, ``+"a b"`` / ``-"a b"`` phrase occurs.
    Phrase clauses evaluate through the positions index (B6)."""
    import re

    q = Query()
    for m in re.finditer(r'([+-]?)"([^"]*)"(?:~(\d+))?|(\S+)', qstr or ""):
        if m.group(2) is not None:
            occur = {"+": "must", "-": "must_not"}.get(m.group(1), "should")
            slop = int(m.group(3)) if m.group(3) else 0
            toks = tokenize_text(m.group(2))
            if toks:
                q.phrases.append((toks, slop, occur))
            continue
        clause = m.group(4)
        occur = "should"
        if clause.startswith("+"):
            occur, clause = "must", clause[1:]
        elif clause.startswith("-"):
            occur, clause = "must_not", clause[1:]
        boost = 1.0
        if "^" in clause:
            clause, _, bs = clause.rpartition("^")
            try:
                boost = float(bs)
            except ValueError:
                clause = f"{clause}^{bs}"  # not a boost; keep raw
        toks = tokenize_text(clause)
        getattr(q, occur).extend(toks)
        if boost != 1.0:
            for t in toks:
                q.boosts[t] = boost
    return q


def _decode_postings(blocks: DataFrame) -> DataFrame:
    """Decode filtered block rows -> (segment_id, term, doc_id, tf, norm_id)."""
    return blocks.select(
        "segment_id", "term", "count", "first_doc",
        "doc_bits", "doc_bytes", "tf_bytes", "norm_bytes",
    ).mapInPandas(
        lambda it: (codec.decode_blocks_pdf(pdf) for pdf in it),
        schema="segment_id int, term string, doc_id long, tf long, norm_id long",
    )


def postings_for_terms(index, terms: list[str], stats_map: dict | None = None) -> DataFrame:
    """Partition-pruned scan of posting blocks for the given terms.

    The filter hits the ``term_bucket`` parquet partition column first
    (file pruning, §4.1) and the term string second (row-group pruning via
    parquet min/max on the sorted term column).
    """
    if stats_map is None:
        stats_map = term_stats(index, terms)
    buckets = sorted({stats_map[t]["term_bucket"] for t in terms if t in stats_map})
    present = [t for t in terms if t in stats_map]
    if not present:
        return index.postings.filter(F.lit(False))
    return index.postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
    )


#: Cost-based WAND gate: below this many candidate postings (sum of the
#: query terms' doc_freq), block pruning cannot repay its fixed cost (two
#: tiny driver jobs), so ``exhaustive=False`` keeps the exhaustive plan —
#: results are identical either way; this only picks the cheaper plan,
#: as Lucene/tantivy do per query from term stats. The value is the
#: crossover measured at local[32] in round 4.
WAND_MIN_POSTINGS = 16_000_000

#: Cap on how many times one term may repeat inside a sloppy phrase:
#: the exact injective matcher (Hall's condition, see phrase_docs)
#: builds 2^c - 1 column exprs per repeated term.
MAX_PHRASE_TERM_REPEATS = 8


def _phrase_key(terms: list[str], slop: int) -> str:
    """Pseudo-term key of a quoted clause, e.g. ``"a b"~1``. Tokens are
    runs of word characters, so no token can hold a quote or a space and
    no key can collide with a term."""
    return f'"{" ".join(terms)}"~{slop}'


def _clauses(q: Query, stats_map: dict) -> tuple[list[str], list[str], list[str]]:
    """The evaluated clause keys of ``q``: (scored, must, must_not).

    Terms absent from the dictionary drop out (callers reject queries
    with an absent MUST term first). Each distinct quoted clause joins
    under its :func:`_phrase_key`, so phrases obey the same
    should/must/must_not rules as terms — tantivy's BooleanQuery, where
    a PhraseQuery is one more subquery."""
    scored = [t for t in q.scored_terms if t in stats_map]
    must = set(q.must)
    mn = {t for t in q.must_not if t in stats_map}
    for terms, slop, occur in q.phrases:
        key = _phrase_key(terms, slop)
        if occur == "must_not":
            mn.add(key)
            continue
        if key not in scored:
            scored.append(key)
        if occur == "must":
            must.add(key)
    return scored, sorted(must), sorted(mn)


def _clause_rows(
    index, stats_map: dict, blocks: DataFrame | None, phrases: list
) -> DataFrame:
    """The one row source every evaluator reads: ``(term, doc_id,
    partial)``.

    Term rows are the decoded ``blocks`` scored with BM25 (B8). Each
    distinct quoted ``(phrase, slop)`` clause adds one row per matching
    doc, keyed by its :func:`_phrase_key`, with the :func:`phrase_docs`
    score as partial — one positions pass per clause, however many
    queries of a batch quote it. Rows are unique per (doc, key)."""
    parts = []
    if blocks is not None:
        parts.append(_decode_postings(blocks).select(
            "term", "doc_id",
            bm25_score_col(
                index, stats_map, F.col("term"), F.col("tf"), F.col("norm_id")
            ).alias("partial"),
        ))
    seen: set[str] = set()
    for terms, slop, _ in phrases:
        key = _phrase_key(terms, slop)
        if key in seen:
            continue
        seen.add(key)
        parts.append(phrase_docs(index, terms, slop).select(
            F.lit(key).alias("term"), "doc_id", F.col("score").alias("partial")
        ))
    return reduce(DataFrame.unionByName, parts)


def matched_docs(
    index,
    query: Query,
    exhaustive: bool = True,
    k: int | None = None,
    wand_min_postings: int = WAND_MIN_POSTINGS,
) -> DataFrame:
    """B2–B6: evaluate the boolean query -> DataFrame(doc_id, score).

    One groupBy(doc_id) over :func:`_clause_rows` applies should, must
    and must_not to terms and quoted phrases alike, with literal
    ``isin`` flags on the clause key.

    ``exhaustive=False`` enables block-max pruning (B10) of the term
    blocks — identical results, fewer decoded blocks (requires ``k``).
    It calls :func:`sparktext.score.wand_blocks_for_batch` with a batch
    of one, which prunes pure-should queries with positive boosts and
    leaves every other shape exhaustive. The engine still picks the
    exhaustive plan when the candidate volume is under
    ``wand_min_postings`` (cost-based, see above — pass 0 to force
    pruning).
    """
    stats_map = term_stats(index, query.scored_terms + query.must_not)
    spark = index.postings.sparkSession
    # A MUST term absent from the dictionary -> empty result, by definition.
    if any(t not in stats_map for t in query.must):
        return spark.createDataFrame([], "doc_id long, score double")
    scored, must, mn = _clauses(query, stats_map)
    if not scored:
        # no scoreable clause: only must_not clauses match nothing (tantivy)
        return spark.createDataFrame([], "doc_id long, score double")
    terms = [t for t in scored + mn if t in stats_map]

    blocks = None
    if not exhaustive and k:
        from sparktext.score import wand_blocks_for_batch

        blocks = wand_blocks_for_batch(
            index, {"q": query}, k, stats_map, terms, wand_min_postings
        )
    if blocks is None and terms:
        # ONE decode scan covers scored AND must_not terms: exclusion
        # terms contribute no score (partial zeroed) but flag the doc for
        # removal in the same groupBy — no second postings scan.
        blocks = postings_for_terms(index, terms, stats_map)
    partial = F.col("partial")
    if query.has_boosts:
        partial = partial * _boost_mult_col(query.boosts, F.col("term"))
    if mn:
        partial = F.when(F.col("term").isin(mn), F.lit(0.0)).otherwise(partial)
    rows = _clause_rows(index, stats_map, blocks, query.phrases).withColumn(
        "partial", partial
    )

    if len(scored) == 1 and not mn:
        # ONE scored clause and no exclusions: the rows hold at most one
        # (doc, key) row per doc (term blocks are per-(segment, term) with
        # unique docs and every doc lives in one segment; phrase rows are
        # one per doc), so the groupBy(doc_id) is an identity aggregation
        # — skip it and its whole shuffle (plan: decode -> project ->
        # consumer; at 100 TB this removes the only Exchange of a term
        # query). Any MUST clause is trivially satisfied: must ⊆ scored.
        grouped = rows.select("doc_id", F.col("partial").alias("score"))
    else:
        aggs = [F.sum("partial").alias("score")]
        if must:
            # count, not count_distinct: (doc, key) rows are UNIQUE, so the
            # distinct count equals the plain filtered count — and
            # count_distinct plans a second aggregate phase (one more
            # Exchange + job; measured 2x the wall of the plain-count plan
            # on q_must at local[32]).
            aggs.append(
                F.count(F.when(F.col("term").isin(must), F.lit(1))).alias("_must_hits")
            )
        if mn:
            aggs.append(
                F.max(F.when(F.col("term").isin(mn), 1).otherwise(0)).alias("_mn")
            )
        grouped = rows.groupBy("doc_id").agg(*aggs)
        if must:
            grouped = grouped.filter(F.col("_must_hits") == len(must)).drop("_must_hits")
        if mn:
            # also drops docs matched ONLY by must_not clauses
            grouped = grouped.filter(F.col("_mn") == 0).drop("_mn")
    return _alive(index, grouped)


def _alive(index, df: DataFrame) -> DataFrame:
    """A11: drop tombstoned docs (no-op when the index has no deletes)."""
    if index.deleted is not None:
        return df.join(index.deleted, "doc_id", "left_anti")
    return df


def phrase_docs(index, phrase_terms: list[str], slop: int = 0) -> DataFrame:
    """B6 PhraseQuery: docs containing the term sequence.

    Requires a positions index (``build_index(with_positions=True)``).
    Position-list intersection with offset alignment, entirely JVM-side:
    positions of term_i are shifted by -i and intersected; the surviving
    count is the phrase frequency, scored BM25-style with the SUMMED idf
    of the phrase terms (tantivy's PhraseWeight builds one Bm25Weight
    over all terms) and the doc's fieldnorm.

    ``slop`` generalizes exact adjacency to a windowed match (tantivy's
    PhraseQuery slop): an anchor position p0 of the first term matches
    iff the later slots can be assigned DISTINCT positions p_i with
    ``|p_i - p0 - i| <= slop`` (injective per term, so the phrase
    ['x','x'] never matches a doc holding a single 'x' — Lucene/tantivy
    sloppy-phrase slots each consume their own position). Injectivity is
    decided exactly via Hall's condition per repeated term: for every
    subset S of that term's slots, the doc must hold >= |S| positions
    inside the union of S's windows (phrases are short, so the 2^c-1
    subset conditions stay a handful of codegen'd size/filter exprs;
    positions of different terms are disjoint, so cross-term assignment
    decomposes per term). phrase_tf = number of matching anchors.
    slop=0 reduces to exact adjacency (and keeps the cheaper
    array_intersect plan); a transposed pair costs 2, matching the
    published phrase-slop convention.
    """
    if index.positions is None:
        raise ValueError("index built without positions; use with_positions=True")
    if not phrase_terms:
        return index.postings.sparkSession.createDataFrame([], "doc_id long, score double")
    stats_map = term_stats(index, phrase_terms)
    if any(t not in stats_map for t in phrase_terms):
        return index.postings.sparkSession.createDataFrame([], "doc_id long, score double")

    pos = index.positions.filter(F.col("term").isin(sorted(set(phrase_terms))))
    # pivot the <= len(phrase) term rows of each doc into a term->positions map
    per_doc = pos.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.col("positions")))
        ).alias("pmap"),
        F.count("*").alias("_nterms"),
    ).filter(F.col("_nterms") >= len(set(phrase_terms)))

    def _shift(offset: int):
        # UNARY lambda required: F.transform treats a 2nd param as the index
        return lambda x: x - F.lit(offset)

    if slop == 0 or len(phrase_terms) == 1:
        inter = F.element_at(F.col("pmap"), phrase_terms[0])
        for i, t in enumerate(phrase_terms[1:], start=1):
            shifted = F.transform(F.element_at(F.col("pmap"), t), _shift(i))
            inter = F.array_intersect(inter, shifted)
    else:
        from itertools import combinations

        # term -> its slot offsets within the phrase (anchor slot = 0).
        slots: dict[str, list[int]] = {}
        for i, t in enumerate(phrase_terms):
            slots.setdefault(t, []).append(i)
        # Hall's condition enumerates 2^c - 1 subset exprs for a term
        # repeated c times: unbounded, a crafted query string repeating
        # one token ~20x would build ~1M filter expressions and hang the
        # driver / blow codegen before any job runs (query-triggered
        # DoS). 8 repeats (255 exprs) is far beyond any real phrase;
        # refuse loudly above it.
        max_rep = max(len(v) for v in slots.values())
        if max_rep > MAX_PHRASE_TERM_REPEATS:
            raise ValueError(
                f"sloppy phrase repeats a term {max_rep}x; the exact "
                f"injective matcher enumerates 2^c-1 subset conditions "
                f"per repeated term and is capped at "
                f"{MAX_PHRASE_TERM_REPEATS} repeats"
            )

        def _window_fn(offsets: list[int], p0):
            # closure FACTORY: the inner lambda must stay unary (a
            # default-arg like `off=offset` adds a parameter, which
            # pyspark maps to the higher-order function's arity).
            # Slot 0 is the anchor itself — its "window" is exactly p0.
            def fn(p):
                cond = None
                for off in offsets:
                    c = (p == p0) if off == 0 else (
                        F.abs(p - p0 - F.lit(off)) <= F.lit(slop)
                    )
                    cond = c if cond is None else (cond | c)
                return cond

            return fn

        def _anchor_ok(p0):
            cond = None
            for t, offs in slots.items():
                ps = F.element_at(F.col("pmap"), t)
                if offs == [0]:
                    continue  # the anchor slot is satisfied by p0 itself
                if len(offs) == 1:
                    c = F.exists(ps, _window_fn(offs, p0))
                else:
                    # Hall's condition over this term's slots: every slot
                    # subset needs that many distinct positions in its
                    # windows' union. The {0} subset is trivially met.
                    c = None
                    for r in range(1, len(offs) + 1):
                        for sub in combinations(offs, r):
                            if sub == (0,):
                                continue
                            cc = F.size(
                                F.filter(ps, _window_fn(list(sub), p0))
                            ) >= F.lit(len(sub))
                            c = cc if c is None else (c & cc)
                cond = c if cond is None else (cond & c)
            return cond

        inter = F.filter(F.element_at(F.col("pmap"), phrase_terms[0]), _anchor_ok)
    cand = per_doc.withColumn("phrase_tf", F.size(inter)).filter(F.col("phrase_tf") > 0)

    sum_idf = float(sum(stats_map[t]["idf"] for t in phrase_terms))
    avgdl = float(index.stats.avg_len)
    norms = index.doc_meta.select("doc_id", "norm_id")
    tf = F.col("phrase_tf").cast("double")
    dl = _decoded_norm_col(F.col("norm_id"))
    score = F.lit(sum_idf) * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / F.lit(avgdl)))
    out = cand.join(norms, "doc_id").select("doc_id", score.alias("score"))
    return _alive(index, out)


def all_docs(index) -> DataFrame:
    """B7 AllQuery: every (alive) document, constant score 1.0 —
    tantivy's AllQuery/ConstScorer. Reads doc_meta (one row per doc, no
    postings touch); the usual composition target for pure-aggregation
    searches over the whole corpus."""
    out = index.doc_meta.select("doc_id").withColumn("score", F.lit(1.0))
    return _alive(index, out)


def facet_subtree_docs(index, facet_path: str) -> DataFrame:
    """Facet subtree query (tantivy ``TermQuery`` on a Facet field): all
    alive docs whose facet path lies in the ``facet_path`` subtree,
    constant score 1.0.

    Because :func:`sparktext.build.with_facets` indexes every ANCESTOR
    prefix of each doc's facet path, a subtree query is ONE exact term
    lookup in the facet postings — partition-pruned by term_bucket like
    any term query, never a LIKE/prefix scan. Rows are unique by
    construction (one (doc, prefix) posting per doc per level), so no
    distinct/shuffle is needed after decode.
    """
    if index.facet_postings is None:
        raise ValueError("index has no facet field; call with_facets first")
    from sparktext.build import term_bucket_col

    norm = "/" + facet_path.strip("/")
    if norm == "/":
        # Root subtree = every doc holding ANY facet value. The root
        # itself is never indexed as a term; every faceted doc appears
        # exactly once at depth 1 (one facet path per doc), so the
        # level-1 blocks ARE the root posting list — a regex row-group
        # filter instead of one exact term.
        blocks = index.facet_postings.filter(F.col("term").rlike("^/[^/]+$"))
    else:
        blocks = index.facet_postings.filter(
            (F.col("term_bucket") == term_bucket_col(F.lit(norm), index.n_buckets))
            & (F.col("term") == norm)
        )
    out = _decode_postings(blocks).select("doc_id").withColumn("score", F.lit(1.0))
    return _alive(index, out)


def term_range_docs(index, lo: str, hi: str, inclusive: bool = False) -> DataFrame:
    """B7 RangeQuery over the term dictionary: docs containing any term in
    [lo, hi) (or [lo, hi] with ``inclusive``). Constant score 1.0 per doc
    (tantivy's multi-term queries use a ConstScorer)."""
    cond = (F.col("term") >= lo) & (
        (F.col("term") <= hi) if inclusive else (F.col("term") < hi)
    )
    return _dict_expansion_union(index, cond)


def prefix_docs(index, prefix: str) -> DataFrame:
    """B7 prefix query: dictionary expansion on the broadcast term dict."""
    return _dict_expansion_union(index, F.col("term").startswith(prefix))


def regex_docs(index, pattern: str) -> DataFrame:
    """B7 regex query: dictionary expansion via rlike (tantivy RegexQuery
    walks the FST with a regex automaton; the Spark twin filters the
    vocabulary-sized dictionary — same pruning, no automaton needed).

    The pattern is anchored to the WHOLE term (tantivy RegexQuery
    semantics); rlike alone is a find/substring match, which would make
    ``regex_docs(idx, 'spar')`` match every term *containing* 'spar'."""
    return _dict_expansion_union(
        index, F.col("term").rlike(f"^(?:{pattern})$")
    )


def fuzzy_docs(index, term: str, max_edits: int = 1) -> DataFrame:
    """B7 fuzzy query: Levenshtein expansion over the term dictionary
    (JVM levenshtein on the vocabulary-sized dict, never on docs)."""
    return _dict_expansion_union(
        index, F.levenshtein(F.col("term"), F.lit(term)) <= max_edits
    )


def _dict_expansion_union(index, dict_cond) -> DataFrame:
    """Multi-term (B7) expansion WITHOUT materializing the vocabulary on
    the driver: broadcast-JOIN postings against the filtered dictionary.

    The old collect+isin shape would, at a real source-code vocabulary
    (10^7-10^8 terms), pull millions of strings to the driver and compile
    a megabyte-scale isin expression. The broadcast join keeps the
    expansion distributed — the dictionary subset ships once per executor
    and block headers are filtered JVM-side; on the persisted-parquet path
    the join key includes the term_bucket partition column so dynamic
    partition pruning can still skip files.
    """
    sub = index.term_dict.filter(dict_cond).select("term_bucket", "term")
    blocks = index.postings.join(F.broadcast(sub), ["term_bucket", "term"])
    decoded = _decode_postings(blocks)
    out = decoded.select("doc_id").distinct().withColumn("score", F.lit(1.0))
    return _alive(index, out)


#: Batch auto-pruning gate (round 6): with ``search_many(...,
#: exhaustive=None)`` — the DEFAULT — batch block-max pruning turns on
#: when the batch's match volume (Σ over live queries after dedup of
#: each query's candidate postings) reaches this value. The batch pays
#: pruning's fixed cost ONCE (two tiny driver jobs) while the saving
#: scales with the decode volume and the per-query evaluation fan-out,
#: so the batch crossover sits far below the single-query
#: WAND_MIN_POSTINGS crossover. Calibrated from the round-6 sweep
#: (bench_extra.py batch_crossover, local[32], 7-query zipf batch,
#: best-of-3): exhaustive vs pruned wall = 1.56/1.60 s @2.6M volume,
#: 2.03/1.63 @5.25M, 2.87/1.69 @10.5M, 2.94/1.65 @21M — the pruned wall
#: is FLAT (fixed two driver jobs + ~1% of the decode) while exhaustive
#: grows with volume; equality at ~2.6M, clear win from ~5M. Gate set
#: just above the equality point.
WAND_BATCH_MIN_VOLUME = 4_000_000

#: search_many strategy auto-switch, by ESTIMATED row volume ratio:
#: broadcast evaluates ~min(N_docs, Σ_union df) x |queries| rows, but
#: each is a shuffle-free codegen'd map lookup; the join plan's
#: Σ_q Σ_{t∈q} df(t) rows all pass through a shuffling groupBy, so its
#: per-row cost is far higher. Measured on the 200-query shared-vocab
#: bench batch (2M docs): broadcast/join volume ratio ~20 and broadcast
#: is ~4x FASTER in wall time — while a 5000-query disjoint-vocabulary
#: batch has ratio ~5000 and the fan-out is the scale-killer. The gate
#: therefore switches to join only when the fan-out volume exceeds the
#: join volume by this factor.
SEARCH_MANY_JOIN_RATIO = 64


def search_many(
    index,
    queries: dict[str, str],
    k: int = 10,
    round_decimals: int | None = None,
    strategy: str = "auto",
    exhaustive: bool | None = None,
    wand_min_postings: int = WAND_MIN_POSTINGS,
) -> DataFrame:
    """Batch search: N queries -> ONE postings pass (B2–B6, B9 fused).

    Returns (query_id, doc_id, score) — the top-k of every query, ranked
    per query by (score desc, doc_id asc). Every query reads the same
    :func:`_clause_rows` source: the decode covers the UNION of all
    query terms once, and each distinct quoted clause adds its
    pseudo-term rows once. This amortizes the per-job overhead that
    dominates single-query latency and turns a query workload into a
    throughput job — the q/s path at cluster scale.

    Two physical strategies (``strategy``: "auto" | "broadcast" | "join"):

    - **broadcast**: pivot the rows into one key->partial map per doc,
      broadcast the query table, evaluate every query against every
      doc-map row as codegen'd null-safe lookups. Evaluated rows =
      |matched docs| x |queries| — unbeatable for small shared-vocabulary
      batches (3x measured on the 20x10 bench batch), quadratic-shaped
      for thousands of disjoint queries.
    - **join**: broadcast-join the (doc, key, partial) rows against the
      (query_id, key, flags) table on the key id — an EQUI-join, so the
      intermediate is exactly the per-query match volume
      Σ_q Σ_{t∈q} df(t), then one groupBy(doc, query) applies
      should/must/must_not semantics. The 100-TB shape: row count never
      exceeds real matches, no per-doc pivot map materializes.

    ``auto`` compares the two ESTIMATED row volumes from broadcast term
    stats (fan-out = min(N_docs, Σ_union df) x |queries| vs join =
    Σ_q Σ_t df(t)) and picks join only when the fan-out volume exceeds
    the join volume by ``SEARCH_MANY_JOIN_RATIO`` — the join plan's
    shuffled groupBy rows cost far more each than the broadcast plan's
    codegen'd map lookups. Both strategies are result-identical
    (asserted in tests).

    Duplicate queries are DEDUPED before evaluation (identical evaluated
    signatures share one representative; results fan back out through a
    broadcast mapping), so evaluated-row volume scales with distinct
    signatures, not submitted strings — real batch workloads repeat
    queries constantly.

    Batch block-max pruning (B10 x batch): the shared decode covers only
    the UNION of per-query survivor blocks, with per-(term, segment)
    thresholds folded across queries driver-side
    (:func:`sparktext.score.wand_blocks_for_batch`) — results identical
    either way (asserted in tests). ``exhaustive`` picks the plan:

    - ``None`` (DEFAULT, round 6): cost-based — prune when the batch's
      match volume (Σ per-query candidate postings) reaches
      :data:`WAND_BATCH_MIN_VOLUME` (the measured batch crossover; the
      fixed cost is two tiny driver jobs paid once per batch), else
      decode everything;
    - ``True``: always decode the full union (the pre-round-6 default);
    - ``False``: prune subject to ``wand_min_postings`` candidate
      postings (pass 0 to force pruning — the bench/tests knob).
    """
    from pyspark.sql import Window

    spark = index.postings.sparkSession
    parsed = {qid: parse_query(qs) for qid, qs in queries.items()}
    all_terms = sorted({t for q in parsed.values() for t in q.scored_terms + q.must_not})
    stats_map = term_stats(index, all_terms)

    # Queries whose MUST terms are missing from the dictionary, or with
    # no scoreable clause, match nothing and emit no branch.
    live: dict[str, Query] = {}
    clauses: dict[str, tuple] = {}
    for qid, q in parsed.items():
        if any(t not in stats_map for t in q.must):
            continue
        cl = _clauses(q, stats_map)
        if cl[0]:
            live[qid], clauses[qid] = q, cl

    if not live:
        return spark.createDataFrame([], "query_id string, doc_id long, score double")

    # Batch DEDUP: queries with identical evaluated signatures (clause
    # keys + effective boosts) produce identical top-k — evaluate ONE
    # representative per signature and fan the rows back out through a
    # tiny broadcast mapping at the end. Real batch workloads repeat
    # queries constantly; evaluated-row volume scales with DISTINCT
    # signatures, not submitted strings.
    sig_groups: dict[tuple, list[str]] = {}
    for qid, q in live.items():
        sc, mu, mn = clauses[qid]
        key = (
            tuple(sorted(sc)), tuple(mu), tuple(mn),
            tuple(sorted(
                (t, b) for t, b in q.boosts.items()
                if t in stats_map and b != 1.0
            )),
        )
        sig_groups.setdefault(key, []).append(qid)
    dup_map: list[tuple[str, str]] | None = None
    if len(sig_groups) < len(live):
        dup_map = [
            (qids[0], qid) for qids in sig_groups.values() for qid in qids
        ]
        live = {qids[0]: live[qids[0]] for qids in sig_groups.values()}
    keyed = [clauses[qid][0] + clauses[qid][2] for qid in live]  # scored + must_not
    terms = sorted({t for ks in keyed for t in ks if t in stats_map})

    # Batch block-max pruning (B10 x batch): both strategies consume the
    # same row source, so the pruned survivor union (thresholds folded
    # across queries driver-side — see score.wand_blocks_for_batch)
    # drops in transparently; None means "prune nothing" and the full
    # union decode proceeds. ``exhaustive=None`` is the cost-based
    # default: the match-volume gate decides (see WAND_BATCH_MIN_VOLUME).
    blocks = None
    if k and exhaustive is not True:
        gate = wand_min_postings
        attempt = exhaustive is False
        if exhaustive is None and _match_volume(stats_map, live) >= WAND_BATCH_MIN_VOLUME:
            attempt, gate = True, 0
        if attempt:
            from sparktext.score import wand_blocks_for_batch

            blocks = wand_blocks_for_batch(index, live, k, stats_map, terms, gate)
    if blocks is None and terms:
        blocks = postings_for_terms(index, terms, stats_map)

    # Clause keys get dense driver-side int ids: the groupBy then
    # shuffles (doc, int, double) instead of (doc, string, double) and
    # the per-(doc, query) lookups hash ints, not strings. Terms come
    # first, then the phrase keys.
    keys = terms + sorted({t for ks in keyed for t in ks if t not in stats_map})
    term_id = {t: i for i, t in enumerate(keys)}
    tid_pairs = []
    for t, i in term_id.items():
        tid_pairs.extend([F.lit(t), F.lit(i)])
    rows = _clause_rows(
        index, stats_map, blocks, [p for q in live.values() for p in q.phrases]
    ).select(
        "doc_id",
        F.element_at(F.create_map(*tid_pairs), F.col("term")).alias("tid"),
        "partial",
    )

    if strategy == "auto":
        strategy = _pick_batch_strategy(
            index.stats.num_docs, stats_map, live, set(terms)
        )
    evaluate = _eval_join if strategy == "join" else _eval_broadcast
    grouped = _alive(index, evaluate(spark, rows, live, clauses, term_id))
    if round_decimals is not None:
        grouped = grouped.withColumn("score", F.round(F.col("score"), round_decimals))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        grouped.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    if dup_map is None:
        return ranked
    mdf = F.broadcast(spark.createDataFrame(dup_map, "_rep string, _qid string"))
    return (
        ranked.join(mdf, ranked["query_id"] == mdf["_rep"])
        .select(F.col("_qid").alias("query_id"), "doc_id", "score")
    )


def _match_volume(stats_map: dict, live: dict) -> int:
    """Σ over queries of each query's candidate postings (the doc_freq
    of its distinct scored and must_not terms) — the join strategy's
    row count and the batch pruning gate's volume."""
    return sum(
        stats_map[t]["doc_freq"]
        for q in live.values()
        for t in set(q.scored_terms + q.must_not)
        if t in stats_map
    )


def _pick_batch_strategy(
    num_docs: int, stats_map: dict, live: dict, need_terms: set[str]
) -> str:
    """Cost-based broadcast-vs-join call from broadcast-dictionary term
    stats alone (no extra jobs) — see SEARCH_MANY_JOIN_RATIO."""
    union_df = sum(stats_map[t]["doc_freq"] for t in need_terms if t in stats_map)
    bcast_rows = min(num_docs, union_df) * len(live)
    join_rows = _match_volume(stats_map, live)
    return "join" if bcast_rows > SEARCH_MANY_JOIN_RATIO * max(join_rows, 1) else "broadcast"


def _eval_broadcast(spark, rows: DataFrame, live: dict, clauses: dict, term_id: dict) -> DataFrame:
    """The broadcast strategy (see :func:`search_many`): (doc_id,
    query_id, score) with the boolean semantics applied.

    ONE row per doc holding a key->partial MAP, then a BROADCAST join
    against the tiny query table. Per-query key lists are UNROLLED into
    fixed-width null-padded columns (t0..tN / m0../ n0.., widths = the
    batch's max list lengths, typically <= 4): match/must/must_not/score
    become plain null-safe map lookups, which whole-stage codegen
    compiles — exists()/forall()/aggregate() higher-order lambdas are
    INTERPRETED per row, and the fan-out evaluates doc_count x
    query_count rows. The expression tree stays CONSTANT-SIZE in the
    number of queries (no per-query janino compile cost); per-query
    top-k is cut by WindowGroupLimit's partial heap before the only qid
    exchange.
    """
    doc_maps = rows.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tid", "partial"))).alias("pm")
    )
    boosted = any(q.has_boosts for q in live.values())
    lists = {}
    for qid, q in live.items():
        sc, mu, mn = clauses[qid]
        lists[qid] = (
            [term_id[t] for t in sc],
            [float(q.boosts.get(t, 1.0)) for t in sc],
            sorted(term_id[t] for t in mu),
            sorted(term_id[t] for t in mn),
        )
    w_t = max(len(v[0]) for v in lists.values())
    w_m = max((len(v[2]) for v in lists.values()), default=0)
    w_n = max((len(v[3]) for v in lists.values()), default=0)

    def _pad(xs, width, fill=None):
        return xs + [fill] * (width - len(xs))

    qrows = [
        (
            qid,
            *_pad(ts, w_t),
            *(_pad(bs, w_t, 1.0) if boosted else ()),
            *_pad(ms, w_m),
            *_pad(ns, w_n),
        )
        for qid, (ts, bs, ms, ns) in lists.items()
    ]
    schema = ", ".join(
        ["query_id string"]
        + [f"t{i} int" for i in range(w_t)]
        + ([f"b{i} double" for i in range(w_t)] if boosted else [])
        + [f"m{j} int" for j in range(w_m)]
        + [f"n{l} int" for l in range(w_n)]
    )
    qdf = F.broadcast(spark.createDataFrame(qrows, schema))
    joined = doc_maps.join(qdf)  # broadcast nested-loop fan-out, no shuffle

    def _lk(c):  # null-safe, non-ANSI-failing map lookup (codegen'd)
        return F.try_element_at(F.col("pm"), F.col(c))

    match_any = None
    score = None
    for i in range(w_t):
        hit = _lk(f"t{i}")
        match_any = hit.isNotNull() if match_any is None else (match_any | hit.isNotNull())
        part = F.coalesce(hit, F.lit(0.0))
        if boosted:
            part = part * F.col(f"b{i}")
        score = part if score is None else (score + part)
    cond = match_any
    for j in range(w_m):
        cond = cond & (F.col(f"m{j}").isNull() | _lk(f"m{j}").isNotNull())
    for l in range(w_n):
        cond = cond & (F.col(f"n{l}").isNull() | _lk(f"n{l}").isNull())
    return joined.filter(cond).select("doc_id", "query_id", score.alias("score"))


def _eval_join(spark, rows: DataFrame, live: dict, clauses: dict, term_id: dict) -> DataFrame:
    """The equi-join strategy (see :func:`search_many`): (doc_id,
    query_id, score) with the boolean semantics applied.

    Intermediate row count == Σ over (query, key, matching doc) — the
    true match volume — because the rows join the broadcast (query_id,
    tid, occur-flags) table on the key id. One groupBy(doc, query) then
    applies the full boolean semantics: score = Σ partials of scored
    keys, must satisfied iff the matched must-key count equals the
    query's must count, must_not excluded via a flag max. No per-doc
    pivot map, no |docs| x |queries| fan-out — the strategy for
    thousands of disjoint queries.
    """
    id_term = {i: t for t, i in term_id.items()}
    qrows = []
    mc_rows = []
    for qid, q in live.items():
        sc, mu, mn = ({term_id[t] for t in ks} for ks in clauses[qid])
        mc_rows.append((qid, len(mu)))
        for tid in sorted(sc | mu | mn):
            qrows.append((
                qid, tid, tid in sc, tid in mu, tid in mn,
                float(q.boosts.get(id_term[tid], 1.0)),
            ))
    qdf = F.broadcast(spark.createDataFrame(
        qrows,
        "query_id string, tid int, is_scored boolean, is_must boolean, "
        "is_mn boolean, boost double",
    ))
    mc = F.broadcast(spark.createDataFrame(mc_rows, "query_id string, n_must int"))
    return (
        rows.join(qdf, "tid")
        .groupBy("doc_id", "query_id")
        .agg(
            F.sum(
                F.when(F.col("is_scored"), F.col("partial") * F.col("boost"))
            ).alias("score"),
            # count, not count_distinct: (doc, tid, query) rows are unique
            # (rows (doc, tid) unique x qdf (query, tid) unique), and
            # count_distinct would add a second aggregate phase/Exchange.
            F.count(F.when(F.col("is_must"), F.lit(1))).alias("_mh"),
            F.max(F.when(F.col("is_mn"), 1).otherwise(0)).alias("_mn"),
            F.max(F.when(F.col("is_scored"), 1).otherwise(0)).alias("_any"),
        )
        .join(mc, "query_id")
        .filter(
            (F.col("_any") == 1) & (F.col("_mh") == F.col("n_must")) & (F.col("_mn") == 0)
        )
        .select("doc_id", "query_id", "score")
    )
