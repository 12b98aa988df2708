"""sparktext — a from-scratch PySpark-native fulltext index + BM25 +
faceted-aggregation engine with the capabilities of
``anti-social/tantivy-aggregations`` (reference empty at build time; see
SURVEY.md §0 — behavior pinned by BASELINE.json + public tantivy semantics).

Layout (SURVEY.md §7):

- :mod:`sparktext.tokenizer`  — A1/A2 vectorized tokenizer pipeline
- :mod:`sparktext.fieldnorm`  — A7/§4.5 lossy 1-byte fieldnorm quantization
- :mod:`sparktext.codec`      — A5 docID-delta varint/FOR 128-doc block codec
- :mod:`sparktext.build`      — A3,A4,A6,A8 index build (segments, term
  dict, doc meta)
- :mod:`sparktext.manifest`   — A12 persisted layout: commit log, resume,
  append, compaction, vacuum
- :mod:`sparktext.merge`      — A10/§4.7 segment merge w/ salted repartition
- :mod:`sparktext.query`      — B1–B7 query AST + parser + matching
- :mod:`sparktext.score`      — B8 BM25, B10 block-max WAND pruning
- :mod:`sparktext.topk`       — B9 top-k collector (TakeOrderedAndProject)
- :mod:`sparktext.aggs`       — C1–C14 aggregation collectors
- :mod:`sparktext.session`    — SparkSession config (Arrow, AQE, shuffle)
- :mod:`sparktext.textops`    — training-data pipeline ops (dedup, minhash,
  simhash, lang-id, quality, fingerprint, token counts) + the composed
  ``training_data_pipeline`` (exact dedup -> quality -> lang -> near-dup)
- :mod:`sparktext.porter2`    — built-in Snowball-English stemmer (A2)
- :mod:`sparktext.ann`        — similarity search over embedding columns
- :mod:`sparktext.streaming`  — Structured Streaming ingest sink (micro-
  batch appends through the A12 commit log; exactly-once)
- :mod:`sparktext.multimodal` — binary media columns: magic-byte meta,
  REAL PPM/BMP/PNG + PCM-WAV decode, Arrow-batched featurizers
- :mod:`sparktext.sources`    — corpus sources (parquet; gated Iceberg)
"""

from sparktext.session import get_spark  # noqa: F401

__version__ = "0.1.0"
