"""sparksearch — a PySpark-native inverted-index + BM25 top-k engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the reference search engine (OpenSearch / Lucene-style), expressed Spark-first:
DataFrame transforms + vectorized Arrow UDFs, no per-row Python.

Modules:
  norms     — Lucene-compatible SmallFloat 1-byte length quantization
  porter    — Porter (1980) stemmer, official-C-version departures included
  analysis  — char filters / tokenizers / token filters (standard analyzer)
  extract   — frozen html→text extractor (byte-identical contract)
  bm25      — Okapi BM25 scoring math (k1=1.2, b=0.75, quantized norms)
  oracle    — pure-NumPy single-node reference engine for rank-identity tests
  corpus    — deterministic Common-Crawl-style pages corpus generator
  build     — distributed index build (tokens → stats → postings → segments)
  segments  — Parquet-native 128-doc posting blocks with block-max metadata
  query     — query AST + DataFrame execution (match / bool / phrase → top-k)
  textops   — training-data pipeline ops (dedup, lang-id, quality, fingerprint)
  similarity— embedding similarity search (brute-force + LSH-bucketed ANN)
"""

__version__ = "0.1.0"
