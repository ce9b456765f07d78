"""elasticsearch_assets_spark — a PySpark-native full-text analytics engine.

A from-scratch re-expression of the capabilities of
terascope/elasticsearch-assets (Teraslice reader/writer processors +
the Elasticsearch query semantics they delegate to) as an idiomatic
Spark engine:

- ``functions.analyzer``   — code-aware tokenization (identifier/camelCase/path)
- ``indexing``             — inverted-index build: postings, term dict, doc norms,
                             varbyte-packed blocks, salted shuffle for hot terms
- ``query``                — Lucene-syntax parser -> AST -> DataFrame plans,
                             BM25 (k1=1.2, b=0.75) scoring, block-max WAND top-k
- ``operators``            — reader semantics (date/id slicing, count, geo),
                             bulk-writer semantics (index/create/upsert/delete),
                             dedup, similarity search, text analysis
- ``plans``                — index commit log + checkpoint/resume
- ``streaming``            — delayed tumbling windows (persistent reader mode)
- ``sources``              — document-table readers / state storage

Everything is DataFrame-first: Catalyst handles pushdown/pruning; Python
appears only in Arrow-vectorized pandas UDFs, never per-row.
"""

__version__ = "0.1.0"
