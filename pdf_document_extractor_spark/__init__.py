"""spark-webtext-extract: a PySpark-native main-content extraction engine.

A brand-new engine (NOT a port) with the per-document extraction semantics of
MarkEnverus/pdf-document-extractor, re-expressed
Spark-first:

- ``core``      pure-Python extraction core (zero Spark imports) — the same
                functions serve as the pandas-UDF body on executors and as
                the pytest oracle, so byte-identity of extracted text holds
                by construction.
- ``fixtures``  deterministic seeded corpus generator (synthetic PDFs/HTML).
- ``operators`` Spark DataFrame operators: mapInPandas extraction, dedup
                family (exact / ngram-jaccard with its minhash-LSH scale
                path / connected-component clusters), text analysis, skew
                salting.
- ``sources``   pages-table readers/synthesis + snapshot-commit catalog
                (Iceberg when available, atomic parquet snapshots otherwise).
- ``plans``     the end-to-end job: resume anti-join -> url-hash
                repartition -> extract -> staged commit of the extracted
                rows and their lineage.
- ``streaming`` Structured Streaming variant of the extraction pass.
- ``worker``    Python-worker set-up every UDF body of the package runs
                first (skips re-reading unchanged zip imports per task).
"""

__version__ = "0.1.0"
