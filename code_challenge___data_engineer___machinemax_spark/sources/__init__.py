"""Source/sink surface of the engine.

The concrete implementations live with their domains:

- parquet table loaders (incl. the TIMESTAMP(NANOS) events handling):
  ``tables.load_table``
- HTTP fetch stage (distributed, injectable, dead-letter errors):
  ``crawl.fetcher.fetch_stage``
- seed-URL file source: ``crawl.fetcher.urls_from_file``
- article store (parquet, versioned, optional hive partitioning, JSON
  boundary): ``crawl.ingest.ArticleStore``
- document download sink + ledger: ``crawl.ingest.download_files``
- posting store (one token-prefix partitioned relation; keyword probe
  and BM25): ``operators.search.materialize_bm25_index``
- streaming file source + memory/foreachBatch sinks: ``streaming.events``
- format round-trips (parquet/orc/json/csv null fidelity):
  tests/test_sources.py

Everything reads/writes through ``spark.read``/``df.write`` so Catalyst
keeps pushdown, pruning, and partitioning control.
"""
