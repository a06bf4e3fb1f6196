"""lol_data_collection_system_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query and data-processing
capabilities of the reference system Mew-www/lol-data-collection-system
(a Django + PostgreSQL LoL match collection/analysis stack). The reference
executes everything as single-threaded imperative Python over row stores;
this engine declares the same semantics as DataFrame/SQL logical plans and
lets Catalyst/Tungsten/AQE pick physical strategies, so the same queries
scale from a laptop to a 1000-executor cluster.

Layout
------
- ``session``    — SparkSession factory tuned for analytics (AQE, Arrow).
- ``schemas``    — StructTypes for the reference data model (SURVEY.md §1).
- ``sources``    — scans/sinks: parquet tables, CSV telemetry, JSON docs,
                   rate-limited REST connector scaffold (SURVEY.md §2.1).
- ``operators``  — the §2 operator inventory: filters, joins (as-of, range,
                   anti), aggregations, windows (trailing/streaks/cumulative/
                   sliding), set ops, top-k, fight extraction, role
                   inference, dedup (exact/MinHash/SimHash/Jaccard), ANN
                   similarity, text analysis, multimodal plumbing.
- ``plans``      — composed pipelines (history aggregation, feature flatten).
- ``streaming``  — Structured Streaming layer (two-phase upsert, sliding
                   rate-limit windows, session windows).
"""

__version__ = "0.1.0"
