"""ght2dm_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
DevMine/ght2dm reference (batch ETL of GHTorrent dumps: newest-wins dedup,
type dispatch, FK resolution joins, extremal-row selection, derived-column
cleaning), re-expressed as idiomatic Spark DataFrame compositions, plus the
LLM-data-pipeline extension surface (dedup, similarity search, multimodal
columns, text analysis) designed for 100 TB scale.

Layout:
    session     SparkSession factory (AQE on, UTC, tuned shuffle partitions)
    schemas     explicit StructTypes for GHTorrent entities + output tables
    io          declared-schema parquet loads, session confs, bulk writer
    sources/    BSON dump reader (file-date provenance), WARC reader
    operators/  reusable relational operators (dedup, keys, joins, topk)
    functions/  scalar/column function library (cleaning, derive, text, vectors)
    pipelines/  the three reference ETL pipelines (users, repos, relations)
    queries/    declared-query registry (Spark callable + DuckDB oracle SQL)
    streaming/  Structured Streaming forms of the windowed/dedup operators
"""

__version__ = "0.1.0"
