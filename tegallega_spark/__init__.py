"""tegallega_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of transportforbandung/Tegallega.

The reference (/root/reference) is a single-process batch ETL over transit
data (routes.json + GeoJSON + schedule CSVs → GTFS).  This package
re-expresses every operator in that pipeline (see SURVEY.md §2) as idiomatic
Spark DataFrame transformations, plus the large-scale training-data-pipeline
surface (dedup, similarity search, text analysis, multimodal plumbing,
streaming) the reference lacks.

Layout:
    session     — SparkSession factory with scale-aware defaults
    schemas     — explicit StructTypes for every table (SURVEY §1)
    functions/  — scalar column-expression builders (SURVEY §2.8)
    operators/  — relational + ML-data operators (joins, dedup, similarity,
                  spatial, stateful scans; SURVEY §2.3–2.7, §7)
    sources/    — nested-JSON / GeoJSON / two-header-CSV / GTFS readers
                  (SURVEY §2.1)
    pipeline/   — the end-to-end GTFS build (generate_gtfs.py parity)
    streaming/  — Structured Streaming surface over the events table
"""

__version__ = "0.1.0"
