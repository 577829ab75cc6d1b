"""ug_dwh_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference warehouse ETL (curarin/ug-dwh-etl), rebuilt
on the DataFrame / Spark SQL / Catalyst stack:

- ``sources``    — the distributed paginated-REST ingest (the reference's
                   Audisto fetch). Files are read with Spark's own readers;
                   the events table through ``queries.registry.read_events``
                   (and ``streaming.jobs.read_events_stream``), which probe
                   its timestamp layout. Drive/IMAP fetches are not on a
                   user path (no network in the build).
- ``sinks``      — append/overwrite/partitioned writers, retention, alert
                   hooks (the reference's BigQuery + Teams
                   surface).
- ``functions``  — the expression-macro library: every scalar transform the
                   reference performs as a pandas ``.apply`` lambda,
                   re-expressed as native Column expressions (zero Python
                   UDFs on this surface).
- ``operators``  — relational extensions (as-of join, top-k, dq gates),
                   table maintenance (``storage.optimize_table``) and
                   the LLM-data-pipeline operators (dedup, similarity
                   search, text analysis, multimodal plumbing).
- ``plans``      — declarative Pipeline composition (read → transform →
                   persist → gates → fan-out write) mirroring the
                   reference's script shape; ``plans.daily`` holds which
                   tables append and which replace, and runs the day's
                   pipelines concurrently.
- ``streaming``  — the incremental surface: Trigger.AvailableNow file
                   streams, watermarked windows, stream dedup.

Each layer's ``__init__.py`` is empty: import a name from the module
that defines it.

Everything here derives from public knowledge only: the Apache Spark API
and the reference repo's observable behavior.
"""

__version__ = "0.1.0"
