"""engine — the Spark layer of spark-extract.

Distributes the pure-Python ``extraction`` core over Arrow batches:

- :mod:`engine.session`  — SparkSession builder (AQE on, Arrow on, UTC)
- :mod:`engine.pydaemon` — launches a local session's Python daemon on the
                           installed pyspark; it and this ``__init__``
                           import neither pyspark nor pandas
- :mod:`engine.salt`     — explicit url-salted repartitioning + giant-page
                           skew isolation (SURVEY.md §4 O6)
- :mod:`engine.stages`   — the vectorized stages, one implementation each
                           (SURVEY.md §2.10): staged detect and recognize,
                           and the fused per-doc mapInArrow stage
- :mod:`engine.pipeline` — the DataFrame DAG (fused and staged modes)
- :mod:`engine.tableio`  — Iceberg-style MERGE-by-url + resume anti-join on a
                           parquet-directory fallback (no Iceberg jar in
                           sandbox; SURVEY.md §7.3 H5)
- :mod:`engine.metrics`  — per-partition lineage/metrics table
"""
