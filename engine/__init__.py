"""spark-graft engine: a PySpark-native analytics engine.

Capabilities spec: SURVEY.md §2; its operator inventory is the binding
spec.

Layout: one module per operator domain, chosen by the key's prefix:
aggs, dedup, etl, fileio, functions, multimodal, pipeline, relational,
sql, streaming, text, tpch, vectors and windows (README.md has the
prefix table). Beside them sit the support modules: cache (input-keyed
memo and fixtures), registry (``@query`` and ``collect()``), session,
tables (pinned schemas and loaders) and tmpdirs (scratch directories).

Design: everything is DataFrame/SQL so Catalyst + AQE optimize it (predicate
pushdown, column pruning, broadcast conversion, partial aggregation, skew
handling). Python UDFs appear only in the §2.K UDF-surface operators and the
vectorized similarity fast path; every other operator stays JVM-side.

Use ``engine.registry.collect()`` to get the populated QUERIES/ORACLES maps;
it imports every module of this package.
"""
