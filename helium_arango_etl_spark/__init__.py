"""helium_arango_etl_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ``evandiewald/helium-arango-etl``.

The reference (read-only at /root/reference) is a single-process Python ETL
daemon moving Helium blockchain data from Postgres into an ArangoDB property
graph.  This package re-expresses every operator it implements (SURVEY.md §2)
as idiomatic Spark DataFrame plans — declarative, Catalyst-optimized,
shuffle-aware — plus the large-scale training-data operators (dedup,
similarity search, text analysis, multimodal plumbing) a 100 TB pipeline
needs.

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, UTC).
- ``io``         table readers + keyed merge/ignore/overwrite sinks
                 (reference: arango_queries.py:211-258 importBulk semantics).
- ``functions``  scalar/vector/text/geo column expressions (all JVM built-ins;
                 zero row-at-a-time Python UDFs).
- ``operators``  the query surface: relational core, windows, graph metrics,
                 dedup, similarity, text analysis, multimodal.
- ``plans``      end-to-end DAGs mirroring the reference's entry points
                 (inventory sync, payments backfill, witness import).
- ``streaming``  the incremental block follower (``streaming.follower``:
                 availableNow backfill, processingTime polling, checkpoint).
- ``registry``   name -> (spark callable, oracle SQL) for the driver contract.
"""

__version__ = "0.1.0"
