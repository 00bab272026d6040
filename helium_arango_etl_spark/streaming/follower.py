"""The reference's polling follower (etl.py:132-149) re-expressed as
Structured Streaming.

Mapping (SURVEY.md §2.L):
- L1 bounded backfill          -> ``trigger(availableNow=True)`` one-shot stream
- L2 poll every 1200 s         -> ``trigger(processingTime='1200 seconds')``
- L3 5-day witness retention   -> recompute filter per refresh (apply_retention);
                                  in a true stream: withWatermark + state TTL
- L4 idempotent re-sync        -> content-hash keys + first-write-wins merge in
                                  ``foreachBatch``
- L5 sync-height cursor        -> the stream checkpoint (exactly-once source
                                  tracking for free)

The stream and the batch backfill share one code path: the same
payment-edge function (``plans.sync.payment_edges``) and the same
append-only ``ignore`` merge (``plans.sync._write_merged``), which writes
only the micro-batch's fresh rows as new files, like the reference's
``importBulk(onDuplicate='ignore')`` — the point of the Spark rewrite: the
reference implements this machinery by hand (cursor advance, chunk loops,
multiprocessing); here it is configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..io import apply_retention, normalize_event_ts, parquet_schema
from ..plans.sync import _replace, _write_merged, payment_edges, read_collection


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, with the schema a file
    source requires taken from the table's footer (no Spark job).  ``ts``
    is normalized schema-adaptively (epoch-nanos long or native timestamp
    — same convention as io.read_table)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(parquet_schema(os.path.join(sf_dir, "events.parquet")))
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


def follow_payments(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Run the follower: stream events -> payment edges -> idempotent merge
    per micro-batch, and return the query.  ``processing_time=None`` runs
    availableNow (bounded backfill, L1) and returns once it has finished;
    a value like '1200 seconds' reproduces the reference's poll cadence
    (L2) and returns the running query for the caller to await or stop."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_merged(batch_df.sparkSession, out_dir, "payments", batch_df, "ignore")

    writer = payment_edges(_events_stream(spark, sf_dir)).writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def evict_witnesses(spark: SparkSession, out_dir: str, cutoff) -> None:
    """L3 retention: commit a new version of the witnesses collection
    keeping rows at/after the cutoff (reference: AQL remove,
    arango_queries.py:90-99)."""
    kept = apply_retention(read_collection(spark, out_dir, "witnesses"), "time", cutoff)
    _replace(out_dir, "witnesses", kept.write.parquet)
