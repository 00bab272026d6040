"""Table I/O: parquet (and JDBC) readers and keyed parquet sinks.

Every engine parquet read takes its schema from one footer, no inference
job: :func:`parquet_schema` reads a single footer on the driver and the
read passes it to ``spark.read.schema(...)``, so building the frame runs
no Spark job.  A file Spark wrote records its exact row schema in that
footer, which is what a file source needs (the discipline Structured
Streaming imposes on file sources), so no sidecar is kept.

The reference's sinks are ArangoDB ``importBulk`` calls with per-key conflict
policies (reference: arango_queries.py:211-258):

- ``onDuplicate='update'``  -> :func:`merge_upsert`   (last write wins per key and attribute)
- ``onDuplicate='ignore'``  -> :func:`merge_ignore`   (first write wins per key)
- AQL retention delete      -> :func:`apply_retention` (arango_queries.py:90-99)

Here the "collections" are keyed parquet tables.  Both merge flavors are pure
DataFrame plans (left-anti join + unionByName), so Catalyst plans the join
(broadcast when the delta is small — the common incremental case) and the
writer stays idempotent: re-running a sync with the same inputs produces a
table with the same rows, which is the reference's core operational
guarantee (etl.py:143-147 cursor advance + content-hash keys).
``merge_ignore`` is ``old ∪ fresh_rows(old, new)``: the store
(``plans.sync._write_merged``) writes only :func:`fresh_rows` as new files
beside the committed ones, so these functions are the semantic spec that
the append-only writer is tested against.

Scale notes: the left-anti join shuffles on ``_key`` only when both sides are
large; incremental deltas are broadcast by AQE.  For truly huge targets,
partition the stored table by a stable bucket of ``_key``
(``F.pmod(F.xxhash64('_key'), N)``) so the anti-join becomes partition-local.

Production sink design (100 TB, not exercised in this sandbox): a keyed
upsert over a 100 TB table should be a transactional table-format MERGE —
``MERGE INTO target USING delta ON target._key = delta._key WHEN MATCHED
UPDATE ... WHEN NOT MATCHED INSERT ...`` on Delta Lake or Iceberg.  The
format's transaction log gives atomic multi-file commits + snapshot
isolation, file-level pruning (copy-on-write rewrites only data files
containing matched keys; merge-on-read defers even that to deletion
vectors / positional deletes), and time travel.  The store here already
has the log-free half of that design: an ``ignore`` merge is an INSERT of
fresh rows as new immutable files, each committed by an atomic rename
(Spark's own file-sink scheme, minus the ``_spark_metadata`` log), and an
upsert or retention pass commits a whole new version by renaming the
directory aside and the staged one in.  What the log would add is a
multi-file atomic commit and readers isolated from a half-applied append.
The plan shape is unchanged — MERGE compiles to the same keyed
anti/semi-join against the delta that merge_upsert/fresh_rows declare, so
these implementations remain the engine-portable semantic spec (and the
test oracle) for that MERGE; only the writer swaps.  Retention
(apply_retention) likewise becomes a metadata-only ``DELETE WHERE ts <
cutoff`` on a time-partitioned table; the store here is unpartitioned, so
retention rewrites the collection.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Spark's parquet writer records the row schema it wrote under this footer key
_SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_files(path: str):
    """The data files Spark reads for ``path``, in sorted order: ``path``
    itself, or every file under it except names that start with ``_`` or
    ``.`` (``_SUCCESS``, ``.crc`` checksums)."""
    if not os.path.isdir(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


# Spark's type for a parquet column without a logical type; INT96 is the
# legacy timestamp encoding
_UNANNOTATED = {
    "BOOLEAN": T.BooleanType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "INT96": T.TimestampType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "BYTE_ARRAY": T.BinaryType(),
    "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
}
# an unsigned int widens to the next signed type, 64 bits to decimal(20, 0)
_INTS = {
    True: {8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType(), 64: T.LongType()},
    False: {8: T.ShortType(), 16: T.IntegerType(), 32: T.LongType(), 64: T.DecimalType(20, 0)},
}


def _leaf_type(col) -> T.DataType:
    """Spark type of one parquet leaf column, decided from its physical and
    logical types as Spark's ``ParquetToSparkSchemaConverter`` does with
    default settings (``nanosAsLong`` on, ``binaryAsString`` off).  The
    Arrow type alone would mislead: INT96 shows as ``timestamp[ns]`` but
    Spark reads it as a timestamp, not as a long."""
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "None":
        return _UNANNOTATED[col.physical_type]
    if kind == "Decimal":
        return T.DecimalType(col.precision, col.scale)
    if kind in ("String", "Enum", "JSON"):
        return T.StringType()
    if kind == "BSON":
        return T.BinaryType()
    if kind == "Date":
        return T.DateType()
    if kind == "Int":
        return _INTS[logical["isSigned"]][logical["bitWidth"]]
    if kind == "Timestamp":
        if logical["timeUnit"] == "nanoseconds":
            return T.LongType()
        return T.TimestampType() if logical["isAdjustedToUTC"] else T.TimestampNTZType()
    raise ValueError(f"parquet column {col.path}: no Spark type for {col.physical_type} {kind}")


def _spark_type(arrow_type, leaves) -> T.DataType:
    """Spark type of one Arrow field: nesting from the Arrow type, each leaf
    from the next parquet column of ``leaves`` (depth-first order)."""
    import pyarrow as pa

    if pa.types.is_struct(arrow_type):
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type, leaves), f.nullable) for f in arrow_type]
        )
    if pa.types.is_map(arrow_type):
        key = _spark_type(arrow_type.key_type, leaves)
        return T.MapType(key, _spark_type(arrow_type.item_type, leaves), arrow_type.item_field.nullable)
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        element = arrow_type.value_field
        return T.ArrayType(_spark_type(element.type, leaves), element.nullable)
    return _leaf_type(next(leaves))


def parquet_schema(path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, from one footer
    read on the driver and no Spark job.

    A file Spark wrote records its row schema in the footer, which is
    returned as is.  Any other file's schema is mapped from its parquet
    types (see :func:`_leaf_type`).  For a directory the footer is that of
    its first data file, the same one Spark reads with ``mergeSchema`` off.
    ``path`` is a local path.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    first = next(_parquet_files(os.fspath(path)), None)
    if first is None:
        raise FileNotFoundError(f"no parquet data file under {path} to take a schema from")
    meta = pq.read_metadata(first)
    spark_schema = (meta.metadata or {}).get(_SPARK_ROW_SCHEMA_KEY)
    if spark_schema is not None:
        return T.StructType.fromJson(json.loads(spark_schema))
    leaves = (meta.schema.column(i) for i in range(meta.num_columns))
    return _spark_type(pa.struct(list(meta.schema.to_arrow_schema())), leaves)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema pinned by
    :func:`parquet_schema`, so building the frame runs no Spark job."""
    return spark.read.schema(parquet_schema(path)).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table from a scale-factor directory: schema from
    one footer, no inference job (:func:`read_parquet`).

    Reference analog: the SQLAlchemy ORM table scan (blockchain_queries.py:44,
    74).  Predicate pushdown and column pruning into the parquet scan are
    Catalyst's job — callers just filter/select.

    ``events.ts`` has shipped in two physical forms across testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark only reads as long,
    via the legacy flag) and plain TIMESTAMP(MICROS).  Normalize
    schema-adaptively so callers always see a microsecond timestamp — the
    same value DuckDB yields for either physical type.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``ts`` to a session-TZ (UTC-pinned) microsecond timestamp.

    Three physical forms have shipped across testdata generations:
    epoch-nanos long (floor-divided to micros — integer ``div``, not ``/``:
    epoch-nanos ~1.7e18 overflows double precision), TIMESTAMP_NTZ (cast is
    value-preserving because the session timezone is pinned to UTC, matching
    DuckDB's naive-timestamp reading), and plain TIMESTAMP (passthrough).
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def jdbc_scan_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    **extra: object,
) -> dict[str, str]:
    """Option dict for a (partitioned) JDBC scan — separated from the reader
    call so the plumbing is unit-testable without a live database.

    A partition spec must be complete: Spark silently falls back to a
    SINGLE-connection scan when any of column/bounds/numPartitions is
    missing, which at warehouse scale is the difference between a parallel
    read and an hours-long serial one — so an incomplete spec raises here.
    """
    opts: dict[str, str] = {"url": url, "dbtable": table, "fetchsize": str(fetchsize)}
    partition_spec = (partition_column, lower_bound, upper_bound, num_partitions)
    if any(v is not None for v in partition_spec):
        if any(v is None for v in partition_spec):
            raise ValueError(
                "partitioned JDBC scan needs ALL of partition_column, "
                "lower_bound, upper_bound, num_partitions"
            )
        opts.update(
            {
                "partitionColumn": str(partition_column),
                "lowerBound": str(lower_bound),
                "upperBound": str(upper_bound),
                "numPartitions": str(num_partitions),
            }
        )
    opts.update({k: str(v) for k, v in extra.items()})
    return opts


def read_jdbc_table(spark: SparkSession, url: str, table: str, **kwargs) -> DataFrame:
    """Partitioned JDBC source — the reference's ACTUAL input is Postgres
    (blockchain_queries.py:44,74 scan SQLAlchemy models over one
    connection, paging with block-height bounds).  Here N executor
    connections each read one stride of the partition column concurrently;
    the reference's LIMIT/OFFSET + keyset pagination (SURVEY §4 F5/F6/K3)
    collapses into the partition bounds.  Typical call for the rewards
    fact::

        read_jdbc_table(spark, url, "rewards",
                        partition_column="block", lower_bound=first_block,
                        upper_bound=current_height, num_partitions=256)

    Catalyst pushes filters/projections into the generated per-partition
    queries (JDBC relation supports predicate pushdown), so the B2/B3
    operators prune at the database, same as the parquet path.
    """
    return spark.read.format("jdbc").options(**jdbc_scan_options(url, table, **kwargs)).load()


def spread(df: DataFrame, per_task_bytes: int = 0) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism — but ONLY when
    the source is under-split (fewer than half the parallelism in partitions).

    A parquet file is splittable at row-group boundaries only; a file written
    as one row group (or a gzip text file, etc.) scans as ONE task, so every
    CPU-heavy map stage downstream runs single-threaded no matter how many
    cores exist.  This helper is the principled fix: pay one small shuffle of
    the raw rows to unlock N-way map parallelism.  On a well-split source
    (the 100 TB case: thousands of row groups) it is a no-op, so pipelines
    keep the shuffle-free scan path at scale.

    Under-split detection reads ``df.inputFiles()`` + file sizes against
    spark.sql.files.maxPartitionBytes — the same arithmetic the scan
    planner uses — instead of probing ``df.rdd.getNumPartitions()``,
    which materializes the RDD lineage of the whole plan (VERDICT r3
    watch item).  A plan with no scannable inputs (in-memory ranges,
    post-shuffle derivations) is returned unchanged: its parallelism is
    already decided upstream, not by file splits.  Non-local files whose
    size we cannot stat count as one split each — the conservative
    reading that keeps spread() a no-op only when splits are provably
    plentiful is NOT chosen because an unneeded repartition of a 100 TB
    scan costs far more than a missed one here.
    """
    import os
    from urllib.parse import urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    threshold = max(2, target // 2)
    files = df.inputFiles()
    if not files:
        return df
    max_bytes = _size_to_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    )
    est_splits = 0
    total_bytes = 0
    for f in files:
        parsed = urlparse(f)
        size = 0
        if parsed.scheme in ("", "file"):
            try:
                size = os.path.getsize(parsed.path)
            except OSError:
                size = 0
        total_bytes += size
        est_splits += max(1, -(-size // max_bytes))  # ceil-div, >=1 per file
        if est_splits >= threshold and per_task_bytes <= 0:
            return df
    if est_splits >= threshold:
        return df
    if per_task_bytes > 0:
        # Work-aware fan-out cap (guide §2.2/§4): a tiny under-split input
        # does NOT deserve one task per core — the per-task fixed cost
        # (scheduling + Python worker handshake + Arrow framing for the
        # opaque-map callers) exceeds the per-task work, and the 8-vs-32
        # core scaling probe showed the full fan-out ANTI-scaling at small
        # inputs (BENCH_r10 image_features ratio 0.49).  Target one task
        # per `per_task_bytes` of input, still capped at the cluster's
        # parallelism, so a genuinely large input keeps every core busy.
        target = max(1, min(target, total_bytes // per_task_bytes))
        if target == 1 and est_splits <= 1:
            return df  # already a single split; repartition adds pure cost
    return df.repartition(target)


_SIZE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _size_to_bytes(s: str) -> int:
    """Parse Spark size-config strings: '134217728', '134217728b',
    '128m', '128MB' — digits then an optional unit suffix."""
    s = str(s).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, unit = s[:i], s[i:].strip()
    unit = unit[:1] if unit[:1] in _SIZE_UNITS else ""
    return max(1, int(num) * _SIZE_UNITS[unit])


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql() plans."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def merge_upsert(old: DataFrame, new: DataFrame, key: str = "_key") -> DataFrame:
    """Insert-or-merge by key: a row in ``new`` replaces the attributes it
    carries on the same-keyed ``old`` row and keeps the old values of the
    columns ``new`` lacks; keys only in ``old`` survive unchanged.

    Reference: importBulk(onDuplicate='update'), arango_queries.py:222-227.
    When ``new`` has every column of ``old`` (a full snapshot re-import)
    the plan is a plain replace: no join carries anything over.
    """
    surviving_old = old.join(new.select(key), on=key, how="left_anti")
    missing = [c for c in old.columns if c not in new.columns]
    if missing:
        new = new.join(old.select(key, *missing), on=key, how="left").select(
            *new.columns, *missing
        )
    return new.unionByName(surviving_old, allowMissingColumns=True)


def fresh_rows(old: DataFrame, new: DataFrame, key: str = "_key") -> DataFrame:
    """The rows an insert-if-absent merge adds: ``new`` deduped on ``key``,
    minus every key already in ``old``.  Only ``old``'s key column is read,
    so callers may pass a key-only scan of the stored table.
    """
    return new.dropDuplicates([key]).join(old.select(key), on=key, how="left_anti")


def merge_ignore(old: DataFrame, new: DataFrame, key: str = "_key") -> DataFrame:
    """Insert-if-absent by key: first write wins, duplicates dropped.

    Reference: importBulk(onDuplicate='ignore'), default at
    arango_queries.py:322 — used for payments, witnesses, cities.
    ``new`` is also deduped within itself (the reference relies on Arango
    dropping intra-batch duplicate keys).
    """
    return old.unionByName(fresh_rows(old, new, key), allowMissingColumns=True)


def apply_retention(df: DataFrame, time_col: str, cutoff) -> DataFrame:
    """Keep rows at/after ``cutoff`` — the witness retention delete.

    Reference: AQL ``FILTER w.time < @cutoff REMOVE w`` (arango_queries.py:
    90-99, invoked etl.py:97).  As a declarative rewrite this is just the
    complement filter, and the store rewrites the collection with it.
    """
    return df.filter(F.col(time_col) >= F.lit(cutoff))


def write_keyed(df: DataFrame, path: str) -> None:
    """Persist a keyed collection table, replacing what is at ``path``."""
    df.write.mode("overwrite").parquet(path)


TARGET_FILE_ROWS = 1_000_000


def compact_parquet(
    spark: SparkSession, path: str, out_path: str, target_rows: int = TARGET_FILE_ROWS
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(rows / target_rows) files — the maintenance pass every
    streaming/incremental sink needs, because a foreachBatch or
    availableNow writer emits one file per trigger per partition and a
    100 TB table read through 10M tiny files spends longer opening
    footers than scanning data.

    Row-count-based sizing (not byte-based) keeps the operation
    deterministic and engine-portable; callers with wildly variable row
    widths should derive target_rows from their schema.  The row count is
    summed from the data files' footers, so no Spark job runs before the
    write.  Returns the number of files written.  Uses coalesce (no
    shuffle) when reducing, repartition when the source is under-split.
    """
    import math

    import pyarrow.parquet as pq

    df = read_parquet(spark, path)
    n = sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))
    files = max(1, math.ceil(n / target_rows))
    cur = df.rdd.getNumPartitions()
    out = df.coalesce(files) if cur >= files else df.repartition(files)
    out.write.mode("overwrite").parquet(out_path)
    return files
