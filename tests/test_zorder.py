"""Z-order clustering: the layout must measurably improve file-level
min/max pruning on BOTH clustered columns versus a single-column sort,
and the write must be deterministic (no repartitionByRange sampling)."""

from __future__ import annotations

from pyspark.sql import functions as F

from helium_arango_etl_spark.io import read_table, write_zordered


def _files_hit(spark, path, col, lo, hi):
    """Files whose [min, max] footer range for `col` intersects [lo, hi]
    — what a stats-based reader would have to open."""
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
        .collect()
    )
    total = len(per_file)
    hit = sum(1 for r in per_file if not (r["mx"] < lo or r["mn"] > hi))
    return hit, total


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    b = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("us"), F.max("us")
    ).first()
    bounds = (b[0], b[1], b[2], b[3])

    zpath = str(tmp_path / "z")
    write_zordered(ev, zpath, "user_id", "us", bounds, num_files=8)

    # baseline: time-sorted layout (the natural ingest order)
    tpath = str(tmp_path / "t")
    ev.repartition(8, F.expr("us div 604800000000")).sortWithinPartitions(
        "us"
    ).write.mode("overwrite").parquet(tpath)

    assert spark.read.parquet(zpath).count() == ev.count()

    # point-ish queries on each dimension
    u_lo, u_hi = bounds[0], bounds[0] + (bounds[1] - bounds[0]) // 16
    t_lo, t_hi = bounds[2], bounds[2] + (bounds[3] - bounds[2]) // 16

    zu, zn = _files_hit(spark, zpath, "user_id", u_lo, u_hi)
    tu, tn = _files_hit(spark, tpath, "user_id", u_lo, u_hi)
    zt, _ = _files_hit(spark, zpath, "us", t_lo, t_hi)
    tt, _ = _files_hit(spark, tpath, "us", t_lo, t_hi)

    # the time-sorted layout cannot prune on user_id at all; z-order must
    assert tu == tn, (tu, tn)
    assert zu < zn, (zu, zn)
    # and z-order still prunes on time (worse than a pure time sort, but
    # strictly better than nothing)
    assert zt < zn, (zt, zn)
    assert tt < tn

    # determinism: a second write produces identical per-file contents
    zpath2 = str(tmp_path / "z2")
    write_zordered(ev, zpath2, "user_id", "us", bounds, num_files=8)
    h1 = sorted(
        r["h"]
        for r in spark.read.parquet(zpath)
        .groupBy(F.input_file_name())
        .agg(F.sum(F.crc32(F.col("event_id").cast("string"))).alias("h"))
        .collect()
    )
    h2 = sorted(
        r["h"]
        for r in spark.read.parquet(zpath2)
        .groupBy(F.input_file_name())
        .agg(F.sum(F.crc32(F.col("event_id").cast("string"))).alias("h"))
        .collect()
    )
    assert h1 == h2


def test_zorder_stale_bounds_clamp_not_crash(spark, sf_dir, tmp_path):
    """Catalog bounds go stale on a growing table: values OUTSIDE the
    supplied domain must clamp into the edge buckets (degraded
    clustering), never error or drop rows."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    b = ev.agg(F.min("user_id"), F.max("user_id"), F.min("us"), F.max("us")).first()
    # pretend the stats store only saw the middle half of both domains
    stale = (
        b[0] + (b[1] - b[0]) // 4,
        b[1] - (b[1] - b[0]) // 4,
        b[2] + (b[3] - b[2]) // 4,
        b[3] - (b[3] - b[2]) // 4,
    )
    path = str(tmp_path / "stale")
    write_zordered(ev, path, "user_id", "us", stale, num_files=4)
    assert spark.read.parquet(path).count() == ev.count()


def test_zorder_files_are_contiguous_intervals(spark, sf_dir, tmp_path):
    """Identity bucket->partition routing (ADVICE r3): every output file
    must hold exactly one contiguous Z-interval — file Z-ranges must not
    overlap, which hash-routing the bucket id cannot guarantee."""
    from helium_arango_etl_spark.io import ZORDER_BITS, zorder_key

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    b = ev.agg(F.min("user_id"), F.max("user_id"), F.min("us"), F.max("us")).first()
    bounds = (b[0], b[1], b[2], b[3])
    zpath = str(tmp_path / "zc")
    write_zordered(ev, zpath, "user_id", "us", bounds, num_files=8)

    z = zorder_key("user_id", "us", *bounds)
    ranges = sorted(
        (r["mn"], r["mx"])
        for r in spark.read.parquet(zpath)
        .withColumn("_z", z)
        .groupBy(F.input_file_name())
        .agg(F.min("_z").alias("mn"), F.max("_z").alias("mx"))
        .collect()
    )
    assert len(ranges) >= 2  # the data actually spans multiple buckets
    chunk = (1 << (2 * ZORDER_BITS)) // 8 + 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges  # strictly disjoint intervals
    for lo, hi in ranges:
        assert lo // chunk == hi // chunk, ranges  # one bucket per file


def test_spread_heuristic_no_rdd_probe(spark, sf_dir, tmp_path):
    """spread() must fan out a single-file source, leave a many-split
    source alone, and pass through plans with no scannable inputs."""
    from helium_arango_etl_spark.io import _size_to_bytes, spread

    assert _size_to_bytes("134217728") == 134217728
    assert _size_to_bytes("134217728b") == 134217728
    assert _size_to_bytes("128m") == 128 << 20
    assert _size_to_bytes("128MB") == 128 << 20

    one = str(tmp_path / "one")
    read_table(spark, sf_dir, "events").coalesce(1).write.parquet(one)
    df1 = spark.read.parquet(one)
    assert spread(df1).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    many = str(tmp_path / "many")
    read_table(spark, sf_dir, "events").repartition(64).write.parquet(many)
    df2 = spark.read.parquet(many)
    assert spread(df2) is df2

    rng = spark.range(10)  # no input files: untouched
    assert spread(rng) is rng


def test_identity_salts_memoized_per_session(spark):
    """The salt probe is a pure function of n — the driver-side job must
    run at most once per (session, n) however many zordered writes a
    session performs (VERDICT r5 #5)."""
    from helium_arango_etl_spark import io as io_mod
    from helium_arango_etl_spark.session import clear_caches

    clear_caches(spark)
    first = io_mod._identity_salts(spark, 8)
    assert len(first) == 8

    # second call must be served from the memo: poison the probe entry
    # point so any re-run fails loudly
    orig_range = spark.range
    try:
        spark.range = lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("salt probe re-ran for a cached (session, n)")
        )
        again = io_mod._identity_salts(spark, 8)
    finally:
        spark.range = orig_range
    assert again is first

    # a different n is a different memo entry (and may probe)
    other = io_mod._identity_salts(spark, 4)
    assert len(other) == 4
    # the content property: salt p routes to partition p under mod n
    routed = (
        spark.createDataFrame([(s,) for s in other], "s long")
        .select(F.pmod(F.hash("s"), F.lit(4)).alias("p"))
        .collect()
    )
    assert sorted(r["p"] for r in routed) == [0, 1, 2, 3]
    assert [r["p"] for r in routed] == list(range(4))
