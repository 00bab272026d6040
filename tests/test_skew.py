"""salted_join must be result-identical to a plain join and actually spread
a hot key across salt buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from helium_arango_etl_spark.operators.skew import SALT_COL, salt_big_side, salted_join


def _rows(df):
    return sorted(map(str, df.collect()))


def test_salted_join_matches_plain_inner(spark):
    # heavily skewed big side: 90% of rows share key 0
    big = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("dim"))
    plain = big.join(small, "k", "inner")
    salted = salted_join(big, small, "k", "inner", n_salts=8)
    assert _rows(plain) == _rows(salted)


def test_salted_join_matches_plain_left(spark):
    big = spark.range(0, 500).select((F.col("id") % 3).alias("k"), F.col("id").alias("payload"))
    small = spark.range(0, 2).select(F.col("id").alias("k"), F.lit("x").alias("dim"))
    plain = big.join(small, "k", "left")
    salted = salted_join(big, small, "k", "left", n_salts=4)
    assert _rows(plain) == _rows(salted)


def test_hot_key_actually_spreads(spark):
    big = spark.range(0, 1000).select(F.lit(0).alias("k"), F.col("id").alias("payload"))
    salted = salt_big_side(big, 8)
    buckets = salted.groupBy(SALT_COL).count().collect()
    assert len(buckets) == 8  # the single hot key occupies every salt bucket
    assert max(r["count"] for r in buckets) < 1000 * 0.4  # no bucket dominates

