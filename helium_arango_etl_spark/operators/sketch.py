"""Engine-portable HyperLogLog: cardinality estimation whose ESTIMATE is
bit-reproducible across engines, so the sketch itself is oracle-checkable
(``approx_count_distinct`` and friends are engine-specific and can only be
tested against tolerance bands).

Construction (Flajolet et al. 2007, m = 64 registers):

- register  = first 8 bits of md5(value)  mod 64
- rank      = 1-based position of the first set bit in the next 24 bits
              (25 when all zero), via ``lpad(bin(x), 24, '0')`` — both
              Spark and DuckDB print identical binary strings
- register aggregation is MAX(rank): order-insensitive, shuffle is 64
  tiny rows after map-side partial aggregation — the whole point of a
  sketch at 100 TB scale
- estimate  = alpha_64 * m^2 / (sum(2^-rank) + zero_registers), with the
  standard linear-counting correction below 2.5m when empty registers
  remain.

Float determinism: every 2^-rank term is a dyadic rational with
denominator <= 2^25 and there are <= 64 of them, so every partial sum is
exactly representable in float64 — the register sum is EXACT regardless
of aggregation order, and the final multiply/divide are single IEEE ops
both engines round identically.  Only the linear-counting branch uses a
transcendental (ln); results are rounded to 4 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table, spread

HLL_M = 64  # registers
HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007, table for m = 64)

CMS_D = 4  # count-min hash rows
CMS_W = 64  # count-min columns per row
# cell assignment: row d + token -> column via a 28-bit md5 prefix, so
# counter tables built on disjoint inputs merge by cell-wise addition
CMS_CELL_EXPR = (
    "cast(conv(substring(md5(concat(d, '|', token)), 1, 7), 16, 10) as bigint)"
    f" % {CMS_W}"
)

# md5 hex -> (register, 24-bit tail) -> rank of first set bit
_REG = f"cast(conv(substring(h, 1, 2), 16, 10) as bigint) % {HLL_M}"
_TAIL = "cast(conv(substring(h, 3, 6), 16, 10) as bigint)"
_RANK = "IF(instr(lpad(bin(x), 24, '0'), '1') = 0, 25, instr(lpad(bin(x), 24, '0'), '1'))"


def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream (Cormode &
    Muthukrishnan 2005), engine-portable like :func:`hll_distinct`: cell
    assignment is md5('<d>|<token>') so both engines build the identical
    CMS_D x CMS_W counter table, and the per-token estimate
    (min over rows of the hashed cell) is exactly reproducible.

    Output: per distinct token, the exact count next to the sketch
    estimate and its overcount (always >= 0: CMS never undercounts).
    At scale only the 4x64 counter table is kept — it merges across
    partitions/days by cell-wise addition; the exact counts here exist to
    verify the estimate surface."""
    from .textops import TOKS

    toks = (
        spread(read_table(spark, sf_dir, "documents"))
        .select(F.explode(F.expr(TOKS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    d = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("d")
    hashed = toks.select("token", "n_exact", d).withColumn("cell", F.expr(CMS_CELL_EXPR))
    # the 4x64 counter table: counts of EVERY token land in their cells
    counters = hashed.groupBy("d", "cell").agg(F.sum("n_exact").alias("cnt"))
    est = (
        hashed.join(F.broadcast(counters), ["d", "cell"])
        .groupBy("token", "n_exact")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "token",
        "n_exact",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_exact")).alias("overcount"),
    )


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate of distinct event_id, next to the exact
    count — one row: (n_exact, hll_estimate, rel_error, n_registers).

    The exact count is the verification surface; a production pipeline
    keeps only the sketch (64 registers per key — mergeable across
    partitions, days, and reruns by element-wise MAX)."""
    ev = read_table(spark, sf_dir, "events").select("event_id")
    regs = (
        ev.select(F.md5(F.col("event_id").cast("string")).alias("h"))
        .select(F.expr(_REG).alias("reg"), F.expr(_TAIL).alias("x"))
        .select("reg", F.expr(_RANK).alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("mr"))
    )
    m = HLL_M
    sketch = regs.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("power(2.0, -mr)")).alias("sp"),
    ).select(
        F.expr(
            f"{HLL_ALPHA}d * {m} * {m} / (sp + ({m} - n_present))"
        ).alias("raw"),
        (F.lit(m) - F.col("n_present")).alias("zeros"),
    )
    est = F.expr(
        f"IF(raw <= 2.5 * {m} AND zeros > 0, {m} * ln(cast({m} as double) / zeros), raw)"
    )
    exact = ev.agg(F.countDistinct("event_id").alias("n_exact"))
    return (
        sketch.crossJoin(F.broadcast(exact))
        .select(
            "n_exact",
            F.round(est, 4).alias("hll_estimate"),
            F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_error"),
            F.lit(m).cast("int").alias("n_registers"),
        )
    )


BLOOM_M = 262_144  # bits (2^18)
BLOOM_K = 3  # hash functions

# bit position for hash row d of a key: md5('<d>|<key>') like the CMS cell
_BLOOM_POS = f"cast(conv(substring(md5(concat(d, '|', k)), 1, 8), 16, 10) as bigint) % {BLOOM_M}"


def bloom_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable Bloom filter as a join-prune: build a BLOOM_M-bit /
    BLOOM_K-hash filter over the urgent-order keys, probe every lineitem
    against it, and report the prune quality next to the exact semi-join
    answer — one row: (n_probe, n_bloom_pass, n_exact_match,
    n_false_positive, n_set_bits).

    Spark 4.1 has runtime bloom pruning internally
    (InjectRuntimeFilter) but exposes neither ``bloom_filter_agg`` nor
    ``might_contain`` to SQL, and its filter bits are not reproducible in
    another engine; this md5-positioned construction is (same portability
    argument as :func:`hll_distinct` / :func:`cms_token_counts`).

    Scale shape: the filter is a distinct-agg down to <= BLOOM_M ints
    (map-side partial, tiny shuffle), broadcast once; the probe is a
    map-only pass over the fact — exactly where you'd place it at 100 TB:
    BEFORE the fact shuffles for the real join, cutting the shuffle to
    pass-rate x |fact|.  BLOOM_K x |build| / BLOOM_M is the fill ratio;
    re-size BLOOM_M per deployment, it only needs to be constant per run.
    """
    build = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("k"))
        .distinct()
    )
    d = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("d")
    bits = (
        build.select("k", d)
        .select(F.expr(_BLOOM_POS).alias("b"))
        .groupBy()
        .agg(F.sort_array(F.collect_set("b")).alias("bits"))
    )
    # probe unit = distinct fact key (the thing the real join would shuffle)
    probe = (
        read_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("okey"))
        .distinct()
        .withColumn("k", F.col("okey").cast("string"))
    )
    passed = (
        probe.select("okey", "k", d)
        .withColumn("b", F.expr(_BLOOM_POS))
        .crossJoin(F.broadcast(bits))
        .groupBy("okey")
        .agg(F.min(F.expr("array_contains(bits, b)").cast("int")).alias("all_hit"))
    )
    exact = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("okey"))
    )
    flagged = passed.join(exact, "okey", "left_semi").select("okey")
    return (
        passed.agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum("all_hit").alias("n_bloom_pass"),
        )
        .crossJoin(F.broadcast(flagged.agg(F.count(F.lit(1)).alias("n_exact_match"))))
        .crossJoin(F.broadcast(bits.select(F.size("bits").cast("bigint").alias("n_set_bits"))))
        .select(
            "n_probe",
            "n_bloom_pass",
            "n_exact_match",
            (F.col("n_bloom_pass") - F.col("n_exact_match")).alias("n_false_positive"),
            "n_set_bits",
        )
        # empty probe set -> no stats row (empty-table probe, round 8)
        .filter(F.col("n_probe") > 0)
    )


# quantile sketch: log2 octaves split by 2 sub-bits => 4 buckets/octave,
# relative error <= 2^-2 = 25% worst case (12.5% expected) on the estimate
QSK_SUB_BITS = 2


def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (the DDSketch/KLL role): per event_type,
    p50/p90/p99 estimated from a log2-bucketed histogram of value-cents —
    octave = bit length, 2 sub-bits per octave — with the bucket's upper
    bound reported as the estimate.  Exact percentile (`price_quantiles`)
    needs the full value multiset per group; this keeps ONE bounded-size
    counter table per group that merges across partitions/days by
    cell-wise addition — the only quantile that works in a streaming or
    multi-day rollup at 100 TB.

    Engine-portable like hll_distinct: bucketing is pure integer
    arithmetic (floor to cents, bit length via length(bin(x)), shifts),
    so both engines build the identical histogram and the estimate is
    bit-reproducible — no tolerance bands.

    Values below one cent (zero and negatives) land in a dedicated
    b=0 underflow bucket (upper bound 0 cents → estimate 0.0) instead
    of being silently dropped (ADVICE r3): they count toward n and all
    rank positions, so the sketch agrees with the exact counterpart on
    groups containing non-positive values.

    Scale shape: map-side partial groupBy (event_type, octave, sub) —
    the shuffle carries <= groups x ~70 bucket rows, not events; the
    cumulative window runs per event_type over those bucket rows.
    """
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    c = "cast(floor(value * 100) as bigint)"
    buckets = (
        ev.withColumn("c", F.expr(c))
        .withColumn("b", F.expr("CASE WHEN c >= 1 THEN length(bin(c)) ELSE 0 END"))
        .withColumn(
            "sub",
            F.expr(
                "CASE WHEN b = 0 THEN CAST(0 AS BIGINT)"
                " WHEN b >= 3 THEN shiftright(c, b - 3) & 3"
                " ELSE shiftleft(c, 3 - b) & 3 END"
            ),
        )
        .groupBy("event_type", "b", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "ub",
            F.expr(
                "CASE WHEN b = 0 THEN CAST(0 AS BIGINT)"
                " WHEN b >= 3 THEN shiftleft(5 + sub, b - 3) - 1"
                " ELSE shiftright(4 + sub, 3 - b) END"
            ),
        )
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("b", "sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = buckets.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    est = [
        F.round(
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"cast(ceiling({q} * n) as bigint)"),
                    F.col("ub"),
                )
            )
            / 100.0,
            2,
        ).alias(f"est_p{int(q * 100)}")
        for q in (0.5, 0.9, 0.99)
    ]
    return cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        *est,
    )


def hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED HLL: distinct users per event_type, sketch beside exact —
    the shape production telemetry actually runs (per-key cardinality
    over thousands of keys), where exact COUNT(DISTINCT) per group
    shuffles every (group, value) pair but the sketch shuffles at most
    groups × 64 register rows after map-side partial MAX.

    Same engine-portable register/rank construction as hll_distinct, so
    the per-group estimates are bit-reproducible and oracle-checked.
    """
    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = (
        ev.select(
            "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
        )
        .select("event_type", F.expr(_REG).alias("reg"), F.expr(_TAIL).alias("x"))
        .select("event_type", "reg", F.expr(_RANK).alias("rank"))
        .groupBy("event_type", "reg")
        .agg(F.max("rank").alias("mr"))
    )
    m = HLL_M
    sk = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("power(2.0, -mr)")).alias("sp"),
    ).select(
        "event_type",
        F.expr(f"{HLL_ALPHA}d * {m} * {m} / (sp + ({m} - n_present))").alias("raw"),
        (F.lit(m) - F.col("n_present")).alias("zeros"),
    )
    est = F.expr(
        f"IF(raw <= 2.5 * {m} AND zeros > 0, {m} * ln(cast({m} as double) / zeros), raw)"
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return sk.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        F.round(est, 4).alias("hll_estimate"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_error"),
    )


KMV_K = 64  # k-th minimum value order statistic


def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type,
    beside the exact count — the THIRD cardinality sketch family next
    to HLL (bit-pattern) and CMS (frequency): keep the K smallest
    distinct 32-bit hash values; if the k-th smallest is h_k on a 2³²
    grid, density says n ≈ (K−1)·2³²/h_k (Bar-Yossef et al. 2002).
    Unlike HLL, a KMV sketch also supports set INTERSECTION estimates
    (it is a uniform sample of the hash space), which is why telemetry
    systems often keep both.

    Determinism: the hash is the md5-first-8-hex integer (the module's
    engine-portable uniform); the estimate is ONE exact integer
    division ((K−1)·2³² div h_k) — no doubles anywhere but the final
    rounded error column.  Fewer than K distinct values ⇒ the sketch
    IS the exact set (estimate = count).

    Scale shape: per-(type, hash) dedup aggregates map-side, the top-K
    per type is a bounded window over distinct hashes; at 100 TB the
    sketch merges by unioning candidate sets and re-taking the K
    smallest — associative, so partial sketches combine like any agg
    state.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    hashed = ev.select(
        "event_type",
        F.expr(
            "cast(conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10)"
            " as bigint)"
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    topk = hashed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= KMV_K
    )
    per_type = topk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
        F.max(F.expr(f"if(rk = {KMV_K}, h, null)")).alias("h_k"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return per_type.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        F.expr(
            f"if(h_k is null, n_in_sketch,"
            f" (({KMV_K} - 1) * 4294967296L) div h_k)"
        ).alias("kmv_estimate"),
        F.round(
            F.expr(
                f"abs(if(h_k is null, n_in_sketch,"
                f" (({KMV_K} - 1) * 4294967296L) div h_k) - n_exact)"
                " / cast(n_exact as double)"
            ),
            6,
        ).alias("rel_err"),
    )


HLL_MAU_WINDOW = 28


def hll_mau_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window MAU via MERGED per-day HLL sketches: per day,
    64 registers of max rank over that day's users; a report day's MAU
    estimate merges (register-wise MAX) the registers of its trailing
    28 days — the O(days × 64) state that replaces
    `stickiness_dau_mau`'s exact covering-day explode at 100 TB, shown
    here beside the exact count it approximates.  Register-wise max IS
    the HLL merge, which is why per-day sketches slide for free.

    Determinism: registers are exact integer max-ranks on the
    engine-portable md5 hash (the `hll_distinct` construction); the
    merge is integer MAX; only the final estimate arithmetic is double
    (fixed expression, rounded).

    Scale shape: one (day, reg) keyed aggregation with map-side MAX
    (state: |days|·64 rows regardless of event volume), a bounded ×28
    day-explode OF REGISTERS (not users), and a second keyed MAX; the
    exact comparison column reuses the covering-day count.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day_idx")
    )
    m = HLL_M
    regs = (
        ev.select("day_idx", F.md5(F.col("user_id").cast("string")).alias("h"))
        .select("day_idx", F.expr(_REG).alias("reg"), F.expr(_TAIL).alias("x"))
        .select("day_idx", "reg", F.expr(_RANK).alias("rank"))
        .groupBy("day_idx", "reg")
        .agg(F.max("rank").alias("mr"))
    )
    end_day = ev.agg(F.max("day_idx").alias("end_day"))
    merged = (
        regs.crossJoin(F.broadcast(end_day))
        .select(
            "reg",
            "mr",
            F.explode(
                F.expr(
                    f"sequence(day_idx, least(day_idx + {HLL_MAU_WINDOW - 1},"
                    " end_day))"
                )
            ).alias("report_day"),
        )
        .groupBy("report_day", "reg")
        .agg(F.max("mr").alias("mr"))
    )
    sk = (
        merged.groupBy("report_day")
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(F.expr("power(2.0, -mr)")).alias("sp"),
        )
        .select(
            "report_day",
            F.expr(f"{HLL_ALPHA}d * {m} * {m} / (sp + ({m} - n_present))").alias(
                "raw"
            ),
            (F.lit(m) - F.col("n_present")).alias("zeros"),
        )
    )
    est = F.expr(
        f"IF(raw <= 2.5 * {m} AND zeros > 0,"
        f" {m} * ln(cast({m} as double) / zeros), raw)"
    )
    exact = (
        ev.distinct()
        .crossJoin(F.broadcast(end_day))
        .select(
            "user_id",
            F.explode(
                F.expr(
                    f"sequence(day_idx, least(day_idx + {HLL_MAU_WINDOW - 1},"
                    " end_day))"
                )
            ).alias("report_day"),
        )
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau_exact"))
    )
    return sk.join(exact, "report_day").select(
        F.col("report_day").alias("day_idx"),
        "mau_exact",
        F.round(est, 4).alias("mau_estimate"),
        F.round((est - F.col("mau_exact")) / F.col("mau_exact"), 4).alias(
            "rel_error"
        ),
    )
