"""Range join + quantile surfaces.

``block_activity_7d`` is the banded range join: Spark has no native
interval join, and the naive formulation (theta-join on an inequality) is
a broadcast-nested-loop or cartesian — fatal at fact-fact scale.  The
band trick makes it a plain equi-join: bucket both sides by a window-width
time band, explode the probe side into the (<= 2) bands its window
overlaps, equi-join on the band, then apply the exact range predicate.
Pairs only ever form inside a band, so the shuffle is keyed and bounded
by events-per-band — the same containment idea as LSH banding, applied to
time.

``price_quantiles`` is the exact grouped-quantile surface: Spark's
``percentile`` and DuckDB's ``quantile_cont`` share the same
(1-f)·a + f·b interpolation at rank p·(n-1), and produce bit-identical
float64 on the same data, so exact quantiles are oracle-checkable.
Exact percentile buffers each group's values (O(group) memory): right for
bounded reporting groups (here: 3 return flags), wrong for high-cardinality
keys at 100 TB — there, use ``approx_percentile`` (t-digest, mergeable,
bounded memory), which is engine-specific and therefore tested against a
tolerance band instead of an oracle (tests/test_rangeops.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table

WINDOW_DAYS = 7
_BAND = f"datediff(ts, DATE '1970-01-01') div {WINDOW_DAYS}"


def block_activity_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block activity window: for every block (order), the count and
    value of shipments with l_shipdate in [o_orderdate, o_orderdate + 7d).
    Blocks with no shipments keep a zero-count row (left join semantics).
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_shipdate").alias("ts"),
            F.col("l_orderkey").alias("l_key"),
            "l_extendedprice",
        )
        .withColumn("band", F.expr(_BAND))
    )
    # a 7-day window starting anywhere overlaps at most 2 width-7 bands
    orders = (
        read_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("height"), F.col("o_orderdate").alias("ts"))
        .withColumn("b0", F.expr(_BAND))
        .withColumn("band", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
        .select("height", F.col("ts").alias("o_ts"), "band")
    )
    joined = orders.join(
        li,
        (orders.band == li.band)
        & (li.ts >= orders.o_ts)
        & (li.ts < F.col("o_ts") + F.expr(f"INTERVAL {WINDOW_DAYS} DAYS")),
        "left",
    )
    return joined.groupBy("height").agg(
        F.count("l_key").alias("n_shipments"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


QUANTILES = (0.5, 0.9, 0.99)


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of extended price per return flag (see module doc
    for the exact-vs-approx scale tradeoff)."""
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        *[
            F.expr(f"percentile(l_extendedprice, {q})").alias(f"p{int(q * 100)}")
            for q in QUANTILES
        ]
    )


WINSOR_LO, WINSOR_HI = 0.01, 0.99


def value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the training-data value-cleaning staple: clip each
    event's value to its group's [p1, p99] band and report the clip
    bounds and per-row clip direction, so outliers stop dominating
    normalization statistics without dropping the rows.

    Scale shape: one grouped exact-percentile aggregate over the (tiny)
    group domain, broadcast back onto the stream — the fact table is
    scanned once and never shuffled (per-row clip only).  At a group
    cardinality where exact percentile won't hold, swap the bounds query
    for value_quantile_sketch (same join shape).
    """
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round(F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo")), 6).alias(
            "winsorized"
        ),
        F.when(F.col("value") > F.col("hi"), F.lit("hi"))
        .when(F.col("value") < F.col("lo"), F.lit("lo"))
        .otherwise(F.lit("none"))
        .alias("clipped"),
    )


OUTLIER_Z = 3.5  # Iglewicz-Hoaglin cutoff for the modified z-score
MAD_SCALE = 1.4826  # consistency constant: MAD * 1.4826 ~ sigma for normals


def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flags — the detection half of the value-cleaning
    pair (value_winsorize clips, this FLAGS): per event_type, the
    modified z-score |x − median| / (1.4826·MAD) with the standard 3.5
    cutoff (Iglewicz & Hoaglin).  Median/MAD instead of mean/std because
    the statistics must not be dragged by the very outliers they score —
    one corrupt 1e9 value inflates a std enough to hide every real
    outlier behind it.

    Scale shape: two grouped exact-percentile aggregates over the tiny
    group domain (median, then MAD = median of |x − med|), both
    broadcast back — the fact table is scanned twice and never shuffled.
    Groups with MAD = 0 (over half the values identical) are skipped: the
    score is undefined there, and flagging by it would be noise.  At
    high group cardinality the same join shape takes sketch medians.
    """
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .select("event_type", F.abs(F.col("value") - F.col("med")).alias("ad"))
        .groupBy("event_type")
        .agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn(
            "robust_z",
            F.round(
                F.abs(F.col("value") - F.col("med")) / (F.lit(MAD_SCALE) * F.col("mad")),
                6,
            ),
        )
        .filter(F.col("robust_z") > OUTLIER_Z)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round("med", 6).alias("group_median"),
            "robust_z",
        )
    )


# time-decayed engagement: half-life in integer microseconds (7 days)
DECAY_HL_US = 7 * 86_400 * 1_000_000


def decayed_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed per-user engagement score — the feature-store
    primitive behind "recent activity matters more": each event
    contributes value·2^(−age/half-life), anchored at the corpus max
    timestamp so the feature is reproducible for a fixed snapshot.

    Determinism: value converts to exact integer cents, age to exact
    integer µs; each event's decayed contribution rounds to an integer
    micro-dollar term BEFORE the per-user sum (exact bigint — the
    adamic_adar discipline), so engines cannot disagree via summation
    order.  The only float step is one pow(2, x) on identical operands.

    Scale shape: 1-row anchor broadcast; one map-side pass computes
    terms; one keyed groupBy per user with map-side combine.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    anchor = ev.agg(F.max("us").alias("anchor"))
    term = (
        "cast(round(cast(floor(value * 100) as bigint)"
        f" * pow(2.0, -(cast(anchor - us as double) / {DECAY_HL_US})) * 10000)"
        " as bigint)"
    )
    return (
        ev.crossJoin(F.broadcast(anchor))
        .select("user_id", "us", F.expr(term).alias("tm"))
        .groupBy("user_id")
        .agg(
            F.sum("tm").alias("sm"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("us").alias("last_seen_us"),
        )
        .select(
            "user_id",
            F.round(F.col("sm") / 1e6, 6).alias("decayed_value"),
            "n_events",
            "last_seen_us",
        )
    )


def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the experimentation
    workhorse: per user, post-period spend adjusted by the pre-period
    covariate, y' = y − θ·(x − mean(x)) with θ = cov(x, y)/var(x).  The
    pre/post split is the integer midpoint of the corpus time span (a
    fixed snapshot constant).

    Determinism: x and y are exact per-user cent sums (one conditional
    aggregation pass); θ and mean(x) derive from five corpus-level exact
    bigint sums via n·Σxy − Σx·Σy over n·Σxx − (Σx)² — both engines build
    the identical doubles from identical integers; the per-user
    adjustment is one fixed-order float expression rounded 6dp.

    Scale shape: one keyed per-user aggregation; the θ/mean stats are a
    second aggregation over per-user rows reduced map-side to ONE row and
    broadcast back.  No join touches the event stream twice.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    span = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("IF(us < mid, cents, 0)")).alias("x_cents"),
            F.sum(F.expr("IF(us >= mid, cents, 0)")).alias("y_cents"),
        )
    )
    stats = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_cents").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(F.expr("x_cents * x_cents")).alias("sxx"),
        F.sum(F.expr("x_cents * y_cents")).alias("sxy"),
    )
    theta = (
        "CASE WHEN n * sxx - sx * sx = 0 THEN cast(0.0 as double)"
        " ELSE (n * sxy - sx * sy) / cast(n * sxx - sx * sx as double) END"
    )
    adj = (
        "round((y_cents - ({th}) * (x_cents - sx / cast(n as double))) / 100, 6)"
    ).format(th=theta)
    return (
        per_user.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "x_cents",
            "y_cents",
            F.expr(adj).alias("adjusted_value"),
        )
    )


DAY_US = 86_400 * 1_000_000
# half-life in DAYS for the bucketed form (DECAY_HL_US is 7 days)
DECAY_HL_DAYS = DECAY_HL_US // DAY_US


def batch_day_sums(events: DataFrame) -> DataFrame:
    """Fold events to their (user_id, day, cents, n_events, last_us)
    sums — exact integers only."""
    return (
        events.select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
        .withColumn("day", F.expr(f"us div {DAY_US}"))
        .groupBy("user_id", "day")
        .agg(
            F.sum("cents").alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("us").alias("last_us"),
        )
    )


def scores_from_day_sums(day_sums: DataFrame) -> DataFrame:
    """Decayed score per user from a (user, day, cents, ...) table: each
    day's cents decay by 2^(-(anchor_day - day)/HL_DAYS), every term
    rounds to integer micro-dollars before the exact-bigint per-user
    sum."""
    anchor = day_sums.agg(F.max("day").alias("anchor_day"))
    term = (
        "cast(round(cents * pow(2.0,"
        f" -(cast(anchor_day - day as double) / {DECAY_HL_DAYS})) * 10000) as bigint)"
    )
    return (
        day_sums.crossJoin(F.broadcast(anchor))
        .select("user_id", "n_events", "last_us", F.expr(term).alias("tm"))
        .groupBy("user_id")
        .agg(
            F.round(F.sum("tm") / 1e6, 6).alias("decayed_value"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.max("last_us").alias("last_seen_us"),
        )
        .select("user_id", "decayed_value", "n_events", "last_seen_us")
    )


def decayed_engagement_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-bucketed decayed engagement: contributions bucket to integer
    days, so the decay factor depends only on integer day deltas and the
    (user, day) cent sums are exact bigints merged by addition (the
    exact-ts form is :func:`decayed_user_engagement`; the bucketed form
    trades sub-day decay resolution for mergeable O(users x days) state).
    """
    return scores_from_day_sums(batch_day_sums(read_table(spark, sf_dir, "events")))


# out-of-fold target encoding: deterministic fold assignment + exact
# integer leave-fold-out means — the leakage-safe categorical encoder
TE_FOLDS = 5


def target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the tabular-ML workhorse done
    leakage-safe: each event's categorical feature (the ``k`` field of
    its props payload) is encoded as the mean purchase rate of its
    category computed over the OTHER folds only, so a row never sees its
    own label.  Folds assign by md5(event_id) — deterministic,
    reproducible, uncorrelated with the target.

    Determinism: the encoding is (kpos − own-fold pos)/(kn − own-fold n)
    from exact integer sums; one double division per row, rounded 6dp.
    Categories fully owned by the row's fold (oof count 0) fall back to
    the leave-fold-out GLOBAL prior — NULL-free output, still no leakage.

    Scale shape: one keyed (k, fold) aggregation — |cats|·TE_FOLDS cells
    — whose per-category / per-fold / global rollups all broadcast back
    onto a single scan of the event stream; the fact table is never
    shuffled.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
            F.expr("IF(event_type = 'purchase', 1L, 0L)").alias("y"),
        )
        .withColumn(
            "fold",
            F.expr(
                f"cast(conv(substring(md5(cast(event_id as string)), 1, 7), 16, 10)"
                f" as bigint) % {TE_FOLDS}"
            ),
        )
    )
    kf = ev.groupBy("k", "fold").agg(
        F.sum("y").alias("pos"), F.count(F.lit(1)).alias("n")
    )
    kt = kf.groupBy("k").agg(F.sum("pos").alias("kpos"), F.sum("n").alias("kn"))
    ft = kf.groupBy("fold").agg(F.sum("pos").alias("fpos"), F.sum("n").alias("fn"))
    gt = kf.agg(F.sum("pos").alias("gpos"), F.sum("n").alias("gn"))
    te = (
        "CASE WHEN kn - coalesce(n, 0L) > 0"
        " THEN round((kpos - coalesce(pos, 0L))"
        "            / cast(kn - coalesce(n, 0L) as double), 6)"
        " ELSE round((gpos - fpos) / cast(gn - fn as double), 6) END"
    )
    return (
        ev.join(F.broadcast(kf), ["k", "fold"], "left")
        .join(F.broadcast(kt), "k")
        .join(F.broadcast(ft), "fold")
        .crossJoin(F.broadcast(gt))
        .select("event_id", "k", "fold", F.expr(te).alias("te"))
    )


WOE_BINS = 10


def woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value per equal-frequency
    value bin — the credit-scoring-lineage feature diagnostic: per decile
    bin of event value, WOE = ln(share of positives / share of negatives)
    (0.5-smoothed), and the bin's IV term (p_pos − p_neg)·WOE; Σ IV over
    bins scores the feature's predictive power for the purchase label.

    Determinism: bin boundaries are one exact-percentile aggregate over
    integer cents (Spark `percentile` and DuckDB `quantile_cont` share
    the (1−f)·a + f·b interpolation — bit-identical, see
    `price_quantiles`), broadcast back as CASE compares; WOE/IV quantize
    to integer micro-units off exact integer counts.

    Scale shape: boundary row broadcast; one conditional-aggregation
    groupBy of |bins| cells; the event stream is scanned twice (once for
    boundaries, once for binning) and never shuffled — at 100 TB the
    boundary pass swaps to the mergeable quantile sketch
    (`value_quantile_sketch`) exactly as `value_winsorize` documents.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        F.expr("IF(event_type = 'purchase', 1L, 0L)").alias("y"),
    )
    qs = ", ".join(str(i / WOE_BINS) for i in range(1, WOE_BINS))
    bounds = ev.agg(F.expr(f"percentile(cents, array({qs}))").alias("bs"))
    bin_expr = "1 + " + " + ".join(
        f"IF(cents > element_at(bs, {i}), 1, 0)" for i in range(1, WOE_BINS)
    )
    binned = (
        ev.crossJoin(F.broadcast(bounds))
        .select(F.expr(bin_expr).cast("int").alias("bin"), "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .withColumn("neg", F.expr("n - pos"))
    )
    tot = binned.agg(F.sum("pos").alias("tpos"), F.sum("neg").alias("tneg"))
    # the smoothed odds ratio folds to ONE exact-integer ratio:
    # ((p+.5)/(P+.5)) / ((n+.5)/(N+.5)) == (2p+1)(2N+1) / ((2P+1)(2n+1)) —
    # ln sees a bit-identical operand in both engines (four chained float
    # divisions produced a .5-boundary micro-rounding flip in testing)
    woe = (
        "cast(round(ln((2 * pos + 1) * (2 * tneg + 1)"
        " / cast((2 * tpos + 1) * (2 * neg + 1) as double)) * 1000000) as bigint)"
    )
    return (
        binned.crossJoin(F.broadcast(tot))
        .withColumn("woe_micro", F.expr(woe))
        .select(
            "bin",
            "n",
            "pos",
            "neg",
            F.round(F.col("woe_micro") / 1e6, 6).alias("woe"),
            # + 0.0 normalizes IEEE negative zero (a negative share gap
            # times woe 0.0 is -0.0, which DuckDB's round keeps and
            # Spark's strips) -- degenerate sweep, round 8
            F.round(
                F.expr(
                    "(pos / cast(tpos as double) - neg / cast(tneg as double))"
                    " * (woe_micro / 1e6) + cast(0 as double)"
                ),
                6,
            ).alias("iv_term"),
        )
    )


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report — the standard production
    monitoring metric for "did my feature distribution move": events
    split into earlier/later halves at the integer time midpoint, value
    binned by FULL-corpus deciles, per-bin PSI term
    (p_a − p_b)·ln(p_a/p_b) (0.5-smoothed) plus the running KS distance
    |CDF_a − CDF_b|.  Σ psi_term > 0.2 is the classic retrain trigger.

    Determinism: decile boundaries are the bit-identical exact-percentile
    aggregate; counts are exact integers; the smoothed probability ratio
    folds to ONE exact-integer ratio before the single ln (the
    woe_encoding discipline); CDFs are exact-integer cumulative sums
    ranked over |bins| rows.

    Scale shape: boundary row + half sizes broadcast; one conditional
    aggregation to |bins| cells; everything after operates on |bins|
    rows.  At 100 TB the boundary pass swaps to the mergeable quantile
    sketch exactly as `woe_encoding` documents.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"),
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    span = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    qs = ", ".join(str(i / WOE_BINS) for i in range(1, WOE_BINS))
    bounds = ev.agg(F.expr(f"percentile(cents, array({qs}))").alias("bs"))
    bin_expr = "1 + " + " + ".join(
        f"IF(cents > element_at(bs, {i}), 1, 0)" for i in range(1, WOE_BINS)
    )
    binned = (
        ev.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.expr(bin_expr).cast("int").alias("bin"),
            F.expr("IF(us < mid, 1L, 0L)").alias("a"),
        )
        .groupBy("bin")
        .agg(
            F.sum("a").cast("bigint").alias("n_a"),
            F.sum(F.expr("1 - a")).cast("bigint").alias("n_b"),
        )
    )
    tot = binned.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    # (n_a+.5)/(ta+.5·B) vs (n_b+.5)/(tb+.5·B): fold the ratio to exact
    # integers — (2·n_a+1)(2·tb+B) / ((2·ta+B)(2·n_b+1))
    b = WOE_BINS
    ratio = (
        f"(2 * n_a + 1) * (2 * tb + {b})"
        f" / cast((2 * ta + {b}) * (2 * n_b + 1) as double)"
    )
    pa = f"(2 * n_a + 1) / cast(2 * ta + {b} as double)"
    pb = f"(2 * n_b + 1) / cast(2 * tb + {b} as double)"
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return (
        binned.crossJoin(F.broadcast(tot))
        .withColumn(
            "lr_micro", F.expr(f"cast(round(ln({ratio}) * 1000000) as bigint)")
        )
        .withColumn("ca", F.sum("n_a").over(w))
        .withColumn("cb", F.sum("n_b").over(w))
        .select(
            "bin",
            "n_a",
            "n_b",
            F.round(F.expr(f"({pa} - {pb}) * (lr_micro / 1e6)"), 6).alias("psi_term"),
            F.round(
                F.expr("abs(ca / cast(ta as double) - cb / cast(tb as double))"), 6
            ).alias("ks_at_bin"),
        )
    )


# seasonal-naive forecast backtest: weekly seasonality, MASE vs the
# one-day naive — the sanity baseline every forecasting system reports
SEASON_DAYS = 7


def seasonal_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest per event type: forecast each day's total
    value as the SAME WEEKDAY's total one week earlier, score MAE, and
    normalize by the one-day-naive MAE (MASE, Hyndman & Koehler 2006) —
    MASE < 1 means weekly seasonality beats momentum, the go/no-go gate
    before any fancier model.

    Determinism: daily totals are exact cent sums; both error sums are
    exact integer cents (lag differences of integers); the single MASE
    division rounds 6dp.

    Scale shape: one keyed (event_type, day) aggregation; the lag
    windows run per event_type over |days| rows each — the rollup is
    days-sized regardless of event volume.
    """
    from pyspark.sql import Window

    daily = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) div {86_400 * 1_000_000}").alias("day"),
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = (
        daily.withColumn("seasonal", F.lag("total", SEASON_DAYS).over(w))
        .withColumn("naive", F.lag("total", 1).over(w))
        .filter(F.col("seasonal").isNotNull() & F.col("naive").isNotNull())
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.expr("abs(total - seasonal)")).alias("sae_seasonal"),
            F.sum(F.expr("abs(total - naive)")).alias("sae_naive"),
        )
        .select(
            "event_type",
            "n_days",
            "sae_seasonal",
            "sae_naive",
            F.round(
                F.expr("sae_seasonal / cast(sae_naive as double)"), 6
            ).alias("mase"),
        )
    )


def price_quantity_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-dominance) query, Börzsönyi et al. 2001: per
    return flag, the lineitem rows not dominated on (price ↓ better,
    quantity ↑ better) — a dominates b iff price_a <= price_b AND
    qty_a >= qty_b with one strict.  The "best tradeoffs" frontier no
    single ORDER BY can express.

    The 2-D case collapses to ONE pass: ordered by price, a row survives
    iff its quantity beats the max quantity of every strictly-cheaper row
    (RANGE frame ending 1 cent before the current price) and of its
    equal-price peers — two RANGE-framed window maxes, no pairwise
    dominance join (the naive formulation is a self-join that plans as a
    nested loop).

    Determinism: prices compare as exact integer cents, quantities as
    exact integers; no floats anywhere.

    Scale shape: one keyed shuffle per group column; both window frames
    ride the same sort.  Higher dimensions need the block-nested-loop /
    partition algorithms — noted, out of scope for the 2-D operator.
    """
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        # round(), not bare cast: the DOUBLE's ×100 sits ulps under the
        # integer and Spark's cast truncates while DuckDB's rounds
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("price_c"),
        F.expr("cast(l_quantity as bigint)").alias("qty"),
    )
    base = Window.partitionBy("l_returnflag").orderBy("price_c")
    cheaper = base.rangeBetween(Window.unboundedPreceding, -1)
    same = base.rangeBetween(Window.currentRow, Window.currentRow)
    return (
        li.withColumn("mx_cheaper", F.max("qty").over(cheaper))
        .withColumn("mx_same", F.max("qty").over(same))
        .filter(
            (F.col("mx_cheaper").isNull() | (F.col("mx_cheaper") < F.col("qty")))
            & (F.col("mx_same") == F.col("qty"))
        )
        .select("l_returnflag", "l_orderkey", "l_linenumber", "price_c", "qty")
    )


# Benford expectations folded ONCE in Python (the seed-66 constant
# convention, applied proactively in the round-10 oracle-side sweep):
# `log10(1 + 1.0/d)` written as SQL was literal/literal — DECIMAL
# division in Spark (quantized before the log) vs double in DuckDB.
# The folded micro-ints are embedded verbatim in BOTH engines' CASE.
# (Verified identical to what both engines previously produced: the
# decimal-vs-double gap is ~3e-13 and no digit's value sits within
# 3e-7 of a rounding boundary — this is hardening, not a result change.)
BENFORD_EXP_MICRO = {
    d: round(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over event values — the classic
    anomalous-data screen (fabricated or capped values bend the
    first-digit curve): per leading digit, observed count vs the Benford
    expectation log10(1 + 1/d), plus the per-digit chi-square term
    (obs − exp)²/exp.

    Determinism: the leading digit of integer cents is string
    arithmetic; expectations derive from exact integer totals times
    log10 constants quantized to micro-units; the chi-square terms round
    6dp off those.

    Scale shape: one map-side digit extraction + a 9-cell keyed
    aggregation; everything after operates on 9 rows.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .select(F.expr("cast(floor(value * 100) as bigint)").alias("cents"))
        .filter(F.col("cents") >= 1)
    )
    obs = (
        ev.select(F.expr("cast(substring(cast(cents as string), 1, 1) as int)").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
    )
    tot = obs.agg(F.sum("observed").alias("n"))
    # expected share in micro-units, folded in Python (BENFORD_EXP_MICRO)
    exp_micro = (
        "CASE digit "
        + " ".join(
            f"WHEN {d} THEN cast({m} as bigint)"
            for d, m in BENFORD_EXP_MICRO.items()
        )
        + " END"
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .withColumn("em", F.expr(exp_micro))
        .select(
            "digit",
            "observed",
            F.round(F.expr("n * (em / 1e6)"), 6).alias("expected"),
            F.round(
                F.expr(
                    "pow(observed - n * (em / 1e6), 2) / (n * (em / 1e6))"
                ),
                6,
            ).alias("chi2_term"),
        )
    )


def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cross-tab: event_type × weekday observed
    counts vs independence expectations (row·col/total) with per-cell χ²
    terms — the first screening question of behavioral analytics ("does
    activity mix change by day of week?").

    Determinism: all marginals are exact integers; each expectation is
    one double expression of exact ints; terms round 6dp.

    Scale shape: one keyed |types|×7 aggregation; marginals derive from
    the cell table (9-ish rows) and broadcast back.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"(unix_micros(ts) div {86_400 * 1_000_000} + 4) % 7").alias("weekday"),
    )
    cells = ev.groupBy("event_type", "weekday").agg(
        F.count(F.lit(1)).cast("bigint").alias("observed")
    )
    rows = cells.groupBy("event_type").agg(F.sum("observed").alias("row_n"))
    cols = cells.groupBy("weekday").agg(F.sum("observed").alias("col_n"))
    tot = cells.agg(F.sum("observed").alias("n"))
    return (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "weekday")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "weekday",
            "observed",
            F.round(F.expr("row_n * col_n / cast(n as double)"), 6).alias("expected"),
            F.round(
                F.expr(
                    "pow(observed - row_n * col_n / cast(n as double), 2)"
                    " / (row_n * col_n / cast(n as double))"
                ),
                6,
            ).alias("chi2_term"),
        )
    )


def did_promo_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift: users who signed up (the
    "treated" group) vs the rest, purchase spend per user before vs
    after the corpus time midpoint — uplift = (treated_post −
    treated_pre) − (control_post − control_pre), the workhorse
    quasi-experimental read when you can't randomize.

    Determinism: group sums are exact integer cents and exact user
    counts; the four per-user means and the DiD are one fixed-order
    double expression rounded 6dp.

    Scale shape: treated set = one aggregation broadcast as a semi-join
    flag; per-user pre/post sums = one conditional keyed aggregation;
    the 2×2 rollup is four rows.  Output is ONE row.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    span = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    treated = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("IF(us < mid, cents, 0)")).alias("pre_c"),
            F.sum(F.expr("IF(us >= mid, cents, 0)")).alias("post_c"),
        )
        .join(
            F.broadcast(treated.withColumn("treated", F.lit(1))), "user_id", "left"
        )
        .select(
            F.coalesce("treated", F.lit(0)).alias("treated"), "pre_c", "post_c"
        )
    )
    g = per_user.groupBy("treated").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("pre_c").alias("pre_sum"),
        F.sum("post_c").alias("post_sum"),
    )
    t = g.filter("treated = 1").select(
        F.col("n_users").alias("nt"),
        F.col("pre_sum").alias("tp"), F.col("post_sum").alias("tq"))
    c = g.filter("treated = 0").select(
        F.col("n_users").alias("nc"),
        F.col("pre_sum").alias("cp"), F.col("post_sum").alias("cq"))
    return (
        t.crossJoin(F.broadcast(c))
        .select(
            F.col("nt").alias("n_treated"),
            F.col("nc").alias("n_control"),
            F.round(F.expr("tp / cast(nt as double) / 100"), 6).alias("treated_pre"),
            F.round(F.expr("tq / cast(nt as double) / 100"), 6).alias("treated_post"),
            F.round(F.expr("cp / cast(nc as double) / 100"), 6).alias("control_pre"),
            F.round(F.expr("cq / cast(nc as double) / 100"), 6).alias("control_post"),
            F.round(
                F.expr(
                    "((tq - tp) / cast(nt as double)"
                    " - (cq - cp) / cast(nc as double)) / 100"
                ),
                6,
            ).alias("did_uplift"),
        )
    )


# CUSUM drift detection over daily event counts, in integer micro-units:
# slack k = mu/4, alarm threshold h = 2*mu (all derived from exact sums)
def cusum_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page 1954) per event type: the
    one-sided cumulative sum S_t = max(0, S_{t-1} + n_t − μ − k) over
    daily event counts, alarming when S_t exceeds h — the sequential
    detector that catches a sustained rate shift days before a
    threshold-on-raw-counts would, and the classic monitoring
    counterpart of the distributional PSI screen.

    Determinism: counts are exact integers; μ enters as exact
    micro-units (round(1e6·Σn/days)); k = μ/4 and h = 2μ in the same
    integer units; the recurrence is exact bigint arithmetic — the
    oracle replays it as a recursive CTE, the Spark side as an
    `aggregate` fold over each type's (bounded) day array.

    Scale shape: the fold runs per event type over \\|days\\| rows —
    after the one keyed daily aggregation, state is days-sized
    regardless of event volume (the same bounded-rollup class as
    seasonal_forecast_error).
    """
    from pyspark.sql import Window  # noqa: F401  (symmetry with siblings)

    daily = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) div {86_400 * 1_000_000}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.expr("cast(round(sum(n) * 1000000.0 / count(*)) as bigint)").alias(
            "mu_micro"
        )
    )
    folded = (
        daily.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "mu_micro")
        .agg(
            F.expr(
                "aggregate(sort_array(collect_list(struct(day, n))),"
                " struct(cast(0 as bigint) as s,"
                "        cast(array() as array<struct<day: bigint, n: bigint,"
                "                                     s: bigint>>) as out),"
                " (acc, x) -> struct("
                "   greatest(cast(0 as bigint),"
                "            acc.s + x.n * 1000000L - mu_micro - mu_micro div 4),"
                "   array_append(acc.out, named_struct('day', x.day, 'n', x.n,"
                "     's', greatest(cast(0 as bigint),"
                "              acc.s + x.n * 1000000L - mu_micro"
                "              - mu_micro div 4)))),"
                " acc -> acc.out)"
            ).alias("rows")
        )
    )
    return folded.select(
        "event_type",
        F.explode("rows").alias("r"),
        F.col("mu_micro"),
    ).select(
        "event_type",
        F.col("r.day").alias("day"),
        F.col("r.n").alias("n"),
        F.round(F.col("r.s") / 1e6, 6).alias("cusum"),
        (F.col("r.s") > 2 * F.col("mu_micro")).alias("alarm"),
    )


# 3σ·sqrt(λ/(2−λ)) EWMA band scale, computed ONCE in Python and embedded
# verbatim in BOTH engines' SQL.  Writing `sqrt(0.2 / 1.8)` inline is NOT
# engine-portable: Spark parses 0.2 and 1.8 as DECIMAL(1,1) and performs
# DECIMAL division (quantized to 6 fractional digits BEFORE the sqrt),
# while DuckDB's literal division is double-precision — the results differ
# in the 7th significant digit, which the seed-66 randomized audit caught
# as a band_micro off-by-one on a perfect-square variance where the first
# observation sits exactly on μ−band.  Rule: a fractional constant built
# from literal arithmetic must be folded to ONE double in Python and
# shared by both SQL strings (the integer-weight recurrences never had
# this problem — this is the constant's analog of the round-to-integer
# convention).  NOTE (ADVICE r9): with λ=0.2 this folds to EXACTLY 1.0
# in IEEE doubles — the multiply is currently a no-op; the literal value
# is pinned in test_degen_seed66_decimal_literal_division_constants so a
# lambda edit that changes it is caught explicitly.
EWMA_BAND_SCALE = 3.0 * math.sqrt(0.2 / 1.8)


def ewma_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) per event type over daily
    counts — the smoothed companion of CUSUM: E_t = λ·n_t + (1−λ)·E_{t−1}
    with λ = 0.2, alarming outside μ ± 3σ·√(λ/(2−λ)).  EWMA reacts to
    small sustained shifts; CUSUM to accumulated ones; production
    monitoring runs both.

    Determinism: the recurrence runs in integer micro-units with MILLI
    weights — E_t = (200·x + 800·E_{t−1}) div 1000 — exact bigint all
    the way; μ and the σ band derive from exact integer sums (variance
    numerator n·Σx²−(Σx)², one sqrt), band compare in micro-units.

    Scale shape: same days-sized fold per type as `cusum_daily_counts`.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) div {86_400 * 1_000_000}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.expr("cast(round(sum(n) * 1000000.0 / count(*)) as bigint)").alias(
            "mu_micro"
        ),
        F.expr(
            "cast(round(sqrt(cast(count(*) * sum(n * n) - sum(n) * sum(n)"
            " as double)) / count(*) * 1000000"
            f" * cast({EWMA_BAND_SCALE!r} as double)) as bigint)"
        ).alias("band_micro"),
    )
    folded = (
        daily.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "mu_micro", "band_micro")
        .agg(
            F.expr(
                "aggregate(sort_array(collect_list(struct(day, n))),"
                " struct(cast(-1 as bigint) as e,"
                "        cast(array() as array<struct<day: bigint, n: bigint,"
                "                                     e: bigint>>) as out),"
                " (acc, x) -> struct("
                "   IF(acc.e < 0, x.n * 1000000L,"
                "      (200 * x.n * 1000000L + 800 * acc.e) div 1000),"
                "   array_append(acc.out, named_struct('day', x.day, 'n', x.n,"
                "     'e', IF(acc.e < 0, x.n * 1000000L,"
                "             (200 * x.n * 1000000L + 800 * acc.e) div 1000)))),"
                " acc -> acc.out)"
            ).alias("rows")
        )
    )
    return folded.select(
        "event_type", "mu_micro", "band_micro", F.explode("rows").alias("r")
    ).select(
        "event_type",
        F.col("r.day").alias("day"),
        F.col("r.n").alias("n"),
        F.round(F.col("r.e") / 1e6, 6).alias("ewma"),
        (
            (F.col("r.e") > F.col("mu_micro") + F.col("band_micro"))
            | (F.col("r.e") < F.col("mu_micro") - F.col("band_micro"))
        ).alias("alarm"),
    )


# integral division for the smoothing recurrences: Spark's `div` and
# DuckDB's `//` BOTH truncate toward zero (verified: -3 // 2 = -1 in
# DuckDB), so the trend term's negative values divide identically
def _fdiv(expr: str, d: int) -> str:
    return f"(({expr}) div {d})"


def holt_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend backtest per event type (double exponential
    smoothing, α = β = 0.2): one-step-ahead forecast f_t = L_{t−1} +
    T_{t−1} with L_t = α·x_t + (1−α)(L_{t−1}+T_{t−1}), T_t =
    β(L_t − L_{t−1}) + (1−β)T_{t−1} — the trend-aware rung between the
    naive and seasonal baselines (`seasonal_forecast_error`); its MASE
    says whether momentum-with-trend beats pure momentum.

    Determinism: both recurrences run in integer micro-units with milli
    weights and truncating integral division (Spark `div` == DuckDB `//`,
    both toward zero — including the trend term's negative values);
    error sums are exact integers, floor-quantized to the 6dp grid.

    Scale shape: the same days-sized fold per type as the CUSUM/EWMA
    charts; output is |event_types| rows.
    """
    daily = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) div {86_400 * 1_000_000}").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    lnew = _fdiv("200 * x.n * 1000000L + 800 * (acc.l + acc.t)", 1000)
    tnext = _fdiv(f"200 * (({lnew}) - acc.l) + 800 * acc.t", 1000)
    fold = (
        "aggregate(sort_array(collect_list(struct(day, n))),"
        " struct(cast(-1 as bigint) as l, cast(0 as bigint) as t,"
        "        cast(0 as bigint) as sae, cast(0 as bigint) as k),"
        " (acc, x) -> IF(acc.l < 0,"
        "   named_struct('l', x.n * 1000000L, 't', cast(0 as bigint),"
        "                'sae', acc.sae, 'k', acc.k),"
        f"  named_struct('l', {lnew}, 't', {tnext},"
        "          'sae', acc.sae + abs(x.n * 1000000L - (acc.l + acc.t)),"
        "          'k', acc.k + 1L)),"
        " acc -> acc)"
    )
    naive = (
        "aggregate(slice(ns, 2, size(ns) - 1),"
        " struct(element_at(ns, 1) as prev, cast(0 as bigint) as s),"
        " (acc, x) -> struct(x, acc.s + abs(x - acc.prev)),"
        " acc -> acc.s)"
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.expr(fold).alias("h"),
            F.expr(
                "transform(sort_array(collect_list(struct(day, n))), s -> s.n)"
            ).alias("ns"),
        )
        .select(
            "event_type",
            F.col("h.k").alias("n_scored"),
            # quantize each MAE to integer micro BEFORE the 6dp surface —
            # with FLOOR, not round: sae/k can land exactly on a decimal
            # .5, where Spark rounds the double's shortest decimal string
            # (HALF_UP on "….5") while DuckDB rounds the binary value —
            # floor is representation-independent on both engines
            # a single-day series scores nothing (k = 0): NULL errors,
            # not an ANSI division error (degenerate sweep, round 8)
            F.expr(
                "if(h.k = 0, cast(null as bigint),"
                " cast(floor(h.sae / cast(h.k as double)) as bigint))"
            ).alias("hm_micro"),
            F.expr(
                f"if(size(ns) <= 1, cast(null as bigint),"
                f" cast(floor(({naive}) * 1e6 / cast(size(ns) - 1 as double))"
                " as bigint))"
            ).alias("nm_micro"),
        )
        .select(
            "event_type",
            "n_scored",
            F.round(F.col("hm_micro") / 1e6, 6).alias("holt_mae"),
            F.round(F.col("nm_micro") / 1e6, 6).alias("naive_mae"),
            F.expr(
                "if(nm_micro is null or nm_micro = 0, cast(null as double),"
                " round(hm_micro / cast(nm_micro as double), 6))"
            ).alias("holt_mase"),
        )
    )


def quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) transform of event values per event type — the
    scikit-learn QuantileTransformer's data stage: each value maps to
    its empirical percentile, making any downstream model see a uniform
    marginal regardless of the raw distribution's shape.

    Determinism: ranks are exact integers from rank() over (cents,
    event_id is NOT in the order — ties share a rank, the standard
    percent_rank semantics); pct = (rank − 1)/(n − 1) is one division of
    exact integers rounded 6dp.

    Scale shape: one keyed window per event_type (bounded group count
    here; a high-cardinality version uses the two-level bucket-carry
    rank exactly as balance_deciles documents).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    wn = Window.partitionBy("event_type")
    return (
        ev.withColumn("rk", F.rank().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .select(
            "event_id",
            "event_type",
            "cents",
            # a single-row group gets percent_rank 0.0 (the SQL-standard
            # percent_rank convention), not an ANSI 0/0 error
            # (degenerate sweep, round 8)
            F.expr(
                "if(n = 1, 0.0,"
                " round((rk - 1) / cast(n - 1 as double), 6))"
            ).alias("pct_rank"),
        )
    )


# deterministic Poisson bootstrap: replicate weights drawn by inverting
# the Poisson(1) CDF on a 16-bit md5 uniform — integer thresholds both
# engines compare identically (P(<=k) * 65536, k = 0..5, tail capped)
BOOT_B = 20
_POIS_T = (24109, 48218, 60281, 64291, 65296, 65497)


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean purchase value per
    event type — assumption-free error bars, the uncertainty layer every
    point-estimate rollup here lacks.  The Poisson(1) approximation to
    multinomial resampling is THE distributed bootstrap (per-row weights
    need no coordination, unlike sampling n-of-n), and drawing the
    weights from md5 uniforms makes every replicate reproducible across
    engines and reruns.

    Determinism: weights come from integer threshold compares on a
    16-bit hash; replicate means floor-quantize to integer micro; the
    CI picks order statistics (2nd / 19th of BOOT_B=20) by exact rank
    with replicate-id tie-break.

    Scale shape: one explode by BOOT_B (bounded fan-out) + a keyed
    (type, replicate) aggregation; the order-statistic window runs over
    BOOT_B rows per type.
    """
    from pyspark.sql import Window

    w_expr = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}L" for k, t in enumerate(_POIS_T)
    ) + " ELSE 6L END"
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "event_type",
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
    )
    reps = (
        ev.select(
            "event_type", "event_id", "cents",
            F.explode(F.array(*[F.lit(b) for b in range(BOOT_B)])).alias("b"),
        )
        .withColumn(
            "u",
            F.expr(
                "cast(conv(substring(md5(concat(cast(event_id as string), '|',"
                " cast(b as string))), 1, 4), 16, 10) as bigint)"
            ),
        )
        .withColumn("w", F.expr(w_expr))
        .groupBy("event_type", "b")
        .agg(F.sum(F.expr("w * cents")).alias("swc"), F.sum("w").alias("sw"))
        # a replicate whose rows all drew weight 0 resamples nothing:
        # drop it BEFORE ranking on both engines (a NULL mean would sort
        # NULLS FIRST in Spark but NULLS LAST in DuckDB) -- degenerate
        # sweep, round 8
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            "b",
            F.expr(
                "cast(floor(swc * 1000000.0 / sw) as bigint)"
            ).alias("m_micro"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("m_micro", "b")
    ranked = reps.withColumn("rk", F.row_number().over(wr))
    point = ev.groupBy("event_type").agg(
        F.expr("cast(floor(sum(cents) * 1000000.0 / count(*)) as bigint)").alias(
            "pt_micro"
        )
    )
    lo = ranked.filter(F.col("rk") == 2).select(
        "event_type", F.col("m_micro").alias("lo_micro")
    )
    hi = ranked.filter(F.col("rk") == BOOT_B - 1).select(
        "event_type", F.col("m_micro").alias("hi_micro")
    )
    return (
        point.join(lo, "event_type")
        .join(hi, "event_type")
        .select(
            "event_type",
            # *_micro are integer micro-cents, so the 6dp-dollar surface
            # is round(micro/100)/1e6 — rounding the SCALED value to an
            # integer, not round(x, 6) of a fresh fraction whose half
            # boundary (micro % 100 = 50) the engines resolve
            # differently (seed-21 randomized audit, round 8)
            F.expr(
                "cast(round(pt_micro / cast(100 as double)) as bigint) / 1e6"
            ).alias("mean_value"),
            F.expr(
                "cast(round(lo_micro / cast(100 as double)) as bigint) / 1e6"
            ).alias("ci_lo"),
            F.expr(
                "cast(round(hi_micro / cast(100 as double)) as bigint) / 1e6"
            ).alias("ci_hi"),
        )
    )


def gini_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of per-user spend, per event type —
    the inequality lens on revenue ("do five whales carry the product?"):
    G = (2·Σ i·xᵢ)/(n·Σxᵢ) − (n+1)/n over users ranked by spend.

    Determinism: per-user cent sums are exact; ranks are exact integers
    with user_id tie-breaks; both Σ terms are exact bigints; ONE double
    expression at the end rounded 6dp.

    Scale shape: one keyed per-user aggregation, one keyed rank window
    per type over the (users)-sized rollup, a \\|types\\|-row output.
    """
    from pyspark.sql import Window

    per_user = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("cents").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    return (
        per_user.withColumn("i", F.row_number().over(w).cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("x").alias("sx"),
            F.sum(F.expr("i * x")).alias("six"),
        )
        .select(
            "event_type",
            "n_users",
            # a type whose users all spent zero has sx=0: Gini is
            # undefined there -- NULL on both engines, not an ANSI
            # division error (degenerate sweep, round 8)
            F.expr(
                "if(sx = 0, cast(null as double),"
                " round(2.0 * six / (n_users * cast(sx as double))"
                " - (n_users + 1) / cast(n_users as double), 6))"
            ).alias("gini"),
        )
    )


def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy (bits) of the
    user's event-type distribution — 0 = a bot doing one thing,
    log₂(5) ≈ 2.32 = uniform engagement; the per-user feature behind
    engagement segmentation and bot screening.

    Determinism: per-(user, type) counts are exact; each −p·log₂p term
    quantizes to integer micro-units before the per-user sum (the
    adamic_adar discipline), with the log argument an exact integer
    ratio.

    Scale shape: one keyed (user, type) count, folded to per-user rows;
    output is users-sized.
    """
    counts = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.groupBy("user_id").agg(F.sum("c").alias("n"))
    term = (
        "cast(round(-(c / cast(n as double))"
        " * log2(c / cast(n as double)) * 1000000) as bigint)"
    )
    return (
        counts.join(tot, "user_id")
        .select("user_id", "n", F.expr(term).alias("tm"))
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.round(F.sum("tm") / 1e6, 6).alias("entropy_bits"),
        )
    )


def simpson_reversal_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen per event type: does the CORPUS-level
    spend trend (later half vs earlier half mean) point the same way as
    the per-user majority trend?  A reversal means a mix shift (who is
    active), not a behavior shift (what each user does) — the classic
    aggregation trap before anyone acts on a topline delta.

    Determinism: per-(user, half) cent sums and counts are exact; both
    mean deltas compare via exact integer cross-products (a·d vs b·c —
    no float means in any sign decision); the output deltas are
    floor-quantized micro.

    Scale shape: one conditional keyed aggregation per user; corpus
    deltas fold from the same rollup; |types|-row output.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    span = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    pu = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.expr("IF(us < mid, cents, 0)")).alias("ac"),
            F.sum(F.expr("IF(us < mid, 1, 0)")).alias("an"),
            F.sum(F.expr("IF(us >= mid, cents, 0)")).alias("bc"),
            F.sum(F.expr("IF(us >= mid, 1, 0)")).alias("bn"),
        )
    )
    # per-user trend sign: mean_b > mean_a <=> bc*an > ac*bn (both n > 0)
    per_user = pu.filter("an > 0 AND bn > 0").select(
        "event_type",
        F.expr(
            "CASE WHEN bc * an > ac * bn THEN 1"
            " WHEN bc * an < ac * bn THEN -1 ELSE 0 END"
        ).alias("sg"),
    )
    votes = per_user.groupBy("event_type").agg(
        F.sum(F.expr("IF(sg = 1, 1L, 0L)")).alias("n_up"),
        F.sum(F.expr("IF(sg = -1, 1L, 0L)")).alias("n_down"),
    )
    overall = pu.groupBy("event_type").agg(
        F.sum("ac").alias("ac"), F.sum("an").alias("an"),
        F.sum("bc").alias("bc"), F.sum("bn").alias("bn"),
    ).select(
        "event_type",
        F.expr(
            "CASE WHEN bc * an > ac * bn THEN 1"
            " WHEN bc * an < ac * bn THEN -1 ELSE 0 END"
        ).alias("agg_sign"),
        F.expr(
            "cast(floor(bc * 1000000.0 / bn) - floor(ac * 1000000.0 / an)"
            " as bigint)"
        ).alias("delta_micro"),
    )
    return (
        overall.join(votes, "event_type")
        .select(
            "event_type",
            "agg_sign",
            F.round(F.col("delta_micro") / 1e6 / 100, 6).alias("mean_delta"),
            F.col("n_up").cast("bigint").alias("n_users_up"),
            F.col("n_down").cast("bigint").alias("n_users_down"),
            F.expr(
                "(agg_sign = 1 AND n_down > n_up)"
                " OR (agg_sign = -1 AND n_up > n_down)"
            ).alias("simpson_reversal"),
        )
    )


LORENZ_BINS = 10


def lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points per event type: users ranked by spend into
    deciles, each decile's cumulative share of users vs cumulative share
    of spend — the plot behind `gini_by_type` (Gini is twice the area
    between this curve and the diagonal) and the "top 10% drive X%"
    statement itself.

    Determinism: decile assignment is exact integer arithmetic on the
    rank (ceil(i·B/n) via (i·B + n − 1) div n); cumulative sums are
    exact bigints; two rounded divisions per output row.

    Scale shape: per-user rollup + one keyed rank window over it; the
    decile rollup and cumulative window run over |types|·B rows.
    """
    from pyspark.sql import Window

    per_user = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("cents").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    wn = Window.partitionBy("event_type")
    b = LORENZ_BINS
    binned = (
        per_user.withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wn).cast("bigint"))
        .select(
            "event_type",
            F.expr(f"(i * {b} + n - 1) div n").cast("int").alias("decile"),
            "x",
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("x").alias("spend"),
        )
    )
    tot = binned.groupBy("event_type").agg(
        F.sum("n_users").alias("tu"), F.sum("spend").alias("ts")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        binned.withColumn("cu", F.sum("n_users").over(wc))
        .withColumn("cs", F.sum("spend").over(wc))
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "decile",
            F.round(F.expr("cu / cast(tu as double)"), 6).alias("cum_user_share"),
            # all-zero spend in a type: the spend share is undefined ->
            # NULL on both engines (degenerate sweep, round 8)
            F.expr(
                "if(ts = 0, cast(null as double),"
                " round(cs / cast(ts as double), 6))"
            ).alias("cum_spend_share"),
        )
    )


def auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney rank statistic, with correct
    tie handling: does order value predict urgency?  label = priority
    '1-URGENT', score = price cents.  AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀)
    where R₁ sums AVERAGE ranks of positives — the standard tie
    treatment sklearn applies, computed exactly instead of via a
    sampled curve.

    Determinism: ranks stay in DOUBLED integer units (average rank of a
    tie group is a half-integer, so 2·R₁ is an exact bigint:
    Σ p·(2·cum − t + 1) over score groups with cum = cumulative count,
    t = group size, p = group positives); ONE double division at the
    end, rounded 6dp.

    Scale shape: per-score aggregation (map-side combined) then a
    cumulative window over DISTINCT score values (≪ rows; two-pass
    partition-offset prefix sum at scale); output is one row.
    """
    from pyspark.sql import Window

    s = read_table(spark, sf_dir, "orders").select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        F.expr("if(o_orderpriority = '1-URGENT', 1L, 0L)").alias("pos"),
    )
    grp = s.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("pos").alias("p"),
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    ranked = grp.withColumn("cum", F.sum("t").over(wc)).select(
        F.expr("p * (2 * cum - t + 1)").alias("r1_x2_term"), "t", "p"
    )
    return ranked.agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        (F.sum("t") - F.sum("p")).cast("bigint").alias("n_neg"),
        F.round(
            (F.sum("r1_x2_term") - F.sum("p") * (F.sum("p") + 1))
            / (2 * F.sum("p") * (F.sum("t") - F.sum("p"))).cast("double"),
            6,
        ).alias("auc"),
    )


CALIB_BINS = 10


def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: a pseudo-probability (the exact
    empirical percentile of order price, the monotone score `auc_roc`
    ranks by) vs the realized urgency rate per decile bin — the
    calibration audit run on any score before its threshold goes to
    production; Σ n_b·gap_b / N is ECE.

    Determinism: p̂ = (rank−1)/(n−1) is an exact integer rational
    (min-rank ties); bin = min(9, 10·(rank−1) div (n−1)); the
    confidence−accuracy gap has EXACT integer numerator
    |pos_b·(n−1) − Σ(rank−1)| over denominator (n−1)·n_b, so the only
    doubles are three final rounded divisions per bin row.

    Scale shape: one rank window over score values (prefix-sum shaped),
    one 10-group aggregation; output is ≤ 10 rows.
    """
    from pyspark.sql import Window

    s = read_table(spark, sf_dir, "orders").select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        F.expr("if(o_orderpriority = '1-URGENT', 1L, 0L)").alias("pos"),
    )
    n = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        s.withColumn("rk", F.rank().over(Window.orderBy("cents")).cast("bigint"))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "bin",
            F.expr(f"least({CALIB_BINS - 1}L, ({CALIB_BINS} * (rk - 1)) div (n - 1))"),
        )
    )
    return (
        ranked.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("pos").cast("bigint").alias("pos_b"),
            F.sum(F.expr("rk - 1")).cast("bigint").alias("s_b"),
            F.max("n").alias("n"),
        )
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n_b",
            "pos_b",
            F.round(F.expr("s_b / cast((n - 1) * n_b as double)"), 6).alias(
                "confidence"
            ),
            F.round(F.expr("pos_b / cast(n_b as double)"), 6).alias("accuracy"),
            F.round(
                F.expr("abs(pos_b * (n - 1) - s_b) / cast((n - 1) * n_b as double)"),
                6,
            ).alias("abs_gap"),
        )
    )


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete mutual information between customer nation and market
    segment — the model-free dependence screen (chi²'s
    information-theoretic sibling): MI = Σ (c_xy/N)·ln(c_xy·N/(c_x·c_y))
    plus both marginal entropies and normalized MI = MI/min(H_x, H_y),
    the feature-redundancy score a feature-selection pass ranks by.

    Determinism: every ln argument is an exact integer ratio; each
    per-cell/per-margin term is micro-quantized to bigint BEFORE the
    sums, and NMI is a ratio of two exact bigint sums — the
    `user_behavior_entropy` discipline applied to two variables.

    Scale shape: one (x, y) keyed aggregation with map-side combine;
    margins derive from the small cell table and broadcast back; output
    is one row.
    """
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("x"), F.col("c_mktsegment").alias("y")
    )
    cells = c.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
    mx = cells.groupBy("x").agg(F.sum("cxy").alias("cx"))
    my = cells.groupBy("y").agg(F.sum("cxy").alias("cy"))
    tot = cells.agg(F.sum("cxy").alias("n"))
    terms = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            F.expr(
                "cxy * cast(round(ln(cxy * n / cast(cx * cy as double)) * 1000000)"
                " as bigint)"
            ).alias("mi_term"),
            F.lit(None).cast("bigint").alias("hx_term"),
            F.lit(None).cast("bigint").alias("hy_term"),
        )
        .unionByName(
            mx.crossJoin(F.broadcast(tot)).select(
                "n",
                F.lit(None).cast("bigint").alias("mi_term"),
                F.expr(
                    "cx * cast(round(ln(n / cast(cx as double)) * 1000000) as bigint)"
                ).alias("hx_term"),
                F.lit(None).cast("bigint").alias("hy_term"),
            )
        )
        .unionByName(
            my.crossJoin(F.broadcast(tot)).select(
                "n",
                F.lit(None).cast("bigint").alias("mi_term"),
                F.lit(None).cast("bigint").alias("hx_term"),
                F.expr(
                    "cy * cast(round(ln(n / cast(cy as double)) * 1000000) as bigint)"
                ).alias("hy_term"),
            )
        )
    )
    return terms.groupBy("n").agg(
        F.sum(F.expr("if(mi_term is not null, 1, 0)")).cast("bigint").alias("n_cells"),
        F.round(F.expr("sum(mi_term) / (n * 1e6)"), 6).alias("mi_nats"),
        F.round(F.expr("sum(hx_term) / (n * 1e6)"), 6).alias("h_nation"),
        F.round(F.expr("sum(hy_term) / (n * 1e6)"), 6).alias("h_segment"),
        # a zero-entropy marginal (single category) leaves NMI undefined:
        # NULL on both engines (degenerate sweep, round 8)
        F.expr(
            "if(least(sum(hx_term), sum(hy_term)) = 0, cast(null as double),"
            " round(sum(mi_term)"
            " / cast(least(sum(hx_term), sum(hy_term)) as double), 6))"
        ).alias("nmi"),
    ).drop("n")


ROLL_MED_DAYS = 7


def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of daily event value per type — the
    robust-trend companion of `user_trailing_7d`'s rolling sums: a
    median line shrugs off the single-day spikes that drag a rolling
    mean (and that `value_outliers` flags), so ops dashboards overlay
    both and read divergence as burstiness.

    Determinism: daily totals are exact integer cents; the windowed
    median interpolates between two integers (at worst one .5), so
    2·median is an EXACT integer — it is re-quantized to that grid
    before the single display division (rounding the raw .925-style
    double would land on a Spark-vs-DuckDB half-even boundary).

    Scale shape: one keyed day aggregation (map-side combined), then a
    RANGE window over the per-(type, day) grid — ≤ |types|·|days| rows,
    never events; the window holds ≤ 7 values per frame.
    """
    from pyspark.sql import Window

    daily = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("cents").alias("day_cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-(ROLL_MED_DAYS - 1), 0)
    )
    return (
        daily.withColumn("med", F.expr("percentile(day_cents, 0.5)").over(w))
        .select(
            "event_type",
            "day_idx",
            "day_cents",
            F.expr("cast(round(2 * med) as bigint) / cast(200.0 as double)").alias(
                "rolling_median"
            ),
        )
    )


# SPRT design: H0 p=0.19 vs H1 p=0.21, alpha = beta = 0.05
SPRT_P0 = (19, 100)
SPRT_P1 = (21, 100)
# Wald bounds at alpha = beta = 0.05, folded to integer micro in Python
# and shared verbatim by both engines' SQL (see EWMA_BAND_SCALE note).
SPRT_A_MICRO = round(math.log(19.0) * 1_000_000)
SPRT_B_MICRO = round(math.log(1.0 / 19.0) * 1_000_000)


def sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test replayed over the event
    stream: per experiment variant (user-hash parity — the same
    deterministic assignment an A/B platform uses), accumulate the daily
    log-likelihood ratio of purchase conversion under H1 (p=0.21) vs H0
    (p=0.19) and mark the first boundary crossing — the always-valid
    peeking monitor that replaces fixed-horizon tests when stakeholders
    watch dashboards daily (Wald 1945: cross ln((1−β)/α) ⇒ accept H1,
    cross ln(β/(1−α)) ⇒ accept H0, else continue).

    Determinism: the two per-event LLR increments ln(p1/p0) and
    ln((1−p1)/(1−p0)) are ln of EXACT rationals, micro-quantized ONCE
    as constants; each day's increment is counts × constants (exact
    bigint), the running sum is a bigint prefix, and boundary
    comparisons are integer-vs-integer.

    Scale shape: one keyed (variant, day) aggregation (map-side
    combined) over events, then a cumulative window over the bounded
    day grid per variant.
    """
    from pyspark.sql import Window

    p0n, p0d = SPRT_P0
    p1n, p1d = SPRT_P1
    # micro-quantized increments (identical expressions both engines)
    l_succ = f"cast(round(ln({p1n} / cast({p0n} as double)) * 1000000) as bigint)"
    l_fail = (
        f"cast(round(ln(({p1d} - {p1n}) / cast({p0d} - {p0n} as double))"
        " * 1000000) as bigint)"
    )
    # alpha = beta = 0.05: A = ln(0.95/0.05) = ln(19), B = ln(0.05/0.95).
    # Integer micro bounds folded in Python (same decimal-literal-division
    # hazard as EWMA_BAND_SCALE: Spark's ln(1.0 / 19.0) is ln of the
    # DECIMAL quotient 0.052632 = −2944431 micro, 8 off the double's
    # −2944439 — a latent decision flip for any cum_llr in the gap).
    a_bound = str(SPRT_A_MICRO)
    b_bound = str(SPRT_B_MICRO)
    ev = read_table(spark, sf_dir, "events").select(
        F.expr("user_id % 2").alias("variant"),
        F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
        F.expr("if(event_type = 'purchase', 1L, 0L)").alias("is_p"),
    )
    daily = ev.groupBy("variant", "day_idx").agg(
        F.sum("is_p").alias("n_succ"),
        (F.count(F.lit(1)) - F.sum("is_p")).alias("n_fail"),
    )
    w = (
        Window.partitionBy("variant")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily.withColumn(
            "llr_day", F.expr(f"n_succ * ({l_succ}) + n_fail * ({l_fail})")
        )
        .withColumn("cum_llr_micro", F.sum("llr_day").over(w))
        .select(
            "variant",
            "day_idx",
            F.col("n_succ").cast("bigint").alias("n_succ"),
            F.col("n_fail").cast("bigint").alias("n_fail"),
            F.round(F.col("cum_llr_micro") / 1e6, 6).alias("cum_llr"),
            F.expr(
                f"CASE WHEN cum_llr_micro >= {a_bound} THEN 'accept_h1'"
                f" WHEN cum_llr_micro <= {b_bound} THEN 'accept_h0'"
                " ELSE 'continue' END"
            ).alias("decision"),
        )
    )


def user_saturation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience saturation per event type: daily ACTIVE users, NEW users
    (first-ever day for that user×type), and the cumulative distinct
    user count — the growth curve behind "are we acquiring or churning",
    computed without any cumulative-distinct state by the
    first-occurrence trick (a user is new exactly once, so cumulative
    distinct = prefix sum of news — the same identity `heaps_fit` uses
    for vocabulary).

    Determinism: exact integer counts; the prefix sum runs over the
    bounded (type, day) grid.

    Scale shape: two keyed aggregations (per (type,user) min-day, per
    (type,day) counts) + one grid-sized cumulative window; events
    shuffle once by (type, user).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
    )
    active = ev.groupBy("event_type", "day_idx").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_active")
    )
    first_day = ev.groupBy("event_type", "user_id").agg(
        F.min("day_idx").alias("day_idx")
    )
    news = first_day.groupBy("event_type", "day_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        active.join(news, ["event_type", "day_idx"], "left")
        .select(
            "event_type",
            "day_idx",
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w))
    )


def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per part type: OLS slope of
    ln(quantity) on ln(unit price) over line items — the textbook
    elasticity regression a pricing team runs per category (slope ≈ −1
    is unit-elastic; the synthetic corpus mostly measures the formula,
    which is the contract here).

    Determinism: both regressors are micro-quantized to bigints per
    row; the cross-product sums can exceed int64 at fact-table
    cardinality, so Σxy and Σx² accumulate as DECIMAL(38,0) (exact —
    Spark decimal vs DuckDB HUGEINT, both cast to double only for the
    ONE final slope division).

    Scale shape: one fact scan + broadcast part-dim join, one keyed
    aggregation with map-side combine; output is |types| rows.
    """
    # log-log elasticity needs positive quantity AND price: exclude
    # zero lines BEFORE the division/ln (ANSI raises on the division,
    # DuckDB on ln(0)) -- degenerate sweep, round 8
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.expr("l_quantity > 0 and round(l_extendedprice * 100) > 0"))
        .select(
            "l_partkey",
            F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("cents"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    d = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_type",
        F.expr(
            "cast(round(ln(cents / (100.0 * qty)) * 1000000) as bigint)"
        ).alias("x"),
        F.expr("cast(round(ln(qty) * 1000000) as bigint)").alias("y"),
    )
    agg = d.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    return agg.select(
        "p_type",
        "n",
        F.round(
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxy")
                - F.col("sx").cast("decimal(38,0)") * F.col("sy")
            ).cast("double")
            / (
                F.col("n").cast("decimal(38,0)") * F.col("sxx")
                - F.col("sx").cast("decimal(38,0)") * F.col("sx")
            ).cast("double"),
            6,
        ).alias("elasticity"),
    )


DECOMP_HALF = 3  # centered moving-average half-width (full window = 7)


def classical_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive time-series decomposition of daily event cents
    per type: trend = centered 7-day moving average, seasonal = mean
    weekday deviation from trend, residual = remainder — the
    decomposition every seasonality claim should cite before
    `seasonal_forecast_error` picks a model.

    Determinism: the trend numerator Σc over the full 7-day frame is an
    exact integer (frames missing edge days emit NULL trend, exactly
    like statsmodels); the detrended series is kept in EXACT ×7 units
    (7c − S), seasonal means divide by (7·n_w) with truncating integer
    div, and the residual is assembled entirely in integer micro-units.

    Scale shape: one keyed day aggregation, one 7-row window and one
    weekday-grid aggregation per type — all over the bounded
    (type, day) grid, never events.
    """
    from pyspark.sql import Window

    daily = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-DECOMP_HALF, DECOMP_HALF)
    )
    trended = daily.withColumn(
        "s7",
        F.when(
            F.count(F.lit(1)).over(w) == 2 * DECOMP_HALF + 1, F.sum("cents").over(w)
        ),
    ).withColumn("d_x7", F.expr("7 * cents - s7"))
    seas = (
        trended.filter(F.col("s7").isNotNull())
        .groupBy("event_type", F.expr("(day_idx + 4) % 7").alias("weekday"))
        .agg(
            F.sum("d_x7").alias("sd7"),
            F.count(F.lit(1)).cast("bigint").alias("nw"),
        )
        .select(
            "event_type",
            "weekday",
            F.expr("(sd7 * 1000000L) div (7 * nw)").alias("seasonal_micro"),
        )
    )
    return (
        trended.withColumn("weekday", F.expr("(day_idx + 4) % 7"))
        .join(seas, ["event_type", "weekday"], "left")
        .select(
            "event_type",
            "day_idx",
            "cents",
            F.round(F.expr("(s7 * 1000000L div 7) / 1e6"), 6).alias("trend"),
            F.round(F.expr("seasonal_micro / 1e6"), 6).alias("seasonal"),
            F.round(
                F.expr(
                    "if(s7 is null, null,"
                    " (cents * 1000000L - s7 * 1000000L div 7 - seasonal_micro)"
                    " / 1e6)"
                ),
                6,
            ).alias("residual"),
        )
    )


STICKY_WINDOW_DAYS = 28


def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily active users over trailing
    28-day active users — THE engagement ratio (a user active 1 day in
    28 contributes 1/28; a daily habit contributes 1) every consumer
    dashboard headlines.

    Algorithm: exact, via the covering-day explode — each distinct
    (user, active-day) pair covers the 28 report days it is visible to,
    so trailing-window distinct users = count of users with ≥ 1
    covering pair per report day, WITHOUT a sliding distinct state.
    Report days beyond the corpus end are clipped pre-shuffle.

    Determinism: exact integer counts; one rounded division per day.

    Scale shape: user-days dedup first (the big shuffle, map-side
    combined), then a bounded ×28 explode of user-DAYS (not events) and
    a keyed distinct per report day.  At 100 TB the explode is replaced
    by per-day HLL sketches merged over the window (sketch.hll_by_group
    machinery) — the documented approximate path; the exact form here
    is the oracle for it.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day_idx")
    )
    user_days = ev.distinct()
    end_day = user_days.agg(F.max("day_idx").alias("end_day"))
    dau = user_days.groupBy("day_idx").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    covering = (
        user_days.crossJoin(F.broadcast(end_day))
        .select(
            "user_id",
            F.explode(
                F.expr(
                    f"sequence(day_idx, least(day_idx + {STICKY_WINDOW_DAYS - 1},"
                    " end_day))"
                )
            ).alias("report_day"),
        )
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    )
    return (
        dau.join(covering, dau.day_idx == covering.report_day)
        .select(
            "day_idx",
            "dau",
            "mau",
            F.round(F.expr("dau / cast(mau as double)"), 6).alias("stickiness"),
        )
    )


def weighted_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median unit price per return flag, computed by a
    GROUPED-AGG pandas UDF — the Arrow-vectorized custom-aggregate
    escape hatch (SURVEY §2 M-category) demonstrated on an aggregate
    Spark lacks natively: the weighted median (smallest x whose
    cumulative weight reaches half the total, weights = quantities).
    The UDF receives each group as Arrow arrays, so the python crossing
    is per-GROUP, not per-row — the only acceptable UDF shape in a hot
    path.

    Determinism: the pick is an integer comparison (2·cumw ≥ W on
    integer cents/quantities, ties to the smaller cents); the oracle
    computes the same order statistic with a SQL cumulative window —
    two algorithms, same integer.

    Scale shape: one keyed shuffle of (flag, cents, qty) triples; the
    UDF sorts within each group (groups are |distinct prices|-bounded
    after the pre-aggregation, which also makes the Arrow batches
    tiny).
    """
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("bigint", PandasUDFType.GROUPED_AGG)
    def wmedian(cents, qty):
        df = pd.DataFrame({"c": cents, "q": qty}).sort_values("c")
        w = int(df["q"].sum())
        cum = 0
        for c, g in zip(df["c"], df["q"]):
            cum += int(g)
            if 2 * cum >= w:
                return int(c)
        return int(df["c"].iloc[-1])

    li = (
        read_table(spark, sf_dir, "lineitem")
        # a zero-quantity line has no unit price and zero weight: it
        # cannot move the weighted median -- filter it BEFORE the unit
        # division, which would otherwise raise under ANSI (degenerate
        # sweep, round 8; the oracle applies the same predicate)
        .filter(F.col("l_quantity") > 0)
        .select(
            "l_returnflag",
            F.expr(
                "cast(round(l_extendedprice / l_quantity * 100) as bigint)"
            ).alias("cents"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
        # pre-aggregate per distinct price: shrinks the Arrow batch and
        # the in-UDF sort to |distinct prices| without changing the
        # weighted order statistic
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("qty").alias("qty"))
    )
    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — run the exact total in its own
    # keyed agg and join on the |flags|-row result
    med = li.groupBy("l_returnflag").agg(
        wmedian("cents", "qty").alias("wmedian_cents")
    )
    tot = li.groupBy("l_returnflag").agg(
        F.sum("qty").cast("bigint").alias("w_total")
    )
    return tot.join(med, "l_returnflag").select(
        "l_returnflag", "w_total", "wmedian_cents"
    )


CORR_WINDOW_DAYS = 14


def rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling Pearson correlation between daily view counts and
    daily purchase counts — the co-movement monitor behind "did the
    funnel decouple this week": correlation near 1 means purchases
    track traffic; a dip flags a conversion problem traffic metrics
    hide.

    Determinism: per-day counts are exact integers; every windowed
    moment (Σx, Σy, Σxy, Σx², Σy², n) is an exact bigint window sum,
    so the correlation is ONE fixed double expression of exact
    integers, rounded 6dp; frames with undefined variance emit NULL.

    Scale shape: one keyed day aggregation, a self-join-free pivot to
    (day, views, purchases) rows, and RANGE windows over the bounded
    day grid.
    """
    from pyspark.sql import Window

    daily = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day_idx"))
        .agg(
            F.sum(F.expr("if(event_type = 'view', 1L, 0L)")).alias("x"),
            F.sum(F.expr("if(event_type = 'purchase', 1L, 0L)")).alias("y"),
        )
    )
    w = (
        Window.orderBy("day_idx")
        .rangeBetween(-(CORR_WINDOW_DAYS - 1), 0)
    )
    m = (
        daily.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum("x").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxy", F.sum(F.expr("x * y")).over(w))
        .withColumn("sxx", F.sum(F.expr("x * x")).over(w))
        .withColumn("syy", F.sum(F.expr("y * y")).over(w))
    )
    corr = (
        "(n * sxy - sx * sy) / (sqrt(cast(n * sxx - sx * sx as double))"
        " * sqrt(cast(n * syy - sy * sy as double)))"
    )
    return m.select(
        "day_idx",
        F.col("x").alias("views"),
        F.col("y").alias("purchases"),
        F.round(
            F.expr(
                f"if(n * sxx - sx * sx = 0 or n * syy - sy * sy = 0,"
                f" null, {corr})"
            ),
            6,
        ).alias("rolling_corr"),
    )


def spearman_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between unit price and quantity per
    part type — the monotone-association screen that catches what
    Pearson (`price_elasticity`'s OLS) misses when the relationship is
    nonlinear: rank both variables WITH average-rank tie handling, then
    Pearson on the ranks.

    Determinism: average ranks are half-integers, so DOUBLED ranks are
    exact bigints (the `auc_roc` trick ×2 variables); every moment sum
    is exact (DECIMAL(38,0) for the cross products — fact-cardinality
    rank products overflow int64); correlation is one fixed double
    expression, rounded 6dp.

    Scale shape: two keyed rank windows per type (distinct-value
    cumulative counts, prefix-sum shaped) + one moment aggregation.
    """
    from pyspark.sql import Window

    # zero-quantity lines have no unit price (ANSI division error):
    # excluded on both engines -- degenerate sweep, round 8
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select(
            "l_partkey",
            F.expr(
                "cast(round(l_extendedprice / l_quantity * 100) as bigint)"
            ).alias("price_c"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    d = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_type", "price_c", "qty"
    )

    def ranked_x2(col):
        """Average rank ×2 per (type, value): 2·cum − t + 1 over the
        per-value group sizes (exact integers)."""
        grp = d.groupBy("p_type", col).agg(F.count(F.lit(1)).alias("t"))
        wc = (
            Window.partitionBy("p_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return grp.withColumn("cum", F.sum("t").over(wc)).select(
            "p_type", col, F.expr("2 * cum - t + 1").alias(f"r2_{col}")
        )
    rx = ranked_x2("price_c")
    ry = ranked_x2("qty")
    j = d.join(rx, ["p_type", "price_c"]).join(ry, ["p_type", "qty"])
    agg = j.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r2_price_c").alias("sx"),
        F.sum("r2_qty").alias("sy"),
        F.sum(
            F.col("r2_price_c").cast("decimal(38,0)") * F.col("r2_qty")
        ).alias("sxy"),
        F.sum(
            F.col("r2_price_c").cast("decimal(38,0)") * F.col("r2_price_c")
        ).alias("sxx"),
        F.sum(F.col("r2_qty").cast("decimal(38,0)") * F.col("r2_qty")).alias(
            "syy"
        ),
    )
    num = (
        "cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy"
    )
    denx = "cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx"
    deny = "cast(n as decimal(38,0)) * syy - cast(sy as decimal(38,0)) * sy"
    return agg.select(
        "p_type",
        "n",
        F.round(
            F.expr(
                f"cast({num} as double) / (sqrt(cast({denx} as double))"
                f" * sqrt(cast({deny} as double)))"
            ),
            6,
        ).alias("spearman_rho"),
    )


def conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase conversion between the
    hash-split experiment variants (user parity, as `sprt_monitor`):
    pooled-variance z statistic + the absolute lift with its 95%
    Wald interval — the fixed-horizon readout next to SPRT's
    sequential one.

    Determinism: counts are exact; the z and CI arithmetic is one
    fixed double expression of exact integers (the chi2_independence
    discipline), rounded 6dp.

    Scale shape: one keyed (variant) aggregation; output is one row.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.expr("user_id % 2").alias("variant"),
        F.expr("if(event_type = 'purchase', 1L, 0L)").alias("is_p"),
    )
    per = ev.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_p").cast("bigint").alias("x"),
    )
    a = per.filter(F.col("variant") == 0).select(
        F.col("n").alias("n0"), F.col("x").alias("x0")
    )
    b = per.filter(F.col("variant") == 1).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    z = (
        "(x1 / cast(n1 as double) - x0 / cast(n0 as double))"
        " / sqrt((x0 + x1) / cast(n0 + n1 as double)"
        " * (1 - (x0 + x1) / cast(n0 + n1 as double))"
        " * (1.0 / n0 + 1.0 / n1))"
    )
    se = (
        "sqrt(x0 / cast(n0 as double) * (1 - x0 / cast(n0 as double)) / n0"
        " + x1 / cast(n1 as double) * (1 - x1 / cast(n1 as double)) / n1)"
    )
    return a.crossJoin(b).select(
        "n0",
        "x0",
        "n1",
        "x1",
        F.round(F.expr("x1 / cast(n1 as double) - x0 / cast(n0 as double)"), 6)
        .alias("lift"),
        F.round(F.expr(z), 6).alias("z_stat"),
        F.round(
            F.expr(
                f"x1 / cast(n1 as double) - x0 / cast(n0 as double)"
                f" - 1.959963985 * ({se})"
            ),
            6,
        ).alias("ci_lo"),
        F.round(
            F.expr(
                f"x1 / cast(n1 as double) - x0 / cast(n0 as double)"
                f" + 1.959963985 * ({se})"
            ),
            6,
        ).alias("ci_hi"),
    )


QINI_BINS = 10


def qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve: rank users by a targeting score (trailing
    total engagement cents — the stand-in for an uplift model's score),
    split into deciles, and report per-decile incremental conversions
    treated-vs-control (user-parity assignment) with the cumulative
    Qini coefficient numerator — the evaluation curve uplift models are
    compared on (Radcliffe 2007): a useful score concentrates positive
    uplift in the top deciles.

    Determinism: decile cuts are exact integer rank positions; uplift
    per decile is n_c·x_t − n_t·x_c over exact counts (kept as the
    exact integer CROSS-product numerator; the displayed rate divides
    once, rounded); cumulative sums are exact bigints.

    Scale shape: one per-user aggregation, one rank window, one decile
    rollup + cumulative window over 10 rows.
    """
    from pyspark.sql import Window

    per_user = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("cast(floor(value * 100) as bigint)")).alias("score"),
            F.max(F.expr("if(event_type = 'purchase', 1L, 0L)")).alias("conv"),
        )
        .withColumn("treated", F.expr("cast(user_id % 2 as bigint)"))
    )
    n = per_user.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        per_user.crossJoin(F.broadcast(n))
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("user_id").asc()))
            .cast("bigint"),
        )
        .withColumn(
            "decile", F.expr(f"least({QINI_BINS - 1}L, ((rk - 1) * {QINI_BINS}) div n)")
        )
    )
    per_dec = ranked.groupBy("decile").agg(
        F.sum(F.expr("if(treated = 1, 1L, 0L)")).alias("n_t"),
        F.sum(F.expr("if(treated = 1, conv, 0L)")).alias("x_t"),
        F.sum(F.expr("if(treated = 0, 1L, 0L)")).alias("n_c"),
        F.sum(F.expr("if(treated = 0, conv, 0L)")).alias("x_c"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_dec.withColumn("uplift_num", F.expr("x_t * n_c - x_c * n_t"))
        .withColumn("cum_uplift_num", F.sum("uplift_num").over(wc))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_t",
            "x_t",
            "n_c",
            "x_c",
            F.round(
                F.expr(
                    "if(n_t = 0 or n_c = 0, null,"
                    " x_t / cast(n_t as double) - x_c / cast(n_c as double))"
                ),
                6,
            ).alias("uplift_rate"),
            F.col("cum_uplift_num").cast("bigint").alias("cum_qini_num"),
        )
    )


def varpop_expr(g: str, big: str) -> str:
    """Population variance from exact integer moments (n_{g}, s_{g},
    ss_{g}) — shared with the DuckDB oracle (big='HUGEINT')."""
    return (
        f"(cast(cast(n_{g} as {big}) * ss_{g} - cast(s_{g} as {big}) * s_{g}"
        f" as double) / (cast(n_{g} as double) * cast(n_{g} as double)))"
    )


def seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality and trend strength per event type (Hyndman &
    Athanasopoulos, FPP3 §4.4): F_s = max(0, 1 − Var(R)/Var(S+R)) and
    F_t = max(0, 1 − Var(R)/Var(T+R)) over the `classical_decompose`
    components — the one-number-per-series summary that ranks which
    series are worth a seasonal model (`seasonal_forecast_error`) and
    which are noise.

    Determinism: the decomposition is re-derived in EXACT integer
    micro-units (identical arithmetic to classical_decompose:
    truncating div by 7, micro-quantized seasonal means), variances
    come from exact wide-integer moments (n·Σx² − (Σx)²), and each
    strength is one shared double expression (varpop_expr) — no float
    ever aggregates.

    Scale shape: same bounded (type, day) grid as the decompose; the
    strength surface is a |types|-row aggregate.
    """
    from pyspark.sql import Window

    daily = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-DECOMP_HALF, DECOMP_HALF)
    )
    trended = daily.withColumn(
        "s7",
        F.when(
            F.count(F.lit(1)).over(w) == 2 * DECOMP_HALF + 1,
            F.sum("cents").over(w),
        ),
    )
    seas = (
        trended.filter(F.col("s7").isNotNull())
        .groupBy("event_type", F.expr("(day_idx + 4) % 7").alias("weekday"))
        .agg(
            F.sum(F.expr("7 * cents - s7")).alias("sd7"),
            F.count(F.lit(1)).cast("bigint").alias("nw"),
        )
        .select(
            "event_type",
            "weekday",
            F.expr("(sd7 * 1000000L) div (7 * nw)").alias("seasonal_micro"),
        )
    )
    comp = (
        trended.filter(F.col("s7").isNotNull())
        .withColumn("weekday", F.expr("(day_idx + 4) % 7"))
        .join(seas, ["event_type", "weekday"])
        .select(
            "event_type",
            F.expr("cents * 1000000L - s7 * 1000000L div 7").alias("detr"),
            F.expr(
                "cents * 1000000L - s7 * 1000000L div 7 - seasonal_micro"
            ).alias("r"),
            F.expr("cents * 1000000L - seasonal_micro").alias("tr"),
        )
    )
    mom = comp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r"),
        F.sum(F.expr("cast(r as decimal(38,0))")).alias("s_r"),
        F.sum(F.expr("cast(r as decimal(38,0)) * r")).alias("ss_r"),
        F.sum(F.expr("cast(detr as decimal(38,0))")).alias("s_d"),
        F.sum(F.expr("cast(detr as decimal(38,0)) * detr")).alias("ss_d"),
        F.sum(F.expr("cast(tr as decimal(38,0))")).alias("s_t"),
        F.sum(F.expr("cast(tr as decimal(38,0)) * tr")).alias("ss_t"),
    )
    big = "decimal(38,0)"
    mom = mom.select(
        "event_type",
        F.col("n_r").alias("n_d"),
        F.col("n_r").alias("n_t"),
        "n_r",
        "s_r",
        "ss_r",
        "s_d",
        "ss_d",
        "s_t",
        "ss_t",
    )
    return mom.select(
        "event_type",
        F.col("n_r").alias("n_days"),
        F.round(
            F.expr(
                f"greatest(0.0, 1.0 - {varpop_expr('r', big)}"
                f" / {varpop_expr('d', big)})"
            ),
            6,
        ).alias("strength_seasonal"),
        F.round(
            F.expr(
                f"greatest(0.0, 1.0 - {varpop_expr('r', big)}"
                f" / {varpop_expr('t', big)})"
            ),
            6,
        ).alias("strength_trend"),
    )


# Theil-T surface: T = Σx·lnq(x)/(X·1e9) − ln(X/n), with lnq(x) the
# nano-quantized ln so the Σx·lnq(x) sum is exact integer arithmetic.
THEIL_T = (
    "(cast(sxl as double) / (cast(sx as double) * 1000000000.0)"
    " - ln(cast(sx as double) / cast(n as double)))"
)


def theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of customer spend per nation — the
    entropy-based inequality measure that, unlike `gini_by_type`'s
    rank-based Gini, DECOMPOSES exactly into within-group +
    between-group terms, which is why economic monitoring pairs them
    (Theil 1967).  Reads beside `hhi_concentration` (squared-share
    concentration) and `lorenz_points` (the full curve).

    Determinism: spend is exact integer cents; ln(x_i) is
    nano-quantized per row so Σx·lnq(x) rides exact wide-integer
    addition (order-independent); the surface is one shared double
    expression over (n, Σx, Σx·lnq) plus a final ln of an exact ratio.

    Scale shape: one fact-fact keyed join (order→customer via
    broadcast dim), one customer-keyed spend rollup, one
    |nations|-row moment aggregate.
    """
    spend = (
        read_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("x")
        )
        .where(F.col("x") > 0)
    )
    mom = spend.select(
        "c_nationkey",
        "x",
        F.expr(
            "cast(round(ln(cast(x as double)) * 1000000000.0) as bigint)"
        ).alias("lx"),
    ).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("cast(x as decimal(38,0)) * lx")).alias("sxl"),
    )
    return mom.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        # single-customer nations put the quantized log-sum an ulp under
        # the fresh ln term, so the rounded index is IEEE ±0.0 — Spark
        # strips the sign, DuckDB keeps -0.0; normalize post-round on
        # both sides (the atkinson_index convention; randomized --degen
        # audit, round 8)
        F.expr(f"round({THEIL_T}, 6) + cast(0 as double)").alias("theil_t"),
    )


# adjusted standardized residual: (o - e) / sqrt(e (1 - row/N)(1 - col/N))
# a marginal spanning the whole table (row_n = n or col_n = n) zeroes
# the variance factor: the residual is undefined there -- NULL on both
# engines, not an ANSI division error (degenerate sweep, round 8; the
# oracle imports this string, so the guard is engine-paired by
# construction)
CHI2_ADJ_RESID = (
    "(CASE WHEN row_n = n OR col_n = n THEN NULL ELSE"
    " ((observed - row_n * col_n / cast(n as double))"
    " / sqrt(row_n * col_n / cast(n as double)"
    " * (1.0 - row_n / cast(n as double))"
    " * (1.0 - col_n / cast(n as double)))) END)"
)


def chi2_adjusted_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc cell diagnosis for the `chi2_independence` cross-tab:
    Haberman's ADJUSTED standardized residuals (o−e)/√(e(1−p_r)(1−p_c))
    per cell, which are asymptotically N(0,1) under independence — the
    answer to "WHICH cells drive the significant χ²?", flagged at
    |r| > 2.  Raw χ² terms (the sibling op) overweight small-expectation
    cells; the adjusted residual is the calibrated read.

    Determinism: marginals are exact integers; the residual is one
    shared double expression tree; the flag compares the UNROUNDED
    residual.

    Scale shape: identical to chi2_independence — one keyed |types|×7
    aggregation plus broadcast marginals.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            f"(unix_micros(ts) div {86_400 * 1_000_000} + 4) % 7"
        ).alias("weekday"),
    )
    cells = ev.groupBy("event_type", "weekday").agg(
        F.count(F.lit(1)).cast("bigint").alias("observed")
    )
    rows = cells.groupBy("event_type").agg(F.sum("observed").alias("row_n"))
    cols = cells.groupBy("weekday").agg(F.sum("observed").alias("col_n"))
    tot = cells.agg(F.sum("observed").alias("n"))
    return (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "weekday")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "weekday",
            "observed",
            F.round(
                F.expr("row_n * col_n / cast(n as double)"), 6
            ).alias("expected"),
            F.round(F.expr(CHI2_ADJ_RESID), 6).alias("adj_residual"),
            F.expr(f"abs({CHI2_ADJ_RESID}) > 2.0").alias("significant"),
        )
    )


def hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity profile per event type: counts and shares
    over the 7×24 grid — the seasonality fingerprint behind
    `weekday_anova` (which tests day-grain differences) at the hour
    grain every traffic dashboard and capacity plan reads.

    Determinism: weekday from (epoch_day + 4) % 7 and hour from
    epoch-second arithmetic (never engine-specific dayofweek()/hour()
    functions); counts exact; one division per cell.

    Scale shape: one keyed |types|×168-cell aggregation with map-side
    combine; the per-type totals broadcast back onto the grid.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            f"(unix_micros(ts) div {86_400 * 1_000_000} + 4) % 7"
        ).alias("weekday"),
        F.expr(
            f"(unix_micros(ts) div {3_600 * 1_000_000}) % 24"
        ).alias("hour"),
    )
    cells = ev.groupBy("event_type", "weekday", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "weekday",
        "hour",
        "n",
        F.round(
            F.expr("cast(n as double) / cast(tot as double)"), 6
        ).alias("share"),
    )


HURST_WINDOWS = [5, 10, 15]


def hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-count series by classic
    rescaled-range (R/S) analysis (Hurst 1951; Mandelbrot & Wallis 1969):
    for each window size w, split the day series into full non-overlapping
    chunks, compute each chunk's range of cumulative mean-deviations over
    its population std, average, and fit ln(R/S) against ln(w) — slope
    H > 0.5 means long-range persistence, < 0.5 anti-persistence, the
    memory diagnostic beside `autocorrelation_daily` (fixed lags) and
    `hill_tail_index` (tail weight).

    Determinism: all chunk math stays integer by working at w× scale —
    w·Z_t = w·P_t − t·S is exact (P_t prefix sum, S chunk sum), so
    R' = max−min is exact and R/S = R' / sqrt(w·Σx² − S²) is ONE double
    per chunk, micro-quantized before the cross-chunk average; the ln
    values entering the slope fit are micro-quantized (coarser than the
    usual nano so the integer cross-products of the 3-point fit stay far
    inside bigint), so both engines fit identical points.

    Scale shape: the only data-sized stage is the day rollup (combiner
    folded); everything after runs on the |days|-row grid — the grid
    windows are deliberately unpartitioned over ≤366 rows (the granger /
    daily-series family note).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    daily = ev.groupBy("d").agg(F.count(F.lit(1)).alias("x"))
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    # the ≤366-row zero-filled grid feeds one chunk pipeline per window
    # size — checkpoint it so the fact rollup runs once, not |windows|
    # times (exchange reuse does not dedupe the per-window subtrees)
    grid = (
        spine.join(daily, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).alias("x"))
        .withColumn("idx", F.row_number().over(Window.orderBy("d")) - 1)
        .localCheckpoint(eager=True)
    )
    per_w = []
    for w in HURST_WINDOWS:
        chunked = grid.select(
            F.lit(w).alias("w"),
            F.expr(f"idx div {w}").alias("chunk"),
            F.expr(f"idx % {w} + 1").alias("t"),
            "x",
        )
        cw = Window.partitionBy("chunk")
        run = (
            Window.partitionBy("chunk")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        z = (
            chunked.withColumn("n_in", F.count(F.lit(1)).over(cw))
            .filter(F.col("n_in") == w)
            .withColumn("p", F.sum("x").over(run))
            .withColumn("s", F.sum("x").over(cw))
            .withColumn("ss", F.sum(F.expr("x * x")).over(cw))
            .withColumn("wz", F.expr(f"{w}L * p - t * s"))
        )
        per_w.append(
            z.groupBy("w", "chunk").agg(
                F.max("s").alias("s"),
                F.max("ss").alias("ss"),
                (F.max("wz") - F.min("wz")).alias("r_scaled"),
            )
        )
    chunks = per_w[0]
    for df in per_w[1:]:
        chunks = chunks.unionByName(df)
    # Drop zero-variance chunks explicitly (e.g. an all-zero >=w-day
    # stretch on the zero-filled spine): w·Σx²−S² = 0 there, and 0/0
    # NaN→bigint maps to 0 in Spark but errors in DuckDB — engine
    # divergence on sparse data.  The integer predicate is exact.
    rs = chunks.filter(F.expr("w * ss - s * s > 0")).select(
        "w",
        F.expr(
            "cast(round(r_scaled / sqrt(cast(w as double) * ss - cast(s as double) * s)"
            " * 1e6) as bigint)"
        ).alias("rs_micro"),
    )
    agg = rs.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("rs_micro").alias("rs_sum_micro"),
    )
    pts = agg.select(
        "w",
        "n_chunks",
        "rs_sum_micro",
        F.expr("cast(round(ln(w) * 1e6) as bigint)").alias("lx"),
        F.expr(
            "cast(round(ln(rs_sum_micro / n_chunks / 1e6) * 1e6) as bigint)"
        ).alias("ly"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.expr("lx * ly")).alias("sxy"),
        F.sum(F.expr("lx * lx")).alias("sxx"),
    ).select(
        F.round(
            F.expr(
                "(cast(k as double) * sxy - cast(sx as double) * sy)"
                " / (cast(k as double) * sxx - cast(sx as double) * sx)"
            ),
            6,
        ).alias("h")
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        F.col("w").cast("bigint").alias("window_size"),
        "n_chunks",
        # rs_sum_micro/n_chunks is a FRESH fractional double, so
        # round(x, 6) sits on half boundaries the engines resolve
        # differently (e.g. .../4 = ...0.5 micro exactly) — quantize by
        # rounding at the micro scale instead (randomized --degen audit,
        # round 8); equal to the old value everywhere off the boundary
        F.expr(
            "cast(round(rs_sum_micro / n_chunks) as bigint) / 1e6"
        ).alias("avg_rs"),
        F.col("h").alias("hurst_exponent"),
    )


def fano_factor_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor) of daily event counts per type:
    variance-to-mean ratio of the zero-filled day series — the quick
    over/under-dispersion triage that decides whether a Poisson rate
    model is even admissible (Fano ≈ 1) or the negative-binomial
    machinery (`negbin_fit_orders`) is needed (Fano > 1; clustered
    arrivals), completing the count-model shelf.

    Determinism: daily counts are exact integers on the shared
    zero-filled spine; population variance is exact integer arithmetic
    (n·Σx² − (Σx)²); ONE double division per group at the surface.

    Scale shape: one fact scan folds to (type, day) counts
    (combiner-folded); everything after runs on |types| × |days| rows.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("x"))
    bounds = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    types = ev.select("event_type").distinct()
    dense = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", F.coalesce("x", F.lit(0)).alias("x"))
    )
    # moments in DECIMAL(38,0) (HUGEINT oracle-side): s is a type's
    # TOTAL event count, so the n·Σx²−s² cross term leaves int64 once a
    # type passes ~3e9 events — decimal keeps the arithmetic exact at
    # any SF (sibling-op convention).
    mom = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("ss"),
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.expr("s / cast(n as double)"), 6).alias("mean_daily"),
        F.round(
            F.expr("(n * ss - s * s) / (cast(n as double) * n)"), 6
        ).alias("var_daily"),
        F.round(
            F.expr("((n * ss - s * s) / (cast(n as double) * n)) / (s / cast(n as double))"),
            6,
        ).alias("fano_factor"),
        F.expr(
            "CASE WHEN (n * ss - s * s) / (cast(n as double) * n) / (s / cast(n as double)) > 1.5 THEN 'overdispersed'"
            "     WHEN (n * ss - s * s) / (cast(n as double) * n) / (s / cast(n as double)) < 0.67 THEN 'underdispersed'"
            "     ELSE 'poisson_like' END"
        ).alias("dispersion_class"),
    )


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the price→
    urgency pseudo-probability that `calibration_bins` audits:
    Brier = reliability − resolution + uncertainty (+ a within-bin
    variance residual, since the binned decomposition replaces each
    forecast by its bin mean).  Reliability isolates miscalibration
    (what recalibration can fix), resolution the score's actual
    discriminative information (what it cannot), uncertainty the
    irreducible base-rate entropy — the diagnosis that says WHY a Brier
    score is bad, where the raw score only says THAT it is.

    Determinism: p̂ = (rank−1)/(n−1) is an exact integer rational
    (min-rank ties, the calibration_bins convention); the global Brier
    moments are exact bigints over denominator (n−1)²; per-bin
    reliability/resolution terms are micro-quantized before the ≤10-row
    cross-bin sum (module discipline).

    Scale shape: the same one rank window over score values as
    calibration_bins (prefix-sum shaped at scale), one 10-group and one
    1-row aggregate; output is one row.
    """
    from pyspark.sql import Window

    s = read_table(spark, sf_dir, "orders").select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        F.expr("if(o_orderpriority = '1-URGENT', 1L, 0L)").alias("pos"),
    )
    n = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        s.withColumn("rk", F.rank().over(Window.orderBy("cents")).cast("bigint"))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "bin",
            F.expr(f"least({CALIB_BINS - 1}L, ({CALIB_BINS} * (rk - 1)) div (n - 1))"),
        )
    )
    glob = ranked.agg(
        F.max("n").alias("n"),
        F.sum("pos").cast("bigint").alias("o"),
        F.sum(F.expr("cast(rk - 1 as decimal(38,0)) * (rk - 1)")).alias("spp"),
        F.sum(F.expr("cast(rk - 1 as decimal(38,0)) * pos")).alias("spo"),
    )
    bins = ranked.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("pos").cast("bigint").alias("o_b"),
        F.sum(F.expr("cast(rk - 1 as decimal(38,0))")).alias("s_b"),
        F.max("n").alias("n"),
    )
    # per-bin doubles are pure functions of exact integers — identical in
    # both engines; micro-quantize BEFORE the cross-bin sum
    pb = "(cast(s_b as double) / ((n - 1) * cast(n_b as double)))"
    ob = "(o_b / cast(n_b as double))"
    comp = bins.crossJoin(F.broadcast(glob.select(F.col("o").alias("o_all")))).agg(
        F.sum(
            F.expr(
                f"cast(round(n_b * ({pb} - {ob}) * ({pb} - {ob}) * 1e6) as bigint)"
            )
        ).alias("rel_micro"),
        F.sum(
            F.expr(
                f"cast(round(n_b * ({ob} - o_all / (cast(n as double) * 1.0))"
                f" * ({ob} - o_all / (cast(n as double) * 1.0)) * 1e6) as bigint)"
            )
        ).alias("res_micro"),
    )
    return (
        glob.crossJoin(F.broadcast(comp))
        .select(
            F.col("n").alias("n_obs"),
            F.round(
                F.expr(
                    "(cast(spp as double) / ((n - 1) * cast(n - 1 as double))"
                    " - 2.0 * cast(spo as double) / (n - 1) + o)"
                    " / cast(n as double)"
                ),
                6,
            ).alias("brier_score"),
            F.round(F.expr("rel_micro / 1e6 / cast(n as double)"), 6).alias(
                "reliability"
            ),
            F.round(F.expr("res_micro / 1e6 / cast(n as double)"), 6).alias(
                "resolution"
            ),
            F.round(
                F.expr(
                    "(o / cast(n as double)) * (1.0 - o / cast(n as double))"
                ),
                6,
            ).alias("uncertainty"),
        )
        .withColumn(
            "decomp_residual",
            F.round(
                F.expr("brier_score - (reliability - resolution + uncertainty)"), 6
            ),
        )
    )


DTW_INF = 9_000_000_000_000_000


def dtw_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between the daily CLICK and PURCHASE
    count series — the alignment-tolerant series distance (a purchase
    wave lagging its click wave by a shifting 1–3 days still matches,
    where Euclidean/correlation at fixed lags penalize every shift
    change).  Complements `xcorr_purchase_click` (best single lag) and
    `granger_lag1_daily` (fixed-lag predictivity) with the elastic
    alignment the pair actually exhibits.

    Spark-first trick: the DTW recurrence D(i,j) = c + min(left, up,
    diag) looks inherently sequential, but cells on one ANTI-DIAGONAL
    i+j=k depend only on diagonals k−1 and k−2 — so the whole DP is ONE
    `aggregate(sequence(2, 2n), …)` higher-order fold carrying two
    arrays, each diagonal computed by a dependency-free `transform`
    (the markov_attribution single-expression-iteration idiom).  A
    virtual D(0,0)=0 cell seeds the recurrence so no special-casing.

    Determinism: costs |a_i − b_j| and every DP cell are exact bigints
    (invalid cells pinned to the DTW_INF sentinel, never accumulated);
    the distance is exact; one double division for the per-step rate.

    Scale shape: the day rollup is the only data-sized stage; the fold
    runs on ONE row carrying two (n+1)-arrays — O(n²) lambda steps over
    a ≤366-point series, all inside codegen.  (For cross-WAVEFORM DTW at
    scale the same fold runs per key inside a grouped aggregate.)
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "event_type"
    )
    daily = ev.groupBy("d").agg(
        F.sum(F.expr("if(event_type = 'click', 1L, 0L)")).alias("clk"),
        F.sum(F.expr("if(event_type = 'purchase', 1L, 0L)")).alias("buy"),
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    grid = spine.join(daily, "d", "left").select(
        "d",
        F.coalesce("clk", F.lit(0)).alias("clk"),
        F.coalesce("buy", F.lit(0)).alias("buy"),
    )
    packed = grid.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(d, clk))), s -> s.clk)"
        ).alias("va"),
        F.expr(
            "transform(sort_array(collect_list(struct(d, buy))), s -> s.buy)"
        ).alias("vb"),
        F.count(F.lit(1)).cast("int").alias("n"),
    )
    inf = DTW_INF
    new_diag = (
        "transform(sequence(0, n), i -> "
        "IF(i >= greatest(1, k - n) AND i <= least(n, k - 1), "
        "abs(element_at(va, i) - element_at(vb, k - i)) + least("
        "element_at(acc.prev, i), "
        "element_at(acc.prev, i + 1), "
        "element_at(acc.pp, i)), "
        f"{inf}L))"
    )
    fold = (
        "aggregate(sequence(2, 2 * n), "
        "named_struct("
        f"'prev', transform(sequence(0, n), i -> {inf}L), "
        f"'pp', transform(sequence(0, n), i -> IF(i = 0, 0L, {inf}L))), "
        f"(acc, k) -> named_struct('prev', {new_diag}, 'pp', acc.prev), "
        "acc -> element_at(acc.prev, n + 1))"
    )
    return packed.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(fold).alias("dtw_distance"),
        F.round(
            F.expr(f"({fold}) / cast(2 * n - 1 as double)"), 6
        ).alias("dtw_per_step"),
    ).filter(
        # an empty day grid has no alignment, matching the oracle's
        # recursive-CTE-over-empty shape (empty-table probe, round 8)
        F.col("n_days") > 0
    )


ATKINSON_TABLE = "orders"


def atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (ε = 1) of customer spend per nation:
    A = 1 − geometric_mean / arithmetic_mean — the welfare-grounded
    inequality measure whose ε dial states HOW inequality-averse the
    observer is (ε=1 = Cobb-Douglas welfare; A is then the share of
    total spend society would give up for perfect equality).  Completes
    the inequality shelf beside `gini_by_type` (rank-based),
    `theil_index` (entropy, decomposable) and `lorenz_points` (the
    curve): four standard lenses, one exact engine.

    Determinism: spend is exact integer cents; ln(x) is nano-quantized
    per row (the theil_index discipline) so the log-sum rides exact
    wide-integer addition; geometric mean and A are one shared double
    expression over (n, Σx, Σlnq).

    Scale shape: identical to theil_index — broadcast dim join, keyed
    spend rollup, |nations|-row moments.
    """
    spend = (
        read_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "customer").select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                )
            ),
            "o_custkey",
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)")).alias("x")
        )
        .where(F.col("x") > 0)
    )
    mom = spend.select(
        "c_nationkey",
        "x",
        F.expr(
            "cast(round(ln(cast(x as double)) * 1000000000.0) as bigint)"
        ).alias("lx"),
    ).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("cast(lx as decimal(38,0))")).alias("sl"),
    )
    geo = "exp(cast(sl as double) / 1e9 / cast(n as double))"
    mean = "(cast(sx as double) / cast(n as double))"
    return mom.select(
        "c_nationkey",
        F.col("n").alias("n_customers"),
        F.round(F.expr(f"{mean} / 100.0"), 6).alias("mean_spend"),
        F.round(F.expr(f"{geo} / 100.0"), 6).alias("geo_mean_spend"),
        # single-customer nations make geo/mean land an ulp above 1, so
        # the rounded index is IEEE ±0.0: Spark's BigDecimal round strips
        # the sign, DuckDB keeps -0.0 — normalize post-round on BOTH
        # sides (randomized multi-table audit, round 8)
        F.expr(f"round(1.0 - {geo} / {mean}, 6) + cast(0 as double)").alias(
            "atkinson_e1"
        ),
    )
