"""Temporal operators Spark lacks natively, built scale-first: an as-of
join (running chain height at every fact timestamp) and sequence packing
(token-budget bin assignment), both on the same distributed prefix-scan
pattern.

The classic single-machine form of both is a GLOBAL ordered window — which
in Spark means one partition doing all the work.  The pattern here instead:

1. bucket every row by a DETERMINISTIC coarse key derived from the order
   column (calendar month for time, id-range for doc ids) — never
   ``repartitionByRange``, whose sampled boundaries are not stable across
   stage re-computation;
2. run the prefix aggregate (max / sum) inside each bucket with an ordinary
   partitioned window — embarrassingly parallel;
3. reduce each bucket to ONE carry row, close the prefix over the tiny
   carry table (a window over ≤ thousands of rows), and broadcast it back.

Total cost: two shuffles of (row, bucket) pairs + one broadcast — no global
sort, no driver-side collect, no single hot partition.  At 100 TB the
bucket granularity is chosen so each bucket is a few GB (e.g. hourly for
dense event streams); the carry table stays tiny regardless.

Reference parity: generalizes SURVEY §2 I3 (``get_current_height``,
blockchain_queries.py:96-100) from "height now" to "height as of every
fact row" — the lookup the reference performs per-query becomes one
distributed join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from .textops import TOKS

# sequence packing: fixed token budget per training sequence
SEQ_LEN = 512
# id-range bucket width for the packing prefix-sum (≈1k docs per bucket
# keeps the carry table tiny while the per-bucket window stays parallel)
PACK_BUCKET = 1000


def height_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every shipment, the chain height as of its ship
    date — max(o_orderkey) over orders with o_orderdate <= l_shipdate
    (I3 at every t).  Shipments before the first block get NULL.

    Plan: union the block timeline and the fact stream, bucket by calendar
    month, running max within each month-bucket, then close the prefix
    with a per-bucket carry (see module doc).  The running max makes tie
    order irrelevant (max is order-insensitive), so no global tiebreak is
    needed — only blocks-before-facts at the same timestamp, which the
    is_event sort key provides.
    """
    blocks = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("height"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    facts = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("ts"),
        F.lit(None).cast("bigint").alias("height"),
        F.lit(1).alias("is_event"),
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
    )
    u = blocks.unionByName(facts).withColumn(
        "tb", F.year("ts") * 12 + F.month("ts")
    )
    w_run = (
        Window.partitionBy("tb")
        .orderBy("ts", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE carry row per month: the max block height inside the bucket
    per_bucket = u.groupBy("tb").agg(F.max("height").alias("bh"))
    w_carry = Window.orderBy("tb").rowsBetween(Window.unboundedPreceding, -1)
    carry = per_bucket.select(
        "tb", F.max("bh").over(w_carry).alias("carry")
    )
    return (
        u.withColumn("run", F.max("height").over(w_run))
        .join(F.broadcast(carry), "tb")
        .filter(F.col("is_event") == 1)
        # greatest skips NULLs: a month with no blocks yet has run NULL
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("ts").alias("l_shipdate"),
            F.greatest("run", "carry").alias("height"),
        )
    )


def height_asof_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-partition global-window form of :func:`height_asof` —
    the correctness reference the distributed form is pinned against
    (tests/test_temporal.py); never use at scale."""
    blocks = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("height"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    facts = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("ts"),
        F.lit(None).cast("bigint").alias("height"),
        F.lit(1).alias("is_event"),
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
    )
    w = Window.orderBy("ts", "is_event").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        blocks.unionByName(facts)
        .withColumn("height_asof", F.max("height").over(w))
        .filter(F.col("is_event") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("ts").alias("l_shipdate"),
            F.col("height_asof").alias("height"),
        )
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate the corpus in doc_id order and split
    at SEQ_LEN token boundaries; each document gets its (start_bin,
    start_offset, end_bin) placement — the assignment a pre-training
    loader needs to build fixed-length sequences, without materializing
    the concatenation.

    Same prefix pattern as :func:`height_asof` with SUM instead of MAX:
    id-range buckets -> per-bucket running token sum -> per-bucket total
    -> tiny cumulative-carry table broadcast back.  Zero-token documents
    occupy no space: they sit at their boundary with n_bins = 1 span of
    zero width (end_bin = start_bin).
    """
    docs = (
        read_table(spark, sf_dir, "documents")
        .withColumn("t", F.expr(TOKS))
        .select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .withColumn("pb", F.expr(f"doc_id div {PACK_BUCKET}"))
    )
    w_run = (
        Window.partitionBy("pb")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_bucket = docs.groupBy("pb").agg(F.sum("n_tokens").alias("tot"))
    w_carry = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    carry = per_bucket.select(
        "pb", F.coalesce(F.sum("tot").over(w_carry), F.lit(0)).alias("carry")
    )
    return (
        docs.withColumn("run", F.sum("n_tokens").over(w_run))
        .join(F.broadcast(carry), "pb")
        .withColumn("cum_end", F.col("run") + F.col("carry"))
        .withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"cum_start div {SEQ_LEN}").alias("start_bin"),
            (F.col("cum_start") % SEQ_LEN).alias("start_offset"),
            F.expr(
                f"IF(n_tokens = 0, cum_start div {SEQ_LEN},"
                f" (cum_end - 1) div {SEQ_LEN})"
            ).alias("end_bin"),
        )
        .withColumn("n_bins", F.col("end_bin") - F.col("start_bin") + 1)
    )


# sessionization: a new session starts after this much user inactivity
SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6 hours, in microseconds


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts at a user's first
    event or after > 6 h of inactivity; ``session_idx`` is the 1-based
    running session number within the user.

    The canonical clickstream/telemetry operator the reference has no
    analog for (its streams are block-ordered, etl.py:109-147); a
    training-data pipeline needs it to turn raw event logs into
    interaction episodes.

    Scale shape: ONE shuffle on ``user_id``; both windows (the lag and the
    running flag sum) share the same partitioning + ordering, so Catalyst
    plans a single Exchange + single Sort.  Per-user event counts are
    bounded in practice (a user emits what a user emits); a runaway-bot
    key is a salting candidate, not a plan change.

    Gap arithmetic is integer microseconds (``unix_micros``) — double
    seconds would lose sub-second precision at epoch scale and could flip
    a boundary decision across engines.
    """
    return _with_sessions(read_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "ts", "session_idx", "is_session_start"
    )


def _with_sessions(ev: DataFrame) -> DataFrame:
    """events columns + (is_session_start, session_idx) — shared by the
    per-event and per-session surfaces so stats never join back to the
    assignment (that join would re-shuffle on event_id for nothing)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    return (
        ev.withColumn("gap_us", gap)
        .withColumn(
            "is_session_start",
            F.col("gap_us").isNull() | (F.col("gap_us") > SESSION_GAP_US),
        )
        .withColumn(
            "session_idx",
            F.sum(F.col("is_session_start").cast("bigint"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup over :func:`sessionize`: bounds, duration, event
    count, total value.  The groupBy key (user_id, session_idx) is already
    co-partitioned with the sessionize window's Exchange, so the rollup
    is a partial-agg + same-key shuffle, never a second wide stage."""
    return (
        _with_sessions(read_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(1_000_000.0)
            ).alias("duration_s"),
            # decimal-sum pattern (see operators.relational module doc):
            # values carry 2 decimals, so the decimal sum is exact and the
            # single final cast to double is deterministic across engines
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


EWMA_ALPHA = 0.5  # exact binary fraction: the fold arithmetic is engine-identical


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values in
    event-time order: s_1 = v_1, s_i = α·v_i + (1−α)·s_{i−1} — the
    time-decayed feature a behavioral model reads per entity.

    Scale shape: an EWMA is inherently a per-key sequential fold, so the
    scalable form is exactly this — one shuffle on user_id, collect the
    key's (bounded) event history in order, fold it with a higher-order
    ``aggregate`` inside codegen.  State per key is O(1) during the fold;
    no window-function global sort, no iterative joins.  α = 0.5 is an
    exact binary fraction and the fold order is pinned by (ts, event_id),
    so the result doubles are bit-identical across engines (no rounding
    needed).
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    grouped = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(ts, event_id, value))),"
                " s -> s.value)"
            ).alias("vs")
        )
    )
    a = EWMA_ALPHA
    fold = (
        f"aggregate(slice(vs, 2, size(vs) - 1), cast(element_at(vs, 1) as double),"
        f" (acc, x) -> {a} * x + {1 - a} * acc)"
    )
    return grouped.select(
        "user_id",
        F.size("vs").cast("bigint").alias("n_events"),
        F.expr(fold).alias("ewma_value"),
    )


FUNNEL_STEPS = ["view", "click", "purchase"]


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis over the event stream: how many users
    reached step k of FUNNEL_STEPS IN ORDER (each step strictly after the
    previous step's FIRST occurrence) — the product-analytics query every
    event warehouse serves.

    Scale shape: one conditional aggregation pass groups events by user
    (map-side partial min/filter per step), computing the first qualifying
    timestamp of each step via nested conditional MINs — no self-joins, no
    window over the global stream, no per-user explode.  The final rollup
    is a COUNT over step-reach flags — one row out.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("ts"))).alias("t0"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("event_type").isin(FUNNEL_STEPS[1], FUNNEL_STEPS[2]),
                    F.struct("ts", "event_type"),
                )
            )
        ).alias("later"),
    )
    # step k's first qualifying time = first event of that type AFTER the
    # previous step's qualifying time: a linear scan over the user's
    # (sorted, small) later-step events — array fold, no join
    t1 = (
        f"array_min(transform(filter(later, x -> x.event_type = '{FUNNEL_STEPS[1]}'"
        " AND t0 IS NOT NULL AND x.ts > t0), x -> x.ts))"
    )
    t2 = (
        f"array_min(transform(filter(later, x -> x.event_type = '{FUNNEL_STEPS[2]}'"
        " AND t1 IS NOT NULL AND x.ts > t1), x -> x.ts))"
    )
    staged = per_user.withColumn("t1", F.expr(t1)).withColumn("t2", F.expr(t2))
    return staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t0").isNotNull(), 1).otherwise(0)).cast("bigint").alias("reached_view"),
        F.sum(F.when(F.col("t1").isNotNull(), 1).otherwise(0)).cast("bigint").alias("reached_click"),
        F.sum(F.when(F.col("t2").isNotNull(), 1).otherwise(0)).cast("bigint").alias("reached_purchase"),
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted by how
    many were active again N days later — the companion query to
    funnel_conversion in every event warehouse.

    Scale shape: first-seen day is one grouped MIN over (user, day)
    pairs; activity offsets join that (small, one row per user) table
    back to the distinct (user, day) activity relation — both shuffles
    are keyed on user_id and combiner-folded; the final rollup has at
    most |days|² cells.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    activity = ev.distinct()
    first_seen = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


def daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event-type matrix via Spark's native pivot (explicit value
    list, so the plan is a single conditional aggregation — no second
    pass to discover pivot values, and the oracle's CASE columns are the
    same computation).  One combiner-folded shuffle on day."""
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    types = ["view", "click", "purchase", "signup", "error"]
    out = (
        ev.groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in types]
    )


def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session conversion: of all gap-sessions, how many contain a
    view and how many convert (a purchase strictly after the session's
    first view) — the sessionized form of funnel_conversion (lifetime
    funnels overcount; product analytics wants per-visit conversion).

    Scale shape: the session assignment is the sessionize lag/gap window
    (one keyed shuffle on user_id); per-session step times are grouped
    conditional MINs over (user, session) with map-side partials; the
    purchase-after-view check folds over the session's collected
    purchase times (bounded by session length) — no self-joins.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    sess = ev.withColumn(
        "session_idx",
        F.sum(
            F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per = sess.groupBy("user_id", "session_idx").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("purchases"),
    )
    converted = (
        "t_view IS NOT NULL AND size(filter(purchases, p -> p > t_view)) > 0"
    )
    # coalesce(sum, 0): on an empty input both counters read 0 like
    # n_sessions, matching the oracle (empty-table probe, round 8)
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.expr("coalesce(sum(if(t_view is not null, 1, 0)), 0)")
        .cast("bigint")
        .alias("n_with_view"),
        F.expr(f"coalesce(sum(if({converted}, 1, 0)), 0)")
        .cast("bigint")
        .alias("n_converted"),
    )


# promo attribution: a signup opens a per-user window of this length
ATTR_WINDOW_US = 6 * 3600 * 1_000_000  # 6 hours, in microseconds


def promo_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval RANGE JOIN (last-touch attribution): every
    ``signup`` event opens a per-user window ``[ts, ts + 6h)``; every
    ``purchase`` whose timestamp falls inside a window attributes to the
    LATEST-opened one (ties: highest promo_id).  The interval-join
    operator Spark lacks natively — the naive inequality join plans as
    BroadcastNestedLoop/cartesian, which is a non-starter at scale.

    Scale shape (bounded-interval bucket join): both sides key on
    ``(user_id, time_bucket)`` with bucket width == the window length, so
    an interval overlaps at most TWO buckets — each window row explodes
    to <= 2 join keys, each probe to exactly 1, and the join is a plain
    equi-join with the exact range predicate applied post-join.  Fan-out
    is windows-per-user-per-bucket (bounded), never O(n²); the last-touch
    pick is a row_number keyed by the probe's event_id.  Attribution
    delay is integer microseconds — double seconds could flip a boundary
    across engines.

    Reference parity: generalizes the reference's point-in-range filters
    (SURVEY §2 B2, blockchain_queries.py half-open ranges) to
    range-PER-ROW — each probe carries its own interval lookup.
    """
    ev = read_table(spark, sf_dir, "events")
    promos = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("promo_id"),
        "user_id",
        F.unix_micros("ts").alias("w_start"),
        (F.unix_micros("ts") + F.lit(ATTR_WINDOW_US)).alias("w_end"),
    )
    pb = promos.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"w_start div {ATTR_WINDOW_US}"),
                    F.expr(f"(w_end - 1) div {ATTR_WINDOW_US}"),
                )
            )
        ),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        "value",
    ).withColumn("bucket", F.expr(f"us div {ATTR_WINDOW_US}"))
    w_last = Window.partitionBy("event_id").orderBy(
        F.col("w_start").desc(), F.col("promo_id").desc()
    )
    return (
        probes.join(pb, ["user_id", "bucket"])
        .filter((F.col("us") >= F.col("w_start")) & (F.col("us") < F.col("w_end")))
        .withColumn("r", F.row_number().over(w_last))
        .filter(F.col("r") == 1)
        .select(
            "event_id",
            "user_id",
            "promo_id",
            (F.col("us") - F.col("w_start")).cast("bigint").alias("delay_us"),
            F.col("value").cast("double").alias("value"),
        )
    )


def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: event counts and
    value totals at HOURLY grain, DAILY grain, and the grand total — all
    three levels from ONE pass (Spark lowers ``rollup(d, h)`` to a single
    Expand + hash aggregate, not three scans).  The time-bucket hierarchy
    counterpart to revenue_rollup's categorical ROLLUP — what TimescaleDB
    calls a hypertable rollup and Druid calls ingestion-time rollup.

    Scale shape: Expand triples the aggregate input rows but every level
    combines map-side (sums/counts), so the shuffle carries one row per
    (grain, bucket) — at 100 TB that is hours+days+1 rows, not events.
    Money sums ride DECIMAL(18,2) (double hash-drifts across engines);
    grain is derived from bucket nullness, unambiguous because ``ts`` is
    never NULL.
    """
    ev = read_table(spark, sf_dir, "events")
    rolled = (
        ev.select(
            F.to_date("ts").alias("d"),
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "value",
        )
        .rollup("d", "h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    grain = (
        F.when(F.col("h").isNotNull(), F.lit("hour"))
        .when(F.col("d").isNotNull(), F.lit("day"))
        .otherwise(F.lit("all"))
    )
    return rolled.select(
        grain.alias("grain"),
        "d",
        "h",
        "n_events",
        "total_value",
    )


def session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sample extraction from telemetry: each gap-session
    becomes one next-event-prediction example — the ordered event-type
    sequence minus its last element as the input, the last as the label.
    The sequence-model analog of pack_sequences' token packing: raw logs
    in, supervised examples out.

    Scale shape: the session assignment is the shared sessionize window
    (one keyed shuffle); sequence assembly is a grouped sort_array over
    structs — per-session work bounded by session length, deterministic
    (ts, event_id) order, no second shuffle.
    """
    per = (
        _with_sessions(read_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(ts, event_id, event_type))),"
                " x -> x.event_type)"
            ).alias("seq")
        )
    )
    return per.select(
        "user_id",
        "session_idx",
        F.expr("size(seq)").cast("bigint").alias("n_events"),
        F.expr("array_join(slice(seq, 1, size(seq) - 1), '>')").alias("input_seq"),
        F.expr("element_at(seq, -1)").alias("label"),
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user behavior: counts
    and probabilities of event_type -> next event_type WITHIN a
    gap-session (cross-session transitions are noise, not behavior) —
    the product-analytics flow map and the baseline generative model
    session_sequences' examples are evaluated against.

    Scale shape: one keyed shuffle for the sessionize window; the lead()
    rides the SAME (user_id order ts, event_id) sort so Catalyst plans a
    single Exchange+Sort; the matrix aggregation is |event_types|² rows
    with map-side partials.
    """
    s = _with_sessions(read_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        s.withColumn("next_type", F.lead("event_type").over(w))
        .withColumn("next_session", F.lead("session_idx").over(w))
        .filter(
            F.col("next_type").isNotNull()
            & (F.col("next_session") == F.col("session_idx"))
        )
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("prob"),
    )


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: collapse each
    user's event stream into ``[valid_from, valid_to)`` intervals of
    their tracked attribute (event_type as the state), one row per state
    CHANGE — the standard warehouse history table an ETL derives from a
    mutation log (the reference's per-row field updates, SURVEY §2 A9,
    keep only the latest state; this keeps the full validity timeline).

    Change detection is lag() over (user, time, event_id); interval close
    is lead() over the surviving change rows; is_current marks the open
    interval.  Timestamps travel as integer microseconds (double seconds
    could flip an interval boundary across engines).

    Scale shape: two keyed windows over (user_id), both combiner-friendly
    shuffles of (user, us, type) triples — no global window, no join; the
    output is bounded by the number of state changes, not events.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("event_type") != F.col("prev")))
        .drop("prev")
    )
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    return (
        changes.withColumn("valid_to_us", F.lead("us").over(w2))
        .withColumn("version", F.row_number().over(w2).cast("int"))
        .select(
            "user_id",
            "event_type",
            F.col("us").alias("valid_from_us"),
            "valid_to_us",
            "version",
            F.col("valid_to_us").isNull().alias("is_current"),
        )
    )


def asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key two-STREAM as-of join (the kdb `aj` / Flink temporal-join
    shape): every purchase picks up the latest view AT-OR-BEFORE its
    timestamp for the same user — NULLs when the user never viewed
    before buying.  :func:`height_asof` is the single-timeline global
    form; this is the keyed form, where the join key itself provides the
    parallelism.

    Scale shape: tag both streams, union, ONE keyed window per user
    ordered by (ts, stream-tag) with last(ignorenulls) carrying the view
    columns forward — one shuffle on user_id, no range join, no
    per-probe inequality join (which would plan as a nested loop).
    Exact-timestamp view collisions dedupe to the highest event_id first
    so the carried value is deterministic; views sort before purchases
    at equal timestamps, giving <= (at-or-before) semantics.  Timestamps
    compare as integer microseconds.  Oracle: DuckDB's native ASOF LEFT
    JOIN — the engines reach the same rows through entirely different
    algorithms.
    """
    ev = read_table(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id", "us").orderBy(F.col("view_event_id").desc())
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("view_event_id"),
            F.col("value").alias("view_value"),
        )
        .withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .drop("r")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    left = purchases.select(
        "user_id", "us", F.lit(1).alias("is_p"), "event_id", "value",
        F.lit(None).cast("bigint").alias("view_event_id"),
        F.lit(None).cast("double").alias("view_value"),
        F.lit(None).cast("bigint").alias("v_us"),
    )
    right = views.select(
        "user_id", "us", F.lit(0).alias("is_p"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        "view_event_id", "view_value", F.col("us").alias("v_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        left.unionByName(right)
        .withColumn("a_view_id", F.last("view_event_id", ignorenulls=True).over(w))
        .withColumn("a_view_value", F.last("view_value", ignorenulls=True).over(w))
        .withColumn("a_v_us", F.last("v_us", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .select(
            "event_id",
            "user_id",
            "us",
            F.col("value").cast("double").alias("value"),
            F.col("a_view_id").alias("view_event_id"),
            F.col("a_view_value").alias("view_value"),
            (F.col("us") - F.col("a_v_us")).cast("bigint").alias("lag_us"),
        )
    )


def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (candlestick) rollup: per (event_type, day) the opening
    value (first by timestamp), high, low, close (last), and volume —
    the canonical financial/telemetry time-bucket summary.

    Determinism: open/close pick by exact (µs, event_id) order via
    min_by/max_by over a struct key — no window pass needed; high/low/
    volume are plain aggregates; values carried as exact integer cents.

    Scale shape: ONE keyed aggregation with map-side combine — min_by/
    max_by partials fold associatively, so the shuffle carries one
    5-field row per (type, day) per map partition, never the events.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) div {86_400 * 1_000_000}").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    return (
        ev.groupBy("event_type", "day")
        .agg(
            # the struct key breaks DuckDB's arg_min; a zero-padded string
            # concat gives the identical (us, event_id) lexicographic order
            F.expr(
                "min_by(cents, concat(lpad(cast(us as string), 20, '0'),"
                " lpad(cast(event_id as string), 10, '0')))"
            ).alias("open_c"),
            F.max("cents").alias("high_c"),
            F.min("cents").alias("low_c"),
            F.expr(
                "max_by(cents, concat(lpad(cast(us as string), 20, '0'),"
                " lpad(cast(event_id as string), 10, '0')))"
            ).alias("close_c"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
        )
    )


PATH_PREFIX_LEN = 3
PATH_TOP_K = 10


def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session path prefixes — the product-analytics "how do journeys
    start" view: the PATH_TOP_K most common first-PATH_PREFIX_LEN
    event-type sequences across gap-sessions, with counts and corpus
    share.  Complements `event_transitions` (pairwise flow) with whole
    path-prefix ranking.

    Scale shape: sequence assembly rides the shared sessionize shuffle;
    the prefix rollup groups by a short string key (bounded
    |types|^PREFIX distinct values); top-k via TakeOrderedAndProject,
    rank window on the bounded k rows.
    """
    per = (
        _with_sessions(read_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.expr(
                "array_join(slice(transform(sort_array("
                "collect_list(struct(ts, event_id, event_type))),"
                f" x -> x.event_type), 1, {PATH_PREFIX_LEN}), '>')"
            ).alias("path")
        )
    )
    tot = per.agg(F.count(F.lit(1)).alias("n_sessions"))
    top = (
        per.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n",
            F.round(F.expr("n / cast(n_sessions as double)"), 6).alias("share"),
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


def fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment latency per priority class: exact p50/p90 of
    ship-delay days (l_shipdate − o_orderdate) plus mean — the
    supply-chain SLA rollup (TPC-H Q21's late-supplier question as a
    distribution, not a count).

    Determinism: delays are exact integer days (date arithmetic); the
    percentiles use the bit-identical exact interpolation
    (`price_quantiles`); the mean is an exact integer ratio rounded 6dp.

    Scale shape: one broadcast dim join (orders is the smaller side at
    TPC-H shape it still hashes — here the join keys on orderkey, the
    one fact-fact shuffle), then a |priorities|-group aggregation with
    map-side partials.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).cast("bigint").alias("delay_days"),
        )
    )
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("percentile(delay_days, 0.5)").alias("p50_days"),
            F.expr("percentile(delay_days, 0.9)").alias("p90_days"),
            F.round(
                F.sum("delay_days") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_days"),
        )
    )


def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension lookup: every purchase joined to
    the SCD2 state version valid AT its timestamp — the Kimball type-2
    lookup and the feature-store correctness pattern (training rows must
    see the dimension AS IT WAS, not as it is).  A purchase that itself
    opens a new state sees that state (valid_from <= ts inclusive).

    Plan: the interval containment collapses to an as-of against the
    state-CHANGE stream (an interval's start is its change event), so the
    same union + one user-keyed LOCF window as :func:`asof_last_view`
    serves it — no inequality join, no per-probe interval scan.  The
    oracle instead joins the materialized `scd2_history` intervals by
    BETWEEN containment — two different algorithms, same rows.
    """
    hist = scd2_history(spark, sf_dir).select(
        "user_id",
        F.col("valid_from_us").alias("us"),
        F.col("event_type").alias("state"),
        "version",
    )
    purchases = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", F.unix_micros("ts").alias("us"))
    left = purchases.select(
        "user_id", "us", F.lit(1).alias("is_p"), "event_id",
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("int").alias("version"),
    )
    right = hist.select(
        "user_id", "us", F.lit(0).alias("is_p"),
        F.lit(None).cast("bigint").alias("event_id"), "state", "version",
    )
    # Tie-break on version so two state changes at the same microsecond
    # deterministically resolve to the LATER version (matching the
    # BETWEEN-containment oracle); purchases carry a null version and
    # sort first within their (us, is_p) slot, which is irrelevant since
    # their state/version columns are null and ignored by last().
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_p", F.col("version").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        left.unionByName(right)
        .withColumn("a_state", F.last("state", ignorenulls=True).over(w))
        .withColumn("a_version", F.last("version", ignorenulls=True).over(w))
        .filter(F.col("is_p") == 1)
        .select(
            "event_id",
            "user_id",
            "us",
            F.col("a_state").alias("state"),
            F.col("a_version").alias("version"),
        )
    )


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: per first-seen-day cohort, the CUMULATIVE mean
    purchase spend per user at each day offset — the revenue companion
    of `cohort_retention` (retention says who comes back; LTV says what
    coming back is worth, the payback-period curve acquisition spend is
    judged against).

    Determinism: spend sums are exact integer cents; the cumulative sum
    runs over the bounded (cohort, offset) grid; cohort sizes are exact
    counts; one division per cell rounded 6dp.

    Scale shape: identical join graph to cohort_retention plus one
    money column; the cumulative window runs per cohort over ≤ |days|
    rows of the GRID, never over events.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "event_type",
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    first_seen = (
        ev.select("user_id", "day")
        .distinct()
        .groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
    )
    sizes = first_seen.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_n")
    )
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
            "cents",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.sum("cents").alias("c"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spend.withColumn("cum_c", F.sum("c").over(w))
        .join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            F.col("c").cast("bigint").alias("spend_cents"),
            F.col("cum_c").cast("bigint").alias("cum_spend_cents"),
            F.col("cohort_n").cast("bigint").alias("cohort_n"),
            F.round(
                F.expr("cum_c / cast(cohort_n as double) / 100"), 6
            ).alias("ltv_per_user"),
        )
    )


def retention_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier retention curve: S(t) = Π_{i<=t} (1 − dᵢ/nᵢ) over
    day-offsets since first activity, where dᵢ = users whose LAST
    activity fell at offset i (churn events) and nᵢ = users still at
    risk — the survival-analysis upgrade of the raw `cohort_retention`
    grid (it handles the right-censoring that a naive "active at day N"
    share gets wrong for young cohorts).  Users last seen on the corpus'
    final day are censored, not churned.

    Determinism: dᵢ/nᵢ are exact integers; the survival product runs in
    LOG space — each ln(1 − dᵢ/nᵢ) term quantizes to integer micro-units
    (single ln of an exact integer ratio) and the cumulative sum is
    exact bigint; one exp at the surface rounded 6dp.

    Scale shape: per-user (first, last) lifetimes are one keyed
    aggregation; everything after operates on the |day-offsets| rollup.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    corpus_end = ev.agg(F.max("day").alias("end_day"))
    lifetimes = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("first_day"), F.max("day").alias("last_day"))
        .crossJoin(F.broadcast(corpus_end))
        .select(
            F.datediff("last_day", "first_day").cast("bigint").alias("day_offset"),
            (F.col("last_day") < F.col("end_day")).alias("churned"),
        )
    )
    per_offset = lifetimes.groupBy("day_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(F.expr("IF(churned, 1L, 0L)")).cast("bigint").alias("d"),
    )
    total = per_offset.agg(F.sum("n_ending").alias("n_total"))
    w = Window.orderBy("day_offset").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("day_offset").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_offset.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (F.col("n_total") - F.coalesce(F.sum("n_ending").over(w), F.lit(0))).cast(
                "bigint"
            ),
        )
        # d = n_at_risk (every remaining user churns at this offset) makes
        # the KM factor exactly 0: ln(0) is a DuckDB runtime error and a
        # Spark NULL that the null-skipping window sum would silently DROP
        # (survival would stay > 0 past total churn).  Track the zero
        # factor explicitly and clamp survival to 0 from that offset on —
        # found by the seed-17 randomized audit (tools/random_audit.py).
        .withColumn(
            "lnt",
            F.expr(
                "IF(d = 0 OR d = n_at_risk, 0L, cast(round(ln((n_at_risk - d)"
                " / cast(n_at_risk as double)) * 1000000) as bigint))"
            ),
        )
        .withColumn("cum_ln", F.sum("lnt").over(wc))
        .withColumn(
            "zeroed", F.max(F.expr("IF(d = n_at_risk, 1, 0)")).over(wc)
        )
        .select(
            "day_offset",
            "n_at_risk",
            "d",
            F.expr(
                "IF(zeroed = 1, cast(0 as double),"
                " round(exp(cum_ln / 1e6), 6))"
            ).alias("survival"),
        )
    )


# CDC op mapping: signup opens the key, activity upserts it, error
# tombstones it; click is a no-op control message (filtered pre-shuffle)
CDC_OPS = "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END"


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change-data-capture feed to produce the current snapshot —
    the lakehouse MERGE-from-changelog pattern (Debezium → Delta/Hudi/
    Iceberg upsert): per key, replay I/U/D in event order; a trailing
    D tombstone deletes the key, otherwise the key surfaces with its
    last-write state and a change count.  `view` events are treated as
    no-op control messages and dropped BEFORE any shuffle.

    Determinism: replay order is (us, event_id) — a total order, so
    last-write-wins is unambiguous; state is exact integer cents.

    Scale shape: last-write-wins needs no full replay — ONE keyed
    max_by/struct-max per key (map-side combinable) picks the final
    (op, value); counts ride the same aggregation.  This is exactly why
    CDC compaction scales: O(keys) state, not O(changes).
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") != "view")
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
            F.expr(CDC_OPS).alias("op"),
            F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        )
    )
    snap = ev.groupBy("user_id").agg(
        F.expr("max_by(op, struct(us, event_id))").alias("final_op"),
        F.expr("max_by(cents, struct(us, event_id))").alias("last_value_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_changes"),
        F.max("us").alias("last_us"),
    )
    return snap.filter(F.col("final_op") != "D").select(
        "user_id", "final_op", "last_value_cents", "n_changes", "last_us"
    )


WATERMARK_DELAY_US = 300 * 1_000_000  # 5-minute allowed lateness


def watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the stream in ARRIVAL order (event_id — the ingest
    sequence) and classify each event against the watermark Structured
    Streaming would have held when it arrived: watermark = max event
    time seen over the PRIOR prefix minus the allowed delay; an event
    whose own time is below that is late and would be dropped by a
    windowed aggregation.  The per-type late rate is the number every
    watermark-delay knob is tuned against — run as a batch audit BEFORE
    committing a streaming job to a 5-minute delay.

    Determinism: the prefix max is over a total order (event_id);
    late/on-time is an exact integer comparison; rates are one rounded
    division per type.

    Scale shape: one global-order prefix-max window (two-pass partition
    offsets at scale — same shape as every replay audit here) then a
    per-type aggregation; only (us, event_id, type) triples shuffle.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    flagged = ev.withColumn("hwm", F.max("us").over(w)).withColumn(
        "is_late",
        F.expr(f"if(hwm is not null and us < hwm - {WATERMARK_DELAY_US}, 1L, 0L)"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("is_late").cast("bigint").alias("n_late"),
        F.round(F.expr("sum(is_late) / cast(count(1) as double)"), 6).alias(
            "late_frac"
        ),
    )


ATTR_TOUCH_WINDOW_US = 3 * 86_400 * 1_000_000  # 3-day lookback
ATTR_TOUCH_TYPES = ("view", "click")


def attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution model comparison: for every purchase,
    gather the user's view/click touchpoints in the 3-day lookback and
    credit the conversion under FIRST-touch, LAST-touch, and LINEAR
    rules simultaneously — the side-by-side report that shows how much
    each channel's claimed revenue depends on the model choice (the
    argument attribution meetings are actually about).

    Determinism: first/last picks use min_by/max_by over the total
    (us, event_id) order; linear credit is 10⁶ div n_touches per touch
    (truncating integer division, identical both engines), so every
    credit sum is an exact bigint.

    Scale shape: the same bounded-interval bucket join as
    `promo_attribution` (bucket width == lookback, probe explodes to
    ≤ 2 keys) — never an inequality nested-loop; per-purchase reduction
    is one keyed agg; the rollup is |channels| rows.
    """
    ev = read_table(spark, sf_dir, "events")
    tlist = ", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)
    touches = ev.filter(F.expr(f"event_type IN ({tlist})")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("tus"),
        F.col("event_id").alias("touch_id"),
    ).withColumn("bucket", F.expr(f"tus div {ATTR_TOUCH_WINDOW_US}"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_micros("ts").alias("pus"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.expr(f"pus div {ATTR_TOUCH_WINDOW_US}"),
                        F.expr(
                            f"(pus - {ATTR_TOUCH_WINDOW_US}) div {ATTR_TOUCH_WINDOW_US}"
                        ),
                    )
                )
            ),
        )
    )
    joined = purchases.join(touches, ["user_id", "bucket"]).filter(
        F.expr(f"tus <= pus AND tus > pus - {ATTR_TOUCH_WINDOW_US}")
    )
    per_purchase = joined.groupBy("purchase_id").agg(
        F.expr("min_by(channel, struct(tus, touch_id))").alias("first_ch"),
        F.expr("max_by(channel, struct(tus, touch_id))").alias("last_ch"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
    )
    linear = (
        joined.join(
            per_purchase.select("purchase_id", "n_touches"), "purchase_id"
        )
        .groupBy("channel")
        .agg(
            F.sum(F.expr("1000000L div n_touches")).alias("linear_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
        )
    )
    firsts = per_purchase.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("first_touch_conversions")
    )
    lasts = per_purchase.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("last_touch_conversions")
    )
    return (
        linear.join(firsts, "channel", "full")
        .join(lasts, "channel", "full")
        .select(
            "channel",
            F.coalesce("n_touchpoints", F.lit(0)).cast("bigint").alias(
                "n_touchpoints"
            ),
            F.coalesce("first_touch_conversions", F.lit(0))
            .cast("bigint")
            .alias("first_touch_conversions"),
            F.coalesce("last_touch_conversions", F.lit(0))
            .cast("bigint")
            .alias("last_touch_conversions"),
            F.round(
                F.coalesce("linear_micro", F.lit(0)) / 1e6, 6
            ).alias("linear_conversions"),
        )
    )


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard over the same censored lifetimes
    as `retention_survival`: H(t) = Σ_{i≤t} dᵢ/nᵢ — the
    hazard-increment view of churn (Kaplan–Meier answers "what fraction
    survives"; Nelson–Aalen answers "how hard does churn bite at each
    age", and its exp(−H) is the Fleming–Harrington survival estimate
    reported beside KM when risk sets get small).

    Determinism: each hazard increment is (dᵢ·10⁶) div nᵢ — ONE
    truncating integer division per offset — summed as exact bigints;
    the exp surfaces once, rounded 6dp.

    Scale shape: identical to `retention_survival` — one keyed lifetime
    aggregation, then windows over the |day-offsets| rollup only.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    corpus_end = ev.agg(F.max("day").alias("end_day"))
    lifetimes = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("first_day"), F.max("day").alias("last_day"))
        .crossJoin(F.broadcast(corpus_end))
        .select(
            F.datediff("last_day", "first_day").cast("bigint").alias("day_offset"),
            (F.col("last_day") < F.col("end_day")).alias("churned"),
        )
    )
    per_offset = lifetimes.groupBy("day_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(F.expr("IF(churned, 1L, 0L)")).cast("bigint").alias("d"),
    )
    total = per_offset.agg(F.sum("n_ending").alias("n_total"))
    w = Window.orderBy("day_offset").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("day_offset").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_offset.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (F.col("n_total") - F.coalesce(F.sum("n_ending").over(w), F.lit(0))).cast(
                "bigint"
            ),
        )
        .withColumn("h_micro", F.expr("(d * 1000000L) div n_at_risk"))
        .withColumn("cum_h_micro", F.sum("h_micro").over(wc))
        .select(
            "day_offset",
            "d",
            "n_at_risk",
            F.round(F.expr("cum_h_micro / 1e6"), 6).alias("cum_hazard"),
            F.round(F.expr("exp(-cum_h_micro / 1e6)"), 6).alias("s_fleming_harrington"),
        )
    )


def gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's consecutive-day activity streaks —
    THE classic SQL interview pattern, productionized: island key =
    day_idx − dense_rank(day_idx), constant exactly while days are
    consecutive.  Output per user: active days, number of islands
    (streaks), and the longest streak — the engagement-streak feature
    gamified products key rewards on.

    Determinism: pure integer day arithmetic on distinct (user, day)
    pairs.

    Scale shape: one keyed dedup + one user-keyed dense_rank window +
    two keyed aggregations; everything after the dedup is
    O(user-days).
    """
    days = (
        read_table(spark, sf_dir, "events")
        .select(
            "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day_idx")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day_idx")
    islands = (
        days.withColumn("rk", F.dense_rank().over(w))
        .withColumn("island", F.expr("day_idx - rk"))
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).cast("bigint").alias("streak_len"))
    )
    return islands.groupBy("user_id").agg(
        F.sum("streak_len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("streak_len").cast("bigint").alias("longest_streak"),
    )


MARKOV_ITERS = 20


def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain: build
    the event-type transition matrix from each user's consecutive event
    pairs, row-normalize, and power-iterate π' = πP to the fixed point —
    the long-run "where does attention settle" summary that
    `event_transitions`' raw counts only hint at (and the same
    fixed-iteration integer discipline as the PageRank twin).

    Determinism: transition probabilities are (c_ij·10⁶) div c_i
    (truncating — rows may undershoot 10⁶ by < k micro, documented);
    each iteration computes π_micro(j) = Σ_i π_micro(i)·p_micro(i,j)
    div 10⁶ in exact bigints; MARKOV_ITERS fixed rounds unroll in the
    oracle as CTEs over the |types|² matrix.

    Scale shape: pair extraction is one user-keyed lag window over
    events; everything after operates on the |types|² matrix (tiny);
    the iteration is |types|-row joins — driver orchestration only, no
    collect.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rows = pairs.groupBy("src").agg(F.sum("c").alias("ct"))
    p = pairs.join(rows, "src").select(
        "src", "dst", F.expr("(c * 1000000L) div ct").alias("p_micro")
    )
    # the matrix is |types|² — pin it to ONE partition and broadcast it
    # into every iteration so the 20 rounds cost 20 tiny single-task
    # stages instead of 20× (join shuffle + 32-partition agg) scheduling
    p = p.coalesce(1).localCheckpoint()
    states = p.select(F.col("src").alias("state")).distinct()
    k = states.count()
    # an empty transition set keeps the literal valid (empty in -> empty
    # out either way); k=0 would otherwise be a div-by-zero LITERAL that
    # fails analysis before the emptiness could save it (empty-table
    # probe, round 8)
    pi = states.select(
        "state", F.expr(f"1000000L div {max(k, 1)}").alias("pi_micro")
    ).coalesce(1)
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(F.broadcast(p), pi.state == p.src)
            .groupBy(F.col("dst").alias("state"))
            .agg(
                F.expr("sum(pi_micro * p_micro) div 1000000").alias("pi_micro")
            )
            .coalesce(1)
        )
    return pi.select(
        "state", F.round(F.expr("pi_micro / 1e6"), 6).alias("stationary_prob")
    )


WF_WINDOW_US = 7 * 86_400 * 1_000_000
WF_STEPS = ("view", "click", "purchase")


def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (ClickHouse `windowFunnel` semantics): the
    deepest prefix of WF_STEPS a user completes IN ORDER with the WHOLE
    chain inside a 7-day window anchored at the user's FIRST step-1
    event — unlike `funnel_conversion`'s unbounded ordering, a user who
    views in January and purchases in June does NOT convert here, which
    is what campaign-attribution funnels actually mean.  Output: users
    per max-level (0..|steps|) plus cumulative conversion from level 1.

    Determinism: all timestamps are integer microseconds; each step's
    first-qualifying time is a conditional MIN; level comparisons are
    integer.

    Scale shape: same one-pass conditional-aggregation shape as
    `funnel_conversion` — per-user nested conditional MINs with
    map-side combine, then one tiny level rollup; no self-joins, no
    per-user explode.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    t0 = F.min(F.expr(f"IF(event_type = '{WF_STEPS[0]}', us, null)")).alias("t0")
    per = ev.groupBy("user_id").agg(
        t0,
        F.collect_list(F.struct("us", "event_type")).alias("evs"),
    )
    # per-user fold over the SORTED event list: advance the step cursor
    # when the next step type appears after the previous step's time and
    # before t0 + window
    step_arr = ", ".join(f"'{s}'" for s in WF_STEPS)
    fold = (
        "aggregate(array_sort(evs),"
        " named_struct('lvl', IF(t0 is null, 0, 0), 'last', t0),"
        f" (acc, e) -> IF(t0 is null OR acc.lvl >= {len(WF_STEPS)}"
        f" OR e.us > t0 + {WF_WINDOW_US}, acc,"
        f" IF(e.event_type = element_at(array({step_arr}), acc.lvl + 1)"
        " AND (acc.lvl = 0 AND e.us >= t0 OR acc.lvl > 0 AND e.us > acc.last),"
        " named_struct('lvl', acc.lvl + 1, 'last', e.us), acc)),"
        " acc -> acc.lvl)"
    )
    levels = per.select(F.expr(fold).alias("max_level"))
    total = levels.agg(F.count(F.lit(1)).alias("n_users"))
    return (
        levels.groupBy("max_level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_at_level"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("max_level").cast("int").alias("max_level"),
            "n_at_level",
            F.round(F.expr("n_at_level / cast(n_users as double)"), 6).alias(
                "frac_users"
            ),
        )
    )


def event_precedence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-precedence matrix over event types: for every ordered
    pair (a, b), how many users have BOTH event types, and in what
    share of those users the first a strictly precedes the first b —
    the microsecond-exact "what leads to what" read that
    `top_session_paths` (adjacent steps) and `windowed_funnel` (one
    fixed sequence) cannot give, because it compares FIRST occurrences
    across the full history of every pair.

    Ties (first a and first b in the same microsecond) count toward
    neither direction, so p_a_first(a,b) + p_a_first(b,a) <= 1 with
    the deficit = tie share; all counts are exact integers and the
    share is one division at the surface.

    Scale shape: one (user, type)-keyed min aggregate, one user-keyed
    self-join bounded by |types| rows per user per side, one
    |types|^2-row aggregate.
    """
    firsts = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min(F.unix_micros("ts")).alias("us0"))
    )
    a = firsts.select(
        "user_id", F.col("event_type").alias("a"), F.col("us0").alias("us_a")
    )
    b = firsts.select(
        "user_id", F.col("event_type").alias("b"), F.col("us0").alias("us_b")
    )
    pairs = a.join(b, "user_id").where(F.col("a") != F.col("b"))
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_both"),
            F.sum(F.expr("if(us_a < us_b, 1L, 0L)"))
            .cast("bigint")
            .alias("n_a_first"),
        )
        .select(
            "a",
            "b",
            "n_both",
            "n_a_first",
            F.round(
                F.expr("cast(n_a_first as double) / cast(n_both as double)"),
                6,
            ).alias("p_a_first"),
        )
    )


# shared OLS-over-quantized-log expressions for retention_decay_fit —
# moments are exact bigints (offsets and nano-quantized log shares);
# the oracle imports these so both engines evaluate identical trees.
RDF_SLOPE_NANO = (
    "(cast(n * sdl - sd * sl as double)"
    " / cast(n * sdd - sd * sd as double))"
)
RDF_SLOPE = f"({RDF_SLOPE_NANO} / 1000000000.0)"
RDF_INTERCEPT = (
    f"((cast(sl as double) - {RDF_SLOPE_NANO} * cast(sd as double))"
    " / cast(n as double) / 1000000000.0)"
)
RDF_HALF_LIFE = (
    f"if({RDF_SLOPE} < 0.0, ln(2.0) / (0.0 - {RDF_SLOPE}),"
    " cast(null as double))"
)


def retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay fit of pooled user retention: the share of
    all users active again d days after their first day, fitted as
    ln(share) = a + b·d by closed-form OLS over the day-offset grid —
    the one-number summary (decay rate, half-life) of the
    `cohort_retention` triangle that product models plug into LTV
    projections.  A good fit (retention is near-geometric) justifies
    the single-parameter churn models downstream.

    Determinism: shares are exact integer ratios; ln(share) is
    quantized to nano units BEFORE the moment sums so the OLS moments
    are exact bigint arithmetic (order-independent); slope/intercept/
    half-life are one shared double expression tree (module constants,
    oracle-imported).

    Scale shape: the same two keyed aggregates as `cohort_retention`
    pooled over cohorts (user-keyed min + distinct activity join),
    folded to a ≤|days| grid, then a 1-row moment aggregate.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    activity = ev.distinct()
    first_seen = activity.groupBy("user_id").agg(
        F.min("day").alias("day0")
    )
    n_users = first_seen.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    offsets = (
        activity.join(first_seen, "user_id")
        .select(
            "user_id",
            F.datediff("day", "day0").cast("bigint").alias("d"),
        )
        .where(F.col("d") >= 1)
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )
    pts = offsets.crossJoin(F.broadcast(n_users)).select(
        "d",
        F.expr(
            "cast(round(ln(cast(n_active as double)"
            " / cast(n_users as double)) * 1000000000.0) as bigint)"
        ).alias("l"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("l").cast("bigint").alias("sl"),
        F.sum(F.expr("d * d")).cast("bigint").alias("sdd"),
        F.sum(F.expr("d * l")).cast("bigint").alias("sdl"),
    )
    return mom.select(
        F.col("n").alias("n_points"),
        F.round(F.expr(RDF_SLOPE), 6).alias("decay_rate"),
        F.round(F.expr(RDF_INTERCEPT), 6).alias("log_intercept"),
        F.round(F.expr(RDF_HALF_LIFE), 6).alias("half_life_days"),
    )


MA_CHANNELS = ("click", "signup", "view")
MA_STEPS = 16
MA_CONV = "CONV"
MA_LOST = "LOST"
MA_START = "START"


def _ma_absorption_all(tr_all):
    """Quantized value iteration for P(absorb in CONV), for ALL chain
    variants AT ONCE — as ONE codegen'd expression fold, not a job per
    round.  The per-variant transition matrix is bounded
    ((|channels|+2)² rows), so it collapses to an array column and the
    MA_STEPS rounds run inside a single `aggregate(sequence(...))`
    higher-order expression (the ewma_daily_counts fold idiom): nano-
    bigint state, EXACT integer numerators (the inner aggregate sums
    bigints, so collect_list order cannot matter), one rounded double
    division per (variant, state) per round — bit-identical to the
    oracle's unrolled CTE rounds, in ONE Spark job."""
    from pyspark.sql import functions as F

    marg = tr_all.groupBy("variant", "a").agg(
        F.sum("c").cast("bigint").alias("c_a")
    )
    mat = tr_all.groupBy("variant").agg(
        F.collect_list(F.struct("a", "b", "c")).alias("m")
    )
    sts = marg.groupBy("variant").agg(
        F.sort_array(F.collect_list(F.struct("a", "c_a"))).alias("s")
    )
    iter_expr = f"""
      aggregate(
        sequence(1, {MA_STEPS}),
        transform(s, x -> named_struct('st', x.a, 'h', 0L)),
        (acc, i) -> transform(s, x -> named_struct('st', x.a, 'h',
          cast(round(cast(aggregate(filter(m, e -> e.a = x.a), 0L,
            (n, e) -> n + e.c *
              CASE WHEN e.b = '{MA_CONV}' THEN 1000000000L
                   WHEN e.b = '{MA_LOST}' THEN 0L
                   ELSE coalesce(try_element_at(filter(acc, y -> y.st = e.b), 1).h, 0L)
              END
          ) as double) / cast(x.c_a as double)) as bigint))))
    """
    return (
        mat.join(sts, "variant")
        .select("variant", F.explode(F.expr(iter_expr)).alias("hs"))
        .select(
            "variant",
            F.col("hs.st").alias("st"),
            F.col("hs.h").alias("h"),
        )
    )


def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016) — the
    data-driven alternative to `attribution_models`' first/last/linear
    heuristics: model user journeys as a Markov chain over touch
    channels with CONV/LOST absorbing states, and credit each channel
    by how much the corpus conversion probability DROPS when that
    channel is deleted from the chain (its removal effect), normalized
    to attribution shares.

    Journeys: per user, the time-ordered view/click/signup touches;
    START → first touch, touch → next touch, last touch → CONV if the
    user ever purchases else LOST; touchless users contribute
    START → CONV/LOST directly so total probability is conserved.
    Removing channel c deletes its outgoing rows and redirects its
    incoming edges to LOST (the node-deletion form).

    Determinism: transition counts are exact integers; each absorption
    run is MA_STEPS rounds of nano-quantized integer value iteration
    (bit-identical across engines, oracle-unrolled as CTEs); removal
    effects are re-quantized to nanos before the cross-channel share
    sum so normalization is exact integer arithmetic.

    Scale shape: ONE user-keyed lag window over the touch stream builds
    the transition table; everything after is (1 + |channels|) × MA_STEPS
    broadcast-sized folds over a ≤(|channels|+1)²-row matrix — fact
    data is never rescanned.
    """
    tlist = ", ".join(f"'{t}'" for t in MA_CHANNELS)
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    # ONE user-keyed pass builds every transition row (round 11; the
    # round-10 form unioned four branches — mid/first/last/touchless —
    # that re-derived the conversion set and the touch stream per branch:
    # a purchase-user distinct, two more user distincts, an anti-join and
    # two left joins, all shuffling on user_id).  Both per-user flags are
    # window maxima over the raw stream, the touch-sequence window reuses
    # the same hash(user_id) clustering, and the three touch-row
    # transition kinds emit from a single null-filtered array explode —
    # so exactly one exchange carries user-keyed data, then one tiny
    # (a, b) count shuffle.  Counts are the identical multiset (a user
    # with one touch still emits both its START row and its absorbing
    # row from the two CASE arms).
    w_u = Window.partitionBy("user_id")
    ev2 = ev.withColumn(
        "has_purchase",
        F.max(F.expr("if(event_type = 'purchase', 1, 0)")).over(w_u),
    ).withColumn(
        "has_touch",
        F.max(F.expr(f"if(event_type in ({tlist}), 1, 0)")).over(w_u),
    )
    tch = ev2.where(F.expr(f"event_type in ({tlist})"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = tch.select(
        "user_id",
        "event_type",
        "has_purchase",
        F.lag("event_type").over(w).alias("prev"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_u).alias("ntch"),
    )
    absorb = f"IF(has_purchase = 1, '{MA_CONV}', '{MA_LOST}')"
    touch_trans = seq.select(
        F.explode(
            F.expr(
                f"""filter(array(
                  CASE WHEN rn = 1
                       THEN named_struct('a', '{MA_START}', 'b', event_type) END,
                  CASE WHEN prev IS NOT NULL
                       THEN named_struct('a', prev, 'b', event_type) END,
                  CASE WHEN rn = ntch
                       THEN named_struct('a', event_type, 'b', {absorb}) END
                ), x -> x IS NOT NULL)"""
            )
        ).alias("t")
    ).select(F.col("t.a").alias("a"), F.col("t.b").alias("b"))
    touchless = (
        ev2.where(F.col("has_touch") == 0)
        .groupBy("user_id")
        .agg(F.max("has_purchase").alias("has_purchase"))
        .select(
            F.lit(MA_START).alias("a"),
            F.expr(absorb).alias("b"),
        )
    )
    tr = (
        touch_trans.unionByName(touchless)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    variants = [tr.select(F.lit("full").alias("variant"), "a", "b", "c")]
    for ch in MA_CHANNELS:
        variants.append(
            tr.where(F.col("a") != ch).select(
                F.lit(ch).alias("variant"),
                "a",
                F.expr(f"if(b = '{ch}', '{MA_LOST}', b)").alias("b"),
                "c",
            )
        )
    tr_all = variants[0]
    for df in variants[1:]:
        tr_all = tr_all.unionByName(df)
    tr_all = (
        tr_all.groupBy("variant", "a", "b")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    starts = _ma_absorption_all(tr_all).where(F.col("st") == MA_START)
    # The two scalars (full-chain conversion, removal-effect total) ride
    # unbounded windows over the |channels|+1-row start table instead of
    # crossJoin(broadcast(agg)) — the round-10 form consumed `starts` and
    # `scored` twice each, so the absorption fold and its three keyed
    # aggregations executed TWICE in the final job (20 exchanges in the
    # final plan; 10 in this form).  Values unchanged: the window max
    # picks the unique 'full' row, the window sum is the same exact
    # bigint total.
    w_all = Window.partitionBy(F.lit(1))
    scored = (
        starts.withColumn(
            "p_full_nano",
            F.max(F.expr("if(variant = 'full', h, null)")).over(w_all),
        )
        .where(F.col("variant") != "full")
        .select(
            F.col("variant").alias("channel"),
            "p_full_nano",
            F.col("h").alias("p_removed_nano"),
        )
        .select(
            "channel",
            "p_full_nano",
            "p_removed_nano",
            F.expr(
                "cast(round(greatest(0.0, 1.0 - cast(p_removed_nano as double)"
                " / cast(p_full_nano as double)) * 1000000000.0) as bigint)"
            ).alias("re_nano"),
        )
    )
    return scored.withColumn(
        "re_tot", F.sum("re_nano").over(w_all).cast("bigint")
    ).select(
        "channel",
        F.round(
            F.expr("cast(p_full_nano as double) / 1000000000.0"), 6
        ).alias("p_conv_full"),
        F.round(
            F.expr("cast(p_removed_nano as double) / 1000000000.0"), 6
        ).alias("p_conv_removed"),
        F.round(
            F.expr("cast(re_nano as double) / 1000000000.0"), 6
        ).alias("removal_effect"),
        F.round(
            F.expr(
                "cast(re_nano as double)"
                " / cast(nullif(re_tot, 0L) as double)"
            ),
            6,
        ).alias("attribution_share"),
    )


def kaplan_meier_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over the same censored lifetimes as
    `retention_survival` / `nelson_aalen_hazard`: S(t) = Π_{i≤t}
    (1 − dᵢ/nᵢ) — the product-limit estimator itself (Kaplan & Meier
    1958), completing the survival shelf (KM = what fraction survives;
    Nelson–Aalen = how hard churn bites; retention_survival = the raw
    curve without censoring correction).

    Determinism: the product runs as a SUM of nano-quantized
    ln(1 − dᵢ/nᵢ) factors (exact bigint cumulative window) with one exp
    at the surface; an offset where dᵢ = nᵢ (risk set dies out) pins
    S = 0 exactly from that point on via an integer cumulative flag —
    no −∞ ever floats.

    Scale shape: identical to nelson_aalen_hazard — one keyed lifetime
    aggregation, then windows over the |day-offsets| rollup only.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    corpus_end = ev.agg(F.max("day").alias("end_day"))
    lifetimes = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("first_day"), F.max("day").alias("last_day"))
        .crossJoin(F.broadcast(corpus_end))
        .select(
            F.datediff("last_day", "first_day").cast("bigint").alias(
                "day_offset"
            ),
            (F.col("last_day") < F.col("end_day")).alias("churned"),
        )
    )
    per_offset = lifetimes.groupBy("day_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(F.expr("IF(churned, 1L, 0L)")).cast("bigint").alias("d"),
    )
    total = per_offset.agg(F.sum("n_ending").alias("n_total"))
    w = Window.orderBy("day_offset").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wc = Window.orderBy("day_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_offset.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            (
                F.col("n_total")
                - F.coalesce(F.sum("n_ending").over(w), F.lit(0))
            ).cast("bigint"),
        )
        .withColumn(
            "f_nano",
            F.expr(
                "if(d < n_at_risk, cast(round(ln(1.0 - cast(d as double)"
                " / cast(n_at_risk as double)) * 1000000000.0) as bigint),"
                " 0L)"
            ),
        )
        .withColumn(
            "dead",
            F.max(F.expr("if(d >= n_at_risk, 1, 0)")).over(wc),
        )
        .withColumn("cum_nano", F.sum("f_nano").over(wc))
        .select(
            "day_offset",
            "n_at_risk",
            F.col("d").alias("n_churned"),
            F.round(
                F.expr(
                    "if(dead = 1, 0.0,"
                    " exp(cast(cum_nano as double) / 1000000000.0))"
                ),
                6,
            ).alias("km_survival"),
        )
    )


def twap_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event type: each user's
    value stream is a step function (the value holds until their next
    event of that type), and the pooled TWAP weights every held value
    by its exact holding duration — the estimator that is immune to
    sampling-rate bias, which the plain mean is not (a user who emits
    10 events in one minute should not count 10× the weight of one who
    holds a value all day).  The financial-TWAP pattern applied to
    event streams; the duration-weighted companion of
    `decayed_user_engagement`.

    Determinism: holding durations are exact microsecond differences
    from a keyed lag window; value·duration products are exact wide
    integers; ONE division at the surface.

    Scale shape: one user-keyed lag window (the sessionize shuffle),
    then a |types|-row rollup — no state, no explode.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "us", "event_id"
    )
    held = ev.withColumn("next_us", F.lead("us").over(w)).where(
        F.col("next_us").isNotNull()
    ).select(
        "event_type",
        "cents",
        F.expr("next_us - us").alias("dur_us"),
    )
    return held.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_us"),
        F.round(
            F.expr(
                "cast(sum(cast(cents as decimal(38,0)) * dur_us)"
                " as double) / cast(sum(dur_us) as double) / 100.0"
            ),
            6,
        ).alias("twap_value"),
    )


def conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the signup→first-purchase lag: exact
    interpolated P10/P25/P50/P75/P90 of per-user hours-to-convert,
    plus the converter count — the latency view of the funnel that
    `conversion_window_sensitivity` (which sweeps cutoffs) and
    `window_funnel` (which fixes one) both summarize away.  The P90
    IS the attribution-window recommendation.

    Determinism: lags are exact microsecond differences of per-user
    first-event aggregates; percentiles use the bit-identical
    interpolation; hours are one division at the surface.

    Scale shape: one user-keyed conditional min aggregate, one 1-row
    percentile fold over the converter rows.
    """
    firsts = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr(
                    "if(event_type = 'signup', unix_micros(ts), null)"
                )
            ).alias("su"),
            F.min(
                F.expr(
                    "if(event_type = 'purchase', unix_micros(ts), null)"
                )
            ).alias("pu"),
        )
    )
    lags = firsts.where(
        F.col("su").isNotNull()
        & F.col("pu").isNotNull()
        & (F.col("pu") >= F.col("su"))
    ).select(F.expr("pu - su").alias("lag_us"))
    qs = (0.1, 0.25, 0.5, 0.75, 0.9)
    return lags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converters"),
        *[
            F.round(
                F.expr(
                    f"percentile(lag_us, {q}) / 3600000000.0"
                ),
                6,
            ).alias(f"p{int(q * 100)}_hours")
            for q in qs
        ],
    )


PROMO_WINDOW_US = 3 * 86_400 * 1_000_000  # 3 days after signup
SESSION_GAP_US = 30 * 60 * 1_000_000  # the sessionize gap


def interval_overlap_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-INTERSECTION join: per user, the total hours their
    activity sessions overlap their post-signup promo window
    ([first signup, +3 days]) — the engagement-during-promo measure
    that containment-style range joins (`promo_attribution`: point in
    interval) cannot give, because it needs the LENGTH of the
    interval∩interval overlap, summed: Σ max(0, min(ends) −
    max(starts)).  Output is the per-user-bucketed distribution
    (whole-hour buckets) so the surface is bounded.

    Determinism: sessions come from the standard gap rule (30-min
    inactivity) as exact microsecond [start, end] pairs; every overlap
    is exact integer arithmetic; the bucket is an integer div.

    Scale shape: one user-keyed session window, one per-user broadcast-
    size equi-join on user_id (each user has ONE promo window — the
    interval join is keyed, never banded), a bounded bucket rollup.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = (
        ev.withColumn("prev", F.lag("us").over(w))
        .withColumn(
            "new_sess",
            F.expr(
                f"if(prev is null or us - prev > {SESSION_GAP_US}, 1, 0)"
            ),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sess_id")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end"))
    )
    promo = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("p_start"))
        .select(
            "user_id",
            "p_start",
            F.expr(f"p_start + {PROMO_WINDOW_US}").alias("p_end"),
        )
    )
    per_user = (
        sess.join(promo, "user_id")
        .select(
            "user_id",
            F.expr(
                "greatest(0L, least(s_end, p_end)"
                " - greatest(s_start, p_start))"
            ).alias("ov_us"),
        )
        .groupBy("user_id")
        .agg(F.sum("ov_us").cast("bigint").alias("ov_us"))
    )
    return (
        per_user.select(
            F.expr("ov_us div 3600000000").alias("overlap_hours_bucket")
        )
        .groupBy("overlap_hours_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def running_balance_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime event totals — the converged state a per-user
    running-balance stream reaches after all micro-batches, as one keyed
    aggregation in exact-integer driver-certifiable form (money summed as
    DECIMAL(18,2), last activity as epoch micros).

    Scale shape: one combiner-folded groupBy on user_id; no joins.
    """
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.unix_micros(F.max("ts")).alias("last_ts_micros"),
    )


def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrent sessions via the classic sweep line: each
    session contributes a +1 boundary at its start and a -1 at its end;
    concurrency at any instant is the carry-in from sessions already open
    at midnight plus the running boundary sum — the capacity-planning
    number (max simultaneous users) that a naive per-day DISTINCT count
    overstates and a sampled gauge understates.

    Determinism: boundaries are integer microseconds; the running sum is
    ordered by (us, delta DESC, user_id, session_idx) — a TOTAL order
    with starts before ends at the same instant: intervals are CLOSED
    [start, end], so a single-event (zero-duration) session still
    registers, and a session ending exactly as another starts counts as
    momentary overlap — the conservative reading a capacity planner
    wants.  Carry-in is an exact count of midnight-crossing sessions (a
    session spanning several days carries into each).  Days with no
    boundaries but a live carry still emit (the all-day-long-session
    case).

    Scale shape: sessionization is the shared one-shuffle-per-user
    window; the sweep is keyed BY DAY (never a global single-partition
    prefix sum), with the midnight carry closing the seam — the same
    two-level split every bucket-carry rank op here uses.  The
    midnight-crossing explode emits one row per (session, crossed day):
    bounded by total session-days, not by events.
    """
    sess = (
        _with_sessions(read_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
            F.min("ts").alias("s_ts"),
            F.max("ts").alias("e_ts"),
        )
    )
    bounds = sess.select(
        F.to_date("s_ts").alias("day"),
        F.col("s_us").alias("us"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_idx",
    ).unionByName(
        sess.select(
            F.to_date("e_ts").alias("day"),
            F.col("e_us").alias("us"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_idx",
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(
            F.col("us").asc(),
            F.col("delta").desc(),
            F.col("user_id").asc(),
            F.col("session_idx").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = bounds.withColumn("run", F.sum("delta").over(w))
    per_day = swept.groupBy("day").agg(
        F.max("run").cast("bigint").alias("max_run"),
        F.sum(F.expr("if(delta = 1, 1, 0)")).cast("bigint").alias("n_starts"),
        F.sum(F.expr("if(delta = -1, 1, 0)")).cast("bigint").alias("n_ends"),
    )
    carry = (
        sess.filter(F.to_date("e_ts") > F.to_date("s_ts"))
        .select(
            F.explode(
                F.expr(
                    "sequence(date_add(to_date(s_ts), 1), to_date(e_ts),"
                    " interval 1 day)"
                )
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("carry_in"))
    )
    return (
        per_day.join(carry, "day", "full_outer")
        .select(
            "day",
            F.coalesce("carry_in", F.lit(0)).cast("bigint").alias("carry_in"),
            F.coalesce("n_starts", F.lit(0)).cast("bigint").alias("n_starts"),
            F.coalesce("n_ends", F.lit(0)).cast("bigint").alias("n_ends"),
            (
                F.coalesce("carry_in", F.lit(0))
                + F.greatest(F.lit(0), F.coalesce("max_run", F.lit(0)))
            )
            .cast("bigint")
            .alias("peak_concurrency"),
        )
    )


RFM_TIERS = 5


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation rollup: score every user's purchase Recency /
    Frequency / Monetary value into quintile tiers and report each
    (r, f, m) cell's population and averages — the classic CRM
    segmentation grid ("champions" = 5-5-5, "at risk" = 1-4+-4+, …) that
    mixture/retention work keeps reaching for and no existing query
    exposes.

    Determinism: recency is exact integer micros to the corpus max
    timestamp; frequency an exact count; monetary exact cents; each
    dimension's tier is ntile-equivalent EXACT integer arithmetic
    (tier = n_tiers·(rank−1) div n + 1) over a (metric, user_id)-keyed
    rank, so ties split identically in both engines.

    Scale shape: one fact scan folds to per-user (r, f, m) — combiner
    friendly; the three rank windows run over |users| rows (two-level
    bucket-carry at 100 TB, same note as the other global ranks); the
    grid rollup is ≤ n_tiers³ rows.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    anchor = ev.agg(F.unix_micros(F.max("ts")).alias("t_max"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.unix_micros(F.max("ts")).alias("t_last"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.expr("cast(floor(value * 100) as bigint)"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            (F.col("t_max") - F.col("t_last")).alias("recency_us"),
            "frequency",
            "monetary_cents",
        )
    )
    n = per_user.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    scored = per_user.crossJoin(F.broadcast(n))
    # lower recency = better → rank recency DESCENDING so tier 5 = freshest
    for order, alias in [
        (F.col("recency_us").desc(), "r_tier"),
        (F.col("frequency").asc(), "f_tier"),
        (F.col("monetary_cents").asc(), "m_tier"),
    ]:
        w = Window.orderBy(order, F.col("user_id").asc())
        scored = (
            scored.withColumn("_rk", F.row_number().over(w))
            .withColumn(
                alias, F.expr(f"cast({RFM_TIERS} * (_rk - 1) div n + 1 as int)")
            )
            .drop("_rk")
        )
    return scored.groupBy("r_tier", "f_tier", "m_tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(
            F.sum("recency_us").cast("double")
            / F.count(F.lit(1))
            / 86400000000.0,
            6,
        ).alias("avg_recency_days"),
        F.round(
            F.sum("frequency").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_frequency"),
        F.round(
            F.sum("monetary_cents").cast("double") / F.count(F.lit(1)) / 100.0,
            6,
        ).alias("avg_monetary"),
    )


# Allen (1983) interval-algebra relations, evaluated equality-first so the
# CASE is unambiguous; both engines run the IDENTICAL text over integer
# microsecond endpoints.  A = the promo window, B = the session.
ALLEN_CASE = """
    CASE WHEN a1 = b1 AND a2 = b2 THEN 'equals'
         WHEN a1 = b1 AND a2 < b2 THEN 'starts'
         WHEN a1 = b1 AND a2 > b2 THEN 'started_by'
         WHEN a2 = b2 AND a1 > b1 THEN 'finishes'
         WHEN a2 = b2 AND a1 < b1 THEN 'finished_by'
         WHEN a2 = b1 THEN 'meets'
         WHEN a1 = b2 THEN 'met_by'
         WHEN a1 > b1 AND a2 < b2 THEN 'during'
         WHEN a1 < b1 AND a2 > b2 THEN 'contains'
         WHEN a2 < b1 THEN 'precedes'
         WHEN a1 > b2 THEN 'preceded_by'
         WHEN a1 < b1 AND a2 > b1 AND a2 < b2 THEN 'overlaps'
         ELSE 'overlapped_by' END
"""


def allen_interval_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra census between each user's promo windows
    (signup → +3 days, the `interval_overlap_hours` window) and their
    gap sessions: how do campaign windows RELATE to activity bursts —
    strictly before, meeting, overlapping, containing, contained…?  The
    13-relation taxonomy (Allen 1983) is the lossless summary of
    interval geometry that a single overlap flag collapses; marketing
    reads `contains`/`during` as in-window engagement and
    `precedes`/`meets` as post-window drift.

    Determinism: endpoints are exact integer micros; the relation CASE
    is evaluated equality-first (identical text both engines); counts
    are exact.  Zero-duration sessions (single event) classify like any
    degenerate interval — deterministically, by the same CASE.

    Scale shape: both interval sets key by user_id, so the pair join is
    a keyed equi-join (per-user signup × session counts are bounded);
    the census is a |relations|-row rollup.
    """
    ev = read_table(spark, sf_dir, "events")
    promos = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("a1"),
        F.expr(f"unix_micros(ts) + {PROMO_WINDOW_US}").alias("a2"),
    )
    sess = (
        _with_sessions(ev)
        .groupBy("user_id", "session_idx")
        .agg(
            F.unix_micros(F.min("ts")).alias("b1"),
            F.unix_micros(F.max("ts")).alias("b2"),
        )
    )
    pairs = promos.join(sess, "user_id").select(
        F.expr(ALLEN_CASE).alias("relation")
    )
    return pairs.groupBy("relation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
