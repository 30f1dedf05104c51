"""Aggregation operators (SURVEY.md §2.7/§2.8).

rsyslog's stateful counters/windows re-expressed as Spark aggregations
and window functions. A keyed count is one ``groupBy(keys).count()``:
Spark's partial HashAggregate reduces each map task to one row per key
before the shuffle, so even a zipf-skewed ``source`` key (one source
can be half the data) ships at most one row per key per task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# --- dynstats (runtime/dynstats.c) -----------------------------------------

def dyn_stats(df: DataFrame, bucket_keys: list[str | Column]) -> DataFrame:
    """dyn_inc(bucket, key) over a batch ≙ groupBy(keys).count()
    (dynstats.c:303-351; script func rainerscript.c:2724-2743).
    Returns (key..., n). TTL/cardinality caps are streaming concerns —
    see streaming.stateful."""
    return df.groupBy(*bucket_keys).agg(F.count(F.lit(1)).alias("n"))


def dyn_stats_capped(
    df: DataFrame,
    bucket_keys: list[str],
    max_cardinality: int,
    overflow_key: str = "_overflow_",
) -> DataFrame:
    """dynstats maxCardinality (dynstats.c:117-126, ops_overflow ctr):
    at most `max_cardinality` distinct key rows; everything beyond is
    merged into one overflow row.

    Batch divergence (documented): the reference admits the FIRST
    maxCardinality keys to arrive; a batch has no arrival order, so we
    keep the top-N by count (ties broken by key) — deterministic and
    the natural batch analog. (For streaming first-seen admission see
    streaming.dyn_stats_stream.)

    Scale shape: the kept set is found with a distributed
    ``orderBy(...).limit(N)`` (TakeOrderedAndProject: every partition
    computes a partial top-N, only N rows per partition reach the
    driver-side merge — no global single-task window). The overflow sum
    subtracts the kept rows' total from the global total, so the big
    `counts` relation is aggregated once and never re-joined."""
    counts = dyn_stats(df, bucket_keys)
    # TakeOrderedAndProject: partial top-N per partition, merge of
    # N-row partials — the distributed top-N physical operator.
    kept = counts.orderBy(F.desc("n"), *bucket_keys).limit(max_cardinality)
    # overflow = total − kept_total. Two scalar aggregates (kept is at
    # most max_cardinality rows) replace the anti-join: no shuffle of
    # the full key space beyond the one groupBy in dyn_stats.
    totals = counts.agg(
        F.sum("n").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    kept_tot = kept.agg(F.sum("n").alias("_kept"))
    over = (
        totals.crossJoin(kept_tot)
        .filter(F.col("_nkeys") > max_cardinality)
        .select(
            *[F.lit(overflow_key).alias(k if isinstance(k, str) else "key")
              for k in bucket_keys],
            (F.col("_total") - F.coalesce(F.col("_kept"), F.lit(0))).alias("n"),
        )
    )
    return kept.unionByName(over)


# perfbench (frozen with the benchmark) still calls the old name
salted_counts = dyn_stats


# --- percentile stats (runtime/perctile_stats.h, ring buffer) ----------------

def perctile_window(
    df: DataFrame,
    key: str,
    value: str,
    order_by: str,
    window_size: int,
    percentiles: list[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """percentile_observe/perctile (rainerscript.c:4253-4322): per-key
    ring buffer of the last `window_size` observations → min/max/sum/
    count + nearest-rank percentiles over the sorted window.

    Batch realization: sliding row window frame (-N+1, 0)."""
    w = (
        Window.partitionBy(key)
        .orderBy(order_by)
        .rowsBetween(-(window_size - 1), 0)
    )
    # nearest-rank on the sorted ring-buffer snapshot — byte-for-byte the
    # reference algorithm (perctile_ringbuf.c): sort the window, take
    # element ceil(p*n)
    ring = F.sort_array(F.collect_list(value).over(w))
    n = F.size(ring)

    def nearest_rank(p: float):
        idx = F.greatest(F.lit(1), F.ceil(n * F.lit(p)).cast("int"))
        return F.try_element_at(ring, idx)

    out = df.select(
        key,
        order_by,
        F.col(value).alias("v"),
        F.min(value).over(w).alias("w_min"),
        F.max(value).over(w).alias("w_max"),
        F.sum(value).over(w).alias("w_sum"),
        F.count(value).over(w).alias("w_count"),
        *[nearest_rank(p).alias(f"p{int(p * 100)}") for p in percentiles],
    )
    return out


def perctile_batch(
    df: DataFrame,
    keys: list[str],
    value: str,
    percentiles: list[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Whole-batch per-key percentile summary (the impstats snapshot
    shape)."""
    return df.groupBy(*keys).agg(
        F.min(value).alias("w_min"),
        F.max(value).alias("w_max"),
        F.sum(value).alias("w_sum"),
        F.count(value).alias("w_count"),
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY {value})"
            ).alias(f"p{int(p * 100)}")
            for p in percentiles
        ],
    )


# --- rate limiting (runtime/ratelimit.c) -------------------------------------

def ratelimit(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    interval_seconds: int,
    burst: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """Token-bucket approximation in batch: within each (key, tumbling
    interval window) keep the first `burst` rows by timestamp
    (ratelimit.c:2500-2620: interval+burst per key). Adds boolean
    ``rl_pass``; filter on it to drop. Deterministic tiebreak column
    recommended (doc_id) since equal timestamps are common."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(
        *key_cols, F.window(ts_col, f"{interval_seconds} seconds")
    ).orderBy(*order)
    return df.withColumn("rl_seq", F.row_number().over(w)).withColumn(
        "rl_pass", F.col("rl_seq") <= burst
    )


def last_message_repeated(
    df: DataFrame,
    key_cols: list[str],
    msg_col: str,
    order_by: list[str],
) -> DataFrame:
    """'last message repeated n times' (ratelimit.c:2352): collapse
    consecutive duplicates per key into one row + repeat count.

    Sessionization by change-flag cumulative sum: lag-compare marks the
    start of each run; a running sum of start-flags numbers the runs;
    grouping by (key, run) collapses them."""
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    changed = (
        F.lag(msg_col).over(w).isNull()
        | (F.lag(msg_col).over(w) != F.col(msg_col))
    ).cast("long")
    runs = df.withColumn("_new_run", changed).withColumn(
        "_run", F.sum("_new_run").over(
            Window.partitionBy(*key_cols)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    first_order = [F.first(c).alias(c) for c in order_by]
    return (
        runs.groupBy(*key_cols, "_run")
        .agg(
            F.first(msg_col).alias(msg_col),
            F.count(F.lit(1)).alias("n_repeats"),
            *first_order,
        )
        .drop("_run")
    )


# --- running counters (mmcount / mmsequence / action throttles) --------------

def mm_count(df: DataFrame, key_cols: list[str], order_by: list[str], out: str = "mmcount") -> DataFrame:
    """contrib/mmcount: running per-key counter."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out, F.count(F.lit(1)).over(w))


def mm_sequence(df: DataFrame, order_by: list[str], out: str = "seq") -> DataFrame:
    """contrib/mmsequence: global sequence numbers (single ordering —
    inherently serial in the reference too)."""
    w = Window.orderBy(*order_by)
    return df.withColumn(out, F.row_number().over(w))


def exec_every_nth(df: DataFrame, key_cols: list[str], order_by: list[str], n: int) -> DataFrame:
    """action.execOnlyEveryNthTime (action.c:382): keep every Nth
    occurrence per key."""
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") % n == 0
    ).drop("_rn")


def sender_stats(
    df: DataFrame, sender_col: str, ts_col: str
) -> DataFrame:
    """omsendertrack (plugins/omsendertrack): per-sender count +
    first/last seen."""
    return df.groupBy(sender_col).agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gap-based sessionization (the classic pipeline op this engine's
    event streams feed): per key, a new session starts when the gap to
    the previous event exceeds ``gap_seconds``. Emits one row per
    session: key, session_id (1-based per key), start/end epochs,
    n_events, duration_secs.

    Scale shape: ONE shuffle on the key (the window partition), then a
    running sum over the lag flag and a partial-aggregated groupBy on
    (key, session_id) that reuses the same partitioning — Catalyst
    collapses it to a single Exchange. Skewed keys inherit the window's
    skew (same caveat as any per-entity ordered scan)."""
    from pyspark.sql.window import Window

    ep = F.unix_timestamp(F.col(ts_col))
    # deterministic order under tied timestamps (lag would otherwise be
    # free to pick either neighbor and diverge run-to-run)
    order = [ep] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(ep).over(w)
    new_sess = (
        prev.isNull() | ((ep - prev) > gap_seconds)
    ).cast("long")
    sess = df.withColumn("_ep", ep).withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy(key_col, "session_id").agg(
        F.min("_ep").alias("start_ep"),
        F.max("_ep").alias("end_ep"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("_ep") - F.min("_ep")).alias("duration_secs"),
    )
