"""Temporal / slowly-changing-dimension operators.

Beyond-reference warehouse ops (SURVEY §7.1 M5 family): building SCD
type-2 validity intervals from a change stream, and merging overlapping
intervals per key (gaps-and-islands).  Both are pure keyed-window
compositions — every Window is ``partitionBy(key)``, so the work
distributes across the key space with no SinglePartition stage and no
driver-side loop; at 100 TB the cost is one hash exchange on the key
plus per-partition sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2(
    changes: DataFrame,
    key: str,
    state_cols: list[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: per
    ``key``, collapse consecutive rows whose ``state_cols`` are
    unchanged and emit one validity interval per distinct state run —
    (key, *state_cols, valid_from, valid_to, is_current), half-open
    ``[valid_from, valid_to)`` with ``valid_to`` NULL on the current
    version.

    Plan shape: ONE keyed window pass computes the lag-change flag,
    a filter keeps only version-start rows (the SCD2 table is exactly
    the change rows — no groupBy needed), and a second keyed window
    lead() closes each interval with the next version's start.  Both
    windows share the same (key, ts, tiebreak) ordering, so Spark
    reuses one exchange+sort for both.  ``tiebreak`` (a unique column,
    e.g. the event id) makes ordering total under duplicate
    timestamps — without it, retries could legally reorder equal-ts
    rows and flip which state "wins" an instant.
    """
    order = [F.col(ts_col).asc(), F.col(tiebreak).asc()]
    w = Window.partitionBy(key).orderBy(*order)
    state = F.struct(*[F.col(c) for c in state_cols])
    prev = F.lag(state).over(w)
    starts = (
        changes.withColumn(
            "__new_version__", ~prev.eqNullSafe(state)
        )
        .filter(F.col("__new_version__"))
        .drop("__new_version__")
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return starts.select(
        key,
        *state_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def merge_intervals(
    df: DataFrame, key: str, start: str, end: str
) -> DataFrame:
    """Merge overlapping-or-touching intervals per ``key`` (the
    gaps-and-islands pattern): an interval opens a new island iff its
    ``start`` is strictly after the running max ``end`` of every
    earlier interval in its key.  Output one row per island:
    (key, island_start, island_end, n_merged).

    Plan shape: one keyed window (cumulative max end over rows
    unbounded-preceding..-1, then a running sum of the new-island
    flag) and one keyed groupBy — both hash-partitioned on ``key``,
    and AQE coalesces the post-window aggregate into the same
    exchange.  Degenerate intervals (end < start) are treated as
    points at ``start``.
    """
    order_w = Window.partitionBy(key).orderBy(start, end)
    prev_max_end = F.max(end).over(
        order_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new_island__",
        F.when(
            prev_max_end.isNull() | (F.col(start) > prev_max_end), 1
        ).otherwise(0),
    ).withColumn("__island__", F.sum("__new_island__").over(order_w))
    return (
        flagged.groupBy(key, "__island__")
        .agg(
            F.min(start).alias("island_start"),
            F.max(end).alias("island_end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island__")
    )


def snapshot_at(
    dim: DataFrame,
    ts,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time read of an SCD2 dimension: the one version per
    key whose half-open validity interval contains ``ts`` —
    ``valid_from <= ts < valid_to`` with a NULL ``valid_to`` meaning
    open-ended.  This is the time-travel query the SCD2 build exists
    to serve (and the AS OF join's degenerate single-timestamp form):
    a pure narrow filter, no shuffle, no window — at 100 TB the
    predicate pushes into the dimension scan and zone maps on
    valid_from/valid_to skip whole files.
    """
    t = F.lit(ts).cast("timestamp")
    return dim.filter(
        (F.col(valid_from).cast("timestamp") <= t)
        & (
            F.col(valid_to).isNull()
            | (F.col(valid_to).cast("timestamp") > t)
        )
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    state_cols: list[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Apply a CDC batch INTO an existing SCD2 dimension — the
    incremental form of :func:`scd2` (what Delta's ``MERGE`` /
    declarative-pipeline "apply changes" performs nightly): closed
    history is immutable, only each touched key's CURRENT version can
    be closed, and no-op updates (a change equal to the current
    state) collapse away.

    Exactness contract, hash-pinned by the oracle: for a change
    stream split at any timestamp boundary,
    ``scd2_apply(scd2(prefix), suffix) == scd2(prefix + suffix)``
    — the incremental nightly path and a full rebuild are
    bit-identical, so an operator can switch between them freely.

    Late data (a change at or before its key's current
    ``valid_from``) would rewrite closed history; those rows are
    DROPPED, matching warehouse apply-changes semantics where history
    is append-only (quarantine upstream if they must be audited).
    New keys (no dim row) build fresh intervals.

    Plan shape — the incremental selling point: the dimension's
    HISTORY never enters a window.  Touched keys come from one
    semi/anti join pair on the (small) change batch's key set; only
    (current rows of touched keys ∪ the batch) — batch-sized, not
    dimension-sized — flow through the scd2 rebuild windows.  At
    100 TB the nightly cost is proportional to the night's changes,
    while a full rebuild would re-window years of history.

    The touched keys are NOT de-duplicated: they feed only broadcast
    semi/anti joins, which ignore duplicate build keys, and the
    broadcast side is bounded by the batch's key column — a
    ``distinct`` would only add an exchange ahead of the broadcast.
    """
    touched = changes.select(key)
    untouched = dim.join(F.broadcast(touched), key, "left_anti")
    # cur feeds three consumers and the lazy plan duplicates the dim
    # subtree per branch — MEASURED faster than persisting anyway
    # (2.1 s lazy vs 11.8 s with dim+cur persisted at sf0.1: the
    # caches serialize more than the cheap keyed-window recompute
    # costs, and the materialization barriers serialize the branches).
    # A storage-backed dim pays a few pruned parquet scans instead —
    # the right trade at any scale.
    cur = dim.filter(F.col("is_current")).join(
        F.broadcast(touched), key, "left_semi"
    )
    closed = dim.filter(~F.col("is_current")).join(
        F.broadcast(touched), key, "left_semi"
    )
    # late-drop: strictly-after-current only (NULL cur = new key)
    ch = (
        changes.join(
            F.broadcast(cur.select(key, F.col("valid_from").alias("__cf__"))),
            key,
            "left",
        )
        .filter(F.col("__cf__").isNull() | (F.col(ts_col) > F.col("__cf__")))
        .select(key, *state_cols, ts_col, tiebreak)
    )
    # the current version re-enters the mini-stream as a seed change at
    # its own valid_from; its NULL tiebreak is safe because the
    # late-drop guarantees every surviving change is STRICTLY after it
    tb_type = dict(changes.dtypes)[tiebreak]
    seed = cur.select(
        key,
        *state_cols,
        F.col("valid_from").alias(ts_col),
        F.lit(None).cast(tb_type).alias(tiebreak),
    )
    rebuilt = scd2(
        seed.unionByName(ch), key, state_cols, ts_col, tiebreak
    )
    out_cols = [key, *state_cols, "valid_from", "valid_to", "is_current"]
    return (
        untouched.select(*out_cols)
        .unionByName(closed.select(*out_cols))
        .unionByName(rebuilt.select(*out_cols))
    )


def resample_ffill(
    df: DataFrame,
    key: str,
    ts_col: str,
    state_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """Per-key daily resample with forward fill — the gap-filling
    every dashboard/feature pipeline needs between sparse state
    changes and a dense calendar: for each key, one row per DAY from
    that key's first to last observation, carrying the
    latest-observed ``state_cols`` forward across gap days.

    Day semantics: an observation day's row reports the day's LAST
    state (``ts`` then ``tiebreak`` ordering — the same total order
    as :func:`scd2`); gap days repeat the previous state with
    ``is_observed = false``.  The spine is each key's own [min, max]
    day span, not a global calendar — keys never grow rows outside
    their lifetime, so output size is Σ per-key spans.

    Plan shape: one keyed aggregate builds (key, first_day, last_day),
    ``sequence()`` + ``explode`` generates the spine WITHOUT a join
    against a calendar table or a driver loop, the per-(key, day)
    last-state reduce is a max_by hash aggregate (no window), and one
    keyed window does the carry-forward — two exchanges on the key
    total at any scale.
    """
    day = F.to_date(F.col(ts_col).cast("timestamp"))
    obs_day = (
        df.select(
            F.col(key),
            day.alias("day"),
            F.struct(
                F.col(ts_col).cast("timestamp").alias("__ts__"),
                F.col(tiebreak).alias("__tb__"),
            ).alias("__ord__"),
            F.struct(*[F.col(c) for c in state_cols]).alias("__st__"),
        )
        .groupBy(key, "day")
        .agg(F.expr("max_by(__st__, __ord__)").alias("__st__"))
    )
    span = obs_day.groupBy(key).agg(
        F.min("day").alias("__d0__"), F.max("day").alias("__d1__")
    )
    spine = span.select(
        key,
        F.explode(
            F.sequence(
                F.col("__d0__"), F.col("__d1__"), F.expr("interval 1 day")
            )
        ).alias("day"),
    )
    joined = spine.join(obs_day, [key, "day"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = joined.select(
        key,
        "day",
        F.col("__st__").isNotNull().alias("is_observed"),
        F.last("__st__", ignorenulls=True).over(w).alias("__f__"),
    )
    return filled.select(
        key,
        "day",
        *[F.col(f"__f__.{c}").alias(c) for c in state_cols],
        "is_observed",
    )


def decayed_sum(
    df: DataFrame,
    key: str,
    day_col: str,
    val_col: str,
    window_days: int = 8,
) -> DataFrame:
    """Exponentially-decayed daily sum with EXACT dyadic weights.

    ``decayed_x{2^(W-1)}(t) = Σ_{d=0..W-1} x(t-d) · 2^(W-1-d)`` — the
    half-life-one-day EWMA truncated at ``window_days``, scaled by
    ``2^(W-1)`` so every weight is an integer and the result is
    bit-identical across engines (floats never cross; divide at the
    edge if a unit value is wanted).

    Shape chosen for scale: instead of a per-key ORDER BY window with
    ``W`` lag columns (exchange + SORT per key), each observation
    SCATTERS its weighted contribution forward — ``explode(sequence(0,
    W-1))`` fans each daily point into the ``W`` target days it decays
    into, and one hash aggregate on (key, day) folds them. Sort-free:
    a W× map-side fan-out traded for no per-key sort, and the fan-out
    compresses right back in the partial aggregate. Days with no
    observation inside the window simply don't appear (their decayed
    sum is 0); target days past the key's last observed day are
    dropped so the output ends where the series does.

    Input may have multiple rows per (key, day) — they are pre-summed
    first, so the fan-out is over the DAILY series, not raw rows; the
    daily frame is persisted because both the scatter and the per-key
    last-day bound consume it (without the cache each branch would
    recompute the upstream plan, including any joins the caller fed
    in).
    """
    from .scale import persisted

    w_hi = int(window_days)
    daily = persisted(
        df.groupBy(key, day_col).agg(
            F.sum(F.col(val_col)).cast("bigint").alias("__v__")
        )
    )
    span = daily.groupBy(key).agg(F.max(day_col).alias("__last__"))
    fan = daily.select(
        key,
        F.col(day_col).alias("__d0__"),
        "__v__",
        F.explode(F.sequence(F.lit(0), F.lit(w_hi - 1))).alias("__off__"),
    )
    scattered = fan.select(
        key,
        F.date_add(F.col("__d0__"), F.col("__off__")).alias("day"),
        # shiftleft(1L, W-1-off) with a COLUMN shift amount needs the SQL
        # form (the Python F.shiftleft binding takes only a literal int).
        F.expr(f"__v__ * shiftleft(cast(1 as bigint), {w_hi - 1} - __off__)").alias(
            "__wv__"
        ),
    )
    out = scattered.groupBy(key, "day").agg(
        F.sum("__wv__").cast("bigint").alias("decayed_scaled")
    )
    return out.join(span, key).filter(F.col("day") <= F.col("__last__")).drop(
        "__last__"
    )
