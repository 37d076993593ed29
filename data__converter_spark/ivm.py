"""Incremental aggregate (materialized-view) maintenance.

Beyond-reference warehouse op (SURVEY §7.1 M5 family): keep a keyed
aggregate table current by merging a small delta batch into the
standing state instead of re-scanning the base table.  This is the
shape a 100 TB pipeline actually runs: the state table is key-sized
(millions of rows, not billions), the delta is one ingest batch, and
the refresh cost is ``O(|delta| + |state|)`` with a single hash
exchange — the base table is never touched again.

Only *mergeable* measures are supported (sum / min / max, with count
expressed as ``sum(1)``), exactly the algebra Spark's own partial
aggregation uses map-side: merging two states is the same operation as
building one, so ``merge(state(A), state(B)) == state(A ∪ B)`` holds
by construction and is pinned both by pytest and by the DuckDB
full-recompute oracle (`incremental_agg_orders`).  Non-mergeable
aggregates (exact distinct, medians) need a sketch instead — see
``llmops.sketches`` (HLL/KMV) and ``stats.group_quantiles_disc``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# measure -> (build fn over raw rows, combine fn over partial states).
# For sum/min/max the two coincide; count REBUILDS as count(*) but
# COMBINES as sum — the classic count-combines-as-sum rule.
_MERGEABLE = {
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "count": (lambda _c: F.count(F.lit(1)), F.sum),
}


def aggregate_state(
    df: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, Column | str | None]],
) -> DataFrame:
    """Build a mergeable aggregate state from raw rows.

    ``measures`` maps output column name -> (fn, input column) with fn
    in {sum, min, max, count} (count ignores the input).  One
    map-side-combining hash aggregate; the output is keyed and
    key-sized.
    """
    aggs = []
    for name, (fn, col) in measures.items():
        if fn not in _MERGEABLE:
            raise ValueError(f"non-mergeable measure {fn!r} for {name!r}")
        build, _combine = _MERGEABLE[fn]
        c = F.col(col) if isinstance(col, str) else col
        aggs.append(build(c).alias(name))
    return df.groupBy(*keys).agg(*aggs)


def merge_states(
    states: list[DataFrame],
    keys: list[str],
    measures: dict[str, tuple[str, Column | str | None]],
) -> DataFrame:
    """Merge aggregate states built by :func:`aggregate_state` over
    disjoint row sets: union the (small, key-sized) state frames and
    re-aggregate with each measure's COMBINE function — count combines
    as sum, sum/min/max combine as themselves.  Keys present in only
    one state pass through (union, not outer join, so there is no
    null-vs-absent asymmetry to patch up).  One hash exchange over
    key-sized input; the base table is not in the plan at all.
    """
    if not states:
        raise ValueError("merge_states needs at least one state")
    unioned = reduce(lambda a, b: a.unionByName(b), states)
    aggs = []
    for name, (fn, _col) in measures.items():
        _build, combine = _MERGEABLE[fn]
        aggs.append(combine(F.col(name)).alias(name))
    return unioned.groupBy(*keys).agg(*aggs)


def refresh_incremental(
    state: DataFrame,
    delta_rows: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, Column | str | None]],
) -> DataFrame:
    """One maintenance step: aggregate the delta batch, merge it into
    the standing state.  Equivalent to rebuilding from base ∪ delta
    (pytest-pinned) at a cost independent of the base table's size."""
    return merge_states(
        [state, aggregate_state(delta_rows, keys, measures)], keys, measures
    )


def _combine_aggs(
    measures: dict[str, tuple[str, Column | str | None]],
) -> list[Column]:
    aggs = []
    for name, (fn, _col) in measures.items():
        _build, combine = _MERGEABLE[fn]
        aggs.append(combine(F.col(name)).alias(name))
    return aggs


def join_view_state(
    fact_state: DataFrame,
    dim: DataFrame,
    join_key: str,
    view_keys: list[str],
    measures: dict[str, tuple[str, Column | str | None]],
) -> DataFrame:
    """Build the JOIN-VIEW aggregate (e.g. revenue per nation =
    orders ⋈ customer grouped by nation) FROM THE FACT-SIDE STATE, not
    the fact table: the per-join-key partial aggregate joins the
    dimension and re-aggregates with each measure's COMBINE function
    (count combines as sum).  Both inputs are key-sized; the base fact
    is not in the plan."""
    joined = fact_state.join(dim, join_key)
    return joined.groupBy(*view_keys).agg(*_combine_aggs(measures))


def refresh_join_view(
    view_state: DataFrame,
    fact_state: DataFrame,
    dim: DataFrame,
    delta_fact: DataFrame,
    delta_dim: DataFrame,
    join_key: str,
    view_keys: list[str],
    measures: dict[str, tuple[str, Column | str | None]],
) -> tuple[DataFrame, DataFrame]:
    """One maintenance step for an aggregated JOIN view under inserts
    to BOTH sides — the classic delta-join identity
    ``Δ(F ⋈ D) = ΔF ⋈ (D ∪ ΔD)  ∪  F ⋈ ΔD`` restated over STATES so no
    term ever touches the base fact table:

    - new fact rows aggregate to a delta state and join the FULL
      dimension (old ∪ new — this term also covers ΔF ⋈ ΔD);
    - new dimension rows join the standing FACT-SIDE state — the
      key-sized partial aggregate stands in for every historical fact
      row, which is exactly why the fact state is maintained at all
      (a fact row whose dimension key arrives LATE is invisible in the
      view until this term picks it up — inner-join semantics
      preserved under out-of-order arrival);
    - both contributions merge into the view with COMBINE functions,
      and the delta state merges into the fact state for the next
      step.

    Requires insert-only deltas with ``delta_dim`` keys disjoint from
    ``dim`` (the CDC-upsert/SCD2 ops above handle mutation; fact-side
    deletes are :func:`refresh_with_retractions` below — signed
    states, sum/count only).  Every frame in
    the plan is delta- or key-sized: cost is
    ``O(|Δ| + |states| + |dim|)`` per step, independent of base-fact
    size — the property that makes nightly refresh at 100 TB a join
    of small tables.  Returns ``(new_view_state, new_fact_state)``;
    equivalence to the full rebuild is pinned by pytest and by the
    ``ivm_join_nation`` DuckDB full-recompute oracle.
    """
    delta_fs = aggregate_state(delta_fact, [join_key], measures)
    dim_full = dim.unionByName(delta_dim)
    contrib_a = delta_fs.join(dim_full, join_key)
    contrib_b = fact_state.join(delta_dim, join_key)
    delta_view = (
        contrib_a.select(*view_keys, *measures)
        .unionByName(contrib_b.select(*view_keys, *measures))
        .groupBy(*view_keys)
        .agg(*_combine_aggs(measures))
    )
    new_view = merge_states([view_state, delta_view], view_keys, measures)
    new_fact_state = merge_states([fact_state, delta_fs], [join_key], measures)
    return new_view, new_fact_state


def _signed_measures(
    measures: dict[str, tuple[str, Column | str | None]],
    sign_col: str | Column,
) -> dict[str, Column]:
    """Each retractable measure's per-row signed contribution: ``sum``
    contributes ``sign * value`` and ``count`` contributes ``sign``."""
    s = F.col(sign_col) if isinstance(sign_col, str) else sign_col
    out = {}
    for name, (fn, col) in measures.items():
        if fn == "sum":
            out[name] = s * (F.col(col) if isinstance(col, str) else col)
        elif fn == "count":
            out[name] = s
        else:
            raise ValueError(
                f"measure {name!r} ({fn}) is not retractable — min/max "
                "have no inverse; use the insert-only path or the "
                "bounded top-k state (topk_state / "
                "refresh_topk_with_retractions)"
            )
    return out


def signed_state(
    df: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, Column | str | None]],
    sign_col: str | Column,
) -> DataFrame:
    """Build a SIGNED aggregate state from a delta batch that mixes
    inserts (+1) and retractions (-1).

    Only the abelian-group measures survive retraction: ``sum``
    contributes ``sign * value`` and ``count`` contributes ``sign`` —
    subtracting is just adding the inverse. ``min``/``max`` are
    rejected: they are semilattice-only (no inverse — retracting the
    current max needs the full group re-scanned; keep those in the
    insert-only path or a sketch).
    """
    signed = _signed_measures(measures, sign_col)
    return df.groupBy(*keys).agg(*[F.sum(v).alias(n) for n, v in signed.items()])


def refresh_with_retractions(
    state: DataFrame,
    delta_rows: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, Column | str | None]],
    sign_col: str | Column,
    count_measure: str,
) -> DataFrame:
    """One maintenance step under inserts AND deletes: merge the
    signed delta rows into the standing state, then DROP keys whose
    ``count_measure`` reaches exactly zero — a fully-retracted key
    must leave the view entirely (count 0 is 'absent', not 'present
    with zeros'; the full-recompute oracle has no such row, and
    neither may we).

    A NEGATIVE count (the caller retracted rows never inserted) stays
    IN the state — surfaced, not silently dropped: filtering it out
    would both hide the defect and break rebuild equivalence on the
    next step (the late matching insert must net the key back to
    exactly zero, which needs the -1 row still standing). Readers
    that must not see debt rows filter ``count_measure > 0``
    explicitly at the edge.

    One hash exchange: the delta rows are projected to their signed
    contributions (:func:`signed_state`'s algebra, cast to the state's
    measure types so the output schema is the state's) and unioned
    with the standing state, and ONE :func:`merge_states` aggregate
    folds both — sum is associative, so pre-aggregating the delta
    behind its own exchange bought nothing.  The base is never
    rescanned.  Equivalence to the full rebuild over (base rows minus
    retracted rows) is pinned by pytest and the
    ``ivm_retract_orders`` oracle.
    """
    types = {f.name: f.dataType for f in state.schema.fields}
    signed = _signed_measures(measures, sign_col)
    delta = delta_rows.select(
        *keys, *[v.cast(types[n]).alias(n) for n, v in signed.items()]
    )
    merged = merge_states([state, delta], keys, measures)
    return merged.filter(F.col(count_measure) != 0)


# ---------------------------------------------------------------------------
# Retractable extrema: bounded per-key top-k state
# ---------------------------------------------------------------------------
#
# min/max are semilattice-only (no inverse), so refresh_with_retractions
# correctly REJECTS them.  The documented alternative lives here: keep
# the k largest values per key as explicit state.  A retraction of a
# stored value removes it from the window; the window "absorbs" up to
# k-1 retractions of the current extrema before the key needs a base
# rescan — and when it does, the rescan is scoped to exactly the
# flagged keys (a semi-join, never a full base scan).  min is max over
# the negated column.
#
# Exactness invariant (pytest-pinned, oracle-checked by
# ivm_minmax_orders): for every UNFLAGGED key,
#     topk == the min(k, n_rows) largest surviving values, descending
# so element 1 is the exact max and deeper elements are exact to the
# window's depth.  The flag is maintained with a two-phase check over
# PER-CELL-NETTED deltas (a same-batch insert+retract of one value
# cancels before either phase): the batch's net retractions apply
# FIRST, and the key flags if the retraction-only intermediate window
# holds fewer than
# min(k, surviving-row-count) values — catching the subtle case where
# same-batch inserts refill an under-full window with values SMALLER
# than a forgotten (evicted) survivor, which a size check after the
# merged batch would miss.  Inserts alone can never invalidate.


def _topk_arr(k: int) -> Column:
    """Collect (v, take) cells — at most k of them per key by the
    cumulative filter upstream — into one descending value array with
    multiplicity."""
    return F.flatten(
        F.transform(
            F.reverse(F.sort_array(F.collect_list(F.struct("v", "take")))),
            lambda s: F.array_repeat(s["v"], s["take"].cast("int")),
        )
    )


def _cells_to_topk(cells: DataFrame, keys: list[str], k: int) -> DataFrame:
    """(keys..., v, m) multiplicity cells -> (keys..., topk) with the
    k largest values (ties by multiplicity) per key.  The per-key
    window runs over DISTINCT-VALUE cells, not rows, and everything
    past the first k cells is filtered before any array builds."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.desc("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = (
        cells.filter(F.col("m") > 0)
        .withColumn("__before__", F.coalesce(F.sum("m").over(w), F.lit(0)))
        .filter(F.col("__before__") < k)
        .withColumn(
            "take", F.least(F.col("m"), F.lit(k) - F.col("__before__"))
        )
    )
    return kept.groupBy(*keys).agg(_topk_arr(k).alias("topk"))


def topk_state(
    rows: DataFrame,
    keys: list[str],
    value_col: str | Column,
    k: int,
) -> DataFrame:
    """Build the bounded top-k state from raw rows: one row per key
    with ``topk`` (the k largest values, descending, with
    multiplicity), ``n_rows`` (retractable count), and
    ``needs_rescan = false``.

    Values cast to BIGINT (the integer-exact discipline — pass cents,
    not dollars).  Build shape: one hash aggregate to (key, value)
    multiplicity cells, a per-key cumulative window over CELLS
    (distinct values per key, not rows), and a collect bounded to k
    structs per key by the cumulative filter — no unbounded
    collect_list anywhere."""
    if k < 1:
        raise ValueError(f"topk_state: k must be >= 1, got {k}")
    from pyspark.sql import Window

    v = F.col(value_col) if isinstance(value_col, str) else value_col
    cells = rows.groupBy(
        *keys, v.cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    # n_rows rides the SAME window pass as the cumulative filter (r15,
    # guide §2.4: two operations keyed the same way share one
    # exchange): every build cell has m >= 1, so every key keeps its
    # first cell and the whole-partition sum IS the row count — the
    # separate meta aggregate + left join the old form paid are gone.
    # (refresh_topk_with_retractions keeps the join form: there a key
    # can net to an EMPTY window while n_rows stays positive.)
    w_all = Window.partitionBy(*keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.desc("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept = (
        cells.withColumn("__n_rows__", F.sum("m").over(w_all))
        .withColumn("__before__", F.coalesce(F.sum("m").over(w), F.lit(0)))
        .filter(F.col("__before__") < k)
        .withColumn(
            "take", F.least(F.col("m"), F.lit(k) - F.col("__before__"))
        )
    )
    return kept.groupBy(*keys).agg(
        _topk_arr(k).alias("topk"),
        F.first("__n_rows__").cast("bigint").alias("n_rows"),
    ).select(*keys, "topk", "n_rows", F.lit(False).alias("needs_rescan"))


def refresh_topk_with_retractions(
    state: DataFrame,
    delta_rows: DataFrame,
    keys: list[str],
    value_col: str | Column,
    sign_col: str | Column,
    k: int,
) -> DataFrame:
    """One top-k maintenance step under inserts (+1) and retractions
    (-1).

    Only keys PRESENT IN THE DELTA are reprocessed: untouched state
    rows pass through an anti-join unchanged (the scd2_apply
    discipline — at scale almost every key is untouched).  A batch is
    an UNORDERED multiset of signed rows, so each (key, value) cell's
    inserts and retractions are NETTED first — a same-batch
    insert+retract of the same value cancels exactly and never enters
    the window (netting before the clamp is what makes that true: the
    clamp otherwise absorbs the retraction against a zero stored
    multiplicity and the insert leg re-adds a phantom value).  For a
    touched key, the stored window explodes back to multiplicity
    cells, the batch's NET-NEGATIVE cells apply first (clamped at
    zero — net-retracting a value the window never stored is a no-op
    at cell level; the retractable ``n_rows`` still counts it), the
    key flags ``needs_rescan`` if that retraction-only window is
    smaller than min(k, surviving rows) — the moment the window can
    no longer prove it holds the true extrema — and then the
    NET-POSITIVE cells apply and the window rebuilds.  The
    surviving-row midpoint in that flag check also uses the NETTED
    negative sum: with the raw sum, a batch like retract(5),
    retract(3), insert(9), retract(9) over base {5,3,2} understates
    the survivor count to zero and leaves an empty window unflagged
    with one row still live.  Flags are sticky until
    :func:`repair_topk` rescans exactly the flagged keys.

    Keys whose ``n_rows`` nets to exactly zero leave the state (absent,
    not present-with-empty); a NEGATIVE ``n_rows`` (retraction of rows
    never inserted) stays visible as debt, same contract as
    :func:`refresh_with_retractions`.

    Cost: one union + key exchanges over KEY-SIZED frames (state rows
    carry ≤ k values each); the base table is never in the plan.
    """
    if k < 1:
        raise ValueError(f"refresh_topk_with_retractions: k >= 1, got {k}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    s = F.col(sign_col) if isinstance(sign_col, str) else sign_col
    # Net each (key, value) cell FIRST — the batch is an unordered
    # multiset, so only the net effect per value is real.  Cells that
    # net to zero are dropped entirely: they neither move the window
    # nor n_rows, and dropping them keeps an all-cancelling key out of
    # delta_keys (it stays on the untouched fast path).  neg/pos below
    # are the net's negative/positive parts, NOT the raw signed sums.
    delta_cells = (
        delta_rows.groupBy(*keys, v.cast("bigint").alias("v"))
        .agg(F.sum(s).cast("bigint").alias("net"))
        .filter(F.col("net") != 0)
        .select(
            *keys,
            "v",
            F.least(F.col("net"), F.lit(0)).alias("neg"),
            F.greatest(F.col("net"), F.lit(0)).alias("pos"),
        )
    )
    # one row per (key, v) cell — no .distinct() (r15): the anti/semi
    # key split below is set-shaped regardless, and the dedup paid an
    # exchange only to shrink a delta-sized broadcast
    delta_keys = delta_cells.select(*keys)
    untouched = state.join(delta_keys, keys, "left_anti")
    touched = state.join(delta_keys, keys, "left_semi")

    # stored window back to (key, v, m) cells; empty windows simply
    # contribute no cells (explode drops them; meta keeps the key)
    old_cells = (
        touched.select(*keys, F.explode("topk").alias("v"))
        .groupBy(*keys, "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    merged = old_cells.join(delta_cells, [*keys, "v"], "full_outer").select(
        *keys,
        "v",
        F.coalesce(F.col("m"), F.lit(0)).alias("m_old"),
        F.coalesce(F.col("neg"), F.lit(0)).alias("neg"),
        F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
    )
    inter = merged.withColumn(
        "m_inter", F.greatest(F.col("m_old") + F.col("neg"), F.lit(0))
    )
    per_key = inter.groupBy(*keys).agg(
        F.sum("m_inter").cast("bigint").alias("inter_size"),
        F.sum("neg").cast("bigint").alias("d_neg"),
        F.sum("pos").cast("bigint").alias("d_pos"),
    )
    meta = (
        touched.select(*keys, "n_rows", "needs_rescan")
        .join(per_key, keys, "full_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("d_neg"), F.lit(0))
                + F.coalesce(F.col("d_pos"), F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("d_neg"), F.lit(0))
            ).alias("__n_mid__"),
            F.coalesce(F.col("needs_rescan"), F.lit(False)).alias(
                "__old_flag__"
            ),
            F.coalesce(F.col("inter_size"), F.lit(0)).alias("__inter__"),
        )
    )
    final_cells = inter.select(
        *keys, "v", (F.col("m_inter") + F.col("pos")).alias("m")
    )
    arrs = _cells_to_topk(final_cells, keys, k)
    out = meta.join(arrs, keys, "left").select(
        *keys,
        F.coalesce(F.col("topk"), F.array().cast("array<bigint>")).alias(
            "topk"
        ),
        "n_rows",
        (
            F.col("__old_flag__")
            | (
                F.col("__inter__")
                < F.least(F.lit(k), F.greatest(F.col("__n_mid__"), F.lit(0)))
            )
        ).alias("needs_rescan"),
    ).filter(F.col("n_rows") != 0)
    return untouched.unionByName(out)


def repair_topk(
    state: DataFrame,
    base: DataFrame,
    keys: list[str],
    value_col: str | Column,
    k: int,
) -> DataFrame:
    """Rescan EXACTLY the flagged keys from the (current, surviving)
    base and splice the rebuilt windows back: a semi-join scopes the
    base scan to flagged keys, unflagged state passes through
    untouched.  A flagged key absent from the base drops (the base is
    ground truth).  After repair every key satisfies the exactness
    invariant again."""
    flagged = state.filter(F.col("needs_rescan")).select(*keys)
    clean = state.filter(~F.col("needs_rescan"))
    rebuilt = topk_state(
        base.join(flagged, keys, "left_semi"), keys, value_col, k
    )
    return clean.unionByName(rebuilt)
