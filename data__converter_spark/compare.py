"""Keyed diff of two tables — the Compare tool, Spark-first.

Reference semantics (app/(contents)/compare/page.tsx):

- ``buildKeyMap`` (:201-209): rows with null keys dropped; duplicate
  keys last-wins.                                -> :func:`dedup_last_wins`
- ``diffRows`` (:223-263): union of A/B keys; per key classify
  ``deleted`` (A-only) / ``added`` (B-only) / ``same`` / ``changed``.
                                                 -> :func:`diff`
- ``shallowEqual``/``valueEqual`` (:211-221,272-280): equality on
  stringified values.                            -> printable canon form
- summary counters (:232-261)                    -> :func:`diff_summary`
- ``explodeToFieldMismatches`` (:288-338): field-level long-format
  mismatch table.                                -> :func:`field_mismatches`
- default key = first common column (:532-537)   -> :func:`infer_key`

Composite keys are a beyond-reference extension: every entry point
takes ``key`` as a column name or a list of names (the reference UI
only offers single-column keys).

Scale notes: the single full-outer join shuffles both sides on the key —
Catalyst/AQE picks sort-merge (or broadcast if one side is small). The
field unpivot is a narrow ``stack`` over the join output: no second
shuffle. ``added``/``deleted`` are exposed as real anti-joins too
(:func:`added_keys`/:func:`deleted_keys`) so at scale you can compute
just one class without materializing the full diff.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .scale import local_frame
from .schema import printable_col

DIFF_STATUS_COL = "status"

Key = "str | list[str]"


def _keys(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _all_not_null(keys: list[str]):
    cond = F.col(keys[0]).isNotNull()
    for k in keys[1:]:
        cond = cond & F.col(k).isNotNull()
    return cond


def infer_key(a: DataFrame, b: DataFrame) -> str:
    """First column of A that also exists in B (compare/page.tsx:532-537)."""
    b_cols = set(b.columns)
    for c in a.columns:
        if c in b_cols:
            return c
    raise ValueError("no common column between the two tables")


def dedup_last_wins(
    df: DataFrame, key: str | list[str], order_col: str | None = None
) -> DataFrame:
    """Drop null-key rows; keep the last row per key (compare/page.tsx:201-209).

    "Last" needs an explicit order in a distributed setting: pass
    ``order_col`` (e.g. an ingest sequence). Without one we fall back to
    ``monotonically_increasing_id`` which preserves file order within a
    single-file read — documented divergence from the reference's
    implicit array order.
    """
    keys = _keys(key)
    ordered = df.withColumn(
        "__seq__", F.col(order_col) if order_col else F.monotonically_increasing_id()
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("__seq__"))
    return (
        ordered.filter(_all_not_null(keys))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "__seq__")
    )


def _canonize(
    df: DataFrame, keys: list[str], cols: list[str], scale: int | None
) -> DataFrame:
    """Keys + printable-string compare columns; null-key rows dropped."""
    return df.filter(_all_not_null(keys)).select(
        *[F.col(k) for k in keys],
        *[printable_col(df, c, scale=scale) for c in cols],
    )


def diff(
    a: DataFrame,
    b: DataFrame,
    key: str | list[str],
    compare_cols: list[str] | None = None,
    scale: int | None = 2,
) -> DataFrame:
    """Full-outer keyed diff (compare/page.tsx:223-263).

    Returns one row per key in the union of A/B keys with columns:
    the key column(s), ``status`` in {added, deleted, changed, same},
    and the stringified ``a_<col>`` / ``b_<col>`` values for each
    compared column. Equality is on canonical string forms (W2/W3
    semantics); ``scale`` fixes the decimal rendering of float columns
    so Spark and SQL oracles agree.
    """
    keys = _keys(key)
    key_set = set(keys)
    cols = compare_cols or [
        c for c in a.columns if c not in key_set and c in set(b.columns)
    ]
    a_n = _canonize(a, keys, cols, scale)
    b_n = _canonize(b, keys, cols, scale)

    a_side = a_n.select(
        *[F.col(k).alias(f"__a_{k}__") for k in keys],
        *[F.col(c).alias(f"a_{c}") for c in cols],
    )
    b_side = b_n.select(
        *[F.col(k).alias(f"__b_{k}__") for k in keys],
        *[F.col(c).alias(f"b_{c}") for c in cols],
    )
    cond = a_side[f"__a_{keys[0]}__"] == b_side[f"__b_{keys[0]}__"]
    for k in keys[1:]:
        cond = cond & (a_side[f"__a_{k}__"] == b_side[f"__b_{k}__"])
    joined = a_side.join(b_side, cond, "full_outer")

    all_equal = F.lit(True)
    for c in cols:
        all_equal = all_equal & (F.col(f"a_{c}") == F.col(f"b_{c}"))

    # key columns are filtered non-null pre-join, so a null side-key
    # means that side is absent for this key
    status = (
        F.when(F.col(f"__b_{keys[0]}__").isNull(), F.lit("deleted"))
        .when(F.col(f"__a_{keys[0]}__").isNull(), F.lit("added"))
        .when(all_equal, F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"__a_{k}__"), F.col(f"__b_{k}__")).alias(k)
            for k in keys
        ],
        status.alias(DIFF_STATUS_COL),
        *[F.coalesce(F.col(f"a_{c}"), F.lit("")).alias(f"a_{c}") for c in cols],
        *[F.coalesce(F.col(f"b_{c}"), F.lit("")).alias(f"b_{c}") for c in cols],
    )


def diff_summary(diff_df: DataFrame) -> DataFrame:
    """Status counts (compare/page.tsx:232-261). One partial+final agg."""
    return diff_df.groupBy(DIFF_STATUS_COL).agg(F.count("*").alias("cnt"))


def field_mismatches(diff_df: DataFrame, key: str | list[str]) -> DataFrame:
    """Field-level long format (compare/page.tsx:288-338).

    ``changed`` rows emit one row per differing field; ``added`` /
    ``deleted`` rows one row per non-empty field (missing fields print
    as '' in the reference, so present==non-empty at the string edge).
    Columns: key(s), field, status, a_value, b_value. Narrow op — a
    ``stack`` over the diff output, no extra shuffle.
    """
    keys = _keys(key)
    cols = sorted({c[2:] for c in diff_df.columns if c.startswith("a_")})
    n = len(cols)
    stack_args = ", ".join(f"'{c}', a_{c}, b_{c}" for c in cols)
    long = diff_df.filter(F.col(DIFF_STATUS_COL) != "same").select(
        *[F.col(k) for k in keys],
        F.col(DIFF_STATUS_COL),
        F.expr(f"stack({n}, {stack_args}) as (field, a_value, b_value)"),
    )
    keep = (
        ((F.col(DIFF_STATUS_COL) == "changed") & (F.col("a_value") != F.col("b_value")))
        | ((F.col(DIFF_STATUS_COL) == "deleted") & (F.col("a_value") != ""))
        | ((F.col(DIFF_STATUS_COL) == "added") & (F.col("b_value") != ""))
    )
    return long.filter(keep).select(
        *keys,
        "field",
        DIFF_STATUS_COL,
        F.when(F.col(DIFF_STATUS_COL) == "added", F.lit(""))
        .otherwise(F.col("a_value"))
        .alias("a_value"),
        F.when(F.col(DIFF_STATUS_COL) == "deleted", F.lit(""))
        .otherwise(F.col("b_value"))
        .alias("b_value"),
    )


def added_keys(a: DataFrame, b: DataFrame, key: str | list[str]) -> DataFrame:
    """Keys present only in B — the 'added' class as a real anti-join."""
    keys = _keys(key)
    return b.filter(_all_not_null(keys)).join(
        a.select(*keys).filter(_all_not_null(keys)), on=keys, how="left_anti"
    )


def deleted_keys(a: DataFrame, b: DataFrame, key: str | list[str]) -> DataFrame:
    """Keys present only in A — the 'deleted' class as a real anti-join."""
    keys = _keys(key)
    return a.filter(_all_not_null(keys)).join(
        b.select(*keys).filter(_all_not_null(keys)), on=keys, how="left_anti"
    )


def upsert(base: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """Keyed merge, updates-win (CDC upsert): rows from ``updates``
    replace base rows sharing their key; base keys absent from updates
    pass through; new keys append. The batch analog of the reference's
    Firestore ``setDoc``/batch-write document upsert
    (admin/page.tsx:296 collection writes; SURVEY §1.1 maps document
    collections to keyed tables + batch upsert).

    One anti-join on the key — when updates are a small CDC batch
    against a huge base, Catalyst broadcasts the update keys so the
    base never shuffles; equal-sized sides fall back to a shuffled
    anti-join on 8-byte keys. Multi-row keys in ``updates`` are kept
    as-is (dedup first with :func:`dedup_last_wins` if the batch may
    contain several versions of one key).
    """
    keys = _keys(key)
    survivors = base.join(updates.select(*keys), on=keys, how="left_anti")
    return updates.unionByName(survivors)


def schema_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Schema drift between two frames as a tiny DataFrame:
    (column, status in {added, removed, type_changed, same}, type_a,
    type_b). The metadata companion to the row-level :func:`diff` —
    run it first so a type change surfaces as ONE row here instead of
    a million stringified mismatches there.

    Plan-time only: schemas come from the analyzed plans, no job runs
    on either input; the result is a local frame
    (:func:`~data__converter_spark.scale.local_frame`), so collecting it
    runs no job either.
    """
    ta = {f.name: f.dataType.simpleString() for f in a.schema.fields}
    tb = {f.name: f.dataType.simpleString() for f in b.schema.fields}
    rows = []
    for name in sorted(set(ta) | set(tb)):
        in_a, in_b = name in ta, name in tb
        if in_a and not in_b:
            status = "removed"
        elif in_b and not in_a:
            status = "added"
        elif ta[name] != tb[name]:
            status = "type_changed"
        else:
            status = "same"
        rows.append((name, status, ta.get(name), tb.get(name)))
    return local_frame(
        a.sparkSession,
        rows,
        "column string, status string, type_a string, type_b string",
    )


def table_fingerprint(
    df: DataFrame,
    cols: list[str],
    group_by: str | Column,
    group_name: str = "grp",
) -> DataFrame:
    """Order-independent grouped table checksum for migration checks.

    The compare tool (compare/page.tsx:66-143) diffs two tables row by
    row — the right answer at preview scale, unpayable at 100 TB where
    a full-outer join + stringify of every row is the most expensive
    query in the book. The fingerprint answers the cheaper question
    asked first — "did anything change, and in which partition?" — with
    one aggregate and NO join, sort, or shuffle beyond a keyed agg:
    each row renders a canonical string, md5 maps it to two
    independent 32-bit lanes, and per group we emit row count plus
    both lane sums (mod 1e6+3 per row). Addition is commutative, so
    the digest ignores row order and partitioning — equal groups
    fingerprint equal; a single changed row flips both lanes with
    probability ~1-1e-12.

    The canonical form is LENGTH-PREFIXED per field (``len:value|``,
    NULL as ``-|``), not a plain join on a delimiter: with a bare
    ``|`` join, the rows ``('a|b', 'c')`` and ``('a', 'b|c')`` render
    identically and a real migration difference fingerprints clean —
    delimiter injection defeats the checker exactly where free-text
    columns live. Length prefixes make field boundaries unambiguous
    for every value, including ones containing ``|`` or ``:``.

    Residues are taken PER ROW (mod 1000003) before summing so the
    group sums stay far from bigint overflow: 10¹² rows × 10⁶ max
    residue = 10¹⁸ < 2⁶³. Drill into unequal groups with ``diff``.
    """
    g = F.col(group_by) if isinstance(group_by, str) else group_by
    return df.groupBy(g.alias(group_name)).agg(*fingerprint_exprs(cols))


def fingerprint_exprs(cols: list[str]) -> list[Column]:
    """:func:`table_fingerprint`'s three aggregate expressions
    ``(n_rows, sum_lane1, sum_lane2)`` — factored out so a caller that
    already scans the table for another action can ride the SAME pass
    via ``df.observe(Observation, *fingerprint_exprs(cols))`` instead
    of paying a second full scan (guide §1.2).  Exactly the arithmetic
    documented above; sharing the builder is what guarantees an
    observed fingerprint and a :func:`table_fingerprint` aggregate
    can never diverge."""
    tokens = []
    for c in cols:
        s = F.col(c).cast("string")
        tokens.append(
            F.coalesce(
                F.concat(
                    F.length(s).cast("string"), F.lit(":"), s, F.lit("|")
                ),
                F.lit("-|"),
            )
        )
    canon = F.concat(*tokens)
    h = F.md5(canon)
    lane1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % F.lit(1000003)
    lane2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint") % F.lit(1000003)
    return [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(lane1).cast("bigint").alias("sum_lane1"),
        F.sum(lane2).cast("bigint").alias("sum_lane2"),
    ]
