"""Distributed statistics operators: exact group quantiles, fixed-width
histograms, per-column table profiling.

These extend the reference's preview/count surface (A4 row/column
counts, `compare/page.tsx` summary counts) into the profiling toolkit a
100 TB corpus needs. All three are single-pass or single-shuffle plans
built from Column expressions — no Python in the hot path.

Cross-engine determinism rules (see workloads.py header): outputs are
BIGINT / bit-identical DOUBLE / VARCHAR only; money-like doubles travel
as exact integer cents; doubles produced by identical IEEE expressions
(literal products, raw parquet values) are bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scale import local_frame


def group_quantiles_disc(
    df: DataFrame,
    key: str,
    value: str,
    qs: list[float],
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact discrete per-group quantiles: for each quantile q, the
    value at rank ``ceil(q * n)`` (1-based) in ``value`` order.

    Discrete (picks an actual data value, no interpolation) so the
    result is engine-portable: interpolated quantiles differ across
    engines in formula and float evaluation order, rank selection
    cannot. One shuffle on the group key (window rank + count share
    it); the quantile list fans out rows only after the filter.

    At 100 TB this is the *exact* path; pair with
    ``approx_percentile`` (t-digest sketch, no window sort) when a
    bounded-error answer is enough.
    """
    order = [F.col(value)] + ([F.col(tiebreak)] if tiebreak else [])
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*order)
    ranked = df.select(
        F.col(key),
        F.col(value),
        F.row_number().over(w).alias("__rn__"),
        F.count(F.lit(1)).over(Window.partitionBy(key)).alias("__n__"),
    )
    qdf = local_frame(
        df.sparkSession, [(float(q),) for q in qs], schema="q double"
    )
    picked = ranked.join(F.broadcast(qdf)).filter(
        F.col("__rn__") == F.ceil(F.col("q") * F.col("__n__"))
    )
    return picked.select(F.col(key), "q", F.col(value).alias("val"))


def histogram_fixed_width(
    df: DataFrame, value: str, width: int
) -> DataFrame:
    """Fixed-width histogram over an integer column: one hash
    aggregation on ``value DIV width`` (exact integer arithmetic, no
    float edges). Map-side partial agg; output is #buckets rows."""
    bucket = F.expr(f"{value} DIV {int(width)}").alias("bucket")
    return (
        df.select(bucket, F.col(value))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(value).alias("lo"),
            F.max(value).alias("hi"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(int(width))).alias("bucket_start"),
            "n_rows",
            "lo",
            "hi",
        )
    )


def _canon_minmax(dtype: T.DataType, c: Column, money: bool = False) -> Column:
    """Engine-portable string form for a min/max cell.

    - timestamps -> 'yyyy-MM-dd HH:mm:ss' (second precision, the
      engine-wide printable form from schema.TIMESTAMP_FMT)
    - money doubles (caller-designated) -> exact integer cents
      (``floor(x*100+0.5)``) as a plain integer string: double->text
      formatting differs across engines (shortest-roundtrip vs
      scientific thresholds), integer text does not.
    - other double/float -> fixed ``%.6f``: portable because no IEEE
      double ties exactly at the 6th decimal (5e-7 is not dyadic), so
      HALF_UP (Java) and round-to-nearest (C) agree on every input.
      Unlike cents this preserves sub-cent magnitudes (embeddings,
      ratios) instead of collapsing them to '0'/'1'.
    - everything else -> plain string cast.
    """
    if isinstance(dtype, T.TimestampType):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        if money:
            return (
                F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("bigint").cast("string")
            )
        return F.format_string("%.6f", c.cast("double"))
    if isinstance(dtype, T.DateType):
        return F.date_format(c, "yyyy-MM-dd")
    return c.cast("string")


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    money_cols: list[str] | None = None,
) -> DataFrame:
    """Per-column profile: null count, exact distinct count, canonical
    min/max — one row per column. ``money_cols`` designates which double
    columns canonicalize as integer cents; the rest print ``%.6f`` so a
    general profiler doesn't collapse sub-cent doubles to '0'/'1'.

    Two aggregations instead of one multi-DISTINCT ``agg``: Spark plans
    N-column ``countDistinct`` as an Expand (N+1 projections of every
    row) shuffled on an (all-columns, gid) composite key — measured ~6×
    slower than this shape at sf0.1. Here:

    - counts/min/max: one narrow global aggregate — partials per
      partition, a 1-row exchange, no data shuffle.
    - distinct: melt to (col_id, value-string) pairs (full-precision
      cast, injective, engine-internal only) and two-phase aggregate;
      the shuffle carries 2 narrow columns and map-side dedup has
      already collapsed repeats.

    The final join touches #columns rows. At 100 TB swap the distinct
    leg for ``approx_count_distinct`` (HLL, no melt) when a bounded
    error is acceptable.
    """
    cols = columns or df.columns
    money = set(money_cols or [])
    aggs: list[Column] = [F.count(F.lit(1)).alias("__total__")]
    for i, name in enumerate(cols):
        c = F.col(f"`{name}`")
        # min/max on the NATIVE type (numeric order, not lexicographic);
        # canonicalized to text only after the aggregate.
        aggs += [
            F.count(c).alias(f"__nn_{i}__"),
            F.min(c).alias(f"__mn_{i}__"),
            F.max(c).alias(f"__mx_{i}__"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.lit(name).alias("column"),
                (F.col("__total__") - F.col(f"__nn_{i}__")).alias("n_nulls"),
                F.coalesce(
                    _canon_minmax(
                        df.schema[name].dataType,
                        F.col(f"__mn_{i}__"),
                        name in money,
                    ),
                    F.lit(""),
                ).alias("min_s"),
                F.coalesce(
                    _canon_minmax(
                        df.schema[name].dataType,
                        F.col(f"__mx_{i}__"),
                        name in money,
                    ),
                    F.lit(""),
                ).alias("max_s"),
            )
            for i, name in enumerate(cols)
        ]
    )
    meta = one.select(F.explode(rows).alias("p")).select("p.*")

    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cid"),
                        F.col(f"`{name}`").cast("string").alias("sval"),
                    )
                    for i, name in enumerate(cols)
                ]
            )
        ).alias("m")
    ).select("m.*")
    nd = (
        melted.filter(F.col("sval").isNotNull())
        .groupBy("cid", "sval")
        .agg(F.lit(1).alias("__one__"))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    return (
        meta.join(F.broadcast(nd), "cid", "left")
        .select(
            "column",
            "n_nulls",
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            "min_s",
            "max_s",
        )
    )


def expectations(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Data-quality expectations: for each (name, predicate) rule,
    count rows violating it — all rules evaluated in ONE scan (a single
    global aggregate of conditional counts; map-side partials, a
    one-row exchange). Output: (rule, n_rows, n_fail, fail_millis) —
    ``fail_millis`` is the failure rate in exact integer milli-units,
    engine-portable.

    The guardrail pattern for pipeline commits: run before writing,
    fail the job when a rule's violation count crosses its budget.
    Null predicate results count as FAILURES (a null check outcome is
    not a pass), matching SQL ``NOT coalesce(pred, FALSE)`` semantics.
    """
    aggs = [F.count(F.lit(1)).alias("__n__")]
    for i, (_, pred) in enumerate(rules):
        aggs.append(
            F.sum(
                F.when(F.coalesce(pred, F.lit(False)), F.lit(0)).otherwise(F.lit(1))
            ).alias(f"__f_{i}__")
        )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("__n__").alias("n_rows"),
                F.col(f"__f_{i}__").alias("n_fail"),
                F.floor(
                    F.col(f"__f_{i}__").cast("double")
                    / F.col("__n__").cast("double")
                    * F.lit(1000.0)
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("fail_millis"),
            )
            for i, (name, _) in enumerate(rules)
        ]
    )
    return one.select(F.explode(rows).alias("e")).select("e.*")


def robust_outliers(
    df: DataFrame,
    key: str,
    value: str,
    id_col: str,
    k_permille: int = 3000,
) -> DataFrame:
    """Median/MAD robust outlier flags per group — the data-quality
    sweep that survives the outliers it hunts (mean/stddev do not:
    one 10⁶× point drags the mean past everything else).

    Both the group median and the MAD (median absolute deviation) are
    DISCRETE rank selections (value at rank ``ceil(n/2)``, ties by
    ``id_col``) — actual data values, no interpolation, so any engine
    agrees exactly.  With an integer ``value`` the outlier test is
    pure integer cross-multiplication::

        is_outlier  <=>  |x - med| * 1000  >  k_permille * MAD

    (k_permille=3000 ≈ the classic "3 MADs out").  Degenerate groups
    where MAD = 0 (over half the values identical) flag every
    non-median value — documented, and exactly what the oracle
    computes too.

    Scale shape: two windowed rank selections on the SAME group key
    (one shuffle each; AQE reuses the first exchange for the join
    back), then a narrow flag projection.  Group medians never leave
    the executors.

    Output: (``id_col``, ``key``, v, med, mad, is_outlier) for every
    row — the value column comes back under the canonical name ``v``
    (bigint-cast), which is also what the oracle schema pins.
    """
    from pyspark.sql import Window

    w_n = Window.partitionBy(key)
    w1 = Window.partitionBy(key).orderBy(value, id_col)
    ranked = df.select(
        F.col(id_col),
        F.col(key),
        F.col(value).cast("bigint").alias("v"),
        F.row_number().over(w1).alias("__rn__"),
        F.count(F.lit(1)).over(w_n).alias("__n__"),
    )
    med = (
        ranked.filter(F.col("__rn__") == F.ceil(F.col("__n__") / 2))
        .select(F.col(key), F.col("v").alias("med"))
    )
    devd = ranked.select(id_col, key, "v").join(med, key).withColumn(
        "dev", F.abs(F.col("v") - F.col("med"))
    )
    w2 = Window.partitionBy(key).orderBy("dev", id_col)
    dev_ranked = devd.select(
        id_col,
        key,
        "v",
        "med",
        "dev",
        F.row_number().over(w2).alias("__rn__"),
        F.count(F.lit(1)).over(w_n).alias("__n__"),
    )
    mad = (
        dev_ranked.filter(F.col("__rn__") == F.ceil(F.col("__n__") / 2))
        .select(F.col(key), F.col("dev").alias("mad"))
    )
    return (
        devd.join(mad, key)
        .select(
            id_col,
            key,
            "v",
            "med",
            "mad",
            (F.col("dev") * 1000 > F.lit(int(k_permille)) * F.col("mad")).alias(
                "is_outlier"
            ),
        )
    )


def weighted_sample(
    df: DataFrame,
    group: str,
    id_col: str,
    weight: Column,
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group, via the
    Efraimidis-Spirakis A-ES order statistic: each row draws a
    deterministic uniform u from the first 60 bits of md5(id) and is
    ranked by ln(u)/w (monotone with the classic u^(1/w) key — larger
    is better); the k best per group win.  Inclusion probability is
    proportional to ``weight`` without ever materializing per-group
    totals, and — unlike ``rand()``-based sampling — membership is
    stable under retries, speculation, and re-runs because u is a pure
    function of the row id.

    Plan shape: one narrow projection (md5 + ln stay JVM-side) and one
    keyed window rank — a single hash exchange on ``group``; at scale
    the rank never sees more than its own group.  ``weight`` must be
    strictly positive (clamp upstream).  Ties (measure-zero for
    continuous u) break on id for total ordering.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(float(1 << 60))
    )
    key = F.log(u) / weight
    from pyspark.sql import Window

    w = Window.partitionBy(group).orderBy(
        F.desc("__aes_key__"), F.col(id_col).asc()
    )
    return (
        df.withColumn("__aes_key__", key)
        .withColumn("__rank__", F.row_number().over(w))
        .filter(F.col("__rank__") <= k)
        .drop("__aes_key__")
        .withColumnRenamed("__rank__", "sample_rank")
    )


def rfm_scores(
    orders: DataFrame,
    customer_col: str,
    group_col: str,
    date_col: str,
    amount_cents_col: str,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    per-group quintiles: one aggregate pass folds each customer's
    order history into (last_order, n_orders, cents), then three
    ``ntile`` windows — ALL partitioned by ``group_col`` (nation,
    region, market segment), never a global ordering — grade each
    dimension 1..n (1 = best: most recent, most frequent, highest
    spend).  ``rfm_code`` packs the three digits (r*100 + f*10 + m)
    into the classic segment label.

    Every window carries a full deterministic tiebreak (metric,
    customer id), which is what makes ntile — a pure function of row
    order and partition size — bit-identical on any engine.

    Scale shape: one keyed aggregate on the customer key, then three
    windows sharing the SAME group-key exchange (Spark plans one
    Exchange + three sorts).  Partition width = customers per group;
    a global RFM would be a SinglePartition sort, which is exactly
    what the per-group form avoids at 100 TB — segment within a
    business dimension, not across the universe.
    """
    from pyspark.sql import Window

    base = orders.groupBy(
        F.col(customer_col).alias("cust"), F.col(group_col).alias("grp")
    ).agg(
        F.max(date_col).alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(amount_cents_col).cast("bigint").alias("cents"),
    )
    w_r = Window.partitionBy("grp").orderBy(F.desc("last_order"), F.asc("cust"))
    w_f = Window.partitionBy("grp").orderBy(F.desc("n_orders"), F.asc("cust"))
    w_m = Window.partitionBy("grp").orderBy(F.desc("cents"), F.asc("cust"))
    n = int(n_tiles)
    return base.select(
        "cust",
        "grp",
        "last_order",
        "n_orders",
        "cents",
        F.ntile(n).over(w_r).alias("r_score"),
        F.ntile(n).over(w_f).alias("f_score"),
        F.ntile(n).over(w_m).alias("m_score"),
    ).withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int"),
    )


def assoc_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Market-basket association mining over (basket, item) rows: pair
    support, directional confidence, and lift for every item pair that
    co-occurs in >= ``min_pair_count`` baskets — the A-priori pair
    pass, the co-occurrence statistic a training-data pipeline reuses
    for tag/domain affinity ("documents labeled X are usually also Y").

    All three ratios ship as exact integer milli-units computed by
    cross-multiplication on BIGINT counts (``1000 * co div cnt``), so
    any engine agrees exactly — no double division anywhere:

    - ``conf_ab_milli`` = P(b | a) * 1000  (floored)
    - ``conf_ba_milli`` = P(a | b) * 1000
    - ``lift_milli``    = P(ab) / (P(a)P(b)) * 1000
                        = 1000 * co * n_baskets div (cnt_a * cnt_b)

    Scale shape: the pair generation is a self-join keyed on the
    basket id, so its cost is Σ |basket|² — bounded when baskets are
    (order line counts, doc tag sets), and the place to cap when they
    are not: ``max_basket_size`` DROPS baskets with more than that
    many distinct items BEFORE the self-join — the same quadratic
    guard as ``graph.link_predict``'s ``max_middle_degree`` (a single
    viral basket of 10⁶ items would otherwise contribute 10¹² pair
    rows).  The cap removes the basket from the ENTIRE computation —
    co-counts, item marginals, and the basket total — so every ratio
    stays internally consistent over the capped universe (a
    half-dropped basket would make confidence exceed 1000‰).  Item
    marginals are a separate slim aggregate joined back on the item
    key; the basket total is a 1-row broadcast (hinted, so AQE can
    never demote the scalar to a shuffle).
    """
    b = baskets.select(
        F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
    ).distinct()
    if max_basket_size is not None:
        if max_basket_size < 2:
            raise ValueError(
                f"max_basket_size must be >= 2, got {max_basket_size}"
            )
        sized = b.groupBy("bk").agg(F.count(F.lit(1)).alias("bk_n"))
        b = (
            b.join(sized.filter(F.col("bk_n") <= int(max_basket_size)), "bk")
            .select("bk", "it")
        )
    n_baskets = b.agg(
        F.countDistinct("bk").cast("bigint").alias("n_baskets")
    )
    item_cnt = b.groupBy("it").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    lhs = b.select("bk", F.col("it").alias("item_a"))
    rhs = b.select("bk", F.col("it").alias("item_b"))
    co = (
        lhs.join(rhs, "bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= int(min_pair_count))
    )
    ca = item_cnt.select(F.col("it").alias("item_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("it").alias("item_b"), F.col("cnt").alias("cnt_b"))
    return (
        co.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "co",
            "cnt_a",
            "cnt_b",
            # `div` = exact BIGINT division (no double round-trip, so
            # no ulp drift against the oracle's `//`)
            F.expr("co * 1000 div cnt_a").cast("bigint").alias("conf_ab_milli"),
            F.expr("co * 1000 div cnt_b").cast("bigint").alias("conf_ba_milli"),
            F.expr("co * 1000 * n_baskets div (cnt_a * cnt_b)")
            .cast("bigint")
            .alias("lift_milli"),
        )
    )


def histogram_drift(
    a: DataFrame, b: DataFrame, value: str, width: int
) -> DataFrame:
    """Distribution drift between two slices of the same column — the
    guard a training pipeline runs before mixing a new crawl into the
    corpus, or a warehouse runs between yesterday's and today's load.
    Both slices histogram on the same fixed-width integer grid
    (``value DIV width``, exact — see :func:`histogram_fixed_width`),
    buckets full-outer-join (a band present in only one slice counts
    as 0 in the other), and each band reports both milli-proportions
    plus their absolute difference — all BIGINT cross-multiplication
    (``1000 * n div total``), so the per-band drift and the total
    variation distance (``sum(diff_milli) div 2``, computed by the
    caller) are bit-identical on any engine.

    Scale shape: two map-side-combining aggregates (one per slice,
    each over its own scan with the slice predicate pushed down), a
    bucket-count-sized full-outer join, and two 1-row totals broadcast
    — nothing row-scale ever joins or shuffles.
    """
    ha = (
        a.select(F.expr(f"{value} DIV {int(width)}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    )
    hb = (
        b.select(F.expr(f"{value} DIV {int(width)}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    )
    ta = a.agg(F.count(F.lit(1)).cast("bigint").alias("total_a"))
    tb = b.agg(F.count(F.lit(1)).cast("bigint").alias("total_b"))
    return (
        ha.join(hb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.expr("n_a * 1000 div total_a").cast("bigint").alias("milli_a"),
            F.expr("n_b * 1000 div total_b").cast("bigint").alias("milli_b"),
            F.abs(
                F.expr("n_a * 1000 div total_a")
                - F.expr("n_b * 1000 div total_b")
            )
            .cast("bigint")
            .alias("diff_milli"),
        )
    )


# Benford's-law expected first-digit shares, in exact milli units:
# round(1000 * log10(1 + 1/d)) for d = 1..9. Pinned as integer
# constants so both engines compare against the identical expectation
# (no cross-engine log10 ulp drift).
BENFORD_MILLI = [301, 176, 125, 97, 79, 67, 58, 51, 46]


def benford_profile(df: DataFrame, col: str | Column) -> DataFrame:
    """First-significant-digit distribution vs Benford's law.

    The classic fraud/corruption screen for 'organic' numeric columns
    (amounts, populations, file sizes): naturally-grown magnitudes
    follow P(d) = log10(1 + 1/d); fabricated or truncated data doesn't.
    ``col`` must be a positive integer column (exact cents, counts —
    the first significant digit is scale-invariant under powers of 10,
    so cents and dollars profile identically).

    Output: 9 rows (digit 1-9) with ``n``, ``obs_milli`` (exact
    ``n*1000 // total``), the pinned ``exp_milli`` expectation, and
    ``dev_milli = |obs - exp|``; ``sum(dev_milli)`` over the output is
    the profile's total-variation-style deviation score.

    Scale: one hash aggregate to 9 rows (map-side combine does ~all the
    work), then a 1-row broadcast total — no sort, no window, no
    Python. The 9-row aggregate is persisted so the total branch reads
    the cache instead of re-scanning the data. The digit comes from
    the decimal rendering of the integer (substring of the cast),
    which whole-stage codegen keeps JVM-side.
    """
    from .scale import persisted

    c = F.col(col) if isinstance(col, str) else col
    digit = F.substring(c.cast("bigint").cast("string"), 1, 1).cast("int")
    per = persisted(
        df.filter(c > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    total = per.agg(F.sum("n").cast("bigint").alias("__total__"))
    exp = F.element_at(
        F.array(*[F.lit(v) for v in BENFORD_MILLI]), F.col("digit")
    ).cast("bigint")
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("n * 1000 div __total__").cast("bigint").alias("obs_milli"),
            exp.alias("exp_milli"),
        )
        .withColumn(
            "dev_milli", F.abs(F.col("obs_milli") - F.col("exp_milli")).cast("bigint")
        )
    )


def contingency_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Observed-vs-expected contingency screen for two categoricals.

    The independence question ("does order priority depend on market
    segment?") asked cell by cell in exact integer milli units:
    observed cell share ``obs_milli = n*1000 div total`` against the
    independence expectation ``exp_milli = row_total*col_total*1000
    div total²`` (cross-multiplied on BIGINTs — no floating chi²
    term crosses engines), plus ``dev_milli = |obs - exp|``;
    ``sum(dev_milli) div 2`` over the output is the total-variation
    distance between the joint and the product of marginals — 0 iff
    independent at milli resolution.

    Scale: one hash aggregate to the |A|x|B| cell grid — persisted,
    because marginals and the total re-aggregate FROM THE GRID (cells,
    not rows) across three plan branches; without the cache each
    branch would re-scan the data. Overflow-safe
    while row_total*col_total*1000 < 2^63 — i.e. up to ~10^8 rows per
    marginal pair; past that, pre-scale both marginals by 1000.
    """
    from .scale import persisted

    cells = persisted(
        df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    row_m = cells.groupBy("a").agg(F.sum("n").cast("bigint").alias("row_total"))
    col_m = cells.groupBy("b").agg(F.sum("n").cast("bigint").alias("col_total"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        cells.join(F.broadcast(row_m), "a")
        .join(F.broadcast(col_m), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n",
            F.expr("n * 1000 div total").cast("bigint").alias("obs_milli"),
            F.expr("row_total * col_total * 1000 div (total * total)")
            .cast("bigint")
            .alias("exp_milli"),
        )
        .withColumn(
            "dev_milli",
            F.abs(F.col("obs_milli") - F.col("exp_milli")).cast("bigint"),
        )
    )


def fk_orphans(
    fact: DataFrame,
    fk_cols: dict[str, tuple[DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit: orphan foreign keys per relation.

    For each ``fact_col -> (dim_df, dim_key)`` pair, count fact rows
    whose key has no match in the dimension (NULL keys counted
    separately — a NULL FK is a different defect than a dangling one).
    The first gate a lakehouse quality suite runs after ingest,
    answered with LEFT ANTI joins — no row ever ships wider than its
    key column.

    Output: one row per checked relation with ``n_rows``, ``n_null``,
    ``n_orphan``, and ``orphan_milli`` (exact ``n_orphan*1000 div
    n_rows``).  Degenerate-input contract: an EMPTY fact table reports
    ``orphan_milli = 0`` (vacuously no orphans — the guard below, so
    audit consumers thresholding the column never see NULL), never a
    NULL from the 0-row division.

    Scale: each relation is ONE pass — key projection, LEFT join
    against the dimension's distinct-key projection carrying a hit
    marker, and one conditional aggregate folding all three counts
    (total / NULL / dangling) — never three branches re-scanning the
    fact. The dimension side broadcasts when small (the usual dim
    case) and shuffles otherwise. Relations are independent branches
    of one union and parallelize as separate stages of the same job.
    """
    if not fk_cols:
        raise ValueError(
            "fk_orphans needs at least one fk -> (dim, key) relation"
        )
    reports = []
    for fk, (dim, dim_key) in fk_cols.items():
        keys = fact.select(F.col(fk).alias("__k__"))
        dim_keys = (
            dim.select(F.col(dim_key).alias("__k__"))
            .distinct()
            .withColumn("__hit__", F.lit(1))
        )
        joined = keys.join(dim_keys, "__k__", "left")
        # coalesce(sum, 0): SUM over zero rows is NULL — an empty fact
        # must report hard zeros, per the degenerate-input contract.
        counts = joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(
                F.sum(F.col("__k__").isNull().cast("bigint")), F.lit(0)
            )
            .cast("bigint")
            .alias("n_null"),
            F.coalesce(
                F.sum(
                    (
                        F.col("__k__").isNotNull() & F.col("__hit__").isNull()
                    ).cast("bigint")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_orphan"),
        )
        reports.append(
            counts.select(
                F.lit(fk).alias("relation"),
                "n_rows",
                "n_null",
                "n_orphan",
                F.expr(
                    "CASE WHEN n_rows = 0 THEN 0"
                    " ELSE n_orphan * 1000 div n_rows END"
                )
                .cast("bigint")
                .alias("orphan_milli"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def group_diversity(
    df: DataFrame, group: str, label: str
) -> DataFrame:
    """Per-group categorical diversity: exact integer Gini impurity
    and inverse-Simpson 'effective number of classes'.

    ``gini_micro = 1e6 - Σ n_i²·1e6 div N²`` (0 = one class, →1e6 =
    uniform over many) and ``inv_simpson_milli = N²·1000 div Σ n_i²``
    (1000 = one class; k·1000 = k perfectly balanced classes). Both
    are rational in the counts, so cross-multiplied BIGINTs keep them
    bit-identical across engines — the reason these two replace
    Shannon entropy here (log has no exact integer form).

    The class-balance question a training pipeline asks per slice
    ("is this nation's segment mix degenerate?") and monitoring asks
    over time. Scale: one hash aggregate to (group, label) cells, one
    re-aggregate from cells to groups — data scanned once, both
    aggregates map-side combining. Overflow-safe while N²·1e6 < 2⁶³
    (N ≤ ~3·10⁶ rows per group); pre-scale counts past that.
    """
    cells = df.groupBy(
        F.col(group).alias("grp"), F.col(label).alias("lbl")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per = cells.groupBy("grp").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sum_sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
    )
    return per.select(
        "grp",
        "n_rows",
        "n_classes",
        F.expr("1000000 - sum_sq * 1000000 div (n_rows * n_rows)")
        .cast("bigint")
        .alias("gini_micro"),
        F.expr("n_rows * n_rows * 1000 div sum_sq")
        .cast("bigint")
        .alias("inv_simpson_milli"),
    )


def binary_auc(
    df: DataFrame, score_col: str, label_col: str | Column
) -> DataFrame:
    """Exact ROC-AUC of an integer score against a binary label —
    the Mann-Whitney U statistic in pure BIGINT arithmetic.

    AUC = P(score_pos > score_neg) + ½·P(tie). Computed WITHOUT a
    per-row rank: rows collapse to (score, n_pos, n_neg) cells first,
    then over the score-ordered CELL table ``2U = Σ_s n_pos(s) ·
    (2·cum_neg_below(s) + n_neg(s))`` and ``auc_micro = 1e6·2U div
    (2·P·N)`` — ties handled exactly by the ``+ n_neg(s)`` term, no
    0.5 ever materializing. The ordered scan runs over DISTINCT SCORE
    cells (milli-scale scores → thousands of rows at any data size),
    the same metadata-scale single-partition window as the compaction
    planner — data rows never enter it.

    Output: one row (n_pos, n_neg, auc_micro). 500000 = random,
    1000000 = perfect separation. Exact while 2·P·N·1e6 < 2⁶³
    (P·N ≲ 4.6·10¹²); past that, compute per stratum and average, or
    subsample — the eval question rarely needs more.

    Degenerate-input contract: when the labels are single-class
    (``n_pos·n_neg = 0``) ROC-AUC is mathematically undefined, and
    the result row carries ``auc_micro = NULL`` DELIBERATELY — the
    returned n_pos/n_neg make the cause inspectable, and a NULL
    propagates through downstream threshold comparisons as "no
    verdict" rather than masquerading as 0 or 500000.  Callers who
    need a hard failure should assert ``n_pos > 0 AND n_neg > 0``.
    """
    from pyspark.sql import Window

    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    pos = lbl.cast("bigint")
    cells = df.groupBy(F.col(score_col).alias("s")).agg(
        F.sum(pos).cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - pos).cast("bigint").alias("n_neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = cells.withColumn(
        "__cum_neg__", F.coalesce(F.sum("n_neg").over(w), F.lit(0))
    )
    return ranked.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (F.lit(2) * F.col("__cum_neg__") + F.col("n_neg"))
        )
        .cast("bigint")
        .alias("__two_u__"),
    ).select(
        "n_pos",
        "n_neg",
        # explicit CASE, not a bare division: under ANSI mode a
        # single-class input (P·N = 0) would RAISE on divide-by-zero
        # instead of honoring the documented-NULL contract.
        F.expr(
            "CASE WHEN n_pos * n_neg = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE __two_u__ * 1000000 div (2 * n_pos * n_neg) END"
        )
        .cast("bigint")
        .alias("auc_micro"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str | Column,
    band_width: int,
) -> DataFrame:
    """Reliability diagram in exact integers: fixed-width score bands
    (``band = score div band_width`` — fixed, not quantile, so the
    binning is engine-identical), each reporting its row count,
    positive share (milli) and mean score (floor div) — 'when the
    model says 0.8, is it right 80% of the time?'. One map-side-
    combining hash aggregate; pair with :func:`binary_auc` for the
    ranking view of the same score."""
    lbl = F.col(label_col) if isinstance(label_col, str) else label_col
    pos = lbl.cast("bigint")
    band = F.expr(f"{score_col} div {int(band_width)}")
    return (
        df.groupBy(band.cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(pos).cast("bigint").alias("n_pos"),
            F.sum(F.col(score_col)).cast("bigint").alias("__ssum__"),
        )
        .select(
            "band",
            "n",
            "n_pos",
            F.expr("n_pos * 1000 div n").cast("bigint").alias("pos_milli"),
            F.expr("__ssum__ div n").cast("bigint").alias("mean_score"),
        )
    )
