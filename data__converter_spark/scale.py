"""Scale utilities: bucketing, salting, two-phase aggregation.

The engine's operators lean on Catalyst + AQE for most physical
decisions (broadcast selection, partition coalescing, skew-join
splitting — session.py turns them all on). This module covers the two
knobs that need cooperation from the data layout or the query author:

- **Bucketing** (:func:`write_bucketed`): pre-shuffle a fact table once
  at write time; every later equi-join/aggregation on the bucket key
  reads co-located buckets and skips its Exchange entirely. At 100 TB
  this converts the recurring join shuffle into a one-time write cost.
  (Verified by plan assertion in tests: no Exchange above the scans.)

- **Salting** (:func:`salted_join`, :func:`salted_agg`): when one key
  dominates (power-law user ids, null-ish defaults), a plain shuffle
  sends the hot key to one task. Salting fans the hot rows across
  ``n_salts`` sub-keys; the dimension side replicates per salt (join)
  or a second reduce merges partials (agg). AQE's skew-join handles
  the join case adaptively at runtime; explicit salting is for the
  aggregation case and for engines/readers where AQE is off.

- **Materialization** (:func:`persisted`, :func:`pinned`,
  :func:`release`): the only place a frame is cached or checkpointed,
  so every held block is registered and can be freed.
"""

from __future__ import annotations

import os
import threading as _threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import commit


#: The one registry of held frames: every frame (or RDD) cached by
#: :func:`persisted` or checkpointed by :func:`pinned`, keyed by
#: ``id()`` (the entry holds the handle, so no id is reused while
#: registered) with a flag marking the pinned ones.  Long-lived
#: sessions (notebooks, services) call :func:`release_persisted`
#: between jobs; otherwise the blocks accumulate until session end.
_HELD: dict = {}
_HELD_LOCK = _threading.Lock()


def _hold(frame, is_pinned: bool):
    with _HELD_LOCK:
        _HELD[id(frame)] = (frame, is_pinned)
    return frame


def persisted(df):
    """Engine-wide spill policy for a frame (or RDD) that feeds
    multiple plan branches: MEMORY_AND_DISK — recomputation is the
    thing being avoided, so spill rather than evict at scale.  Lineage
    is kept, so a lost or released block is recomputed.

    The handle is registered so :func:`release` (one frame, as soon as
    its consumers are done) or :func:`release_persisted` (every held
    frame, after a job's final action) frees the cache blocks.
    """
    from pyspark import StorageLevel

    return _hold(df.persist(StorageLevel.MEMORY_AND_DISK), False)


def pinned(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and CUT its lineage — for a frame several
    consumers reference, where each lineage reference would otherwise
    re-embed (and under AQE re-execute) the whole upstream subtree, and
    for an iterating frame whose plan would otherwise grow every round.

    Failure-tolerance trade: the default ``localCheckpoint`` stores
    blocks on executors ONLY, so on a real cluster an executor loss
    fails the job unrecoverably (lineage is gone, nothing can
    recompute), unlike :func:`persisted` (recompute) or a reliable
    checkpoint (replicated storage).  Escape hatch for clusters where
    executor loss is routine: set a reliable checkpoint dir
    (``spark.sparkContext.setCheckpointDir``) and every pinned frame
    checkpoints to fault-tolerant storage instead — same values, same
    lineage cut, durable blocks.

    ``eager=False`` fuses the materialization into the frame's first
    action — safe only when that action scans every partition; a
    partial first action (e.g. ``limit(1)``) needs the eager default.
    The frame is registered like a persisted one; once released it
    cannot be recomputed, so release it only after its last use.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return _hold(df.checkpoint(eager=eager), True)
    return _hold(df.localCheckpoint(eager=eager), True)


def _free(frame, is_pinned: bool) -> None:
    try:
        if is_pinned:
            # DataFrame.unpersist() asks the CacheManager, which never
            # saw a checkpoint: the blocks belong to the RDD under the
            # frame's LogicalRDD
            frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            frame.unpersist()
    except Exception:
        pass  # session already stopped — nothing to free


def release(*frames) -> None:
    """Free the named held frames now and drop them from the registry
    — for a frame whose last consumer has run while the caller goes on
    (a loop's previous round, one call's intermediates).  Frames not
    in the registry are ignored."""
    for frame in frames:
        with _HELD_LOCK:
            entry = _HELD.pop(id(frame), None)
        if entry is not None:
            _free(*entry)


def release_persisted() -> int:
    """Free every held frame, persisted and pinned, and empty the
    registry.  Call after the final action of a job: a released
    persisted frame recomputes from its lineage, but a released pinned
    frame has none and fails when next used.  Returns the number of
    handles released."""
    with _HELD_LOCK:
        held = list(_HELD.values())
        _HELD.clear()
    for entry in held:
        _free(*entry)
    return len(held)


def run_jobs(*thunks, max_workers: int | None = None) -> list:
    """Run INDEPENDENT Spark actions concurrently from driver threads —
    the standard overlap for a sequence of small jobs whose tails leave
    the cluster idle (each lifecycle write here is a sub-second job on
    a 32-slot scheduler; running them back-to-back pays the scheduling
    floor N times in a row, running them overlapped pays it once per
    concurrent slot).  Spark's scheduler runs jobs from multiple driver
    threads FIFO, back-filling executors freed by one job's tail with
    the next job's tasks.

    Callers must guarantee independence themselves: no thunk may read a
    table another thunk mutates (the lifecycle operators group their
    writes into dependency-respecting waves).

    Error contract (ADVICE r14, pinned): thunks are NOT cancelled on a
    peer's failure — every thunk runs to completion (each is an
    in-flight Spark action; abandoning it mid-write is worse than
    letting it land), and the re-raised error is the first in
    SUBMISSION order, not the first temporally.  A failed wave
    therefore mutates every table its thunks touch, exactly as if the
    failures were independent; callers needing
    minimal-mutation-on-error must sequence instead.

    Each thunk runs under the caller's Spark job group, local
    properties and session tags
    (``pyspark.util.inheritable_thread_target``), so the jobs it submits
    are attributed to the caller.  Results return in thunk order.

    The pool holds ``max_workers`` threads, by default one per thunk up
    to the host's CPU count — one thunk per OPTIMIZE bin must not mean
    one driver thread per bin.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext
    from pyspark.util import inheritable_thread_target

    session = (
        SparkSession.active() if SparkContext._active_spark_context is not None else None
    )

    def _inherit(t):
        # Wrapped here, in the caller's thread: each thunk gets its own
        # copy of the caller's local properties, so a thunk's SQL
        # execution id never leaks into a sibling's.
        return inheritable_thread_target(session)(t) if session else t

    workers = max_workers or min(len(thunks), os.cpu_count() or 1)
    with ThreadPoolExecutor(workers) as pool:
        futures = [pool.submit(_inherit(t)) for t in thunks]
        return [f.result() for f in futures]


def local_frame(spark, rows, schema: T.StructType | str) -> DataFrame:
    """Frame over rows the driver already holds: a list of row tuples
    (positional against ``schema``, a StructType or DDL string), or a
    ``pyarrow.Table`` built column-wise.

    The rows travel as one Arrow table, which Spark turns into a local
    relation in the JVM: collecting, counting or broadcasting the frame
    submits no job and no Python worker ever runs, where a list-based
    ``createDataFrame`` plans a PythonRDD that costs a job (and a
    worker) every time the frame is consumed.  The one
    ``createDataFrame`` call in the package lives here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) or [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(list(c), f.type) for c, f in zip(cols, arrow)],
            schema=arrow,
        )
    return spark.createDataFrame(rows, schema)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 32,
    sort_by: str | list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+optionally sorted) catalog table.

    Joins/aggregations between tables bucketed the same way on the same
    key plan without an Exchange (and without a Sort when sorted).
    """
    keys = [key] if isinstance(key, str) else key
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else sort_by
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table)


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (-1 = broadcasting disabled). Accepts the bare-number and size-suffix
    forms Spark itself accepts ('10485760', '10MB', '10m', '-1')."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    for suffix in ("kb", "mb", "gb", "tb", "k", "m", "g", "t", "b"):
        if raw.endswith(suffix):
            return int(float(raw[: -len(suffix)]) * units[suffix[0]])
    return int(raw)


def maybe_broadcast(df: DataFrame, threshold_bytes: int | None = None) -> DataFrame:
    """Size-gated broadcast hint for dimensions that GROW with the data.

    A bare ``F.broadcast(dim)`` is a scale bug when ``dim`` scales with
    the corpus (TPC-H customer/supplier/part at 100 TB are GBs–TBs): the
    hint bypasses AQE's size check, so instead of degrading to a
    sort-merge join the plan hard-fails at the 8 GB broadcast ceiling /
    driver OOM. This helper asks Catalyst for its own plan-time size
    estimate (``optimizedPlan().stats().sizeInBytes`` — statistics only,
    no action, no extra scan) and applies the hint only when the
    estimate fits under ``threshold_bytes`` (default: the session's
    ``autoBroadcastJoinThreshold``, so ``-1`` — broadcasting disabled —
    never hints). Over the threshold the frame is returned unhinted and
    the planner/AQE picks SMJ or shuffled-hash.

    Constant-size dims (nation = 25 rows, region = 5 forever) should
    keep their unconditional ``F.broadcast`` — this gate is for
    SF-scaled relations only.
    """
    spark = df.sparkSession
    if threshold_bytes is None:
        try:
            threshold_bytes = _broadcast_threshold_bytes(spark)
        except Exception:
            threshold_bytes = 10 << 20
    if threshold_bytes < 0:
        return df
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df  # size unknown: never force a broadcast blindly
    return F.broadcast(df) if est <= threshold_bytes else df


def fan_out(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a too-narrow frame before a CPU-heavy
    Arrow kernel. A small parquet file scans as ONE partition, so a
    downstream kernel runs single-task no matter how many cores exist;
    at real scale the scan already has >= core-count splits and this
    is a plan-time no-op (returns ``df`` unchanged when it is already
    at least ``parts`` wide — no shuffle is added)."""
    target = parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salt_col(n_salts: int, *cols: str, seed: int = 42) -> Column:
    """Deterministic salt in [0, n_salts) from row content (stable
    across retries, unlike rand())."""
    basis = [F.col(c) for c in cols] if cols else [F.lit(1)]
    return F.pmod(F.xxhash64(*basis, F.lit(seed)), F.lit(n_salts)).cast("int")


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Equi-join immune to hot keys: the large side salts each row into
    one of ``n_salts`` sub-partitions, the small side replicates every
    row n_salts times, and the join runs on (key, salt). Result equals
    the plain join exactly; shuffle load for a hot key spreads over
    n_salts tasks at the cost of replicating the small side.
    """
    salt_basis = salt_on or [c for c in large.columns if c != key]
    salted_large = large.withColumn("__salt__", salt_col(n_salts, *salt_basis))
    salted_small = small.withColumn(
        "__salt__",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    out = salted_large.join(salted_small, [key, "__salt__"], how)
    return out.drop("__salt__")


def salted_agg(
    df: DataFrame,
    key: str | list[str],
    aggs: dict[str, str],
    n_salts: int = 8,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: partial aggregate on
    (key, salt), then final merge on key. Supports the decomposable
    aggregates (count/sum/min/max). Equivalent to a direct groupBy —
    Spark's hash aggregate already does map-side partials, so this
    matters when the *reduce* side of one key exceeds a task (extreme
    skew) or partial pushdown is defeated (e.g. high-cardinality
    distinct upstream).

    ``aggs``: {column: 'count'|'sum'|'min'|'max'} -> output column
    ``{fn}_{column}``.
    """
    keys = [key] if isinstance(key, str) else key
    salted = df.withColumn(
        "__salt__", salt_col(n_salts, *[c for c in df.columns if c not in keys])
    )
    partial_exprs = []
    final_exprs = []
    for col_name, fn in aggs.items():
        out_name = f"{fn}_{col_name}"
        if fn == "count":
            partial_exprs.append(F.count(col_name).alias(out_name))
            final_exprs.append(F.sum(out_name).alias(out_name))
        elif fn == "sum":
            partial_exprs.append(F.sum(col_name).alias(out_name))
            final_exprs.append(F.sum(out_name).alias(out_name))
        elif fn == "min":
            partial_exprs.append(F.min(col_name).alias(out_name))
            final_exprs.append(F.min(out_name).alias(out_name))
        elif fn == "max":
            partial_exprs.append(F.max(col_name).alias(out_name))
            final_exprs.append(F.max(out_name).alias(out_name))
        else:
            raise ValueError(f"non-decomposable aggregate {fn!r}")
    partial = salted.groupBy(*keys, "__salt__").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_mb: int = 128,
    partition_by: str | list[str] | None = None,
) -> int:
    """Rewrite a small-file parquet directory into ~``target_mb`` files.

    The operational fix for the small-files problem a streaming or
    per-task writer leaves behind: at 100 TB, a table of 4 KB files
    costs more in driver listing + task scheduling than in I/O. File
    count comes from the real on-disk byte size (Hadoop FileSystem
    listing — works for any supported scheme, not just file://);
    round-robin ``repartition(n)`` rebalances regardless of input skew.
    With ``partition_by``, output is hive-partitioned and repartitioned
    by those keys so each partition writes few large files.

    Returns the number of output files requested.
    """
    fs, P = commit.filesystem(spark, in_path)
    total_bytes = fs.getContentSummary(P(in_path)).getLength()
    n = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))

    df = spark.read.parquet(in_path)
    if partition_by:
        keys = [partition_by] if isinstance(partition_by, str) else partition_by
        (
            df.repartition(int(n), *[F.col(k) for k in keys])
            .write.mode("overwrite")
            .partitionBy(*keys)
            .parquet(out_path)
        )
    else:
        df.repartition(int(n)).write.mode("overwrite").parquet(out_path)
    return int(n)


def zonemap_stats(
    df: DataFrame, shard_col: str, stat_cols: list[str]
) -> DataFrame:
    """Per-shard zone map: (shard, n_rows, min_<c>, max_<c> per stat
    column) — the file-footer min/max statistics a lakehouse keeps per
    parquet file / Delta add-file, materialized as a table.  One
    map-side-combining aggregate; the stats table is shard-count-sized
    (KBs at 100 TB), built once at ingest and reused by every
    predicate thereafter.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.col(shard_col).alias("shard")).agg(*aggs)


def zonemap_prune(
    df: DataFrame,
    stats: DataFrame,
    shard_col: str,
    ranges: dict[str, tuple],
) -> tuple[DataFrame, DataFrame]:
    """Data-skipping scan: drop whole shards whose zone map proves no
    row can satisfy the conjunctive range predicate ``{col: (lo, hi)}``
    (either bound may be None for half-open).

    A shard survives iff every range OVERLAPS its [min, max] envelope —
    the conservative test (NULL-stat shards survive too), so pruning
    never changes results; the exact row filter is still applied after
    the skip, exactly like parquet row-group pruning followed by the
    residual filter.  Survivor ids broadcast into a left-semi join —
    the scan side never shuffles — and the same range predicate is
    pushed into the scan, so at 100 TB the executors open only
    surviving files AND skip row groups within them.

    Returns (pruned_scan, survivors) — survivors is the shard-id frame
    so callers can report the skip ratio.
    """
    keep = F.lit(True)
    residual = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            mx = F.col(f"max_{c}")
            keep = keep & (mx.isNull() | (mx >= F.lit(lo)))
            residual = residual & (F.col(c) >= F.lit(lo))
        if hi is not None:
            mn = F.col(f"min_{c}")
            keep = keep & (mn.isNull() | (mn <= F.lit(hi)))
            residual = residual & (F.col(c) <= F.lit(hi))
    survivors = stats.filter(keep).select("shard")
    # internal rename so a caller whose shard_col is literally "shard"
    # (the common case) doesn't hit an ambiguous self-reference
    surv_keyed = survivors.select(F.col("shard").alias("__zm_shard__"))
    pruned = df.join(
        F.broadcast(surv_keyed),
        F.col(shard_col) == F.col("__zm_shard__"),
        "left_semi",
    ).filter(residual)
    return pruned, survivors


def zorder_key(
    df: DataFrame,
    cols: list[str],
    mins: dict[str, int],
    maxs: dict[str, int],
    bits_per_dim: int = 4,
) -> DataFrame:
    """Z-order (Morton) clustering key over integer-valued dimensions:
    each column is quantized to ``2^bits_per_dim`` equi-width bins
    inside its [min, max] envelope, and the bin codes' bits interleave
    into one ``zorder`` integer.  Rows written in zorder runs give
    every file a TIGHT min/max envelope on EVERY participating
    dimension simultaneously — which is the whole trick: a month-
    sharded table skips nothing for a price predicate, but a z-ordered
    one lets :func:`zonemap_prune` drop files for range predicates on
    ANY of the clustered columns (Delta/Iceberg ``OPTIMIZE ZORDER BY``
    is exactly this key + a sort-write).

    Pure integer arithmetic end to end — equi-width bin =
    ``(v - min) * 2^bits div (max - min + 1)``, interleave = shifted
    bit picks — so the key is bit-identical on any engine (the
    property the DuckDB oracle needs).  ``mins``/``maxs`` come from
    the caller (one tiny aggregate, or the table's existing zone
    maps); passing them in keeps this a pure narrow projection — no
    job, no shuffle, appendable at ingest.
    """
    if not (1 <= bits_per_dim <= 16):
        raise ValueError(f"bits_per_dim must be in [1, 16], got {bits_per_dim}")
    if len(cols) * bits_per_dim > 63:
        raise ValueError("interleaved key would overflow a signed 64-bit int")
    n_bins = 1 << bits_per_dim
    z = F.lit(0).cast("long")
    bins = []
    for d, c in enumerate(cols):
        lo, hi = int(mins[c]), int(maxs[c])
        width = hi - lo + 1
        # clamp both ends so out-of-envelope values (stale zone maps)
        # land in the edge bins instead of corrupting the interleave
        b = F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_bins - 1),
                F.expr(f"(({c}) - {lo}) * {n_bins} div {width}"),
            ),
        ).cast("long")
        bins.append(b.alias(f"bin_{c}"))
        for i in range(bits_per_dim):
            # bit i of this dim lands at interleaved position
            # i*len(cols) + d  (dim 0 gets the low bit of each group)
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)),
                i * len(cols) + d,
            )
    return df.select("*", *bins, z.cast("long").alias("zorder"))


def zshard(
    df: DataFrame,
    cols: list[str],
    mins: dict[str, int],
    maxs: dict[str, int],
    bits_per_dim: int = 4,
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic z-order shard assignment: the Morton key's
    equi-width HIGH bands — ``zorder div ceil(cell_space / n_shards)``
    — so shard membership is a pure projection of the row's values and
    the envelope, bit-identical on any engine (the property an oracle
    check needs; a range-partitioned write samples boundaries and is
    deliberately NOT deterministic).  Equal-width in z-space rather
    than equal-rows: file SIZES may skew with the data, but the
    envelope TIGHTNESS — the thing zone-map pruning consumes — is
    identical, and :func:`write_zordered` uses proper range
    partitioning for the physical layout where determinism doesn't
    matter.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    space = 1 << (bits_per_dim * len(cols))
    width = (space + n_shards - 1) // n_shards
    keyed = zorder_key(df, cols, mins, maxs, bits_per_dim)
    return keyed.withColumn(
        "zshard", F.expr(f"zorder div {width}").cast("int")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits_per_dim: int = 4,
    n_files: int = 16,
    stat_cols: list[str] | None = None,
) -> DataFrame:
    """Z-ordered table write — the composition Delta/Iceberg call
    ``OPTIMIZE ZORDER BY``: envelope pull (one tiny aggregate), Morton
    key (:func:`zorder_key`, a pure projection), range-partition on
    the key + sort within partitions (so each output file holds one
    contiguous z-run), parquet write, then read the layout back and
    return its per-file zone maps (:func:`zonemap_stats` keyed on the
    file name) for the caller's skipping index.

    Why this matters at 100 TB: a table sharded on ingest time prunes
    nothing for a predicate on any OTHER column; after this write,
    every file's footer carries a tight min/max envelope on EVERY
    clustered dimension simultaneously, so :func:`zonemap_prune` (or
    the engine's own parquet row-group pruning — the sort makes those
    footers tight too) skips files for range predicates on ANY of
    them.  The one-time cost is a single range shuffle of the table;
    `repartitionByRange` samples boundaries, giving ~equal-ROWS files
    (bounded file sizes under z-space skew), which is why the
    deterministic :func:`zshard` exists separately for oracle-checked
    shard logic.
    """
    stat_cols = list(stat_cols or cols)
    env = df.agg(
        *[F.min(c).cast("long").alias(f"lo_{c}") for c in cols],
        *[F.max(c).cast("long").alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    mins = {c: env[f"lo_{c}"] for c in cols}
    maxs = {c: env[f"hi_{c}"] for c in cols}
    missing = [c for c in cols if mins[c] is None or maxs[c] is None]
    if missing:
        raise ValueError(
            "write_zordered: min/max envelope is NULL for "
            f"{missing} — the input is empty (or the column is "
            "all-NULL); nothing to lay out"
        )
    keyed = zorder_key(df, cols, mins, maxs, bits_per_dim)
    (
        keyed.drop(*[f"bin_{c}" for c in cols])
        .repartitionByRange(int(n_files), "zorder")
        .sortWithinPartitions("zorder")
        .write.mode("overwrite")
        .parquet(path)
    )
    spark = df.sparkSession
    back = spark.read.parquet(path).withColumn(
        "file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    return zonemap_stats(back, "file", stat_cols)


def key_skew_report(
    df: DataFrame, key_col: str, top_k: int = 20
) -> DataFrame:
    """The "should I salt this key" diagnostic — the measurement this
    module's remedies (:func:`salted_join` / :func:`salted_agg`, AQE
    skew-join) assume someone ran first: the ``top_k`` hottest keys
    with, per key, its row count, its share of ALL rows, and how many
    times the mean key's load it carries.  Exact integer milli-units
    (``cnt * 1000 div n_rows``; ``cnt * n_keys * 1000 div n_rows`` is
    cnt/mean scaled — a value of 1000 = a perfectly average key, 32000
    = this key alone saturates one of 32 tasks' fair share 32× over),
    so the report is bit-identical on any engine and thresholdable in
    config without float drift.  NULL keys group as a real key (NULLs
    are the classic skew culprit), displayed under the sentinel
    ``key_s = ''`` but kept DISTINCT from a genuine empty-string key
    by the ``is_null`` flag column — the grouping is on the raw
    (nullable) key, so a corpus containing both NULLs and ``''``
    reports two rows, never one merged count.

    Plan shape: one map-side-combining count aggregate on the key, a
    1-row broadcast-hinted totals scalar, and a TakeOrderedAndProject
    for the top-k — no global sort, nothing row-scale beyond the first
    aggregate; the output is ``top_k`` rows no matter the input size.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    per = (
        df.groupBy(F.col(key_col).cast("string").alias("__k__"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.coalesce(F.col("__k__"), F.lit("")).alias("key_s"),
            F.col("__k__").isNull().alias("is_null"),
            "cnt",
        )
    )
    tot = per.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    from pyspark.sql import Window

    # orderBy().limit() lowers to TakeOrderedAndProject (per-partition
    # heaps + one k-row merge, never a global sort); the rank window
    # then runs over the ALREADY-LIMITED k rows, so its single
    # partition holds top_k rows no matter the input size.
    top_rows = per.orderBy(
        F.desc("cnt"), F.asc("key_s"), F.asc("is_null")
    ).limit(int(top_k))
    w = Window.orderBy(F.desc("cnt"), F.asc("key_s"), F.asc("is_null"))
    top = top_rows.select(
        "key_s",
        "is_null",
        "cnt",
        F.row_number().over(w).cast("int").alias("rank"),
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "rank",
        "key_s",
        "is_null",
        "cnt",
        "n_rows",
        "n_keys",
        F.expr("cnt * 1000 div n_rows").cast("bigint").alias("share_milli"),
        F.expr("cnt * n_keys * 1000 div n_rows")
        .cast("bigint")
        .alias("x_mean_milli"),
    )


def compaction_plan(
    files: DataFrame,
    size_col: str,
    target_bytes: int,
    order_col: str,
) -> DataFrame:
    """Assign small files to compaction bins by running-sum binning.

    The planning half of OPTIMIZE/compaction (``compact_parquet`` above
    is the blunt whole-table rewrite; this plans SELECTIVE rewrites):
    walk the file inventory in ``order_col`` order (name order keeps
    sort-adjacent files together so compaction preserves clustering)
    and open a new bin every time the running byte total crosses a
    ``target_bytes`` boundary — ``bin_id = (cumsum - size) div
    target``. Each bin starts below ``target_bytes`` and overflows it
    by at most one file, the same first-fit-in-order contract Delta/
    Iceberg OPTIMIZE uses, and the assignment is a pure function of the
    inventory (re-running the planner on the same listing re-plans the
    same bins — safe under retries).

    Output: one row per file with ``bin_id`` added.

    Scale note: this runs over FILE METADATA, not data — ~10⁶ rows for
    100 TB of 100 MB files — so the single global running-sum window
    (one-partition sort) is bounded by inventory size, never data
    size. The data movement it plans stays fully distributed.
    """
    from pyspark.sql import Window

    w = (
        Window.orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(size_col).cast("bigint")).over(w)
    return (
        files.withColumn("__before__", cum - F.col(size_col).cast("bigint"))
        .withColumn(
            "bin_id",
            F.expr(f"__before__ div {int(target_bytes)}").cast("bigint"),
        )
        .drop("__before__")
    )


def bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str],
    max_bucket: int,
) -> DataFrame:
    """Candidate-pair generation inside bounded posting lists — the
    shared kernel of the LSH-family ops (FastSS deletion index, dHash
    banding, and any future bucket-then-verify join).

    Hot buckets are dropped BEFORE any list materializes: a count
    aggregate (O(1) state per bucket) finds buckets ABOVE
    ``max_bucket`` — at most n_rows/cap of them can exist, so the hot
    set is small by construction — and a LEFT ANTI join removes their
    rows, so collect_list's per-group aggregation buffer is bounded
    by the CAP, not by the hottest bucket's frequency (group size
    equals bucket frequency when (id, bucket) is unique, which
    callers guarantee by deduping their bucket sets).  A degenerate
    bucket with millions of members therefore costs one counter,
    never one executor's memory.  Anti-join against the SMALL hot
    side (not a semi-join against the large [2, cap] keep set)
    matters: AQE broadcasts the hot set at runtime, so the data still
    crosses ONE exchange — the collect_list groupBy's — plus a slim
    count branch; the semi-join form was MEASURED 2.1× slower at
    sf0.1 (typo_pairs_names 5.3 s vs 2.5 s, vs 2.4 s with no guard at
    all) because it re-shuffled the full input a second time.  Each
    surviving bucket's members collect into a sorted list (first
    payload column is the id — sorting the struct puts pairs in
    ``a < b`` order by construction), singletons drop AFTER the (now
    cap-bounded) collect, and pairs explode from each list without a
    self-join. Output: one row per (bucket, pair) with ``a_<col>`` /
    ``b_<col>`` for every payload column — callers ``.distinct()``
    over the payload if the same pair may collide in several buckets,
    then verify exactly.
    """
    hot = (
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") > F.lit(int(max_bucket)))
        .select(*bucket_cols)
    )
    # Null-SAFE anti-join: groupBy treats NULL bucket keys as a real
    # group (they pair among themselves), so the hot-set guard must
    # see them too — a plain left_anti never matches NULL keys and an
    # oversize NULL bucket would sail past the cap straight into an
    # unbounded collect_list.  eqNullSafe keys still hash-join (Spark
    # plans EqualNullSafe as a hash-join key), so AQE's runtime
    # broadcast of the small hot side is unchanged.
    left, right = df.alias("__l__"), hot.alias("__h__")
    cond = F.lit(True)
    for c in bucket_cols:
        cond = cond & F.col(f"__l__.{c}").eqNullSafe(F.col(f"__h__.{c}"))
    grouped = (
        left.join(right, cond, "left_anti")
        .groupBy(*bucket_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(*payload_cols))
            ).alias("__g__")
        )
        .filter(F.size("__g__") >= 2)
    )
    inner = ", ".join(
        [f"x.{c} AS a_{c}" for c in payload_cols]
        + [f"y.{c} AS b_{c}" for c in payload_cols]
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(__g__, (x, i) -> "
            "transform(slice(__g__, i + 2, size(__g__) - i - 1), "
            f"y -> struct({inner}))))"
        )
    ).alias("__p__")
    return grouped.select(*bucket_cols, pair).select(*bucket_cols, "__p__.*")


def _footer_envelope(meta, cols: list[str]) -> dict:
    """``{col: (min, max)}`` over one parquet footer's row-group column
    statistics, cast to long as ``F.min(c).cast("long")`` would be.
    ``(None, None)`` when the column holds only NULLs or is absent
    (``F.min``/``F.max`` skip NULLs); ``None`` when it holds values the
    footer records no min/max for, so nothing bounds them."""
    paths = [meta.schema.column(j).path for j in range(meta.num_columns)]
    env: dict = {}
    for c in cols:
        los, his = [], []
        groups = range(meta.num_row_groups) if c in paths else ()
        for rg in map(meta.row_group, groups):
            st = rg.column(paths.index(c)).statistics
            if st is not None and st.has_min_max:
                los.append(int(st.min))
                his.append(int(st.max))
            elif st is None or st.null_count != rg.num_rows:
                break  # values with no recorded bounds
        else:
            env[c] = (min(los), max(his)) if los else (None, None)
            continue
        env[c] = None
    return env


def optimize_incremental(
    spark,
    table_path: str,
    cols: list[str],
    target_rows: int,
    bits_per_dim: int = 4,
) -> DataFrame:
    """Incremental OPTIMIZE — bins planned from the parquet footers, then
    the z-order write, in place: plan bins over the table's FILE
    INVENTORY (name order, :func:`compaction_plan`'s running-sum rule
    applied on the driver — the metadata-scale input that rule was
    built for), rewrite ONLY the multi-file bins into z-clustered files,
    and leave every already-compacted (singleton-bin) file physically
    untouched — the Delta/Iceberg incremental-OPTIMIZE shape, where
    repeated runs cost proportional to NEW small files, not to the
    table.

    The plan comes from the footers the inventory already opens: row
    counts from the file metadata, and each rewritten bin's Morton
    envelope over ``cols`` from the row-group min/max statistics (the
    zone maps :func:`zorder_key` names as a valid source; a NULL-only
    column contributes nothing, as ``F.min``/``F.max`` skip NULLs).  So
    no planning or envelope job runs: per rewritten bin, its members
    read as one DataFrame under one shared schema inference, get the
    Morton key and write as ONE z-sorted file — one job per bin.  The
    swap order is crash-safe for data (stage the new file fully, move
    it in, THEN delete the members — an interruption can leave a
    duplicate bin visible, never a missing one; a real lakehouse makes
    the swap atomic in the table log, which is out of scope for a
    directory of bare parquet).

    Output names carry a GENERATION counter
    (``optimized-g{gen:03d}-{bin:05d}.parquet``, gen = 1 + the highest
    generation already present) so a repeat run over a directory that
    already contains optimized files can NEVER collide with — and
    thereby clobber or delete — a live file from an earlier run: new
    names are unique by construction, previous-generation files
    participate as ordinary inventory members, and name order stays
    deterministic.

    Driver-side work touches METADATA only: the file listing and the
    footers (one per file — ~10⁶ for 100 TB of 100 MB files).  The
    inventory is read from a local directory with pyarrow.  Each bin's
    rewrite is its own distributed job, exactly how Delta schedules
    OPTIMIZE bins (Armbrust et al., VLDB 2020).

    Returns the action report as a local frame, one row per ORIGINAL
    file: ``(file, rows, bin_id, n_files_in_bin, action)`` with action
    in {'rewritten', 'kept'}.
    """
    import re as _re

    import pyarrow.parquet as pq

    if target_rows < 1:
        raise ValueError(f"target_rows must be >= 1, got {target_rows}")
    names = sorted(
        n
        for n in os.listdir(table_path)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )
    if not names:
        raise ValueError(f"optimize_incremental: no parquet files in {table_path}")
    gens = [
        int(m.group(1))
        for n in names
        for m in [_re.match(r"optimized-g(\d+)-\d+\.parquet$", n)]
        if m
    ]
    gen = (max(gens) if gens else 0) + 1
    metas = {n: pq.read_metadata(os.path.join(table_path, n)) for n in names}
    # compaction_plan's bin rule: bin_id = (running rows before the file)
    # div target, in name order
    planned, before = [], 0
    for n in names:
        rows = int(metas[n].num_rows)
        planned.append((n, rows, before // int(target_rows)))
        before += rows
    by_bin: dict[int, list[str]] = {}
    for fname, _rows, b in planned:
        by_bin.setdefault(b, []).append(fname)

    multi = {
        b: members
        for b, members in sorted(by_bin.items())
        if len(members) >= 2  # singleton bins stay physically untouched
    }
    if multi:
        envs = {
            m: _footer_envelope(metas[m], cols)
            for members in multi.values()
            for m in members
        }
        first = next(iter(multi.values()))[0]
        schema = spark.read.parquet(os.path.join(table_path, first)).schema

        def _envelope(b: int, members: list[str]):
            mins, maxs = {}, {}
            for c in cols:
                found = [envs[m][c] for m in members]
                los = [e[0] for e in found if e and e[0] is not None]
                his = [e[1] for e in found if e and e[1] is not None]
                unknown = None in found
                mins[c] = min(los) if los and not unknown else None
                maxs[c] = max(his) if his and not unknown else None
            missing = [c for c in cols if mins[c] is None or maxs[c] is None]
            if missing:
                raise ValueError(
                    f"optimize_incremental: NULL envelope for {missing}"
                    f" in bin {b}"
                )
            return mins, maxs

        def _stage(b: int, members: list[str]) -> None:
            paths = [os.path.join(table_path, m) for m in members]
            mins, maxs = _envelope(b, members)
            staging = os.path.join(table_path, f"_staging_bin_{b}")
            (
                zorder_key(
                    spark.read.schema(schema).parquet(*paths),
                    cols, mins, maxs, bits_per_dim,
                )
                .drop(*[f"bin_{c}" for c in cols])
                .coalesce(1)
                .sortWithinPartitions("zorder")
                .drop("zorder")
                .write.mode("overwrite")
                .parquet(staging)
            )

        # Bins read disjoint member files and write disjoint staging
        # dirs — stage them OVERLAPPED (guide §2.6), then swap each in
        # serially: every new file is fully staged and moved live
        # before any member dies (an interruption can leave a
        # duplicate bin or a dead _staging dir — both ignored by the
        # next run's inventory — never a missing row).  Moves and
        # deletes go through the commit module, so each file's Hadoop
        # checksum file moves or dies with it.
        run_jobs(*[lambda b=b, m=m: _stage(b, m) for b, m in multi.items()])
        for b, members in multi.items():
            commit.publish_file(
                spark,
                os.path.join(table_path, f"_staging_bin_{b}"),
                os.path.join(
                    table_path, f"optimized-g{gen:03d}-{b:05d}.parquet"
                ),
            )
            for m in members:  # new file is live before any member dies
                commit.delete(spark, os.path.join(table_path, m))

    report = [
        (
            fname,
            rows,
            b,
            len(by_bin[b]),
            "rewritten" if len(by_bin[b]) >= 2 else "kept",
        )
        for fname, rows, b in planned
    ]
    return local_frame(
        spark,
        report,
        "file string, rows bigint, bin_id bigint, n_files_in_bin int,"
        " action string",
    )
