"""Scale utilities: bucketed co-located joins, salted joins/aggs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data__converter_spark import scale
from helpers import plan_has_exchange


@pytest.fixture(scope="module")
def warehouse_tables(spark, orders):
    """Two tables bucketed identically on the join key. Broadcast is
    disabled for the module: with a broadcastable side the planner
    rightly ignores bucketing (no shuffle either way), and the point
    here is the large-large co-located case."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    a = orders.select("o_orderkey", "o_totalprice")
    b = orders.select("o_orderkey", "o_orderstatus")
    scale.write_bucketed(a, "bk_a", "o_orderkey", buckets=8)
    scale.write_bucketed(b, "bk_b", "o_orderkey", buckets=8)
    yield "bk_a", "bk_b"
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_skips_shuffle(spark, warehouse_tables, orders):
    ta, tb = warehouse_tables
    joined = spark.table(ta).join(spark.table(tb), "o_orderkey")
    assert not plan_has_exchange(joined), "bucketed join must not shuffle"
    assert joined.count() == orders.count()
    # the same join on raw parquet does shuffle — the bucketing is what
    # removed the Exchange
    raw = orders.select("o_orderkey", "o_totalprice").join(
        orders.select("o_orderkey", "o_orderstatus"), "o_orderkey"
    )
    assert plan_has_exchange(raw)


def test_bucketed_agg_skips_shuffle(spark, warehouse_tables):
    ta, _ = warehouse_tables
    agg = spark.table(ta).groupBy("o_orderkey").agg(F.sum("o_totalprice"))
    assert not plan_has_exchange(agg)


def test_salted_join_equals_plain_join(spark, orders, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    plain = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "c_mktsegment")
    salted = scale.salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"), cust, "c_custkey", n_salts=4
    ).select("o_orderkey", "c_mktsegment")
    a = sorted((r.o_orderkey, r.c_mktsegment) for r in plain.collect())
    b = sorted((r.o_orderkey, r.c_mktsegment) for r in salted.collect())
    assert a == b


def test_salted_agg_equals_direct(spark, orders):
    direct = {
        (r.o_orderstatus): (r["count(o_orderkey)"], round(r["sum(o_totalprice)"], 2))
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count("o_orderkey"), F.sum("o_totalprice"))
        .collect()
    }
    salted = {
        r.o_orderstatus: (r.count_o_orderkey, round(r.sum_o_totalprice, 2))
        for r in scale.salted_agg(
            orders,
            "o_orderstatus",
            {"o_orderkey": "count", "o_totalprice": "sum"},
            n_salts=4,
        ).collect()
    }
    assert direct == salted


def test_salted_agg_rejects_non_decomposable(spark, orders):
    with pytest.raises(ValueError):
        scale.salted_agg(orders, "o_orderstatus", {"o_totalprice": "avg"})


def test_compact_parquet_merges_small_files(spark, orders, tmp_path):
    import glob

    src = str(tmp_path / "small")
    # simulate a small-files mess: 64 tiny parquet files
    orders.limit(2000).repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    out = str(tmp_path / "compact")
    n = scale.compact_parquet(spark, src, out, target_mb=128)
    files = glob.glob(f"{out}/part-*.parquet")
    assert n == 1 and len(files) == 1  # 2000 rows << 128 MB
    # data survives intact
    a = sorted(r.o_orderkey for r in spark.read.parquet(src).collect())
    b = sorted(r.o_orderkey for r in spark.read.parquet(out).collect())
    assert a == b


def test_compact_parquet_partitioned_layout(spark, orders, tmp_path):
    import glob

    src = str(tmp_path / "small_p")
    n_rows = orders.count()
    orders.repartition(32).write.parquet(src)
    out = str(tmp_path / "compact_p")
    scale.compact_parquet(spark, src, out, partition_by="o_orderstatus")
    parts = glob.glob(f"{out}/o_orderstatus=*")
    assert parts, "expected hive-partitioned output"
    got = spark.read.parquet(out)
    assert got.count() == n_rows
    assert set(got.columns) == set(orders.columns)


def test_partitioned_write_prunes_partitions(spark, orders, tmp_path):
    """Hive-partitioned layout + partition pruning: a filter on the
    partition key must reach the scan as a PartitionFilter (directories
    skipped, not rows filtered) — the core 100 TB data-layout lever."""
    out = str(tmp_path / "by_status")
    orders.write.partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # correctness: pruned read equals full-scan filter
    assert df.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_approx_count_distinct_scale_path(spark, orders):
    """HLL approx_count_distinct: the count-distinct that aggregates
    a fixed-size sketch instead of shuffling every distinct value —
    the 100 TB path; exact distinct is the correctness reference."""
    exact = orders.select("o_custkey").distinct().count()
    approx = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n")
    ).collect()[0]["n"]
    assert abs(approx - exact) / exact < 0.05


def test_release_persisted_frees_persisted_and_pinned_frames(spark, orders):
    """One registry holds both kinds of held frame: release_persisted()
    counts a pinned (checkpointed) frame with the persisted ones and
    frees its blocks, which DataFrame.unpersist() alone leaves in
    place; release() frees one named frame now and unregisters it."""
    sc = spark.sparkContext._jsc.sc()

    def cached_rdds():
        return {
            i.id() for i in sc.getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        }

    def rdd_id(df):
        return df._jdf.queryExecution().analyzed().rdd().id()

    scale.release_persisted()
    outer = scale.persisted(orders.filter(F.col("o_orderkey") % 2 == 1))
    outer.count()
    assert outer.storageLevel.useMemory
    pin = scale.pinned(orders.select("o_orderkey").repartition(3))
    assert rdd_id(pin) in cached_rdds()
    assert scale.release_persisted() == 2
    assert not outer.storageLevel.useMemory
    assert rdd_id(pin) not in cached_rdds()
    assert scale.release_persisted() == 0

    one = scale.pinned(orders.select("o_custkey").repartition(2))
    two = scale.pinned(orders.select("o_totalprice").repartition(2))
    scale.release(one)
    assert rdd_id(one) not in cached_rdds()
    assert rdd_id(two) in cached_rdds()
    assert two.count() == orders.count()
    assert scale.release_persisted() == 1
    assert rdd_id(two) not in cached_rdds()


def test_registry_loses_no_handle_under_concurrent_release():
    """Threads registering frames while others release them all: every
    handle is freed exactly once — none is dropped between a release's
    snapshot and its clear, none is freed twice."""
    import sys
    import threading

    class Fake:
        frees = 0

        def persist(self, _level):
            return self

        def unpersist(self):
            self.frees += 1

    scale.release_persisted()
    made: list = []
    stop = threading.Event()

    def register():
        for _ in range(2000):
            made.append(scale.persisted(Fake()))

    def drain():
        while not stop.is_set():
            scale.release_persisted()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        drainers = [threading.Thread(target=drain) for _ in range(2)]
        writers = [threading.Thread(target=register) for _ in range(8)]
        for t in drainers + writers:
            t.start()
        for t in writers:
            t.join(timeout=60)
        stop.set()
        for t in drainers:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in drainers + writers)
    scale.release_persisted()
    assert len(made) == 16000
    assert all(f.frees == 1 for f in made)


def test_run_jobs_default_pool_is_bounded_by_cpu_count(monkeypatch):
    """One thunk per OPTIMIZE bin must not mean one driver thread per
    bin: by default at most os.cpu_count() thunks run at once."""
    import os
    import threading
    import time

    cap = 2
    monkeypatch.setattr(os, "cpu_count", lambda: cap)
    lock = threading.Lock()
    live = {"now": 0, "max": 0}

    def thunk():
        with lock:
            live["now"] += 1
            live["max"] = max(live["max"], live["now"])
        time.sleep(0.05)
        with lock:
            live["now"] -= 1

    scale.run_jobs(*[thunk] * (2 * cap + 1))
    assert live["max"] == cap


def test_run_jobs_thunks_keep_callers_job_group(spark, orders):
    """Jobs submitted from run_jobs pool threads carry the caller's job
    group, so status-store reads attribute them to the caller."""
    sc = spark.sparkContext
    sc.setJobGroup("run-jobs-attribution", "pool threads inherit it")
    try:
        scale.run_jobs(
            lambda: orders.limit(1).count(), lambda: orders.limit(2).count()
        )
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("run-jobs-attribution")
    assert len(jobs) >= 2


def test_zonemap_prune_is_conservative(spark, orders):
    """Pruned scan == direct filter, on BOTH a clustered shard key
    (skips most shards) and an uncorrelated one (skips none) — the
    zone map may only remove provably-empty shards."""
    lo, hi = "1996-03-01", "1996-06-30"
    direct = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("date"))
        & (F.col("o_orderdate") <= F.lit(hi).cast("date"))
    ).count()
    for shard_expr, should_skip in [
        ((F.year("o_orderdate") * 100 + F.month("o_orderdate")), True),
        ((F.col("o_orderkey") % 16), False),
    ]:
        df = orders.withColumn("shard", shard_expr.cast("int"))
        stats = scale.zonemap_stats(df, "shard", ["o_orderdate"])
        pruned, survivors = scale.zonemap_prune(
            df, stats, "shard",
            {"o_orderdate": (F.lit(lo).cast("date"), F.lit(hi).cast("date"))},
        )
        assert pruned.count() == direct
        n_surv, n_total = survivors.count(), stats.count()
        assert (n_surv < n_total) == should_skip


def test_zonemap_null_stat_shards_survive(spark):
    """A shard whose stat column is all NULL has a NULL envelope —
    it must survive pruning (unknown can never prove empty)."""
    df = spark.createDataFrame(
        [(0, 5), (0, 9), (1, None), (2, 50)], "shard int, v int"
    )
    stats = scale.zonemap_stats(df, "shard", ["v"])
    pruned, survivors = scale.zonemap_prune(df, stats, "shard", {"v": (40, 60)})
    assert {r["shard"] for r in survivors.collect()} == {1, 2}
    assert [tuple(r) for r in pruned.collect()] == [(2, 50)]


def test_zonemap_prune_broadcasts_survivors(spark, orders):
    """The survivor semi-join must broadcast — the fact side never
    shuffles for the skip."""
    df = orders.withColumn(
        "shard",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int"),
    )
    stats = scale.zonemap_stats(df, "shard", ["o_orderdate"])
    pruned, _ = scale.zonemap_prune(
        df, stats, "shard",
        {"o_orderdate": (F.lit("1996-03-01").cast("date"), None)},
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_zorder_key_interleaves_bits(spark):
    from data__converter_spark.scale import zorder_key

    # 2 bits/dim over x,y in [0,3]: bin == value; z interleaves
    # x bits at even positions, y bits at odd positions.
    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x int, y int")
    out = zorder_key(
        df, ["x", "y"], {"x": 0, "y": 0}, {"x": 3, "y": 3}, bits_per_dim=2
    ).collect()

    def morton(x, y):
        z = 0
        for i in range(2):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in out:
        assert r["bin_x"] == r["x"] and r["bin_y"] == r["y"]
        assert r["zorder"] == morton(r["x"], r["y"])
    # all 16 cells distinct -> a bijection on the 4x4 grid
    assert len({r["zorder"] for r in out}) == 16


def test_zorder_key_quantizes_and_clamps(spark):
    from data__converter_spark.scale import zorder_key

    df = spark.createDataFrame(
        [(0,), (99,), (100,), (199,), (250,), (-5,)], "v long"
    )
    out = {
        r["v"]: r["bin_v"]
        for r in zorder_key(
            df, ["v"], {"v": 0}, {"v": 199}, bits_per_dim=1
        ).collect()
    }
    # equi-width halves of [0,199]: [0,99] -> 0, [100,199] -> 1;
    # out-of-envelope values clamp to the edge bins
    assert out[0] == 0 and out[99] == 0
    assert out[100] == 1 and out[199] == 1
    assert out[250] == 1 and out[-5] == 0


def test_zorder_key_rejects_overflow_and_bad_bits(spark):
    import pytest as _pytest

    from data__converter_spark.scale import zorder_key

    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with _pytest.raises(ValueError):
        zorder_key(df, ["a", "b"], {}, {}, bits_per_dim=32)
    with _pytest.raises(ValueError):
        zorder_key(df, ["a", "b"], {}, {}, bits_per_dim=0)


def test_write_zordered_files_have_tight_envelopes(spark, orders, tmp_path):
    """write_zordered: real parquet files, one z-run each — the sum of
    per-file envelope areas must be FAR smaller than n_files × the
    full envelope area (an unordered write's per-file stats), data
    survives byte-identically, and the returned zone-map frame keys on
    the actual file names."""
    import glob

    src = orders.select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("oday"),
        F.col("o_totalprice").cast("long").alias("price"),
        "o_orderkey",
    )
    path = str(tmp_path / "zordered")
    stats = scale.write_zordered(
        src, path, ["oday", "price"], bits_per_dim=4, n_files=8
    )
    rows = stats.collect()
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) >= 2  # range partitioner produced real splits
    assert len(rows) == len(files)
    # data intact
    assert (
        spark.read.parquet(path).count() == src.count()
    )
    # envelope tightness: Σ per-file area << n_files × global area.
    lo_d = min(r["min_oday"] for r in rows)
    hi_d = max(r["max_oday"] for r in rows)
    lo_p = min(r["min_price"] for r in rows)
    hi_p = max(r["max_price"] for r in rows)
    full = (hi_d - lo_d + 1) * (hi_p - lo_p + 1)
    per_file = sum(
        (r["max_oday"] - r["min_oday"] + 1)
        * (r["max_price"] - r["min_price"] + 1)
        for r in rows
    )
    # unordered would be ~len(rows) * full; z-ordered must beat HALF that
    assert per_file < 0.5 * len(rows) * full, (per_file, full, len(rows))


def test_zshard_is_deterministic_projection(spark, orders):
    """zshard: pure projection (no job/exchange), stable across runs,
    bands cover [0, n_shards)."""
    src = orders.select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_totalprice").cast("long").alias("p"),
    )
    mins = {"k": 1, "p": 0}
    maxs = {"k": 60000, "p": 600000}
    a = scale.zshard(src, ["k", "p"], mins, maxs, 4, 16)
    assert not plan_has_exchange(a.select("zshard"))
    xs = {r["zshard"] for r in a.select("zshard").distinct().collect()}
    assert xs and all(0 <= x < 16 for x in xs)
    b = scale.zshard(src, ["k", "p"], mins, maxs, 4, 16)
    assert a.groupBy("zshard").count().orderBy("zshard").collect() == \
        b.groupBy("zshard").count().orderBy("zshard").collect()


def test_key_skew_report_exact_milli_and_null_sentinel(spark):
    """Hot key shares and times-mean are exact integer milli; NULL
    keys group under the '' sentinel with is_null=True; ranks are
    deterministic under count ties (key_s asc)."""
    rows = [(1,)] * 6 + [(2,)] * 2 + [(3,)] * 1 + [(None,)] * 1
    df = spark.createDataFrame(rows, "k int")
    got = {r["key_s"]: r for r in scale.key_skew_report(df, "k", 10).collect()}
    assert set(got) == {"1", "2", "3", ""}
    assert got["1"]["rank"] == 1 and got["1"]["cnt"] == 6
    # 10 rows, 4 keys: share 600‰, mean load = 2.5 -> 6/2.5 = 2.4x
    assert got["1"]["share_milli"] == 600
    assert got["1"]["x_mean_milli"] == 2400
    # tie between '3' (1 row) and '' (1 row): '' sorts first
    assert got[""]["rank"] < got["3"]["rank"]
    assert got[""]["is_null"] is True and got["3"]["is_null"] is False
    assert all(r["n_rows"] == 10 and r["n_keys"] == 4 for r in got.values())


def test_key_skew_report_null_vs_empty_string_distinct(spark):
    """A genuine empty-string key and NULL keys are SEPARATE report
    rows (same '' display sentinel, distinguished by is_null) — the
    collision the coalesce-before-group formulation used to have."""
    rows = [("",)] * 3 + [(None,)] * 2 + [("x",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = scale.key_skew_report(df, "k", 10).collect()
    assert len(out) == 3
    by = {(r["key_s"], r["is_null"]): r["cnt"] for r in out}
    assert by[("", False)] == 3 and by[("", True)] == 2 and by[("x", False)] == 1
    # deterministic order on a (cnt, key_s) tie: is_null asc breaks it
    ranks = {(r["key_s"], r["is_null"]): r["rank"] for r in out}
    assert ranks[("", False)] == 1 and ranks[("", True)] == 2


def test_key_skew_report_topk_is_take_ordered(spark, orders):
    p = scale.key_skew_report(orders, "o_custkey", 20)
    jvm = p.sparkSession._jvm
    plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        p._jdf.queryExecution(), "simple"
    )
    assert "TakeOrderedAndProject" in plan


def test_write_zordered_stats_drive_file_pruning(spark, orders, tmp_path):
    """End-to-end: the zone maps returned by write_zordered feed
    zonemap_prune against the read-back layout keyed on the actual
    file name — pruning must skip files AND return exactly the rows a
    direct filter returns (conservative contract on real parquet)."""
    src = orders.select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("oday"),
        F.col("o_totalprice").cast("long").alias("price"),
        "o_orderkey",
    )
    path = str(tmp_path / "zo")
    stats = scale.write_zordered(
        src, path, ["oday", "price"], bits_per_dim=4, n_files=8
    )
    back = spark.read.parquet(path).withColumn(
        "file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    lo, hi = 9500, 9800
    pruned, survivors = scale.zonemap_prune(
        back, stats, "file", {"oday": (lo, hi), "price": (400_000, None)}
    )
    n_files = stats.count()
    n_surv = survivors.count()
    assert n_surv < n_files, "2-D predicate should skip some z-run files"
    direct = src.filter(
        (F.col("oday") >= lo) & (F.col("oday") <= hi)
        & (F.col("price") >= 400_000)
    )
    got = sorted(r["o_orderkey"] for r in pruned.collect())
    want = sorted(r["o_orderkey"] for r in direct.collect())
    assert got == want


def test_compaction_plan_running_sum_bins(spark):
    files = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 5)], "file_id long, size_bytes long"
    )
    got = {
        (r["file_id"], r["bin_id"])
        for r in scale.compaction_plan(
            files, "size_bytes", 10, "file_id"
        ).collect()
    }
    # bytes-before: 0, 5, 10, 15 -> bins 0, 0, 1, 1
    assert got == {(1, 0), (2, 0), (3, 1), (4, 1)}


def test_compaction_plan_overflows_by_at_most_one_file(spark):
    files = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 7)], "file_id long, size_bytes long"
    )
    got = dict(
        (r["file_id"], r["bin_id"])
        for r in scale.compaction_plan(
            files, "size_bytes", 10, "file_id"
        ).collect()
    )
    # file 2 still lands in bin 0 (bytes-before 7 < 10); the bin closes
    # at 14 bytes -- overflow bounded by one file, never two
    assert got == {1: 0, 2: 0, 3: 1}


def test_bucket_pairs_in_group_generation_and_cap(spark):
    rows = [
        ("u", 1, "x"), ("u", 2, "y"), ("u", 3, "z"),  # 3 members -> 3 pairs
        ("v", 4, "q"),                                  # singleton -> none
    ]
    df = spark.createDataFrame(rows, "bkt string, id long, payload string")
    out = {
        (r["bkt"], r["a_id"], r["b_id"], r["a_payload"], r["b_payload"])
        for r in scale.bucket_pairs(df, ["bkt"], ["id", "payload"], 10).collect()
    }
    assert out == {
        ("u", 1, 2, "x", "y"),
        ("u", 1, 3, "x", "z"),
        ("u", 2, 3, "y", "z"),
    }
    # cap drops the whole oversize bucket
    assert scale.bucket_pairs(df, ["bkt"], ["id", "payload"], 2).count() == 0


def test_bucket_pairs_prefilters_hot_buckets_before_collect(spark):
    """The hot-bucket guard runs BEFORE any posting list materializes:
    the plan carries a LeftAnti join (vs the tiny above-cap hot set,
    which AQE broadcasts) from a count aggregate into the
    collect_list groupBy, so a degenerate million-member bucket costs
    one counter, never one executor's aggregation buffer.  (The old
    shape filtered on size(collect_list(...)) AFTER buffering.)"""
    df = spark.createDataFrame(
        [("u", i, "p") for i in range(50)], "bkt string, id long, payload string"
    )
    p = scale.bucket_pairs(df, ["bkt"], ["id", "payload"], 10)
    jvm = spark._jvm
    plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        p._jdf.queryExecution(), "simple"
    )
    assert "LeftAnti" in plan
    # and the semantics: the 50-member bucket is out entirely
    assert p.count() == 0


def test_bucket_pairs_hot_null_bucket_is_capped_null_safely(spark):
    """ADVICE r10 regression: groupBy groups NULL bucket keys into a
    real bucket, so the hot-set guard must drop an OVERSIZE NULL
    bucket too — a null-unsafe left_anti never matches NULL keys and
    the degenerate bucket would emit all O(n²) pairs.  A small NULL
    bucket, conversely, still pairs among itself."""
    # oversize NULL bucket (12 members, cap 10) + one normal pair
    rows = [(None, i, "p") for i in range(12)] + [("u", 100, "x"), ("u", 101, "y")]
    df = spark.createDataFrame(rows, "bkt string, id long, payload string")
    got = {
        (r["bkt"], r["a_id"], r["b_id"])
        for r in scale.bucket_pairs(df, ["bkt"], ["id", "payload"], 10).collect()
    }
    assert got == {("u", 100, 101)}, "hot NULL bucket must be dropped"
    # a BELOW-cap NULL bucket keeps pairing (groupBy semantics preserved)
    small = spark.createDataFrame(
        [(None, 1, "a"), (None, 2, "b")], "bkt string, id long, payload string"
    )
    pairs = scale.bucket_pairs(small, ["bkt"], ["id", "payload"], 10).collect()
    assert [(r["a_id"], r["b_id"]) for r in pairs] == [(1, 2)]


def test_write_zordered_empty_input_raises(spark, tmp_path):
    """Empty input (NULL envelope) fails fast with a descriptive
    error, not a TypeError deep inside zorder_key."""
    import pytest as _pytest

    df = spark.createDataFrame([], "a long, b long")
    with _pytest.raises(ValueError, match="envelope is NULL"):
        scale.write_zordered(df, str(tmp_path / "z"), ["a", "b"])


def test_optimize_incremental_rewrites_only_planned_bins(spark, tmp_path):
    """The incremental-OPTIMIZE contract: multi-file bins merge into
    one z-clustered file each, the singleton bin's file stays
    BYTE-IDENTICAL on disk (not rewritten, not touched), rows are
    conserved exactly, and the rewritten files are internally sorted
    by the Morton key (tight zone maps)."""
    import os

    table = tmp_path / "t"
    table.mkdir()

    def write_file(name, lo, hi):
        df = spark.range(lo, hi).select(
            F.col("id").alias("a"), (F.lit(1000) - F.col("id")).alias("b")
        )
        staging = str(tmp_path / "_st")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = [p for p in os.listdir(staging) if p.endswith(".parquet")][0]
        os.replace(os.path.join(staging, part), str(table / name))

    # name order: big.parquet(200) | s1(40) | s2(40) -> target 150:
    # bin 0 = [big], bin 1 = [s1, s2]
    write_file("a_big.parquet", 0, 200)
    write_file("b_small1.parquet", 200, 240)
    write_file("c_small2.parquet", 240, 280)
    untouched_bytes = (table / "a_big.parquet").read_bytes()

    report = {
        r["file"]: (r["bin_id"], r["action"])
        for r in scale.optimize_incremental(
            spark, str(table), ["a", "b"], 150
        ).collect()
    }
    assert report["a_big.parquet"] == (0, "kept")
    assert report["b_small1.parquet"] == (1, "rewritten")
    assert report["c_small2.parquet"] == (1, "rewritten")
    names = sorted(
        n for n in os.listdir(str(table)) if n.endswith(".parquet")
    )
    assert names == ["a_big.parquet", "optimized-g001-00001.parquet"]
    # physically untouched, not just equal-content
    assert (table / "a_big.parquet").read_bytes() == untouched_bytes
    # rows conserved exactly
    back = spark.read.parquet(str(table))
    assert back.count() == 280
    assert back.agg(F.sum("a")).collect()[0][0] == sum(range(280))
    # the merged file is one contiguous z-run: its rows are sorted by
    # the Morton key over (a, b) within the file (recompute the key
    # with the bin's own envelope and assert non-decreasing file order)
    import pyarrow.parquet as pq

    merged = pq.read_table(str(table / "optimized-g001-00001.parquet"))
    a_vals = merged.column("a").to_pylist()
    b_vals = merged.column("b").to_pylist()
    mins = {"a": min(a_vals), "b": min(b_vals)}
    maxs = {"a": max(a_vals), "b": max(b_vals)}
    mdf = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(zip(a_vals, b_vals))],
        "pos long, a long, b long",
    )
    keyed = {
        r["pos"]: r["zorder"]
        for r in scale.zorder_key(mdf, ["a", "b"], mins, maxs).collect()
    }
    zs = [keyed[i] for i in range(len(a_vals))]
    assert zs == sorted(zs)


def test_optimize_incremental_leaves_no_orphan_checksums(spark, tmp_path):
    """OPTIMIZE of a Spark-written multi-file table: members die with
    their Hadoop .crc files, the new file's .crc moves in with it, and
    the row multiset is unchanged."""
    import os

    table = str(tmp_path / "t")
    spark.range(0, 400).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    ).repartition(4).write.parquet(table)
    before = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert sum(n.endswith(".parquet") for n in os.listdir(table)) == 4

    scale.optimize_incremental(spark, table, ["a"], 10_000).collect()
    names = set(os.listdir(table))
    assert sum(n.endswith(".parquet") for n in names) == 1
    orphans = [
        n for n in names
        if n.startswith(".") and n.endswith(".crc") and n[1:-4] not in names
    ]
    assert orphans == []
    assert sorted(map(tuple, spark.read.parquet(table).collect())) == before


def test_optimize_incremental_is_idempotent_and_validates(spark, tmp_path):
    import os

    import pytest as _pytest

    table = tmp_path / "t2"
    table.mkdir()
    with _pytest.raises(ValueError, match="no parquet files"):
        scale.optimize_incremental(spark, str(table), ["a"], 10)
    df = spark.range(0, 50).select(F.col("id").alias("a"))
    staging = str(tmp_path / "_st2")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = [p for p in os.listdir(staging) if p.endswith(".parquet")][0]
    os.replace(os.path.join(staging, part), str(table / "x.parquet"))
    with _pytest.raises(ValueError, match="target_rows"):
        scale.optimize_incremental(spark, str(table), ["a"], 0)
    # single already-compacted file: pure no-op, nothing rewritten
    r1 = scale.optimize_incremental(spark, str(table), ["a"], 100).collect()
    assert [x["action"] for x in r1] == ["kept"]
    # idempotent: a second run over the optimized layout re-plans the
    # same (now compacted) inventory and rewrites nothing
    r2 = scale.optimize_incremental(spark, str(table), ["a"], 100).collect()
    assert [x["action"] for x in r2] == ["kept"]


def test_optimize_incremental_repeat_run_never_clobbers_prior_output(spark, tmp_path):
    """Regression (code-review finding): a second run over a directory
    already holding optimized-* files must not collide with them —
    output names carry a generation counter, so run 2's rewrite of
    NEW small files can never os.replace() onto (or delete) a live
    file from run 1.  Exact failure scenario: run 1 merges b+c into
    one 80-row file; new files d+e arrive; run 2 bins d+e together
    while run 1's output is a singleton 'kept' bin — the 80 rows must
    survive byte-identical."""
    import os

    table = tmp_path / "t3"
    table.mkdir()

    def write_file(name, lo, hi):
        df = spark.range(lo, hi).select(F.col("id").alias("a"))
        staging = str(tmp_path / "_st3")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = [p for p in os.listdir(staging) if p.endswith(".parquet")][0]
        os.replace(os.path.join(staging, part), str(table / name))

    write_file("b.parquet", 0, 40)
    write_file("c.parquet", 40, 80)
    r1 = {
        r["file"]: r["action"]
        for r in scale.optimize_incremental(spark, str(table), ["a"], 60).collect()
    }
    assert r1 == {"b.parquet": "rewritten", "c.parquet": "rewritten"}
    gen1 = [n for n in os.listdir(str(table)) if n.startswith("optimized-")]
    assert gen1 == ["optimized-g001-00000.parquet"]
    gen1_bytes = (table / gen1[0]).read_bytes()

    write_file("d.parquet", 80, 120)
    write_file("e.parquet", 120, 160)
    r2 = {
        r["file"]: r["action"]
        for r in scale.optimize_incremental(spark, str(table), ["a"], 60).collect()
    }
    # inventory order: d, e, optimized-g001 -> d+e share bin 0,
    # run 1's output is its own singleton bin, physically untouched
    assert r2["d.parquet"] == "rewritten" and r2["e.parquet"] == "rewritten"
    assert r2["optimized-g001-00000.parquet"] == "kept"
    assert (table / "optimized-g001-00000.parquet").read_bytes() == gen1_bytes
    back = spark.read.parquet(str(table))
    assert back.count() == 160
    assert back.agg(F.sum("a")).collect()[0][0] == sum(range(160))


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_local_frame_matches_list_path_with_no_job(spark):
    """Every type the driver-held frames carry (long, int, double,
    string, binary, array, struct, timestamp, null, and the empty list)
    comes back from local_frame with the values and schema a list-based
    createDataFrame gives, collects with no job, and has no PythonRDD
    in its lineage."""
    import datetime

    cases = [
        (
            [
                (1, 2, 1.5, "a", bytearray(b"xy"), [1.0, -2.0], (3, "s"),
                 datetime.datetime(2020, 1, 2, 3, 4, 5, 6), None),
                (None,) * 9,
            ],
            "a long, b int, c double, d string, e binary, f array<double>,"
            " g struct<x:int,y:string>, h timestamp, n void",
        ),
        ([(7, [(1, "q"), (2, None)])], "a long, b array<struct<x:long,y:string>>"),
        ([], "a long, b string"),
    ]
    for rows, schema in cases:
        want = spark.createDataFrame(rows, schema)
        got = scale.local_frame(spark, rows, schema)
        assert got.schema == want.schema
        before = _next_job_id(spark)
        rows_got = got.collect()
        assert _next_job_id(spark) - before == 0
        assert rows_got == want.collect()
        assert "PythonRDD" not in got._jdf.queryExecution().toRdd().toDebugString()


def _parquet_file(spark, tmp_path, path: str, df) -> None:
    """Land ``df`` as the single parquet file ``path``."""
    import os
    import shutil

    staging = str(tmp_path / "_one")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = [p for p in os.listdir(staging) if p.endswith(".parquet")][0]
    shutil.move(os.path.join(staging, part), path)


def test_optimize_incremental_two_file_table_job_budget(spark, tmp_path):
    """The plan comes from the footers: compacting a two-file table runs
    the bin's write and nothing else — no planning, envelope or report
    job (the report is a local frame)."""
    table = tmp_path / "t"
    table.mkdir()
    for name, lo, hi in (("a.parquet", 0, 100), ("b.parquet", 100, 150)):
        _parquet_file(spark, tmp_path, str(table / name),
                      spark.range(lo, hi).select(F.col("id").alias("k")))
    before = _next_job_id(spark)
    report = scale.optimize_incremental(spark, str(table), ["k"], 1000).collect()
    assert _next_job_id(spark) - before <= 2
    assert [(r.file, r.rows, r.action) for r in report] == [
        ("a.parquet", 100, "rewritten"), ("b.parquet", 50, "rewritten")
    ]
    assert spark.read.parquet(str(table)).count() == 150


def test_footer_envelope_equals_min_max_over_row_groups(spark, tmp_path):
    """The footer envelope of a file with several row groups, negative
    keys and NULLs equals F.min/F.max over the file; a NULL-only or
    absent column contributes nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 1000
    path = str(tmp_path / "rg.parquet")
    pq.write_table(
        pa.table({
            "k": pa.array([(i * 7919) % 2003 - 1500 for i in range(n)], pa.int64()),
            "s": pa.array([None if i % 3 else -i for i in range(n)], pa.int32()),
            "z": pa.array([None] * n, pa.int64()),
        }),
        path,
        row_group_size=128,
    )
    meta = pq.read_metadata(path)
    assert meta.num_row_groups > 1
    want = spark.read.parquet(path).agg(
        *[f(c).cast("long") for c in ("k", "s") for f in (F.min, F.max)]
    ).collect()[0]
    env = scale._footer_envelope(meta, ["k", "s", "z", "absent"])
    assert env == {
        "k": (want[0], want[1]), "s": (want[2], want[3]),
        "z": (None, None), "absent": (None, None),
    }
    assert want[0] < 0


def test_optimize_incremental_unbounded_member_raises_null_envelope(spark, tmp_path):
    """A bin whose z column has no footer min/max to plan from raises
    the NULL-envelope error before anything is written: a member that
    holds values but no statistics, or members that are all NULL."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def table_of(name, files):
        t = tmp_path / name
        t.mkdir()
        for fname, values, stats in files:
            pq.write_table(pa.table({"k": pa.array(values, pa.int64())}),
                           str(t / fname), write_statistics=stats)
        return t

    no_stats = table_of("no_stats", [("a.parquet", [1, 2], False),
                                     ("b.parquet", [3, 4], True)])
    all_null = table_of("all_null", [("a.parquet", [None, None], True),
                                     ("b.parquet", [None], True)])
    for t in (no_stats, all_null):
        before = sorted(os.listdir(t))
        with pytest.raises(ValueError, match="NULL envelope"):
            scale.optimize_incremental(spark, str(t), ["k"], 100)
        assert sorted(n for n in os.listdir(t) if not n.startswith("_")) == before
