"""Streaming module tests (SURVEY M7): windowed aggs batch/stream
equivalence, watermarked dedup, custom stateful operator."""

from __future__ import annotations

import pytest

from data__converter_spark.session import load_events
from data__converter_spark.streaming import runner, stateful, windows

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_events(spark, SF)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_batch_counts_sum_to_total(events):
    out = windows.tumbling_counts(events, "1 hour")
    total = out.groupBy().sum("n_events").collect()[0][0]
    assert total == events.count()


def test_sliding_each_event_in_two_windows(events):
    out = windows.sliding_counts(events, "1 hour", "30 minutes")
    total = out.groupBy().sum("n_events").collect()[0][0]
    assert total == 2 * events.count()


def test_session_windows_merge_within_gap(events):
    out = windows.session_agg(events, "5 minutes")
    # sessions partition all events per user
    total = out.groupBy().sum("n_events").collect()[0][0]
    assert total == events.count()
    # every session spans >= its event count windowed by the gap rule:
    # start <= end always
    bad = out.filter("s_start > s_end").count()
    assert bad == 0


def test_stream_tumbling_equals_batch(spark, events):
    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    )
    got = runner.run_once(windows.tumbling_counts(stream, "1 hour"))
    want = windows.tumbling_counts(events, "1 hour")
    cols = ["w_start", "w_end", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_session_equals_batch(spark, events):
    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    )
    got = runner.run_once(windows.session_agg(stream, "5 minutes"))
    want = windows.session_agg(events, "5 minutes")
    cols = ["s_start", "s_end", "user_id", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_dedup_within_watermark(spark, events):
    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    )
    deduped = windows.dedup_within_watermark(stream, ["user_id"])
    got = runner.run_once(deduped.select("user_id"), output_mode="append")
    n_users = events.select("user_id").distinct().count()
    assert got.count() == n_users


def test_stream_static_enrichment_equals_batch(spark, events):
    import pyspark.sql.functions as F

    # static dimension: per-user segment derived once, batch-side
    dim = events.groupBy("user_id").agg(
        F.min("event_type").alias("first_type")
    )
    stream = windows.with_event_time(runner.read_events_stream(spark, SF))
    got = runner.run_once(
        windows.enrich_stream(stream, dim, "user_id").select(
            "event_id", "first_type"
        ),
        output_mode="append",
    )
    want = events.join(dim, "user_id").select("event_id", "first_type")
    cols = ["event_id", "first_type"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stateful_running_totals_matches_batch(spark, events):
    stream = windows.with_event_time(runner.read_events_stream(spark, SF))
    got = runner.run_once(
        stateful.running_user_totals(stream), output_mode="update"
    )
    # update mode re-emits per batch; keep the final row per user
    import pyspark.sql.functions as F

    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
    )
    want = stateful.running_user_totals(events)
    a = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in final.collect()}
    b = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in want.collect()}
    assert a == b


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """A row hours older than the checkpointed watermark is dropped
    when the query resumes (numRowsDroppedByWatermark).

    Empirically (Spark 4.1): within ONE availableNow run the watermark
    advances between micro-batches but the late-row filter keeps the
    run's initial value — strict dropping only kicks in once the
    watermark is committed to the checkpoint and the query restarts,
    which is exactly the long-running-pipeline scenario."""
    import pyspark.sql.functions as F
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "src"
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")
    d.mkdir()

    def mk(rows):
        return (
            spark.createDataFrame(rows, "event_id long, ts_s string, value double")
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
        )

    def write(name, df):
        pq.write_table(
            pa.Table.from_pandas(df.toPandas()),
            str(d / name),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    def run():
        stream = (
            spark.readStream.schema("event_id long, value double, ts timestamp")
            .parquet(str(d) + "/*")
            .withWatermark("ts", "10 minutes")
        )
        agg = (
            stream.groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
            .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    write("f1.parquet", mk([(1, "2024-01-01 10:00:00", 1.0),
                            (2, "2024-01-01 10:20:00", 1.0)]))
    run()  # commits watermark 10:10 to the checkpoint
    write("f2.parquet", mk([(3, "2024-01-01 01:00:00", 1.0),   # hours late
                            (4, "2024-01-01 10:30:00", 1.0)]))  # on time
    q2 = run()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q2.recentProgress
    )
    assert dropped == 1
    emitted = spark.read.schema("w string, n long").parquet(out)
    assert not any(r.w == "01:00" for r in emitted.collect())


def test_stream_dedup_keys_match_deterministic_batch_form(spark, events):
    # the oracle-checked batch form (workloads.q_stream_dedup_first)
    # must keep exactly the key set the streaming dedup keeps
    from data__converter_spark.workloads import q_stream_dedup_first

    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    )
    deduped = windows.dedup_within_watermark(stream, ["user_id", "event_type"])
    got = sorted(
        (r["user_id"], r["event_type"])
        for r in runner.run_once(
            deduped.select("user_id", "event_type"), output_mode="append"
        ).collect()
    )
    want = sorted(
        (r["user_id"], r["event_type"])
        for r in q_stream_dedup_first(spark, SF).collect()
    )
    assert got == want


def test_stream_stream_range_join_equals_batch(spark, events):
    # the stream-stream time-bounded join must reproduce the batch
    # range join (workloads.q_range_join_attribution semantics)
    import pyspark.sql.functions as F

    from data__converter_spark.joins import range_join

    src = windows.with_event_time(runner.read_events_stream(spark, SF))
    clicks = src.filter("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = src.filter("event_type = 'purchase'").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    joined = windows.stream_range_join(
        clicks, purchases, "user_id", within="30 minutes"
    )
    got = sorted(
        (r["user_id"], r["from_click_id"], r["to_purchase_id"])
        for r in runner.run_once(
            joined.select("user_id", "from_click_id", "to_purchase_id"),
            output_mode="append",
        ).collect()
    )
    bev = windows.with_event_time(events)
    b_clicks = bev.filter("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    b_purch = bev.filter("event_type = 'purchase'").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    want = sorted(
        (r["user_id"], r["from_click_id"], r["to_purchase_id"])
        for r in range_join(b_clicks, b_purch, "user_id", within="30 minutes")
        .select("user_id", "from_click_id", "to_purchase_id")
        .collect()
    )
    assert got == want and len(got) > 0


def test_stream_checkpoint_restart_no_reprocess(spark, tmp_path):
    """Exactly-once over the events file source: a second run over the
    SAME checkpoint finds no new source offsets and emits nothing —
    restart-safe resume rather than reprocess-and-duplicate."""
    from data__converter_spark.streaming.runner import read_events_stream

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once_more():
        s = read_events_stream(spark, "/root/testdata/sf0.001")
        (
            s.select("event_id", "user_id", "ts")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    run_once_more()
    n1 = spark.read.parquet(out).count()
    run_once_more()  # restart from the same checkpoint
    n2 = spark.read.parquet(out).count()
    batch_n = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert n1 == n2 == batch_n


def test_cdc_upsert_sink_merges_and_resumes(spark, tmp_path):
    """foreachBatch CDC sink: the streamed events merge into a keyed
    parquet table with updates-win semantics, and a second run over the
    same checkpoint finds no new offsets and leaves the table
    unchanged (exactly-once at the table level)."""
    from data__converter_spark.streaming.runner import (
        read_events_stream,
        run_cdc_upsert,
    )

    table = str(tmp_path / "events_table")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, SF)
    run_cdc_upsert(src, table, ckpt, key="event_id", order_col="event_id")

    batch = spark.read.parquet(f"{SF}/events.parquet")
    out = spark.read.parquet(table)
    assert out.count() == batch.select("event_id").distinct().count()
    assert sorted(out.columns) == sorted(batch.columns)

    # replay over the same checkpoint: no new offsets -> table unchanged
    before = sorted(r["event_id"] for r in out.select("event_id").collect())
    run_cdc_upsert(
        read_events_stream(spark, SF), table, ckpt,
        key="event_id", order_col="event_id",
    )
    after = sorted(
        r["event_id"]
        for r in spark.read.parquet(table).select("event_id").collect()
    )
    assert before == after


def test_cdc_upsert_stream_equals_batch_form(spark, tmp_path):
    """The REAL streaming path (readStream -> foreachBatch merge ->
    atomic table swap) over events_cdc_base produces row-for-row the
    same table as the batch-mode merge the stream_cdc_upsert oracle
    query runs — the stream/batch equivalence contract behind that
    oracle entry."""
    from data__converter_spark import compare
    from data__converter_spark.session import load_events
    from data__converter_spark.streaming.runner import (
        read_events_stream,
        run_cdc_upsert,
    )
    from data__converter_spark.workloads import events_cdc_base

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    ev = load_events(spark, SF).select(*cols)
    base = events_cdc_base(ev)

    table = str(tmp_path / "cdc_table")
    base.write.parquet(table)
    run_cdc_upsert(
        read_events_stream(spark, SF).select(*cols),
        table, str(tmp_path / "ckpt"),
        key="event_id", order_col="event_id",
    )
    streamed = spark.read.parquet(table)

    batch_merged = compare.upsert(
        base, compare.dedup_last_wins(ev, "event_id", order_col="event_id"),
        "event_id",
    )
    got = sorted(map(tuple, streamed.select(*cols).collect()))
    want = sorted(map(tuple, batch_merged.select(*cols).collect()))
    assert got == want and len(got) > 0


def test_cdc_upsert_recovers_half_finished_swap(spark, tmp_path):
    """Crash-safety of the CDC table swap: a crash between renaming the
    old table aside and promoting staging leaves staging (the committed
    merge) but no live table. The next merge must PROMOTE that staging
    before reading the base — discarding it would silently drop every
    previously merged key (the data-loss scenario this pins)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data__converter_spark.streaming.runner import (
        read_events_stream,
        run_cdc_upsert,
    )

    table = str(tmp_path / "events_table")
    batch = spark.read.parquet(f"{SF}/events.parquet")
    # a base table holding keys the stream will never deliver
    base = batch.limit(2).withColumn(
        "event_id", F.col("event_id") * F.lit(-1) - F.lit(1)
    )
    base.write.parquet(table)
    kept = {r["event_id"] for r in spark.read.parquet(table).collect()}
    assert all(k < 0 for k in kept) and kept

    # simulate the mid-swap crash: staging fully committed (_SUCCESS),
    # old table renamed aside, promotion never happened
    os.rename(table, f"{table}__staged")
    os.makedirs(f"{table}__bak")
    assert os.path.exists(f"{table}__staged/_SUCCESS")

    run_cdc_upsert(
        read_events_stream(spark, SF), table, str(tmp_path / "ckpt2"),
        key="event_id", order_col="event_id",
    )
    out_ids = {r["event_id"] for r in spark.read.parquet(table).collect()}
    assert kept <= out_ids, "previously merged keys lost in crash recovery"
    assert out_ids - kept == {
        r["event_id"] for r in batch.select("event_id").distinct().collect()
    }
    assert not os.path.exists(f"{table}__bak")
    assert not os.path.exists(f"{table}__staged")
    shutil.rmtree(table, ignore_errors=True)


def test_cdc_upsert_kill_between_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """Kill-point drive of the swap itself: commit.rename is patched to
    die BETWEEN the rename-aside and the staging promotion (the window
    the round-5 recovery code covers but no test exercised). The killed
    run leaves no live table; the rerun over the same checkpoint must
    promote staging, replay the epoch idempotently, and lose no keys."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data__converter_spark import commit
    from data__converter_spark.streaming.runner import (
        read_events_stream,
        run_cdc_upsert,
    )

    table = str(tmp_path / "events_table")
    ckpt = str(tmp_path / "ckpt")
    batch = spark.read.parquet(f"{SF}/events.parquet")
    # a base table holding keys the stream will never deliver — these
    # are exactly what a discard-staging bug would destroy
    base = batch.limit(2).withColumn(
        "event_id", F.col("event_id") * F.lit(-1) - F.lit(1)
    )
    base.write.parquet(table)
    kept = {r["event_id"] for r in spark.read.parquet(table).collect()}
    assert kept and all(k < 0 for k in kept)

    real_rename = commit.rename
    calls = {"n": 0}

    def dying_rename(spark, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between the two renames")
        real_rename(spark, src, dst)

    with monkeypatch.context() as m:
        m.setattr(commit, "rename", dying_rename)
        with pytest.raises(Exception, match="simulated crash"):
            run_cdc_upsert(
                read_events_stream(spark, SF), table, ckpt,
                key="event_id", order_col="event_id",
            )
    # the crash window: old table renamed aside, staging committed
    assert not os.path.isdir(table)
    assert os.path.exists(f"{table}__staged/_SUCCESS")

    run_cdc_upsert(
        read_events_stream(spark, SF), table, ckpt,
        key="event_id", order_col="event_id",
    )
    out_ids = {r["event_id"] for r in spark.read.parquet(table).collect()}
    assert kept <= out_ids, "previously merged keys lost at the kill point"
    assert out_ids - kept == {
        r["event_id"] for r in batch.select("event_id").distinct().collect()
    }
    assert not os.path.exists(f"{table}__bak")
    assert not os.path.exists(f"{table}__staged")
    shutil.rmtree(table, ignore_errors=True)


def test_cdc_upsert_kill_before_bak_cleanup_recovers(
    spark, tmp_path, monkeypatch
):
    """The second interruption window: both renames completed, the
    crash hits before the old-table cleanup. The table is already live,
    so the rerun must just sweep the leftover __bak and replay the
    epoch without duplicating or losing rows."""
    import os
    import shutil

    from data__converter_spark import commit
    from data__converter_spark.streaming.runner import (
        read_events_stream,
        run_cdc_upsert,
    )

    table = str(tmp_path / "events_table")
    ckpt = str(tmp_path / "ckpt")
    batch = spark.read.parquet(f"{SF}/events.parquet")
    spark.read.parquet(f"{SF}/events.parquet").limit(3).write.parquet(table)

    real_delete = commit.delete

    def dying_delete(spark, path):
        if path == f"{table}__bak":
            raise RuntimeError("simulated crash before bak cleanup")
        real_delete(spark, path)

    with monkeypatch.context() as m:
        m.setattr(commit, "delete", dying_delete)
        with pytest.raises(Exception, match="simulated crash"):
            run_cdc_upsert(
                read_events_stream(spark, SF), table, ckpt,
                key="event_id", order_col="event_id",
            )
    # the crash window: swap done (table live), bak not yet swept
    assert os.path.isdir(table) and os.path.isdir(f"{table}__bak")

    run_cdc_upsert(
        read_events_stream(spark, SF), table, ckpt,
        key="event_id", order_col="event_id",
    )
    out = spark.read.parquet(table)
    assert out.count() == batch.select("event_id").distinct().count()
    assert not os.path.exists(f"{table}__bak")
    shutil.rmtree(table, ignore_errors=True)


def test_stream_active_users_equals_batch(spark, events):
    """The dedup-then-count decomposition must produce identical
    distinct-user counts on the real readStream path (complete mode —
    windows finalize as the watermark passes) as on the batch frame."""
    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    )
    got = runner.run_once(windows.active_users(stream, "1 hour", "30 minutes"))
    want = windows.active_users(
        windows.with_event_time(events), "1 hour", "30 minutes"
    )
    cols = ["w_start", "w_end", "n_users"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_outer_range_join_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: the unmatched click must be
    EMITTED by the incremental engine once the watermark proves no
    purchase can still arrive — two file-chunks force two micro-batches
    so the watermark actually advances (plus the default no-data batch
    that flushes evicted state)."""
    import datetime as dt
    import os

    import pyspark.sql.functions as F

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    d = str(tmp_path / "ev")
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    chunk_a = spark.createDataFrame(
        [
            (1, base, 1, "click"),
            (2, base, 2, "click"),  # never converts
            (1, base + dt.timedelta(minutes=10), 3, "purchase"),
        ],
        schema,
    )
    # the engine's global watermark is the MIN across both join inputs,
    # so chunk b advances BOTH sides (a late click AND a late purchase,
    # different users — they must not join)
    chunk_b = spark.createDataFrame(
        [
            (9, base + dt.timedelta(hours=3), 9, "click"),
            (8, base + dt.timedelta(hours=3), 8, "purchase"),
        ],
        schema,
    )
    chunk_a.coalesce(1).write.parquet(d + "/a")
    chunk_b.coalesce(1).write.parquet(d + "/b")
    # file-source batch order follows modification time: a first
    for sub, ts in (("a", 1_700_000_000), ("b", 1_700_000_100)):
        for f in os.listdir(f"{d}/{sub}"):
            os.utime(f"{d}/{sub}/{f}", (ts, ts))

    src = (
        spark.readStream.schema(chunk_a.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    clicks = src.filter("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = src.filter("event_type = 'purchase'").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    joined = windows.stream_range_join(
        clicks,
        purchases,
        "user_id",
        within="30 minutes",
        watermark="10 minutes",
        how="left_outer",
    )
    got = sorted(
        (r["user_id"], r["from_click_id"], r["to_purchase_id"])
        for r in runner.run_once(
            joined.select("user_id", "from_click_id", "to_purchase_id"),
            output_mode="append",
        ).collect()
    )
    # matched pair emits; unmatched click 2 emits with a NULL purchase
    # once the chunk-b watermark passes its eviction time; click 9 sits
    # beyond the final watermark and must NOT emit (yet)
    assert got == [(1, 1, 3), (2, 2, None)], got


def test_stream_band_candidates_equals_batch(spark, tmp_path):
    """Dedup-on-ingest: the stateful per-bucket LSH operator, driven
    across TWO micro-batches (state genuinely crosses batches), emits
    exactly the batch banded-LSH candidate set — canonical (min, max)
    pairs, duplicates across bands collapsed for the compare."""
    import os

    from data__converter_spark.scale import release_persisted
    from data__converter_spark.streaming.runner import run_once
    from data__converter_spark.streaming.stateful import band_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "docs_stream")
    os.makedirs(d)
    half = docs.count() // 2
    docs.filter(docs.doc_id < half).coalesce(1).write.parquet(f"{d}/c1")
    docs.filter(docs.doc_id >= half).coalesce(1).write.parquet(f"{d}/c2")

    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in run_once(
            band_candidates(stream), output_mode="append"
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in band_candidates(spark.read.parquet(f"{d}/c1").unionByName(
            spark.read.parquet(f"{d}/c2")
        )).collect()
    }
    release_persisted()
    assert want, "batch candidate set empty — test corpus too clean"
    assert got == want


def test_run_ingest_update_releases_every_batch_frame(spark, tmp_path):
    """Each micro-batch of the streaming ingest releases every frame it
    held — the batch checkpoint and the ingest's own persisted and
    pinned intermediates: after two micro-batches the registry has not
    grown and no RDD the batches cached keeps cached partitions."""
    from data__converter_spark import scale
    from data__converter_spark.llmops.pipeline import ingest_state_build
    from data__converter_spark.streaming.runner import run_ingest_update

    schema = "doc_id long, text string"
    kw = dict(k=3, num_hashes=64, bands=16, threshold=0.3)
    path = str(tmp_path / "state")
    ingest_state_build(
        spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "one two three four five six seven"),
            ],
            schema,
        ),
        path,
        **kw,
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sc = spark.sparkContext._jsc.sc()

    def cached_rdds():
        return {
            i.id() for i in sc.getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        }

    scale.release_persisted()
    cached = cached_rdds()
    for name, rows in (
        ("b1", [(10, "alpha beta gamma delta epsilon zeta eta")]),
        ("b2", [(11, "one two three four five six seven eight")]),
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )
        run_ingest_update(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src)),
            path, ckpt, timeout_s=600, **kw,
        )
        assert cached_rdds() <= cached, name
        assert scale.release_persisted() == 0, name
    receipts = spark.read.parquet(f"{path}/receipts")
    assert sorted(r["doc_id"] for r in receipts.collect()) == [10, 11]


def test_stream_band_candidates_bucket_cap(spark, tmp_path):
    """max_bucket_size stops ADMITTING members: identical docs all land
    in the same buckets, so a cap of 2 emits only the first pair and
    later arrivals are silent."""
    import os

    from data__converter_spark.streaming.runner import run_once
    from data__converter_spark.streaming.stateful import band_candidates

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "dup_stream")
    os.makedirs(d)
    df.coalesce(1).write.parquet(f"{d}/c1")
    stream = (
        spark.readStream.schema(df.schema)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in run_once(
            band_candidates(stream, max_bucket_size=2),
            output_mode="append",
        ).collect()
    }
    assert got == {(0, 1)}


def test_stream_band_candidates_state_survives_restart(spark, tmp_path):
    """Exactly-once across restarts: run 1 ingests chunk A over a
    checkpoint; run 2 (same checkpoint) ingests chunk B only — its
    emissions must pair B against the PERSISTED bucket state from A
    without re-emitting any A-internal pair, and the union of both
    runs must equal the batch candidate set over A∪B."""
    import os

    from data__converter_spark.scale import release_persisted
    from data__converter_spark.streaming.stateful import band_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(d)
    half = docs.count() // 2
    a = docs.filter(docs.doc_id < half)
    b = docs.filter(docs.doc_id >= half)
    a.coalesce(1).write.parquet(f"{d}/c1")

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        q = (
            band_candidates(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()
    }
    b.coalesce(1).write.parquet(f"{d}/c2")
    run()  # restart: only chunk B is a new offset
    both = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()
    }
    second = both - first
    # run 2 emitted only pairs INVOLVING a chunk-B doc (state from A
    # persisted in the checkpoint, never re-emitted)
    assert second, "restart emitted nothing — state lost or no overlap"
    assert all(p[0] >= half or p[1] >= half for p in second), second
    want = {
        (r["id_a"], r["id_b"])
        for r in band_candidates(docs).collect()
    }
    release_persisted()
    assert both == want


@pytest.mark.slow
def test_stream_band_candidates_ttl_plumbs_through(spark, tmp_path):
    """state_ttl_minutes wires up the processing-time timeout without
    changing results while nothing expires: a generous TTL over a
    two-batch run must emit exactly the no-TTL pair set (the eviction
    branch itself is recall-trading by design and exercised only by
    long-idle wall-clock, which a deterministic test cannot wait on)."""
    import os

    from data__converter_spark.scale import release_persisted
    from data__converter_spark.streaming.runner import run_once
    from data__converter_spark.streaming.stateful import band_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "src")
    os.makedirs(d)
    half = docs.count() // 2
    docs.filter(docs.doc_id < half).coalesce(1).write.parquet(f"{d}/c1")
    docs.filter(docs.doc_id >= half).coalesce(1).write.parquet(f"{d}/c2")

    def run(**kw):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        return {
            (r["id_a"], r["id_b"])
            for r in run_once(
                band_candidates(stream, **kw), output_mode="append"
            ).collect()
        }

    with_ttl = run(state_ttl_minutes=120)
    want = {
        (r["id_a"], r["id_b"]) for r in band_candidates(docs).collect()
    }
    release_persisted()
    assert with_ttl == want


def test_stream_hll_distinct_equals_batch_on_closed_windows(spark, events):
    """Windowed HLL distinct (windows.windowed_hll_distinct) runs the
    register aggregation AND the estimate as one chained streaming
    topology (append mode; Spark 4 multi-stateful-agg). Append emits
    only watermark-closed windows — every emitted row must be
    bit-identical to the batch form's row for that window; at least one
    window must have emitted."""
    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    )
    got = runner.run_once(
        windows.windowed_hll_distinct(stream, "1 day"), "append"
    )
    cols = ["w_start", "w_end", "est_distinct", "v_zero", "s_denom",
            "small_range"]
    batch = {
        r["w_start"]: tuple(r[c] for c in cols)
        for r in windows.windowed_hll_distinct(events, "1 day").collect()
    }
    emitted = _rows(got, cols)
    assert len(emitted) > 0
    for row in emitted:
        assert batch[row[0]] == row


def test_stream_cms_heavy_equals_batch_on_closed_windows(spark, events):
    """Windowed CMS heavy-hitter estimates (windows.windowed_cms_heavy)
    run grid aggregation -> static probe join -> per-(window, key) min
    as one chained streaming topology (append mode, Spark 4
    multi-stateful-agg). Every watermark-closed emitted row must be
    bit-identical to the batch form's row for that (window, key); at
    least one must emit."""
    probes = (
        events.groupBy(events.user_id.cast("string").alias("k"))
        .count()
        .orderBy("count", ascending=False)
        .limit(3)
        .select("k")
    )
    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    )
    got = runner.run_once(
        windows.windowed_cms_heavy(stream, probes, "1 day"), "append"
    )
    cols = ["w_start", "w_end", "k", "cms_est"]
    batch = {
        (r["w_start"], r["k"]): tuple(r[c] for c in cols)
        for r in windows.windowed_cms_heavy(events, probes, "1 day").collect()
    }
    emitted = _rows(got, cols)
    assert len(emitted) > 0
    for row in emitted:
        assert batch[(row[0], row[2])] == row


def test_stream_drift_guard_equals_batch_on_closed_windows(spark, events):
    """Windowed histogram drift (windows.windowed_histogram_drift)
    runs band counts -> chained per-window total -> static reference
    broadcast join as one streaming topology (append mode, Spark 4
    multi-stateful-agg). Every watermark-closed emitted row must be
    bit-identical to the batch form's row for that (window, bucket);
    at least one window must emit."""
    from pyspark.sql import functions as F

    # tiny static reference: the first 2 days' value bands
    cut = F.lit("2024-01-03 00:00:00").cast("timestamp")
    ref_slice = events.filter(F.col("ts") < cut)
    rh = (
        ref_slice.select(
            F.expr("floor(value * 100.0 + 0.5) div 5000")
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("rn"))
    )
    rt = ref_slice.agg(F.count(F.lit(1)).cast("long").alias("rtot"))
    ref_milli = rh.crossJoin(F.broadcast(rt)).select(
        "bucket", F.expr("rn * 1000 div rtot").cast("long").alias("milli_ref")
    )

    stream = windows.with_event_time(
        runner.read_events_stream(spark, SF), watermark="1 day"
    ).filter(F.col("ts") >= cut)
    got = runner.run_once(
        windows.windowed_histogram_drift(stream, ref_milli, "1 day"), "append"
    )
    cols = ["w_start", "w_end", "bucket", "n", "milli_w", "milli_ref",
            "diff_milli"]
    batch = {
        (r["w_start"], r["bucket"]): tuple(r[c] for c in cols)
        for r in windows.windowed_histogram_drift(
            events.filter(F.col("ts") >= cut), ref_milli, "1 day"
        ).collect()
    }
    emitted = _rows(got, cols)
    assert len(emitted) > 0
    for row in emitted:
        assert batch[(row[0], row[2])] == row


def test_scd2_stream_maintenance_equals_batch_build(spark, tmp_path):
    """Streaming SCD2 dimension maintenance (runner.run_scd2_apply):
    the event stream arrives as three time-ordered micro-batches
    (maxFilesPerTrigger=1); the first builds the dimension, the later
    ones apply incrementally — and the final table is row-for-row the
    batch scd2 over the full stream.  A replay over the same
    checkpoint is a no-op (offsets), and a replay with a FRESH
    checkpoint is ALSO a no-op because scd2_apply itself is
    idempotent: every replayed row is late or a no-op against the
    current state."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from data__converter_spark.session import load_events
    from data__converter_spark.temporal import scd2
    from data__converter_spark.streaming.runner import run_scd2_apply

    ev = load_events(spark, SF).select("user_id", "event_type", "ts", "event_id")
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    cuts = [None, "2024-01-11", "2024-01-21", None]
    for i in range(3):
        lo, hi = cuts[i], cuts[i + 1]
        part = ev
        if lo:
            part = part.filter(F.col("ts").cast("timestamp") >= F.lit(lo).cast("timestamp"))
        if hi:
            part = part.filter(F.col("ts").cast("timestamp") < F.lit(hi).cast("timestamp"))
        stage = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        (one,) = glob.glob(f"{stage}/part-*.parquet")
        # sequential copies give strictly increasing mtimes, which is
        # the file source's processing order under maxFilesPerTrigger=1
        shutil.copy(one, str(src_dir / f"t{i}.parquet"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    table = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    run_scd2_apply(
        stream, table, ckpt, "user_id", ["event_type"], "ts", "event_id"
    )

    want = sorted(
        map(tuple, scd2(ev, "user_id", ["event_type"], "ts", "event_id").collect())
    )
    cols = ["user_id", "event_type", "valid_from", "valid_to", "is_current"]
    got = sorted(map(tuple, spark.read.parquet(table).select(*cols).collect()))
    assert got == want

    # same checkpoint: no new offsets -> untouched
    stream2 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    run_scd2_apply(
        stream2, table, ckpt, "user_id", ["event_type"], "ts", "event_id"
    )
    assert sorted(map(tuple, spark.read.parquet(table).select(*cols).collect())) == want

    # FRESH checkpoint: every batch replays; operator idempotence must
    # leave the dimension bit-identical
    stream3 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    run_scd2_apply(
        stream3, table, str(tmp_path / "ckpt2"),
        "user_id", ["event_type"], "ts", "event_id",
    )
    assert sorted(map(tuple, spark.read.parquet(table).select(*cols).collect())) == want


def test_stream_transition_steps_stitch_across_batches(spark, tmp_path):
    """transition_steps: the first event of batch 2 must pair with the
    last event of batch 1 held in GroupState — the boundary step is
    exactly what a per-batch lag window would silently drop."""
    import os

    import pyspark.sql.functions as F

    from data__converter_spark.streaming.runner import run_once
    from data__converter_spark.streaming.stateful import transition_steps

    rows1 = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:01:00", 1, "click"),
        (3, "2024-01-01 00:00:30", 2, "view"),
    ]
    rows2 = [
        (4, "2024-01-01 00:02:00", 1, "purchase"),  # boundary: click->purchase
        (5, "2024-01-01 00:03:00", 2, "click"),     # boundary: view->click
        (6, "2024-01-01 00:04:00", 2, "view"),
    ]
    schema = "event_id long, ts string, user_id long, event_type string"

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )

    d = str(tmp_path / "ev_stream")
    os.makedirs(d)
    mk(rows1).coalesce(1).write.parquet(f"{d}/c1")
    mk(rows2).coalesce(1).write.parquet(f"{d}/c2")
    stream = (
        spark.readStream.schema(mk(rows1).schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    got = {
        (r["user_id"], r["from_state"], r["to_state"], r["event_id"])
        for r in run_once(transition_steps(stream), output_mode="append").collect()
    }
    want = {
        (r["user_id"], r["from_state"], r["to_state"], r["event_id"])
        for r in transition_steps(
            mk(rows1).unionByName(mk(rows2))
        ).collect()
    }
    assert want == {
        (1, "view", "click", 2),
        (1, "click", "purchase", 4),
        (2, "view", "click", 5),
        (2, "click", "view", 6),
    }
    assert got == want


def test_stream_transition_steps_sorts_within_batch(spark, tmp_path):
    """Within one micro-batch, steps follow (ts, event_id) order, not
    arrival order — identical tiebreak to the batch lag window."""
    import os

    import pyspark.sql.functions as F

    from data__converter_spark.streaming.runner import run_once
    from data__converter_spark.streaming.stateful import transition_steps

    rows = [  # deliberately out of order in the file
        (2, "2024-01-01 00:01:00", 1, "click"),
        (1, "2024-01-01 00:00:00", 1, "view"),
        (3, "2024-01-01 00:01:00", 1, "purchase"),  # ts tie: eid 2 < 3
    ]
    schema = "event_id long, ts string, user_id long, event_type string"
    df = spark.createDataFrame(rows, schema).withColumn(
        "ts", F.to_timestamp("ts")
    )
    d = str(tmp_path / "oo_stream")
    os.makedirs(d)
    df.coalesce(1).write.parquet(f"{d}/c1")
    stream = (
        spark.readStream.schema(df.schema)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    got = {
        (r["from_state"], r["to_state"], r["event_id"])
        for r in run_once(transition_steps(stream), output_mode="append").collect()
    }
    assert got == {("view", "click", 2), ("click", "purchase", 3)}


def test_stream_agg_state_equals_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming IVM (runner.run_agg_state): the per-user aggregate
    state built across two micro-batches equals the one-shot batch
    aggregate; the derived join view (ivm.join_view_state) inherits
    it. Aggregate merge is NOT idempotent by semantics, so the table's
    __epoch__ guard supplies exactly-once: same-epoch crash replay is
    a free no-op, and an epoch REGRESSION (a fresh checkpoint driving
    an already-built state — batch ids restart at 0, so skipping
    would drop new data and merging would double-count) must RAISE,
    leaving the state untouched."""
    import glob
    import shutil

    import pyspark.sql.functions as F

    from data__converter_spark.ivm import aggregate_state, join_view_state
    from data__converter_spark.streaming.runner import run_agg_state

    rows1 = [(1, 1, 10), (2, 1, 5), (3, 2, 7)]
    rows2 = [(4, 1, 2), (5, 3, 9)]
    schema = "event_id long, user_id long, v long"
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate((rows1, rows2)):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        (one,) = glob.glob(f"{stage}/part-*.parquet")
        shutil.copy(one, str(src / f"t{i}.parquet"))

    measures = {"n": ("count", None), "s": ("sum", "v"), "mx": ("max", "v")}

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )

    table = str(tmp_path / "state")
    run_agg_state(stream(), table, str(tmp_path / "ckpt1"), ["user_id"], measures)

    full = spark.createDataFrame(rows1 + rows2, schema)
    want = sorted(
        map(tuple, aggregate_state(full, ["user_id"], measures).collect())
    )
    state = spark.read.parquet(table)
    got = sorted(map(tuple, state.drop("__epoch__").collect()))
    assert got == want
    assert state.agg(F.max("__epoch__")).collect()[0][0] == 1  # two epochs

    # derived join view == full-rebuild view
    dim = spark.createDataFrame([(1, "g1"), (2, "g2"), (3, "g1")], "user_id long, g string")
    view = join_view_state(
        spark.read.parquet(table).drop("__epoch__"), dim, "user_id", ["g"], measures
    )
    full_view = (
        full.join(dim, "user_id")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
    )
    assert sorted(map(tuple, view.collect())) == sorted(
        map(tuple, full_view.collect())
    )

    # FRESH checkpoint against the built state: batch ids restart at
    # 0 < stored epoch 1 — the guard must raise (not skip: a fresh
    # checkpoint may pack NEW files into those low ids; not merge:
    # the old rows would double-count) and leave the table untouched
    with pytest.raises(Exception, match="different\\s+checkpoint"):
        run_agg_state(
            stream(), table, str(tmp_path / "ckpt2"), ["user_id"], measures
        )
    again = sorted(
        map(tuple, spark.read.parquet(table).drop("__epoch__").collect())
    )
    assert again == want


def test_agg_state_combine_epoch_contract(spark):
    """The epoch-guarded merge body, unit-level: advance merges,
    same-epoch replay returns None (free no-op), regression raises."""
    from data__converter_spark.ivm import aggregate_state
    from data__converter_spark.streaming.runner import _agg_state_combine

    measures = {"n": ("count", None), "s": ("sum", "v")}
    combine = _agg_state_combine(["k"], measures)
    b0 = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v long")
    b1 = spark.createDataFrame([("a", 4)], "k string, v long")

    state0 = combine(None, b0, 0)
    assert {(r["k"], r["n"], r["s"]) for r in state0.collect()} == {("a", 2, 3)}
    state1 = combine(state0, b1, 1)
    assert {(r["k"], r["n"], r["s"]) for r in state1.collect()} == {("a", 3, 7)}
    # same-epoch crash replay: nothing to write
    assert combine(state1, b1, 1) is None
    # epoch regression: fresh checkpoint against a built state
    with pytest.raises(ValueError, match="different checkpoint"):
        combine(state1, b0, 0)


def test_crash_safe_merge_epoch_inference(spark, tmp_path):
    """Epoch-awareness inference counts only REQUIRED parameters: a
    defaulted extra (opts=None) is a 2-arg combine — batch_id must
    NOT be passed as the option; *args and 3-required-plus-defaults
    signatures demand an explicit epoch_aware."""
    from data__converter_spark.streaming.runner import _crash_safe_merge

    seen = {}

    def combine_with_opts(base, batch, opts=None):
        seen["opts"] = opts
        return batch

    merge = _crash_safe_merge(str(tmp_path / "t1"), combine_with_opts)
    merge(spark.createDataFrame([(1,)], "v long"), batch_id=7)
    assert seen["opts"] is None  # batch_id was NOT smuggled in

    def combine_epoch(base, batch, batch_id):
        seen["epoch"] = batch_id
        return batch

    merge2 = _crash_safe_merge(str(tmp_path / "t2"), combine_epoch)
    merge2(spark.createDataFrame([(1,)], "v long"), batch_id=9)
    assert seen["epoch"] == 9  # 3 required params -> epoch-aware

    def combine_ambiguous(base, batch, batch_id, opts=None):
        return batch

    with pytest.raises(ValueError, match="explicit"):
        _crash_safe_merge(str(tmp_path / "t3"), combine_ambiguous)

    def combine_varargs(*args):
        return args[1]

    with pytest.raises(ValueError, match="explicit"):
        _crash_safe_merge(str(tmp_path / "t4"), combine_varargs)


def test_streaming_text_index_equals_batch_build(spark, tmp_path):
    """The streaming index shape: documents arrive in micro-batches,
    each tokenized ONCE into tf rows appended to the crash-safe state
    table; index_from_tf over the state must produce EXACTLY the
    artifact the batch builder produces over the full corpus —
    ranking-identical BM25, row-identical postings/stats."""
    from data__converter_spark.llmops.similarity import (
        bm25_from_index,
        bm25_retrieval,
        build_text_index,
        index_from_tf,
    )
    from data__converter_spark.streaming.runner import run_text_index_update

    docs = [
        (1, "the zebra runs"),
        (2, "the the the"),
        (3, "the cat sat"),
        (4, "the dog sat on a mat"),
        (5, "zebra cat zebra"),
        (6, "a mat on a mat"),
    ]
    src = tmp_path / "docs_src"
    src.mkdir()
    # three files -> three micro-batches under maxFilesPerTrigger=1
    for i in range(3):
        spark.createDataFrame(
            docs[i * 2 : i * 2 + 2], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    table = str(tmp_path / "tf_state")
    run_text_index_update(
        stream, table, str(tmp_path / "ckpt"), col="text", id_col="doc_id"
    )
    state = spark.read.parquet(table)
    assert state.select("__epoch__").distinct().count() >= 2  # >1 batch
    s_post, s_stats = index_from_tf(state)
    c = spark.createDataFrame(docs, schema)
    b_post, b_stats = build_text_index(c)
    assert sorted(map(tuple, s_post.collect())) == sorted(
        map(tuple, b_post.collect())
    )
    assert s_stats.collect() == b_stats.collect()
    q = spark.createDataFrame([(100, "zebra mat")], schema)
    got = sorted(
        map(tuple, bm25_from_index(q, s_post, s_stats, top_k=6).collect())
    )
    want = sorted(map(tuple, bm25_retrieval(q, c, top_k=6).collect()))
    assert got == want


def test_text_index_combine_epoch_contract(spark):
    """Unit-level replay contract of the index append body: advance
    appends, same-epoch replay returns None, regression raises."""
    from data__converter_spark.streaming.runner import _text_index_combine

    combine = _text_index_combine("text", "doc_id")
    b0 = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    b1 = spark.createDataFrame([(2, "b c")], "doc_id long, text string")
    s0 = combine(None, b0, 0)
    got0 = {(r["match_id"], r["term"], r["tf"]) for r in s0.collect()}
    assert got0 == {(1, "a", 2), (1, "b", 1)}
    s1 = combine(s0, b1, 1)
    assert s1.count() == 4
    assert combine(s1, b1, 1) is None          # crash replay: free no-op
    with pytest.raises(ValueError, match="different checkpoint"):
        combine(s1, b0, 0)                     # fresh-checkpoint regression


def test_text_index_delete_equals_rebuild_and_replay_safe(spark):
    """Signed text-index maintenance (r11): a takedown appends the
    doc's NEGATED live tf rows; index_from_signed_tf over the signed
    state must equal build_text_index over the surviving docs exactly
    (postings and stats), deleting an unknown or already-deleted id is
    a no-op, and the signed batch rides the same epoch guard so a
    crash replay cannot double-retract."""
    from data__converter_spark.llmops.similarity import (
        build_text_index,
        index_from_signed_tf,
    )
    from data__converter_spark.streaming.runner import _text_index_combine

    combine = _text_index_combine("text", "doc_id", sign_col="sign")
    schema = "doc_id long, text string, sign long"
    b0 = spark.createDataFrame(
        [(1, "the zebra runs", 1), (2, "the the the", 1), (3, "zebra cat", 1)],
        schema,
    )
    s0 = combine(None, b0, 0)
    # batch 1: delete doc 2, insert doc 4
    b1 = spark.createDataFrame(
        [(2, None, -1), (4, "cat mat cat", 1)], schema
    )
    s1 = combine(s0, b1, 1)
    post, stats = index_from_signed_tf(s1)
    survivors = spark.createDataFrame(
        [(1, "the zebra runs"), (3, "zebra cat"), (4, "cat mat cat")],
        "doc_id long, text string",
    )
    b_post, b_stats = build_text_index(survivors)
    assert sorted(map(tuple, post.collect())) == sorted(
        map(tuple, b_post.collect())
    )
    assert stats.collect() == b_stats.collect()
    # crash replay of the signed epoch: free no-op, no double-retract
    assert combine(s1, b1, 1) is None
    # batch 2: delete doc 2 AGAIN (already gone) + an unknown id 99
    b2 = spark.createDataFrame([(2, None, -1), (99, None, -1)], schema)
    s2 = combine(s1, b2, 2)
    post2, stats2 = index_from_signed_tf(s2)
    assert sorted(map(tuple, post2.collect())) == sorted(
        map(tuple, b_post.collect())
    )
    assert stats2.collect() == b_stats.collect()


@pytest.mark.slow
def test_streaming_ann_index_equals_batch_append(spark, tmp_path):
    """The streaming ANN shape (r11): embeddings arrive in
    micro-batches, each encoded ONCE against the frozen books into
    unified (vid, cell, s, code) state rows; querying the state must
    equal querying the batch-built + batch-appended artifact exactly,
    and the epoch guard must make a replayed batch a free no-op."""
    import numpy as np

    from data__converter_spark.llmops.similarity import (
        ann_index_append,
        ann_index_build,
        ivf_pq_from_index,
        ivf_pq_from_state,
    )
    from data__converter_spark.streaming.runner import (
        _ann_index_combine,
        run_ann_index_update,
    )

    from pyspark.sql import functions as F

    rng = np.random.RandomState(23)
    vecs = rng.uniform(-1, 1, size=(30, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    schema = "vec_id long, embedding array<float>"
    full = spark.createDataFrame(rows, schema)
    base = full.filter(F.col("vec_id") % 3 != 0)
    probes = full.filter(F.col("vec_id") < 2)
    books = str(tmp_path / "books")
    ann_index_build(base, books, n_cells=4, m=2, n_codes=8, seed=42)

    # batch path: append the delta to the artifact
    delta_rows = [r for r in rows if r[0] % 3 == 0]
    ann_index_append(
        spark.createDataFrame(delta_rows, schema), books, m=2
    )
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )
    want = key(
        ivf_pq_from_index(spark, books, probes, k=5, nprobe=4, m=2).collect()
    )

    # streaming path: the SAME vectors arrive as micro-batches
    src = tmp_path / "vec_src"
    src.mkdir()
    all_rows = [r for r in rows if r[0] % 3 != 0] + delta_rows
    for i in range(3):
        spark.createDataFrame(
            all_rows[i * 10 : i * 10 + 10], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    table = str(tmp_path / "ann_state")
    run_ann_index_update(
        stream, books, table, str(tmp_path / "ckpt"), m=2
    )
    state = spark.read.parquet(table)
    assert state.select("__epoch__").distinct().count() >= 2
    got = key(
        ivf_pq_from_state(spark, books, state, probes, k=5, nprobe=4, m=2)
        .collect()
    )
    assert got == want

    # unit-level epoch contract
    combine = _ann_index_combine(books, "embedding", "vec_id", 2)
    b0 = spark.createDataFrame(all_rows[:5], schema)
    s0 = combine(None, b0, 0)
    assert combine(s0, b0, 0) is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different checkpoint"):
        combine(s0, b0, -1)


def test_compact_text_index_state_preserves_index_and_epoch_guard(spark, tmp_path):
    """Compaction of the signed tf state (r11): the derived index is
    bit-identical before and after, fully-retracted cells physically
    disappear, and the epoch guard still treats a replay of the last
    applied batch as a no-op."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.similarity import index_from_signed_tf
    from data__converter_spark.streaming.runner import (
        _text_index_combine,
        compact_text_index_state,
    )

    combine = _text_index_combine("text", "doc_id", sign_col="sign")
    schema = "doc_id long, text string, sign long"
    b0 = spark.createDataFrame(
        [(1, "zebra cat zebra", 1), (2, "cat mat", 1)], schema
    )
    b1 = spark.createDataFrame([(1, None, -1)], schema)  # takedown doc 1
    s1 = combine(combine(None, b0, 0), b1, 1)
    table = str(tmp_path / "tf_state")
    s1.write.mode("overwrite").parquet(table)
    before_post, before_stats = index_from_signed_tf(
        spark.read.parquet(table)
    )
    bp, bs = sorted(map(tuple, before_post.collect())), before_stats.collect()
    n_rows_before = spark.read.parquet(table).count()
    compact_text_index_state(spark, table)
    after = spark.read.parquet(table)
    # doc 1's insert+retract rows collapsed away entirely
    assert after.count() < n_rows_before
    assert after.filter(F.col("match_id") == 1).count() == 0
    ap, as_ = index_from_signed_tf(after)
    assert sorted(map(tuple, ap.collect())) == bp
    assert as_.collect() == bs
    # replay guard intact: last applied epoch still reads as applied
    replay = combine(after, b1, 1)
    assert replay is None
    # and a NEW epoch still advances
    b2 = spark.createDataFrame([(3, "dog", 1)], schema)
    s3 = combine(after, b2, 2)
    assert s3.filter(F.col("match_id") == 3).count() == 1


def test_compact_text_index_state_on_file_uri(spark, tmp_path):
    """The compactor works on any Hadoop path, not only a bare local
    one: a ``file://`` URI table compacts in place."""
    from pyspark.sql import functions as F

    from data__converter_spark.streaming.runner import (
        _text_index_combine,
        compact_text_index_state,
    )

    combine = _text_index_combine("text", "doc_id", sign_col="sign")
    schema = "doc_id long, text string, sign long"
    b0 = spark.createDataFrame([(1, "cat mat", 1), (2, "dog", 1)], schema)
    b1 = spark.createDataFrame([(1, None, -1)], schema)
    uri = (tmp_path / "tf_state").as_uri()
    assert uri.startswith("file:///")
    combine(combine(None, b0, 0), b1, 1).write.parquet(uri)
    n_before = spark.read.parquet(uri).count()
    compact_text_index_state(spark, uri)
    after = spark.read.parquet(uri)
    assert after.count() < n_before
    assert after.filter(F.col("match_id") == 1).count() == 0
    assert sorted(r.name for r in tmp_path.iterdir()) == ["tf_state"]


def test_compact_text_index_state_crash_recovery_probe(spark, tmp_path):
    """r12 (ADVICE r11): a crash between compact_text_index_state's
    demote and promote renames leaves NO table but a committed staged copy;
    re-invoking the compactor must promote it (previously it silently
    returned on the missing dir).  A backup-only state restores; a
    partial staging dir is dropped."""
    import os
    import shutil

    from data__converter_spark.llmops.similarity import index_from_signed_tf
    from data__converter_spark.streaming.runner import (
        _text_index_combine,
        compact_text_index_state,
    )

    combine = _text_index_combine("text", "doc_id", sign_col="sign")
    schema = "doc_id long, text string, sign long"
    b0 = spark.createDataFrame(
        [(1, "zebra cat zebra", 1), (2, "cat mat", 1)], schema
    )
    s0 = combine(None, b0, 0)
    table = str(tmp_path / "tf_state")
    s0.write.mode("overwrite").parquet(table)
    want_post, want_stats = index_from_signed_tf(spark.read.parquet(table))
    wp = sorted(map(tuple, want_post.collect()))
    ws = want_stats.collect()

    def check():
        p, s = index_from_signed_tf(spark.read.parquet(table))
        assert sorted(map(tuple, p.collect())) == wp
        assert s.collect() == ws

    # crash between the replaces: table gone, staged committed
    tmp = f"{table}__staged"
    shutil.copytree(table, tmp)
    shutil.rmtree(table)
    assert os.path.exists(f"{tmp}/_SUCCESS")
    compact_text_index_state(spark, table)
    assert os.path.isdir(table) and not os.path.isdir(tmp)
    check()

    # backup-only (staged never committed): restore the backup
    bak = f"{table}__bak"
    shutil.copytree(table, bak)
    shutil.rmtree(table)
    compact_text_index_state(spark, table)
    assert os.path.isdir(table) and not os.path.isdir(bak)
    check()

    # partial staging (no _SUCCESS) + live intact: staging dropped
    os.makedirs(tmp)
    with open(f"{tmp}/part-0.parquet", "wb") as f:
        f.write(b"partial")
    compact_text_index_state(spark, table)
    assert not os.path.isdir(tmp)
    check()


def test_text_index_first_batch_takedown_raises(spark):
    """r12 (ADVICE r11): a takedown row in the very first micro-batch
    (no state table yet) must raise — the checkpoint WAL has already
    consumed the row, so silently dropping it is a permanent
    correctness gap — while an insert-only or empty-delete first
    batch still seeds the state normally."""
    import pytest as _pytest

    from data__converter_spark.streaming.runner import _text_index_combine

    combine = _text_index_combine("text", "doc_id", sign_col="sign")
    schema = "doc_id long, text string, sign long"
    mixed = spark.createDataFrame(
        [(1, "cat mat", 1), (2, None, -1)], schema
    )
    with _pytest.raises(ValueError, match="first micro-batch"):
        combine(None, mixed, 0)
    # insert-only first batch is fine
    clean = spark.createDataFrame([(1, "cat mat", 1)], schema)
    s0 = combine(None, clean, 0)
    assert s0.count() == 2
