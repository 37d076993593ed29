"""``lifecycle``: writes beside reads on standing state.

Set-up builds the standing state from the seeded sf0.01 tables: a
per-customer order view (IVM) and an SCD2 dimension of user event
types, beside the keyed ``orders`` table.  Each step lands one seeded
batch (inserts, updates and deletes, or new events) and commits it
through one write path:

- ``compare.upsert`` + ``compare.deleted_keys`` into ``orders``;
- ``ivm.refresh_with_retractions`` into the order view;
- ``temporal.scd2_apply`` into the dimension;
- ``scale.optimize_incremental`` compacts ``orders``.

After each commit one read runs over the committed state: the view
itself, or one registry operator over the table just written (stats,
joins, graph) whose DuckDB oracle is checked on the same files with the
clock stopped.  At the end every state must equal a from-scratch
recompute.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import oracle
from datagen import generate
from harness import Context, Op
from probe import data_bytes, tree_stats

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ORDER_UPDATES, ORDER_INSERTS, ORDER_DELETES = 300, 150, 150
EVENT_BATCH = 400
VIEW_KEYS = ["o_custkey"]
DIM = dict(key="user_id", state_cols=["event_type"], ts_col="ts", tiebreak="event_id")
VIEW = "view"
# one round: (commit, read after it, layer of the read)
STEPS = [
    ("upsert.orders", "rfm_segments", "stats"),
    ("ivm.orders_view", VIEW, "ivm"),
    ("scd2.events", "sessionize_events", "joins"),
    ("compact.orders", "lpa_communities", "graph"),
]
GRAPH_ROUNDS = {"lpa_communities": 2}


def _measures():
    from data__converter_spark.workloads import cents

    return {"n_orders": ("count", None),
            "revenue_cents": ("sum", cents("o_totalprice").cast("long"))}


def prepare(ctx: Context) -> None:
    generate(ctx.path("inputs", "tables"), ctx.seed)
    ctx.notes = {"graph.rounds": list(GRAPH_ROUNDS.values()),
                 "scale.bytes_rewritten": [], "scale.files_before": [],
                 "scale.files_after": [], "state.space_amp": []}
    ctx.reads = []


def _land(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def build_state(ctx: Context) -> None:
    """Copy the seeded tables into the live table directory and build
    every standing state from them."""
    from data__converter_spark import ivm, temporal
    from data__converter_spark.session import load_events

    spark = ctx.spark
    src = ctx.path("inputs", "tables")
    live = ctx.fresh_dir("state", "tables")
    ctx.fresh_dir("state", "view")
    ctx.fresh_dir("state", "dim")
    ctx.schemas = {}
    for t in TABLES:
        os.makedirs(f"{live}/{t}.parquet")
        shutil.copy(f"{src}/{t}.parquet", f"{live}/{t}.parquet/part-0.parquet")
        ctx.schemas[t] = pq.read_schema(f"{src}/{t}.parquet")
    ctx.orders = pd.read_parquet(f"{src}/orders.parquet")
    ctx.next_order = int(ctx.orders.o_orderkey.max()) + 1
    ctx.n_customers = pq.read_metadata(f"{src}/customer.parquet").num_rows
    ev = pd.read_parquet(f"{src}/events.parquet", columns=["event_id", "ts", "user_id"])
    ctx.events_tail = (int(ev.event_id.max()) + 1, ev.ts.max(), int(ev.user_id.max()))
    ctx.gen = {"view": 0, "dim": 0}
    ctx.view_pending = []

    orders = spark.read.parquet(f"{live}/orders.parquet")
    ivm.aggregate_state(orders, VIEW_KEYS, _measures()).write.parquet(
        ctx.path("state", "view", "g0000"))
    temporal.scd2(load_events(spark, live), **DIM).write.parquet(
        ctx.path("state", "dim", "g0000"))


# -- seeded batches -------------------------------------------------------

def _order_batch(ctx: Context, rng: np.random.Generator):
    """Inserts, updates and deletes against the live orders; returns
    (upsert rows, deleted keys, signed view delta) and advances the
    mirror to the committed result."""
    cur = ctx.orders
    pick = rng.choice(len(cur), ORDER_UPDATES + ORDER_DELETES, replace=False)
    upd = cur.iloc[pick[:ORDER_UPDATES]].copy()
    dels = cur.iloc[pick[ORDER_UPDATES:]]
    upd["o_totalprice"] = np.round(rng.uniform(1000.0, 500000.0, len(upd)), 2)
    upd["o_orderstatus"] = rng.choice(["F", "O", "P"], len(upd))
    ins = cur.iloc[rng.choice(len(cur), ORDER_INSERTS)].copy()
    k = ctx.next_order
    ins["o_orderkey"] = np.arange(k, k + ORDER_INSERTS, dtype=np.int64)
    ins["o_custkey"] = rng.integers(0, ctx.n_customers, ORDER_INSERTS)
    ctx.next_order += ORDER_INSERTS
    rows = pd.concat([upd, ins], ignore_index=True)
    old = cur.iloc[pick]
    signed = pd.concat([old.assign(__sign__=-1), rows.assign(__sign__=1)],
                       ignore_index=True)
    gone = set(dels.o_orderkey) | set(upd.o_orderkey)
    ctx.orders = pd.concat(
        [cur[~cur.o_orderkey.isin(gone)], rows], ignore_index=True)
    return rows, dels[["o_orderkey"]], signed


def _event_batch(ctx: Context, rng: np.random.Generator) -> pd.DataFrame:
    first, last_ts, max_user = ctx.events_tail
    gaps = rng.integers(1, 60_000_000, EVENT_BATCH).cumsum()
    ts = last_ts + pd.to_timedelta(gaps, unit="us")
    batch = pd.DataFrame({
        "event_id": np.arange(first, first + EVENT_BATCH, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max_user + 20, EVENT_BATCH),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"],
                                 EVENT_BATCH),
        "value": np.round(rng.exponential(50.0, EVENT_BATCH), 2),
        "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, EVENT_BATCH)],
    })
    ctx.events_tail = (first + EVENT_BATCH, batch.ts.max(),
                       max(max_user, int(batch.user_id.max())))
    return batch


# -- ops ------------------------------------------------------------------

def _swap(new: str, live: str) -> None:
    old = live + ".old"
    os.rename(live, old)
    os.rename(new, live)
    shutil.rmtree(old)


def round_ops(ctx: Context, rnd: int) -> list[Op]:
    from data__converter_spark import compare, ivm, scale, temporal
    from data__converter_spark.session import load_events
    from data__converter_spark.workloads import QUERIES

    spark = ctx.spark
    rng = np.random.default_rng([ctx.seed, rnd + 1])
    live = ctx.path("state", "tables")
    step_dir = {}

    def batch_dir(step: int) -> str:
        return ctx.path("inputs", "batches", f"r{rnd + 1:03d}-{step}")

    def land_orders(step: int):
        def land():
            d = batch_dir(step)
            rows, dels, signed = _order_batch(ctx, rng)
            schema = ctx.schemas["orders"]
            _land(rows, schema, f"{d}/orders.parquet")
            _land(dels, pa.schema([schema.field("o_orderkey")]),
                  f"{d}/orders_deleted.parquet")
            _land(signed, schema.append(pa.field("__sign__", pa.int64())),
                  f"{d}/orders_signed.parquet")
            step_dir["orders"] = d
            ctx.view_pending.append(f"{d}/orders_signed.parquet")
        return land

    def land_events(step: int):
        # raw events land in their table; the commit folds them into the
        # dimension
        def land():
            d = batch_dir(step)
            _land(_event_batch(ctx, rng), ctx.schemas["events"], f"{d}/events.parquet")
            shutil.copy(f"{d}/events.parquet",
                        f"{live}/events.parquet/part-r{rnd + 1:03d}-{step}.parquet")
            step_dir["events"] = d
        return land

    def upsert(table: str, key: str):
        def build():
            d = step_dir[table]
            base = spark.read.parquet(f"{live}/{table}.parquet")
            out = compare.upsert(base, spark.read.parquet(f"{d}/{table}.parquet"), key)
            return compare.deleted_keys(
                out, spark.read.parquet(f"{d}/{table}_deleted.parquet"), key)

        def sink(df):
            df.write.parquet(f"{live}/{table}.parquet.new")
            _swap(f"{live}/{table}.parquet.new", f"{live}/{table}.parquet")

        return build, sink

    def current(name: str) -> str:
        return ctx.path("state", name, f"g{ctx.gen[name]:04d}")

    def generation(name: str, build, committed=lambda: None):
        def sink(df):
            nxt = ctx.gen[name] + 1
            df.write.parquet(ctx.path("state", name, f"g{nxt:04d}"))
            shutil.rmtree(current(name))
            ctx.gen[name] = nxt
            committed()

        return build, sink

    def compact_orders():
        path = f"{live}/orders.parquet"
        before = tree_stats(path)
        n_rows = len(ctx.orders)
        scale.optimize_incremental(spark, path, ["o_orderkey"], n_rows // 2).collect()
        after = tree_stats(path)
        for key, files in (("before", before), ("after", after)):
            n_files = sum(p.endswith(".parquet") for p in files)
            ctx.notes[f"scale.files_{key}"].append(n_files)
        ctx.notes["scale.bytes_rewritten"].append(
            sum(v[0] for p, v in after.items() if before.get(p) != v))

    def read(query: str):
        if query == VIEW:
            return lambda: [tuple(r) for r in
                            spark.read.parquet(current("view")).collect()]

        def run():
            df = QUERIES[query](spark, live)
            return df.columns, [tuple(r) for r in df.collect()]
        return run

    def make(step: int, commit: str, query: str, read_layer: str) -> Op:
        name, reader = f"{commit}>{query}", read(query)
        if commit == "upsert.orders":
            build, sink = upsert("orders", "o_orderkey")
            return Op(name, "compare", build, reader, sink=sink,
                      out_dir=f"{live}/orders.parquet", read_layer=read_layer,
                      land=land_orders(step),
                      in_bytes=lambda: sum(os.path.getsize(f"{step_dir['orders']}/{f}")
                                           for f in ("orders.parquet",
                                                     "orders_deleted.parquet")))
        if commit == "ivm.orders_view":
            # the view absorbs every orders batch committed since its last
            # refresh
            build, sink = generation("view", lambda: ivm.refresh_with_retractions(
                spark.read.parquet(current("view")),
                spark.read.parquet(*ctx.view_pending),
                VIEW_KEYS, _measures(), "__sign__", "n_orders"), ctx.view_pending.clear)
            return Op(name, "ivm", build, reader, sink=sink,
                      out_dir=ctx.path("state", "view"), read_layer=read_layer,
                      in_bytes=lambda: sum(map(os.path.getsize, ctx.view_pending)))
        if commit == "scd2.events":
            build, sink = generation("dim", lambda: temporal.scd2_apply(
                spark.read.parquet(current("dim")),
                load_events(spark, step_dir["events"]), **DIM))
            return Op(name, "temporal", build, reader, sink=sink,
                      out_dir=ctx.path("state", "dim"), read_layer=read_layer,
                      land=land_events(step),
                      in_bytes=lambda: os.path.getsize(
                          f"{step_dir['events']}/events.parquet"))
        return Op(name, "scale", compact_orders, reader,
                  out_dir=f"{live}/orders.parquet", read_layer=read_layer)

    return [make(step, *s) for step, s in enumerate(STEPS)]


# -- correctness ----------------------------------------------------------

def check_read(ctx: Context, idx: int, name: str, value) -> None:
    """Keep what one read saw (clock stopped): hard links to the table
    files as they are now, checked against DuckDB after the window."""
    snap = ctx.path("snapshots", str(idx))
    for t in TABLES:
        shutil.copytree(ctx.path("state", "tables", f"{t}.parquet"),
                        f"{snap}/{t}.parquet", copy_function=os.link)
    ctx.reads.append((idx, name, snap, value))


def _oracle_mismatch(name: str, snap: str, value) -> bool:
    """Whether a read differs from its DuckDB oracle on the same files."""
    from data__converter_spark.workloads import ORACLES, _sql_cents

    query = name.split(">", 1)[1]
    if query == VIEW:
        cols, rows = ["o_custkey", "n_orders", "revenue_cents"], value
        sql = (f"SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, "
               f"CAST(sum({_sql_cents('o_totalprice')}) AS BIGINT) AS revenue_cents "
               f"FROM orders GROUP BY o_custkey")
    else:
        cols, rows = value
        sql = ORACLES[query]
    return oracle.differs(
        sql, {t: f"{snap}/{t}.parquet/*.parquet" for t in TABLES}, cols, rows)


def check(ctx: Context) -> dict[int, str]:
    """Every standing state must equal a from-scratch recompute, which
    is written beside it to measure space amplification, and every read
    must equal its DuckDB oracle.  Returns {record index: why} for each
    read that saw a wrong state or gave a wrong answer."""
    from data__converter_spark import ivm, temporal
    from data__converter_spark.session import load_events

    spark, live = ctx.spark, ctx.path("state", "tables")
    rebuild = ctx.fresh_dir("rebuild")
    wrong: dict[str, str] = {}

    def rows(df) -> Counter:
        return Counter(tuple(r) for r in df.collect())

    got = spark.read.parquet(f"{live}/orders.parquet")
    spark.createDataFrame(ctx.orders, got.schema).write.parquet(
        f"{rebuild}/orders")
    if rows(got) != rows(spark.read.parquet(f"{rebuild}/orders")):
        wrong["upsert.orders"] = "orders table differs from the applied batches"

    orders = spark.read.parquet(f"{live}/orders.parquet")
    ivm.aggregate_state(orders, VIEW_KEYS, _measures()).write.parquet(f"{rebuild}/view")
    view = spark.read.parquet(ctx.path("state", "view", f"g{ctx.gen['view']:04d}"))
    if rows(view) != rows(spark.read.parquet(f"{rebuild}/view").select(*view.columns)):
        wrong["ivm.orders_view"] = "view differs from a full recompute"

    temporal.scd2(load_events(spark, live), **DIM).write.parquet(f"{rebuild}/dim")
    dim = spark.read.parquet(ctx.path("state", "dim", f"g{ctx.gen['dim']:04d}"))
    if rows(dim) != rows(spark.read.parquet(f"{rebuild}/dim").select(*dim.columns)):
        wrong["scd2.events"] = "dimension differs from a full rebuild"

    state = [f"{live}/orders.parquet", ctx.path("state", "view"),
             ctx.path("state", "dim")]
    fresh = [f"{rebuild}/{n}" for n in ("orders", "view", "dim")]
    ctx.notes["state.space_amp"].append(
        sum(data_bytes(tree_stats(p)) for p in state)
        / sum(data_bytes(tree_stats(p)) for p in fresh))
    bad = {}
    for idx, name, snap, value in ctx.reads:
        commit = name.split(">", 1)[0]
        if commit in wrong:
            bad[idx] = wrong[commit]
        elif _oracle_mismatch(name, snap, value):
            bad[idx] = "read differs from its DuckDB oracle on the same files"
    return bad
