"""Physical-plan regression tests.

The engine's 100 TB story rests on plan shape, not code style: filters
reaching the parquet scan, scans pruned to the referenced columns,
small dimensions broadcast instead of shuffled, aggregates split into
partial+final, top-k compiled to TakeOrderedAndProject, and narrow
mapInPandas pipelines staying shuffle-free. These tests pin each
property on the real optimized plan so a refactor can't silently
regress them at scale while staying correct on test rows.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "simple") -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def read_schemas(plan: str) -> list[str]:
    """The ReadSchema struct of every parquet scan in the plan."""
    out = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            out.append(line.split("ReadSchema:", 1)[1].strip())
    return out


@contextmanager
def no_broadcast(spark):
    """Emulate at-scale sizes: no relation qualifies for broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pricing_summary_pushdown_pruning_partial_agg(spark):
    from data__converter_spark.workloads import q_pricing_summary

    p = plan_of(q_pricing_summary(spark, SF_DIR))
    # predicate reaches the parquet reader
    assert "LessThanOrEqual(l_shipdate" in p
    # scan pruned: untouched columns never leave the file
    (schema,) = read_schemas(p)
    for col in ("l_partkey", "l_suppkey", "l_tax", "l_orderkey"):
        assert col not in schema, f"{col} should be pruned from the scan"
    # map-side partial + final aggregation around one exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in p


def test_star_join_broadcasts_all_dims(spark):
    from data__converter_spark.workloads import q_nation_volume

    p = plan_of(q_nation_volume(spark, SF_DIR))
    assert p.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in p
    # the fact table shuffles once, for the final group-by only
    assert p.count("Exchange hashpartitioning") == 1


# Every TPC-H-shape query that joins an SF-scaled dimension
# (customer / supplier / part — tables that are GBs-TBs at 100 TB).
# Their hints go through scale.maybe_broadcast, which consults the
# optimizer's size estimate: at test SF the dims broadcast; when no
# relation qualifies (the 100 TB case, emulated by no_broadcast) the
# plan MUST degrade to a shuffle join instead of hard-failing at the
# 8 GB broadcast ceiling — a forced F.broadcast hint cannot do that.
_SF_SCALED_DIM_QUERIES = [
    "top_customers",
    "nation_volume",
    "rollup_volume",
    "promo_revenue",
    "bilateral_trade",
    "local_supplier_volume",
    "market_share",
    "returned_revenue",
    "large_orders",
    "shipping_priority",
    # round-5 TPC-H shapes (Q2/Q9/Q11/Q15/Q16/Q17/Q19/Q20/Q21)
    "min_cost_supplier",
    "product_type_profit",
    "important_parts",
    "top_supplier",
    "supplier_part_counts",
    "small_qty_revenue",
    "bracket_revenue",
    "excess_stock_suppliers",
    "waiting_suppliers",
]

# Queries whose plan keeps a BroadcastNestedLoopJoin even at scale:
# a 1-row scalar aggregate cross-joined in under an INEQUALITY filter
# (equality scalars re-plan to BroadcastHashJoin). A 1-row build side
# broadcasts for free at any SF — the NestedLoop ban below is about
# row-scale cartesians, not these.
_SCALAR_CROSSJOIN_OK = {"important_parts"}


def test_sf_scaled_dims_broadcast_small_and_degrade_large(spark):
    from data__converter_spark.workloads import QUERIES

    no_hint_small, no_degrade_big = [], []
    for name in _SF_SCALED_DIM_QUERIES:
        p_small = plan_of(QUERIES[name](spark, SF_DIR))
        if "BroadcastHashJoin" not in p_small:
            no_hint_small.append(name)
        with no_broadcast(spark):
            p_big = plan_of(QUERIES[name](spark, SF_DIR))
        # constant dims (nation/region, 25 + 5 rows forever) keep their
        # unconditional hints even here — but every SF-scaled dim must
        # demote, so the BHJ count strictly drops and a shuffle join
        # (never a nested loop) takes over.
        demoted = p_big.count("BroadcastHashJoin") < p_small.count(
            "BroadcastHashJoin"
        )
        shuffled = ("SortMergeJoin" in p_big) or ("ShuffledHashJoin" in p_big)
        nested_ok = name in _SCALAR_CROSSJOIN_OK
        if not (demoted and shuffled) or ("NestedLoop" in p_big and not nested_ok):
            no_degrade_big.append(name)
    assert not no_hint_small, f"should broadcast dims at small sf: {no_hint_small}"
    assert not no_degrade_big, (
        f"must degrade to shuffle join with broadcasting off: {no_degrade_big}"
    )


def test_maybe_broadcast_gates_on_size(spark):
    from data__converter_spark.scale import maybe_broadcast

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    # tiny frame under the default threshold: hint applies
    p = plan_of(
        orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    assert "BroadcastHashJoin" in p
    # explicit 1-byte threshold: frame exceeds it, no hint, shuffle join
    joined = orders.join(
        maybe_broadcast(cust, threshold_bytes=1),
        orders.o_custkey == cust.c_custkey,
    )
    with no_broadcast(spark):
        p2 = plan_of(joined)
    assert "BroadcastHashJoin" not in p2
    assert ("SortMergeJoin" in p2) or ("ShuffledHashJoin" in p2)
    # threshold -1 (broadcast disabled session-wide): never hints
    with no_broadcast(spark):
        p3 = plan_of(
            orders.join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        )
    assert "BroadcastHashJoin" not in p3


def test_top_customers_broadcast_and_takeordered(spark):
    from data__converter_spark.workloads import q_top_customers

    p = plan_of(q_top_customers(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_topk_two_key_is_takeordered_not_global_sort(spark):
    from data__converter_spark.workloads import q_topk_two_key

    p = plan_of(q_topk_two_key(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_large_join_prunes_scans_and_degrades_to_smj(spark):
    from data__converter_spark.workloads import q_priority_revenue

    # both scans pruned to the join/agg columns regardless of strategy
    p = plan_of(q_priority_revenue(spark, SF_DIR))
    for schema in read_schemas(p):
        assert "l_returnflag" not in schema
        assert "o_orderdate" not in schema
    # when no side fits in memory (the 100 TB case), the planner must
    # fall back to a shuffle join, never a nested loop
    with no_broadcast(spark):
        p_big = plan_of(q_priority_revenue(spark, SF_DIR))
    assert ("SortMergeJoin" in p_big) or ("ShuffledHashJoin" in p_big)
    assert "NestedLoop" not in p_big


def test_multimodal_pipeline_is_shuffle_free(spark):
    from data__converter_spark.workloads import q_multimodal_image_features

    p = plan_of(q_multimodal_image_features(spark, SF_DIR))
    assert "MapInPandas" in p
    assert "Exchange" not in p, "decode/feature pipeline must stay narrow"


def test_compare_added_keys_pushes_isnotnull(spark):
    from data__converter_spark.compare import added_keys
    from data__converter_spark.workloads import orders_variant

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    p = plan_of(added_keys(orders, orders_variant(orders), "o_orderkey"))
    assert "IsNotNull(o_orderkey)" in p


def test_dedup_exact_shuffles_at_most_twice(spark):
    from data__converter_spark.llmops.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(exact_dedup(docs))
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"expected <=2 exchanges, plan had {n_exchanges}"


def test_mask_projection_is_single_stage(spark):
    from data__converter_spark.mask import FieldRule, mask_table

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    masked, _ = mask_table(
        cust, {"c_name": FieldRule("fakeName")}, id_cols=["c_custkey"]
    )
    p = plan_of(masked)
    assert "Exchange" not in p, "rule projection must not shuffle"
    assert "BatchEvalPython" not in p, "mask rules must stay JVM-side (no UDF)"


def test_window_running_revenue_single_shuffle(spark):
    from data__converter_spark.workloads import q_window_running_revenue

    p = plan_of(q_window_running_revenue(spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p


def test_pretraining_pipeline_shape(spark):
    # scrub + score + gate fuse into the scan projection (no Python
    # worker anywhere); the only wide ops are the dedup agg and its
    # semi-join; sampling is a post-join filter.
    from data__converter_spark.workloads import q_pipeline_pretraining

    p = plan_of(q_pipeline_pretraining(spark, SF_DIR))
    assert "EvalPython" not in p, "whole pipeline must stay JVM-side"
    n = p.count("Exchange hashpartitioning")
    assert n <= 2, f"expected <=2 exchanges (dedup agg + join), got {n}"


def test_label_centroids_single_agg_shuffle(spark):
    from data__converter_spark.llmops.similarity import label_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_of(label_centroids(emb))
    # posexplode then ONE partial+final agg around one exchange
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("HashAggregate") >= 2
    assert "EvalPython" not in p


def test_winnow_single_shuffle_window(spark):
    from data__converter_spark.llmops.textstats import winnow_fingerprints

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(winnow_fingerprints(docs))
    # one shuffle for the per-doc ordered window; distinct's exchange
    # re-uses the doc_id partitioning only if keys align — allow <= 2
    n = p.count("Exchange hashpartitioning")
    assert n <= 2, f"expected <=2 exchanges, plan had {n}"
    assert "Window" in p


def test_contamination_broadcasts_benchmark(spark):
    from data__converter_spark.workloads import q_contamination_check

    p = plan_of(q_contamination_check(spark, SF_DIR))
    # the benchmark fingerprint set must broadcast — the corpus side
    # must not shuffle for the join
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_replace_first_plain_stays_jvm_side(spark):
    # Plain replacements compile to regexp_instr/substr splice — no
    # Python worker; only $n/\n group refs may use the pandas UDF.
    from data__converter_spark import pattern

    df = spark.createDataFrame([("a b a",)], ["text"])
    out = df.select(pattern.replace_first_col("text", "a", "X").alias("t"))
    p = plan_of(out)
    assert "EvalPython" not in p, "plain replace-first must not hit Python"
    assert out.collect()[0].t == "X b a"


def test_xml_fragments_stay_jvm_side(spark):
    # K4 row formatting is pure concat over printable columns — it must
    # compile to Column expressions, never a Python-worker round-trip.
    from data__converter_spark.io.writers import rows_to_xml_fragments

    df = spark.createDataFrame([("1", "a<b")], ["id", "expr"])
    p = plan_of(rows_to_xml_fragments(df))
    assert "BatchEvalPython" not in p, "XML fragment formatting must not use a Python UDF"
    assert "Exchange" not in p, "row formatting must stay narrow"


def test_chunk_text_plan_is_shuffle_free(spark):
    """The RAG chunker must stay a projection + Generate: zero Exchange
    and no Python eval anywhere — chunking a 100 TB corpus should be
    embarrassingly parallel."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["chunk_text"](spark, SF_DIR))
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_pack_sequences_single_sharded_exchange(spark):
    """Packing exchanges ONCE on the shard key — never an empty-window
    global sort (which would single-task the corpus)."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["pack_sequences"](spark, SF_DIR))
    assert p.count("Exchange") == 1
    assert "hashpartitioning(shard" in p
    assert "SinglePartition" not in p


def test_returned_revenue_preaggregates_and_takeordered(spark):
    """Q10 shape: returned-line revenue aggregates per order BEFORE the
    orders join, dims broadcast, and the top-20 compiles to
    TakeOrderedAndProject (no global sort)."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["returned_revenue"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    # the lineitem-side aggregate must sit below the orders join:
    # partial_sum over l_orderkey appears in the plan
    assert "partial_sum" in p and "l_orderkey" in p


def test_local_supplier_volume_broadcasts_every_dim(spark):
    """Q5 shape: the only shuffle join is lineitem⋈orders; customer,
    supplier, nation+region all arrive as broadcasts."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["local_supplier_volume"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_order_count_distribution_keeps_zero_counts(spark):
    """Q13 shape: the customer side must survive as a LEFT join (zero-
    order customers count), and both aggregations are hash aggregates
    with partials."""
    from data__converter_spark.workloads import QUERIES

    df = QUERIES["order_count_distribution"](spark, SF_DIR)
    p = plan_of(df)
    assert "LeftOuter" in p or "BuildRight" in p  # outer join retained
    assert "partial_count" in p
    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    # sf0.001 has customers; every customer appears in exactly one bucket
    from data__converter_spark.workloads import _load

    assert sum(rows.values()) == _load(spark, SF_DIR, "customer").count()


_BARE_MATERIALIZATIONS = (
    ".persist(", ".cache(", "localCheckpoint(", ".checkpoint(", ".unpersist(",
)


def test_no_bare_persist_in_package():
    """Every cache and every lineage cut in the package must route
    through scale.persisted() / scale.pinned(), and every free through
    scale.release(), so the one registry sees them all — a bare
    .persist() or localCheckpoint() leaks blocks across queries in a
    long session, and a bare .unpersist() frees the blocks but leaves
    the handle registered (on a checkpoint it frees nothing at all).
    scale.py itself hosts the legitimate calls."""
    import pathlib

    import data__converter_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        if py.name == "scale.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if any(t in code for t in _BARE_MATERIALIZATIONS):
                offenders.append(f"{py.relative_to(root)}:{i}")
    assert not offenders, f"bare materialization outside scale.py: {offenders}"


def test_swap_protocol_lives_only_in_commit_module():
    """Every stage/backup/swap goes through commit.py: no other module
    renames with os.replace/os.rename/fs.rename or spells the staged or
    backup suffix itself."""
    import pathlib

    import data__converter_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    banned = (
        "os.replace(", "os.rename(", "fs.rename(", '"__bak"', '"__staged"'
    )
    offenders = [
        f"{py.relative_to(root)}:{i}: {b}"
        for py in root.rglob("*.py")
        if py.name != "commit.py"
        for i, line in enumerate(py.read_text().splitlines(), 1)
        for b in banned
        if b in line
    ]
    assert not offenders, f"swap protocol outside commit.py: {offenders}"


def test_converter_readers_use_no_rdd():
    """The converter's readers build frames from JVM scans or Arrow
    local relations: no ``.rdd`` and no ``mapInPandas`` in
    io/readers.py, so no Python worker creeps back onto the read
    path."""
    import pathlib

    import data__converter_spark as pkg

    src = pathlib.Path(pkg.__file__).parent / "io" / "readers.py"
    offenders = [
        f"readers.py:{i}: {t}"
        for i, line in enumerate(src.read_text().splitlines(), 1)
        for t in (".rdd", "mapInPandas")
        if t in line
    ]
    assert not offenders, f"Python workers on the converter's read path: {offenders}"


def _package_modules():
    import pathlib

    import data__converter_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    return root, sorted(root.rglob("*.py"))


def test_no_optional_dependency_fallback_in_package():
    """One implementation per format: no ``except ImportError`` (or
    ModuleNotFoundError) fork whose other branch a missing library
    decides, and which no test on this install can reach."""
    import ast

    root, modules = _package_modules()
    offenders = []
    for py in modules:
        for node in ast.walk(ast.parse(py.read_text())):
            if not isinstance(node, ast.ExceptHandler) or node.type is None:
                continue
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            if any(
                isinstance(t, ast.Name)
                and t.id in ("ImportError", "ModuleNotFoundError")
                for t in types
            ):
                offenders.append(f"{py.relative_to(root)}:{node.lineno}")
    assert not offenders, f"import-gated fallback in the package: {offenders}"


_DENSE_TOPK = (
    "brute_force_topk", "lsh_topk", "ivf_topk", "pq_topk", "ivf_pq_topk",
    "ivf_pq_from_index", "ivf_pq_from_state",
)


def test_dense_topk_share_one_rank_stage_and_one_index_layout():
    """similarity.py's dense top-k operators, with every module-level
    helper they reach, hold exactly one ``row_number().over(`` (the
    shared rank stage); the module holds one ``dim % m`` check (the
    shared book slicer); and the ANN artifact has one layout, so no
    flat ``/cells`` or ``/codes`` table path remains."""
    import ast

    root, _ = _package_modules()
    src = (root / "llmops" / "similarity.py").read_text()
    defs = {
        n.name: n for n in ast.parse(src).body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    }
    reached, todo = set(), list(_DENSE_TOPK)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(
            n.id for n in ast.walk(defs[name])
            if isinstance(n, ast.Name) and n.id in defs
        )
    body = "".join(ast.get_source_segment(src, defs[n]) for n in reached)
    assert body.count("row_number().over(") == 1, sorted(reached)
    assert src.count("dim % m") == 1
    assert '/cells"' not in src and '/codes"' not in src


# Public names kept although nothing outside tests/ reaches them, each
# with its reason.
_UNREACHED_ALLOWED = {
    # session.py belongs to the driver contract (see README Layout).
    ("session.py", "load_tables"),
}


def test_every_public_name_is_reached():
    """Every public top-level function and class in the package is
    referenced from code outside tests/ (package, tools, perfbench,
    bench.py, __spark_entry__.py) or named in README.md or SCALE.md.
    A name only tests reach is surface nothing uses: delete it, or move
    a test helper into tests/."""
    import ast

    root, modules = _package_modules()
    repo = root.parent
    used: set[str] = set()
    for py in repo.rglob("*.py"):
        rel = py.relative_to(repo).parts
        if rel[0] == "tests" or rel[0].startswith("."):
            continue
        if py.name.startswith("test_") or py.name == "conftest.py":
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
    for doc in ("README.md", "SCALE.md"):
        used.update(re.findall(r"\w+", (repo / doc).read_text()))
    offenders = [
        f"{py.relative_to(root)}:{node.lineno}: {node.name}"
        for py in modules
        for node in ast.parse(py.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and node.name not in used
        and (str(py.relative_to(root)), node.name) not in _UNREACHED_ALLOWED
    ]
    assert not offenders, f"public names only tests reach: {offenders}"


# The createDataFrame calls the package may make: local_frame's own, and
# the sites whose types Arrow cannot carry exactly, each with its reason.
_CREATE_DATAFRAME_SITES = {
    "scale.py": ("spark.createDataFrame(rows, schema)",),
    "io/readers.py": (
        # read_json's object-root fallback: Spark infers the column types
        # (and their widening across rows) from the parsed JSON values;
        # an explicit Arrow schema would have to re-implement inference.
        'spark.createDataFrame([(v,) for v in doc], ["value"])',
        "spark.createDataFrame(doc)",
    ),
}


def test_driver_rows_become_local_relations():
    """Rows the driver holds reach Spark through scale.local_frame, an
    Arrow local relation, never a list-based createDataFrame whose
    PythonRDD costs a job and a Python worker each time the frame is
    consumed. Only the named schema-inferring sites are exempt."""
    import pathlib

    import data__converter_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{py.relative_to(root)}:{i}"
        for py in root.rglob("*.py")
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if "createDataFrame(" in line.split("#", 1)[0]
        and not any(
            site in line
            for site in _CREATE_DATAFRAME_SITES.get(str(py.relative_to(root)), ())
        )
    ]
    assert not offenders, f"list-based createDataFrame: {offenders}"


def test_ivm_retraction_refresh_is_one_exchange(spark, tmp_path):
    """refresh_with_retractions aggregates once: the delta rows reach
    the union as a signed projection, not a pre-aggregate, so over a
    stored state the refresh is ONE hash exchange; the output keeps
    the state's schema. In ivm_retract_orders the only other keyed
    exchange builds the state from orders."""
    from data__converter_spark.ivm import aggregate_state, refresh_with_retractions
    from data__converter_spark.workloads import QUERIES

    measures = {"n": ("count", None), "s": ("sum", "v"), "d": ("sum", "w")}
    rows = spark.createDataFrame(
        [("a", 3, 1.5, 1), ("b", 4, 2.0, 1), ("a", 3, 1.5, -1)],
        "k string, v int, w double, sign int",
    )
    aggregate_state(rows.filter("sign > 0"), ["k"], measures).write.parquet(
        str(tmp_path / "state")
    )
    state = spark.read.parquet(str(tmp_path / "state"))
    out = refresh_with_retractions(state, rows, ["k"], measures, "sign", "n")
    assert plan_of(out).count("Exchange hashpartitioning") == 1
    assert out.schema == state.schema
    assert sorted(map(tuple, out.collect())) == [("a", 1, 3, 1.5), ("b", 2, 8, 4.0)]

    p = plan_of(QUERIES["ivm_retract_orders"](spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") == 2
    # partial + final for the state build and for the one merge
    assert p.count("HashAggregate") == 4


def _subtrees(plan: str, node: str) -> list[str]:
    """The text of every subtree rooted at a line naming ``node``."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        at = line.find(node)
        if at == -1:
            continue
        sub = [line]
        for nxt in lines[i + 1:]:
            # a child's "+- "/":- " marker sits under its parent's name
            marker = re.search(r"[+:]- ", nxt)
            if marker is None or marker.start() < at:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_scd2_apply_broadcasts_touched_keys_without_a_shuffle(spark):
    """scd2_apply: the touched keys feed only broadcast semi/anti joins,
    which ignore duplicate build keys, so no aggregate and exchange
    de-duplicate them ahead of the broadcast; the keyed exchanges left
    are the scd2 windows'."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["scd2_apply_events"](spark, SF_DIR))
    builds = _subtrees(p, "BroadcastExchange")
    assert builds and not any("HashAggregate" in b for b in builds)
    assert p.count("Exchange hashpartitioning") == 5


def test_no_query_uses_rowwise_python_or_cartesian(spark):
    """Blanket net over EVERY registered query: no row-at-a-time Python
    eval (BatchEvalPython — Arrow/mapInPandas nodes are fine) and no
    CartesianProduct anywhere. A new operator that silently regresses
    to either shape fails here before it ships."""
    from data__converter_spark.workloads import QUERIES

    flagged = {}
    for name, fn in QUERIES.items():
        p = plan_of(fn(spark, SF_DIR))
        marks = [m for m in ("BatchEvalPython", "CartesianProduct") if m in p]
        if marks:
            flagged[name] = marks
    assert not flagged, f"anti-pattern plan nodes: {flagged}"


def test_bracket_revenue_pushes_disjunction_to_part_scan(spark):
    """Q19's OR-of-ANDs on (brand, size) must reach the part parquet
    reader as a pushed filter — a post-join residual over an unfiltered
    part scan reads the whole dimension at 100 TB."""
    from data__converter_spark.workloads import q_bracket_revenue

    p = plan_of(q_bracket_revenue(spark, SF_DIR))
    pushed = [
        ln for ln in p.splitlines()
        if "PushedFilters" in ln and "p_brand" in ln and "Or(" in ln
    ]
    assert pushed, "part-side disjunction should push into the part scan"
    # single equi-join on partkey, never a union of three joins
    assert p.count("Join") <= 2 and "CartesianProduct" not in p


def test_min_cost_supplier_single_window_exchange(spark):
    """Q2's decorrelated min runs as ONE window over the per-(part,
    supplier) aggregate — the offers aggregate and the window must
    share the p_partkey exchange lineage, with no join back of a
    second lineitem scan."""
    from data__converter_spark.workloads import q_min_cost_supplier

    p = plan_of(q_min_cost_supplier(spark, SF_DIR))
    assert p.count("Window") == 1
    # one lineitem scan only: the subquery never re-reads the fact
    li_scans = [s for s in read_schemas(p) if "l_partkey" in s]
    assert len(li_scans) == 1, f"expected 1 lineitem scan, got {len(li_scans)}"


def test_active_users_dedup_then_count_shape(spark):
    """The stream-safe decomposition must plan as dedup aggregate ->
    count aggregate (two exchanges max on the window key), never a
    countDistinct expand."""
    from data__converter_spark.workloads import q_window_active_users

    p = plan_of(q_window_active_users(spark, SF_DIR))
    # (the one Expand in this plan is the sliding-window fan-out —
    # every event into duration/slide windows — not an agg rewrite)
    assert p.count("Expand") == 1
    # dedup stage: an aggregate keyed on (window, user) with NO
    # aggregate functions, then the additive count on the window key
    assert "HashAggregate(keys=[window#" in p
    assert p.count("Exchange hashpartitioning") == 2


def test_balanced_shards_no_global_sort(spark):
    """Shard ranks window per size bucket: one hash exchange on the
    bucket, no global (rangepartitioning) sort anywhere."""
    from data__converter_spark.llmops.textstats import balanced_shards

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_of(balanced_shards(docs, n_shards=8))
    assert "rangepartitioning" not in p.lower()
    assert p.count("Exchange hashpartitioning") == 1


def test_gopher_quality_plan_is_shuffle_free(spark):
    """The Gopher rule gate is one narrow projection: zero Exchange,
    zero Python eval — a 100 TB corpus filters scan-side."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["gopher_quality"](spark, SF_DIR))
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_dsir_select_avoids_global_window(spark):
    """Top-N selection must compile to TakeOrderedAndProject + a
    broadcast boundary — never a rank window over one partition."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["dsir_select"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_triangle_count_no_cartesian(spark):
    """Every triangle join is an equi-join on node ids — a cartesian
    here would be the O(n^3) disaster orientation exists to prevent."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["triangle_suppliers"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pipeline_selection_no_global_window(spark):
    """The composed selection pipeline must not smuggle in a global
    rank window or a cartesian; its only SinglePartition exchanges are
    the 1-row scalar broadcasts (Σw, DSIR totals, TakeOrdered merge)."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["pipeline_selection"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    # windows exist (shard assignment) but none over an empty partition
    # spec on the document stream: every Window clause names a key
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", p):
        assert m.group(1).strip(), f"unpartitioned Window in plan: {m.group(0)}"


def test_pq_topk_single_encode_kernel(spark):
    """PQ encoding is ONE Arrow pass over the corpus (the codes table);
    only the tiny ADC lookup joins after it."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["similarity_pq_topk"](spark, SF_DIR))
    assert p.count("MapInPandas") == 1
    assert "CartesianProduct" not in p


def test_png_roundtrip_plan_is_one_arrow_pass_no_exchange(spark):
    """multimodal_png_decode: the codec round-trip is a single
    fanned-out Arrow pass over the id projection — zero Exchange
    after the fan-out repartition, exactly one ArrowEvalPython-class
    node, pruned to the one id column."""
    from data__converter_spark.workloads import QUERIES

    df = QUERIES["multimodal_png_decode"](spark, SF_DIR)
    p = plan_of(df)
    assert p.count("MapInPandas") == 1
    # the only exchange is the fan-out RoundRobin repartition; the
    # kernel output flows straight to the sink
    import re

    exchanges = re.findall(r"Exchange (\w+)", p)
    assert all(e.startswith("RoundRobin") for e in exchanges), exchanges
    assert "doc_id" in p and "text" not in p  # column pruning held


def test_tokenize_bpe_plan_encodes_distinct_words_once(spark):
    """tokenize_bpe: exactly ONE Arrow encode kernel (over distinct
    words, not per token) and the vocab side joins broadcast at this
    SF (size-gated hint applied)."""
    from data__converter_spark.scale import release_persisted
    from data__converter_spark.workloads import QUERIES

    df = QUERIES["tokenize_bpe"](spark, SF_DIR)
    p = plan_of(df)
    release_persisted()
    assert p.count("ArrowEvalPython") == 1, p.count("ArrowEvalPython")
    assert "BroadcastHashJoin" in p
    # greedy merge runs in the kernel; no HOF fold remains in the plan
    assert "aggregate(" not in p


def test_boilerplate_scrub_plan_has_no_set_window(spark):
    """boilerplate_scrub: document frequency comes from the two-level
    distinct aggregate — no Window operator and no collect_set
    anywhere in the plan (the per-copy state-buffer shape the
    docstring forbids)."""
    from data__converter_spark.workloads import QUERIES

    df = QUERIES["boilerplate_scrub"](spark, SF_DIR)
    p = plan_of(df)
    assert "Window" not in p
    assert "collect_set" not in p
    assert "HashAggregate" in p or "ObjectHashAggregate" in p


def test_kmv_sketch_is_take_ordered_not_global_sort(spark):
    """kmv_sketch's distinct->orderBy->limit(k) must lower to
    TakeOrderedAndProject (per-partition top-k + driver head merge),
    never a global Sort — the shape that makes the k-minimum-values
    sketch collectible at any corpus size. The distinct's single
    hash exchange is the only shuffle (combiner-heavy: map-side
    partial agg dedupes before it)."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.sketches import kmv_sketch, md5_hash32

    h = spark.range(1000).select(md5_hash32("id").alias("h"))
    p = plan_of(kmv_sketch(h, "h", k=128))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")


def test_hll_partkeys_union_row_merges_registers_not_corpus(spark):
    """sketch_hll_partkeys: the __all__ union row must come from
    merging the PERSISTED register frame (a second tiny aggregate),
    not from a second corpus scan — at most the exact-truth demo
    columns rescan lineitem, so the lineitem scan count stays at the
    demo's two (registers once + truth once), never three."""
    from data__converter_spark.scale import release_persisted
    from data__converter_spark.workloads import QUERIES

    df = QUERIES["sketch_hll_partkeys"](spark, SF_DIR)
    p = plan_of(df)
    release_persisted()
    assert p.count("InMemoryTableScan") >= 2  # registers reused via cache
    # the estimate path is pure aggregation over the register frame
    assert "TakeOrderedAndProject" not in p.split("InMemoryTableScan")[0]


def test_scd2_shares_one_key_exchange(spark):
    """scd2_user_status: the lag change-detect window, the lead
    interval-close window, and the per-user aggregate must all ride
    ONE hashpartitioning(user_id) exchange — and no window may fall
    back to SinglePartition (the shape that dies at 100 TB). The only
    other exchange is the presentation orderBy's rangepartitioning."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["scd2_user_status"](spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in p
    assert p.count("Window ") == 2


def test_interval_coverage_broadcasts_orders_one_keyed_exchange(spark):
    """interval_coverage: the orders (orderkey, orderdate) projection
    joins broadcast into lineitem — no shuffle join — and the island
    merge (cumulative-max window + running-sum window + aggregate) is
    one hashpartitioning(l_suppkey) exchange, never SinglePartition."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["interval_coverage"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in p


def test_weighted_sample_one_exchange_jvm_key(spark):
    """weighted_sample_customers: the A-ES key (conv/md5/ln) must stay
    JVM-side (no BatchEvalPython / no Python UDF in the plan) and the
    only hash exchange is the per-nation rank window."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["weighted_sample_customers"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in p


def test_rfm_segments_one_nation_exchange_three_windows(spark):
    """rfm_segments: the three ntile windows must all ride ONE
    hashpartitioning(c_nationkey) exchange (plus the customer-agg and
    join exchanges upstream) and never SinglePartition — per-group
    segmentation is the whole scale story."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["rfm_segments"](spark, SF_DIR))
    assert "SinglePartition" not in p
    assert p.count("ntile(5)") >= 1
    # all three ntile windows fold into window nodes fed by one
    # nation-key exchange: exactly one exchange mentions c_nationkey
    import re

    nation_ex = [
        ln
        for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln and "grp" in ln
    ]
    assert len(nation_ex) == 1, nation_ex


def test_embedding_scatter_vectors_never_shuffle(spark):
    """embedding_scatter: ONE mapInPandas/ArrowEvalPython kernel, and
    no Exchange may carry the embedding column — only constant-size
    (grp,i,j,v) moment rows shuffle; reshape joins broadcast."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["embedding_scatter"](spark, SF_DIR))
    for ln in p.splitlines():
        if ln.strip().lstrip("+-: ").startswith("Exchange"):
            assert "embedding" not in ln and "vec" not in ln, ln
    assert "SinglePartition" not in p
    assert "BroadcastHashJoin" in p


def test_zorder_layout_key_is_narrow_projection(spark):
    """zorder_layout: the Morton key must be pure JVM projection (no
    Python eval) and the only hash exchange is the 256-cell report
    aggregate's."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["zorder_layout"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in p


def test_link_predict_caps_middles_before_self_join(spark):
    """link_predict_customers: the degree filter must land BEFORE the
    wedge self-join (the quadratic guard is pre-join, not post), the
    pair aggregate must be keyed (never SinglePartition), and the
    top-100 must lower to TakeOrderedAndProject, not a global sort."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["link_predict_customers"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "SinglePartition" not in p
    # the deg-band filter appears as a Filter on the aggregate count
    # (deg between 2 and cap) somewhere upstream of the pair join
    assert "deg" in p


def test_basket_lift_broadcasts_totals(spark):
    """basket_lift_parts: the 1-row basket total must arrive via a
    broadcast (nested-loop on a single row), never a shuffled join,
    and the final top-50 is TakeOrderedAndProject."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["basket_lift_parts"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_basket_lift_scalar_broadcast_survives_no_auto_broadcast(spark):
    """The n_baskets scalar rides an EXPLICIT F.broadcast hint, so even
    with auto-broadcast off (emulating AQE demotion / at-scale size
    estimates) the 1-row total must stay a BroadcastNestedLoopJoin —
    a scalar degrading to CartesianProduct at 100 TB would put the
    whole pair table through a single-partition product."""
    from data__converter_spark.workloads import QUERIES

    with no_broadcast(spark):
        p = plan_of(QUERIES["basket_lift_parts"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_assoc_pairs_caps_baskets_before_self_join(spark):
    """assoc_pairs(max_basket_size): the hot-basket guard must land
    BEFORE the pair self-join (pre-join cap, like link_predict's
    middle-degree cap) — the capped plan carries the bk_n count-filter
    join, and a viral basket never reaches the quadratic stage."""
    from data__converter_spark.stats import assoc_pairs

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    p = plan_of(assoc_pairs(li, "l_orderkey", "l_partkey",
                            max_basket_size=8))
    # the size filter exists and is a pre-aggregation predicate on
    # the basket-size count, upstream of the pair join
    assert "bk_n" in p
    i_filter = p.find("bk_n")
    # pair-join condition (item_a < item_b) appears after the cap in
    # the bottom-up formatted plan string order is not guaranteed, so
    # assert structurally instead: no unconditional row explosion —
    # the filter node references the count column
    assert "<= 8" in p or "(bk_n" in p


def test_bm25_statistics_off_one_token_pass_no_global_sort(spark):
    """bm25_retrieval: the corpus tf/df/doc-length statistics reuse one
    exploded token aggregate (no second corpus scan for lengths), the
    (N, avgdl) scalar arrives via broadcast nested-loop, and the
    per-query top-k is a WindowGroupLimit — never a global sort."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["bm25_retrieval"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    # no cached-relation scan: the lazy 3-branch recompute measured
    # FASTER than persisting the tf frame at sf0.1 (see the op
    # docstring)
    assert "InMemoryTableScan" not in p


def test_scd2_apply_history_bypasses_windows(spark):
    """scd2_apply: untouched keys and closed history reach the output
    through anti/semi joins only — the rebuild windows must consume
    the batch-sized (touched-current ∪ changes) union, and nothing in
    the plan drops to Python."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["scd2_apply_events"](spark, SF_DIR))
    assert "LeftAnti" in p
    assert "LeftSemi" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_checksum_fingerprint_one_aggregate_no_join_no_sort(spark):
    """checksum_orders_monthly: the whole digest is one keyed hash
    aggregate fused over the scan — no join, no sort, no exchange
    beyond the single group-by, no Python."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["checksum_orders_monthly"](spark, SF_DIR))
    assert "Join" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # exactly one data exchange (the group-by); the only other
    # exchange is the presentation orderBy's rangepartitioning over
    # ~80 month rows
    assert p.count("Exchange hashpartitioning") == 1


def test_ewma_decayed_sum_is_sort_free(spark):
    """ewma_nation_daily: the decayed series comes from explode +
    hash aggregates — no per-key ORDER BY window (no WindowExec, no
    sort below an aggregate) anywhere in the plan."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["ewma_nation_daily"](spark, SF_DIR))
    assert "Window" not in p
    assert "Generate explode" in p
    assert "CartesianProduct" not in p


def test_compaction_window_runs_over_file_metadata_only(spark):
    """compaction_bins: the single-partition running-sum window sits
    ABOVE the per-file aggregate — the window's child plan contains
    the (already tiny) file-id hash aggregate, so data rows never
    enter the window."""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["compaction_bins"](spark, SF_DIR))
    w = p.find("Window")
    assert w != -1
    # the aggregate producing the inventory appears below the window
    assert "HashAggregate" in p[w:]


def test_k_anonymity_risk_total_broadcasts_over_class_table(spark):
    """k_anonymity_audit: the risk share is a broadcast nested-loop of
    a 1-row total over the PERSISTED class aggregate — both consumers
    read InMemoryTableScan, so customer is scanned once however many
    branches hang off the class table. (The plan text prints the
    cached relation's defining FileScan inside each InMemoryRelation
    block, so 'Scan parquet' appears per reference — the cache reads
    are what pin the single real scan.)"""
    from data__converter_spark.workloads import QUERIES

    p = plan_of(QUERIES["k_anonymity_audit"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("InMemoryTableScan") == 2


def test_ann_partitioned_index_prunes_cell_partitions(spark, tmp_path):
    """The cell-partitioned ANN layout's whole point: the probed-cell
    set becomes a PARTITION filter on the index scan — the plan's
    PartitionFilters carries the cell IN-set (pruning happens before
    any join), also under a tombstone anti-join.  Results must equal
    the in-memory ivf_pq_topk's exactly (same probes, same books)."""
    import numpy as np
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.similarity import (
        ann_index_build,
        ann_index_delete,
        ivf_pq_from_index,
        ivf_pq_topk,
    )

    rng = np.random.RandomState(31)
    vecs = rng.uniform(-1, 1, size=(40, 8)).astype(np.float32)
    full = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    probes = full.filter(F.col("vec_id") < 2)
    path = str(tmp_path / "idx")
    ann_index_build(full, path, n_cells=4, m=2, n_codes=8)

    def cell_pruned(df) -> bool:
        return any(
            "cell" in ln.split("PartitionFilters:", 1)[1]
            for ln in plan_of(df).splitlines()
            if "PartitionFilters:" in ln
        )

    got_df = ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2)
    assert cell_pruned(got_df), "index scan must carry a cell partition filter"
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )
    got = key(got_df.collect())
    want = key(
        ivf_pq_topk(
            full, probes, k=5, n_cells=4, nprobe=2, m=2, n_codes=8
        ).collect()
    )
    assert got == want and got
    ann_index_delete(spark.createDataFrame([(5,)], "vec_id long"), path)
    assert cell_pruned(ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2))


def test_ann_index_query_frame_reads_under_writer_schemas(spark, tmp_path):
    """Every ANN artifact table reads under the schema its writer used,
    so building ivf_pq_from_index's query frame submits no Spark job
    besides the two book collects — no footer-inference job per table
    (cellbook, codebook, index, tombstones)."""
    import numpy as np

    from data__converter_spark.llmops.similarity import (
        ann_index_build,
        ann_index_delete,
        ivf_pq_from_index,
    )
    from data__converter_spark.scale import local_frame

    rng = np.random.RandomState(5)
    rows = [
        (i, [float(x) for x in rng.uniform(-1, 1, size=8)]) for i in range(24)
    ]
    schema = "vec_id long, embedding array<float>"
    path = str(tmp_path / "idx")
    ann_index_build(local_frame(spark, rows, schema), path, n_cells=4, m=2, n_codes=8)
    ann_index_delete(local_frame(spark, [(3,)], "vec_id long"), path)
    probes = local_frame(spark, rows[:2], schema)  # collected without a job
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    df = ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2)
    assert sched.nextJobId() - before == 2
    assert df.count() == 10
