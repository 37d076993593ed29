"""Iterative graph analytics over keyed edge tables.

Connected components (the dedup workhorse) lives in
:mod:`llmops.dedup`; this module holds the general iterative shapes —
currently PageRank.  Everything runs in exact integer arithmetic so a
fixed iteration count is bit-reproducible on any engine and any
partition order: ranks are integer micro-units, every division floors,
and the damping update is ``150_000 + floor(850 * Σcontrib / 1000)``
— the same closed form an unrolled SQL CTE chain computes, which is
what makes an *iterative* algorithm DuckDB-oracle-checkable at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import local_frame

#: one full rank unit in micro-units
RANK_SCALE = 1_000_000
# Cap on the adaptive probe window: each lazily-chained superstep
# references the previous rank state twice, so plan size is 2^window —
# see pagerank_until's docstring.
MAX_PROBE_CADENCE = 4


def _pr_teleport(damping_permille: int):
    """The constant teleport term, floored once at plan time."""
    return F.lit((1000 - damping_permille) * RANK_SCALE // 1000)


def _pr_contrib(e_deg: DataFrame, ranks: DataFrame) -> DataFrame:
    """One superstep's (dst, in_sum): each node splits its rank evenly
    over its out-edges (floored), contributions sum exactly as BIGINT
    on the destination key.  ``ranks`` must carry (node, rank_micro);
    ``e_deg`` the degree-annotated edge list.  Shared by the
    fixed-iteration and convergence-gated loops so the exact-integer
    update can never diverge between them."""
    return (
        e_deg.join(
            ranks.select(
                F.col("node").alias("src"), F.col("rank_micro").alias("r")
            ),
            "src",
        )
        .select("dst", F.floor(F.col("r") / F.col("out_deg")).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("in_sum"))
    )


def _pr_damped(damping_permille: int):
    """in_sum -> next rank_micro: ``teleport + floor(d·Σ/1000)``, both
    terms floored — the bit-reproducible closed form the unrolled SQL
    oracle computes."""
    return (
        _pr_teleport(damping_permille)
        + F.floor(
            F.lit(damping_permille)
            * F.coalesce("in_sum", F.lit(0))
            / F.lit(1000)
        )
    ).cast("bigint")


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_permille: int = 850,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, exact
    integer micro-units.

    Per iteration: each node splits its rank evenly over its out-edges
    (``floor(rank / out_degree)``), contributions sum exactly as
    BIGINT on the destination key, and the damped update is
    ``(1000 - d) * RANK_SCALE / 1000 + floor(d * Σ / 1000)`` with both
    terms floored.  Dangling nodes (no out-edges) leak their rank —
    the standard simplification when ranks are used for ordering, not
    as probabilities.  Nodes with no in-edges settle at the teleport
    floor.

    Scale shape per iteration: ONE join of the ranks frame onto the
    edge list (both hash-partitioned on the source key — at scale,
    pre-bucket the edge table by src so the join co-locates without a
    shuffle) and ONE aggregate on the destination key.  State between
    iterations is the (node, rank) frame — never materialized to the
    driver; ``iterations`` joins chain into one lazy plan that AQE
    pipelines, exactly how GraphX/Pregel lowers PageRank onto the same
    shuffle primitives.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # edge list annotated with the sender's out-degree: built once,
    # reused every iteration (the degree never changes).  The invariant
    # subtrees appear N+1 times in the lazy plan, but Spark's exchange
    # reuse dedups them physically (the executed plan shows
    # ReusedExchange, not repeated scans) — measured at sf0.1, forcing
    # a persist only adds materialization barriers (3.1 s lazy vs
    # 4.0 s persisted steady-state).  The multi-ACTION form
    # (:func:`pagerank_until`) persists them, because each action
    # re-plans and exchange reuse cannot see across jobs.
    e_deg = e.join(out_deg, "src")
    ranks = nodes.select(
        "node", F.lit(RANK_SCALE).cast("bigint").alias("rank_micro")
    )
    for _ in range(iterations):
        contrib = _pr_contrib(e_deg, ranks)
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node", _pr_damped(damping_permille).alias("rank_micro")
        )
    return ranks


def pagerank_until(
    edges: DataFrame,
    max_iterations: int = 20,
    tol_micro: int = 0,
    probe_every: int = 1,
    damping_permille: int = 850,
    src_col: str = "src",
    dst_col: str = "dst",
    adaptive_cadence: bool = False,
) -> tuple[DataFrame, list[tuple[int, int, int]]]:
    """Convergence-gated PageRank — the shape production graph jobs
    actually run: supersteps until the convergence probe sees
    ``max |Δrank| <= tol_micro``, or ``max_iterations``.  Returns
    ``(final ranks, history)`` where history holds one ``(iteration,
    max_delta_micro, changed_nodes)`` tuple per PROBE — the delta is
    measured against the rank state at the previous probe.

    ``probe_every`` is the action cadence: K supersteps chain lazily
    into ONE job (exchange reuse applies within it, exactly like the
    fixed-iteration :func:`pagerank`), then the probe materializes the
    state and pulls one row to the driver.  Probing every superstep
    (K=1) gives the finest stop granularity; K>1 amortizes the
    per-action scheduling floor — at most K-1 excess supersteps past
    convergence, the standard trade production Pregel loops make.

    ``adaptive_cadence`` doubles the cadence after any probe whose
    max-|Δ| is strictly below the previous probe's — once the
    series is contracting the probes carry less
    information per job, so a long run pays fewer probes, each still
    clamped to the remaining iteration budget. The cadence caps at
    MAX_PROBE_CADENCE: each lazily-chained superstep references the
    previous state TWICE (select + contribution join), so an
    unbounded window grows the logical plan as 2^window — past ~4 the
    plan itself (analysis, AQE explain strings) costs more than the
    probes saved, and far past it the driver OOMs building plan
    strings. The first probe always lands at ``probe_every``, and a
    run whose budget is <= 2*probe_every probes at identical
    iterations either way (the oracle-pinned fixed-length forms are
    cadence-invariant by construction; the long-run probe thinning is
    pinned in tests/test_graph.py).

    This is the multi-ACTION form :func:`pagerank` documents: the
    loop persists the invariant degree-annotated edge frame and pins
    each probe's (node, rank) state, releasing the previous one once
    the probe has read it (both go through ``scale``'s registry, so a
    long session can free them); the inter-probe update chain stays
    lazy.  The probe needs NO self-join — the chain carries the
    previous probe's rank in-row, so the probe is a plain aggregate
    over the state it just materialized.  Update arithmetic is identical to
    :func:`pagerank`; with ``tol_micro=0`` the loop runs exactly
    ``max_iterations`` supersteps (a max-|Δ| of 0 would need
    bit-identical consecutive iterations, which teleport-floor
    rounding never yields on a connected graph), making the
    fixed-length form statically unrollable for the DuckDB oracle
    while still exercising the real probe machinery.
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    if probe_every < 1:
        raise ValueError(f"probe_every must be >= 1, got {probe_every}")
    from .scale import persisted, pinned, release

    # the raw edge projection persists too (r14): nodes references it
    # twice (both union legs) and the degree join once more, and in
    # this multi-ACTION form each materialization re-ran the caller's
    # whole edge-building subtree (for the trade graph: a
    # lineitem⋈orders join + distinct) once per reference — exchange
    # reuse cannot see across jobs (guide §2.4)
    e = persisted(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e_deg = persisted(e.join(out_deg, "src"))
    # initial ranks persist too: the rank state feeds BOTH sides of
    # every superstep (contribution join + update join), so a lazy
    # init would duplicate the node-distinct subtree into each branch
    # (measured: lazy init is ~1.5 s SLOWER at sf0.1, not faster)
    ranks = persisted(
        nodes.select(
            "node", F.lit(RANK_SCALE).cast("bigint").alias("rank_micro")
        )
    )
    history: list[tuple[int, int, int]] = []
    done = 0
    cadence = probe_every
    prev_delta: int | None = None
    while done < max_iterations:
        steps = min(cadence, max_iterations - done)
        # (node, prev_micro, rank_micro): prev pins the state at the
        # last probe so the probe aggregate needs no self-join
        cur = ranks.select(
            "node",
            F.col("rank_micro").alias("prev_micro"),
            "rank_micro",
        )
        for _ in range(steps):
            contrib = _pr_contrib(e_deg, cur)
            cur = cur.select("node", "prev_micro").join(
                contrib, F.col("node") == contrib.dst, "left"
            ).select(
                "node",
                "prev_micro",
                _pr_damped(damping_permille).alias("rank_micro"),
            )
        done += steps
        # pinned (the connected_components per-round idiom) rather
        # than persisted: caching keeps the full logical lineage,
        # which grows ~2^window PER PROBE (each superstep references
        # the previous state twice) — a long adaptive run OOMs the
        # driver just BUILDING plan strings. Checkpointing stores the
        # same partitions but truncates lineage, so every probe starts
        # from a flat scan.  eager=False fuses the materialization
        # into the probe aggregate's job (one job per probe, not two)
        # — safe ONLY because that aggregate scans every partition
        # immediately below; a partial first action (e.g. limit(1))
        # must keep the eager default.
        prev, ranks = ranks, pinned(cur, eager=False)
        probe = ranks.agg(
            F.max(
                F.abs(F.col("rank_micro") - F.col("prev_micro"))
            ).alias("max_delta"),
            F.sum(
                (F.col("rank_micro") != F.col("prev_micro")).cast("bigint")
            ).alias("changed"),
        ).collect()[0]
        release(prev)
        max_delta = int(probe["max_delta"] or 0)
        history.append((done, max_delta, int(probe["changed"] or 0)))
        if max_delta <= tol_micro:
            break
        if (
            adaptive_cadence
            and prev_delta is not None
            and max_delta < prev_delta
        ):
            # never adapt BELOW the caller's requested interval: a
            # probe_every above MAX_PROBE_CADENCE is an explicit
            # opt-in to a wider window, and shrinking it here would
            # INCREASE probe frequency — the opposite of thinning
            cadence = min(cadence * 2, max(MAX_PROBE_CADENCE, probe_every))
        prev_delta = max_delta
    return ranks.select("node", "rank_micro"), history


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    degree-ordered edge orientation (the "compact-forward" algorithm,
    Latapy 2008; what GraphX/GraphFrames lower triangleCount to).

    Edges canonicalize to distinct ``a<b`` pairs (self-loops dropped),
    then orient from the endpoint with the smaller ``(degree, id)`` to
    the larger.  Under that total order every triangle has exactly one
    wedge centered at its smallest node, so the wedge self-join +
    closure join counts each triangle once — and, critically for
    scale, a node's ORIENTED out-degree is O(sqrt(m)) no matter how
    large its raw degree: the wedge join's per-key fan-out is bounded
    by orientation itself, which is why a hub of degree 10⁶ does not
    produce 10¹² wedges.  This is the guard that makes triangle
    counting feasible at 100 TB; no sampling involved, counts are
    exact.

    Shuffles: degree agg (1), two degree joins onto the edge list,
    wedge self-join on the oriented source, closure join on the
    (src, dst) pair, final per-node agg.  All keys are node ids /
    id pairs — never payloads.

    Output: (node, n_triangles) for every node in >= 1 triangle, each
    triangle crediting all three corners.
    """
    s = F.col(src_col)
    d = F.col(dst_col)
    e = (
        edges.select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    keyed = e.join(da, "a").join(db, "b")
    ka = F.struct(F.col("da").alias("kd"), F.col("a").alias("kn"))
    kb = F.struct(F.col("db").alias("kd"), F.col("b").alias("kn"))
    lo = F.least(ka, kb)
    hi = F.greatest(ka, kb)
    oriented = keyed.select(
        lo["kn"].alias("u"),
        hi["kn"].alias("v"),
        hi["kd"].alias("vd"),
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (
            F.struct(F.col("o1.vd"), F.col("o1.v"))
            < F.struct(F.col("o2.vd"), F.col("o2.v"))
        ),
    ).select(
        F.col("o1.u").alias("c"),
        F.col("o1.v").alias("x"),
        F.col("o2.v").alias("y"),
    )
    o3 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(o3, ["x", "y"])
    return (
        tri.select(
            F.explode(F.array(F.col("c"), F.col("x"), F.col("y"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def bfs_hops(
    edges: DataFrame,
    source: int,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Breadth-first hop distance from ``source``: (node, hop) for
    every node reachable in <= ``max_hops`` edges, hop = the MINIMUM
    hop count (each node enters the distance table the first level it
    is seen, which for BFS is its shortest unweighted distance).

    Frontier supersteps, the Pregel SSSP shape: each level joins the
    CURRENT FRONTIER (not the whole distance table) against the edge
    frame, dedupes the successor set, and anti-joins the visited set —
    so a level's cost is frontier-sized, and the visited table is
    node-sized (never edge-sized).  A pinned frontier per level
    truncates the superstep lineage exactly as in
    :func:`connected_components` / :func:`pagerank_until`; the
    empty-frontier early exit is a bounded O(1)-row aggregate probe.
    At 100 TB the only corpus-scale exchange per level is the
    frontier⋈edges hash join on src — edges can be pre-partitioned by
    src once and reused across all levels.

    Every level is pinned and probed (a fixed cadence of one, unlike
    :func:`pagerank_until`'s ``probe_every``).  Measured on the sf0.1
    trade graph (3 levels, best-of-3), pinning every K levels took
    K=1 4.15 s, K=2 4.55 s, K=3 7.27 s: unlike PageRank's in-row
    state, each un-pinned BFS level re-executes its whole prefix (the
    frontier is referenced by both the successor join and the
    anti-join, so the subtree recomputes per reference, ~2^K), and
    that tax exceeds the ~0.5 s probe saved.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    from .scale import persisted, pinned

    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    e = persisted(e)
    # a local relation: no lineage to cut, so no checkpoint job
    dist = local_frame(spark, [(int(source), 0)], "node long, hop int")
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        succ = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = succ.join(dist, "node", "left_anti").withColumn(
            "hop", F.lit(h).cast("int")
        )
        if h == max_hops:
            # Final level: nothing downstream consumes this frontier, so
            # skip the materializing checkpoint AND the emptiness probe —
            # an empty last level unions zero rows, same result, two
            # fewer jobs per call.
            dist = dist.unionByName(new)
            break
        new = pinned(new)
        if new.limit(1).count() == 0:
            break
        dist = dist.unionByName(new)
        frontier = new.select("node")
    return dist


def label_propagation(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    2007; the semantics of GraphFrames' labelPropagation): labels
    start as node ids, and each superstep every node adopts the most
    frequent label among its in-neighbors — ties broken by SMALLEST
    label, nodes with no in-edges keep their label — making a fixed
    iteration count bit-deterministic on any engine and partition
    order (the property the unrolled SQL oracle needs; classic LPA's
    random tie-break is unreproducible by design, so the deterministic
    break is the documented divergence).

    Per superstep: one labels-onto-edges join on src, one
    (dst, label) count aggregate, one per-dst ``max_by`` hash
    aggregate picking the argmax label by (cnt DESC, lab ASC) — all
    keyed by node, no SinglePartition stage and no per-partition sort
    (the struct-ordered ``max_by`` replaces a row_number window: a
    hash agg instead of an exchange+sort, same deterministic winner).
    The chain stays lazy across supersteps (same amortization as
    :func:`pagerank`); for long runs the caller should checkpoint
    every few supersteps exactly as :func:`pagerank_until` does.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("lab"))
    for _ in range(iterations):
        neigh = (
            e.join(
                labels.select(F.col("node").alias("src"), "lab"), "src"
            )
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (cnt DESC, lab ASC) via struct-ordered max_by:
        # (cnt, -lab) maximized lexicographically = highest count, ties
        # to the smallest label.  Labels are node ids (non-negative
        # longs), so the negation cannot overflow.
        best = neigh.groupBy("dst").agg(
            F.expr("max_by(lab, struct(cnt, -lab))").alias("new_lab")
        )
        labels = labels.join(
            best, labels.node == best.dst, "left"
        ).select("node", F.coalesce("new_lab", "lab").alias("lab"))
    return labels


def link_predict(
    memberships: DataFrame,
    middle_col: str,
    node_col: str,
    max_middle_degree: int = 64,
) -> DataFrame:
    """Common-neighbor link prediction over a bipartite membership
    table: nodes that share middles (customers sharing suppliers,
    suppliers sharing parts, documents sharing shingles) are candidate
    links, scored by common-neighbor count AND the resource-allocation
    index (Zhou/Lu/Zhang 2009) — Σ over shared middles of 1/deg(middle)
    — which discounts promiscuous middles the way Adamic-Adar does but
    in EXACT integer micro-units (``1_000_000 div deg``), so a DuckDB
    replica agrees bit-for-bit where Adamic-Adar's 1/ln(deg) would
    drift at the ulp.

    Scale shape: the candidate pairs come from a self-join keyed on
    the middle — wedge count is Σ deg(m)², so a single hot middle is
    the classic quadratic blowup.  ``max_middle_degree`` drops middles
    above the cap BEFORE the self-join (the same hot-item guard the
    PPJoin prefix join uses): a middle shared by thousands of nodes
    carries ~zero RA weight anyway, so the cap trades vanishing score
    mass for a hard quadratic bound.  Everything downstream is one
    keyed aggregate on the (a, b) pair — no global stage.

    Output: (node_a, node_b, common_middles, ra_micro) with
    node_a < node_b, one row per candidate pair.
    """
    if max_middle_degree < 2:
        raise ValueError(
            f"max_middle_degree must be >= 2, got {max_middle_degree}"
        )
    m = memberships.select(
        F.col(middle_col).alias("mid"), F.col(node_col).alias("node")
    ).distinct()
    deg = (
        m.groupBy("mid")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg").between(2, max_middle_degree))
        .withColumn(
            # `div` = exact BIGINT division: no double round-trip, so
            # no ulp drift against the oracle's `//` spelling
            "w_micro", F.expr("1000000 div deg").cast("long")
        )
    )
    keep = m.join(deg, "mid")
    a = keep.select("mid", F.col("node").alias("node_a"), "w_micro")
    b = keep.select("mid", F.col("node").alias("node_b"))
    return (
        a.join(b, "mid")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_middles"),
            F.sum("w_micro").cast("bigint").alias("ra_micro"),
        )
    )


def feature_propagate(
    edges: DataFrame,
    features: DataFrame,
    hops: int = 1,
    node_col: str = "node",
    feat_col: str = "feat",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """GNN-style mean message passing on an integer feature: each hop
    replaces every node's feature with the FLOORED integer mean of its
    in-neighbors' current features (nodes with no in-edges keep
    theirs) — the 1-hop aggregation GraphSAGE/GCN layers build on,
    usable directly for feature smoothing / cold-start imputation over
    an entity graph.

    Features must be NON-NEGATIVE integers.  Spark's ``div`` and
    DuckDB's ``//`` both truncate toward zero on BIGINTs, so the two
    oracle engines already agree on negatives — but several SQL
    dialects (Python semantics, some warehouses) floor instead, so
    the non-negativity restriction stays as a portability guard:
    callers offset signed features into the non-negative range first,
    an exact transformation since
    ``trunc((Σ(x+K))/n) = K + trunc(Σx/n)`` for an integer offset K
    once everything is non-negative.

    Scale shape per hop: ONE features-onto-edges join keyed on the
    source and ONE destination-keyed aggregate — identical exchange
    structure to :func:`pagerank`; hops chain lazily into one plan.
    """
    if hops < 0:
        raise ValueError(f"hops must be >= 0, got {hops}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    state = features.select(
        F.col(node_col).alias("node"), F.col(feat_col).cast("long").alias("feat")
    )
    for _ in range(hops):
        agg = (
            e.join(
                state.select(F.col("node").alias("src"), "feat"), "src"
            )
            .groupBy("dst")
            .agg(F.expr("sum(feat) div count(1)").cast("long").alias("nf"))
        )
        state = state.join(agg, state.node == agg.dst, "left").select(
            "node", F.coalesce("nf", "feat").cast("long").alias("feat")
        )
    return state
