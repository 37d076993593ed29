"""Similarity search over an embedding column, and the standing ANN index.

The five dense top-k operators share one pipeline: a per-index
candidate stage, then one scoring stage, then one rank stage
(:func:`_rank`, cosine descending or ADC distance ascending, ties to
the smaller neighbor id).

- :func:`brute_force_topk` — exact cosine top-k per probe. The
  correctness baseline: probes × corpus is fine when probes are few
  (broadcast the probes, never shuffle the corpus).
- :func:`lsh_topk` — random-hyperplane LSH: candidates come only from
  buckets the probe hashes to, re-ranked by exact cosine.
- :func:`ivf_topk` — IVF-flat: Voronoi cells around a deterministic
  centroid sample; probes score nprobe/n_cells of the corpus, and
  nprobe == n_cells degenerates to exact brute force.
- :func:`pq_topk` — product quantization: asymmetric distances from a
  per-probe lookup table over m code ids per vector.
- :func:`ivf_pq_topk` — IVF-PQ: cell pruning, then PQ distances.

Brute force and LSH share one grid-cosine kernel (:func:`_grid_cosine`);
PQ and IVF-PQ share one lookup-table builder and one ADC stage.

The standing IVF-PQ artifact (:func:`ann_index_build`, ``_append``,
``_delete``, ``_compact``, ``_retrain``; queried by
:func:`ivf_pq_from_index`) has one layout: the frozen ``cellbook`` and
``codebook`` tables, one ``index`` table of (vid, s, code) rows
partitioned by ``cell``, and a ``tombstones`` table of deleted vids.
The streaming ANN state holds the same rows (:func:`ivf_pq_from_state`),
and both rank through :func:`_ivf_pq_rank`.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import commit
from ..scale import local_frame, run_jobs

# Every top-k operator broadcasts the probe set from the driver — the
# documented "few probes" contract. The guard keeps that honest at
# scale: a caller with a large probe side gets a clear error pointing
# at the bucketed path instead of a silent driver OOM.
MAX_BROADCAST_PROBES = 10_000

#: Integer grid for embedding quantization: ``floor(x * VEC_QUANT + 0.5)``.
#: With |x| ≲ 8 and dim ≤ 512, every dot-product term and partial sum is an
#: integer < 2^53, so float accumulation is EXACT in any order — numpy SIMD,
#: a SQL fold, and DuckDB's list_dot_product agree bit-for-bit. 2^17 keeps
#: ~5 significant decimal digits of each component.
VEC_QUANT = float(1 << 17)

# One typed empty result per score kind.
_TOPK_SCHEMA = {
    "cosine": "probe_id long, neighbor_id long, cosine double, rank int",
    "adc_dist": "probe_id long, neighbor_id long, adc_dist long, rank int",
}
_SCORED_SCHEMA = "probe_id long, neighbor_id long, cosine double"

# The ANN artifact's tables, written and read under these schemas (a
# schema-less parquet read runs a footer-inference job). ``cell`` is the
# index table's partition column, so it reads back last.
_BOOK_SCHEMA = "cid long, pos int, val_q long"
_INDEX_SCHEMA = "vid long, s int, code long, cell long"
_TOMB_SCHEMA = "vid long"


def _grid(m):
    """``m`` on the :data:`VEC_QUANT` integer grid (float64 values)."""
    import numpy as np

    return np.floor(m * VEC_QUANT + 0.5)


def _probe_matrix(probes: DataFrame, id_col: str, vec_col: str):
    """The broadcast probe set as (ids int64, float64 matrix), or None
    when it is empty."""
    import numpy as np

    rows = (
        probes.select(F.col(id_col), F.col(vec_col))
        .limit(MAX_BROADCAST_PROBES + 1)
        .collect()
    )
    if len(rows) > MAX_BROADCAST_PROBES:
        raise ValueError(
            f"probe set exceeds {MAX_BROADCAST_PROBES} rows; the driver-"
            "broadcast contract is for small probe sets. For corpus-scale "
            "probes, pre-bucket both sides with hyperplane_bucket_col() "
            "and join on the bucket instead."
        )
    if not rows:
        return None
    return (
        np.array([r[0] for r in rows], dtype=np.int64),
        np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]),
    )


def _rank(scored: DataFrame, k: int, score: str, include_self: bool) -> DataFrame:
    """The one rank stage: drop self pairs unless asked, number each
    probe's neighbors best first — ``cosine`` descending or
    ``adc_dist`` ascending, ties to the smaller neighbor id — and keep
    the top ``k``. Output: (probe_id, neighbor_id, <score>, rank)."""
    if not include_self:
        scored = scored.filter(F.col("probe_id") != F.col("neighbor_id"))
    best = F.desc(score) if score == "cosine" else F.asc(score)
    w = Window.partitionBy("probe_id").orderBy(best, F.asc("neighbor_id"))
    return scored.select(
        "probe_id", "neighbor_id", score, F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)


def _grid_cosine(
    corpus: DataFrame, probe_ids, pm, id_col: str, vec_col: str, pick
) -> DataFrame:
    """One Arrow pass over the corpus: the exact grid cosine of every
    batch row against every broadcast probe. ``pick(vq, cos)`` returns
    the (row, probe) index arrays to emit as (probe_id, neighbor_id,
    cosine) — the candidate rule is the only per-operator part.

    On the :data:`VEC_QUANT` grid dots and norms are exact integer
    sums, so cosine = dot / sqrt(n2a * n2b) is bit-identical across
    numpy and SQL engines."""
    import numpy as np

    pq = _grid(pm)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (probe_ids, pq, np.einsum("ij,ij->i", pq, pq))
    )

    def kernel(batches):
        import pandas as pd

        ids_p, mat_pq, pn2 = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf[id_col].to_numpy(dtype=np.int64)
            vq = _grid(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            cos = (vq @ mat_pq.T) / np.sqrt(
                np.outer(np.einsum("ij,ij->i", vq, vq), pn2)
            )  # (batch, n_probes)
            ii, jj = pick(vq, cos)
            yield pd.DataFrame(
                {"probe_id": ids_p[jj], "neighbor_id": nid[ii], "cosine": cos[ii, jj]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(kernel, _SCORED_SCHEMA)


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k neighbors for each probe row.

    Output: (probe_id, neighbor_id, cosine, rank). The probe matrix is
    broadcast (small by construction); corpus partitions stream through
    the grid-cosine kernel emitting batch-local top-(k+1) per probe,
    then one small window ranks the partials — shuffle volume is
    n_batches*n_probes*k rows, never the corpus. Deterministic
    (cosine desc, neighbor_id) order.
    """
    import numpy as np

    probe = _probe_matrix(probes, id_col, vec_col)
    if probe is None:
        return local_frame(corpus.sparkSession, [], _TOPK_SCHEMA["cosine"])

    def pick(vq, cos):
        # per-probe partial top-(k+1) within this batch (+1: the probe
        # itself) bounds the shuffle to n_batches * n_probes * k rows
        kk = min(k + 1, len(cos))
        top = np.argpartition(-cos, kk - 1, axis=0)[:kk]
        return top.T.ravel(), np.repeat(np.arange(cos.shape[1]), kk)

    scored = _grid_cosine(corpus, *probe, id_col, vec_col, pick)
    return _rank(scored, k, "cosine", include_self)


def _md5_sample(df: DataFrame, k: int, vec_col: str, id_col: str, seed: int) -> list:
    """The ``k`` rows with the smallest md5("{id}:{seed}"), in (hash,
    id) order — the engine-portable centroid draw (the DuckDB oracle
    draws the identical sample)."""
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn(
            "__h__",
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
        )
        .orderBy("__h__", id_col)
        .limit(k)
        .collect()
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    include_self: bool = False,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus partitions into ``n_cells``
    Voronoi cells; each probe scores only the ``nprobe`` nearest cells.

    Centroids are a deterministic hash-min sample of corpus vectors (no
    k-means fit — the classic random-seed IVF variant), so the operator
    is a pure function of (data, seed); the hash is md5 of
    ``"{id}:{seed}"`` so any engine (incl. the DuckDB oracle) draws the
    identical sample. At scale the corpus is written partitioned by
    cell; a query reads nprobe/n_cells of it. With ``nprobe ==
    n_cells`` every cell is probed and the result equals brute force
    exactly (tested). Scoring is normalized-float cosine, which the
    oracle SQL replicates.
    """
    import numpy as np

    C = np.stack(
        [
            np.asarray(r[1], dtype=np.float64)
            for r in _md5_sample(corpus, n_cells, vec_col, id_col, seed)
        ]
    )
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    spark = corpus.sparkSession
    bc_c = spark.sparkContext.broadcast(C)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["cell"] = (m @ bc_c.value.T).argmax(axis=1).astype("int32")
            yield pdf

    corpus_cells = corpus.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<float>, cell int"
    )

    # probes are small: rank their cells driver-side, explode to nprobe rows
    probe = _probe_matrix(probes, id_col, vec_col)
    if probe is None:
        return local_frame(spark, [], _TOPK_SCHEMA["cosine"])
    probe_ids, pm = probe
    pn = pm / np.linalg.norm(pm, axis=1, keepdims=True)
    cell_rank = np.argsort(-(pn @ C.T), axis=1)[:, :nprobe]
    probe_cells = local_frame(
        spark,
        [
            (int(pid), [float(x) for x in vec], int(c))
            for pid, vec, cells in zip(probe_ids, pm, cell_rank)
            for c in cells
        ],
        "probe_id long, probe_vec array<double>, cell int",
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            qm = np.stack(pdf["probe_vec"].to_numpy()).astype(np.float64)
            qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "probe_id": pdf["probe_id"],
                    "neighbor_id": pdf[id_col],
                    "cosine": np.einsum("ij,ij->i", cm, qm),
                }
            )

    scored = corpus_cells.join(F.broadcast(probe_cells), "cell").mapInPandas(
        score, _SCORED_SCHEMA
    )
    return _rank(scored, k, "cosine", include_self)


def _hyperplane_table(dim: int, bits: int, seed: int):
    """±1 hyperplane matrix (bits, dim) from the sha256 bit stream of
    ``"{seed}:{b}:{counter}"`` — deterministic across runs, engines and
    platforms, computed driver-side with no Spark job."""
    import hashlib

    import numpy as np

    H = np.empty((bits, dim))
    for b in range(bits):
        buf = b""
        ctr = 0
        while len(buf) * 8 < dim:
            buf += hashlib.sha256(f"{seed}:{b}:{ctr}".encode()).digest()
            ctr += 1
        arr = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))[:dim]
        H[b] = np.where(arr == 1, 1.0, -1.0)
    return H


def hyperplane_bucket_col(
    vec_col: str | Column, dim: int, bits: int = 8, seed: int = 42
) -> Column:
    """Random-hyperplane LSH bucket id (sign pattern of ``bits``
    projections) as a pure SQL column — for bucketing a corpus at write
    time so queries skip the kernel. Hyperplane weights are the same
    sha256-derived ±1 literals :func:`lsh_topk`'s numpy kernel uses, and
    the vector quantizes to the :data:`VEC_QUANT` integer grid first, so
    every projection is an exact integer sum — buckets are bit-identical
    across this fold, the numpy kernels, and any other engine."""
    import numpy as np

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    vq = F.transform(
        v, lambda x: F.floor(x.cast("double") * F.lit(VEC_QUANT) + F.lit(0.5))
    )
    H = _hyperplane_table(dim, bits, seed)
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        weights = F.array(*[F.lit(float(w)) for w in H[b]])
        proj = F.aggregate(
            F.zip_with(vq, weights, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-label centroid of an embedding column, long form:
    (label, pos, n_vecs, mean_val) — one row per label × dimension.

    Scale shape: ``posexplode`` then ONE hash aggregation on
    (label, pos) with map-side partials — state is labels × dim, not
    rows; no per-label collect_list blowup. A float sum is
    order-dependent (non-associative rounding breaks determinism under
    retries and engine comparison), so values are quantized to exact
    integers (``floor(v·quant + 0.5)``), summed exactly as BIGINT, and
    divided back out once at the edge — the same integer-cents trick
    the money aggregates use, giving bit-identical results in any
    partition order and any engine.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos0", "v"),
    ).select(
        "label",
        (F.col("pos0") + F.lit(1)).alias("pos"),
        F.floor(F.col("v").cast("double") * F.lit(float(quant)) + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("vq").alias("sq"),
        )
        .select(
            "label",
            "pos",
            "n_vecs",
            (
                F.col("sq").cast("double")
                / F.col("n_vecs").cast("double")
                / F.lit(float(quant))
            ).alias("mean_val"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the probe's bucket in any of
    ``tables`` independent hyperplane tables; exact cosine re-ranks the
    candidate union. Recall ~ 1-(1-p^bits)^tables — tune ``bits`` down
    or ``tables`` up for recall, the reverse for cost. Candidate volume
    scales ~ tables * n / 2^bits per probe, never n².

    One pass of the shared grid-cosine kernel does everything per Arrow
    batch: sign-matmul bucketing (buckets identical to
    :func:`hyperplane_bucket_col`, so a corpus pre-bucketed at write
    time can skip straight to the match), bucket-equality match against
    the probe buckets, and exact cosine scores of the surviving pairs —
    each (probe, neighbor) pair is emitted at most once, so the only
    shuffle is the final per-probe rank over ~tables·n/2^bits rows.
    """
    import numpy as np

    probe = _probe_matrix(probes, id_col, vec_col)
    if probe is None:
        return local_frame(corpus.sparkSession, [], _TOPK_SCHEMA["cosine"])
    H = np.stack([_hyperplane_table(dim, bits, seed + t) for t in range(tables)])
    bit_weights = (1 << np.arange(bits)).astype(np.int64)

    def buckets(vq):
        # (tables, n) bucket ids; on the VEC_QUANT grid every projection
        # is an exact integer sum, so the sign bits match the SQL fold
        return np.stack([((vq @ H[t].T) > 0) @ bit_weights for t in range(tables)])

    b_p = buckets(_grid(probe[1]))

    def pick(vq, cos):
        return np.nonzero((buckets(vq)[:, :, None] == b_p[:, None, :]).any(axis=0))

    scored = _grid_cosine(corpus, *probe, id_col, vec_col, pick)
    return _rank(scored, k, "cosine", include_self=False)


def kmeans_step(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    quant: int = 1_000_000,
) -> DataFrame:
    """ONE spherical k-means iteration — the distributed building block
    of the Lloyd loop: deterministic seed centroids (k corpus vectors
    with the smallest md5("{id}:{seed}") — the same engine-portable
    sample :func:`ivf_topk` draws), nearest-centroid assignment by
    cosine (tie -> smallest centroid id; centroid rows are sorted by id
    before the argmax so numpy's first-match tie rule IS that rule),
    then exact integer-quantized centroid recomputation via
    :func:`label_centroids`.

    Assignment is engine-portable by construction, not by luck: raw
    float values quantize to the :data:`VEC_QUANT` integer grid (floats
    are exactly representable — no rounding ambiguity), dot products
    and squared norms are then EXACT integers in any engine (sums stay
    far under 2⁵³), and the final cosine is one correctly-rounded IEEE
    division/sqrt — so numpy and the DuckDB oracle compare identical
    doubles, unlike a normalized-float BLAS matmul whose blocked
    accumulation order can flip near-tie argmaxes. A zero vector gets
    cosine 0 to every centroid and falls to the smallest-id tie rule.

    Output long form: (cluster, pos, n_vecs, mean_val) where cluster is
    the seed centroid's vector id. Callers loop this for full k-means;
    the k·dim centroid grid rides the task closure (tiny — no broadcast
    handle to leak across Lloyd iterations), then one Arrow assignment
    pass and one (cluster, pos) aggregation — no shuffle of the vectors
    themselves. Deterministic: a pure function of (data, k, seed).
    """
    cids, cq = _seed_centroids(df, k, vec_col, id_col, seed)
    assigned = _assign_to_grid(df, cids, cq, vec_col, id_col)
    out = label_centroids(assigned, vec_col=vec_col, label_col="cluster", quant=quant)
    return out.select(
        F.col("label").alias("cluster"), "pos", "n_vecs", "mean_val"
    )


def _seed_centroids(df: DataFrame, k: int, vec_col: str, id_col: str, seed: int):
    """(cluster ids asc, integer-grid centroid matrix) from the k
    corpus vectors with the smallest md5('{id}:{seed}')."""
    import numpy as np

    cent_rows = _md5_sample(df, k, vec_col, id_col, seed)
    cent_rows.sort(key=lambda r: r[0])  # cluster ids ascending for tie rule
    cids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    cq = _grid(
        np.stack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    ).astype(np.int64)
    return cids, cq


def _nearest_cell(vq, cids, cq):
    """Per grid row of ``vq``, the id of the nearest ``cq`` centroid by
    exact grid cosine. cids must be ascending so numpy's first-match
    argmax implements the smallest-id tie rule; a zero vector gets
    cosine 0 everywhere and falls to that rule."""
    import numpy as np

    vq = vq.astype(np.int64)
    c_norm = np.sqrt(np.einsum("ij,ij->i", cq, cq).astype(np.float64))
    v_norm = np.sqrt(np.einsum("ij,ij->i", vq, vq).astype(np.float64))
    dots = (vq @ cq.T).astype(np.float64)
    denom = np.where(v_norm > 0, v_norm, 1.0)[:, None] * c_norm[None, :]
    return cids[(dots / denom).argmax(axis=1)]


def _assign_to_grid(
    df: DataFrame, cids, cq, vec_col: str, id_col: str
) -> DataFrame:
    """Nearest-centroid assignment by cosine against an integer-grid
    centroid matrix riding the task closure (no shuffle of vectors).
    Output: the id and vector columns plus ``cluster``."""
    import numpy as np

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = pdf[[id_col, vec_col]].copy()
            out["cluster"] = _nearest_cell(_grid(m), cids, cq)
            yield out

    return df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<float>, cluster long"
    )


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    quant: int = 1_000_000,
) -> DataFrame:
    """The full Lloyd loop: :func:`kmeans_step`'s assignment/update,
    iterated.  Iteration 1 assigns to the deterministic seed VECTORS;
    every later iteration re-assigns to the previous update's centroids
    re-quantized onto the :data:`VEC_QUANT` grid from their canonical
    mean doubles (``floor(mean * VEC_QUANT + 0.5)``) — the exact values
    an unrolled SQL chain derives, so N iterations stay hash-checkable
    cross-engine, like :func:`data__converter_spark.graph.pagerank`.

    Per iteration the driver pulls only the k x dim centroid grid
    (Lloyd's classic control loop — the vectors themselves never leave
    the executors, the grid rides the next task closure).  A cluster
    that loses every member disappears; k may shrink.  Output:
    (cluster, pos, n_vecs, mean_val) of the final update."""
    import numpy as np

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    cids, cq = _seed_centroids(df, k, vec_col, id_col, seed)
    for _ in range(iterations):
        assigned = _assign_to_grid(df, cids, cq, vec_col, id_col)
        cent = label_centroids(
            assigned, vec_col=vec_col, label_col="cluster", quant=quant
        )
        rows = cent.collect()
        by_cluster: dict = {}
        for r in rows:
            by_cluster.setdefault(r["label"], {})[r["pos"]] = r["mean_val"]
        cids = np.array(sorted(by_cluster), dtype=np.int64)
        dim = max(len(v) for v in by_cluster.values())
        cq = np.floor(
            np.array(
                [[by_cluster[c][p + 1] for p in range(dim)] for c in cids],
                dtype=np.float64,
            )
            * VEC_QUANT
            + 0.5
        ).astype(np.int64)
    # the final iteration was just materialized for the collect — build
    # the result from those rows instead of re-executing the heaviest
    # stage (assignment over the full corpus) a second time
    return local_frame(df.sparkSession, rows, cent.schema).select(
        F.col("label").alias("cluster"), "pos", "n_vecs", "mean_val"
    )


def centroid_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    k: int = 5,
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-label embedding outliers: the ``k`` vectors farthest (squared
    L2) from their label's centroid — the standard mislabeled-example /
    contamination sweep over a labeled embedding table.

    Distances are exact integers: values quantize to the integer grid
    (``floor(v*quant + 0.5)``), the centroid coordinate is the rounded
    integer mean (exact BIGINT sum, one double divide, one floor — the
    same bit pattern on any engine and any partition order), and the
    squared distance sums BIGINT terms.  Ranking ties break on the id.

    Scale shape: one posexplode (no shuffle), one (label, pos)
    aggregate whose state is labels x dims (not rows), the tiny
    centroid frame broadcast back onto the exploded stream, one
    aggregate on the vector id, and a per-label top-k window over the
    per-vector frame — the only row-scale shuffle keys are the vector
    id and the label."""
    from pyspark.sql import Window

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos0", "v"),
    ).select(
        "id",
        "label",
        (F.col("pos0") + F.lit(1)).alias("pos"),
        F.floor(F.col("v").cast("double") * F.lit(float(quant)) + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    cent = exploded.groupBy("label", "pos").agg(
        F.floor(
            F.sum("vq").cast("double") / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cq")
    )
    per_vec = (
        exploded.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("id", "label")
        .agg(
            F.sum((F.col("vq") - F.col("cq")) * (F.col("vq") - F.col("cq")))
            .cast("bigint")
            .alias("dist_q")
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist_q"), F.asc("id"))
    return (
        per_vec.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("label"),
            F.col("id").alias(id_col),
            "dist_q",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def centroid_separation(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    quant: int = 1_000_000,
) -> DataFrame:
    """Pairwise squared L2 distance between label centroids — the
    cluster-separation diagnostic run after labeling/clustering (small
    separations flag confusable label pairs).  Centroid coordinates
    are rounded integer means (same construction as
    :func:`centroid_outliers`), so the distances are exact BIGINTs.

    Scale shape: centroids reduce to a labels x dims frame via one
    hash aggregate; the pairwise step is a self-join on the dimension
    key over that TINY frame (labels² x dims intermediate, independent
    of row count), then one aggregate per label pair."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos0", "v"),
    ).select(
        "label",
        (F.col("pos0") + F.lit(1)).alias("pos"),
        F.floor(F.col("v").cast("double") * F.lit(float(quant)) + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    cent = exploded.groupBy("label", "pos").agg(
        F.floor(
            F.sum("vq").cast("double") / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cq")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("cq").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("cq").alias("cb")
    )
    return (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("bigint")
            .alias("dist_q")
        )
    )


def _slice_book(ids, q, m: int):
    """A PQ codebook sliced per subspace: ``(Cs, cids_s)`` where
    ``Cs[s]`` is the (k, dim/m) float64 integer-grid codeword matrix of
    subspace ``s`` and ``cids_s[s]`` its ascending code ids."""
    dim = q.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d0 = dim // m
    return [q[:, s * d0 : (s + 1) * d0].astype("float64") for s in range(m)], [ids] * m


def _encode(
    df: DataFrame, Cs: list, cids_s: list, vec_col: str, id_col: str, cells=None
) -> DataFrame:
    """PQ code assignment — ONE Arrow pass, books in the task closure.
    ``Cs[s]``/``cids_s[s]`` are subspace ``s``'s codewords and their
    ascending ids (argmin-first = smallest-id tie rule). Output:
    (vid, s, code); given the coarse book ``cells = (cell_ids,
    cell_q)``, each row also carries its vector's cell — the ANN index
    rows, :data:`_INDEX_SCHEMA`."""
    import numpy as np

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = _grid(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            vid = pdf[id_col].to_numpy()
            frames = []
            for s, C in enumerate(Cs):
                d0 = C.shape[1]
                A = Q[:, s * d0 : (s + 1) * d0]
                # ||a-c||^2 = a.a - 2 a.c + c.c — exact integers in f64
                d = (
                    np.einsum("ij,ij->i", A, A)[:, None]
                    - 2.0 * (A @ C.T)
                    + np.einsum("ij,ij->i", C, C)[None, :]
                )
                frames.append(
                    pd.DataFrame(
                        {"vid": vid, "s": s, "code": cids_s[s][d.argmin(axis=1)]}
                    )
                )
            out = pd.concat(frames, ignore_index=True)
            if cells is not None:
                out["cell"] = np.tile(_nearest_cell(Q, *cells), len(Cs))
            yield out

    schema = "vid long, s int, code long" if cells is None else _INDEX_SCHEMA
    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    iterations: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    quant: int = 1_000_000,
) -> DataFrame:
    """Train the PQ codebook: Lloyd iterations run PER SUBSPACE over
    the md5-sampled seed codewords — the actual k-means fit Jégou's PQ
    prescribes, not just the sampled-codebook shortcut
    :func:`pq_topk` defaults to.

    Each iteration is :func:`_encode`'s single Arrow assignment
    pass (codebooks ride the closure — vectors never shuffle) followed
    by ONE (subspace, code, pos) aggregation whose state is
    m·k·d0 cells, not rows.  Like :func:`kmeans_train`, the driver
    pulls only the codebook between iterations, means are exact
    integer sums divided once (bit-identical on any engine and any
    partition order), and re-quantization onto the VEC_QUANT grid uses
    the same canonical ``floor(mean·2^17 + 0.5)`` an unrolled SQL
    chain computes — so N training iterations stay hash-checkable.
    A codeword that loses every member disappears (k may shrink per
    subspace, independently).

    Output long form: (s, code, pos, n_vecs, mean_val) of the final
    update — pos is 1-based WITHIN the subspace.
    """
    import numpy as np

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    Cs, cids_s = _slice_book(
        *_seed_centroids(corpus, n_codes, vec_col, id_col, seed), m
    )
    d0 = Cs[0].shape[1]

    sub_expl = corpus.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("pos0", "v"),
    ).select(
        "vid",
        (F.col("pos0") / F.lit(d0)).cast("int").alias("s"),
        (F.col("pos0") % F.lit(d0) + F.lit(1)).alias("pos"),
        F.floor(F.col("v").cast("double") * F.lit(float(quant)) + F.lit(0.5))
        .cast("bigint")
        .alias("vq"),
    )
    for _ in range(iterations):
        codes = _encode(corpus, Cs, cids_s, vec_col, id_col)
        cent = (
            sub_expl.join(codes, ["vid", "s"])
            .groupBy("s", "code", "pos")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                F.sum("vq").alias("sq"),
            )
            .select(
                "s",
                "code",
                "pos",
                "n_vecs",
                # exact integer sum on the quant grid — exposed so
                # consumers (and the oracle) can avoid float rounding
                F.col("sq").cast("bigint").alias("sum_q"),
                (
                    F.col("sq").cast("double")
                    / F.col("n_vecs").cast("double")
                    / F.lit(float(quant))
                ).alias("mean_val"),
            )
        )
        rows = cent.collect()
        by_sub: dict = {}
        for r in rows:
            by_sub.setdefault(r["s"], {}).setdefault(r["code"], {})[
                r["pos"]
            ] = r["mean_val"]
        Cs, cids_s = [], []
        for s in range(m):
            codes_here = sorted(by_sub.get(s, {}))
            cids_s.append(np.array(codes_here, dtype=np.int64))
            Cs.append(
                _grid(
                    np.array(
                        [
                            [by_sub[s][c][p + 1] for p in range(d0)]
                            for c in codes_here
                        ],
                        dtype=np.float64,
                    )
                )
            )
    # same convention as kmeans_train: the final update was already
    # materialized for the codebook pull — return THOSE rows rather
    # than re-running the assignment pass
    return local_frame(corpus.sparkSession, rows, cent.schema)


def _adc_lut(spark, probe_ids, pm, Cs: list, cids_s: list) -> DataFrame:
    """The ADC lookup table (probe_id, s, code, d): every probe
    subvector's exact squared grid distance to every codeword of its
    subspace — probes × m × n_codes rows, constant in corpus size."""
    import numpy as np

    rows = []
    for pid, v in zip(probe_ids, _grid(pm)):
        for s, C in enumerate(Cs):
            d0 = C.shape[1]
            a = v[s * d0 : (s + 1) * d0]
            d = np.dot(a, a) - 2.0 * (C @ a) + np.einsum("ij,ij->i", C, C)
            rows.extend((int(pid), s, int(c), int(x)) for c, x in zip(cids_s[s], d))
    return local_frame(spark, rows, "probe_id long, s int, code long, d long")


def _adc_topk(
    cand: DataFrame, lut: DataFrame, on: list, k: int, include_self: bool
) -> DataFrame:
    """The PQ scoring stage: candidates' (vid, s, code) rows join the
    broadcast lookup table on ``on``, one (probe, vid) aggregation sums
    the m subspace distances into the exact ``adc_dist``, and
    :func:`_rank` ranks it ascending."""
    adc = (
        cand.join(F.broadcast(lut), on)
        .groupBy("probe_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    return _rank(adc, k, "adc_dist", include_self)


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
    seed: int = 42,
    include_self: bool = False,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector splits into
    ``m`` subspaces, each subvector snaps to its nearest of ``n_codes``
    codewords, and a probe scores a vector by the Asymmetric Distance
    Computation — the sum of the probe-subvector-to-codeword squared
    distances looked up per subspace.  The corpus compresses from
    dim floats to ``m`` small code ids; at 100 TB the codes table IS
    the index (write it once; queries never touch raw vectors).

    Codewords are the classic sampled codebook: the ``n_codes`` corpus
    vectors with the smallest md5("{id}:{seed}") — the same
    engine-portable draw IVF/k-means use — sliced per subspace (no
    Lloyd fit; :func:`pq_train` runs the per-subspace k-means
    refinement when a fitted codebook is wanted).  All arithmetic
    happens on the :data:`VEC_QUANT`
    integer grid, so every subspace distance, every ADC sum, and every
    rank is an EXACT integer — the DuckDB oracle reproduces the full
    index bit-for-bit, ties and all (distance ties break to the
    smaller code id; rank ties to the smaller neighbor id).

    Scale shape: encoding is one Arrow pass with the n_codes×dim
    codebook riding the task closure (narrow — vectors never shuffle);
    the ADC lookup table is probes×m×n_codes rows (tiny, broadcast —
    constant in corpus size); scoring is one broadcast join + one
    (probe, vec) aggregation of m-row groups; ranking windows over
    probe partitions.  Output: (probe_id, neighbor_id, adc_dist, rank).
    """
    spark = corpus.sparkSession
    Cs, cids_s = _slice_book(
        *_seed_centroids(corpus, n_codes, vec_col, id_col, seed), m
    )
    codes = _encode(corpus, Cs, cids_s, vec_col, id_col)
    probe = _probe_matrix(probes, id_col, vec_col)
    if probe is None:
        return local_frame(spark, [], _TOPK_SCHEMA["adc_dist"])
    lut = _adc_lut(spark, *probe, Cs, cids_s)
    return _adc_topk(codes, lut, ["s", "code"], k, include_self)


class _Books(NamedTuple):
    """Frozen IVF-PQ books on the :data:`VEC_QUANT` grid: the coarse
    cell centroids, the full-dim PQ codewords, and the codewords sliced
    per subspace (:func:`_slice_book`)."""

    cell_ids: object
    cell_q: object
    code_ids: object
    code_q: object
    Cs: list
    cids_s: list


def _books(cell: tuple, code: tuple, m: int) -> _Books:
    return _Books(*cell, *code, *_slice_book(*code, m))


def _draw_books(
    corpus: DataFrame, n_cells: int, n_codes: int, m: int,
    vec_col: str, id_col: str, seed: int,
) -> _Books:
    """The md5-sampled books of ``corpus``: cells from ``seed``,
    codewords from ``seed + 1`` (decoupled samples). The two draws are
    independent jobs, overlapped from driver threads (guide §2.6)."""
    cell, code = run_jobs(
        lambda: _seed_centroids(corpus, n_cells, vec_col, id_col, seed),
        lambda: _seed_centroids(corpus, n_codes, vec_col, id_col, seed + 1),
    )
    return _books(cell, code, m)


def _index_rows(df: DataFrame, books: _Books, vec_col: str, id_col: str) -> DataFrame:
    """The ANN index rows (vid, s, code, cell) of ``df``'s vectors
    against ``books`` — one Arrow pass, vectors never shuffle."""
    return _encode(
        df, books.Cs, books.cids_s, vec_col, id_col,
        cells=(books.cell_ids, books.cell_q),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    seed: int = 42,
    include_self: bool = False,
) -> DataFrame:
    """IVF-PQ — the production ANN architecture (FAISS's default at
    scale): an IVF coarse quantizer prunes the corpus to ``nprobe`` of
    ``n_cells`` Voronoi cells, and within the probed cells candidates
    score by PQ Asymmetric Distance over ``m`` code ids — the query
    touches ``nprobe/n_cells`` of a corpus that is ALSO compressed
    dim-floats → m codes.  At 100 TB: write the index partitioned by
    cell once (:func:`ann_index_build`); a query reads a few partitions
    of a table ~100× smaller than the vectors.

    Determinism end to end: cells assign by grid-cosine argmax against
    md5-sampled centroids (exact integers — :func:`kmeans_step`'s
    rule, ties to the smaller centroid id); PQ codewords are the
    md5("{id}:{seed+1}") sample (decoupled from the cell sample);
    every subspace distance and ADC sum is an exact BIGINT; rank ties
    break on the neighbor id.  The DuckDB oracle reproduces the whole
    index bit-for-bit.

    Scale shape: ONE Arrow pass assigns cells and encodes PQ codes
    (closure-resident books — vectors never shuffle); the probe→cell
    table (probes × nprobe) and the ADC lookup (probes × m × n_codes)
    broadcast; candidate generation is a broadcast join on the cell id,
    scoring a broadcast join + m-row aggregate, ranking a per-probe
    window.
    """
    books = _draw_books(corpus, n_cells, n_codes, m, vec_col, id_col, seed)
    return _ivf_pq_rank(
        corpus.sparkSession, _index_rows(corpus, books, vec_col, id_col),
        books, probes, k, nprobe, vec_col, id_col, include_self,
    )


def _ivf_pq_rank(
    spark,
    idx: DataFrame,
    books: _Books,
    probes: DataFrame,
    k: int,
    nprobe: int,
    vec_col: str,
    id_col: str,
    include_self: bool,
) -> DataFrame:
    """The probe side of IVF-PQ over index rows (vid, s, code, cell) —
    shared by :func:`ivf_pq_topk` (in memory), :func:`ivf_pq_from_index`
    (the stored artifact) and :func:`ivf_pq_from_state` (the streaming
    state), so the three can differ ONLY in how the rows were produced.

    Each probe's ``nprobe`` nearest cells (exact grid cosine, ties to
    the smaller cell id) are known driver-side, so their union becomes
    an ``isin`` filter on ``idx`` — a PARTITION filter on the stored
    artifact's scan: only nprobe/n_cells of its directories are read
    before any join runs. A broadcast probe→cell join then routes each
    candidate to the probes that chose its cell."""
    import numpy as np

    probe = _probe_matrix(probes, id_col, vec_col)
    if probe is None:
        return local_frame(spark, [], _TOPK_SCHEMA["adc_dist"])
    probe_ids, pm = probe
    cell_ids, cell_q = books.cell_ids, books.cell_q
    cell_norm = np.sqrt(np.einsum("ij,ij->i", cell_q, cell_q).astype(np.float64))
    pc_rows = []
    for pid, v in zip(probe_ids, _grid(pm)):
        p_norm = np.sqrt(np.dot(v, v))
        cos = (cell_q @ v) / ((p_norm if p_norm > 0 else 1.0) * cell_norm)
        order = sorted(range(len(cell_ids)), key=lambda j: (-cos[j], cell_ids[j]))
        pc_rows.extend((int(pid), int(cell_ids[j])) for j in order[:nprobe])
    cand = idx.filter(F.col("cell").isin(sorted({c for _, c in pc_rows}))).join(
        F.broadcast(local_frame(spark, pc_rows, "probe_id long, cell long")), "cell"
    )
    lut = _adc_lut(spark, probe_ids, pm, books.Cs, books.cids_s)
    return _adc_topk(cand, lut, ["probe_id", "s", "code"], k, include_self)


def _ann_books_to_rows(ids, q) -> list:
    """Codebook matrix -> long-form (cid, pos, val_q) rows (1-based
    pos, exact integer-grid values) for the parquet artifact."""
    return [
        (int(cid), p + 1, int(q[i, p]))
        for i, cid in enumerate(ids)
        for p in range(q.shape[1])
    ]


def _ann_rows_to_book(rows):
    """Inverse of :func:`_ann_books_to_rows`: (cid, pos, val_q) rows
    -> (ids ascending, integer matrix)."""
    import numpy as np

    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r[0], {})[r[1]] = r[2]
    ids = np.array(sorted(by_id), dtype=np.int64)
    dim = max(len(v) for v in by_id.values())
    q = np.array(
        [[by_id[c][p + 1] for p in range(dim)] for c in ids], dtype=np.int64
    )
    return ids, q


def _read_ann_books(spark, path: str, m: int) -> _Books:
    """Load the frozen books — two bounded, codebook-sized collects,
    overlapped (guide §2.6: independent driver-side jobs)."""
    cell_rows, code_rows = run_jobs(
        lambda: spark.read.schema(_BOOK_SCHEMA).parquet(f"{path}/cellbook").collect(),
        lambda: spark.read.schema(_BOOK_SCHEMA).parquet(f"{path}/codebook").collect(),
    )
    return _books(_ann_rows_to_book(cell_rows), _ann_rows_to_book(code_rows), m)


def _tombstones(spark, path: str) -> DataFrame | None:
    """The artifact's tombstone table, or None when it has none."""
    tomb_path = f"{path}/tombstones"
    if not commit.exists(spark, tomb_path):
        return None
    return spark.read.schema(_TOMB_SCHEMA).parquet(tomb_path)


def ann_index_build(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    seed: int = 42,
) -> None:
    """Write the STANDING IVF-PQ artifact — the embedding analog of
    :func:`build_text_index`: three parquet tables under ``path``:

    - ``cellbook`` (cid, pos, val_q): the IVF coarse centroids on the
      integer grid — FROZEN at build time;
    - ``codebook`` (cid, pos, val_q): the full-dim PQ codewords
      (subspace slices derive from ``m`` at read time) — FROZEN;
    - ``index`` (vid, s, code) PARTITIONED BY ``cell``: each vector's
      ``m`` PQ codes in its cell's directory — FAISS's inverted-list
      files as hive partitioning, so a query reads only its probed
      cells' directories (:func:`ivf_pq_from_index`).

    Codebooks are the md5-sampled draws of :func:`ivf_pq_topk` over
    THIS build's corpus; later appends assign against them without
    retraining (:func:`ann_index_append`), exactly how a production
    FAISS-style index absorbs new vectors between periodic retrains.
    At 100 TB the index table is ~100× smaller than the vectors and a
    build is one Arrow pass over the corpus — the books are
    driver-side only at codebook size.
    """
    spark = corpus.sparkSession
    books = _draw_books(corpus, n_cells, n_codes, m, vec_col, id_col, seed)
    # the three table writes are independent jobs — overlapped; a book
    # is codebook-sized, so it lands as one file (one read per query)
    run_jobs(
        lambda: local_frame(
            spark, _ann_books_to_rows(books.cell_ids, books.cell_q), _BOOK_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/cellbook"),
        lambda: local_frame(
            spark, _ann_books_to_rows(books.code_ids, books.code_q), _BOOK_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook"),
        lambda: _index_rows(corpus, books, vec_col, id_col)
        .write.mode("overwrite").partitionBy("cell").parquet(f"{path}/index"),
    )


def ann_index_append(
    delta: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
) -> None:
    """Absorb NEW embeddings into the standing IVF-PQ artifact against
    the FROZEN codebooks: one Arrow pass assigns + encodes just the
    delta, appended with the same ``partitionBy`` — each new row lands
    in its cell's directory, the base directories are never rewritten,
    the base corpus is never rescanned and the books never move, so
    append-then-query == build-from-scratch-with-the-same-books-then-
    query EXACTLY (pinned by the ``ann_append_query`` oracle and
    pytest).

    The trade a frozen quantizer makes is staleness, not correctness:
    ADC distances stay exact against the stored books, but if the new
    vectors' distribution drifts off the build-time sample the cell
    balance and recall degrade — audit with the recall machinery
    (``ann_recall_after_append``) and retrain when it slips
    (:func:`ann_index_retrain`).
    Contract: ids in the delta must be NEW (an upstream dedup gate —
    re-appending an id would double its index rows)."""
    books = _read_ann_books(delta.sparkSession, path, m)
    _index_rows(delta, books, vec_col, id_col).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/index")


def ann_index_delete(doc_ids: DataFrame, path: str) -> None:
    """Delete vectors from the standing IVF-PQ artifact by TOMBSTONE —
    the ANN analog of the text index's signed tf retraction: the
    doomed ids append to ``{path}/tombstones`` (one bigint column) and
    :func:`ivf_pq_from_index` anti-joins them out of the candidate
    stream.  At 100 TB a takedown is therefore an O(deleted ids)
    append; the index table is untouched until
    :func:`ann_index_compact` folds the tombstones in.  Deleting an
    unknown or already-deleted id is a no-op (the anti-join doesn't
    care); the books never move, so remaining rankings are unchanged
    (pinned: delete-then-query == build-without-the-deleted)."""
    doc_ids.toDF("vid").select(F.col("vid").cast("long")).distinct().write.mode(
        "append"
    ).parquet(f"{path}/tombstones")


def ann_index_compact(spark, path: str) -> None:
    """Fold the tombstones into the index table: rewrite it minus the
    deleted vids and clear the tombstone table.  The maintenance
    OPTIMIZE for a delete-heavy index — run it when the tombstone
    fraction makes the query-time anti-join's broadcast side
    noticeable; until then deletes stay O(1).

    The rewrite is one :func:`~data__converter_spark.commit.swap`: one
    data write, no staging residue, and a crash at any point leaves a
    state the entry-time ``commit.recover`` repairs — never a
    partially-written live table.  The tombstone table is cleared only
    after the swap commits; a crash before the clear re-runs as a
    no-op anti-join against the already-compacted table."""
    index_path = f"{path}/index"
    commit.recover(spark, index_path)
    tomb = _tombstones(spark, path)
    if tomb is None:
        return  # nothing to fold
    kept = spark.read.schema(_INDEX_SCHEMA).parquet(index_path).join(
        F.broadcast(tomb), "vid", "left_anti"
    )
    commit.swap(
        spark, index_path, kept.write.mode("overwrite").partitionBy("cell").parquet
    )
    local_frame(spark, [], _TOMB_SCHEMA).write.mode("overwrite").parquet(
        f"{path}/tombstones"
    )


def ann_index_retrain(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    seed: int = 42,
) -> None:
    """The RESPONSE to the recall drift alarm
    (``ann_recall_after_append``) — the last step of the standing
    index lifecycle: retrain the cell/code books on the CURRENT corpus
    and migrate the artifact to a new generation atomically.

    PQ codes are lossy, so re-encoding needs the source vectors:
    ``corpus`` is the current vector set (the table the index was
    built and appended from).  Standing tombstones fold in — the
    live set is ``corpus`` minus tombstoned vids, and the new
    generation carries no tombstone table.

    The swap is generation-atomic: the whole artifact directory is one
    :func:`~data__converter_spark.commit.swap` — the new index builds
    in the staged directory, whose root ``_SUCCESS`` lands only after
    every table is written, and the directory replaces live as one
    unit.  A crash anywhere leaves a state ``commit.recover`` (run at
    entry) repairs to a CONSISTENT artifact — never mixed
    generations, because the tables move as one directory.
    Determinism: same corpus + same seed ⇒ the retrained books equal a
    fresh :func:`ann_index_build` over the live set, so
    migrated-artifact queries == fresh-build queries exactly (the
    ``ann_retrain_query`` oracle pins this against the IVF-PQ SQL
    verbatim)."""
    spark = corpus.sparkSession
    commit.recover(spark, path)
    live = corpus
    tomb = _tombstones(spark, path)
    if tomb is not None:
        live = corpus.join(
            F.broadcast(tomb), corpus[id_col] == tomb["vid"], "left_anti"
        )
    commit.swap(spark, path, lambda staged: ann_index_build(
        live, staged, vec_col=vec_col, id_col=id_col,
        n_cells=n_cells, m=m, n_codes=n_codes, seed=seed,
    ))


def ivf_pq_from_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    include_self: bool = False,
) -> DataFrame:
    """:func:`ivf_pq_topk`'s query side against the standing on-disk
    artifact: the books load driver-side (codebook-sized), the probed
    cell set becomes a partition filter on the index scan (nprobe of
    n_cells directories read), and the probe LUT and probe→cell tables
    broadcast.  Tombstoned vids (:func:`ann_index_delete`) anti-join
    out of the scan before candidate generation.  Identical ranking
    arithmetic to the in-memory op by construction (shared
    :func:`_ivf_pq_rank`)."""
    books = _read_ann_books(spark, path, m)
    idx = spark.read.schema(_INDEX_SCHEMA).parquet(f"{path}/index")
    tomb = _tombstones(spark, path)
    if tomb is not None:
        idx = idx.join(F.broadcast(tomb), "vid", "left_anti")
    return _ivf_pq_rank(
        spark, idx, books, probes, k, nprobe, vec_col, id_col, include_self
    )


def ivf_pq_from_state(
    spark,
    books_path: str,
    state: DataFrame,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    include_self: bool = False,
) -> DataFrame:
    """Query the STREAMING ANN state table (the index rows ``(vid, s,
    code, cell)`` maintained by :func:`~data__converter_spark.streaming.
    runner.run_ann_index_update`) against the frozen books — the read
    side that makes stream-built == batch-built provable: the shared
    :func:`_ivf_pq_rank` does exactly what the stored artifact's query
    side does."""
    books = _read_ann_books(spark, books_path, m)
    return _ivf_pq_rank(
        spark, state, books, probes, k, nprobe, vec_col, id_col, include_self
    )


def _tf_of(df: DataFrame, col: str, id_col: str, out_id: str) -> DataFrame:
    """(id, term, tf) count aggregate off one exploded token pass —
    the shared front of every sparse-retrieval shape."""
    from .textstats import tokens_col

    return (
        df.select(
            F.col(id_col).alias(out_id),
            F.explode(tokens_col(col)).alias("__t__"),
        )
        .select(out_id, F.lower(F.col("__t__")).alias("term"))
        .groupBy(out_id, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def build_text_index(
    corpus_df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    path: str | None = None,
    bucket_table: str | None = None,
    n_buckets: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Materialize the inverted-index ARTIFACT a search engine builds
    once at corpus time: a postings table ``(term, match_id, tf, df,
    dl)`` — every per-(term, doc) statistic BM25/TF ranking needs —
    plus a 1-row corpus-stats table ``(n_docs, total_tok, avgdl)``.

    This is the missing half of :func:`sparse_retrieval` /
    :func:`bm25_retrieval`'s inline shape: those re-tokenize the
    corpus on every call (measured FASTER for a single ranking at
    sf0.1 — the tokenize is a cheap JVM split/explode), which is the
    wrong shape for the hot loop of many query batches against one
    corpus.  At 100 TB the corpus statistics are computed once here,
    written as parquet (``path`` given → ``{path}/postings`` +
    ``{path}/stats``, read back so the caller consumes the on-disk
    artifact exactly as later sessions will), and every subsequent
    ranking is ONE equi-join against the postings — no corpus scan,
    no tokenizer, df/dl/avgdl already joined in.

    Plan shape: tf/df/dl are three slim aggregates off one exploded
    token pass, left lazy so each branch re-scans the corpus: caching
    the tf frame to scan it once was measured slower for local parquet
    at sf0.1 in BOTH forms (1.7 s lazy vs 3.6 s persisted for the
    in-memory pair, 2.6 s vs 3.3 s for the written artifact); the df
    and dl joins are term-/doc-keyed equi-joins of
    aggregate-sized frames.  The postings table is the
    natural bucketing candidate, and ``bucket_table`` does exactly
    that: the postings save as a catalog table bucketed (and sorted)
    by ``term`` into ``n_buckets`` buckets, so a query batch's
    term-keyed join reads co-located buckets and plans WITHOUT an
    Exchange (or Sort) on the postings side — at 100 TB that deletes
    the per-query shuffle of the entire postings table, leaving only
    the (small) query side to move.  The plan property is pinned in
    tests.  ``bucket_table`` and ``path`` are mutually exclusive
    (bucketing metadata lives in the catalog, not in bare parquet).
    """
    if bucket_table is not None and path is not None:
        raise ValueError(
            "build_text_index: pass either path (bare parquet) or "
            "bucket_table (bucketed catalog table), not both"
        )
    postings, stats = index_from_tf(_tf_of(corpus_df, col, id_col, "match_id"))
    if path is not None or bucket_table is not None:
        # a durable index artifact must fail fast on a degenerate
        # corpus — a (0, NULL, NULL) stats parquet read back by a later
        # session would be a silent time bomb
        stats_row = stats.collect()[0]
        if int(stats_row["n_docs"]) == 0:
            raise ValueError(
                "build_text_index: corpus has no tokenizable documents"
                " — refusing to write an empty index artifact"
            )
        spark = corpus_df.sparkSession
        # the validation collect already computed the 1-row stats —
        # write THAT row back (r14, guide §1.2: don't compute things
        # twice) instead of re-running the corpus-scale aggregate, and
        # overlap it with the postings write (guide §2.6)
        stats_local = local_frame(spark, [stats_row], stats.schema)
        if bucket_table is not None:
            from ..scale import run_jobs, write_bucketed

            run_jobs(
                lambda: write_bucketed(
                    postings,
                    bucket_table,
                    "term",
                    buckets=int(n_buckets),
                    sort_by="term",
                ),
                lambda: stats_local.write.mode("overwrite")
                .format("parquet")
                .saveAsTable(f"{bucket_table}_stats"),
            )
            return (
                spark.table(bucket_table),
                spark.table(f"{bucket_table}_stats"),
            )
        from ..scale import run_jobs

        run_jobs(
            lambda: postings.write.mode("overwrite").parquet(
                f"{path}/postings"
            ),
            lambda: stats_local.write.mode("overwrite").parquet(
                f"{path}/stats"
            ),
        )
        return (
            spark.read.parquet(f"{path}/postings"),
            spark.read.parquet(f"{path}/stats"),
        )
    return postings, stats


def index_from_tf(c_tf: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive the (postings, stats) index pair from a stored
    ``(match_id, term, tf)`` table — :func:`build_text_index`'s
    derivation stage with NO tokenizer in the plan: the expensive
    corpus explode happened exactly once, at ingest.  This is the
    read side of the STREAMING index shape
    (:func:`data__converter_spark.streaming.runner.
    run_text_index_update` appends each micro-batch's tf rows to a
    crash-safe state table; this function turns that table into the
    same artifact the batch builder writes) — df, dl and the corpus
    stats are all additive over new documents, so maintenance is an
    append plus these two slim aggregates, never a corpus rescan.
    Extra columns (e.g. the state table's ``__epoch__``) are dropped,
    and so are rows with a NULL ``term`` or ``match_id``, before any
    statistic: the postings' df/dl and the stats' n_docs/total_tok/avgdl
    all count the same rows.
    """
    c_tf = c_tf.select("match_id", "term", "tf").filter(
        F.col("term").isNotNull() & F.col("match_id").isNotNull()
    )
    dl = c_tf.groupBy("match_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    )
    # explicit CASE, not a bare division: an empty/all-blank corpus has
    # n_docs = 0 and a bare `div` would RAISE under ANSI mode mid-write
    # instead of reaching the caller's guard
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tok"),
    ).select(
        "n_docs",
        "total_tok",
        F.expr(
            "CASE WHEN n_docs = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE total_tok div n_docs END"
        )
        .cast("bigint")
        .alias("avgdl"),
    )
    # df/dl ride WINDOW passes over the tf rows (r15, guide §2.2): the
    # old form aggregated df and dl into slim frames and equi-joined
    # them back, paying the aggregate exchanges PLUS the join legs
    # (broadcastable only at toy scale — at 100 TB dl is n_docs-sized
    # and the joins become full sort-merge exchanges).  Two window
    # passes keyed (term) then (match_id) compute the identical
    # columns with strictly fewer exchanges at every scale.
    postings = (
        c_tf.withColumn(
            "df",
            F.count(F.lit(1))
            .over(Window.partitionBy("term"))
            .cast("bigint"),
        )
        .withColumn(
            "dl",
            F.sum("tf").over(Window.partitionBy("match_id")).cast("bigint"),
        )
        .select("term", "match_id", "tf", "df", "dl")
    )
    return postings, stats


def retract_docs_tf(
    tf_state: DataFrame,
    doc_ids: DataFrame,
    id_col: str = "match_id",
) -> DataFrame:
    """Signed retraction rows for a document TAKEDOWN: look up the
    doomed documents' live netted tf rows in the (possibly already
    signed) ``(match_id, term, tf)`` state and negate them.  Appending
    the result to the state makes the docs net to zero everywhere —
    df, dl, n_docs and total_tok all follow through
    :func:`index_from_signed_tf`'s net-then-aggregate, no rebuild.

    This is the text-index analog of
    :func:`~data__converter_spark.ivm.refresh_with_retractions`: at
    100 TB you cannot rebuild the index to delete one document
    (right-to-be-forgotten, contaminated-source takedown), but you CAN
    append its negated postings — one semi-scoped aggregate over the
    deleted docs' rows, driven by the doc ids alone (no original text
    needed, so it works even if the tokenizer has since changed).

    ``doc_ids``: one-column frame of ids to delete (any column name —
    it is renamed to ``id_col``).  Ids absent from the state are
    no-ops.  Deleting an already-deleted doc is also a no-op (the net
    is already zero, so no retraction rows emit)."""
    ids = doc_ids.toDF(id_col).distinct()
    return (
        tf_state.select(id_col, "term", "tf")
        .join(F.broadcast(ids), id_col)
        .groupBy(id_col, "term")
        .agg(F.sum("tf").cast("bigint").alias("__net__"))
        .filter(F.col("__net__") > 0)
        .select(id_col, "term", (-F.col("__net__")).alias("tf"))
    )


def index_from_signed_tf(tf_state: DataFrame) -> tuple[DataFrame, DataFrame]:
    """:func:`index_from_tf` over a SIGNED tf state — the delete-aware
    read side: net each (match_id, term) cell first (sum of signed
    tf), drop cells that net to <= 0, then derive the identical
    (postings, stats) artifact.  A document whose rows all net to zero
    vanishes from dl, so n_docs/total_tok/avgdl shrink with it —
    index-after-deletes == rebuild-from-surviving-docs, pinned by the
    ``bm25_after_delete`` oracle and pytest.

    Cost vs the unsigned read: ONE extra hash aggregate keyed exactly
    like the state (map-side combinable), still never a corpus rescan
    or tokenizer run."""
    net = (
        tf_state.select("match_id", "term", "tf")
        .groupBy("match_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    return index_from_tf(net)


def sparse_from_index(
    queries_df: DataFrame,
    postings: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """:func:`sparse_retrieval`'s ranking against a prebuilt
    :func:`build_text_index` artifact: score(q, d) = Σ_t tf_q·tf_d,
    identical arithmetic and identical output, but the corpus side is
    ONE postings scan — the df column is already there, so the
    ``max_df`` stop-term cap is a pushed-down filter instead of a
    df-aggregate + semi-join.  Only the (small) query batch tokenizes
    at call time."""
    c = postings
    if max_df is not None:
        c = c.filter(F.col("df") <= int(max_df))
    q_tf = _tf_of(queries_df, col, id_col, "query_id")
    scored = (
        q_tf.withColumnRenamed("tf", "q_tf")
        .join(c.select("term", "match_id", F.col("tf").alias("c_tf")), "term")
        .groupBy("query_id", "match_id")
        .agg(F.sum(F.col("q_tf") * F.col("c_tf")).cast("bigint").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("match_id")
    )
    return scored.select(
        "query_id",
        "match_id",
        "score",
        F.row_number().over(w).cast("int").alias("rank"),
    ).filter(F.col("rank") <= int(top_k))


def bm25_from_index(
    queries_df: DataFrame,
    postings: DataFrame,
    stats: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    k1_milli: int = 1200,
    b_milli: int = 750,
    max_df: int | None = None,
) -> DataFrame:
    """:func:`bm25_retrieval`'s ranking against a prebuilt
    :func:`build_text_index` artifact — identical int64 milli
    arithmetic (idf / tf-saturation / length normalization, see
    bm25_retrieval's docstring for the exact forms), but df/dl ride
    the postings row and (n_docs, avgdl) is the broadcast 1-row stats
    table, so a query batch costs one postings equi-join + one
    aggregate + a per-query top-k window.  ``max_df`` is a postings
    filter (pushed to the scan when the artifact is on parquet)."""
    k1 = int(k1_milli)
    b = int(b_milli)
    c = postings
    if max_df is not None:
        c = c.filter(F.col("df") <= int(max_df))
    post = c.crossJoin(F.broadcast(stats)).select(
        "term",
        "match_id",
        F.expr("1000 * (n_docs - df + 1) div (df + 1)").alias("idf_milli"),
        F.expr(
            f"(tf * ({k1} + 1000) * 1000000) div "
            f"(tf * 1000000 + {k1} * (1000 - {b} + ({b} * dl) div avgdl))"
        ).alias("tf_part_milli"),
    )
    q_tf = _tf_of(queries_df, col, id_col, "query_id")
    scored = (
        q_tf.join(post, "term")
        .groupBy("query_id", "match_id")
        .agg(
            F.sum(
                F.expr("tf * (idf_milli * tf_part_milli div 1000)")
            )
            .cast("bigint")
            .alias("score_milli")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_milli"), F.asc("match_id")
    )
    return scored.select(
        "query_id",
        "match_id",
        "score_milli",
        F.row_number().over(w).cast("int").alias("rank"),
    ).filter(F.col("rank") <= int(top_k))


def sparse_retrieval(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """More-like-this retrieval over an inverted index — the sparse
    complement to the dense ANN paths (brute force / LSH / IVF / PQ):
    score(q, d) = Σ_t tf_q(t)·tf_d(t), the raw term-frequency dot
    product, exact in int64 (no idf weighting, so no floats and no
    cross-engine log divergence; idf-weighted variants rank-reduce to
    this on a fixed query when df weights are uniform).

    Plan shape: both sides explode to (id, term, tf) count aggregates;
    the term-keyed equi-join IS the inverted index — postings of the
    same term meet in one shuffle partition, contributions partial-sum
    map-side, and the (query, candidate) aggregate scores without any
    all-pairs work.  Per-query top-k is a row_number window over
    (score desc, id asc) — deterministic, no global sort.

    100 TB guard: a term appearing in f_q query docs and f_c corpus
    docs contributes f_q·f_c join rows — stop-terms dominate Σ f_q·f_c
    exactly like hot shingles in the n-gram Jaccard join.  ``max_df``
    drops corpus terms with document frequency above the cap before
    the join (standard stop-term pruning; also what relevance wants).
    Production sets it; the default None keeps the operator exact for
    oracle comparison on small vocabularies.

    Deliberately NOT composed through :func:`build_text_index`: the TF
    dot product needs neither df (except under the cap, where a
    semi-join on the slim df aggregate is cheaper than carrying a df
    column on every posting) nor dl/avgdl, so consuming the full index
    postings would add two joins of pure overhead.  Query batches
    against a PREBUILT artifact use :func:`sparse_from_index`, which
    shares the scoring tail; the tokenize front is the shared
    :func:`_tf_of`.
    """
    c_tf = _tf_of(corpus_df, col, id_col, "match_id")
    if max_df is not None:
        kept = (
            c_tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= int(max_df))
            .select("term")
        )
        c_tf = c_tf.join(kept, "term")
    q_tf = _tf_of(queries_df, col, id_col, "query_id")
    scored = (
        q_tf.withColumnRenamed("tf", "q_tf")
        .join(c_tf.withColumnRenamed("tf", "c_tf"), "term")
        .groupBy("query_id", "match_id")
        .agg(F.sum(F.col("q_tf") * F.col("c_tf")).cast("bigint").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("match_id")
    )
    return scored.select(
        "query_id",
        "match_id",
        "score",
        F.row_number().over(w).cast("int").alias("rank"),
    ).filter(F.col("rank") <= int(top_k))


def bm25_retrieval(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    k1_milli: int = 1200,
    b_milli: int = 750,
    max_df: int | None = None,
) -> DataFrame:
    """BM25-family lexical ranking over the same inverted-index join
    as :func:`sparse_retrieval` — rare-term weighting (idf), term-
    frequency saturation (k1) and document-length normalization (b),
    entirely in exact int64 milli-units so every engine ranks
    identically bit for bit:

    - ``idf_milli(t) = 1000 * (N - df + 1) div (df + 1)`` — the
      float-free surrogate for ``log((N-df+.5)/(df+.5))``: the SAME
      per-term ordering (strictly decreasing in df) and the same
      rare-term >> stop-term shape, traded linear-vs-log exactly like
      :func:`lm_surprisal_scores`' inverse-probability surprisal (the
      module's established discipline: deterministic rational
      arithmetic IS the contract, floats never cross engines);
    - ``norm_milli(d) = 1000 - b + (b * dl) div avgdl`` with
      ``avgdl = total_tokens div n_docs`` — classic b-mix of 1 and
      dl/avgdl, floored;
    - ``tf_part_milli = (tf * (k1 + 1000) * 1000000)
      div (tf * 1000000 + k1 * norm_milli)`` — the saturating
      ``tf(k1+1)/(tf + k1·norm)`` scaled so numerator and denominator
      stay integral (max ~2.2e13, far under 2^63);
    - ``score_milli(q, d) = Σ_t q_tf · (idf_milli · tf_part_milli
      div 1000)`` summed per (query, candidate).

    Plan shape: corpus tf/df/doc-length are THREE slim aggregates off
    one exploded token pass; (N, avgdl) is a 1-row broadcast-hinted
    scalar; the term-keyed postings equi-join is the inverted index
    (postings of a term meet in one shuffle partition, contributions
    partial-sum map-side); per-query top-k is a row_number window —
    deterministic, never a global sort.  The 100 TB guard is the same
    ``max_df`` stop-term cap as sparse_retrieval (a term in f_q query
    docs and f_c corpus docs contributes f_q·f_c join rows); BM25's
    own idf already ranks stop terms near zero, so the cap costs
    relevance nothing — production always sets it.
    """
    # Composed from the index primitives, LAZILY — no artifact
    # materializes, so Catalyst sees exactly the inline plan: the tf
    # frame feeds three consumers (dl, df, postings) whose downstream
    # aggregates differ, and exchange reuse cannot dedupe them, so the
    # corpus re-scans+re-tokenizes once per branch.  MEASURED at sf0.1
    # that is the FASTER shape (1.7 s lazy vs 3.6 s persisted — the
    # tokenize is a cheap JVM split/explode, while caching the
    # million-row tf frame pays serialization + a materialization
    # barrier), so the tf frame is never cached.  The real 100 TB
    # answer is neither: df/dl/avgdl are INDEX artifacts — call
    # :func:`build_text_index` with a path once at corpus-build time
    # and rank every later query batch with :func:`bm25_from_index`
    # against the written postings, exactly as a search engine does.
    # The max_df cap applied post-join here pushes down onto the df
    # aggregate, keeping the old pre-join prune shape.
    postings, stats = build_text_index(corpus_df, col, id_col)
    return bm25_from_index(
        queries_df,
        postings,
        stats,
        col,
        id_col,
        top_k,
        k1_milli,
        b_milli,
        max_df,
    )


def scatter_matrix(
    df: DataFrame, vec_col: str, group_col: str
) -> DataFrame:
    """Per-group scatter (second-moment) table over the embedding
    column on the VEC_QUANT integer grid — the one-pass distributed
    statistic behind PCA / covariance / whitening: for each group and
    each dimension pair i <= j it returns n, Σxᵢ, Σxⱼ and Σxᵢxⱼ, from
    which covariance and correlation are pure post-processing.

    Plan shape — the kmeans_step discipline applied to moments:
    vectors NEVER shuffle.  One ``mapInPandas`` pass computes each
    batch's partial Gram with an int64 matmul (``m.T @ m`` on the
    quantized grid — exact integers, so any batch split and any
    accumulation order gives the same sums; int64 rather than float64
    BLAS because a batch's Σxᵢxⱼ can exceed 2^53 while staying far
    under 2^63), and only the (group, i, j, partial) rows — d(d+1)/2
    + d + 1 per group per batch, independent of row count — reach the
    one hash aggregate.  Marginal Σxᵢ rows ride the same output under
    j = -1 and the group count under i = j = -1, so one kernel and one
    shuffle serve all three moment kinds.

    Group column must be integer-typed (cast upstream); output is
    (grp, i, j, v) partials — callers aggregate and reshape (see
    q_embedding_scatter).
    """
    from pyspark.sql import functions as F  # noqa: F811

    out_schema = "grp long, i int, j int, v long"
    # NULL groups are EXCLUDED, explicitly and engine-symmetrically:
    # pandas groupby drops NaN keys by default while SQL GROUP BY
    # keeps a NULL group, so without this filter a NULL label would
    # silently vanish from the Spark moments but survive in a SQL
    # oracle.  Callers who need a NULL bucket must sentinel it to an
    # integer upstream; oracle SQL must carry the same
    # ``WHERE <group> IS NOT NULL``.
    src = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).cast("long").alias("grp"), F.col(vec_col).alias("vec")
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            outs = []
            for g, sub in pdf.groupby("grp"):
                m = np.floor(
                    np.stack(sub["vec"].to_numpy()).astype(np.float64)
                    * VEC_QUANT
                    + 0.5
                ).astype(np.int64)
                d = m.shape[1]
                gram = m.T @ m
                iu, ju = np.triu_indices(d)
                sx = m.sum(axis=0)
                outs.append(
                    pd.DataFrame(
                        {
                            "grp": np.int64(g),
                            "i": iu.astype(np.int32),
                            "j": ju.astype(np.int32),
                            "v": gram[iu, ju],
                        }
                    )
                )
                outs.append(
                    pd.DataFrame(
                        {
                            "grp": np.int64(g),
                            "i": np.arange(d, dtype=np.int32),
                            "j": np.full(d, -1, dtype=np.int32),
                            "v": sx,
                        }
                    )
                )
                outs.append(
                    pd.DataFrame(
                        {
                            "grp": [np.int64(g)],
                            "i": np.array([-1], dtype=np.int32),
                            "j": np.array([-1], dtype=np.int32),
                            "v": [np.int64(len(sub))],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    return src.mapInPandas(kernel, out_schema).groupBy("grp", "i", "j").agg(
        F.sum("v").cast("long").alias("v")
    )


def label_noise_scan(
    df: DataFrame, vec_col: str, label_col: str, id_col: str
) -> DataFrame:
    """Label-noise detection by centroid disagreement (the Cleanlab /
    confident-learning first pass): a row whose embedding sits closer
    to ANOTHER label's centroid than to its own is a relabel/review
    candidate.  Everything is exact integers so any engine agrees on
    every flag:

    - per-label centroids are component sums on the VEC_QUANT grid,
      divided onto a fixed milli grid with truncating integer
      division (``1000 * S div n`` per dimension; Spark ``div`` and
      DuckDB ``//`` BOTH truncate toward zero, so a negative
      component sum rounds identically on either engine) — the
      deterministic rounding IS the operator's contract, not an
      approximation of some float ideal;
    - distances are ``Σ (1000·x_q − c̃)²`` in int64 (valid while
      |x| ≲ 1.8 at dim 64 — unit-norm-ish embeddings; larger inputs
      need a coarser grid);
    - the nearest label breaks distance ties toward the SMALLER label.

    Scale shape — the kmeans_step discipline: the centroid matrix is a
    bounded (labels × dim) driver pull that rides the task closure
    into ONE mapInPandas pass; vectors never shuffle, and the output
    is a narrow per-row verdict frame.  The centroid build itself is
    the scatter-matrix marginal: one aggregate over exploded (label,
    dim) partial sums, never a vector exchange.
    """
    import numpy as np

    sums = (
        df.select(
            F.col(label_col).cast("long").alias("lab"),
            F.posexplode(vec_col).alias("dim", "x"),
        )
        .groupBy("lab", "dim")
        .agg(
            F.sum(
                F.floor(F.col("x") * F.lit(VEC_QUANT) + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "lab", "dim", F.expr("s * 1000 div n").cast("long").alias("c")
        )
    )
    crows = sums.collect()  # bounded: labels * dim rows
    labs = sorted({r["lab"] for r in crows})
    dim = 1 + max(r["dim"] for r in crows)
    C = np.zeros((len(labs), dim), dtype=np.int64)
    lab_pos = {g: i for i, g in enumerate(labs)}
    for r in crows:
        C[lab_pos[r["lab"]], r["dim"]] = r["c"]
    lab_arr = np.asarray(labs, dtype=np.int64)

    src = df.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).cast("long").alias("lab"),
        F.col(vec_col).alias("vec"),
    )
    out_schema = (
        "vid long, lab long, best_lab long, d_own long, d_best long"
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.floor(
                np.stack(pdf["vec"].to_numpy()).astype(np.float64)
                * VEC_QUANT
                + 0.5
            ).astype(np.int64)
            # (rows, labels): int64-exact squared distances on the
            # 1000x grid
            diff = 1000 * m[:, None, :] - C[None, :, :]
            D = (diff * diff).sum(axis=2)
            own_idx = np.array(
                [lab_pos[g] for g in pdf["lab"].to_numpy()], dtype=np.int64
            )
            best_idx = D.argmin(axis=1)  # ties -> lowest index = smallest lab
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(),
                    "lab": pdf["lab"].to_numpy(),
                    "best_lab": lab_arr[best_idx],
                    "d_own": D[np.arange(len(D)), own_idx],
                    "d_best": D[np.arange(len(D)), best_idx],
                }
            )

    return src.mapInPandas(kernel, out_schema).withColumn(
        "is_noisy", F.col("best_lab") != F.col("lab")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "probe_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
    k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of two
    ranked retrieval lists — the standard hybrid-search ensembler
    (dense + sparse, exact + ANN): each list contributes
    ``1_000_000 div (k + rank)`` per (query, doc) and the fused score
    is the sum, in exact integer micros so any engine re-ranks
    identically (float RRF ties drift at the ulp; integer RRF cannot).
    ``n_lists`` reports how many input lists surfaced the doc — the
    agreement signal rerankers often threshold on.

    Scale shape: two narrow rank projections union (no shuffle), one
    keyed (query, doc) aggregate, and a per-query window capped at
    ``top_n`` — rank lists are top-k-sized frames, never corpus-sized,
    so the whole fusion is k-bounded regardless of corpus size.
    """
    from pyspark.sql import Window

    def contrib(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(query_col).alias("q"),
            F.col(doc_col).alias("d"),
            F.expr(f"1000000 div ({int(k)} + {rank_col})").cast("long").alias(
                "c"
            ),
        )

    u = contrib(ranked_a).unionByName(contrib(ranked_b))
    fused = u.groupBy("q", "d").agg(
        F.sum("c").cast("long").alias("rrf_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
    )
    w = Window.partitionBy("q").orderBy(F.desc("rrf_micro"), F.asc("d"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= int(top_n))
        .select(
            F.col("q").alias(query_col),
            F.col("d").alias(doc_col),
            "rrf_micro",
            "n_lists",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
        )
    )
