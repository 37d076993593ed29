"""End-to-end pre-training corpus pipeline — the composition layer.

One declarative chain of the hygiene operators: quality gate -> PII
scrub -> exact dedup -> deterministic sample. The narrow stages (score
+ gate + scrub + digest) fuse into a single projection+filter over the
scan, computed once and persisted (spill-to-disk) because the dedup
semi-join reads it from both sides; the only wide ops are the dedup
aggregation and its semi-join.

At 100 TB this is the shape that matters: one pass over the content,
documents reduced to (id, lang, score, 32-byte digest) before anything
shuffles, and sampling is a hash filter — scan -> project/filter ->
one agg -> semi-join -> filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import commit
from ..scale import local_frame, pinned, release
from .textstats import quality_score_col, sample_hash_col, scrub_pii_col


def pretraining_pipeline(
    docs: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_score: float = 0.5,
    sample_pct: int = 50,
) -> DataFrame:
    """Quality-gate (raw text) -> PII-scrub digest -> exact-dedup
    (min id per digest) -> md5-hash sample. Returns (id, lang,
    score_r, content_sha) of the surviving corpus — enough to audit
    every gate decision."""
    from ..scale import persisted

    # Stage order is a cost decision: gate on RAW text first (score
    # expressions reference a stored column, so each evaluates once),
    # then scrub only the survivors for the content digest. Scoring the
    # scrubbed text instead would inline the 3-regex scrub chain into
    # every score sub-expression via Catalyst's project collapsing
    # (~6 evaluations per row — measured 3-10x the whole pipeline
    # cost). Dedup on the scrubbed digest is deliberate: docs that
    # differ only in PII dedup together.
    # tiny frame (no text); persisted because the dedup semi-join
    # reads it from both sides
    prepared = persisted(
        docs.withColumn("quality_score", quality_score_col(col))
        .filter(F.col("quality_score") >= min_score)
        .select(
            F.col(id_col),
            F.col("lang"),
            F.round("quality_score", 6).alias("score_r"),
            F.sha2(
                F.coalesce(scrub_pii_col(col).cast("string"), F.lit("")), 256
            ).alias("content_sha"),
        )
    )
    keep = prepared.groupBy("content_sha").agg(F.min(id_col).alias(id_col))
    deduped = prepared.join(keep, id_col, "left_semi")
    return deduped.filter(sample_hash_col(id_col) < sample_pct).select(
        id_col, "lang", "score_r", "content_sha"
    )


def selection_pipeline(
    docs: DataFrame,
    target,
    col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    stopwords: list[str] | None = None,
    buckets: int = 64,
    expected_n: int = 200,
    n_shards: int = 8,
) -> DataFrame:
    """The training-data SELECTION pipeline as one lazy plan: Gopher
    rule gate -> DSIR importance weights toward ``target`` ->
    deterministic weighted Poisson resample -> token-balanced shard
    assignment of the survivors.

    Stage shapes (each documented on its operator): the gate is a pure
    projection+filter fused into the scan; DSIR adds two aggregates
    and a constant-size weight-table broadcast; the resample is a
    1-row Σw broadcast + narrow integer threshold; sharding windows
    per size bucket.  The only row-scale shuffles in the whole plan
    are the DSIR (doc, bucket) aggregate, the semi-join pulling
    sampled text back, and the shard windows — the documents' text
    crosses the wire exactly once (into the shard stage).

    Output: (``id_col``, n_tokens, size_bucket, shard) of the sampled
    corpus — the write-ready shard layout.
    """
    from .textstats import (
        balanced_shards,
        dsir_scores,
        gopher_rules,
        weighted_sample,
    )

    kept = gopher_rules(
        docs,
        col=col,
        id_col=id_col,
        min_words=min_words,
        stopwords=stopwords,
        carry_cols=[col, "lang"],
    ).filter(F.col("keep"))
    scored = dsir_scores(
        kept, target=target, col=col, id_col=id_col, buckets=buckets
    )
    w = scored.select(F.col(id_col), (F.col("score_milli") + 1).alias("w"))
    sampled = weighted_sample(
        w, "w", id_col=id_col, expected_n=expected_n
    ).filter(F.col("sampled"))
    chosen = kept.join(sampled.select(id_col), id_col, "left_semi")
    return balanced_shards(chosen, n_shards=n_shards, col=col, id_col=id_col)


def ingest_pipeline(
    batch: DataFrame,
    corpus: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 4096,
    k_hashes: int = 3,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    train_permille: int = 800,
    val_permille: int = 100,
) -> DataFrame:
    """The production INGEST loop for one arriving document batch
    against a standing corpus, composed end-to-end as one plan —
    every stage is an already-oracle-checked operator:

    1. **Decontaminate** (:func:`~.dedup.bloom_prescreen_dedup`):
       exact dedup against the standing corpus behind the Bloom
       prescreen — only digests the corpus's membership sketch could
       not rule out reach the confirmation join; ``confirmed``
       duplicates drop.
    2. **Incremental index update**
       (:func:`~.similarity._tf_of` — the exact delta
       ``run_text_index_update`` appends): the survivors tokenize
       ONCE into tf rows; df/dl/stats follow additively, never a
       corpus rescan.  The per-survivor document length (``dl``)
       surfaces in the output as the audit of what entered the index.
    3. **Leakage-safe split assignment**
       (:func:`~.dedup.cluster_split` over corpus ∪ survivors): a
       survivor that is a NEAR-dup of a standing document inherits
       that document's cluster — and therefore its split — so
       ingestion can never leak a paraphrase of a held-out doc into
       train.

    Output: one row per SURVIVOR — (``id_col``, cluster_id, split,
    dl).  Scale shape: the survivors frame is persisted (it feeds the
    union, the tf delta, and the final semi-join); the corpus-scale
    work is the LSH pair generation the split already requires — the
    decontamination and index stages move digests and tf rows only.
    """
    from ..scale import persisted
    from .dedup import bloom_prescreen_dedup, cluster_split, minhash_lsh_pairs
    from .similarity import _tf_of

    verdict = bloom_prescreen_dedup(
        batch, corpus, col, id_col, m_bits=m_bits, k_hashes=k_hashes
    )
    survivors = persisted(
        batch.join(
            verdict.filter(~F.col("confirmed")).select(id_col),
            id_col,
            "left_semi",
        )
    )
    live = corpus.select(id_col, col).unionByName(
        survivors.select(id_col, col)
    )
    pairs = minhash_lsh_pairs(
        live, k=k, num_hashes=num_hashes, bands=bands, threshold=threshold
    )
    assign = cluster_split(
        live,
        pairs,
        id_col=id_col,
        train_permille=train_permille,
        val_permille=val_permille,
    )
    dl = (
        _tf_of(survivors, col, id_col, id_col)
        .groupBy(id_col)
        .agg(F.sum("tf").cast("bigint").alias("dl"))
    )
    return (
        survivors.select(id_col)
        .join(assign, id_col)
        .join(dl, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "split",
            F.coalesce("dl", F.lit(0)).cast("bigint").alias("dl"),
        )
    )


def _verify_pairs(
    cand,
    front,
    id_col: str,
    threshold: float,
    broadcast_cand: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs
    against the shingle-hash sets in ``front`` — the identical
    arithmetic of :func:`~.dedup.minhash_lsh_pairs`' verify stage
    (array_intersect/array_union sizes over the md5-32 hash sets),
    factored out so the incremental ingest's cross- and self-pairs
    can never drift from the full-repair form's definition.

    ``broadcast_cand`` is the incremental-ingest shape (ADVICE r12):
    the candidate side is batch-sized, so the front legs are PRUNED
    by a broadcast semi-join on the candidate ids before the shingle
    arrays attach — the corpus-scale front is scanned, never
    shuffled, and the equi-joins that follow run over batch-sized
    frames only.  r14 (guide §2.3/§7.2): the candidate frame is pinned
    first — it was referenced three times
    (both id-prune legs + the verify join), each reference EMBEDDING
    the whole band-join subtree by value, which tripled the executed
    AQE stage count — and the front is pruned ONCE on the union of
    both id columns (one corpus scan instead of two), with both
    shingle legs derived from the checkpointed batch-sized pruned
    frame; ids appearing on only one side add rows the inner
    equi-join drops, so the pair set is unchanged.  In this shape the
    verified pairs are pinned too, and the two pinned inputs are
    released as soon as that pin lands.  The build path leaves it
    False: there the candidate set is
    corpus-bucket-co-occupancy-sized — collecting it to a checkpoint
    or broadcasting its ids would be wrong."""
    if broadcast_cand:
        cand = pinned(cand)
        # no .distinct() (r15): the broadcast semi-join prune is
        # set-shaped regardless; the distinct paid an exchange only to
        # shrink a batch-co-occupancy-sized broadcast
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
        )
        pruned = pinned(front.join(F.broadcast(ids), id_col, "left_semi"))
        sh_a = pruned.select(
            F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a")
        )
        sh_b = pruned.select(
            F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b")
        )
        held = (cand, pruned)
        cand = F.broadcast(cand)
    else:
        sh_a = front.select(
            F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a")
        )
        sh_b = front.select(
            F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b")
        )
    # |A∪B| = |A|+|B|−|A∩B| for the distinct hash sets (r14): same
    # integer as array_union's size at half the per-candidate work
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = (F.size("hs_a") + F.size("hs_b")).cast("double") - inter
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )
    if not broadcast_cand:
        return verified
    verified = pinned(verified)
    release(*held)
    return verified


# Tables of the standing ingest state that are mutated through
# commit.swap (and therefore need commit.recover at EVERY entry point,
# not just the compactor's — ADVICE r12: a compactor crash between
# renames leaves the live table demoted until repaired).
_STATE_TABLES = (
    "digests", "bloom", "front", "buckets", "pairs",
    "assign", "assign_delta", "params",
)

# Parameters baked into the standing state's artifacts: the minhash
# front/buckets/pairs encode (k, num_hashes, bands, seed, threshold),
# and the split labels encode the permille cut points.  A mismatched
# re-supply on a later ingest would silently break the LSH banding and
# the no-straddle split guarantee (ADVICE r12), so they are persisted
# at build time and validated loudly at every ingest/compact entry.
_SEMANTIC_PARAMS = (
    "k", "num_hashes", "bands", "seed", "threshold",
    "train_permille", "val_permille",
)

# The params manifest's schema — one literal shared by the build/compact
# writers and every reader, so reads can skip footer inference.
_PARAMS_SCHEMA = (
    "k int, num_hashes int, bands int, seed int, "
    "threshold double, train_permille int, val_permille int, "
    "m_bits int, k_hashes int"
)


def _assign_schema(id_field):
    """Writer-side schema of the ``assign`` table (cluster_split's
    output): everything but the id column is fixed by construction."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(id_field.name, id_field.dataType),
        T.StructField("cluster_id", id_field.dataType),
        T.StructField("bucket_permille", T.LongType()),
        T.StructField("split", T.StringType()),
    ])


def _delta_schema(id_field):
    """``assign_delta`` = assign columns + (batch_key, seq) stamp."""
    from pyspark.sql import types as T

    return T.StructType(
        _assign_schema(id_field).fields
        + [T.StructField("batch_key", T.StringType()),
           T.StructField("seq", T.LongType())]
    )


def _digests_schema(id_field):
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(id_field.name, id_field.dataType),
        T.StructField("dg", T.StringType()),
    ])


# Why explicit read schemas (r15, guide §7.3 driver-side work): EVERY
# ``spark.read.parquet`` runs one footer-inference Spark job before any
# data moves — measured 1 job per read even for a single-file table.
# The composed lifecycle queries are dominated by the per-job scheduling
# floor (~10 state-table reads per ingest call), so the schema contract
# above — derivable because this module WRITES every one of these
# tables with fixed column types — removes ~8 pure-metadata jobs per
# ingest and several more per build/compact.  The bloom table is the
# deliberate exception: its geometry columns are probed tolerantly
# (:func:`_bloom_geometry` must accept tables without them), so that
# one read keeps inference.


class ConcurrentStateWriterError(RuntimeError):
    """Another live writer holds the ingest-state lease."""


def _read_lease(spark, fs, lease) -> str:
    stream = fs.open(lease)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _acquire_lease(
    spark, path: str, ttl_s: float = 3600.0, owner: str | None = None
) -> str:
    """Single-writer lease on a standing-state directory (VERDICT r12
    Next #4; takeover race closed r14 per VERDICT r13 #3).  The state
    tables are append/swap-mutated with no coordinator, so two
    concurrent ingests against one state dir would interleave
    commits; the streaming runners get exclusion for free from
    Structured Streaming's one-query-per-checkpoint, and this is the
    batch path's equivalent: a ``_LEASE`` file created through the
    Hadoop FS API (so it holds on whatever filesystem the state lives
    on), carrying a per-CALL token ``owner:nonce``.

    Rules: any lease younger than ``ttl_s`` blocks — including one
    from this same application.  Every successful call releases in
    ``finally``, so a FRESH lease always means a LIVE writer (a
    concurrent thread, or a batch mutator racing a streaming runner's
    micro-batch); silently reclaiming it would admit exactly the
    interleaving the lease exists to prevent.  A lease older than
    ``ttl_s`` is presumed abandoned (the writer's process died before
    ``finally`` ran — a new driver carries a new applicationId) and
    is stolen.  To take over a KNOWN-dead writer's fresh-looking
    lease, lower ``lease_ttl_s`` below the lease's age — raising it
    only widens the protection window.

    The steal itself is create-then-verify (VERDICT r13 #3): after
    ``create(overwrite=False)`` — whose failure, a racing winner,
    re-raises as :class:`ConcurrentStateWriterError` instead of a raw
    IOException — the file is READ BACK and must hold this call's
    exact token; two stealers interleaving delete/create resolve to
    at most one verified holder.  On stores without atomic
    create-no-overwrite (S3A) the verify narrows but cannot fully
    close the window; the state commits themselves stay
    crash-replay-safe either way.

    Returns the token; pass it to :func:`_release_lease` so a release
    can never delete a racer's lease."""
    import time
    import uuid

    fs, P = commit.filesystem(spark, path)
    lease = P(f"{path}/_LEASE")
    token = f"{owner or spark.sparkContext.applicationId}:{uuid.uuid4().hex}"
    if fs.exists(lease):
        st = fs.getFileStatus(lease)
        holder = _read_lease(spark, fs, lease)
        age = time.time() - st.getModificationTime() / 1000.0
        if age <= ttl_s:
            raise ConcurrentStateWriterError(
                f"ingest state at {path} is held by live writer "
                f"{holder!r} (lease age {age:.0f}s <= ttl {ttl_s:.0f}s); "
                "concurrent mutators would interleave commits. Wait for "
                "it to finish; to take over a writer KNOWN to be dead, "
                "lower lease_ttl_s below the lease age."
            )
        fs.delete(lease, False)
    try:
        out = fs.create(lease, False)
    except Exception as exc:  # racing writer won the create
        raise ConcurrentStateWriterError(
            f"lost the lease race on {path}: another writer created "
            "the lease first."
        ) from exc
    try:
        out.write(bytearray(token.encode("utf-8")))
    finally:
        out.close()
    if _read_lease(spark, fs, lease) != token:
        raise ConcurrentStateWriterError(
            f"lost the lease race on {path}: another writer overwrote "
            "the lease during takeover."
        )
    return token


def _release_lease(spark, path: str, token: str | None = None) -> None:
    """Delete the lease — only if still held by ``token`` (a stealer
    that legitimately took an expired lease must not lose it to the
    dead writer's belated ``finally``)."""
    fs, P = commit.filesystem(spark, path)
    lease = P(f"{path}/_LEASE")
    if not fs.exists(lease):
        return
    if token is not None and _read_lease(spark, fs, lease) != token:
        return
    fs.delete(lease, False)


def _check_params(spark, path: str, **args) -> dict:
    """Validate the caller's semantic parameters against the state's
    persisted manifest (fail loudly on any mismatch) and return the
    manifest row as a dict — the authoritative source for the bloom
    geometry defaults."""
    row = (
        spark.read.schema(_PARAMS_SCHEMA)
        .parquet(f"{path}/params")
        .collect()[0]
        .asDict()
    )
    bad = {
        n: (args[n], row[n])
        for n in _SEMANTIC_PARAMS
        if n in args and float(args[n]) != float(row[n])
    }
    if bad:
        detail = ", ".join(
            f"{n}: got {g!r}, state built with {s!r}" for n, (g, s) in bad.items()
        )
        raise ValueError(
            f"ingest-state parameter mismatch at {path} ({detail}). "
            "These parameters are baked into the standing artifacts "
            "(minhash front, LSH banding, split buckets); re-supplying "
            "different values would silently break the no-false-negative "
            "and no-straddle guarantees. Rebuild the state to change them."
        )
    return row


def _bloom_geometry(spark, path: str, default_m: int, default_k: int):
    """(bloom_df, m_bits, k_hashes) with the geometry read from the
    bloom table's OWN columns when present — the table and the
    arithmetic readers must use travel as one atomically-swapped
    artifact, so a compactor resize can never leave readers probing a
    new table with old geometry (VERDICT r12 Next #3)."""
    bt = spark.read.parquet(f"{path}/bloom")
    if "m_bits" in bt.columns:
        r = bt.select("m_bits", "k_hashes").limit(1).collect()
        if r:
            return bt, int(r[0][0]), int(r[0][1])
    return bt, default_m, default_k


def _current_assign(
    spark,
    path: str,
    exclude_batch_key: str | None = None,
    id_field=None,
    digests: DataFrame | None = None,
    base: DataFrame | None = None,
    held: list | None = None,
):
    """The CURRENT standing assignment table — base ∪ latest-per-doc
    delta overrides.  The base is written once (build) and folded by
    the compactor; per-batch updates (new survivors AND reassignments
    of standing docs whose canonical moved) append to
    ``assign_delta`` with a (batch_key, seq) stamp, so the steady-
    state write stays batch-sized while reads see base rows shadowed
    by any delta row (``max_by`` seq).  ``exclude_batch_key`` removes
    one batch's own rows — how a crash REPLAY sees the pre-commit
    assignment and reproduces its receipts exactly.

    Uncommitted-batch hygiene (ADVICE r13): the delta append lands
    BEFORE the batch's ``digests`` commit point, so in the window
    after a crash (or for a batch that is never replayed) the delta
    holds rows for documents that never became live.  Survivor rows
    are therefore filtered by DIGEST MEMBERSHIP — a delta row whose
    document is absent from ``digests`` is invisible until the commit
    lands, keeping this read equal to the full-repair recompute over
    the committed corpus.  ``reassign`` rows reference standing
    (already-live) documents and stay visible — the crash caveat on
    :func:`ingest_state_assignments`.

    Scale shape: the delta between compactions is batches-sized, so
    every probe here broadcasts the delta side; the corpus-scale base
    and digests tables are scanned, never shuffled.  The folded
    ``latest`` frame is pinned (r14, guide §7.2):
    callers reference the returned frame more than once (the ingest's
    touched-cluster probe and its member pull), and each reference
    used to re-execute the whole digest-membership + ``max_by`` fold —
    after the checkpoint a reference costs one base scan plus a
    broadcast of the batch-sized fold, and the checkpoint itself is
    batch-sized (never the corpus).  A caller passing a ``held`` list
    gets the pinned fold appended, to release once it is done with
    the returned frame."""
    # Reads take the writer-side schema contract when the caller can
    # supply the id field (r15: skips one footer-inference job per
    # table); the public no-hints path infers the assign schema once
    # and derives the rest.
    if base is None:
        if id_field is not None:
            base = spark.read.schema(_assign_schema(id_field)).parquet(
                f"{path}/assign"
            )
        else:
            base = spark.read.parquet(f"{path}/assign")
    if id_field is None:
        id_field = base.schema.fields[0]
    delta = spark.read.schema(_delta_schema(id_field)).parquet(
        f"{path}/assign_delta"
    )
    if exclude_batch_key is not None:
        delta = delta.filter(F.col("batch_key") != F.lit(exclude_batch_key))
    # Empty-delta fast path (r15): right after a build or a compaction
    # the delta holds no rows, yet the fold below still cost an eager
    # checkpoint job whose plan SCANS the corpus-scale digests table,
    # and every consumer still paid the anti-join + union stages around
    # an empty override set.  One footer-level limit(1) probe on the
    # batches-sized delta is strictly cheaper than the checkpoint it
    # skips, and the returned frame (the base itself) is what the fold
    # degenerates to with zero delta rows.
    if delta.limit(1).count() == 0:
        return base
    id_col = id_field.name
    if digests is None:
        digests = spark.read.schema(_digests_schema(id_field)).parquet(
            f"{path}/digests"
        )
    # no .distinct() on the broadcast probe sides (r15): a semi-join's
    # result is set-shaped regardless, so the distinct paid an exchange
    # only to shrink a batches-sized broadcast
    live_ids = (
        digests
        .select(F.col(id_col))
        .join(F.broadcast(delta.select(id_col)), id_col, "left_semi")
    )
    delta = delta.join(F.broadcast(live_ids), id_col, "left_semi")
    val_cols = [c for c in base.columns if c != id_col]
    latest = pinned(
        delta.groupBy(id_col)
        .agg(F.max_by(F.struct(*val_cols), F.col("seq")).alias("__v__"))
        .select(id_col, "__v__.*")
    )
    if held is not None:
        held.append(latest)
    return base.join(
        F.broadcast(latest.select(id_col)), id_col, "left_anti"
    ).unionByName(latest)


def ingest_state_assignments(spark, path: str) -> DataFrame:
    """Public read of the standing assignment table maintained by
    :func:`ingest_pipeline_incremental` — (id, cluster_id,
    bucket_permille, split) for every live document, equal to
    :func:`~.dedup.cluster_split` recomputed over the committed live
    corpus and its verified pair graph.  This is the source of truth
    a shard router should read; per-batch receipts (including
    ``kind='reassign'`` rows) are the change feed.

    Crash-window contract (ADVICE r13): survivor rows of a batch that
    appended its delta but crashed before its ``digests`` commit are
    HIDDEN here (filtered by digest membership in
    :func:`_current_assign`), so uncommitted documents never surface
    as standing truth.  The crashed batch's ``reassign`` delta rows —
    which reference standing documents — stay visible (its pair rows
    committed before the crash, so the merge they record is durable in
    the pair graph); a REPLAY re-derives them idempotently, and a
    compaction before replay folds them into the base, after which the
    replay re-commits the batch's survivors without re-emitting the
    already-folded reassignments.  Between crash and replay those
    reassignments run ahead of the full-repair recompute over
    committed documents by exactly the crashed batch's merge edges."""
    return _current_assign(spark, path)


def ingest_state_build(
    corpus: DataFrame,
    path: str,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    m_bits: int = 4096,
    k_hashes: int = 3,
    train_permille: int = 800,
    val_permille: int = 100,
) -> None:
    """Materialize the STANDING INGEST STATE for
    :func:`ingest_pipeline_incremental` — the dedup front-end given
    the same artifact discipline as the text index and the ANN index
    (VERDICT r11 Next #2): parquet tables under ``path``, each the
    thing a 100 TB corpus would keep between ingests instead of
    recomputing per batch:

    - ``digests`` (id, dg): sha256 content digests — the exact-dedup
      confirmation side and the live-id roll;
    - ``bloom`` (pos, m_bits, k_hashes): the corpus membership
      sketch's set-bit position table (mergeable: new batches OR in
      their bits) carrying its OWN geometry, so a compactor resize
      swaps table and probe arithmetic atomically;
    - ``front`` (id, hs, sig): the minhash front — shingle-hash sets
      + signatures from ONE Arrow pass over the corpus text, the pass
      that is never repeated again;
    - ``buckets`` (id, band, bucket): the banded-LSH postings the
      arriving batch joins against;
    - ``pairs`` (id_a, id_b, jaccard): the verified corpus-internal
      near-dup edges — :func:`~.dedup.minhash_lsh_pairs`' output over
      the corpus, maintained additively from here on;
    - ``assign`` (id, cluster_id, bucket_permille, split): the
      standing cluster/split assignment —
      :func:`~.dedup.cluster_split` over the corpus, maintained
      per-batch through ``assign_delta`` (VERDICT r12 Next #1: the
      table reassignment receipts are diffed against);
    - ``assign_delta``: the append-only per-batch assignment updates
      (new survivors + reassignments), folded by the compactor;
    - ``params``: the one-row parameter manifest validated at every
      ingest/compact entry (ADVICE r12: a silently-mismatched seed or
      banding would void the no-false-negative guarantee).

    Build cost is the same one text pass + bucket self-join the
    full-repair :func:`ingest_pipeline` pays on EVERY batch; after
    this it is paid once.

    r14 (guide §2.6/§7.2): each derived table reads BACK the artifact
    it derives from (digests → bloom, front → buckets → pairs) instead
    of re-planning the upstream cached subtree — the read-back severs
    lineage for free exactly as the assign step always did, so the
    pairs verify scans two flat parquet tables instead of a plan
    embedding the corpus Arrow kernel twice — and the two independent
    write chains (digests→bloom→params vs front→buckets→pairs→assign)
    overlap from driver threads, back-filling the scheduler slots each
    small job's tail leaves idle."""
    from ..scale import run_jobs
    from .dedup import _band_frame, _minhash_front, cluster_split
    from .sketches import bloom_build

    spark = corpus.sparkSession
    rows_per_band = num_hashes // bands
    id_field = corpus.schema[id_col]

    def _chain_digests():
        digest = F.sha2(
            F.coalesce(F.col(col).cast("string"), F.lit("")), 256
        )
        corpus.select(F.col(id_col), digest.alias("dg")).write.mode(
            "overwrite"
        ).parquet(f"{path}/digests")
        bloom_build(
            spark.read.schema(_digests_schema(id_field))
            .parquet(f"{path}/digests").select("dg").distinct(),
            "dg", m_bits, k_hashes,
        ).withColumn("m_bits", F.lit(int(m_bits))).withColumn(
            "k_hashes", F.lit(int(k_hashes))
        ).write.mode("overwrite").parquet(f"{path}/bloom")

    def _chain_front():
        # cache=False: the write is the kernel's only materialization —
        # everything below reads the written artifact back instead
        front_w = _minhash_front(
            corpus, col, id_col, k, num_hashes, seed, cache=False
        )
        front_w.write.mode("overwrite").parquet(f"{path}/front")
        front_d = spark.read.schema(front_w.schema).parquet(f"{path}/front")
        banded = _band_frame(
            front_d.select(id_col, "sig"), id_col, bands, rows_per_band
        )
        banded.write.mode("overwrite").parquet(f"{path}/buckets")
        banded_d = spark.read.schema(banded.schema).parquet(
            f"{path}/buckets"
        )
        left = banded_d.select("band", "bucket", F.col(id_col).alias("id_a"))
        right = banded_d.select("band", "bucket", F.col(id_col).alias("id_b"))
        cand = (
            left.join(right, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs_w = _verify_pairs(
            cand, front_d.select(id_col, "hs"), id_col, threshold
        )
        pairs_w.write.mode("overwrite").parquet(f"{path}/pairs")
        # standing assignment from the just-written pairs (read back,
        # not the live plan: severed lineage, exactly what readers see)
        cluster_split(
            corpus.select(id_col),
            spark.read.schema(pairs_w.schema).parquet(f"{path}/pairs"),
            id_col=id_col,
            train_permille=train_permille,
            val_permille=val_permille,
        ).write.mode("overwrite").parquet(f"{path}/assign")
        spark.read.schema(_assign_schema(id_field)).parquet(
            f"{path}/assign"
        ).limit(0).withColumn(
            "batch_key", F.lit("").cast("string")
        ).withColumn("seq", F.lit(0).cast("bigint")).write.mode(
            "overwrite"
        ).parquet(f"{path}/assign_delta")

    run_jobs(_chain_digests, _chain_front)
    # The 1-row params manifest lands strictly LAST (ADVICE r14 medium):
    # it is the build's commit marker — _check_params at every later
    # ingest/compact entry passes only when it exists, so a rebuild that
    # crashes mid-chain can never leave a NEW manifest validating tables
    # still holding OLD-parameter artifacts.  Negligible cost (1 row).
    local_frame(
        spark,
        [
            (
                int(k), int(num_hashes), int(bands), int(seed),
                float(threshold), int(train_permille),
                int(val_permille), int(m_bits), int(k_hashes),
            )
        ],
        _PARAMS_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/params")


def ingest_pipeline_incremental(
    batch: DataFrame,
    path: str,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    train_permille: int = 800,
    val_permille: int = 100,
    lease_ttl_s: float = 3600.0,
) -> DataFrame:
    """:func:`ingest_pipeline` in STEADY STATE: one arriving batch
    against the standing state of :func:`ingest_state_build`, with
    NO corpus-scale recomputation — the fix for the one corpus-scale
    term the full-repair form carried (its per-batch
    ``minhash_lsh_pairs`` over corpus ∪ survivors re-paired the
    whole live set every time).  Per batch:

    1. **Decontaminate** against the STANDING sketch: the batch's
       digests test against the materialized bloom position table
       (geometry read from the table itself — it is STATE-OWNED, not
       a caller parameter; transport size-gated per
       :func:`~.sketches.bloom_maybe_contains`, so a compactor-grown
       corpus-scale bloom streams instead of broadcasting); only
       maybe-hits reach the confirmation join, which SCANS the
       standing ``digests`` table against a broadcast of the
       batch-sized candidate digests.  Identical verdicts to
       :func:`~.dedup.bloom_prescreen_dedup` (no false negatives;
       ``confirmed`` = exact digest membership).
    2. **Pair incrementally**: the survivors' minhash front (one
       Arrow pass over BATCH text only) band-joins the standing
       ``buckets`` postings for batch-vs-corpus candidates, plus a
       batch-internal self-join; both verify with the exact-Jaccard
       arithmetic of the full form (:func:`_verify_pairs`,
       broadcast-pruned front legs), and the union with the standing
       ``pairs`` table IS ``minhash_lsh_pairs(corpus ∪ survivors)``.
    3. **Assign + REASSIGN** (VERDICT r12 Next #1 — the cross-batch
       cluster-merge fix): components are labeled over a BATCH-SIZED
       graph — the new pairs plus one star edge per member of every
       standing cluster the new pairs touch (member → its standing
       ``cluster_id``, read from the maintained ``assign`` table).
       Because each standing cluster's members are star-connected
       through their canonical, the small graph's per-component min
       id equals the full graph's, so survivors get EXACTLY the
       full-repair :func:`~.dedup.cluster_split` assignment — and so
       do the touched standing members, which is the point: a batch
       edge that merges two standing clusters, or a survivor whose
       id undercuts a standing component's min, CHANGES the
       canonical id (and therefore the md5-permille split) of
       already-committed documents.  Those documents are re-emitted
       as ``kind='reassign'`` receipt rows, so no committed receipt
       is ever silently contradicted — near-dups can never straddle
       train/test across the receipt history.
    4. **Commit the batch into the state**: append front / buckets /
       pairs rows, append the receipt's assignment rows (survivors ∪
       reassignments) to ``assign_delta`` under a deterministic
       (batch_key, seq) stamp, OR the survivors' bits into the bloom
       (an APPEND of the batch's own position rows — r14: the r13
       union+distinct+swap rewrote the corpus-sized position table
       every batch; the probe tolerates duplicate positions and the
       compactor re-distincts, so the steady-state bloom write is now
       batch-sized), and append ``digests`` LAST — the
       commit point.  Crash replay is IDEMPOTENT end to end: the
       batch's survivors are still absent from ``digests`` so they
       re-survive; ``batch_key`` is a pure function of the survivor
       digest set, so the replay EXCLUDES its own half-committed
       delta rows when it reads the standing assignment
       (:func:`_current_assign`) and reproduces byte-identical
       receipts; the re-appended front/bucket/pair/delta rows are
       exact duplicates that the latest-per-doc read and the next
       compaction absorb.  Every write AFTER the receipt derives
       from the durable receipt or the caller's batch (ADVICE r12:
       no post-swap write may carry lineage over pre-swap file
       listings).

    Batch cost is O(|batch| + bucket co-occupancy): the standing
    tables are scanned (buckets/front/assign legs broadcast-pruned
    by the batch side), never re-derived — at 100 TB the batch's
    text is the only text read anywhere in the loop.

    Returns the batch receipt: (id, cluster_id, bucket_permille,
    split, dl, kind) — ``kind='batch'`` for survivors (dl = token
    length entering the index), ``kind='reassign'`` for standing
    docs whose cluster/split moved (dl = 0).

    Single-writer contract: one live mutator per state dir, enforced
    by a per-call lease token (:func:`_acquire_lease`) — a concurrent
    call from ANY application, including a batch mutator racing a
    live streaming runner's micro-batch in the same driver, raises
    :class:`ConcurrentStateWriterError`.
    """
    from ..scale import persisted, run_jobs
    from .dedup import _band_frame, _minhash_front, cluster_split
    from .sketches import bloom_build, bloom_maybe_keys
    from .similarity import _tf_of

    spark = batch.sparkSession
    rows_per_band = num_hashes // bands
    # self-heal every swap-managed table, not just the bloom (ADVICE
    # r12): a compactor crash between its renames leaves that table
    # demoted until SOMEONE probes — the ingest must not be the caller
    # that dies on a missing directory the contract says it repairs.
    for t in _STATE_TABLES:
        commit.recover(spark, f"{path}/{t}")
    prm = _check_params(
        spark, path, k=k, num_hashes=num_hashes, bands=bands, seed=seed,
        threshold=threshold, train_permille=train_permille,
        val_permille=val_permille,
    )
    token = _acquire_lease(spark, path, lease_ttl_s)
    try:
        id_field = batch.schema[id_col]
        digests_t = spark.read.schema(_digests_schema(id_field)).parquet(
            f"{path}/digests"
        )
        bloom_t, mb, kh = _bloom_geometry(
            spark, path, prm["m_bits"], prm["k_hashes"]
        )

        digest = F.sha2(F.coalesce(F.col(col).cast("string"), F.lit("")), 256)
        new_keys = persisted(batch.select(F.col(id_col), digest.alias("dg")))
        # bloom verdict FUSED with the digest confirm (r15, VERDICT r14
        # #1): only the maybe-SET feeds the confirm join, so the full
        # per-key verdict frame (and its join-back onto the probe keys)
        # is never built — bloom_maybe_keys is the same size-gated
        # probe minus one broadcast join per ingest.  Verdicts are
        # unchanged: maybe-keys has no false negatives, and the confirm
        # below is exact digest membership either way.
        maybe_keys = bloom_maybe_keys(
            new_keys.select("dg"), bloom_t, "dg", mb, kh
        )
        # confirm by SCANNING the corpus-scale digests table against a
        # broadcast of the batch-sized maybe-set (not the other way
        # around — a left-semi with the corpus on the right would
        # shuffle it); duplicate dg values in digests are absorbed by
        # the anti-join below.
        confirmed = digests_t.select("dg").join(
            F.broadcast(maybe_keys), "dg", "left_semi"
        )
        # Pinned rather than persisted (r15): surv_keys is the
        # batch's survivor (id, dg) set — referenced by the batch
        # key, the survivor semi-join, AND (new this round) the commit
        # block's bloom/digests appends.  A persist keeps lineage over
        # the PRE-COMMIT digests listing, which is why the appends had
        # to re-derive the digests from the receipt ⋈ batch (two extra
        # corpus-text scans per ingest); the checkpoint has no lineage
        # to go stale, so the appends read the materialized batch-sized
        # blocks directly.  Failure-tolerance trade documented on
        # scale.pinned.
        surv_keys = pinned(new_keys.join(confirmed, "dg", "left_anti"))
        # deterministic batch identity: an order-independent reduction
        # of the survivor digest set (+ count).  A crash replay, whose
        # survivor set is identical because the digests commit point
        # never landed, recomputes the SAME key — the hook both the
        # delta's exclusion read and its seq reuse hang off.
        bk = surv_keys.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.conv(F.substring("dg", 1, 15), 16, 10).cast(
                        "decimal(38,0)"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).cast("string").alias("s"),
        ).collect()[0]
        batch_key = f"{bk['n']}:{bk['s']}"
        surv_ids = surv_keys.select(id_col)
        survivors = persisted(batch.join(surv_ids, id_col, "left_semi"))

        # The front is the convergence point of ALL the batch's text
        # work: b_new (4 plan references), combined_hs, and the final
        # front append all hang off it, and each reference EMBEDS the
        # frame's whole logical subtree by value (persist keeps
        # lineage).  Measured at sf0.1 the composed verify plan carried
        # 393 parquet scans / 309 BroadcastExchanges in ONE plan string
        # and the candidate+verify block alone cost 52 of the call's
        # 108 jobs — almost all AQE broadcast stages over duplicated
        # cached subtrees plus the driver planning them.  Pinning here
        # (batch-sized rows — guide §2.4/§7.2: shrink the plan, not
        # just the data) makes every downstream
        # reference a flat scan; cache=False because the checkpoint is
        # the kernel's only materialization.
        f_new = _minhash_front(
            survivors, col, id_col, k, num_hashes, seed, cache=False
        ).transform(pinned)
        b_new = persisted(
            _band_frame(
                f_new.select(id_col, "sig"), id_col, bands, rows_per_band
            )
        )
        b_ref = spark.read.schema(b_new.schema).parquet(f"{path}/buckets")
        cross = (
            b_new.withColumnRenamed(id_col, "new_id")
            .join(
                b_ref.withColumnRenamed(id_col, "ref_id"), ["band", "bucket"]
            )
            .select(
                F.least("new_id", "ref_id").alias("id_a"),
                F.greatest("new_id", "ref_id").alias("id_b"),
            )
            # a crash REPLAY finds its own ids already in the standing
            # buckets; the bucket self-collision would otherwise emit
            # (id, id) pairs — harmless to CC but dead weight in the
            # pairs table (ADVICE r13)
            .filter(F.col("id_a") != F.col("id_b"))
        )
        l = b_new.select("band", "bucket", F.col(id_col).alias("id_a"))
        r = b_new.select("band", "bucket", F.col(id_col).alias("id_b"))
        self_cand = (
            l.join(r, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        # ONE dedup over the unioned candidate legs (r15) — the per-leg
        # dropDuplicates paid two exchanges for the same set (the union
        # of two deduped sets IS the dedup of the union), and on a
        # crash replay this form also folds the cross∩self overlap the
        # per-leg dedup let through.
        cand = cross.unionByName(self_cand).dropDuplicates(["id_a", "id_b"])
        f_ref = spark.read.schema(f_new.schema).parquet(f"{path}/front")
        combined_hs = f_ref.select(id_col, "hs").unionByName(
            f_new.select(id_col, "hs")
        )
        # Pinned (by _verify_pairs' broadcast shape), not persisted:
        # new_pairs is referenced by touched/graph/the pairs append,
        # and each reference would EXPAND its whole logical subtree again in every downstream
        # plan (treeString prints shared subtrees by value — the
        # composed receipt plan grows multiplicatively and its
        # per-action stringification alone reached driver-heap scale).
        # The frame is batch-co-occupancy-sized; truncating its lineage
        # here keeps every later plan shallow — the same hygiene
        # connected_components applies to its iterating frames.
        new_pairs = _verify_pairs(
            cand,
            combined_hs,
            id_col,
            threshold,
            broadcast_cand=True,
        )
        # --- batch-sized component relabel over touched clusters ---
        # (the docstring's step 3).  Reads of the corpus-scale assign
        # table are broadcast-pruned scans; the cc runs on new pairs +
        # star edges of the touched clusters' members only.  The
        # broadcast probe sides skip .distinct() (r15): semi-joins are
        # set-shaped anyway, and both frames are batch-sized.
        held: list = []
        cur = _current_assign(
            spark, path, exclude_batch_key=batch_key,
            id_field=id_field, digests=digests_t, held=held,
        )
        touched = (
            new_pairs.select(F.col("id_a").alias(id_col))
            .unionByName(new_pairs.select(F.col("id_b").alias(id_col)))
        )
        touched_clusters = (
            cur.join(F.broadcast(touched), id_col, "left_semi")
            .select("cluster_id")
        )
        # same lineage truncation as new_pairs: members feeds star,
        # nodes, and the reassign diff — three plan references
        members = cur.join(
            F.broadcast(touched_clusters), "cluster_id", "left_semi"
        ).transform(pinned)
        star = members.filter(F.col(id_col) != F.col("cluster_id")).select(
            F.col(id_col).alias("id_a"), F.col("cluster_id").alias("id_b")
        )
        graph = new_pairs.select("id_a", "id_b").unionByName(star)
        nodes = surv_ids.unionByName(members.select(id_col))
        assign_new = cluster_split(
            nodes,
            graph,
            id_col=id_col,
            train_permille=train_permille,
            val_permille=val_permille,
        )
        reassigned = assign_new.join(
            members.select(id_col, F.col("cluster_id").alias("__old__")),
            id_col,
        ).filter(F.col("cluster_id") != F.col("__old__")).drop("__old__")
        batch_assign = assign_new.join(surv_ids, id_col, "left_semi")
        dl = (
            _tf_of(survivors, col, id_col, id_col)
            .groupBy(id_col)
            .agg(F.sum("tf").cast("bigint").alias("dl"))
        )
        out = (
            batch_assign.join(dl, id_col, "left")
            .select(
                id_col,
                "cluster_id",
                "bucket_permille",
                "split",
                F.coalesce("dl", F.lit(0)).cast("bigint").alias("dl"),
                F.lit("batch").alias("kind"),
            )
            .unionByName(
                reassigned.select(
                    F.col(id_col),
                    "cluster_id",
                    "bucket_permille",
                    "split",
                    F.lit(0).cast("bigint").alias("dl"),
                    F.lit("reassign").alias("kind"),
                )
            )
        )
        # Materialize the batch receipt BEFORE mutating the state
        # tables its plan reads: the lineage captures pre-commit file
        # listings, so any later re-evaluation (cache eviction, retry)
        # against the swapped/appended tables would read deleted files
        # or changed state.  Durable, batch-sized, severed lineage.
        out.write.mode("overwrite").parquet(f"{path}/last_batch")
        receipt = spark.read.schema(out.schema).parquet(f"{path}/last_batch")

        if int(bk["n"]) > 0 or receipt.limit(1).count() > 0:
            # commit the batch into the standing state (docstring step
            # 4 for the ordering / replay-idempotence argument); every
            # write below derives from the durable receipt, the
            # caller's batch, or frames whose source tables are not
            # yet mutated at that point in the sequence.  The five
            # pre-commit appends touch five DISJOINT tables and the
            # replay contract only requires the ``digests`` append
            # (the commit point) to land strictly LAST: a crash used
            # to leave a sequential prefix of the appends, now it
            # leaves an arbitrary subset, and replay absorbs either
            # identically (duplicate edges/postings/delta rows fold
            # away).  So the five run OVERLAPPED from driver threads
            # (guide §2.6) — each is a sub-second batch-sized job
            # whose tail would otherwise leave the scheduler idle.
            # The survivors' (id, dg) rows ARE the checkpointed
            # surv_keys frame (r15): the receipt's kind='batch' ids
            # equal surv_ids by construction (batch_assign is
            # assign_new semi-joined on them), and the old
            # receipt ⋈ batch re-derivation — needed when surv_keys was
            # a persist whose lineage embedded the PRE-COMMIT digests
            # listing — re-scanned the batch text once per consuming
            # append.  The checkpoint is lineage-free, so a cache-
            # evicted block can never be recomputed against mutated
            # state; on replay the whole call re-runs and recomputes an
            # identical surv_keys.
            dg_new = surv_keys

            def _append_pairs():
                new_pairs.write.mode("append").parquet(f"{path}/pairs")

            def _append_delta():
                # _next_seq reads assign_delta BEFORE this thread's own
                # append — no other thunk in the wave touches the table
                seq = _next_seq(spark, path, batch_key, id_field=id_field)
                receipt.select(
                    id_col, "cluster_id", "bucket_permille", "split"
                ).withColumn("batch_key", F.lit(batch_key)).withColumn(
                    "seq", F.lit(seq).cast("bigint")
                ).write.mode("append").parquet(f"{path}/assign_delta")

            def _append_buckets():
                b_new.write.mode("append").parquet(f"{path}/buckets")

            def _append_front():
                f_new.write.mode("append").parquet(f"{path}/front")

            def _append_bloom():
                # OR-in = APPEND of the batch's own position rows
                # (r14): the union+distinct+staged-swap form rewrote
                # (and shuffled) the corpus-sized position table on
                # every batch — a per-batch corpus-scale term in the
                # exact loop built to avoid them.  The probe counts
                # distinct seeds, so duplicate positions are harmless;
                # the compactor's rebuild re-distincts.  No input
                # .distinct() either (r15): bloom_build distincts its
                # POSITION output anyway, so the key-side exchange only
                # pre-shrank a batch-sized explode.
                bloom_build(
                    dg_new.select("dg"), "dg", mb, kh
                ).withColumn("m_bits", F.lit(int(mb))).withColumn(
                    "k_hashes", F.lit(int(kh))
                ).write.mode("append").parquet(f"{path}/bloom")

            run_jobs(
                _append_pairs, _append_delta, _append_buckets,
                _append_front, _append_bloom,
            )
            dg_new.write.mode("append").parquet(f"{path}/digests")
        # Release THIS call's held frames now that the receipt and the
        # state commits are durable.  The persisted ones' plans embed
        # pre-commit file listings of the state tables, and Spark's
        # CacheManager would substitute them into a LATER call's
        # identical-looking scan subtrees — recomputing evicted blocks
        # from files the swap has deleted.  The pinned ones never enter
        # the CacheManager, but nothing frees their blocks until they
        # are released, so a stream of calls would pile them up.  (The
        # receipt read has no held ancestry.)
        release(
            new_keys, survivors, b_new, surv_keys, f_new, new_pairs,
            members, *held,
        )
        return receipt
    finally:
        _release_lease(spark, path, token)


def _next_seq(spark, path: str, batch_key: str, id_field=None) -> int:
    """Monotonic delta sequence number, REUSED on crash replay: if
    ``batch_key`` already appears in the delta (a prior attempt
    appended before dying), its seq comes back so the replayed rows
    are exact duplicates; otherwise max+1.  Bounded collect — one row
    per batch since the last compaction."""
    reader = spark.read
    if id_field is not None:
        reader = reader.schema(_delta_schema(id_field))
    rows = (
        reader.parquet(f"{path}/assign_delta")
        .groupBy("batch_key")
        .agg(F.max("seq").alias("s"))
        .collect()
    )
    for row in rows:
        if row["batch_key"] == batch_key:
            return int(row["s"])
    return max((int(row["s"]) for row in rows), default=0) + 1


def ingest_state_compact(
    spark,
    path: str,
    m_bits: int | None = None,
    lease_ttl_s: float = 3600.0,
) -> None:
    """OPTIMIZE for the standing ingest state — the companion the
    crash-replay contract of :func:`ingest_pipeline_incremental`
    references: a batch that crashed after appending front/bucket/
    pair rows but before the ``digests`` commit point re-runs in full
    and re-appends them, which is harmless for correctness (duplicate
    edges don't change connected components; duplicate postings only
    duplicate candidates that dedup away) but accumulates dead weight.
    This folds each table back to its canonical form with the same
    :func:`~data__converter_spark.commit.swap` as the index
    compactors, ``commit.recover`` at entry included:

    - ``front``: one row per id — replay duplicates are bit-identical
      (the Arrow kernel is deterministic); an id reused with changed
      text leaves two different rows, and the smallest (hs, sig) one
      survives, the same on every run;
    - ``buckets``: distinct (id, band, bucket);
    - ``pairs``: distinct (id_a, id_b, jaccard);
    - ``digests``: distinct (id, dg);
    - ``assign``: the delta overrides fold into the base
      (:func:`_current_assign` materialized) and the delta resets to
      empty — order matters: base first, so a crash between the two
      swaps leaves delta rows that merely duplicate the folded base;
    - ``bloom``: REBUILT from the folded digests at a corpus-sized
      geometry (VERDICT r12 Next #3 — bits only ever OR in, so past
      the design point the false-positive rate → 1 and the prescreen
      silently stops earning its keep; verdicts stay correct either
      way because membership is always confirmed against
      ``digests``).  ``m_bits`` picks the new size; None auto-sizes
      to the smallest power of two ≥ 16·n_keys (≈0.5% FPR at
      k_hashes=3), never shrinking below the build-time size.  The
      new geometry travels IN the bloom table's own columns, so the
      resize swaps table and probe arithmetic atomically; the params
      manifest is swapped after it for bookkeeping (a crash between
      the two is harmless — readers take geometry from the bloom).

    Never required for correctness; run it when replay debt, delta
    churn, or bloom saturation makes the state noticeably fatter or
    slower than the corpus warrants."""
    import math

    from pyspark.sql import functions as F

    from .sketches import bloom_build

    for t in _STATE_TABLES:
        commit.recover(spark, f"{path}/{t}")
    prm = (
        spark.read.schema(_PARAMS_SCHEMA)
        .parquet(f"{path}/params")
        .collect()[0]
        .asDict()
    )
    token = _acquire_lease(spark, path, lease_ttl_s)
    try:
        # The folds run in dependency-respecting PARALLEL WAVES (r14,
        # guide §2.6) — each swap is a small job whose tail leaves the
        # scheduler idle, and the only cross-table reads are the
        # assign fold (reads digests/assign/assign_delta) and the
        # bloom rebuild (reads the FOLDED digests):
        #   wave 1: front / buckets / pairs dedup swaps ∥ assign fold
        #           (digests and the delta are still unmutated here);
        #   wave 2: digests dedup swap ∥ delta reset (the fold that
        #           read them both is durable);
        #   wave 3: bloom rebuild from the folded digests;
        #   then the params manifest, last as before.
        # A crash mid-wave leaves each table either old or new — the
        # same per-table atomicity as the sequential order, and the
        # entry recovery probe repairs any half-swapped table.
        from pyspark.sql import types as T

        from ..scale import persisted, run_jobs

        def _fold(t: str, df) -> None:
            commit.swap(
                spark, f"{path}/{t}", df.write.mode("overwrite").parquet
            )

        front = spark.read.parquet(f"{path}/front")
        id_field = front.schema.fields[0]
        id_col = id_field.name

        # one row per id, picked by value (the smallest (hs, sig)) so
        # an id reused with changed text folds the same on every run
        rest = [c for c in front.columns if c != id_col]
        front_one = front.groupBy(id_col).agg(
            F.min(F.struct(*rest)).alias("__r__")
        ).select(id_col, *[F.col(f"__r__.{c}").alias(c) for c in rest])
        held: list = []
        run_jobs(
            lambda: _fold("front", front_one),
            lambda: _fold(
                "buckets",
                spark.read.schema(
                    T.StructType([
                        id_field,
                        T.StructField("band", T.IntegerType()),
                        T.StructField("bucket", T.LongType()),
                    ])
                ).parquet(f"{path}/buckets").distinct(),
            ),
            lambda: _fold(
                "pairs",
                spark.read.schema(
                    T.StructType([
                        T.StructField("id_a", id_field.dataType),
                        T.StructField("id_b", id_field.dataType),
                        T.StructField("jaccard", T.DoubleType()),
                    ])
                ).parquet(f"{path}/pairs").distinct(),
            ),
            lambda: _fold(
                "assign",
                _current_assign(spark, path, id_field=id_field, held=held),
            ),
        )
        release(*held)
        run_jobs(
            lambda: _fold(
                "digests",
                spark.read.schema(_digests_schema(id_field))
                .parquet(f"{path}/digests").distinct(),
            ),
            lambda: _fold(
                "assign_delta",
                spark.read.schema(_delta_schema(id_field))
                .parquet(f"{path}/assign_delta").limit(0),
            ),
        )
        digests = spark.read.schema(_digests_schema(id_field)).parquet(
            f"{path}/digests"
        )
        _, cur_m, cur_k = _bloom_geometry(
            spark, path, prm["m_bits"], prm["k_hashes"]
        )
        # one distinct-key pass shared by the auto-size count and the
        # rebuild (was computed twice)
        dgd = persisted(digests.select("dg").distinct())
        if m_bits is None:
            n = dgd.count()
            m_bits = max(
                cur_m, 1 << max(10, math.ceil(math.log2(max(16 * n, 2))))
            )
        _fold(
            "bloom",
            bloom_build(dgd, "dg", m_bits, cur_k)
            .withColumn("m_bits", F.lit(int(m_bits)))
            .withColumn("k_hashes", F.lit(int(cur_k))),
        )
        release(dgd)
        prm["m_bits"] = int(m_bits)
        _fold(
            "params",
            local_frame(
                spark,
                [tuple(prm[c] for c in (
                    "k", "num_hashes", "bands", "seed", "threshold",
                    "train_permille", "val_permille", "m_bits", "k_hashes",
                ))],
                _PARAMS_SCHEMA,
            ),
        )
    finally:
        _release_lease(spark, path, token)
