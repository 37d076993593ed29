"""Deduplication operators for document corpora.

Five strategies, each with a different cost/recall point (SURVEY §7.1 M6):

- :func:`exact_dedup` — hash-groupBy on content digest. One shuffle on
  a 64-hex key; at 100 TB this is the cheapest and always-first pass.
- :func:`ngram_jaccard_pairs` — exact all-pairs Jaccard on word
  k-grams. O(n²); the correctness oracle for the approximate methods
  (only run it on small candidate sets).
- :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH: shuffle
  on band buckets, Jaccard-verify only within buckets. The scale path:
  cost ~ n * bands, not n².
- :func:`simhash_col` / :func:`simhash_pairs` — 64-bit SimHash with
  banded blocking on 16-bit chunks, Hamming-verified.
- :func:`embedding_pairs` — cosine near-dup over an embedding column.

Everything is DataFrame-native; shingles hash once JVM-side
(``xxhash64``) and the wide per-hash arithmetic (64 MinHash
permutations, 64 SimHash bit votes) runs in Arrow-batched numpy
kernels — deterministic (seeded plan-time coefficients), no fitted
model or driver-side state.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..scale import local_frame
from .textstats import shingles_col


def exact_dedup(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct content digest.

    groupBy on ``sha2(content)`` rather than the raw content so the
    shuffle moves 32-byte keys, not documents."""
    key = F.sha2(F.coalesce(F.col(col).cast("string"), F.lit("")), 256)
    keep = (
        df.select(key.alias("__digest__"), F.col(id_col))
        .groupBy("__digest__")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


def paragraph_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the RefinedWeb/CCNet
    recipe): split every document on ``sep``, keep only the FIRST
    occurrence of each distinct non-blank paragraph (ordered by
    (doc id, position)), and reassemble documents from their surviving
    paragraphs in original order.

    Output: (id_col, text_dedup, n_paras_kept) — documents whose every
    paragraph was seen earlier elsewhere disappear entirely (their text
    would be empty), matching the curation use where boilerplate-only
    pages drop out.

    Scale shape: two shuffles, both necessary — (1) one exchange of
    (digest, id, idx, text) keyed on the 32-byte paragraph digest; the
    winner is the ``min(struct(id, idx))`` analytic over that partition
    (no self-join, the explode+sha2 map work runs exactly once);
    (2) reassembly groups by document id. A pathologically hot
    paragraph (millions of identical boilerplate copies) lands on one
    digest partition — the local clustering sort is on the digest only
    (no global order), and AQE's skew handling can split the partition.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(col), F.lit("")), sep)).alias(
            "__idx__", "__para__"
        ),
    ).filter(F.length(F.trim(F.col("__para__"))) > 0)
    digest = F.sha2(F.col("__para__"), 256)
    tagged = paras.select(
        id_col, "__idx__", "__para__", digest.alias("__digest__")
    )
    from pyspark.sql import Window as W

    # unordered-frame min over the digest partition: one exchange of
    # the paragraph rows + a per-partition clustering sort on the
    # digest — strictly cheaper than the agg-then-self-join shape,
    # which exchanges the text twice and recomputes the explode.
    wspec = W.partitionBy("__digest__")
    winner = F.min(
        F.struct(F.col(id_col).alias("o"), F.col("__idx__").alias("i"))
    ).over(wspec)
    kept = (
        tagged.withColumn("__w__", winner)
        .filter(
            (F.col("__w__.o") == F.col(id_col)) & (F.col("__w__.i") == F.col("__idx__"))
        )
        .select(id_col, "__idx__", "__para__")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__idx__", "__para__"))),
                    lambda s: s["__para__"],
                ),
                sep,
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_paras_kept"),
        )
    )


def boilerplate_scrub(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_docs: int = 3,
) -> DataFrame:
    """Remove BOILERPLATE paragraphs — those appearing in at least
    ``min_docs`` DISTINCT documents (site chrome, cookie banners, nav
    text: the CCNet-style cleaning step).  Complementary to
    :func:`paragraph_dedup`: that keeps the first occurrence of every
    paragraph; this drops EVERY occurrence of paragraphs whose
    distinct-document frequency crosses the bar, because boilerplate
    is noise in all its positions, not content that deserves one
    surviving copy.

    Output: (``id_col``, text_scrubbed, n_paras_kept, n_paras_dropped)
    for every input document — all-boilerplate documents come back
    with empty text and full drop counts rather than vanishing.

    Scale shape: three shuffles, all on narrow keys — (1) the
    (digest, id)-distinct aggregate that computes per-paragraph
    document frequency (two-level: distinct then digest agg, both with
    map-side partials — NEVER a collect_set window, whose per-digest
    buffer would hold one entry per copy of a hot banner);
    (2) the paragraph rows re-keyed on digest joining the hot-digest
    set (hot digests are a tiny fraction of distinct paragraphs —
    bounded by real duplication — but the join stays a shuffle join
    rather than a forced broadcast because an adversarial mirror-heavy
    corpus can make the hot set large); (3) per-document reassembly.
    The paragraph text crosses the wire once for the mark join and
    once for reassembly, same as :func:`paragraph_dedup`.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(col), F.lit("")), sep)).alias(
            "__idx__", "__para__"
        ),
    ).filter(F.length(F.trim(F.col("__para__"))) > 0)
    tagged = paras.select(
        id_col, "__idx__", "__para__", F.sha2(F.col("__para__"), 256).alias("__digest__")
    )
    hot = (
        tagged.select("__digest__", id_col)
        .distinct()
        .groupBy("__digest__")
        .agg(F.count(F.lit(1)).alias("__df__"))
        .filter(F.col("__df__") >= F.lit(int(min_docs)))
        .select("__digest__", F.lit(True).alias("__hot__"))
    )
    marked = tagged.join(hot, "__digest__", "left")
    assembled = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__hot__").isNull(),
                            F.struct("__idx__", "__para__"),
                        )
                    )
                ),
                lambda s: s["__para__"],
            ),
            sep,
        ).alias("text_scrubbed"),
        F.sum(F.when(F.col("__hot__").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_paras_kept"),
        F.sum(F.when(F.col("__hot__").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_paras_dropped"),
    )
    return (
        df.select(id_col)
        .join(assembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_scrubbed", F.lit("")).alias("text_scrubbed"),
            F.coalesce("n_paras_kept", F.lit(0)).cast("bigint").alias(
                "n_paras_kept"
            ),
            F.coalesce("n_paras_dropped", F.lit(0)).cast("bigint").alias(
                "n_paras_dropped"
            ),
        )
    )


def exact_dup_groups(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Digest groups with >1 member: (digest, n_docs, min/max id)."""
    key = F.sha2(F.coalesce(F.col(col).cast("string"), F.lit("")), 256)
    return (
        df.select(key.alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.max(id_col).alias("max_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) — the oracle for the approximate strategies
# ---------------------------------------------------------------------------


def _shingle_sets(df: DataFrame, col: str, id_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col), F.array_distinct(shingles_col(col, k)).alias("sh")
    ).filter(F.size("sh") > 0)


def _postings_pair_counts(sets, id_col: str, max_freq: int | None):
    """Shared inverted-index scaffolding for the exact set-overlap
    joins (:func:`ngram_jaccard_pairs`, :func:`window_overlap_pairs`):
    persisted postings of 8-byte ``xxhash64`` element hashes, per-doc
    set sizes (taken BEFORE the hot cap, so sizes stay exact), the
    f² hot-key guard, and the ``id_a < id_b`` pair counts.

    Returns ``(pairs(id_a, id_b, n_common), sizes(id_col, sz))`` —
    callers apply their own score/filter on top.  One copy of the
    blowup guard and the postings hashing keeps the two operators from
    silently diverging."""
    from ..scale import persisted

    # postings carry 8-byte hashes, not element strings — the
    # self-join shuffles longs (collision odds at 64 bits are ~n²/2⁶⁵,
    # immaterial next to the score filters). Persisted because the
    # plan reads it three ways (a-side, b-side, sizes); without it the
    # element generation recomputes per branch. Routed through
    # scale.persisted, which registers it for release with every other
    # held frame.
    postings = persisted(
        sets.select(F.col(id_col), F.explode("sh").alias("s")).select(
            F.col(id_col), F.xxhash64("s").alias("s")
        )
    )
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("sz"))
    if max_freq is not None:
        hot = (
            postings.groupBy("s")
            .count()
            .filter(F.col("count") > max_freq)
            .select("s")
        )
        postings = postings.join(hot, "s", "left_anti")
    a = postings.select(F.col(id_col).alias("id_a"), "s")
    b = postings.select(F.col(id_col).alias("id_b"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return pairs, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with word-k-gram Jaccard >= threshold — exact,
    via an inverted index on shingles instead of a crossJoin.

    Docs pair up only when they share >= 1 shingle: explode to
    (shingle, id) postings, self-join on shingle, count the common
    shingles per pair, then jaccard = common / (|a| + |b| - common).
    Work is sum over shingles of df², not n² — the standard exact
    set-similarity join shape. ``max_shingle_freq`` optionally drops
    ultra-hot shingles (stop-phrase blowup guard at corpus scale; a
    shingle shared by f docs costs f² postings pairs). Default None
    keeps the result exact.
    """
    sets = _shingle_sets(df, col, id_col, k)
    common, sizes = _postings_pair_counts(sets, id_col, max_shingle_freq)
    common = common.withColumnRenamed("n_common", "common")
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("common")
    ).cast("double")
    return (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH — the scale path for near-dup
# ---------------------------------------------------------------------------


_MERSENNE_P = (1 << 31) - 1


def _perm_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE_P), rnd.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def _shingle_hashes(text, k: int):
    """Distinct word-k-gram shingle hashes of one document: first 32
    bits of md5 mod 2³¹-1. md5 exists in every engine (DuckDB:
    ``CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) % 2147483647``), which
    makes the whole MinHash pipeline cross-engine reproducible — the
    oracle gate checks it exactly, not rows-only. Python-side companion
    of :func:`textstats.shingles_col` for the signature kernels."""
    import hashlib
    import re

    from .textstats import WS

    toks = re.split(WS, text.strip()) if isinstance(text, str) and text.strip() else []
    if len(toks) < k:
        return None
    return {
        int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8], 16)
        % _MERSENNE_P
        for i in range(len(toks) - k + 1)
    }


def minhash_signature_col(
    col: str | Column = "text", k: int = 3, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature as ONE Arrow-batched kernel: tokenize ->
    shingle -> hash (md5-32 mod 2³¹-1) -> ``(aᵢ·h + bᵢ) mod p``
    permutation mins, all vectorized in numpy (products stay < 2⁶²,
    no int64 overflow).

    One pass over the text; the Column-expression formulation (64
    higher-order-function passes, interpreted per element in Catalyst)
    measured ~60× slower. Deterministic: seeded plan-time coefficients,
    keyless hash. NULL when the doc has < k tokens.
    """
    from pyspark.sql.functions import pandas_udf

    coeffs = _perm_coeffs(num_hashes, seed)
    c = F.col(col) if isinstance(col, str) else col

    @pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        import numpy as np

        A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
        out = []
        for t in texts:
            hs = _shingle_hashes(t, k)
            if not hs:
                out.append(None)
                continue
            hv = np.fromiter(hs, dtype=np.int64)[None, :]
            out.append(((A * hv + B) % _MERSENNE_P).min(axis=1))
        return pd.Series(out)

    return sig(c)


def _md5_32_col(c: Column) -> Column:
    """First 32 bits of md5 mod 2³¹-1, JVM-side (codegen'd md5 +
    base-16 conv — no Python). Engine-portable: DuckDB spells it
    ``CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) % 2147483647``."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % F.lit(
        _MERSENNE_P
    )


def _hs_udf(k: int):
    """Arrow kernel: text -> sorted distinct md5-32 shingle-hash array
    (NULL when the doc has < k tokens). One pass; the hash-set math
    downstream (signature mins, array_intersect/union sizes) is
    order-independent, the sort just makes the frame deterministic."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def hs(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = _shingle_hashes(t, k)
            out.append(sorted(s) if s else None)
        return pd.Series(out)

    # Deterministic in fact; marked nondeterministic so Catalyst cannot
    # duplicate the kernel into sibling expressions (a filter on the
    # struct output plus the projection of it used to compile to TWO
    # stacked ArrowEvalPython evals of the same text batch).
    return hs.asNondeterministic()


def _hs_sig_udf(k: int, num_hashes: int, seed: int):
    """Fused Arrow kernel: text -> (hs, sig) in ONE Python stage —
    tokenize, shingle, md5-32, and the numpy permutation mins all on
    the same batch, so the corpus crosses the Arrow boundary once and
    the plan has a single Python eval for the whole MinHash front-end
    (the split hs-kernel + sig-kernel form costs a second Arrow
    round-trip over every hash array). NULL struct when < k tokens."""
    from pyspark.sql.functions import pandas_udf

    coeffs = _perm_coeffs(num_hashes, seed)

    @pandas_udf("struct<hs: array<long>, sig: array<long>>")
    def hs_sig(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
        hs_out, sig_out = [], []
        for t in texts:
            s = _shingle_hashes(t, k)
            if not s:
                hs_out.append(None)
                sig_out.append(None)
                continue
            hv = np.fromiter(s, dtype=np.int64)
            hs_out.append(np.sort(hv))
            sig_out.append(((A * hv[None, :] + B) % _MERSENNE_P).min(axis=1))
        return pd.DataFrame({"hs": hs_out, "sig": sig_out})

    # Deterministic in fact; marked nondeterministic so Catalyst cannot
    # duplicate the kernel into sibling expressions (a filter on the
    # struct output plus the projection of it used to compile to TWO
    # stacked ArrowEvalPython evals of the same text batch).
    return hs_sig.asNondeterministic()


def _shingle_hash_sets(df: DataFrame, col: str, id_col: str, k: int) -> DataFrame:
    """(id, hs): distinct md5-32 shingle-hash set per document.

    The ONE frame the whole MinHash pipeline derives from — signatures
    permute these hashes, band buckets slice the signatures, and the
    exact-Jaccard verify intersects the same hash sets, so text is
    tokenized once and shingle strings never leave this projection.
    ONE Arrow kernel does tokenize -> shingle -> md5-32: the earlier
    split (Arrow shingle-string kernel + JVM ``transform(md5)``)
    shipped every shingle string through Arrow and evaluated the md5
    HOF interpreted per shingle — ~1.8× slower at sf0.1 and worse at
    scale, where the interpreted HOF cannot enter codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return df.select(F.col(id_col), _hs_udf(k)(c).alias("hs")).filter(
        F.col("hs").isNotNull()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact Jaccard
    over the md5-32 shingle-hash sets.

    Signature of ``num_hashes`` minhashes split into ``bands`` bands of
    r = num_hashes/bands rows; docs colliding on any band hash become
    candidates (p(collide) = 1-(1-j^r)^b). The only wide ops are a
    groupBy-free self-join on band buckets and the final dedup —
    documents never cross-join. ``max_bucket_size`` caps degenerate
    buckets (see :func:`_minhash_candidates`).

    The verify Jaccard intersects HASH sets, not shingle strings —
    identical to string Jaccard up to 32-bit collisions (odds per doc
    pair ~|sh|²/2³¹), and bit-for-bit reproducible by the DuckDB
    oracle, which computes the same hashes from the same shingles.
    """
    hashed, _sigs, cand = _minhash_candidates(
        df, col, id_col, k, num_hashes, bands, seed, max_bucket_size
    )
    # hashed/sigs are projections of ONE persisted frame — the verify
    # joins below re-read cached partitions, never the text kernel
    # exact-Jaccard verification only on the (small) candidate set.
    # |A∪B| = |A|+|B|−|A∩B| for the distinct hash sets (r14, guide
    # §1.2): array_union built a second per-pair hash table the sizes
    # already determine — same integer, half the per-candidate array
    # work (codegen subexpression elimination computes the intersect
    # once).
    sh_a = hashed.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    sh_b = hashed.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = (F.size("hs_a") + F.size("hs_b")).cast("double") - inter
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_front(
    df: DataFrame,
    col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    seed: int,
    cache: bool = True,
) -> DataFrame:
    """Persisted (id, hs, sig) frame from ONE fused Arrow pass over the
    text (see :func:`_hs_sig_udf`).  ``cache=False`` skips the persist
    for callers with exactly ONE downstream materialization (a write or
    an eager checkpoint) — filling the cache for a single consumer is
    pure memory churn (r14)."""
    from ..scale import fan_out, persisted

    out = (
        fan_out(df)
        .select(
            F.col(id_col),
            _hs_sig_udf(k, num_hashes, seed)(F.col(col)).alias("x"),
        )
        .filter(F.col("x.hs").isNotNull())
        .select(F.col(id_col), F.col("x.hs").alias("hs"), F.col("x.sig").alias("sig"))
    )
    return persisted(out) if cache else out


def _band_frame(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) rows — band buckets carry only those three
    columns (the shingle arrays would be duplicated ``bands``× in the
    bucket shuffle otherwise); xxhash64 hashes the sliced signature
    array directly (JVM-side, no per-element stringify)."""
    return sigs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _minhash_candidates(
    df: DataFrame,
    col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    seed: int,
    max_bucket_size: int | None = None,
):
    """Shared LSH front half: (shingle-hash sets, signatures, candidate
    pairs). Hash sets AND signatures come out of one fused Arrow
    kernel (:func:`_hs_sig_udf`) into one persisted frame — the single
    pass over the text, read again by the band slicer and both sides
    of the verification join, so neither kernel can re-run per plan
    branch (the earlier split-kernel form showed 12 signature-kernel
    nodes in the executed plan).

    ``max_bucket_size`` drops band buckets with more than that many
    members before the self-join — the f² blowup guard for degenerate
    corpora (millions of identical boilerplate documents land in one
    bucket). Documented recall trade mirroring ``max_shingle_freq``:
    members of a dropped bucket can still pair through their other
    bands. Default None keeps exact banded-LSH semantics."""
    rows_per_band = num_hashes // bands
    from ..scale import persisted

    front = _minhash_front(df, col, id_col, k, num_hashes, seed)
    hashed = front.select(id_col, "hs")
    sigs = front.select(id_col, "sig")

    banded = persisted(_band_frame(sigs, id_col, bands, rows_per_band))

    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "bucket")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(hot, ["band", "bucket"], "left_anti")
    left = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    right = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return hashed, sigs, cand


def minhash_estimate_error(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Sketch-quality diagnostic over the LSH candidate pairs: the
    MinHash similarity ESTIMATE (fraction of equal signature
    components) against the exact Jaccard, with the absolute error in
    exact milli-units. "Measure, don't guess" for the sketch itself —
    at corpus scale this runs on a stratified sample to validate a
    (num_hashes, bands) choice before committing the full dedup run.

    All outputs are integers (component-match count, |∩|, |∪|,
    floor(|est−jac|·1000+0.5)) so the comparison is engine-portable.
    """
    hashed, sigs, cand = _minhash_candidates(
        df, col, id_col, k, num_hashes, bands, seed
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    sh_a = hashed.select(F.col(id_col).alias("id_a"), F.col("hs").alias("sh_a"))
    sh_b = hashed.select(F.col(id_col).alias("id_b"), F.col("hs").alias("sh_b"))
    n_match = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # distinct hash sets: |A∪B| = |A|+|B|−|A∩B| (r14, same identity as
    # the verify joins — one per-pair array pass instead of two)
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size("sh_a") + F.size("sh_b") - n_inter
    est = n_match.cast("double") / F.lit(float(num_hashes))
    jac = n_inter.cast("double") / n_union.cast("double")
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            n_match.cast("bigint").alias("n_sig_match"),
            n_inter.cast("bigint").alias("n_inter"),
            n_union.cast("bigint").alias("n_union"),
            F.floor(F.abs(est - jac) * F.lit(1000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("err_millis"),
        )
    )


def near_dedup(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Drop near-duplicates: for every LSH-verified pair keep the lower
    id (greedy representative — one extra semi-join, no iterative
    connected components; transitive chains collapse to their min id in
    almost all corpora and the residual is bounded by the pair list)."""
    pairs = minhash_lsh_pairs(df, col, id_col, **lsh_kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


#: Driver-side cost of one collected edge beyond its id payload: two
#: Row fields + union-find dict entries. Deliberately conservative —
#: overestimating routes to the distributed path, which is always safe.
_PY_EDGE_OVERHEAD_BYTES = 240


def _edge_payload_bytes(edges: DataFrame) -> Column:
    """Per-edge id payload size in bytes: measured for string ids,
    8 bytes per side for fixed-width numerics."""
    t = edges.schema["src"].dataType.simpleString()
    if t == "string":
        return F.octet_length("src") + F.octet_length("dst")
    return F.lit(16)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    small_graph_max_edges: int = 1_000_000,
    small_graph_max_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Exact connected components of the near-dup pair graph.

    Returns (id, component) for every node appearing in ``pairs``,
    where component = min id reachable from the node.

    **Hybrid execution.** The pair graph after LSH verification is tiny
    relative to the corpus (it holds only documents that HAVE a near
    dup), so when the directed edge list fits
    ``small_graph_max_edges`` AND its estimated driver footprint fits
    ``small_graph_max_bytes`` it is collected once and labelled with
    driver-side union-find — O(E α(E)), no per-round Spark jobs. The
    byte gate is measured, not assumed: id payload is summed from the
    data (``octet_length`` for strings — a 1M-edge graph of long URL
    ids can dwarf the same edge count over ints) plus a conservative
    per-edge Python overhead, so wide string ids route to the
    distributed path well before the row-count cap. This is the standard hybrid in production
    dedup pipelines: the expensive distributed work is generating
    pairs, not labelling them. Larger graphs fall through to hash-min
    label propagation: every node starts labelled with its own id; each
    round a node takes the min of its own and its neighbors' labels,
    until a fixpoint — <= graph-diameter rounds, one shuffle per round
    on the edge key.

    Distributed-path scale notes: the iterating frames hold only
    (id, label) pairs. :func:`~..scale.pinned` truncates lineage each
    round so plan depth stays O(1) (its reliable-checkpoint escape
    hatch covers clusters with unreliable executors), and the previous
    round's labels are released once the probe has read them. The
    per-round convergence probe is a ``limit(1).count()`` on the
    changed-label join — an O(1) action, not a collect. Raises on
    non-convergence rather than returning silently-partial labels.
    """
    from ..scale import persisted, pinned, release

    edges = persisted(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
    )
    stats = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_edge_payload_bytes(edges)).alias("payload"),
    ).collect()[0]
    n_edges = stats["n"] or 0
    est_bytes = (stats["payload"] or 0) + n_edges * _PY_EDGE_OVERHEAD_BYTES
    if n_edges <= small_graph_max_edges and est_bytes <= small_graph_max_bytes:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = r.src, r.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            if root not in comp_min or node < comp_min[root]:
                comp_min[root] = node
        data = [(node, comp_min[find(node)]) for node in parent]
        id_type = edges.schema["src"].dataType
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("component", id_type)]
        )
        out = local_frame(pairs.sparkSession, data, schema)
        release(edges)
        return out

    labels = pinned(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("src"), F.col("component").alias("scomp")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("scomp").alias("ncomp"))
            .select(F.col("dst").alias("id"), "ncomp")
        )
        new_labels = pinned(labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("ncomp"), F.col("component"))
            ).alias("component"),
        ))
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    release(edges)
    if changed != 0:
        # Partial labels are silently WRONG (extra components), so fail
        # loudly: callers advertising exact transitive closure
        # (near_dedup_exact) must not ship unconverged output.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the pair graph has a longer chain than expected — rerun "
            "with a higher max_iter."
        )
    return labels


def near_dedup_exact(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Drop near-duplicates with EXACT transitive closure: one survivor
    (the min id) per connected component of the LSH-verified pair
    graph. Unlike :func:`near_dedup`'s greedy pass, two pairs sharing
    a loser — (1,3),(2,3) with no (1,2) edge — collapse to a single
    survivor here (greedy keeps both 1 and 2)."""
    pairs = minhash_lsh_pairs(df, col, id_col, **lsh_kwargs)
    cc = connected_components(pairs)
    losers = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def cluster_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_permille: int = 800,
    val_permille: int = 100,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Leakage-safe train/val/test split: assignment happens at the
    NEAR-DUP CLUSTER level, so two near-duplicate documents can NEVER
    land in different splits — the contamination a per-document hash
    split silently permits (a paraphrase of a test document sitting in
    train defeats the held-out evaluation; the standard fix in
    training-data pipelines is exactly this: split by dedup cluster,
    not by document).

    Every document's split key is its cluster's canonical id — the
    min id of its connected component in the verified near-dup pair
    graph (:func:`connected_components` over ``pairs``), falling back
    to the document's own id for singletons, which makes this a
    strict generalization of ``corpus_split``: with no pairs the two
    produce identical assignments.  The same md5-permille bucketing
    keeps membership stable under retries and corpus appends — and
    because the key is the CLUSTER id, a newly-ingested near-dup of
    an existing doc lands in that doc's split, never the other side.

    Output: (``id_col``, cluster_id, bucket_permille, split).
    ``cluster_id`` is emitted in the id column's OWN type (ADVICE r10:
    an unconditional bigint cast silently NULLed the column for
    string-keyed corpora — the assignment stayed correct because the
    bucketing hashes the string form, but the output was misleading).

    Scale: the pair graph holds only documents that HAVE a near dup
    (tiny next to the corpus), components label it with the hybrid
    union-find / hash-min propagation, and the corpus touches ONE
    left join against that label table plus a narrow md5 projection.
    """
    if not (0 <= train_permille and 0 <= val_permille
            and train_permille + val_permille <= 1000):
        raise ValueError(
            f"invalid split: train={train_permille} val={val_permille}"
        )
    comp = connected_components(pairs, id_a, id_b).select(
        F.col("id").alias(id_col), "component"
    )
    canon = F.coalesce(F.col("component"), F.col(id_col))
    from .textstats import sample_hash_col

    b = sample_hash_col(canon.cast("string"), buckets=1000)
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            canon.cast(df.schema[id_col].dataType).alias("cluster_id"),
            b.alias("bucket_permille"),
            F.when(b < train_permille, F.lit("train"))
            .when(b < train_permille + val_permille, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_col(col: str | Column = "text", k: int = 2) -> Column:
    """64-bit SimHash over word k-gram features.

    One Arrow-batched kernel: tokenize -> shingle -> md5-64 feature
    hash -> vectorized per-bit ±1 majority vote (the Column-expression
    fold with a 64-wide accumulator interprets per element in Catalyst,
    an order of magnitude slower). Deterministic and cross-engine
    reproducible (md5 exists in DuckDB, so the oracle recomputes the
    same hashes). 0 for docs shorter than k tokens.
    """
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    from .textstats import WS

    c = F.col(col) if isinstance(col, str) else col

    @pandas_udf("long")
    def fold(texts: pd.Series) -> pd.Series:
        import numpy as np

        ws = re.compile(WS)
        shifts = np.arange(64, dtype=np.uint64)
        out = []
        for t in texts:
            toks = ws.split(t.strip()) if isinstance(t, str) and t.strip() else []
            if len(toks) < k:
                out.append(0)
                continue
            feats = {
                int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:16], 16)
                for i in range(len(toks) - k + 1)
            }
            hv = np.fromiter(feats, dtype=np.uint64)[:, None]
            bits = ((hv >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
            votes = bits.sum(axis=0)
            sim = np.uint64(0)
            for j in np.nonzero(votes > 0)[0]:
                sim |= np.uint64(1) << np.uint64(j)
            out.append(np.array([sim], dtype=np.uint64).view(np.int64)[0])
        return pd.Series(out)

    return fold(c)


def hamming64_col(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit longs: one ``bit_count``
    over the xor (the 64-term shift/add tree it replaces bloated
    codegen for identical semantics)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def simhash_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    max_distance: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_distance.

    Blocking: split the 64-bit hash into 4 16-bit chunks; by pigeonhole
    any pair within distance 3 shares at least one exact chunk, so the
    join is on (chunk_index, chunk_value) buckets — no cross-join.
    """
    from ..scale import persisted

    # h feeds both sides of the chunk self-join: persist so the SimHash
    # kernel runs once over the corpus, not per branch.
    h = persisted(df.select(F.col(id_col), simhash_col(col, k).alias("sim")))
    chunks = h.select(
        id_col,
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_i"),
                        F.shiftright(F.col("sim"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_v"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sim", "c.chunk_i", "c.chunk_v")
    left = chunks.select(
        "chunk_i", "chunk_v", F.col(id_col).alias("id_a"), F.col("sim").alias("sim_a")
    )
    right = chunks.select(
        "chunk_i", "chunk_v", F.col(id_col).alias("id_b"), F.col("sim").alias("sim_b")
    )
    cand = (
        left.join(right, ["chunk_i", "chunk_v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a", "id_b", hamming64_col(F.col("sim_a"), F.col("sim_b")).alias("hamming")
    ).filter(F.col("hamming") <= max_distance)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_blocks: int = 8,
) -> DataFrame:
    """All pairs (a<b) with cosine >= threshold — exact, via blocked
    matrix multiplication.

    Rows hash into ``num_blocks`` blocks; every block pair (i <= j)
    becomes one task that runs a vectorized numpy matmul between the
    two blocks and emits only above-threshold pairs. Total flops are
    still O(n²·d) (exactness requires it) but they run as BLAS inside
    Arrow batches, parallel over B(B+1)/2 tasks — size num_blocks so a
    block (~n/B vectors) fits executor memory; for 10⁹ vectors you'd
    pre-filter candidates with LSH (similarity.lsh_topk) instead.
    """
    import pandas as pd

    from .similarity import VEC_QUANT

    spark = df.sparkSession
    tagged = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("bid"),
    )
    block_pairs = local_frame(
        spark,
        [(i, j) for i in range(num_blocks) for j in range(i, num_blocks)],
        "ba int, bb int",
    )
    side_a = tagged.join(block_pairs, F.col("bid") == F.col("ba")).select(
        "ba", "bb", "vid", "vec", F.lit(0).alias("side")
    )
    side_b = tagged.join(block_pairs, F.col("bid") == F.col("bb")).select(
        "ba", "bb", "vid", "vec", F.lit(1).alias("side")
    )
    grouped = side_a.unionAll(side_b)

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        ba, bb = key
        a = pdf[pdf["side"] == 0]
        # VEC_QUANT integer grid: dot/norm partial sums are exact
        # integers, so the BLAS matmul matches a sequential SQL dot
        # bit-for-bit in any accumulation order (see similarity.py).
        if ba == bb:
            # diagonal block arrives twice (once per side); use one copy
            ids = a["vid"].to_numpy()
            m = np.floor(
                np.stack(a["vec"].to_numpy()).astype(np.float64) * VEC_QUANT + 0.5
            )
            n2 = np.einsum("ij,ij->i", m, m)
            sims = (m @ m.T) / np.sqrt(np.outer(n2, n2))
            iu, ju = np.triu_indices(len(ids), k=1)
            mask = sims[iu, ju] >= threshold
            ia, jb = ids[iu[mask]], ids[ju[mask]]
            cs = sims[iu[mask], ju[mask]]
        else:
            b = pdf[pdf["side"] == 1]
            ids_a, ids_b = a["vid"].to_numpy(), b["vid"].to_numpy()
            if not len(ids_a) or not len(ids_b):
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            ma = np.floor(
                np.stack(a["vec"].to_numpy()).astype(np.float64) * VEC_QUANT + 0.5
            )
            mb = np.floor(
                np.stack(b["vec"].to_numpy()).astype(np.float64) * VEC_QUANT + 0.5
            )
            n2a = np.einsum("ij,ij->i", ma, ma)
            n2b = np.einsum("ij,ij->i", mb, mb)
            sims = (ma @ mb.T) / np.sqrt(np.outer(n2a, n2b))
            ii, jj = np.nonzero(sims >= threshold)
            ia, jb, cs = ids_a[ii], ids_b[jj], sims[ii, jj]
        lo, hi = np.minimum(ia, jb), np.maximum(ia, jb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cs})

    out_schema = "id_a long, id_b long, cosine double"
    return (
        grouped.groupBy("ba", "bb")
        .applyInPandas(kernel, out_schema)
        .filter(F.col("id_a") != F.col("id_b"))
    )




def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
    dim: int = 64,
    bits: int = 6,
    tables: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs (a<b, cosine >= threshold) via hyperplane-LSH
    blocking — the 10⁹-vector path :func:`embedding_pairs` documents.
    ``max_bucket_size`` drops (table, bucket) groups above the cap
    before the self-join — the f² guard for corpora with huge clusters
    of near-identical vectors; members can still pair via other tables.

    Where ``embedding_pairs`` runs exact O(n²) blocked matmuls, this
    self-joins only within (table, bucket): candidate volume is
    ~``tables · Σ_bucket f²`` ≈ ``tables · n² / 2^bits`` for balanced
    buckets — tune ``bits`` up to shrink buckets at scale. A pair above
    a high cosine threshold collides in at least one of ``tables``
    independent tables with probability 1-(1-p^bits)^tables where
    p = 1 - angle/π.

    Bucketing and pair cosine run as Arrow-batched numpy kernels (one
    sign-matmul per batch, one einsum per candidate batch).

    **Guaranteed (not data-dependent) cross-engine parity:** vectors are
    quantized once to the integer grid ``floor(x·2^17 + 0.5)``. The
    hyperplanes are exact ±1, so every projection and dot-product term
    is an integer and every partial sum stays far below 2^53 — float
    addition of such integers is EXACT in ANY order, so numpy's
    pairwise/SIMD accumulation, a sequential SQL fold, and DuckDB's
    ``list_dot_product`` all produce bit-identical projections and
    cosines. Without this, a near-zero projection or near-threshold
    cosine could flip between engines on accumulation order alone.
    """
    import numpy as np

    from .similarity import VEC_QUANT, _hyperplane_table

    H = np.stack([_hyperplane_table(dim, bits, seed + t) for t in range(tables)])
    bit_weights = (1 << np.arange(bits)).astype(np.int64)

    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))

    def bucket_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vid"].to_numpy()
            M = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            Mq = np.floor(M * VEC_QUANT + 0.5)  # exact integer grid
            frames = []
            for t in range(tables):
                proj = Mq @ H[t].T  # (n, bits) — exact integer sums
                buck = (proj > 0).astype(np.int64) @ bit_weights
                frames.append(
                    pd.DataFrame({"vid": vids, "tbl": t, "bucket": buck})
                )
            yield pd.concat(frames, ignore_index=True)

    from ..scale import persisted

    # both sides of the self-join read this kernel output — persist or
    # the sign-matmul pass runs twice
    buckets = persisted(
        base.mapInPandas(bucket_kernel, "vid long, tbl int, bucket long")
    )
    if max_bucket_size is not None:
        hot = (
            buckets.groupBy("tbl", "bucket")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("tbl", "bucket")
        )
        buckets = buckets.join(hot, ["tbl", "bucket"], "left_anti")
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )

    joined = (
        cand.join(base.alias("x"), F.col("id_a") == F.col("x.vid"))
        .join(base.alias("y"), F.col("id_b") == F.col("y.vid"))
        .select(
            "id_a", "id_b", F.col("x.vec").alias("va"), F.col("y.vec").alias("vb")
        )
    )

    def cosine_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.floor(
                np.stack(pdf["va"].to_numpy()).astype(np.float64) * VEC_QUANT + 0.5
            )
            B = np.floor(
                np.stack(pdf["vb"].to_numpy()).astype(np.float64) * VEC_QUANT + 0.5
            )
            # integer dot/norms are exact in any order; the final
            # sqrt+divide are single IEEE ops — bit-identical everywhere
            cos = np.einsum("ij,ij->i", A, B) / np.sqrt(
                np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
            )
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "cosine": cos}
            )

    scored = joined.mapInPandas(cosine_kernel, "id_a long, id_b long, cosine double")
    return scored.filter(F.col("cosine") >= F.lit(float(threshold)))


def window_overlap_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_shared: int = 1,
    max_window_freq: int | None = 200,
) -> DataFrame:
    """Verbatim-overlap detector: pairs of documents sharing at least
    ``min_shared`` distinct ``window``-token rolling windows — the
    exact substring-duplication signal ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022, uses 50-token
    windows; suffix arrays find the same overlaps single-node).  A
    shared window is a ``window``-token verbatim run present in both
    documents, which word-set similarity (Jaccard/MinHash) misses when
    the surrounding documents differ.

    Output: (id_a, id_b, n_shared, containment_permille) where
    containment = shared / min(|A|, |B|) in exact integer permille —
    1000 means the smaller document's window set is entirely inside
    the larger one (near-substring).

    Scale shape: identical to the inverted-index set-similarity join —
    per-doc distinct window hashes (Arrow shingle kernel), postings of
    8-byte hashes, hot-window cap (a window shared by f docs costs f²
    posting pairs; boilerplate windows get dropped, which only
    *lowers* reported overlap — the conservative direction for a
    dedup candidate generator), self-join on the hash, one pair
    aggregate.  Never quadratic in the corpus, only in per-window
    document frequency, which the cap bounds."""
    sets = _shingle_sets(df, col, id_col, window)
    pairs, sizes = _postings_pair_counts(sets, id_col, max_window_freq)
    shared = pairs.select(
        "id_a", "id_b", F.col("n_common").cast("bigint").alias("n_shared")
    ).filter(F.col("n_shared") >= min_shared)
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.floor(
                F.col("n_shared") * F.lit(1000) / F.least("sz_a", "sz_b")
            )
            .cast("bigint")
            .alias("containment_permille"),
        )
    )


def dedup_against(
    new: DataFrame,
    ref: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-corpus dedup: rows of ``new`` that are NOT near-duplicates
    of ANY ``ref`` document — the incremental-ingest shape (dedup this
    month's crawl against the standing corpus) and the decontamination
    shape (drop training docs near a held-out set).  Self-dedup of the
    new batch is deliberately out of scope here; run the self forms
    separately so each policy stays auditable.

    Same banded-LSH machinery as :func:`minhash_lsh_pairs` but the
    bucket join is new x ref instead of a self-join — work scales with
    bucket co-occupancy across the two corpora, never |new| x |ref|.
    The reference front (hash sets + band buckets) is exactly what a
    standing corpus would keep materialized between ingests: at 100 TB
    the ref side reads a pre-computed signature table instead of
    re-hashing the corpus per batch.  ``max_bucket_size`` caps
    degenerate buckets ON THE REF SIDE (boilerplate in the standing
    corpus), the conservative direction: a dropped bucket can only
    under-report duplication, and the new batch never loses rows to
    the cap alone."""
    rows_per_band = num_hashes // bands
    from ..scale import persisted

    f_new = _minhash_front(new, col, id_col, k, num_hashes, seed)
    f_ref = _minhash_front(ref, col, id_col, k, num_hashes, seed)
    b_new = _band_frame(
        f_new.select(id_col, "sig"), id_col, bands, rows_per_band
    ).withColumnRenamed(id_col, "new_id")
    b_ref = _band_frame(
        f_ref.select(id_col, "sig"), id_col, bands, rows_per_band
    ).withColumnRenamed(id_col, "ref_id")
    if max_bucket_size is not None:
        hot = (
            b_ref.groupBy("band", "bucket")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("band", "bucket")
        )
        b_ref = b_ref.join(hot, ["band", "bucket"], "left_anti")
    cand = (
        b_new.join(b_ref, ["band", "bucket"])
        .select("new_id", "ref_id")
        .dropDuplicates(["new_id", "ref_id"])
    )
    hs_new = f_new.select(F.col(id_col).alias("new_id"), F.col("hs").alias("hs_n"))
    hs_ref = f_ref.select(F.col(id_col).alias("ref_id"), F.col("hs").alias("hs_r"))
    # distinct hash sets: |A∪B| = |A|+|B|−|A∩B| (r14)
    inter = F.size(F.array_intersect("hs_n", "hs_r")).cast("double")
    union = (F.size("hs_n") + F.size("hs_r")).cast("double") - inter
    dup_ids = (
        cand.join(hs_new, "new_id")
        .join(hs_ref, "ref_id")
        .filter((inter / union) >= F.lit(float(threshold)))
        .select("new_id")
        .distinct()
    )
    return new.join(
        dup_ids, new[id_col] == dup_ids.new_id, "left_anti"
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then look for near-duplicates only WITHIN each
    cluster — pairwise work drops from O(n²) to O(Σ cluster²), and at
    web scale k grows with the corpus so cluster sizes stay bounded.

    Clustering reuses :func:`~..similarity.kmeans_step`'s deterministic
    machinery: md5-seeded centroids, cosine assignment on the
    :data:`~..similarity.VEC_QUANT` integer grid (exact integer dots —
    the argmax is engine-portable by construction).  Within a cluster,
    a vector is dropped when it has cosine >= ``threshold`` with ANY
    smaller-id vector (the paper's keep-one-representative rule, greedy
    min-id form — same rule as :func:`near_dedup`).  Pair cosines use
    the same single-sqrt form as :func:`embedding_lsh_pairs`
    (``dot / sqrt(na·nb)``), exact integers under one IEEE sqrt+divide,
    so the DuckDB oracle reproduces them bit-for-bit.

    Scale shape: assignment is one Arrow pass with the k×dim centroid
    grid riding the task closure (vectors never shuffle for it); the
    pair stage shuffles each vector ONCE on its cluster id, then
    self-joins within the cluster.  ``max_cluster_size`` drops clusters
    above the cap from pairing (the f² guard — a degenerate cluster of
    near-identical vectors would otherwise dominate the join); capped
    clusters keep all members.  At 100 TB raise ``k`` so n/k stays at
    the target cluster size — the paper uses k ≈ n/10⁴.

    Output: (``id_col``, cluster, is_kept) for EVERY input vector.
    """
    import numpy as np

    from ..scale import persisted
    from .similarity import VEC_QUANT, _assign_to_grid, _seed_centroids

    cids, cq = _seed_centroids(df, k, vec_col, id_col, seed)
    # both the pair join's two sides and the output read the assignment
    assigned = persisted(_assign_to_grid(df, cids, cq, vec_col, id_col))

    pairable = assigned
    if max_cluster_size is not None:
        hot = (
            assigned.groupBy("cluster")
            .count()
            .filter(F.col("count") > max_cluster_size)
            .select("cluster")
        )
        pairable = assigned.join(hot, "cluster", "left_anti")

    a = pairable.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = pairable.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    joined = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))

    def cosine_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.floor(
                np.stack(pdf["va"].to_numpy()).astype(np.float64) * VEC_QUANT + 0.5
            )
            B = np.floor(
                np.stack(pdf["vb"].to_numpy()).astype(np.float64) * VEC_QUANT + 0.5
            )
            denom = np.sqrt(
                np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
            )
            # a zero vector has dot 0, so dividing by the guarded denom
            # gives the oracle's CASE ... ELSE 1.0 result (cos = 0)
            cos = np.einsum("ij,ij->i", A, B) / np.where(denom > 0, denom, 1.0)
            yield pd.DataFrame({"id_b": pdf["id_b"], "cosine": cos})

    losers = (
        joined.select("id_b", "va", "vb")
        .mapInPandas(cosine_kernel, "id_b long, cosine double")
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_b")
        .distinct()
    )
    return (
        assigned.select(F.col(id_col), "cluster")
        .join(losers, F.col(id_col) == losers.id_b, "left")
        .select(
            id_col,
            "cluster",
            F.col("id_b").isNull().alias("is_kept"),
        )
    )


def near_dedup_keep_best(
    df: DataFrame,
    score,
    col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Transitive-closure near-dedup keeping the HIGHEST-``score``
    member of each duplicate cluster (ties -> smallest id) — the
    production keep rule.  Min-id (:func:`near_dedup_exact`) retains
    whichever copy happened to be ingested first; curation pipelines
    keep the best version instead (longest, highest quality score,
    newest crawl — any integer-expressible preference passed as the
    ``score`` Column).

    Same machinery as :func:`near_dedup_exact` (banded-LSH pairs ->
    connected components); the winner is one per-component window rank
    over the component frame — which holds only documents that HAVE a
    near-dup, so the window is tiny next to the corpus.  Documents
    outside any component survive untouched.
    """
    pairs = minhash_lsh_pairs(df, col, id_col, **lsh_kwargs)
    cc = connected_components(pairs)
    scored = df.select(F.col(id_col).alias("__sid__"), score.alias("__score__"))
    from pyspark.sql import Window as W

    ranked = cc.join(scored, cc.id == F.col("__sid__")).select(
        "id",
        "component",
        F.row_number()
        .over(
            W.partitionBy("component").orderBy(
                F.col("__score__").desc(), F.col("id")
            )
        )
        .alias("__rn__"),
    )
    losers = ranked.filter(F.col("__rn__") > 1).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def soft_dedup_weights(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Soft dedup: DOWNWEIGHT duplicates instead of dropping them —
    every member of an exact-duplicate cluster gets weight
    ``1000 div cluster_size`` milli-units, so each distinct content
    contributes ~1.0 total expected mass to training regardless of how
    many times it was crawled (the sampling-weight alternative to
    :func:`exact_dedup`'s keep-one, used when provenance diversity
    matters). Same scale shape as exact_dedup: the shuffle moves
    32-byte digests, never documents.

    Output: (id_col, cluster_size, weight_milli) for every row."""
    key = F.sha2(F.coalesce(F.col(col).cast("string"), F.lit("")), 256)
    with_key = df.select(key.alias("__digest__"), F.col(id_col))
    sizes = with_key.groupBy("__digest__").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return with_key.join(sizes, "__digest__").select(
        id_col,
        "cluster_size",
        F.expr("1000 div cluster_size").alias("weight_milli"),
    )


def bloom_prescreen_dedup(
    new: DataFrame,
    ref: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """EXACT cross-corpus dedup with a Bloom prescreen — the
    incremental-ingest companion to :func:`dedup_against`'s near-dup
    form: an arriving shard checks its content digests against a
    constant-size membership sketch of the standing corpus BEFORE any
    corpus-scale join, so the exact confirmation join ships only the
    candidate digests the filter could not rule out.

    Why this is the production shape at 100 TB: the standing corpus's
    Bloom position table is <= min(m, k*n) rows of one long, kept
    materialized between ingests and shipped to the shard through the
    size-gated transport of :func:`~.sketches.bloom_maybe_contains`
    (broadcast while it fits, streamed scan against broadcast probe
    positions once the geometry outgrows the gate); a
    no-false-negative filter means a ``maybe = false`` digest is
    DEFINITELY new and skips the join entirely, while false positives
    only cost extra candidate rows (rate ~(1-e^{-kn/m})^k), never
    correctness. The
    digest economy matches :func:`exact_dedup`: sha256 keys move, the
    documents never do.

    Output: one row per ``new`` document — (id_col, maybe, confirmed)
    with ``confirmed -> maybe`` guaranteed (a confirmed duplicate can
    never have been screened out); survivors are ``NOT confirmed``.
    """
    from .sketches import bloom_build, bloom_maybe_contains

    digest = F.sha2(F.coalesce(F.col(col).cast("string"), F.lit("")), 256)
    new_keys = new.select(F.col(id_col), digest.alias("__digest__"))
    ref_keys = ref.select(digest.alias("__digest__")).distinct()
    bloom = bloom_build(ref_keys, "__digest__", m_bits, k_hashes)
    verdict = bloom_maybe_contains(
        new_keys.select(F.col("__digest__")), bloom, "__digest__",
        m_bits, k_hashes,
    ).withColumnRenamed("k", "__digest__")
    candidates = verdict.filter(F.col("maybe")).select("__digest__")
    # confirm by scanning the corpus digest stream against a broadcast
    # of the (bloom-thinned, batch-sized) candidate set — the corpus
    # side is never shuffled; the surviving digests are few, so the
    # dedup of duplicate corpus texts is a small distinct (r14, the
    # same inversion as the standing-state confirm join)
    confirmed = (
        ref.select(digest.alias("__digest__"))
        .join(F.broadcast(candidates), "__digest__", "left_semi")
        .distinct()
        .select("__digest__", F.lit(True).alias("confirmed"))
    )
    return (
        new_keys.join(verdict, "__digest__")
        .join(confirmed, "__digest__", "left")
        .select(
            id_col,
            "maybe",
            F.coalesce("confirmed", F.lit(False)).alias("confirmed"),
        )
    )


def setsim_join_prefix(
    sets: DataFrame,
    items_col: str = "hs",
    id_col: str = "doc_id",
    threshold_milli: int = 500,
    max_item_freq: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    PPJoin family (Xiao et al., WWW'08; what MinHash LSH is the
    *approximate* alternative to).  ``sets`` carries one row per
    record: (id, array of distinct items — e.g. the shingle-hash sets
    :func:`_shingle_hash_sets` builds, making this the exact
    counterpart of :func:`minhash_lsh_pairs` on the same universe).
    Returns every pair with Jaccard >= threshold (integer milli
    compare, no float), (id_a, id_b, jac_milli), id_a < id_b.

    Where MinHash trades recall for speed, prefix filtering keeps
    exactness and still never goes all-pairs: order each record's
    items RAREST-FIRST (by global document frequency, ties by item),
    keep only the first ``t - ceil(θ·t) + 1`` as the prefix, and
    index those.  By pigeonhole, two sets with Jaccard >= θ MUST
    share a prefix item, so the candidate join is
    postings-on-prefix-items — and because the ordering puts RARE
    items in prefixes, the postings lists are short where it matters
    (a corpus-wide common shingle never lands in a long record's
    prefix).  A length-ratio filter (θ·|x| <= |y| both ways, integer
    cross-multiplied) prunes candidates before verification; exact
    verify intersects the full item arrays.

    Plan shape: one (id, item) explode -> one df aggregate -> one
    per-record rank window (keyed by id, no global sort) -> prefix
    postings self-join on item -> distinct pairs -> verify join
    against the per-record arrays.  Shuffles carry (item, id, len)
    postings; full arrays cross the wire once for the verify, never
    per-candidate.  At 100 TB the known hazard is an item rare enough
    to land in many prefixes yet frequent in absolute terms (an item
    shared by f records costs up to f² candidate pairs);
    ``max_item_freq`` is the same guard as
    :func:`ngram_jaccard_pairs`' ``max_shingle_freq`` — items with
    df > cap leave the universe entirely (both prefix AND verify, so
    the two stages stay consistent), the documented accuracy trade a
    duplicate-heavy corpus may need.  Default None keeps the result
    exact — this operator's contract.
    """
    from pyspark.sql import Window

    tm = int(threshold_milli)
    if not 0 < tm <= 1000:
        raise ValueError(f"threshold_milli must be in (0, 1000], got {tm}")
    # deliberately NOT persisted (r14, measured): the single-action
    # plan's exchange reuse already dedups the three references to
    # this frame (postings explode + both verify legs) — forcing a
    # cache added 10 materialization jobs and was net SLOWER at sf0.1
    # (8.9 s persisted vs 7.8 s lazy, min-of-3, same window)
    base = sets.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.col(items_col)).alias("toks"),
    ).filter(F.size("toks") > 0)
    tok = base.select("id", F.explode("toks").alias("w"))
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    if max_item_freq is not None:
        dfreq = dfreq.filter(F.col("df") <= F.lit(int(max_item_freq)))
        tok = tok.join(dfreq.select("w"), "w")
        base = tok.groupBy("id").agg(
            F.array_sort(F.collect_set("w")).alias("toks")
        )
    w_rank = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("w"))
    ranked = (
        tok.join(dfreq, "w")
        .withColumn("rnk", F.row_number().over(w_rank))
        .withColumn("t", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    # prefix length t - ceil(θ·t) + 1, ceil in integer milli
    pref = ranked.filter(
        F.col("rnk")
        <= F.col("t") - ((F.lit(tm) * F.col("t") + 999) / 1000).cast("long")
        + 1
    ).select("w", "id", "t", "rnk")
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin POSITIONAL filter (r15, guide §3.4 pre-filter): a shared
    # prefix item at (1-based) ranks i/j bounds the overlap by
    # 1 + min(|x|-i, |y|-j) when no common item precedes it — valid at
    # the pair's FIRST collision, where a qualifying pair (overlap
    # o >= α = ceil(θ(|x|+|y|)/(1+θ)), the Jaccard-θ overlap
    # equivalent) always passes since the bound >= o.  Keeping a pair
    # when ANY collision row passes therefore never drops a
    # qualifying pair; it only prunes candidates the verify would
    # reject after a full array_intersect — the compute-bound stage
    # this query spends its time in.  Integer cross-multiplied:
    # o >= α  <=>  o·(1000+θm) >= θm·(|x|+|y|).
    ubound = 1 + F.least(
        F.col("a.t") - F.col("a.rnk"), F.col("b.t") - F.col("b.rnk")
    )
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.id") < F.col("b.id"))
            # Jaccard >= θ forces θ <= |x|/|y| <= 1/θ (cross-multiplied)
            & (F.col("a.t") * tm <= F.col("b.t") * 1000)
            & (F.col("b.t") * tm <= F.col("a.t") * 1000)
            & (
                ubound * (1000 + tm)
                >= F.lit(tm) * (F.col("a.t") + F.col("b.t"))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("toks").alias("ta"))
    sb = base.select(F.col("id").alias("id_b"), F.col("toks").alias("tb"))
    # toks is array_distinct'ed above, so |A∪B| = |A|+|B|−|A∩B| (r14):
    # array_union built a second per-pair hash table for a size the
    # operands already determine
    inter = F.size(F.array_intersect("ta", "tb"))
    uni = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.lit(1000) * inter >= F.lit(tm) * uni)
        .select(
            "id_a",
            "id_b",
            ((F.lit(1000) * inter) / uni).cast("long").alias("jac_milli"),
        )
    )


def deletion_neighborhood_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    max_variant_freq: int = 50,
) -> DataFrame:
    """Edit-distance-1 string pairs via the FastSS deletion index.

    The scale-correct answer to typo-level matching (Bocek et al.,
    "Fast Similarity Search in Large Dictionaries", 2007): two strings
    are within one edit (substitution, insertion, or deletion) ONLY IF
    they share a member of each other's deletion neighborhood — the
    string itself plus every single-character deletion. So instead of
    all-pairs levenshtein (the O(n²) trap a blocked join only hides),
    each string explodes into |s|+1 variants, candidates come from an
    equi-join on the variant, and the built-in JVM ``levenshtein``
    verifies only those candidates (deletions taken at different
    positions can pair distance-2 strings — e.g. 'abcd'/'bcde' share
    'bcd' — so verification is NOT optional).

    ``max_variant_freq`` is the hot-variant guard, same role as
    ``max_item_freq`` in the PPJoin path above: a variant shared by f
    strings contributes f² candidates, so degenerate keys (empty-ish
    strings, boilerplate prefixes) are dropped from the index rather
    than joined. Dropped variants can only LOSE candidate pairs whose
    every shared variant is hot; the cap is reported by the caller's
    choice, not silently defaulted at scale.

    Output: one row per matched pair — (id_a, id_b, val_a, val_b,
    dist) with ``id_a < id_b``, distance in {0, 1}.
    """
    s = df.select(
        F.col(id_col).alias("id"), F.col(col).cast("string").alias("v")
    ).filter(F.col("v").isNotNull())
    variants = s.select(
        "id",
        "v",
        F.explode(
            F.array_union(
                F.array(F.col("v")),
                F.expr(
                    "transform(sequence(1, length(v)), "
                    "i -> concat(substring(v, 1, i - 1), substring(v, i + 1)))"
                ),
            )
        ).alias("var"),
    )
    # Candidates form INSIDE each posting list (sorted by id, so
    # id_a < id_b by construction) instead of a variant self-join —
    # group size is the frequency ((id, var) is unique, the variant
    # set per id is deduped above).  The kernel pre-counts variants
    # and anti-joins away the above-cap hot set BEFORE any list
    # collects, so per-group aggregation state really is at most cap
    # structs even under a degenerate hot variant.  The posting-list
    # pair kernel is shared with the other LSH-family ops
    # (scale.bucket_pairs).
    from ..scale import bucket_pairs

    cand = (
        bucket_pairs(variants, ["var"], ["id", "v"], max_variant_freq)
        .select(
            F.col("a_id").alias("id_a"),
            F.col("b_id").alias("id_b"),
            F.col("a_v").alias("val_a"),
            F.col("b_v").alias("val_b"),
        )
        .distinct()
    )
    # THRESHOLDED levenshtein (r15, guide §1.2 per-task work): the
    # verify only needs distances <= 1, and Spark's banded form
    # (levenshtein(l, r, threshold) — returns -1 past the bound) runs
    # the DP over a 3-cell band instead of the full |a|x|b| matrix.
    # Exact distances <= 1 are returned unchanged, so the surviving
    # rows and their dist values are identical to the unbounded form.
    return cand.withColumn(
        "dist", F.levenshtein("val_a", "val_b", 1).cast("bigint")
    ).filter(F.col("dist") >= 0)
