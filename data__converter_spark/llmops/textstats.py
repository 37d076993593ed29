"""Text analysis over document tables — token counts, quality scores,
language ID, fingerprints.

Scalar stats are pure Column expressions (JVM-side, codegen-friendly).
Shingle generation is the exception: it runs as an Arrow-batched
pandas UDF because Catalyst evaluates nested higher-order functions
interpreted per element (measured slower than the Arrow hop, and
recomputed per plan branch). Patterns stick to constructs Java regex,
RE2 and Python agree on so every op is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..scale import local_frame

# Whitespace-token split pattern: explicit class, no bare \s (engine parity).
WS = "[ \\t\\r\\n]+"

# BPE-ish piece pattern: letter runs, digit runs, or single punctuation —
# a cheap proxy for subword token counts.
BPE_PIECE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\r\\n]"

# Small per-language stopword tables for the n-gram/stopword-hit language
# heuristic. Deliberately tiny: the point is the operator shape (per-lang
# hit score -> argmax), not lexicon quality.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}

QUALITY_STOPWORDS = STOPWORDS["en"]


def tokens_col(col: str | Column) -> Column:
    """Whitespace tokens of a document (empty doc -> empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, WS)
    )


def token_count_col(col: str | Column) -> Column:
    return F.size(tokens_col(col))


def bpe_token_count_col(col: str | Column) -> Column:
    """Count of BPE-ish pieces (letter runs / digit runs / punct chars)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PIECE))


def quality_features(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality signals: lengths, ratios, lexical diversity.

    The standard pre-training filters (length bounds, punctuation ratio,
    stopword ratio, type-token ratio) as one narrow projection.
    """
    toks = tokens_col(col)
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length(F.col(col)).cast("bigint")
    n_punct = F.regexp_count(F.col(col), F.lit("[^A-Za-z0-9 \\t\\r\\n]")).cast("bigint")
    stop_arr = F.array(*[F.lit(w) for w in QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_uniq = F.size(F.array_distinct(toks))
    safe_tok = F.when(n_tok > 0, n_tok.cast("double")).otherwise(F.lit(None))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        bpe_token_count_col(col).cast("bigint").alias("n_bpe_pieces"),
        (n_chars.cast("double") / safe_tok).alias("mean_token_len"),
        (n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")).alias(
            "punct_ratio"
        ),
        (n_stop.cast("double") / safe_tok).alias("stopword_ratio"),
        (n_uniq.cast("double") / safe_tok).alias("type_token_ratio"),
    )


def quality_score_col(col: str = "text") -> Column:
    """Scalar quality score in [0,1]: penalize too-short/too-long docs,
    high punctuation, and degenerate repetition."""
    toks = tokens_col(col)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(F.col(col)).cast("double")
    punct = F.regexp_count(F.col(col), F.lit("[^A-Za-z0-9 \\t\\r\\n]")).cast("double")
    uniq_ratio = F.when(
        n_tok > 0, F.size(F.array_distinct(toks)).cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.3))
    punct_ok = F.when(punct / F.greatest(n_chars, F.lit(1.0)) < 0.2, F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return (len_ok * punct_ok * F.least(uniq_ratio * F.lit(2.0), F.lit(1.0))).alias(
        "quality_score"
    )


def _stopword_hits(col: str = "text") -> Column:
    """Flattened language codes of every stopword occurrence in the
    document — ONE pass over the tokens against a token→languages map
    literal (a token like "la" maps to ["es","fr"]). Per-language
    scores then scan only this hit list (stopwords are a small fraction
    of a document), instead of the old per-language
    ``filter(toks, array_contains(...))`` which walked every token once
    per language."""
    toks = F.transform(tokens_col(col), F.lower)
    tok2langs: dict[str, list[str]] = {}
    for lang, words in STOPWORDS.items():
        for w in words:
            tok2langs.setdefault(w, []).append(lang)
    entries: list[Column] = []
    for w in sorted(tok2langs):
        entries.append(F.lit(w))
        entries.append(F.array(*[F.lit(lg) for lg in sorted(tok2langs[w])]))
    m = F.create_map(*entries)
    return F.flatten(
        F.filter(
            F.transform(toks, lambda t: F.element_at(m, t)),
            lambda langs: langs.isNotNull(),
        )
    )


def lang_id_col(col: str = "text", default: str = "und") -> Column:
    """Predicted language = argmax of stopword hits; ties broken by
    language-code order; zero hits -> ``default``.

    One tokens pass builds the hit list (:func:`_stopword_hits`); the
    hit list is evaluated exactly ONCE per row — it sits as the single
    element of a wrapper array whose ``transform`` lambda then scores
    all languages against the bound variable (a lambda body referencing
    the hits expression directly would re-evaluate it per language).
    The struct-max picks highest score, then earliest language code —
    one expression, no UDF."""
    langs = sorted(STOPWORDS)
    n = len(langs)
    arr_langs = F.array(*[F.lit(lg) for lg in langs])

    def pick(h: Column) -> Column:
        packed = F.transform(
            arr_langs,
            lambda lg, i: F.struct(
                F.size(F.filter(h, lambda x: x == lg)).alias("score"),
                (F.lit(n) - i).alias("tie"),
                lg.alias("lang"),
            ),
        )
        best = F.array_max(packed)
        return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit(default))

    return F.element_at(F.transform(F.array(_stopword_hits(col)), pick), 1)


def shingles_col(col: str | Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array (empty when doc has < k tokens).

    Arrow-batched kernel: the Column-expression form
    (``transform(sequence, i -> array_join(slice(toks,i,k)))``)
    evaluates interpreted per shingle in Catalyst and measured 2×
    slower at sf0.1 — and plans that reuse shingles recompute the
    expression per branch, multiplying that cost."""
    c = F.col(col) if isinstance(col, str) else col
    return _shingles_udf(k)(c)


def _shingles_udf(k: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        import re

        ws = re.compile(WS)
        out = []
        for t in texts:
            toks = ws.split(t.strip()) if isinstance(t, str) and t.strip() else []
            if len(toks) < k:
                out.append([])
            else:
                out.append(
                    [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
                )
        return pd.Series(out)

    # Deterministic in fact; marked nondeterministic so Catalyst cannot
    # duplicate the kernel into sibling expressions (a filter on the
    # struct output plus the projection of it used to compile to TWO
    # stacked ArrowEvalPython evals of the same text batch).
    return sh.asNondeterministic()


def fingerprints(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Document fingerprint: min SHA-256 over word k-gram shingles (a
    1-permutation MinHash — stable under small reorderings at the
    edges); whole-doc hash when shorter than k tokens.

    Explode shingles, sha2 in whole-stage codegen, min per doc (one
    partial-agg shuffle of 64-byte digests): ~5× faster than the same
    hash as a per-row column expression, where sha2 evaluates
    interpreted inside a lambda."""
    sh = shingles_col(col, k)
    whole = F.sha2(F.coalesce(F.col(col).cast("string"), F.lit("")), 256)
    exploded = df.select(
        F.col(id_col), whole.alias("__whole__"), F.explode_outer(sh).alias("__s__")
    )
    return (
        exploded.groupBy(id_col)
        .agg(
            F.min(F.sha2(F.col("__s__"), 256)).alias("__minsh__"),
            F.min("__whole__").alias("__whole__"),
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("__minsh__"), F.col("__whole__")).alias("fingerprint"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): rolling-hash k-gram sequence, keep the min hash of each
    ``window`` consecutive hashes, distinct per document.

    Guarantees any shared run of ``window + k - 1`` tokens between two
    documents shares >= 1 fingerprint — the substring-match detector
    exact dedup can't provide. Hash is the portable md5-32 (mod 2³¹-1)
    the MinHash pipeline uses, so DuckDB reproduces it bit-for-bit.

    Scale shape: posexplode -> one shuffle on ``id_col`` for the
    ordered rolling min (Window frame of ``window`` rows — state is the
    frame, not the document) -> distinct. No per-row O(len·window)
    arrays materialize; a 1 GB document streams through its partition.
    Docs with < k + window - 1 tokens emit no rows (no complete
    window).
    """
    from pyspark.sql import Window as W

    # Materialize the shingle array ONCE before exploding: referencing
    # the Arrow kernel from two expressions (size + posexplode) lets
    # Catalyst place a second evaluation after the Generate — i.e. one
    # full-text kernel run per exploded row. (Measured: 15s -> 2s at
    # sf0.1.)
    exploded = (
        df.select(F.col(id_col), shingles_col(col, k).alias("__sh__"))
        .select(id_col, F.posexplode("__sh__").alias("pos", "s"))
        .select(
            id_col,
            "pos",
            (
                F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
                % F.lit(2147483647)
            ).alias("h"),
        )
    )
    frame = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    # min and count share one frame -> a single Window node; count ==
    # window keeps complete windows only (no second pass for doc size)
    return (
        exploded.select(
            id_col,
            F.min("h").over(frame).alias("fp"),
            F.count("h").over(frame).alias("__c__"),
        )
        .filter(F.col("__c__") == window)
        .select(id_col, "fp")
        .distinct()
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Benchmark-contamination scan: corpus docs sharing >= 1 winnowing
    fingerprint with any benchmark doc, with the shared-fingerprint
    count — the pre-training eval-leakage gate.

    The benchmark fingerprint set is tiny next to the corpus (eval
    suites are MBs, corpora are TBs), so it broadcasts: the corpus side
    never shuffles for the join; the only wide op is the per-doc count.
    """
    c_fps = winnow_fingerprints(corpus, col, id_col, k, window)
    b_fps = (
        winnow_fingerprints(benchmark, col, id_col, k, window)
        .select("fp")
        .distinct()
    )
    return (
        c_fps.join(F.broadcast(b_fps), "fp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
    )


# ---------------------------------------------------------------------------
# pipeline hygiene: PII scrubbing, deterministic sampling, length filtering
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (DuckDB) share, so the
# scrub is engine-portable. Order matters: URLs first (they may contain
# '@' and digits), then emails, then phone-shaped digit runs.
PII_PATTERNS = [
    ("url", "https?://[A-Za-z0-9._~:/?#@!$&'()*+,;=%-]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}", "<PHONE>"),
]


def denylist_scrub(
    df: "DataFrame",
    terms: "DataFrame",
    col: str = "text",
    id_col: str = "doc_id",
    term_col: str = "term",
    placeholder: str = "[REDACTED]",
) -> "DataFrame":
    """Dictionary-based scrub: every whitespace token that exactly
    matches a term in the ``terms`` table becomes ``placeholder``.

    The regex alternative dies at dictionary scale (a 1M-name denylist
    is not a compilable pattern), so this is the join formulation:
    posexplode tokens, LEFT join the term table on the token, rebuild
    the document from its positioned tokens. Catalyst broadcasts a
    small term table (zero shuffle on the corpus side beyond the
    rebuild groupBy); a huge one degrades to a shuffled join on the
    token — still linear, never a per-row Python dictionary probe.

    Whitespace is NORMALIZED as a side effect: the document splits on
    ``\\s+`` and rebuilds with single spaces, so newlines, tabs, and
    space runs collapse even when nothing is redacted. Callers that
    must preserve exact byte layout should diff only the redacted
    tokens, not the rebuilt text.

    Output: (id, text_scrubbed, n_redacted).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(col), F.lit("")), r"\s+")).alias(
            "__pos__", "__tok__"
        ),
    )
    t = terms.select(F.col(term_col).alias("__tok__")).distinct().withColumn(
        "__hit__", F.lit(1)
    )
    joined = toks.join(t, "__tok__", "left").select(
        id_col,
        "__pos__",
        F.when(F.col("__hit__").isNotNull(), F.lit(placeholder))
        .otherwise(F.col("__tok__"))
        .alias("__out__"),
        F.coalesce("__hit__", F.lit(0)).alias("__hit__"),
    )
    return joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos__", "__out__"))),
                lambda s: s["__out__"],
            ),
            " ",
        ).alias("text_scrubbed"),
        F.sum("__hit__").cast("bigint").alias("n_redacted"),
    )


def bigram_familiarity(
    df: "DataFrame", col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """Corpus-frequency familiarity per document — the integer-exact
    proxy for an n-gram LM quality filter (CCNet-style): documents
    whose bigrams are common across the corpus score high, word-salad
    outliers score low. Output: (id, n_bigrams, fam_sum) where fam_sum
    is the sum over the doc's bigram occurrences of that bigram's
    corpus count; callers rank on fam_sum/n_bigrams.

    All-integer outputs keep it engine-portable (no log-probability —
    transcendental rounding differs across engines; ranking behavior is
    the same). Two shuffles: the corpus count is a map-side-combinable
    groupBy, then the doc bigrams re-shuffle once to join their count.
    A stop-bigram ("of the") is a hot join key — AQE's skew split
    handles it; at 100 TB hash bigrams to 8 bytes first so the
    exchanges carry longs, not strings.
    """
    from ..scale import persisted

    bg = persisted(
        df.select(F.col(id_col), F.explode(shingles_col(col, 2)).alias("bg"))
    )
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        bg.join(counts, "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("fam_sum"),
        )
    )


def normalize_text_col(
    col: str | Column = "text",
    form: str = "NFC",
    strip_accents: bool = False,
    lower: bool = False,
) -> Column:
    """Unicode canonicalization — the curation step that runs BEFORE any
    hashing/dedup so byte-different-but-equivalent text (composed vs
    combining accents, width variants under NFKC) collapses.

    Spark SQL has no normalize builtin, so this is a deliberate
    Arrow-batched ``pandas_udf`` over ``unicodedata`` (the slow-path
    exception the engine otherwise avoids; narrow, no shuffle).
    Accent stripping is NFD → drop combining marks → NFC re-compose —
    verified character-for-character against DuckDB's
    ``strip_accents`` including Hangul recomposition.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        import unicodedata

        def one(t):
            if t is None:
                return None
            u = unicodedata.normalize(form, t)
            if strip_accents:
                u = unicodedata.normalize(
                    "NFC",
                    "".join(
                        ch
                        for ch in unicodedata.normalize("NFD", u)
                        if not unicodedata.combining(ch)
                    ),
                )
            if lower:
                u = u.lower()
            return u

        return s.map(one)

    c = F.col(col) if isinstance(col, str) else col
    return norm(c)


def scrub_pii_col(col: str | Column = "text") -> Column:
    """Replace URL / email / phone shapes with typed placeholder tokens
    — the standard pre-training scrub pass, as one chained
    ``regexp_replace`` projection (narrow, codegen, no Python)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def corpus_top_ngrams(
    df: DataFrame,
    col: str = "text",
    n: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-wide most frequent word n-grams — the vocabulary/boiler-
    plate report run before training. Explode -> one partial+final
    count aggregation -> TakeOrdered (no global sort); ties break on
    the n-gram string so the top-k is deterministic."""
    words = tokens_col(col)
    grams = F.expr(
        f"transform(slice(__ws__, 1, greatest(size(__ws__) - {n - 1}, 0)), "
        f"(x, i) -> concat_ws(' ', {', '.join(f'__ws__[i + {j}]' for j in range(n))}))"
    )
    return (
        df.select(words.alias("__ws__"))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(top_k)
    )


def pmi_collocations(
    df: DataFrame,
    col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Collocation (phrase) mining over adjacent word bigrams — the
    word2vec phrase-detection pass run before tokenizer/vocab training
    (Mikolov et al. 2013 §4: score(a,b) = N·c_ab / (c_a·c_b)).

    ``score_milli = (1000·N·c_ab) div (c_a·c_b)`` is an integer-exact
    monotone transform of exp(PMI) (PMI = ln(N·c_ab / (c_a·c_b))), so
    the ranking equals the PMI ranking with no float in either engine.
    Overflow bound: 1000·N·c_ab must fit int64, i.e. N·c_ab < 9.2e15 —
    holds while any single bigram count times the corpus token count is
    below that; at larger corpora rescale the 1000 factor down or move
    the product to DECIMAL(38,0) (same div semantics both engines).

    Plan shape: two projection-only corpus scans (unigram explode,
    bigram explode) each into a partial+final count aggregate; the
    ``min_count`` filter lands BEFORE the joins so only surviving
    bigrams shuffle; two token-keyed equi-joins attach c_a/c_b (AQE
    broadcasts the vocab side when it is small); the corpus total joins
    as a 1-row broadcast scalar; TakeOrdered(top_k), no global sort.
    Ties are impossible past (score, left, right) — grouped pairs are
    unique — so the top-k is deterministic.
    """
    words = tokens_col(col)
    base = df.select(words.alias("__ws__"))
    uni = (
        base.select(F.explode("__ws__").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pairs_arr = F.expr(
        "transform(slice(__ws__, 1, greatest(size(__ws__) - 1, 0)), "
        "(x, i) -> struct(__ws__[i] AS l, __ws__[i + 1] AS r))"
    )
    big = (
        base.select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok"))
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= int(min_count))
    )
    total = base.select(F.sum(F.size("__ws__")).cast("bigint").alias("__n__"))
    return (
        big.join(
            uni.select(
                F.col("tok").alias("left_tok"), F.col("cnt").alias("left_cnt")
            ),
            "left_tok",
        )
        .join(
            uni.select(
                F.col("tok").alias("right_tok"), F.col("cnt").alias("right_cnt")
            ),
            "right_tok",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "left_tok",
            "right_tok",
            "pair_cnt",
            "left_cnt",
            "right_cnt",
            F.expr(
                "(1000 * __n__ * pair_cnt) div (left_cnt * right_cnt)"
            ).alias("score_milli"),
        )
        .orderBy(
            F.desc("score_milli"), F.asc("left_tok"), F.asc("right_tok")
        )
        .limit(int(top_k))
    )


def repetition_features(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document.

    - ``dup_word_frac``: 1 - distinct_words/total_words — degenerate
      keyword-stuffed docs score high.
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over total bigrams (n_words - 1) — loops/boilerplate score high.

    Both are NULL where undefined (no words / fewer than 2 words).

    Scale shape: the per-doc word/distinct counts are one narrow
    projection; the bigram mode is explode -> two hash aggregations
    (map-side partial on (doc, bigram), then per-doc max) — never an
    O(len²) per-row loop, so a 1 GB document costs O(len) shuffled
    bytes and the agg state is bounded by distinct bigrams. The final
    doc-level join is on the id both sides already hash by.
    """
    words = df.select(F.col(id_col), tokens_col(col).alias("ws"))
    base = words.select(
        id_col,
        F.size("ws").cast("bigint").alias("n_words"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("n_distinct"),
        "ws",
    )
    bigrams = base.select(
        id_col,
        F.explode(
            F.expr("transform(slice(ws, 1, greatest(size(ws)-1, 0)), (x, i) -> concat(x, ' ', ws[i+1]))")
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").cast("bigint").alias("top_bigram_count"))
    )
    n_words = F.col("n_words")
    return (
        base.drop("ws")
        .join(top, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.when(
                n_words > 0,
                (n_words - F.col("n_distinct")).cast("double") / n_words.cast("double"),
            ).alias("dup_word_frac"),
            F.col("top_bigram_count"),
            F.when(
                n_words >= 2,
                F.col("top_bigram_count").cast("double")
                / (n_words - F.lit(1)).cast("double"),
            ).alias("top_bigram_frac"),
        )
    )


def sample_hash_col(id_col: str | Column, buckets: int = 100) -> Column:
    """Deterministic, engine-portable sampling bucket in [0, buckets):
    first 32 bits of md5 of the stringified id. ``conv`` keeps it
    JVM-side; DuckDB mirrors it with a hex cast. Unlike ``rand()``,
    membership is stable under retries, speculation, and re-runs —
    the property a reproducible corpus split needs."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % buckets


def stratified_sample(
    df: DataFrame, id_col: str = "doc_id", pct: int = 20, buckets: int = 100
) -> DataFrame:
    """Keep ~pct% of rows, deterministically by id hash. Stratification
    is free: the hash is id-uniform within every stratum, so per-group
    rates match the global rate without a per-group pass."""
    return df.filter(sample_hash_col(id_col, buckets) < pct)


def length_band_filter(
    df: DataFrame,
    col: str = "n_chars",
    by: str = "lang",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Keep rows inside the [lo, hi] exact-percentile band of ``col``
    within each ``by`` group — the Gopher-style length gate. The
    percentile table is tiny (one row per group) and broadcast; the
    fact side never shuffles."""
    bands = df.groupBy(by).agg(
        F.expr(f"percentile({col}, {lo})").alias("__lo__"),
        F.expr(f"percentile({col}, {hi})").alias("__hi__"),
    )
    return (
        df.join(F.broadcast(bands), by)
        .filter(F.col(col).between(F.col("__lo__"), F.col("__hi__")))
        .drop("__lo__", "__hi__")
    )


# ---------------------------------------------------------------------------
# training-sequence assembly: packing, chunking, salient terms
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 1024,
    n_shards: int = 32,
) -> DataFrame:
    """Streaming sequence packing for training-batch assembly: documents
    are concatenated in id order into bins of ~``capacity`` tokens; a
    document opens a new bin when its first token would land past the
    current bin's budget (bin = floor(tokens-before-me / capacity)).
    Documents are never split; a bin overflows by at most one document.

    Best-fit bin packing needs global mutable state — this greedy
    order-preserving form is what large pipelines actually run, and it
    shards first (``shard = id % n_shards``) so the running-sum window
    partitions by shard instead of forcing one global sort: at 100 TB
    each shard packs independently on its own executor partition.

    Output: (shard, bin_id, ``id_col``, n_tokens, tok_offset) where
    tok_offset is the token offset of the document inside its shard's
    stream.
    """
    n_tok = token_count_col(col).alias("n_tokens")
    from pyspark.sql import Window as W

    base = df.select(
        (F.col(id_col) % n_shards).cast("bigint").alias("shard"),
        F.col(id_col),
        n_tok,
    )
    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "shard",
        F.floor(offset / F.lit(capacity)).cast("bigint").alias("bin_id"),
        id_col,
        F.col("n_tokens").cast("bigint"),
        offset.cast("bigint").alias("tok_offset"),
    )


def chunk_text(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-token windows — the RAG /
    embedding-pipeline chunker. Chunk i covers tokens
    [i·stride, i·stride + chunk_tokens) with stride =
    chunk_tokens - overlap; the final partial chunk is kept; a chunk
    that would start at or past the end emits nothing, so every token
    lands in >= 1 chunk and short docs yield exactly one.

    Pure column expressions (sequence + slice per chunk start — a few
    starts per doc, not per token), one narrow projection + explode: no
    shuffle at all; chunking 100 TB is embarrassingly parallel.

    Output: (``id_col``, chunk_id, chunk, n_chunk_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            "overlap must satisfy 0 <= overlap < chunk_tokens "
            "(a negative overlap would skip tokens between chunks)"
        )
    stride = chunk_tokens - overlap
    toks = tokens_col(col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - F.lit(overlap), F.lit(1)),
        F.lit(stride),
    )
    # token count comes from the slice itself, not a re-split of the
    # joined string (an empty slice would re-split to [''])
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice(toks, s, chunk_tokens), " ").alias("chunk"),
            F.size(F.slice(toks, s, chunk_tokens)).cast("bigint").alias("n"),
        ),
    )
    out = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "c")
    )
    return out.select(
        id_col,
        F.col("chunk_id").cast("bigint"),
        F.col("c.chunk").alias("chunk"),
        F.col("c.n").alias("n_chunk_tokens"),
    )


def salient_terms(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 3,
    scoring: str = "tfdf",
) -> DataFrame:
    """Top-``k`` most salient terms per document.

    ``scoring`` picks the rank order — the two are NOT equivalent:

    - ``"tfdf"`` (default): order by (tf desc, df asc, term asc). A
      tf-idf PROXY that is integer-exact across engines: it sorts
      identically to tf·log(N/df) only at fixed tf — across differing
      tf a high-df high-tf term can outrank a rarer informative one.
    - ``"tfidf"``: true tf·log(N/df) with N = number of documents
      holding at least one qualifying term. The double score is used
      for ordering only; the emitted columns stay integers.

    Tokens shorter than ``min_len`` chars drop (articles/punctuation
    noise).

    Scale shape: one (id, term) count aggregation, a document-frequency
    aggregation on term joined back (term vocabulary ≪ corpus; Catalyst
    broadcasts when small), and a per-document top-k window; tfidf adds
    one 1-row broadcast scalar (N). Stop-term hot keys in the df join
    are AQE-skew-splittable.

    Output: (``id_col``, term, tf, df, rank).
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens_col(col), F.lower)).alias("term"),
    ).filter(F.length("term") >= min_len)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    joined = tf.join(dfreq, "term")
    if scoring == "tfdf":
        w = W.partitionBy(id_col).orderBy(
            F.desc("tf"), F.asc("df"), F.asc("term")
        )
    elif scoring == "tfidf":
        n_docs = tf.select(id_col).distinct().agg(
            F.count(F.lit(1)).cast("double").alias("__n_docs__")
        )
        joined = joined.crossJoin(F.broadcast(n_docs))
        score = F.col("tf") * F.log(F.col("__n_docs__") / F.col("df"))
        # equal scores arise only at equal (tf, df); the trailing keys
        # make the rank deterministic there
        w = W.partitionBy(id_col).orderBy(
            F.desc(score), F.desc("tf"), F.asc("term")
        )
    else:
        raise ValueError(f"unknown scoring {scoring!r} (tfdf | tfidf)")
    return (
        joined.select(
            id_col,
            "term",
            F.col("tf").cast("bigint"),
            F.col("df").cast("bigint"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def common_token_counts(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Unigram-LM quality proxy: per document, how much of it is made
    of the corpus's ``top_k`` most frequent tokens.  High-quality
    natural text sits in a band — near-0 means noise/code, near-1000
    means boilerplate (the integer-exact cousin of a unigram
    cross-entropy filter; a log-prob scorer would hash-fragile on
    transcendentals, counts never do).

    Output: (id, n_tokens, n_common, common_permille) — all BIGINT;
    ``common_permille = floor(n_common * 1000 / n_tokens)`` is exact
    integer division on both engines.  Zero-token documents survive
    with 0/0/0.

    Scale shape: one explode (no shuffle), a token-key aggregate with
    map-side partials for the vocabulary, a TakeOrdered top-k (never a
    global sort), the tiny vocab broadcast back onto the token stream,
    and one aggregate on the document key.  Nothing holds per-document
    token lists in memory."""
    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens_col(col)).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(top_k)
        .select("tok", F.lit(1).alias("__common__"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count("__common__").cast("bigint").alias("n_common"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.floor(
                    F.coalesce("n_common", F.lit(0)) * F.lit(1000)
                    / F.col("n_tokens")
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("common_permille"),
        )
    )


def mix_allocation(
    df: DataFrame,
    budget_tokens: int,
    col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Training-mix planner: split a token budget across corpus sources
    — uniform share per source, capped by what each source actually
    has (the first round of waterfilling, which is what production mix
    planners run per epoch; unspent budget rolls to the next round).

    Output per source: (source, avail_tokens, alloc_tokens,
    sample_permille) — BIGINT only; ``sample_permille`` is the portion
    of the source a sampler should keep (1000 = take everything).

    Scale shape: one aggregate on the source key with map-side
    partials, then a 1-row scalar (n_sources) broadcast back — the
    per-source frame is as small as the source alphabet, never
    row-scale."""
    avail = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(token_count_col(col)).cast("bigint").alias("avail_tokens")
    )
    n_sources = avail.agg(F.count(F.lit(1)).alias("__n_sources__"))
    fair = F.floor(F.lit(budget_tokens) / F.col("__n_sources__")).cast("bigint")
    alloc = F.least(F.col("avail_tokens"), fair)
    return (
        avail.crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "avail_tokens",
            alloc.alias("alloc_tokens"),
            F.when(
                F.col("avail_tokens") > 0,
                F.floor(alloc * F.lit(1000) / F.col("avail_tokens")),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("sample_permille"),
        )
    )


def balanced_shards(
    df: DataFrame,
    n_shards: int = 32,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-balanced output-shard assignment for training-data writes:
    documents round-robin onto ``n_shards`` WITHIN size-magnitude
    buckets (``floor(log2(n_tokens + 1))``), so every shard receives
    the same mix of small and large documents and shard token totals
    equalize without any global sort — the windows partition by the
    bucket, and at 100 TB each bucket's rank assignment runs on its
    own partitions.  Deterministic: rank order is (bucket, id).

    Output: (``id_col``, n_tokens, size_bucket, shard) — feed to
    ``.repartition("shard").write`` (or ``partitionBy``) to lay the
    corpus out as balanced training shards."""
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col),
        token_count_col(col).cast("bigint").alias("n_tokens"),
    ).select(
        id_col,
        "n_tokens",
        F.floor(F.log2(F.col("n_tokens") + F.lit(1))).cast("int").alias(
            "size_bucket"
        ),
    )
    w = W.partitionBy("size_bucket").orderBy(id_col)
    return base.select(
        id_col,
        "n_tokens",
        "size_bucket",
        ((F.row_number().over(w) - F.lit(1)) % F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    )


def gopher_rules(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: list[str] | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Gopher-style rule-based document quality gate (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", table A1 repetition/quality
    filters) — the standard pre-training corpus hygiene pass.

    Every rule is an exact INTEGER predicate: ratio thresholds are
    cross-multiplied (``3*n_words <= word_chars`` instead of
    ``word_chars/n_words >= 3.0``), so no float division exists anywhere
    and any engine computes bit-identical rule flags.  Rules:

    - ``rule_word_count``: ``min_words <= n_words <= max_words``
    - ``rule_mean_word_len``: mean word length in [3, 10]
    - ``rule_symbol_ratio``: (``#`` + ellipsis) per word <= 0.1
    - ``rule_alpha_ratio``: >= 80% of words contain a letter
    - ``rule_stopwords``: >= 2 distinct English stopwords present

    ``stopwords`` defaults to the English :data:`QUALITY_STOPWORDS`;
    pass a corpus-appropriate list for other domains (the rule is
    "common-word presence", not English specifically).  ``carry_cols``
    names input columns to pass through unchanged (the gate is a pure
    projection, so carrying text/metadata into a downstream pipeline
    stage is free).

    One narrow projection — no shuffle, no UDF; at 100 TB this fuses
    into the scan and the keep flag drives a pushed-down filter for
    every downstream consumer.
    """
    stopwords = stopwords if stopwords is not None else QUALITY_STOPWORDS
    c = F.col(col)
    words = tokens_col(col)
    toks_lower = F.transform(words, F.lower)
    n_words = F.size(words).cast("bigint")
    word_chars = F.aggregate(
        F.transform(words, F.length),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.cast("bigint"),
    )
    n_hash = (F.length(c) - F.length(F.replace(c, F.lit("#")))).cast("bigint")
    n_uni_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("…")))
    ).cast("bigint")
    n_dot_ellipsis = (
        (F.length(c) - F.length(F.replace(c, F.lit("...")))) / 3
    ).cast("bigint")
    n_symbols = n_hash + n_uni_ellipsis + n_dot_ellipsis
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("bigint")
    stop_hits = F.size(
        F.array_intersect(
            toks_lower,
            F.array(*[F.lit(w) for w in stopwords]),
        )
    ).cast("bigint")

    rule_word_count = (n_words >= min_words) & (n_words <= max_words)
    rule_mean_word_len = (word_chars >= 3 * n_words) & (
        word_chars <= 10 * n_words
    )
    rule_symbol_ratio = 10 * n_symbols <= n_words
    rule_alpha_ratio = 5 * alpha_words >= 4 * n_words
    rule_stopwords = stop_hits >= 2

    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_symbols.alias("n_symbols"),
        alpha_words.alias("alpha_words"),
        stop_hits.alias("stop_hits"),
        rule_word_count.alias("rule_word_count"),
        rule_mean_word_len.alias("rule_mean_word_len"),
        rule_symbol_ratio.alias("rule_symbol_ratio"),
        rule_alpha_ratio.alias("rule_alpha_ratio"),
        rule_stopwords.alias("rule_stopwords"),
        (
            rule_word_count
            & rule_mean_word_len
            & rule_symbol_ratio
            & rule_alpha_ratio
            & rule_stopwords
        ).alias("keep"),
    )


def dsir_select(
    df: DataFrame,
    target: Column,
    col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
    select_n: int = 100,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how target-like its hashed n-gram feature distribution is, then
    select the top ``select_n``.

    ``target`` is a boolean Column marking the in-domain subset (e.g.
    ``F.col("lang") == "en"``).  Features are hashed unigrams:
    ``md5(term) % buckets`` — the same engine-portable md5 hash every
    sketch in this package uses, so DuckDB reproduces the bucketing
    exactly.  Each bucket gets a Laplace-smoothed probability-ratio
    weight in exact integer milli-units::

        w(b) = ((cnt_target(b)+1) * 1000 * (total_raw+buckets))
               div ((cnt_raw(b)+1) * (total_target+buckets))

    and a document scores the PER-TOKEN MEAN of its buckets' weights:
    ``score = sum(tf·w) div n_tokens``.  (DSIR proper sums LOG ratios,
    where out-of-domain features contribute negative mass so length
    cancels; with all-positive linear ratios the same length-neutrality
    needs the explicit mean — a raw sum would just rank long documents
    first.  The linear-ratio mean keeps every intermediate an exact
    integer — documented proxy, same "weight mass in target-heavy
    features" signal.)  Integer bound — on the INTERMEDIATE, not the
    score: the weight numerator ``(cnt_target+1)·1000·(total_raw+B)``
    must stay under 2^63.  With balanced buckets
    (cnt_target ≈ f·total/B) that holds up to ~10^9 corpus tokens at
    B=64, and degrades to ~10^6 in the adversarial all-one-bucket
    case; past that either raise ``buckets`` (per-bucket counts shrink
    linearly, buying the same factor of headroom) or build the weight
    table from a deterministic hash-sample of tokens
    (:func:`sample_hash_col` on the term — ratio estimates are
    unbiased and counts bounded).  Exceeding the bound is LOUD, not
    silent: Spark's ANSI mode and DuckDB both raise on bigint
    overflow.

    Scale shape: one token explode (narrow), a ``buckets``-row weight
    table (two aggs + one 1-row-total cross join — constant size, so
    the broadcast hint is legitimate at ANY corpus scale, unlike a
    dimension that grows with SF), a per-(doc, bucket) aggregate, and
    one broadcast join back.  Selection does NOT use a global-window
    rank (Exchange SinglePartition over every document — the classic
    100 TB bottleneck): ``orderBy().limit(select_n)`` compiles to
    TakeOrderedAndProject (per-partition top-N, driver merge of N·P
    rows), the boundary row broadcasts back, and ``selected`` is a
    narrow comparison — (score, id) strictly better-or-equal than the
    boundary (ties -> smallest id).

    Output: (``id_col``, n_tokens, score_milli, selected) for every
    document; empty docs score 0.
    """
    full = dsir_scores(df, target, col=col, id_col=id_col, buckets=buckets)
    boundary = (
        full.orderBy(F.col("score_milli").desc(), F.col(id_col))
        .limit(select_n)
        .agg(
            F.min(
                F.struct(
                    F.col("score_milli").alias("b_score"),
                    (-F.col(id_col)).alias("b_neg_id"),
                )
            ).alias("b")
        )
        .select(F.col("b.b_score").alias("b_score"), (-F.col("b.b_neg_id")).alias("b_id"))
    )
    return full.crossJoin(F.broadcast(boundary)).select(
        id_col,
        "n_tokens",
        "score_milli",
        # coalesce: an empty input makes the boundary agg one all-NULL
        # row, and NULL `selected` would silently drop rows in any
        # downstream filter — the vacuous contract is `false`
        F.coalesce(
            (F.col("score_milli") > F.col("b_score"))
            | (
                (F.col("score_milli") == F.col("b_score"))
                & (F.col(id_col) <= F.col("b_id"))
            ),
            F.lit(False),
        ).alias("selected"),
    )


def dsir_scores(
    df: DataFrame,
    target: Column,
    col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """The scoring core of :func:`dsir_select` without the top-N
    boundary job — (``id_col``, n_tokens, score_milli) for every
    document.  Use this when a downstream stage (e.g.
    :func:`weighted_sample`) consumes the raw weights and the
    ``selected`` flag would be dead work."""
    B = int(buckets)
    tok = df.select(
        F.col(id_col),
        target.alias("is_target"),
        F.explode(F.transform(tokens_col(col), F.lower)).alias("term"),
    ).withColumn("b", sample_hash_col(F.col("term"), buckets=B))
    per_bucket = tok.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_target"),
    )
    totals = per_bucket.agg(
        F.sum("cnt_raw").cast("bigint").alias("total_raw"),
        F.sum("cnt_target").cast("bigint").alias("total_target"),
    )
    weights = per_bucket.crossJoin(F.broadcast(totals)).select(
        "b",
        F.expr(
            f"(cnt_target + 1) * 1000 * (total_raw + {B}) "
            f"div ((cnt_raw + 1) * (total_target + {B}))"
        )
        .cast("bigint")
        .alias("w_milli"),
    )
    doc_tf = tok.groupBy(id_col, "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    scored = (
        doc_tf.join(F.broadcast(weights), "b")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.expr("sum(tf * w_milli) div sum(tf)").cast("bigint").alias(
                "score_milli"
            ),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("score_milli", F.lit(0)).cast("bigint").alias(
                "score_milli"
            ),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    expected_n: int = 100,
    hash_bits: int = 20,
) -> DataFrame:
    """Deterministic weighted Poisson sampling — the RESAMPLING step of
    DSIR (each row independently included with probability proportional
    to its importance weight), with zero floats and zero ``rand()``::

        sampled  <=>  h(id) * Σw  <  expected_n * w * 2^hash_bits

    where ``h(id)`` is the first ``hash_bits`` bits of ``md5(id)`` —
    uniform on [0, 2^hash_bits), engine-portable, and STABLE under
    retries/speculation/re-runs (a ``rand()`` draw is none of those).
    Cross-multiplying makes the inclusion test exact integer
    arithmetic: P(include) = min(1, expected_n·w/Σw) with no rounding
    anywhere, so any engine draws the identical sample.  The
    cross-multiplied comparison runs in DECIMAL(38,0): the naive
    bigint product wraps silently once ``hash_bits + log2(Σw) >= 63``
    (flipping sampling decisions with ANSI mode off), while 38 decimal
    digits hold ``2^20 · Σw`` for any Σw below ~10^31 — exact on both
    Spark and DuckDB, loud (decimal overflow) far beyond any real
    corpus instead of silently wrong just past int64.

    Scale shape: one aggregate for Σw (1-row broadcast — constant
    size at any corpus), then a single narrow projection; the sample
    is embarrassingly parallel and needs no shuffle of the data.

    Output: (``id_col``, ``weight_col``, sampled) for every row.
    """
    n_hex = -(-hash_bits // 4)  # hex chars covering hash_bits
    space = 1 << (4 * n_hex)
    tot = df.agg(F.sum(weight_col).cast("bigint").alias("total_w"))
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, n_hex), 16, 10
    ).cast("long")
    dec = "decimal(38,0)"
    return df.crossJoin(F.broadcast(tot)).select(
        F.col(id_col),
        F.col(weight_col),
        (
            h.cast(dec) * F.col("total_w").cast(dec)
            < F.lit(int(expected_n)).cast(dec)
            * F.col(weight_col).cast(dec)
            * F.lit(space).cast(dec)
        ).alias("sampled"),
    )


def corpus_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_permille: int = 800,
    val_permille: int = 100,
) -> DataFrame:
    """Deterministic train/val/test split: md5(id) buckets the corpus
    into permille [0, 1000), then ``[0, train)`` -> train,
    ``[train, train+val)`` -> val, rest -> test.  Hash-based (like
    :func:`stratified_sample`), so membership is stable under
    retries/re-runs/appends — a doc NEVER migrates between splits when
    the corpus grows, which `randomSplit` cannot promise (its sampling
    is per-partition and re-draws on recompute).  One narrow
    projection; engine-portable md5 arithmetic.

    Output: (``id_col``, bucket_permille, split) for every row.
    """
    if not (0 <= train_permille and 0 <= val_permille
            and train_permille + val_permille <= 1000):
        raise ValueError(
            f"invalid split: train={train_permille} val={val_permille}"
        )
    b = sample_hash_col(id_col, buckets=1000)
    return df.select(
        F.col(id_col),
        b.alias("bucket_permille"),
        F.when(b < train_permille, F.lit("train"))
        .when(b < train_permille + val_permille, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def tokenize_corpus(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """Tokenize the corpus against a frequency-ranked vocabulary — the
    step that turns cleaned text into model-ready id sequences.

    The vocabulary is the top ``vocab_size`` terms by total occurrence
    (ties by term text), ids assigned 1..V in (count desc, term) order;
    0 is reserved for OOV.  Both the ranking and the id assignment are
    deterministic, so the SAME corpus always produces the SAME ids —
    and the DuckDB oracle rebuilds the identical vocabulary.

    Scale shape: one term aggregate builds the vocab,
    ``orderBy().limit(V)`` compiles to TakeOrderedAndProject (per-
    partition top-V, never a global sort of the term table), and id
    assignment is a window over only V rows (constant-size — the one
    place a SinglePartition exchange is fine).  Documents tokenize via
    explode + broadcast vocab join + ordered re-assembly (struct
    array_sort on position — the order-deterministic collect this
    package always uses; a bare collect_list would be partition-order
    nondeterministic).  Output per document: (``id_col``,
    n_tokens, n_oov, ids_digest) where ids_digest is sha256 of the
    space-joined id sequence — the exact artifact equality check a
    tokenization pipeline wants without shipping the arrays around.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.transform(tokens_col(col), F.lower)).alias(
            "pos", "term"
        ),
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(int(vocab_size))
    # the id window runs over only the post-limit V rows (constant
    # size — the one place SinglePartition is fine).  The partition key
    # is a zero-length substring of term: constant-valued ("" for every
    # row) but NOT foldable, so Catalyst keeps the partitionSpec and
    # Spark's unpartitioned-Window warning stays out of bench tails —
    # any WindowExec warning that does appear now flags a real problem.
    # (A plain F.lit(0) gets constant-folded back to an empty spec.)
    vocab = top.select(
        "term",
        F.row_number()
        .over(
            W.partitionBy(
                F.col("term").substr(F.lit(1), F.lit(0))
            ).orderBy(F.desc("cnt"), F.asc("term"))
        )
        .alias("tok_id"),
    )
    mapped = toks.join(F.broadcast(vocab), "term", "left").select(
        id_col,
        "pos",
        F.coalesce("tok_id", F.lit(0)).cast("bigint").alias("tok_id"),
    )
    return (
        mapped.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.sha2(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok_id"))
                        ),
                        lambda x: x["tok_id"].cast("string"),
                    ),
                    " ",
                ),
                256,
            ).alias("ids_digest"),
        )
        .join(df.select(id_col), id_col, "right")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
            F.coalesce("ids_digest", F.sha2(F.lit(""), 256)).alias(
                "ids_digest"
            ),
        )
    )

# ---------------------------------------------------------------------------
# Subword tokenization: BPE merge training + application
# ---------------------------------------------------------------------------

BPE_EOW = "</w>"


def _bpe_word_seqs(
    df: DataFrame, col: str, min_word_freq: int = 1
) -> DataFrame:
    """(w, freq) over the corpus's distinct lowercased words — the
    aggregated vocabulary the merge loop iterates on.  Symbolization
    (characters + ``</w>``) and merge application happen inside
    :func:`_bpe_apply_col`, which re-derives each word's current
    symbol sequence from the word string and the accumulated merges.

    ``min_word_freq`` prunes the word table BEFORE the merge loop —
    the scale guard that matters at web scale, where unique noise
    tokens (typos, URLs, ids) dominate the DISTINCT-word count while
    contributing almost nothing to pair counts; real BPE trainers
    apply the same frequency floor.  Default 1 keeps exact semantics.

    This is the ONLY corpus-scale pass of BPE training: everything
    after runs on the aggregated word table (distinct words ≪ corpus —
    the classic Sennrich formulation), so at 100 TB the text is read
    once and the merge loop iterates over a frame the size of the
    vocabulary, not the corpus.
    """
    words = (
        df.select(F.explode(F.transform(tokens_col(col), F.lower)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    if min_word_freq > 1:
        words = words.filter(F.col("freq") >= F.lit(int(min_word_freq)))
    return words


def _bpe_pair_counts(seqs: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-symbol pair counts weighted by word
    frequency — one narrow explode plus one aggregate.  Fully fused
    words (single symbol) contribute no pairs and are filtered before
    the explode (Spark's ``sequence(1, 0)`` counts DOWN rather than
    yielding empty, which would index past the array)."""
    syms = F.col("seq")
    return (
        seqs.filter(F.size(syms) >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda j: F.struct(
                        F.element_at(syms, j).alias("a"),
                        F.element_at(syms, j + F.lit(1)).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def _bpe_apply_col(word_col, merges):
    """word string column -> final symbol array after applying
    ``merges`` in rank order — ONE Arrow-batched kernel (pandas_udf).

    The merge itself is the canonical greedy left-to-right
    non-overlapping token-list walk (Sennrich): the fused symbol
    becomes the new "last" and can only re-merge as a WHOLE symbol in
    a later merge, and a longer symbol that merely STARTS with the
    right-hand side never matches.  An equivalent JVM higher-order
    fold (F.aggregate per merge) was measured ~4x slower at sf0.1 —
    Catalyst interprets HOF lambdas per element, so |merges| chained
    folds over every symbol lose to one vectorized Arrow pass; the
    DuckDB oracle runs an independent list_reduce fold, so engine
    agreement is still checked end to end.  Marked nondeterministic so
    Catalyst cannot duplicate the kernel into sibling expressions
    (house rule — see _hs_udf)."""
    from pyspark.sql.functions import pandas_udf

    plan = [(a, b, a + b) for _r, a, b, _c in merges]

    @pandas_udf("array<string>")
    def enc(words: pd.Series) -> pd.Series:
        return pd.Series(
            [_bpe_walk(list(w) + [BPE_EOW], plan) for w in words]
        )

    return enc.asNondeterministic()(word_col)


def _bpe_walk(syms, plan):
    """Apply ``plan`` [(a, b, fused)] to one symbol list — the greedy
    non-overlapping walk shared by both kernels."""
    for a, b, ab in plan:
        res, i, n = [], 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                res.append(ab)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def _bpe_step_col(seq_col, a: str, b: str):
    """symbol-array column -> the array after applying ONE merge —
    the incremental kernel the training loop uses: superstep i touches
    only the newest merge over the PERSISTED previous state, instead
    of re-deriving all i merges from the word strings (which is
    O(n_merges²) total symbol passes across the loop — the wrong
    shape at a web-scale vocabulary)."""
    from pyspark.sql.functions import pandas_udf

    plan = [(a, b, a + b)]

    @pandas_udf("array<string>")
    def step(seqs: pd.Series) -> pd.Series:
        return pd.Series([_bpe_walk(list(sy), plan) for sy in seqs])

    return step.asNondeterministic()(seq_col)


# Driver-path gates for BPE training (the union-find precedent,
# dedup.connected_components): a vocabulary at or under BOTH caps runs
# the merge loop locally -- the pair-count table of a small vocab is
# driver-trivial, and 8 sequential Spark supersteps over a toy frame
# are pure scheduling floor. ~96 bytes/char covers the Python
# list-of-str symbol representation with slack.
BPE_DRIVER_MAX_WORDS = 200_000
BPE_DRIVER_MAX_BYTES = 64 << 20
_PY_SYM_OVERHEAD_BYTES = 96


def _bpe_train_local(
    rows: list, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side merge loop over collected (w, freq) rows -- EXACTLY
    the distributed superstep's semantics: pair counts weighted by
    word frequency, winner by (count desc, left asc, right asc)
    (Python's codepoint string order == the engines' UTF-8 binary
    order -- UTF-8 is order-preserving), greedy left-to-right
    non-overlapping application via the shared :func:`_bpe_walk`,
    early stop on pair exhaustion."""
    seqs: list[tuple[list[str], int]] = [
        (list(r["w"]) + [BPE_EOW], int(r["freq"])) for r in rows
    ]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in seqs:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, cnt))
        if rank < n_merges:
            plan = [(a, b, a + b)]
            seqs = [(_bpe_walk(syms, plan), freq) for syms, freq in seqs]
    return merges


def bpe_train_merges(
    df: DataFrame,
    col: str = "text",
    n_merges: int = 8,
    min_word_freq: int = 1,
) -> list[tuple[int, str, str, int]]:
    """Train ``n_merges`` BPE merges; returns [(rank, left, right,
    pair_count)] driver-side.

    The corpus is read exactly once (the word aggregate); a gated
    hybrid then picks the loop venue — driver-local under the
    BPE_DRIVER_MAX_* caps, distributed supersteps beyond (see the
    venue-switch comment in the body). Distributed iteration shape
    (the kmeans_train / pagerank pattern — bounded
    driver pulls only): per round, one pair explode + aggregate over
    the PERSISTED symbol state, then ``orderBy().limit(1)`` — a
    TakeOrderedAndProject whose single winning row is collected.  The
    driver holds n_merges rows total; the corpus-scale text is read
    exactly once (by the word aggregate).  State is INCREMENTAL: each
    superstep applies only its newest merge to the cached previous
    arrays (one symbol pass), instead of re-deriving all i merges from
    the word strings — O(n_merges) total passes vs O(n_merges²).
    Measured both ways at sf0.1 (37k-word vocab): re-derive 3.5 s,
    incremental 4.7 s — the per-round cache write costs more than the
    saved re-passes at toy scale, and the crossover favors incremental
    as the vocabulary grows (a web-scale vocab cannot afford
    quadratic symbol passes; this is the same persist-the-state /
    lazy-the-chain split pagerank_until documents).  Ties break on
    (count desc, left, right) — binary string order on both engines,
    so the DuckDB oracle reproduces the merge table exactly.

    Stops early when no adjacent pair remains (every word fused to one
    symbol) — the unrolled oracle chain agrees because each merge
    stage falls back to its predecessor when its best-pair CTE is
    empty.
    """
    from ..scale import persisted

    words = persisted(_bpe_word_seqs(df, col, min_word_freq))
    # HYBRID venue switch (the connected-components precedent): one
    # stats row decides where the merge loop runs. A vocabulary within
    # BOTH driver gates collects (word, freq) and loops locally -- the
    # loop is O(vocab) per round either way, and below the gate 8
    # sequential Spark supersteps are pure job-scheduling floor
    # (measured at sf0.1: ~3.8 s distributed vs ~1.2 s hybrid,
    # identical merge table; venue equivalence pinned in
    # tests/test_llmops.py by forcing the gate to 0). Beyond the gate
    # -- the 100 TB regime, where the vocab itself is a frame -- the
    # distributed superstep loop below runs unchanged.
    stats = words.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("w")).alias("chars")
    ).collect()[0]
    n_vocab = int(stats["n"] or 0)
    est_bytes = int(stats["chars"] or 0) * _PY_SYM_OVERHEAD_BYTES
    if n_vocab <= BPE_DRIVER_MAX_WORDS and est_bytes <= BPE_DRIVER_MAX_BYTES:
        return _bpe_train_local(words.collect(), n_merges)
    # Size the superstep state to the VOCABULARY, not the session
    # default: cached plans keep their materialized partitioning (AQE
    # cannot re-coalesce them — canChangeCachedPlanOutputPartitioning
    # is off by design), so without this a just-over-gate vocab rides
    # 32 near-empty partitions through every superstep. One partition
    # per ~50k words keeps a web-scale vocab (100M words -> 2k
    # partitions) honest.
    n_parts = max(1, min(words.rdd.getNumPartitions(), n_vocab // 50_000 + 1))
    # state carried BETWEEN supersteps: the current symbol arrays,
    # persisted each round so superstep i applies only merge i-1 to
    # cached state (one symbol pass) rather than re-deriving all i
    # merges from the word strings (O(n_merges²) passes across the
    # loop); the narrow per-round selects inherit n_parts.
    seqs = persisted(
        words.repartition(n_parts).select(
            _bpe_apply_col(F.col("w"), []).alias("seq"), "freq"
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            _bpe_pair_counts(seqs)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((rank, a, b, int(best[0]["cnt"])))
        if rank < n_merges:
            seqs = persisted(
                seqs.select(
                    _bpe_step_col(F.col("seq"), a, b).alias("seq"), "freq"
                )
            )
    return merges


def bpe_train(
    df: DataFrame,
    col: str = "text",
    n_merges: int = 8,
    min_word_freq: int = 1,
) -> DataFrame:
    """BPE merge-table training as a DataFrame: (merge_rank, left_sym,
    right_sym, pair_count) for the top ``n_merges`` merges.

    See :func:`bpe_train_merges` for the iteration shape and the
    100 TB story; reference semantics: the standard byte-pair-encoding
    merge loop (count adjacent pairs over the word vocabulary, fuse the
    most frequent, repeat) — rank order IS application order for any
    downstream tokenizer."""
    spark = df.sparkSession
    rows = bpe_train_merges(df, col, n_merges, min_word_freq)
    schema = (
        "merge_rank int, left_sym string, right_sym string,"
        " pair_count bigint"
    )
    return local_frame(spark, rows, schema)


def bpe_tokenize(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
    merges: list[tuple[int, str, str, int]] | None = None,
) -> DataFrame:
    """Encode every document with a BPE merge table (trained on the
    same corpus unless ``merges`` is supplied): per document the word
    count, the total BPE piece count, and the sha256 digest of the
    space-joined piece stream in word order — the exact artifact
    equality check for a tokenizer without shipping the piece arrays.

    Scale shape: each DISTINCT word encodes once through one Arrow
    kernel (:func:`_bpe_apply_col`), then tokens join their piece
    strings — a (distinct, encode, size-gated-broadcast join) trio,
    ~4x faster at sf0.1 than encoding per token and the shape a
    production tokenizer server uses; the per-doc aggregate uses the
    order-deterministic struct array_sort (never a bare
    collect_list).  Output: (``id_col``,
    n_words, n_bpe_tokens, pieces_digest); empty docs count 0 with the
    empty-string digest.
    """
    if merges is None:
        merges = bpe_train_merges(df, col, n_merges)
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.transform(tokens_col(col), F.lower)).alias(
            "pos", "term"
        ),
    )
    # encode each DISTINCT word once (the fold is |merges| interpreted
    # HOF passes per symbol — running it per TOKEN instead of per
    # distinct word measured ~4x slower at sf0.1), then join tokens to
    # their piece strings: tokenization-by-vocabulary-lookup, the same
    # shape a production tokenizer server uses.  The vocab side is
    # size-gated broadcastable; the join key is the term either way.
    from ..scale import maybe_broadcast

    words_enc = (
        toks.select(F.col("term").alias("w"))
        .distinct()
        .select(
            "w", _bpe_apply_col(F.col("w"), merges).alias("seq")
        )
        .select(
            "w",
            F.size("seq").alias("n_pieces"),
            F.array_join("seq", " ").alias("ps"),
        )
    )
    enc = toks.join(
        maybe_broadcast(words_enc), toks.term == words_enc.w
    ).select(id_col, "pos", "n_pieces", "ps")
    agg = enc.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_pieces").cast("bigint").alias("n_bpe_tokens"),
        F.sha2(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "ps"))
                    ),
                    lambda x: x["ps"],
                ),
                " ",
            ),
            256,
        ).alias("pieces_digest"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint").alias(
                "n_bpe_tokens"
            ),
            F.coalesce("pieces_digest", F.sha2(F.lit(""), 256)).alias(
                "pieces_digest"
            ),
        )
    )


def vocab_oov(
    ref: DataFrame,
    tgt: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """Cross-slice out-of-vocabulary rate: build the frequency-ranked
    vocabulary from the REFERENCE slice (same deterministic ranking as
    :func:`tokenize_corpus` — count desc, term asc, top ``vocab_size``)
    and measure, per TARGET document, how many of its tokens fall
    outside it — the coverage question asked before pointing an
    existing tokenizer at a new crawl, a new language, or a new domain
    (high OOV = the vocab doesn't speak this slice's language and
    fertility will explode).

    Exact integer permille (``1000 * n_oov div n_tokens``, 0 for an
    empty doc).  Scale shape: the vocab is one reference-side term
    aggregate lowered to TakeOrderedAndProject (never a global term
    sort), then a constant-size frame BROADCAST into the target's
    exploded token stream — the target corpus never shuffles; the
    per-doc rollup is one keyed aggregate on ``id_col``.
    """
    rtoks = ref.select(
        F.explode(F.transform(tokens_col(col), F.lower)).alias("term")
    )
    vocab = (
        rtoks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(int(vocab_size))
        .select("term", F.lit(True).alias("__in_vocab__"))
    )
    ttoks = tgt.select(
        F.col(id_col),
        F.explode(F.transform(tokens_col(col), F.lower)).alias("term"),
    )
    flagged = ttoks.join(F.broadcast(vocab), "term", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab__").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_permille",
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(F.expr("n_oov * 1000 div n_tokens"))
            .cast("bigint"),
        )
    )
