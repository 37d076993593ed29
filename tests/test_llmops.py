"""llmops operators: dedup strategies, text stats, similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data__converter_spark.llmops import dedup, similarity, textstats
from helpers import sig_from_hs_udf


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # 1-word edit
    other = "completely different content about spark query engines and shuffles everywhere"
    rows = [
        (1, base),
        (2, base),        # exact dup of 1
        (3, near),        # near dup of 1
        (4, other),
        (5, "tiny doc"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    out = dedup.exact_dedup(dup_docs)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]
    groups = dedup.exact_dup_groups(dup_docs).collect()
    assert len(groups) == 1
    assert (groups[0]["n_docs"], groups[0]["keep_id"], groups[0]["max_id"]) == (2, 1, 2)


def test_normalize_text_matches_duckdb_semantics(spark):
    """NFC + accent-strip pinned on non-ASCII fixtures: composed vs
    combining accents collapse, Hangul survives recomposition — the
    exact strings DuckDB's nfc_normalize/strip_accents produce."""
    rows = [
        (1, "café"),        # e + combining acute -> café -> cafe
        (2, "Ångström"),
        (3, "한국어 조합가"),      # Hangul: NFD->filter->NFC must round-trip
        (4, "Tiếng Việt"),
        (5, None),
        (6, "ASCII stays"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.norm
        for r in df.select(
            "doc_id",
            textstats.normalize_text_col("text", strip_accents=True).alias("norm"),
        ).collect()
    }
    assert out[1] == "cafe"
    assert out[2] == "Angstrom"
    assert out[3] == "한국어 조합가"
    assert out[4] == "Tieng Viet"
    assert out[5] is None
    assert out[6] == "ASCII stays"
    # NFC without stripping: combining sequence composes, text otherwise kept
    nfc = {
        r.doc_id: r.norm
        for r in df.select(
            "doc_id", textstats.normalize_text_col("text").alias("norm")
        ).collect()
    }
    assert nfc[1] == "café"


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Corpus-wide paragraph dedup: first (doc_id, idx) occurrence of a
    paragraph survives, documents reassemble in original order, blank
    paragraphs drop, and fully-duplicated documents disappear."""
    df = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta\n\nalpha"),   # intra-doc repeat drops
            (2, "beta\n\ngamma"),             # beta seen in doc 1
            (3, "alpha\n\nbeta"),             # nothing new -> doc gone
            (4, "  \n\ndelta"),               # blank paragraph filtered
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.paragraph_dedup(df).collect()}
    assert out[1].text_dedup == "alpha\n\nbeta" and out[1].n_paras_kept == 2
    assert out[2].text_dedup == "gamma" and out[2].n_paras_kept == 1
    assert 3 not in out
    assert out[4].text_dedup == "delta" and out[4].n_paras_kept == 1


def test_exact_dedup_idempotent(spark, dup_docs):
    once = dedup.exact_dedup(dup_docs)
    twice = dedup.exact_dedup(once)
    assert sorted(r["doc_id"] for r in twice.collect()) == sorted(
        r["doc_id"] for r in once.collect()
    )


def test_ngram_jaccard_pairs(spark, dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(dup_docs, k=3, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.5 <= pairs[(1, 3)] < 1.0    # near dup
    assert (1, 4) not in pairs
    assert (2, 3) in pairs


def test_minhash_lsh_matches_exact_on_corpus(spark, documents):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(documents, k=3, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            documents, k=3, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    # LSH verifies candidates with exact Jaccard -> no false positives
    assert approx <= exact
    # banding at 64/16 catches essentially everything at j>=0.5
    assert len(approx) >= 0.9 * len(exact)


def test_near_dedup_drops_pair_members(spark, dup_docs):
    out = dedup.near_dedup(dup_docs, k=3, num_hashes=64, bands=16, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 4, 5]  # 2 and 3 collapse into 1


def test_connected_components_chain_and_shared_loser(spark):
    # chain 1-2-3 (no 1-3 edge), shared loser (5,7)+(6,7), isolated pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 7), (6, 7), (10, 11)], "id_a long, id_b long"
    )
    cc = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 5, 10: 10, 11: 10}


def test_connected_components_distributed_path_matches_driver(spark):
    """small_graph_max_edges=0 forces the label-propagation loop; it
    must produce identical labels to the driver union-find gate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9), (9, 7)],
        "id_a long, id_b long",
    )
    driver = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        r["id"]: r["component"]
        for r in dedup.connected_components(
            pairs, small_graph_max_edges=0
        ).collect()
    }
    assert driver == dist == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 8: 7, 9: 7}


def test_connected_components_byte_gate_routes_wide_string_ids(spark):
    """The driver union-find gate is byte-aware: a tiny edge COUNT of
    very wide string ids must take the distributed path (and still
    label correctly), while the same graph under a generous byte cap
    stays driver-side with identical labels."""
    wide = {i: f"doc-{'x' * 400}-{i:04d}" for i in range(8)}
    raw = [(1, 2), (2, 3), (5, 6)]
    pairs = spark.createDataFrame(
        [(wide[a], wide[b]) for a, b in raw], "id_a string, id_b string"
    )
    # 3 edges x ~800B payload exceeds a 4KB cap long before the 1M-row
    # cap -> distributed label propagation
    dist = {
        r["id"]: r["component"]
        for r in dedup.connected_components(
            pairs, small_graph_max_bytes=4096
        ).collect()
    }
    driver = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    expect = {
        wide[1]: wide[1], wide[2]: wide[1], wide[3]: wide[1],
        wide[5]: wide[5], wide[6]: wide[5],
    }
    assert dist == driver == expect


def test_near_dedup_exact_collapses_shared_loser(spark):
    # docs 1,2,3 mutually near-dup but LSH may emit only (1,3),(2,3):
    # construct that shape directly on the pair level via a long chain
    words = [f"w{i}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[:-1] + ["endb"])       # near a
    c = " ".join(["startc"] + words[1:-1] + ["endb"])  # near b, farther from a
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "totally unrelated content here")],
        "doc_id long, text string",
    )
    exact = dedup.near_dedup_exact(docs, k=3, num_hashes=64, bands=16, threshold=0.5)
    kept = sorted(r["doc_id"] for r in exact.collect())
    # one survivor for the whole 1-2-3 component, plus the unrelated doc
    assert kept == [1, 9]


def test_simhash_identity_and_near(spark):
    # longer doc so a 1-word edit flips a small fraction of bigram
    # features — chunk blocking guarantees recall only at distance <= 3,
    # so the near-dup fixture must land in that regime by construction
    words = [f"word{i}" for i in range(100)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed"])
    other = " ".join(f"thing{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)],
        "doc_id long, text string",
    )
    h = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", dedup.simhash_col("text", 2).alias("sh")
        ).collect()
    }
    assert h[1] == h[2]  # identical text -> identical simhash
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, k=2, max_distance=6).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # near dup within a few bits
    assert (1, 4) not in pairs


def test_hamming_col(spark):
    df = spark.createDataFrame([(0, -1)], "a long, b long")
    out = df.select(dedup.hamming64_col(F.col("a"), F.col("b")).alias("d")).collect()
    assert out[0]["d"] == 64


def test_embedding_pairs_self_similarity(spark, embeddings):
    # append an exact copy of one vector -> cosine 1.0 pair must appear
    v0 = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(99999).cast("long").alias("vec_id"), "embedding", "label"
    )
    aug = embeddings.unionByName(v0)
    pairs = dedup.embedding_pairs(aug, threshold=0.999).collect()
    assert any((r["id_a"], r["id_b"]) == (0, 99999) for r in pairs)


def test_brute_force_topk(spark, embeddings):
    probes = embeddings.filter(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(embeddings, probes, k=5)
    rows = out.collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert set(by_probe) == {0, 1, 2}
    for pid, rs in by_probe.items():
        assert len(rs) == 5
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        sims = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != pid for r in rs)


def test_label_centroids_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a", [1.0, 2.0]),
            (2, "a", [3.0, 4.0]),
            (3, "b", [5.0, -1.5]),
        ],
        ["vec_id", "label", "embedding"],
    )
    out = {
        (r.label, r.pos): r
        for r in similarity.label_centroids(df, label_col="label").collect()
    }
    assert out[("a", 1)].mean_val == pytest.approx(2.0)
    assert out[("a", 2)].mean_val == pytest.approx(3.0)
    assert out[("a", 1)].n_vecs == 2
    assert out[("b", 2)].mean_val == pytest.approx(-1.5)
    assert len(out) == 4


def test_probe_guard_caps_and_empty(spark, embeddings, monkeypatch):
    # Guard on the driver-broadcast contract: an oversized probe set must
    # fail loudly (pointing at the bucketed path), not OOM the driver;
    # an empty probe set returns an empty, correctly-typed result.
    monkeypatch.setattr(similarity, "MAX_BROADCAST_PROBES", 5)
    big = embeddings.filter(F.col("vec_id") < 10)
    with pytest.raises(ValueError, match="probe set exceeds"):
        similarity.brute_force_topk(embeddings, big, k=3)
    empty = embeddings.filter(F.col("vec_id") < 0)
    out = similarity.brute_force_topk(embeddings, empty, k=3)
    assert out.columns == ["probe_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0
    assert similarity.lsh_topk(embeddings, empty, k=3, bits=4).count() == 0
    assert similarity.ivf_topk(embeddings, empty, k=3).count() == 0


def test_lsh_topk_recall(spark, embeddings):
    probes = embeddings.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, probes, k=10)
    approx = similarity.lsh_topk(embeddings, probes, k=10, bits=4)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    # 4-bit hyperplane buckets keep ~1/16 of corpus per probe; recall of the
    # true top-10 should still be substantial (same-bucket bias)
    assert len(a & e) / len(e) >= 0.3


def test_tokens_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "  hello   world  "), (2, ""), (3, "a b, c!")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n"], r["bpe"])
        for r in df.select(
            "doc_id",
            textstats.token_count_col("text").alias("n"),
            textstats.bpe_token_count_col("text").alias("bpe"),
        ).collect()
    }
    assert out[1] == (2, 2)
    assert out[2] == (0, 0)
    assert out[3] == (3, 5)  # a, b, ',', c, '!'


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der Hund ist nicht ein Problem und das ist gut"),
            (3, "el perro y la casa de los vecinos en un pueblo"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["lang"]
        for r in df.select("doc_id", textstats.lang_id_col("text").alias("lang")).collect()
    }
    assert out[1] == "en" and out[2] == "de" and out[3] == "es" and out[4] == "und"


def test_fingerprint_stability(spark, dup_docs):
    fp = {
        r["doc_id"]: r["fingerprint"]
        for r in textstats.fingerprints(dup_docs, "text", "doc_id", 3).collect()
    }
    assert fp[1] == fp[2]          # identical docs
    assert fp[1] != fp[4]          # different docs
    assert len(fp[5]) == 64        # short doc falls back to whole-doc hash


def test_repetition_features_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # 6 words, 2 distinct; bigrams: "a b"x3, "b a"x2
            (2, "x"),                 # 1 word: dup 0.0, bigram fracs NULL
            (3, ""),                  # empty: all NULL except n_words=0
            (4, "w x y z"),           # all distinct, each bigram once
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in textstats.repetition_features(df).collect()}
    assert out[1].n_words == 6
    assert out[1].dup_word_frac == pytest.approx(2 / 3)
    assert out[1].top_bigram_count == 3
    assert out[1].top_bigram_frac == pytest.approx(3 / 5)
    assert out[2].dup_word_frac == 0.0
    assert out[2].top_bigram_count is None and out[2].top_bigram_frac is None
    assert out[3].n_words == 0 and out[3].dup_word_frac is None
    assert out[4].dup_word_frac == 0.0
    assert out[4].top_bigram_count == 1
    assert out[4].top_bigram_frac == pytest.approx(1 / 3)


def test_pretraining_pipeline_gates_compose(spark, documents):
    from data__converter_spark.llmops.pipeline import pretraining_pipeline

    out = pretraining_pipeline(documents)
    rows = out.collect()
    ids = {r.doc_id for r in rows}
    all_ids = {r.doc_id for r in documents.select("doc_id").collect()}
    assert ids <= all_ids and 0 < len(ids) < len(all_ids)
    # every survivor passed the gate and the sample filter
    assert all(r.score_r >= 0.5 for r in rows)
    from data__converter_spark.llmops.textstats import sample_hash_col
    import pyspark.sql.functions as F

    resampled = out.filter(sample_hash_col("doc_id") < 50).count()
    assert resampled == len(rows)
    # dedup: content_sha unique among survivors
    assert len({r.content_sha for r in rows}) == len(rows)


def test_winnow_shared_run_shares_fingerprint(spark):
    # Guarantee: docs sharing a run of window+k-1 = 6 tokens share >= 1
    # fingerprint; disjoint docs share none.
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} completely different ending text"),
            (3, "nothing in common with the others at all"),
        ],
        ["doc_id", "text"],
    )
    out = textstats.winnow_fingerprints(df, k=3, window=4)
    fps = {}
    for r in out.collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnow_short_doc_emits_nothing(spark):
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    # 5 tokens -> 3 trigrams -> no complete window of 4
    assert textstats.winnow_fingerprints(df, k=3, window=4).count() == 0


def test_quality_features_values(spark):
    df = spark.createDataFrame([(1, "the cat the cat!")], "doc_id long, text string")
    r = textstats.quality_features(df).collect()[0]
    assert r["n_tokens"] == 4
    assert r["n_chars"] == 16
    assert r["stopword_ratio"] == 0.5      # 'the' x2 / 4
    assert r["type_token_ratio"] == 0.75   # {the, cat, cat!} of 4
    assert r["punct_ratio"] == 1 / 16


def test_quality_score_bounds(spark, documents):
    scores = documents.select(textstats.quality_score_col("text")).collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in scores)


def test_ivf_topk_exact_when_probing_all_cells(spark, embeddings):
    probes = embeddings.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(embeddings, probes, k=10)
    full = similarity.ivf_topk(embeddings, probes, k=10, n_cells=8, nprobe=8)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in full.collect()}
    assert a == e  # probing every cell degenerates to brute force


def test_ivf_topk_recall_with_pruning(spark, embeddings):
    probes = embeddings.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, probes, k=10)
    approx = similarity.ivf_topk(embeddings, probes, k=10, n_cells=16, nprobe=4)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.3


def test_embedding_lsh_pairs_finds_duplicates(spark, embeddings):
    # an exact copy always shares every bucket -> the pair must surface
    v0 = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(99999).cast("long").alias("vec_id"), "embedding", "label"
    )
    aug = embeddings.unionByName(v0)
    pairs = dedup.embedding_lsh_pairs(aug, threshold=0.999).collect()
    assert any((r["id_a"], r["id_b"]) == (0, 99999) for r in pairs)


def test_embedding_lsh_pairs_subset_of_exact(spark, embeddings):
    # LSH blocking may miss pairs but must never invent them: every
    # (pair, cosine) it returns appears in the exact blocked-matmul set
    lsh = dedup.embedding_lsh_pairs(embeddings, threshold=0.35).collect()
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_pairs(embeddings, threshold=0.35).collect()
    }
    assert lsh  # threshold chosen so the candidate set is non-empty
    for r in lsh:
        assert (r["id_a"], r["id_b"]) in exact
        assert r["cosine"] >= 0.35


def test_paragraph_dedup_invariants(spark):
    """Post-conditions on real data: (1) no paragraph appears twice
    anywhere in the output corpus; (2) the op is idempotent."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(3))
    ptext = F.array_join(
        F.transform(starts, lambda s: F.array_join(F.slice(words, s, 3), " ")),
        "\n\n",
    )
    chunked = docs.select("doc_id", ptext.alias("text"))
    once = dedup.paragraph_dedup(chunked)
    paras = once.select(
        F.explode(F.split("text_dedup", "\n\n")).alias("p")
    )
    dup_paras = paras.groupBy("p").count().filter(F.col("count") > 1).count()
    assert dup_paras == 0
    twice = dedup.paragraph_dedup(
        once.select("doc_id", F.col("text_dedup").alias("text"))
    )
    a = {(r.doc_id, r.text_dedup) for r in once.collect()}
    b = {(r.doc_id, r.text_dedup) for r in twice.collect()}
    assert a == b


def test_minhash_bucket_cap_guards_degenerate_corpus(spark):
    """Five identical docs put all five in every band bucket (f² = 25
    candidate fan-out per band); max_bucket_size=4 drops those buckets,
    while distinct docs are unaffected."""
    rows = [(i, "the same boilerplate text repeated for every document here") for i in range(5)]
    rows += [(10, "a completely different document about something else entirely okay")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5).count()
    assert uncapped == 10  # all C(5,2) identical pairs
    capped = dedup.minhash_lsh_pairs(
        docs, k=3, threshold=0.5, max_bucket_size=4
    ).count()
    assert capped == 0  # every bucket holding the clones is over the cap


def test_pack_sequences_invariants(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         [(0, 300), (8, 300), (16, 100), (1, 600), (9, 10)]],
        "doc_id long, text string",
    )
    out = textstats.pack_sequences(docs, capacity=512, n_shards=8).collect()
    rows = {r["doc_id"]: r for r in out}
    # shard = id % 8; docs 0,8,16 share shard 0 in id order
    assert [rows[i]["shard"] for i in (0, 8, 16, 1, 9)] == [0, 0, 0, 1, 1]
    # shard 0 stream: 300 tokens, then 300 (starts at 300 -> bin 0),
    # then 100 (starts at 600 -> bin 1)
    assert (rows[0]["bin_id"], rows[8]["bin_id"], rows[16]["bin_id"]) == (0, 0, 1)
    assert rows[16]["tok_offset"] == 600
    # documents are never split: every doc appears exactly once
    assert len(out) == 5


def test_chunk_text_covers_every_token(spark):
    n = 100
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(n))), (2, "a b")],
        "doc_id long, text string",
    )
    out = textstats.chunk_text(docs, chunk_tokens=32, overlap=8).collect()
    d1 = sorted((r["chunk_id"], r["chunk"]) for r in out if r["doc_id"] == 1)
    # stride 24: starts 0,24,48,72 -> 4 chunks; last one partial (28 toks)
    assert [c for c, _ in d1] == [0, 1, 2, 3]
    toks = set()
    for _, chunk in d1:
        toks.update(chunk.split(" "))
    assert toks == {f"t{i}" for i in range(n)}  # every token in >= 1 chunk
    # consecutive chunks overlap by 8 tokens
    assert set(d1[0][1].split(" ")[-8:]) <= set(d1[1][1].split(" ")[:8])
    # short doc -> exactly one chunk with all tokens
    d2 = [r for r in out if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk"] == "a b" and d2[0]["n_chunk_tokens"] == 2
    # both invalid overlap directions raise (negative would skip tokens)
    for bad in (-1, 32, 40):
        with pytest.raises(ValueError):
            textstats.chunk_text(docs, chunk_tokens=32, overlap=bad)


def test_salient_terms_ranking(spark):
    docs = spark.createDataFrame(
        [
            (1, "zebra zebra zebra common common rare"),
            (2, "common common apple apple apple zebra"),
        ],
        "doc_id long, text string",
    )
    out = textstats.salient_terms(docs, k=2, min_len=3)
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"]) for r in out.collect()}
    # doc 1: zebra tf=3 (df=2), then common tf=2 (df=2)
    assert got[(1, 1)] == ("zebra", 3, 2)
    assert got[(1, 2)] == ("common", 2, 2)
    # doc 2: apple tf=3 df=1 beats common tf=2
    assert got[(2, 1)] == ("apple", 3, 1)
    assert got[(2, 2)] == ("common", 2, 2)

    # true tf-idf DIFFERS from the (tf, df) proxy: in doc 1, zebra has
    # tf=3 but df=2 of N=2 docs -> idf = ln(1) = 0, so score 0; rare
    # (tf=1, df=1) scores 1*ln(2) > 0 and outranks it.
    tfidf = textstats.salient_terms(docs, k=3, min_len=3, scoring="tfidf")
    got2 = {(r["doc_id"], r["rank"]): r["term"] for r in tfidf.collect()}
    assert got2[(1, 1)] == "rare"
    assert got2[(2, 1)] == "apple"
    # zero-score terms still rank after positive ones, tf desc
    assert got2[(1, 2)] == "zebra"

    with pytest.raises(ValueError):
        textstats.salient_terms(docs, scoring="bm25")


def test_pmi_collocations_exact_scores(spark):
    """Hand-computed corpus: N=14 tokens, c_a=5 c_b=3 c_c=3 c_d=3;
    surviving bigrams (min_count=2) are (a,b)x3, (b,a)x2, (c,d)x2.
    score_milli = (1000*N*c_ab) div (c_a*c_b):
      (c,d) = 28000//9  = 3111   <- rarer unigrams win, as PMI should
      (a,b) = 42000//15 = 2800
      (b,a) = 28000//15 = 1866
    """
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "c d c d"), (3, "a c a d")],
        "doc_id long, text string",
    )
    out = textstats.pmi_collocations(docs, min_count=2, top_k=10)
    rows = [
        (r["left_tok"], r["right_tok"], r["pair_cnt"], r["score_milli"])
        for r in out.collect()
    ]
    assert rows == [
        ("c", "d", 2, 3111),
        ("a", "b", 3, 2800),
        ("b", "a", 2, 1866),
    ]
    # min_count prunes the singleton bigrams before any join
    assert all(c >= 2 for _, _, c, _ in rows)
    # top_k caps the output deterministically
    assert textstats.pmi_collocations(docs, min_count=1, top_k=2).count() == 2


def test_sparse_retrieval_scores_and_max_df(spark):
    """score(q,d) = sum of tf products; ranking ties break on match
    id; max_df drops stop-terms from the postings before the join."""
    from data__converter_spark.llmops.similarity import sparse_retrieval

    q = spark.createDataFrame([(100, "apple apple zebra")], "doc_id long, text string")
    c = spark.createDataFrame(
        [
            (1, "apple apple apple"),     # score 2*3 = 6
            (2, "apple zebra zebra"),     # 2*1 + 1*2 = 4
            (3, "plum plum plum plum"),   # no shared term
            (4, "Apple zebra"),           # case-folds: 2*1 + 1*1 = 3
        ],
        "doc_id long, text string",
    )
    got = {
        r["match_id"]: (r["score"], r["rank"])
        for r in sparse_retrieval(q, c, top_k=3).collect()
    }
    assert got == {1: (6, 1), 2: (4, 2), 4: (3, 3)}  # doc 3 never scores

    # max_df=2: 'apple' is in 3 corpus docs -> pruned; only zebra scores
    got2 = {
        r["match_id"]: r["score"]
        for r in sparse_retrieval(q, c, top_k=5, max_df=2).collect()
    }
    assert got2 == {2: 2, 4: 1}


def test_bm25_rare_terms_saturation_and_length_norm(spark):
    """The three BM25 properties, each isolated: (1) idf — matching a
    RARE term outranks matching a stop term at equal tf; (2) tf
    saturation — doubling tf must raise the score by LESS than 2x;
    (3) length norm — at equal tf the shorter document wins.  Plus the
    integer contract: every score is an exact bigint, reproducible
    across runs."""
    from data__converter_spark.llmops.similarity import bm25_retrieval

    # 'the' in every corpus doc (stop term), 'zebra' in one (rare)
    q = spark.createDataFrame(
        [(100, "zebra the")], "doc_id long, text string"
    )
    c = spark.createDataFrame(
        [
            (1, "the zebra runs"),         # rare + stop
            (2, "the the the"),            # stop only, tf 3
            (3, "the cat sat"),            # stop only, tf 1
            (4, "the dog sat on a mat"),   # stop only, longer doc
        ],
        "doc_id long, text string",
    )
    rows = bm25_retrieval(q, c, top_k=4).collect()
    got = {r["match_id"]: (r["score_milli"], r["rank"]) for r in rows}
    # (1) idf: doc 1 (rare term) must rank first
    assert got[1][1] == 1
    # (2) saturation: tf 3 of 'the' scores < 3x tf 1 of 'the'
    # (docs 2 and 3 have equal length, so only tf differs)
    assert got[2][0] < 3 * got[3][0]
    # (3) length norm: doc 3 (3 tokens) beats doc 4 (6 tokens) at tf 1
    assert got[3][0] > got[4][0]
    # integer + deterministic
    rows2 = bm25_retrieval(q, c, top_k=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    assert all(isinstance(r["score_milli"], int) for r in rows)
    # max_df stop-term cap: 'the' (df=4) pruned from the postings, so
    # only doc 1 still shares a term with the query
    capped = bm25_retrieval(q, c, top_k=4, max_df=3).collect()
    assert {r["match_id"] for r in capped} == {1}


def test_index_from_tf_stats_count_the_postings_rows(spark):
    """A NULL term or a NULL id never reaches the postings, and the
    corpus stats come from the same rows: n_docs, total_tok and avgdl
    describe exactly the documents and dl values the postings carry."""
    from data__converter_spark.llmops.similarity import index_from_tf

    c_tf = spark.createDataFrame(
        [
            (1, "cat", 2),
            (1, "dog", 1),
            (1, None, 7),  # NULL term: must not lengthen doc 1
            (2, "cat", 3),
            (None, "cat", 5),  # NULL id: not a document
        ],
        "match_id long, term string, tf long",
    )
    postings, stats = index_from_tf(c_tf)
    dl = {r["match_id"]: r["dl"] for r in postings.collect()}
    assert dl == {1: 3, 2: 3}
    s = stats.collect()[0]
    assert (s["n_docs"], s["total_tok"]) == (len(dl), sum(dl.values()))
    assert s["avgdl"] == s["total_tok"] // s["n_docs"]


def test_text_index_artifact_matches_inline_ranking(spark, tmp_path):
    """build_text_index materializes (term, match_id, tf, df, dl) +
    1-row stats as parquet; ranking the written artifact with
    bm25_from_index / sparse_from_index must equal the inline ops
    row-for-row (the artifact's correctness contract), including
    under the max_df cap — which on the index is a plain filter on
    the stored df column."""
    from data__converter_spark.llmops.similarity import (
        bm25_from_index,
        bm25_retrieval,
        build_text_index,
        sparse_from_index,
        sparse_retrieval,
    )

    q = spark.createDataFrame(
        [(100, "zebra the"), (101, "cat mat the")], "doc_id long, text string"
    )
    c = spark.createDataFrame(
        [
            (1, "the zebra runs"),
            (2, "the the the"),
            (3, "the cat sat"),
            (4, "the dog sat on a mat"),
        ],
        "doc_id long, text string",
    )
    postings, stats = build_text_index(c, path=str(tmp_path / "idx"))
    # the artifact is really on disk with the full stat row
    assert (tmp_path / "idx" / "postings" / "_SUCCESS").exists()
    s = stats.collect()[0]
    assert (s["n_docs"], s["total_tok"], s["avgdl"]) == (4, 15, 3)
    p = {(r["term"], r["match_id"]): (r["tf"], r["df"], r["dl"])
         for r in postings.collect()}
    assert p[("the", 2)] == (3, 4, 3)     # tf 3, df 4 corpus docs, dl 3
    assert p[("zebra", 1)] == (1, 1, 3)

    for k in (2, 4):
        inline = sorted(map(tuple, bm25_retrieval(q, c, top_k=k).collect()))
        fed = sorted(
            map(tuple, bm25_from_index(q, postings, stats, top_k=k).collect())
        )
        assert fed == inline
    inline_s = sorted(map(tuple, sparse_retrieval(q, c, top_k=3).collect()))
    fed_s = sorted(map(tuple, sparse_from_index(q, postings, top_k=3).collect()))
    assert fed_s == inline_s
    # max_df on the artifact == max_df inline
    cap_i = sorted(map(tuple, bm25_retrieval(q, c, top_k=4, max_df=3).collect()))
    cap_f = sorted(
        map(
            tuple,
            bm25_from_index(q, postings, stats, top_k=4, max_df=3).collect(),
        )
    )
    assert cap_f == cap_i
    # the in-memory (lazy, no path) form agrees too — bm25_retrieval
    # itself now composes through it, so pin the unwritten variant
    lp, ls = build_text_index(c)
    assert sorted(
        map(tuple, bm25_from_index(q, lp, ls, top_k=4).collect())
    ) == sorted(map(tuple, bm25_retrieval(q, c, top_k=4).collect()))
    # a durable artifact refuses a degenerate corpus (ANSI-safe guard)
    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no tokenizable documents"):
        build_text_index(empty, path=str(tmp_path / "idx_empty"))


def test_minhash_signature_paths_agree(spark, dup_docs):
    """The one-kernel text->signature column (minhash_signature_col)
    and the split pipeline (JVM shingle hashing -> numpy permutation
    kernel) must produce identical signatures — they are two physical
    forms of the same definition, and the oracle replicates the split
    form."""
    direct = {
        r["doc_id"]: r["sig"]
        for r in dup_docs.select(
            "doc_id", dedup.minhash_signature_col("text", 3, 64, 42).alias("sig")
        ).collect()
    }
    hashed = dedup._shingle_hash_sets(dup_docs, "text", "doc_id", 3)
    split = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", sig_from_hs_udf(64, 42)(F.col("hs")).alias("sig")
        ).collect()
    }
    # doc 5 has < 3 tokens: direct yields NULL and split yields no row
    assert direct[5] is None
    assert {k: v for k, v in direct.items() if v is not None} == split
    # the fused (hs, sig) kernel the LSH front-end actually runs must
    # agree with both, and its hs must equal the split pipeline's sets
    fused = {
        r["doc_id"]: (r["x"]["hs"], r["x"]["sig"])
        for r in dup_docs.select(
            "doc_id", dedup._hs_sig_udf(3, 64, 42)("text").alias("x")
        ).collect()
        if r["x"]["hs"] is not None
    }
    assert {k: v[1] for k, v in fused.items()} == split
    hs_split = {r["doc_id"]: r["hs"] for r in hashed.collect()}
    assert {k: v[0] for k, v in fused.items()} == hs_split


def test_kmeans_step_partitions_corpus_and_reduces_to_mean(spark, embeddings):
    """One Lloyd iteration: every vector lands in exactly one cluster
    (per-pos n_vecs sums to the corpus size), and with k=1 the
    recomputed centroid IS the global mean (label_centroids with a
    constant label)."""
    out = similarity.kmeans_step(embeddings, k=4, seed=42).collect()
    n = embeddings.count()
    by_pos: dict = {}
    for r in out:
        by_pos[r.pos] = by_pos.get(r.pos, 0) + r.n_vecs
    assert set(by_pos.values()) == {n}
    assert len({r.cluster for r in out}) == 4

    single = {
        (r.pos,): r.mean_val
        for r in similarity.kmeans_step(embeddings, k=1, seed=42).collect()
    }
    global_mean = {
        (r.pos,): r.mean_val
        for r in similarity.label_centroids(
            embeddings.withColumn("label", F.lit(0))
        ).collect()
    }
    assert single == global_mean


def test_kmeans_step_identical_vectors_take_smallest_centroid_id(spark):
    """Exact cosine ties (all vectors identical) must resolve to the
    smallest centroid id in the quantized-integer formulation — the
    same rule the oracle's (cosine DESC, cid ASC) ordering applies."""
    vecs = [(i, [1.0, 2.0, 3.0, 4.0], 0) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    out = similarity.kmeans_step(df, k=4, seed=42).collect()
    clusters = {r.cluster for r in out}
    assert len(clusters) == 1  # every vector ties -> one winning cluster
    # and the winner is the smallest of the 4 sampled centroid ids
    from pyspark.sql import functions as SF
    sampled = (
        df.withColumn(
            "__h__",
            SF.md5(SF.concat_ws(":", SF.col("vec_id").cast("string"), SF.lit("42"))),
        )
        .orderBy("__h__", "vec_id").limit(4).collect()
    )
    assert clusters == {min(r.vec_id for r in sampled)}


def test_common_token_counts_semantics(spark):
    """Top-k vocab membership counts: exact integers, empty docs kept."""
    rows = [
        (1, "a a a b c"),
        (2, "a b"),
        (3, ""),          # zero tokens -> 0/0/0 row survives
        (4, "x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_common"], r["common_permille"])
        for r in textstats.common_token_counts(df, top_k=2).collect()
    }
    # corpus counts: a=4, b=2, c=1, x=1, y=1, z=1 -> top-2 = {a, b}
    assert out[1] == (5, 4, 800)
    assert out[2] == (2, 2, 1000)
    assert out[3] == (0, 0, 0)
    assert out[4] == (3, 0, 0)


def test_mix_allocation_caps_at_availability(spark):
    rows = [
        (1, "one two three four", "big"),     # 4 tokens
        (2, "one two three four five", "big"),  # 5 -> big avail 9
        (3, "one", "small"),                   # small avail 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: (r["avail_tokens"], r["alloc_tokens"], r["sample_permille"])
        for r in textstats.mix_allocation(df, budget_tokens=10).collect()
    }
    # fair share = floor(10/2) = 5; big capped at 5/9, small at its 1 token
    assert out["big"] == (9, 5, 555)
    assert out["small"] == (1, 1, 1000)


def test_window_overlap_pairs_containment(spark):
    """A document fully embedded in a larger one scores containment
    1000; unrelated docs never pair."""
    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"       # 10 tokens -> 3 windows of 8
    bigger = run + " tail1 tail2"                  # contains every window of run
    other = "q1 q2 q3 q4 q5 q6 q7 q8"
    df = spark.createDataFrame(
        [(1, run), (2, bigger), (3, other)], "doc_id long, text string"
    )
    out = dedup.window_overlap_pairs(df, window=8).collect()
    pairs = {(r["id_a"], r["id_b"]): (r["n_shared"], r["containment_permille"])
             for r in out}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == (3, 1000)  # all 3 of doc 1's windows shared


def test_window_overlap_hot_cap_drops_boilerplate(spark):
    """A window present in more docs than the cap stops generating
    pairs — the conservative direction (overlap only shrinks)."""
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(1, 5)], "doc_id long, text string"
    )
    assert dedup.window_overlap_pairs(df, window=8, max_window_freq=3).count() == 0
    assert dedup.window_overlap_pairs(df, window=8, max_window_freq=4).count() == 6


def test_centroid_outliers_ranks_farthest(spark):
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.2, 0.0], 0),
        (3, [10.0, 0.0], 0),   # the outlier
        (4, [1.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.centroid_outliers(df, k=1).collect()
    by_label = {r["label"]: r for r in out}
    assert by_label[0]["vec_id"] == 3 and by_label[0]["rank"] == 1
    # a single-member label is its own centroid: distance exactly 0
    assert by_label[1]["vec_id"] == 4 and by_label[1]["dist_q"] == 0


def test_minhash_text_kernel_runs_once(spark, dup_docs):
    """The single-pass front-end claim, pinned at runtime: after
    executing minhash_lsh_pairs, the EXECUTED plan contains exactly one
    ArrowEvalPython (the fused hs+sig kernel) and re-reads it through
    the persisted frame (InMemoryTableScan) for the band slicer and
    both verification sides — the text is never re-tokenized per plan
    branch."""
    from data__converter_spark.scale import release_persisted

    import re

    out = dedup.minhash_lsh_pairs(dup_docs, k=3, num_hashes=16, bands=4)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_persisted()
    # The cached lineage reprints under every InMemoryRelation use, so
    # count DISTINCT eval outputs, not plan-string occurrences: one
    # evaluation = one pythonUDF result slot.  Before the
    # asNondeterministic fix the filter and the projection each got
    # their own eval (pythonUDF0#9 AND #10 stacked).
    slots = set(re.findall(r"\[pythonUDF0#(\d+)\]", plan))
    assert len(slots) == 1, f"fused kernel evaluated {len(slots)}x: {slots}"
    assert "InMemoryTableScan" in plan


def test_minhash_pairs_production_path_single_eval(spark):
    """Round-5 review residual: the single-execution claim for the
    PAIRS-ONLY path, pinned on the exact production call
    (q_dedup_minhash_lsh's kwargs at sf0.001).  After the action, the
    executed plan must hold exactly one distinct fused-kernel eval slot
    (text tokenized once), and the band frame must be re-read from
    cache on both sides of the candidate self-join rather than
    recomputed — two-plus InMemoryTableScans with zero ArrowEvalPython
    nodes outside cached lineage."""
    import re

    from data__converter_spark.scale import release_persisted
    from data__converter_spark.workloads import q_dedup_minhash_lsh

    out = q_dedup_minhash_lsh(spark, "/root/testdata/sf0.001")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_persisted()
    slots = set(re.findall(r"\[pythonUDF0#(\d+)\]", plan))
    assert len(slots) == 1, f"fused kernel evaluated {len(slots)}x: {slots}"
    # both the shingle-set verify sides and the band self-join sides
    # read persisted frames; every ArrowEvalPython line must sit inside
    # an InMemoryRelation's reprinted lineage, which the executed plan
    # renders under an InMemoryTableScan section — so the scan count is
    # at least 2 and the single eval slot above proves no live re-run
    assert plan.count("InMemoryTableScan") >= 2


def test_centroid_separation_known_geometry(spark):
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.0, 2.0], 0),   # centroid label 0 = (0, 1)
        (3, [3.0, 1.0], 1),   # centroid label 1 = (3, 1)
        (4, [0.0, 1.0], 2),   # centroid label 2 = (0, 1) == label 0's
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r["label_a"], r["label_b"]): r["dist_q"]
           for r in similarity.centroid_separation(df).collect()}
    q = 1_000_000
    assert out[(0, 1)] == (3 * q) ** 2
    assert out[(0, 2)] == 0          # identical centroids -> confusable
    assert out[(1, 2)] == (3 * q) ** 2


def test_substring_keep_composition(spark):
    """An embedded document (containment 1000) loses to the min-id
    survivor of its component; partial overlap below the containment
    bar survives."""
    from data__converter_spark.llmops.dedup import (
        connected_components,
        window_overlap_pairs,
    )

    run = " ".join(f"w{i}" for i in range(12))          # 12 tokens
    embedded = run                                        # duplicate of 1
    partial = " ".join(f"w{i}" for i in range(5, 17))     # shares a suffix run
    df = spark.createDataFrame(
        [(1, run), (2, embedded), (3, partial), (4, "x y z")],
        "doc_id long, text string",
    )
    pairs = (
        window_overlap_pairs(df, window=8)
        .filter(F.col("containment_permille") >= 800)
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs)
    losers = {r["id"] for r in cc.filter(F.col("id") != F.col("component")).collect()}
    assert losers == {2}  # 3's partial overlap stays below the bar


def test_dedup_against_keeps_only_novel(spark, dup_docs):
    """Cross-corpus form: a new batch loses exactly the docs near-dup
    to the reference corpus; self-dups WITHIN the new batch survive
    (that policy belongs to the self forms)."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    ref = spark.createDataFrame([(100, base)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (1, base),                                    # exact dup of ref
            (2, base.replace("today", "tonight")),        # near dup of ref
            (3, "entirely novel content about columnar shuffles and codegen"),
            (4, "entirely novel content about columnar shuffles and codegen"),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        r["doc_id"]
        for r in dedup.dedup_against(new, ref, threshold=0.5).collect()
    )
    assert out == [3, 4]


def test_balanced_shards_balance_property(spark):
    """Every doc lands on exactly one shard; within a size bucket the
    shard doc-counts differ by at most 1 (round-robin), so token totals
    equalize across shards for homogeneous buckets."""
    rows = [(i, " ".join("w" for _ in range(10))) for i in range(32)]  # one bucket
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.balanced_shards(df, n_shards=4).collect()
    assert len(out) == 32
    from collections import Counter

    per_shard = Counter(r["shard"] for r in out)
    assert set(per_shard) == {0, 1, 2, 3}
    assert max(per_shard.values()) - min(per_shard.values()) == 0  # 32/4 exact
    # token totals exactly equal for a homogeneous corpus
    totals = Counter()
    for r in out:
        totals[r["shard"]] += r["n_tokens"]
    assert len(set(totals.values())) == 1


def test_kmeans_train_iterates_and_partitions(spark, embeddings):
    """Two Lloyd iterations still partition the corpus (per-pos n_vecs
    sums to the corpus size), and with k=1 the loop is a fixed point:
    every iteration reproduces the global mean exactly."""
    n = embeddings.count()
    out2 = similarity.kmeans_train(embeddings, k=4, iterations=2, seed=42).collect()
    per_pos = {}
    for r in out2:
        per_pos[r["pos"]] = per_pos.get(r["pos"], 0) + r["n_vecs"]
    assert set(per_pos.values()) == {n}
    one_a = similarity.kmeans_train(embeddings, k=1, iterations=1, seed=42).collect()
    one_b = similarity.kmeans_train(embeddings, k=1, iterations=3, seed=42).collect()
    assert sorted((r["pos"], r["mean_val"]) for r in one_a) == sorted(
        (r["pos"], r["mean_val"]) for r in one_b
    )
    with pytest.raises(ValueError):
        similarity.kmeans_train(embeddings, k=4, iterations=0)


def test_gopher_rules_flags(spark):
    from data__converter_spark.llmops.textstats import gopher_rules

    good = "the cats sleep and the dogs drool of it " * 6  # all rules pass
    short = "the and of"  # under min_words
    symbols = " ".join(["###word"] * 60)  # symbol ratio + stopwords fail
    no_alpha = " ".join(["123"] * 30) + " the and " + " ".join(["456"] * 28)
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, no_alpha)],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(df, min_words=20).collect()
    }
    assert rows[1]["keep"]
    assert not rows[2]["rule_word_count"] and not rows[2]["keep"]
    assert not rows[3]["rule_symbol_ratio"] and not rows[3]["keep"]
    assert not rows[4]["rule_alpha_ratio"] and rows[4]["rule_stopwords"]
    # exact integer bookkeeping
    assert rows[1]["n_words"] == 54
    assert rows[3]["n_symbols"] == 180


def test_semantic_dedup_known_geometry(spark):
    """Two clusters far apart; within cluster A two near-identical
    vectors (min id survives) plus one orthogonal-ish survivor; a
    cross-cluster near-identical pair must NOT pair (SemDeDup only
    looks within a cluster)."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1, same cluster
        (3, [0.0, 0.0, 1.0, 0.0]),      # own direction
        (4, [-1.0, 0.0, 0.0, 0.0]),     # opposite: cosine -1 to 1
        (5, [-0.999, -0.01, 0.0, 0.0]), # near-dup of 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(df, k=2, threshold=0.95, seed=42).collect()
    }
    assert len(out) == 5  # every vector labeled
    # near-dup pairs collapse to the min id IF co-clustered
    for a, b in [(1, 2), (4, 5)]:
        if out[a]["cluster"] == out[b]["cluster"]:
            assert out[a]["is_kept"] and not out[b]["is_kept"]
    # a vector with no >=0.95 neighbor in its cluster survives
    assert out[3]["is_kept"]
    # the cap excludes oversized clusters from pairing: everything kept
    capped = dedup.semantic_dedup(
        df, k=2, threshold=0.95, seed=42, max_cluster_size=1
    ).collect()
    assert all(r["is_kept"] for r in capped)


def test_dsir_select_prefers_target_like_docs(spark):
    """Docs sharing the target subset's vocabulary outrank docs that
    don't, regardless of length; empty docs score 0 and rank last."""
    target_vocab = "alpha beta gamma delta"
    other_vocab = "omega sigma rho tau"
    rows = [
        (1, target_vocab, True),                      # in-domain
        (2, target_vocab + " " + target_vocab, True), # in-domain, longer
        (3, target_vocab, False),                     # target-LIKE raw doc
        (4, other_vocab, False),
        (5, other_vocab + " " + other_vocab, False),  # long out-of-domain
        (6, "", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = {
        r["doc_id"]: r
        for r in textstats.dsir_select(
            df, target=F.col("is_t"), buckets=16, select_n=3
        ).collect()
    }
    assert len(out) == 6
    # the target-like raw doc is selected; out-of-domain docs are not
    assert out[3]["selected"]
    assert not out[4]["selected"] and not out[5]["selected"]
    # per-token mean: doubling an out-of-domain doc must not raise its score
    assert out[5]["score_milli"] == out[4]["score_milli"]
    assert out[6]["score_milli"] == 0 and out[6]["n_tokens"] == 0
    assert out[3]["score_milli"] > out[4]["score_milli"]


def test_dsir_select_empty_input_yields_false_not_null(spark):
    """Zero input rows: the boundary aggregate is one all-NULL row, and
    the selected flag must coalesce to false (NULL would silently drop
    semantics in any downstream filter on it)."""
    df = spark.createDataFrame([], "doc_id long, text string")
    out = textstats.dsir_select(df, target=F.lit(False), buckets=8)
    assert out.collect() == []
    assert dict(out.dtypes)["selected"] == "boolean"
    # one real row against an all-NULL boundary (select_n=0 -> empty
    # top-N -> NULL boundary) must also come back false, not NULL
    one = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"
    )
    rows = textstats.dsir_select(
        one, target=F.lit(True), buckets=8, select_n=0
    ).collect()
    assert rows[0]["selected"] is False


def test_weighted_sample_exact_past_int64(spark):
    """Weights big enough that h * Σw wraps int64 (hash_bits=20,
    Σw ≈ 2^53) must still sample exactly: the DECIMAL(38,0) comparison
    keeps P=1 rows in and P≈0 rows out where the wrapped product
    would flip decisions at random."""
    big = 1 << 52
    rows = [(1, big), (2, big), (3, 1)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = {
        r["doc_id"]: r["sampled"]
        for r in textstats.weighted_sample(df, "w", expected_n=2).collect()
    }
    # expected_n * w / Σw ≈ 1 for the two big rows, ≈ 2^-51 for row 3
    assert out[1] and out[2] and not out[3]


def test_pq_topk_exact_when_codebook_is_corpus(spark):
    """With n_codes = corpus size every vector IS its own codeword
    (self-distance 0), so ADC degenerates to the exact squared L2
    distance — the PQ analog of IVF's nprobe=n_cells exactness."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, size=(10, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter(F.col("vec_id") < 2)
    out = similarity.pq_topk(df, probes, k=9, m=4, n_codes=10).collect()

    Q = np.floor(vecs.astype(np.float64) * similarity.VEC_QUANT + 0.5)
    for r in out:
        exact = int(((Q[r["probe_id"]] - Q[r["neighbor_id"]]) ** 2).sum())
        assert r["adc_dist"] == exact
    # ranks are a permutation of 1..9 per probe, ordered by exact dist
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_id"], []).append((r["rank"], r["adc_dist"]))
    for p, lst in by_probe.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, 10))
        assert [x[1] for x in lst] == sorted(x[1] for x in lst)

    with pytest.raises(ValueError):
        similarity.pq_topk(df, probes, m=3, n_codes=4)  # 8 % 3 != 0


def test_weighted_sample_properties(spark):
    """Deterministic Poisson sampling: identical across runs, zero
    weight never sampled, a weight large enough to push inclusion
    probability to 1 is always sampled, and raising a weight can only
    add the row (monotone in w at fixed hash)."""
    rows = [(i, 10) for i in range(200)] + [(500, 0), (501, 10_000_000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out1 = {
        r["doc_id"]: r["sampled"]
        for r in textstats.weighted_sample(df, "w", expected_n=20).collect()
    }
    out2 = {
        r["doc_id"]: r["sampled"]
        for r in textstats.weighted_sample(df, "w", expected_n=20).collect()
    }
    assert out1 == out2 and len(out1) == 202
    assert not out1[500]          # zero weight: P = 0
    assert out1[501]              # dominant weight: P = 1
    # sample-size sanity on a uniform frame (no dominant row): each of
    # 200 rows has P = 20/200 = 0.1 -> expect ~20, loose bounds
    uni = spark.createDataFrame(
        [(i, 10) for i in range(200)], "doc_id long, w long"
    )
    n_base = sum(
        r["sampled"]
        for r in textstats.weighted_sample(uni, "w", expected_n=20).collect()
    )
    assert 5 < n_base < 50
    # monotone: doubling every weight with the same hash keeps supersets
    df2 = df.selectExpr("doc_id", "w * 2 AS w")
    out3 = {
        r["doc_id"]: r["sampled"]
        for r in textstats.weighted_sample(df2, "w", expected_n=20).collect()
    }
    assert all(out3[k] for k, v in out1.items() if v)


def test_selection_pipeline_composition(spark):
    """The composed plan equals running the four stages by hand —
    composition introduces no reordering or row loss."""
    from data__converter_spark.llmops.pipeline import selection_pipeline
    from data__converter_spark.llmops.textstats import (
        balanced_shards,
        dsir_select,
        gopher_rules,
        weighted_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(min_words=10, stopwords=["the", "a", "data", "table"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["size_bucket"], r["shard"])
        for r in selection_pipeline(
            docs, target=F.col("lang") == "en", expected_n=30, **kw
        ).collect()
    }
    kept = gopher_rules(docs, carry_cols=["text", "lang"], **kw).filter("keep")
    w = dsir_select(kept, target=F.col("lang") == "en", buckets=64).select(
        "doc_id", (F.col("score_milli") + 1).alias("w")
    )
    ids = {
        r["doc_id"]
        for r in weighted_sample(w, "w", expected_n=30).collect()
        if r["sampled"]
    }
    chosen = kept.join(
        spark.createDataFrame([(i,) for i in ids], "doc_id long"), "doc_id"
    )
    want = {
        r["doc_id"]: (r["n_tokens"], r["size_bucket"], r["shard"])
        for r in balanced_shards(chosen, n_shards=8).collect()
    }
    assert got == want and len(got) > 0


def test_pq_train_refines_and_converges_like_kmeans(spark):
    """pq_train invariants: per-(s,pos) member counts sum to the corpus
    size; with m=1 it degenerates to kmeans_step's clustering (same
    partition sizes per cluster); iterating with n_codes=1 is a fixed
    point (the mean of everything never moves)."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-1, 1, size=(40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.pq_train(df, m=4, n_codes=4, iterations=2).collect()
    per_sp = {}
    for r in out:
        per_sp[(r["s"], r["pos"])] = per_sp.get((r["s"], r["pos"]), 0) + r["n_vecs"]
    assert set(per_sp.values()) == {40}
    # n_codes=1: every iteration reproduces the global per-pos mean
    one_a = similarity.pq_train(df, m=2, n_codes=1, iterations=1).collect()
    one_b = similarity.pq_train(df, m=2, n_codes=1, iterations=3).collect()
    key = lambda r: (r["s"], r["pos"], r["sum_q"], r["n_vecs"])
    assert sorted(map(key, one_a)) == sorted(map(key, one_b))
    with pytest.raises(ValueError):
        similarity.pq_train(df, m=4, n_codes=4, iterations=0)


def test_ivf_pq_equals_pq_when_all_cells_probed(spark, tmp_path):
    """With nprobe = n_cells the IVF stage prunes nothing, so IVF-PQ —
    in memory and from the stored artifact — must reproduce plain PQ
    exactly (same codebook seed); with fewer probes the result set per
    probe is a subset of the candidates."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.uniform(-1, 1, size=(30, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    probes = df.filter(F.col("vec_id") < 2)
    full = similarity.ivf_pq_topk(
        df, probes, k=5, n_cells=4, nprobe=4, m=2, n_codes=8, seed=42
    ).collect()
    # plain PQ with the SAME codebook draw (ivf_pq uses seed+1)
    pq = similarity.pq_topk(df, probes, k=5, m=2, n_codes=8, seed=43).collect()
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )
    assert key(full) == key(pq) and len(full) == 10
    path = str(tmp_path / "idx")
    similarity.ann_index_build(df, path, n_cells=4, m=2, n_codes=8, seed=42)
    stored = similarity.ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2)
    assert key(stored.collect()) == key(pq)
    pruned = similarity.ivf_pq_topk(
        df, probes, k=5, n_cells=4, nprobe=1, m=2, n_codes=8, seed=42
    ).collect()
    full_pairs = {(r["probe_id"], r["neighbor_id"]): r["adc_dist"] for r in full}
    for r in pruned:
        # every pruned hit carries the same exact ADC distance
        got = full_pairs.get((r["probe_id"], r["neighbor_id"]))
        assert got is None or got == r["adc_dist"]


def test_ann_index_append_equals_frozen_book_rebuild(spark, tmp_path):
    """Incremental ANN maintenance (r11): building the artifact from
    the BASE vectors, appending the delta against the frozen books,
    and querying the on-disk index must equal (a) assigning the full
    corpus against those same books in one build, and (b) in-memory
    ivf_pq_topk over the full corpus whenever the base happens to
    contain the sampled centroids (it does here: md5 sampling over
    base vs full draws the same books when the delta ids lose every
    draw — asserted, not assumed)."""
    import numpy as np

    from data__converter_spark.llmops.similarity import (
        _seed_centroids,
        ann_index_append,
        ann_index_build,
        ivf_pq_from_index,
    )

    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, size=(40, 8)).astype(np.float32)
    full = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    base = full.filter(F.col("vec_id") % 4 != 0)
    delta = full.filter(F.col("vec_id") % 4 == 0)
    probes = full.filter(F.col("vec_id") < 3)
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )

    p_inc = str(tmp_path / "inc")
    ann_index_build(base, p_inc, n_cells=4, m=2, n_codes=8, seed=42)
    ann_index_append(delta, p_inc, m=2)
    got = key(
        ivf_pq_from_index(spark, p_inc, probes, k=5, nprobe=4, m=2).collect()
    )

    # (a) one-shot assignment of the FULL corpus against the same
    # frozen (base-sampled) books: overwrite the index table by hand
    p_one = str(tmp_path / "one")
    ann_index_build(base, p_one, n_cells=4, m=2, n_codes=8, seed=42)
    # rebuild the index over the full corpus against p_one's books
    from data__converter_spark.llmops.similarity import (
        _index_rows,
        _read_ann_books,
    )

    books = _read_ann_books(spark, p_one, 2)
    _index_rows(full, books, "embedding", "vec_id").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{p_one}/index")
    want = key(
        ivf_pq_from_index(spark, p_one, probes, k=5, nprobe=4, m=2).collect()
    )
    assert got == want and len(got) == 15

    # (b) when base's md5 draw == full's md5 draw, the incremental
    # index must also equal the plain in-memory op over everything
    b_ids, _ = _seed_centroids(base, 4, "embedding", "vec_id", 42)
    f_ids, _ = _seed_centroids(full, 4, "embedding", "vec_id", 42)
    if list(b_ids) == list(f_ids):
        b2, _ = _seed_centroids(base, 8, "embedding", "vec_id", 43)
        f2, _ = _seed_centroids(full, 8, "embedding", "vec_id", 43)
        if list(b2) == list(f2):
            mem = key(
                similarity.ivf_pq_topk(
                    full, probes, k=5, n_cells=4, nprobe=4, m=2,
                    n_codes=8, seed=42,
                ).collect()
            )
            assert got == mem


def test_corpus_split_stable_under_append(spark):
    """A document's split never changes when the corpus grows, and the
    three splits partition the corpus at roughly the requested ratios."""
    df1 = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    df2 = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    s1 = {r["doc_id"]: r["split"] for r in textstats.corpus_split(df1).collect()}
    s2 = {r["doc_id"]: r["split"] for r in textstats.corpus_split(df2).collect()}
    assert all(s2[k] == v for k, v in s1.items())  # append-stable
    from collections import Counter

    c = Counter(s2.values())
    assert 700 < c["train"] < 900 and 50 < c["val"] < 160 and 50 < c["test"] < 160
    with pytest.raises(ValueError):
        textstats.corpus_split(df1, train_permille=950, val_permille=100)


def test_tokenize_corpus_ids_and_oov(spark):
    """Vocab ids assign by (count desc, term); OOV maps to 0; digests
    equal exactly when the ordered id sequences equal; empty docs get
    the empty digest."""
    import hashlib

    rows = [
        (1, "b a b c b a"),   # counts: b=3(+1 doc2) a=2(+1) c=1
        (2, "b a zzz"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in textstats.tokenize_corpus(df, vocab_size=2).collect()
    }
    # vocab: b(4)->1, a(3)->2; c and zzz are OOV
    want1 = hashlib.sha256("1 2 1 0 1 2".encode()).hexdigest()
    want2 = hashlib.sha256("1 2 0".encode()).hexdigest()
    assert out[1]["ids_digest"] == want1 and out[1]["n_oov"] == 1
    assert out[2]["ids_digest"] == want2 and out[2]["n_oov"] == 1
    assert out[3]["n_tokens"] == 0
    assert out[3]["ids_digest"] == hashlib.sha256(b"").hexdigest()


def test_near_dedup_keep_best_prefers_score(spark):
    """The quality-keep rule retains the highest-scoring cluster member
    (here: longest text), where the min-id rule would keep doc 1."""
    words = [f"w{i}" for i in range(40)]
    base = " ".join(words)
    longer = base + " extra tail words here"
    rows = [(1, base), (2, longer), (9, "totally different content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from data__converter_spark.llmops.textstats import token_count_col

    kept = sorted(
        r["doc_id"]
        for r in dedup.near_dedup_keep_best(
            df,
            score=token_count_col("text").cast("bigint"),
            k=3,
            num_hashes=64,
            bands=16,
            threshold=0.5,
        ).collect()
    )
    assert kept == [2, 9]  # 2 beats 1 on length; 9 untouched
    minid = sorted(
        r["doc_id"]
        for r in dedup.near_dedup_exact(
            df, k=3, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    )
    assert minid == [1, 9]


def test_bpe_train_matches_reference_counter(spark):
    """The distributed merge loop reproduces the canonical Sennrich
    BPE reference (pure-Python Counter over the word vocabulary with
    identical greedy replace semantics and tie-break) merge-for-merge
    on the textbook low/lower/newest/widest corpus."""
    from collections import Counter

    from data__converter_spark.llmops.textstats import bpe_tokenize, bpe_train

    docs = [
        (1, "low low low low low lower lower newest newest newest"
            " newest newest newest widest widest widest"),
        (2, "newest widest low"),
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def ref_bpe(texts, n):
        # canonical token-LIST greedy merge (Sennrich) — a flat-string
        # replace reference would share the very symbol-boundary bug
        # this pins against
        def merge_word(syms, a, b):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        words = Counter(w.lower() for t in texts for w in t.split())
        seqs = [(list(w) + ["</w>"], f) for w, f in words.items()]
        merges = []
        for rank in range(1, n + 1):
            pc = Counter()
            for syms, f in seqs:
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            if not pc:
                break
            (a, b), cnt = sorted(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[0]
            merges.append((rank, a, b, cnt))
            seqs = [(merge_word(syms, a, b), f) for syms, f in seqs]
        return merges

    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(df, n_merges=8).collect()
    ]
    assert got == ref_bpe([t for _, t in docs], 8)
    # the textbook outcome: 'est</w>' assembles within the first 3 merges
    assert got[0][1:3] == ("e", "s") and got[2][1:3] == ("est", "</w>")

    out = {r["doc_id"]: r for r in bpe_tokenize(df, n_merges=8).collect()}
    assert out[3]["n_words"] == 0 and out[3]["n_bpe_tokens"] == 0
    import hashlib

    assert out[3]["pieces_digest"] == hashlib.sha256(b"").hexdigest()
    # merging never changes word count, only piece count, and piece
    # count is bounded by character count + one EOW per word
    assert out[2]["n_words"] == 3
    assert 3 <= out[2]["n_bpe_tokens"] <= len("newest widest low") + 3


def test_bpe_train_early_stop_when_pairs_exhaust(spark):
    """A corpus whose words fully fuse before n_merges: the loop stops
    early and returns only the merges that exist (the unrolled oracle
    agrees because an empty best-pair CTE empties later stages)."""
    from data__converter_spark.llmops.textstats import bpe_train

    df = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    got = bpe_train(df, n_merges=8).collect()
    # 'ab' -> ' a b </w>': merge 1 fuses (a,b), merge 2 fuses
    # (ab,</w>), then a single symbol remains -> stop at 2
    assert [(r["left_sym"], r["right_sym"]) for r in got] == [
        ("a", "b"), ("ab", "</w>"),
    ]
    assert [r["merge_rank"] for r in got] == [1, 2]
    assert all(r["pair_count"] == 3 for r in got)


def test_bpe_tokenize_with_pretrained_merges(spark):
    """bpe_tokenize accepts an externally trained merge table and
    applies it in rank order — train-once/apply-many, the production
    split (train on a sample, encode the full corpus)."""
    from data__converter_spark.llmops.textstats import bpe_tokenize

    df = spark.createDataFrame(
        [(1, "hello hello"), (2, "help")], "doc_id long, text string"
    )
    merges = [(1, "h", "e", 3), (2, "l", "l", 2)]
    out = {
        r["doc_id"]: r
        for r in bpe_tokenize(df, merges=merges).collect()
    }
    # 'hello' -> he ll o </w> (4 pieces); 'help' -> he l p </w> (4)
    assert out[1]["n_bpe_tokens"] == 8 and out[1]["n_words"] == 2
    assert out[2]["n_bpe_tokens"] == 4


def test_boilerplate_scrub_drops_every_occurrence(spark):
    """Paragraphs in >= min_docs distinct docs vanish from ALL
    documents (unlike paragraph_dedup's keep-first); within-doc
    repetition alone never triggers the bar; all-boilerplate docs
    come back empty rather than vanishing; order is preserved."""
    from data__converter_spark.llmops.dedup import boilerplate_scrub

    banner = "accept cookies"
    rows = [
        (1, f"{banner}\n\nunique one\n\n{banner}"),
        (2, f"{banner}\n\nunique two"),
        (3, f"{banner}"),
        (4, "solo\n\nsolo\n\nsolo"),   # repeated only WITHIN one doc
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in boilerplate_scrub(df, min_docs=3).collect()
    }
    assert len(out) == 5
    assert out[1]["text_scrubbed"] == "unique one"
    assert (out[1]["n_paras_kept"], out[1]["n_paras_dropped"]) == (1, 2)
    assert out[2]["text_scrubbed"] == "unique two"
    assert out[3]["text_scrubbed"] == "" and out[3]["n_paras_dropped"] == 1
    # df counts DISTINCT docs: 3 copies in one doc is df=1, kept
    assert out[4]["text_scrubbed"] == "solo\n\nsolo\n\nsolo"
    assert out[4]["n_paras_dropped"] == 0
    assert out[5]["text_scrubbed"] == "" and out[5]["n_paras_kept"] == 0


def test_similarity_lsh_recall_bounds_and_consistency(spark):
    """Recall@10 per probe is in [0, 10] (0 is legal — a probe whose
    bucket holds no true neighbors at tiny SF), the milli conversion
    is exact, every probe appears exactly once, and the index finds at
    least some truth overall."""
    from data__converter_spark.workloads import q_similarity_lsh_recall

    rows = q_similarity_lsh_recall(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert len({r["probe_id"] for r in rows}) == len(rows)
    for r in rows:
        assert 0 <= r["n_matched"] <= 10
        assert r["recall_milli"] == r["n_matched"] * 100
    assert any(r["n_matched"] >= 1 for r in rows)


def test_bpe_merge_never_fuses_across_symbol_boundary(spark):
    """Regression (round-6 review finding): pair (a, b) must NOT merge
    where the adjacent symbol merely STARTS with b.  Corpus bc x10,
    ab x6, abc x5 trains (b,c), (bc,</w>), (a,b); applying them to
    'abc' must yield the two pieces [a, bc</w>] — a flat-string
    replace representation fused it to one piece 'abc</w>'."""
    from data__converter_spark.llmops.textstats import bpe_tokenize, bpe_train
    from data__converter_spark.scale import release_persisted

    rows = [(1, " ".join(["bc"] * 10)), (2, " ".join(["ab"] * 6)),
            (3, " ".join(["abc"] * 5))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(df, n_merges=3).collect()
    ]
    release_persisted()
    assert [(m[1], m[2]) for m in merges] == [
        ("b", "c"), ("bc", "</w>"), ("a", "b")
    ], merges
    out = {
        r["doc_id"]: r for r in bpe_tokenize(df, merges=merges).collect()
    }
    release_persisted()
    # 'abc' -> [a, bc</w>]: 2 pieces per word, 5 words
    assert out[3]["n_bpe_tokens"] == 10, out[3]
    # 'ab' -> [ab, </w>] (merge 3 fuses a+b; (ab,</w>) was never merged)
    assert out[2]["n_bpe_tokens"] == 12, out[2]
    # 'bc' -> [bc</w>]: fully fused, 1 piece
    assert out[1]["n_bpe_tokens"] == 10, out[1]


def test_soft_dedup_weights_mass(spark, dup_docs):
    """Soft dedup downweights instead of dropping: every row survives,
    cluster members share 1000 div size milli-units, and each distinct
    content's total expected mass stays ~1000 (exactly 1000 when the
    size divides it)."""
    out = {
        r["doc_id"]: (r["cluster_size"], r["weight_milli"])
        for r in dedup.soft_dedup_weights(dup_docs).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1] == (2, 500) and out[2] == (2, 500)  # the exact-dup pair
    for i in (3, 4, 5):
        assert out[i] == (1, 1000)


def test_bpe_train_venues_agree(spark, monkeypatch):
    """The gated hybrid's two venues (driver-local merge loop vs
    distributed supersteps) must produce the identical merge table —
    forced by zeroing the driver gate for the distributed run."""
    docs = [
        (1, "low lower lowest low low slow slower"),
        (2, "newest widest low news new newer"),
        (3, "the the the them theme thematic"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    local = textstats.bpe_train_merges(df, n_merges=6)
    monkeypatch.setattr(textstats, "BPE_DRIVER_MAX_WORDS", 0)
    dist = textstats.bpe_train_merges(df, n_merges=6)
    assert local == dist


def test_bloom_prescreen_dedup_invariants(spark):
    """The prescreen can never lose a duplicate (Bloom has no false
    negatives, so every true duplicate is confirmed) and confirmed
    implies maybe; a definitely-new doc may only ever be a false
    positive on maybe, never confirmed."""
    ref = spark.createDataFrame(
        [(i, f"shared doc {i}") for i in range(50)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, f"shared doc {i}") for i in range(0, 10)]  # true dups
        + [(200 + i, f"fresh doc {i}") for i in range(10)],   # new
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["maybe"], r["confirmed"])
        for r in dedup.bloom_prescreen_dedup(
            new, ref, m_bits=512, k_hashes=3
        ).collect()
    }
    assert len(out) == 20
    for i in range(10):  # every true duplicate confirmed
        assert out[100 + i] == (True, True)
    for i in range(10):  # fresh docs never confirmed
        maybe, confirmed = out[200 + i]
        assert not confirmed


def test_setsim_prefix_equals_bruteforce(spark):
    """PPJoin prefix filtering is EXACT: pair-for-pair equal to the
    all-pairs Jaccard join on a corpus small enough to brute-force,
    and jac_milli is the integer-floored Jaccard."""
    from data__converter_spark.llmops.dedup import setsim_join_prefix

    rows = [
        ("a", [1, 2, 3, 4]),
        ("b", [1, 2, 3, 5]),       # jac(a,b) = 3/5 = 600
        ("c", [1, 2, 3, 4]),       # jac(a,c) = 1000
        ("d", [7, 8]),             # disjoint-ish
        ("e", [7, 8, 9]),          # jac(d,e) = 2/3 = 666
        ("f", [42]),               # singleton, no partner
    ]
    df = spark.createDataFrame(rows, "doc_id string, hs array<long>")
    got = {
        (r.id_a, r.id_b): r.jac_milli
        for r in setsim_join_prefix(df, "hs", "doc_id", 500).collect()
    }
    # brute force
    sets = dict(rows)
    want = {}
    ids = sorted(sets)
    for i, x in enumerate(ids):
        for y in ids[i + 1:]:
            inter = len(set(sets[x]) & set(sets[y]))
            uni = len(set(sets[x]) | set(sets[y]))
            if 1000 * inter >= 500 * uni:
                want[(x, y)] = 1000 * inter // uni
    assert got == want and ("a", "c") in got and got[("a", "c")] == 1000


def test_setsim_prefix_matches_ngram_pairs(spark, documents):
    """Cross-validation on real smoke docs: PPJoin over the md5-32
    shingle-hash sets finds the same pair set as the inverted-index
    exact Jaccard join over the shingle strings (the universes differ
    only on 32-bit collisions, absent in the smoke corpus)."""
    from data__converter_spark.llmops.dedup import (
        _shingle_hash_sets,
        ngram_jaccard_pairs,
        setsim_join_prefix,
    )

    hs = _shingle_hash_sets(documents, "text", "doc_id", 3)
    pp = {
        (r.id_a, r.id_b)
        for r in setsim_join_prefix(hs, "hs", "doc_id", 500).collect()
    }
    ref = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            documents, "text", "doc_id", 3, 0.5
        ).collect()
    }
    assert pp == ref and len(pp) > 0


def test_setsim_prefix_threshold_validation(spark):
    from data__converter_spark.llmops.dedup import setsim_join_prefix

    df = spark.createDataFrame([("a", [1])], "doc_id string, hs array<long>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold_milli"):
        setsim_join_prefix(df, "hs", "doc_id", 0)


def test_setsim_prefix_hot_item_cap(spark):
    """max_item_freq drops ultra-hot items from BOTH the prefix index
    and the verify universe: a pair whose only similarity came through
    the hot item disappears, while genuinely-similar pairs survive
    with their Jaccard recomputed on the reduced sets."""
    from data__converter_spark.llmops.dedup import setsim_join_prefix

    rows = [
        ("a", [99, 1, 2, 3]),
        ("b", [99, 1, 2, 4]),   # without 99: jac = 2/4 = 500
        ("c", [99, 7, 8, 9]),
        ("d", [99, 10, 11, 12]),  # c-d share ONLY hot 99: jac = 1/7 = 142
    ]
    df = spark.createDataFrame(rows, "doc_id string, hs array<long>")
    uncapped = {
        (r.id_a, r.id_b)
        for r in setsim_join_prefix(df, "hs", "doc_id", 100).collect()
    }
    assert ("c", "d") in uncapped  # 142 >= 100, found through hot 99
    capped = setsim_join_prefix(df, "hs", "doc_id", 100, max_item_freq=3)
    got = {(r.id_a, r.id_b): r.jac_milli for r in capped.collect()}
    assert ("c", "d") not in got  # hot item gone -> nothing shared
    assert got[("a", "b")] == 500  # inter {1,2} over union {1,2,3,4}


def test_scatter_matrix_exact_moments(spark):
    import numpy as np

    from data__converter_spark.llmops.similarity import VEC_QUANT, scatter_matrix

    vecs = {
        0: [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]],
        1: [[-1.0, 0.5]],
    }
    rows = [(g, v) for g, vs in vecs.items() for v in vs]
    df = spark.createDataFrame(rows, "label long, emb array<double>")
    # force multiple batches so partial grams really merge
    out = scatter_matrix(df.repartition(3), "emb", "label").collect()
    got = {(r["grp"], r["i"], r["j"]): r["v"] for r in out}
    for g, vs in vecs.items():
        m = np.floor(np.array(vs) * VEC_QUANT + 0.5).astype(np.int64)
        assert got[(g, -1, -1)] == len(vs)
        for i in range(2):
            assert got[(g, i, -1)] == int(m[:, i].sum())
            for j in range(i, 2):
                assert got[(g, i, j)] == int((m[:, i] * m[:, j]).sum())
    # upper triangle only: no (1, 0) row
    assert (0, 1, 0) not in got


def test_vocab_oov_cross_slice(spark):
    from data__converter_spark.llmops.textstats import vocab_oov

    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog")], "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        [(10, "the cat flew"), (11, "le chien"), (12, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in vocab_oov(ref, tgt, vocab_size=100).collect()}
    # doc 10: 'flew' is OOV -> 1/3 -> 333 permille
    assert out[10]["n_tokens"] == 3 and out[10]["n_oov"] == 1
    assert out[10]["oov_permille"] == 333
    # doc 11: everything OOV
    assert out[11]["oov_permille"] == 1000
    # blank doc contributes no tokens -> absent (explode of empty array)
    assert 12 not in out


def test_vocab_oov_vocab_cap_and_case(spark):
    from data__converter_spark.llmops.textstats import vocab_oov

    # vocab_size=1 keeps only the most frequent ref term ('a' x3);
    # matching is lowercased on both sides
    ref = spark.createDataFrame(
        [(1, "a a A b")], "doc_id long, text string"
    )
    tgt = spark.createDataFrame([(9, "A b")], "doc_id long, text string")
    r = vocab_oov(ref, tgt, vocab_size=1).collect()[0]
    assert r["n_tokens"] == 2 and r["n_oov"] == 1 and r["oov_permille"] == 500


def test_label_noise_scan_flags_mislabels(spark):
    from data__converter_spark.llmops.similarity import label_noise_scan

    # two tight clusters; row 5 carries label 1 but sits in cluster 0
    rows = [
        (0, 0, [0.0, 0.0]),
        (1, 0, [0.1, 0.0]),
        (2, 0, [0.0, 0.1]),
        (3, 1, [1.0, 1.0]),
        (4, 1, [0.9, 1.0]),
        (5, 1, [0.05, 0.05]),
    ]
    df = spark.createDataFrame(rows, "vid long, label long, emb array<double>")
    out = {r["vid"]: r for r in label_noise_scan(df, "emb", "label", "vid").collect()}
    assert out[5]["is_noisy"] and out[5]["best_lab"] == 0
    for v in (0, 1, 2, 3, 4):
        assert not out[v]["is_noisy"], v
    # exact integer distances: own-cluster distance of a clean row is
    # strictly less than to the other centroid
    assert out[0]["d_own"] == out[0]["d_best"]
    assert out[5]["d_best"] < out[5]["d_own"]


def test_deletion_neighborhood_pairs_finds_all_edit1_kinds(spark):
    from data__converter_spark.llmops.dedup import deletion_neighborhood_pairs

    rows = [
        (1, "abc"),   # substitution partner of 2
        (2, "abd"),
        (3, "ab"),    # deletion partner of 1 and 2
        (4, "xyz"),   # no partner
        (5, "abc"),   # exact duplicate of 1 -> dist 0
    ]
    df = spark.createDataFrame(rows, "id long, v string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in deletion_neighborhood_pairs(df, "v", "id").collect()
    }
    assert got == {
        (1, 2, 1),  # abc ~ abd (substitution)
        (1, 3, 1),  # abc ~ ab  (deletion)
        (2, 3, 1),  # abd ~ ab
        (1, 5, 0),  # exact dup
        (2, 5, 1),
        (3, 5, 1),
    }


def test_deletion_neighborhood_verification_kills_distance2(spark):
    from data__converter_spark.llmops.dedup import deletion_neighborhood_pairs

    # 'abcd' (del a -> bcd) and 'bcde' (del e -> bcd) share a variant
    # but are distance 2 — the candidate must be verified away
    df = spark.createDataFrame([(1, "abcd"), (2, "bcde")], "id long, v string")
    assert deletion_neighborhood_pairs(df, "v", "id").count() == 0


def test_deletion_neighborhood_hot_variant_cap(spark):
    from data__converter_spark.llmops.dedup import deletion_neighborhood_pairs

    # 60 identical strings: every variant is hot at cap 50 -> no pairs
    df = spark.createDataFrame([(i, "same") for i in range(60)], "id long, v string")
    assert (
        deletion_neighborhood_pairs(df, "v", "id", max_variant_freq=50).count()
        == 0
    )
    # raising the cap admits them again
    assert (
        deletion_neighborhood_pairs(df, "v", "id", max_variant_freq=100).count()
        == 60 * 59 // 2
    )


def test_text_index_bucketed_table_drops_postings_exchange(spark):
    """build_text_index(bucket_table=...) saves the postings bucketed
    by term: ranking against it must (a) equal the plain-parquet
    artifact row-for-row and (b) plan with FEWER exchanges — the
    postings side reads co-located buckets, so only the small query
    side shuffles for the term join."""
    from data__converter_spark.llmops.similarity import (
        bm25_from_index,
        build_text_index,
    )

    q = spark.createDataFrame(
        [(100, "zebra the"), (101, "cat mat the")], "doc_id long, text string"
    )
    c = spark.createDataFrame(
        [
            (1, "the zebra runs"),
            (2, "the the the"),
            (3, "the cat sat"),
            (4, "the dog sat on a mat"),
        ],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bp, bs = build_text_index(c, bucket_table="tix_post", n_buckets=4)
        lp, ls = build_text_index(c)
        bucketed = bm25_from_index(q, bp, bs, top_k=4)
        lazy = bm25_from_index(q, lp, ls, top_k=4)
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, lazy.collect())
        )
        def n_exchanges(df):
            p = df._jdf.queryExecution().executedPlan().toString()
            return p.count("Exchange")
        assert n_exchanges(bucketed) < n_exchanges(lazy)
        # mutually exclusive artifact forms
        import pytest as _pytest

        with _pytest.raises(ValueError, match="not both"):
            build_text_index(c, path="/tmp/x", bucket_table="tix_bad")
    finally:
        spark.sql("DROP TABLE IF EXISTS tix_post")
        spark.sql("DROP TABLE IF EXISTS tix_post_stats")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cluster_split_never_straddles_and_matches_corpus_split(spark):
    """Leakage-safe split: every near-dup cluster lands whole in one
    split (engineered pairs whose members' OWN-id hashes straddle
    splits — the exact leak corpus_split permits), and documents with
    no near dup get corpus_split's identical assignment."""
    from data__converter_spark.llmops.dedup import cluster_split
    from data__converter_spark.llmops.textstats import corpus_split

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    base = {
        r["doc_id"]: r["split"]
        for r in corpus_split(docs, train_permille=800, val_permille=100)
        .collect()
    }
    # build pairs that join ids from DIFFERENT per-doc splits
    ids = sorted(base)
    train_ids = [i for i in ids if base[i] == "train"]
    test_ids = [i for i in ids if base[i] == "test"]
    assert train_ids and test_ids  # hash split produces both at n=200
    pairs = [
        (min(a, b), max(a, b))
        for a, b in zip(train_ids[:5], test_ids[:5])
    ]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in cluster_split(docs, pdf).collect()
    }
    assert len(out) == 200
    # (1) no cluster straddles: both members share cluster and split
    for a, b in pairs:
        assert out[a][0] == out[b][0] == min(a, b)
        assert out[a][1] == out[b][1]
        # and the per-doc split WOULD have leaked for at least some
    assert any(base[a] != base[b] for a, b in pairs)
    # (2) singletons agree with corpus_split exactly
    clustered = {x for p in pairs for x in p}
    for i in ids:
        if i not in clustered:
            assert out[i] == (i, base[i]), f"singleton {i} diverged"
    # (3) invalid permille rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="invalid split"):
        cluster_split(docs, pdf, train_permille=950, val_permille=100)


def test_cluster_split_string_ids_keep_native_cluster_id(spark):
    """ADVICE r10 regression: string doc ids must come back with a
    STRING cluster_id (the canonical member's id), not NULL from an
    unconditional bigint cast."""
    from data__converter_spark.llmops.dedup import cluster_split

    docs = spark.createDataFrame(
        [("doc-a",), ("doc-b",), ("doc-z",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("doc-a", "doc-b")], "id_a string, id_b string"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in cluster_split(docs, pairs).collect()
    }
    assert out["doc-a"][0] == out["doc-b"][0] == "doc-a"
    assert out["doc-a"][1] == out["doc-b"][1]
    assert out["doc-z"][0] == "doc-z"
    assert all(cid is not None for cid, _ in out.values())


@pytest.mark.slow
def test_ingest_pipeline_drops_dups_and_inherits_splits(spark):
    """Composed ingest loop (r11): an exact-dup batch doc drops, a
    NEAR-dup batch doc inherits its corpus twin's cluster and split
    (the leakage guarantee), and a fresh doc gets its own singleton
    cluster with corpus_split-identical assignment."""
    from data__converter_spark.llmops.dedup import cluster_split
    from data__converter_spark.llmops.pipeline import ingest_pipeline

    base_text = "the quick brown fox jumps over the lazy dog tonight"
    near_text = "the quick brown fox jumps over the lazy dog today"
    corpus = spark.createDataFrame(
        [(1, base_text), (2, "completely different content here now then")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base_text),           # exact dup of doc 1 -> drops
            (11, near_text),           # near dup of doc 1 -> inherits
            (12, "unrelated fresh text about spark plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["split"], r["dl"])
        for r in ingest_pipeline(batch, corpus).collect()
    }
    assert set(out) == {11, 12}, "exact dup must drop, survivors stay"
    # the near dup inherits doc 1's cluster => canonical id 1
    assert out[11][0] == 1
    # and therefore doc 1's split: recompute via cluster_split directly
    live = corpus.unionByName(batch.filter(F.col("doc_id") != 10))
    pairs = spark.createDataFrame([(1, 11)], "id_a long, id_b long")
    ref = {
        r["doc_id"]: r["split"]
        for r in cluster_split(live, pairs).collect()
    }
    assert out[11][1] == ref[1] == ref[11]
    # fresh doc: singleton cluster = own id, dl = token count
    assert out[12][0] == 12
    assert out[12][2] == 8
    assert out[11][2] == 10


def test_ann_tombstone_delete_and_compact(spark, tmp_path):
    """ANN takedown on the one artifact layout: tombstoned vids vanish
    from rankings (survivors keep their exact ADC distances), deleting
    unknown ids is a no-op, and ann_index_compact folds the tombstones
    into the cell-partitioned index table — rankings unchanged, fewer
    index rows, an empty tombstone table, no staging residue."""
    import os

    import numpy as np

    from data__converter_spark.llmops.similarity import (
        _INDEX_SCHEMA,
        ann_index_build,
        ann_index_compact,
        ann_index_delete,
        ivf_pq_from_index,
    )

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-1, 1, size=(40, 8)).astype(np.float32)
    full = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    probes = full.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    ann_index_build(full, path, n_cells=4, m=2, n_codes=8, seed=42)
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )
    before = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    )
    doomed = {i for i in range(40) if i % 5 == 0}
    ann_index_delete(
        spark.createDataFrame([(i,) for i in doomed], "vec_id long"), path
    )
    ann_index_delete(  # unknown ids: no-op
        spark.createDataFrame([(999,)], "vec_id long"), path
    )
    after = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    )
    assert all(n not in doomed for _, n, _, _ in after)
    # survivors keep their exact ADC distances from the pre-delete run
    dist_before = {(p, n): d for p, n, d, _ in before}
    for p, n, d, _ in after:
        assert dist_before.get((p, n), d) == d
    # compact folds tombstones in; rankings unchanged, the table shrinks
    index = lambda: spark.read.schema(_INDEX_SCHEMA).parquet(f"{path}/index")
    n_rows_before = index().count()
    ann_index_compact(spark, path)
    assert index().count() == n_rows_before - 2 * len(doomed)  # m=2 rows each
    assert not {r["vid"] for r in index().collect()} & doomed
    assert spark.read.parquet(f"{path}/tombstones").count() == 0
    assert [d for d in os.listdir(path) if "__" in d] == []
    compacted = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    )
    assert compacted == after


def test_ann_partitioned_append_lands_in_cell_dirs(spark, tmp_path):
    """Appending to the cell-partitioned index: delta rows land in
    their cells' directories, the base files stay untouched, and the
    partition-filter query path sees them — equal to ranking the index
    rows of the FULL corpus encoded against the same frozen
    (base-drawn) books."""
    import glob

    import numpy as np

    from data__converter_spark.llmops.similarity import (
        _index_rows,
        _read_ann_books,
        ann_index_append,
        ann_index_build,
        ivf_pq_from_index,
        ivf_pq_from_state,
    )

    rng = np.random.RandomState(41)
    vecs = rng.uniform(-1, 1, size=(36, 8)).astype(np.float32)
    full = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(36)],
        "vec_id long, embedding array<float>",
    )
    base = full.filter(F.col("vec_id") % 4 != 0)
    delta = full.filter(F.col("vec_id") % 4 == 0)
    probes = full.filter(F.col("vec_id") < 2)
    path = str(tmp_path / "idx")
    ann_index_build(base, path, n_cells=4, m=2, n_codes=8)
    files = lambda: {
        f: open(f, "rb").read()
        for f in glob.glob(f"{path}/index/cell=*/*.parquet")
    }
    base_files = files()
    ann_index_append(delta, path, m=2)
    after = files()
    assert all(after[f] == b for f, b in base_files.items())
    assert len(after) > len(base_files)
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )
    got = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    )
    one_shot = _index_rows(full, _read_ann_books(spark, path, 2), "embedding", "vec_id")
    want = key(
        ivf_pq_from_state(spark, path, one_shot, probes, k=5, nprobe=4, m=2).collect()
    )
    assert got == want and got


def test_ann_index_compact_staging_hygiene_and_crash_recovery(spark, tmp_path):
    """r12 (ADVICE r11): ann_index_compact's rewrite is a staged-
    _SUCCESS-then-rename swap — no __staged/__bak/__new residue after
    a clean run, and every injected crash state between the stages is
    repaired by the entry-time recovery probe with rankings intact."""
    import os
    import shutil

    import numpy as np

    from data__converter_spark.llmops.similarity import (
        ann_index_build,
        ann_index_compact,
        ann_index_delete,
        ivf_pq_from_index,
    )

    rng = np.random.RandomState(12)
    vecs = rng.uniform(-1, 1, size=(30, 8)).astype(np.float32)
    full = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    probes = full.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    ann_index_build(full, path, n_cells=4, m=2, n_codes=8, seed=42)
    ann_index_delete(
        spark.createDataFrame([(i,) for i in range(0, 30, 6)], "vec_id long"),
        path,
    )
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )
    want = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    )
    ann_index_compact(spark, path)
    # hygiene: no staging or backup residue
    residue = [
        d for d in os.listdir(path)
        if "__staged" in d or "__bak" in d or "__new" in d
    ]
    assert residue == []
    assert key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    ) == want

    # injected crash 1: between the renames — live table gone, staged
    # copy committed (_SUCCESS present).  Recovery must promote it.
    index, staged = f"{path}/index", f"{path}/index__staged"
    shutil.copytree(index, staged)
    shutil.rmtree(index)
    assert os.path.exists(f"{staged}/_SUCCESS")
    ann_index_compact(spark, path)
    assert os.path.isdir(index) and not os.path.isdir(staged)
    assert key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    ) == want

    # injected crash 2: write died mid-flight — staged dir WITHOUT
    # _SUCCESS, live intact.  Recovery must drop the partial staging.
    os.makedirs(f"{staged}/cell=0")
    with open(f"{staged}/cell=0/part-00000.parquet", "wb") as f:
        f.write(b"partial")
    ann_index_compact(spark, path)
    assert not os.path.isdir(staged)

    # injected crash 3: after the swap, before backup cleanup — both
    # live and __bak exist.  Recovery must drop the backup.
    shutil.copytree(index, f"{index}__bak")
    ann_index_compact(spark, path)
    assert not os.path.isdir(f"{index}__bak")
    assert key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    ) == want

    # injected crash 4: old table demoted but staged never committed —
    # __bak only.  Recovery must restore the backup.
    shutil.copytree(index, f"{index}__bak")
    shutil.rmtree(index)
    ann_index_compact(spark, path)
    assert os.path.isdir(index) and not os.path.isdir(f"{index}__bak")
    assert key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=4, m=2).collect()
    ) == want


@pytest.mark.slow
def test_ingest_incremental_equals_full_repair_two_batches(spark, tmp_path):
    """r12 (VERDICT r11 Next #2): ingest_pipeline_incremental over a
    standing state == the full-repair ingest_pipeline, batch by
    batch, on a two-batch sequence — exact dups drop, near-dups of
    standing docs inherit their cluster/split, and the second batch
    sees the first batch's survivors as standing corpus (digests,
    buckets, pairs all committed into the state)."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline,
        ingest_pipeline_incremental,
        ingest_state_build,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "spark catalyst optimizes declarative plans into physical stages",
        "minhash signatures band into buckets for candidate generation",
        "completely unrelated text about mountain weather patterns today",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t))
    # near-dups of corpus docs landing in batch 1 and batch 2
    rows.append((10, base[0] + " tail"))           # batch1 near-dup of 0
    rows.append((11, base[1]))                      # batch1 EXACT dup of 1
    rows.append((12, "fresh batch one document with its own words"))
    rows.append((20, base[2] + " extra"))          # batch2 near-dup of 2
    rows.append((21, base[0] + " tail"))           # batch2 EXACT dup of 10
    rows.append((22, rows[6][1] + " shifted"))      # batch2 near-dup of 12
    rows.append((23, "another standalone document arriving in batch two"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter(F.col("doc_id") < 10)
    batch1 = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
    batch2 = docs.filter(F.col("doc_id") >= 20)
    kw = dict(k=3, num_hashes=64, bands=16, threshold=0.3)

    path = str(tmp_path / "state")
    ingest_state_build(corpus, path, **kw)
    key = lambda df: sorted(map(tuple, df.collect()))
    # incremental receipts carry (bucket_permille, kind) on top of the
    # full-repair schema; batch rows projected back for the equality
    batch_rows = lambda df: key(
        df.filter("kind = 'batch'").select(
            "doc_id", "cluster_id", "split", "dl"
        )
    )

    r1_df = ingest_pipeline_incremental(batch1, path, **kw)
    inc1 = batch_rows(r1_df)
    full1 = key(ingest_pipeline(batch1, corpus, **kw))
    assert inc1 == full1
    # no merge-shaped edges in batch 1: no reassignment receipts
    assert r1_df.filter("kind = 'reassign'").count() == 0
    # exact dup 11 dropped; near-dup 10 present
    ids1 = [t[0] for t in inc1]
    assert 11 not in ids1 and 10 in ids1 and 12 in ids1

    # full-repair's standing corpus for batch 2 = corpus + batch-1
    # survivors (exact-dup 11 never entered)
    live1 = corpus.unionByName(
        batch1.filter(F.col("doc_id") != 11).select("doc_id", "text")
    )
    inc2 = batch_rows(ingest_pipeline_incremental(batch2, path, **kw))
    full2 = key(ingest_pipeline(batch2, live1, **kw))
    assert inc2 == full2
    ids2 = [t[0] for t in inc2]
    # 21 is an exact dup of batch-1 survivor 10: the state must have
    # committed 10's digest for it to drop
    assert 21 not in ids2 and 20 in ids2 and 22 in ids2 and 23 in ids2
    # 22 near-dups batch-1 survivor 12: same cluster, same split —
    # the cross-batch pair graph lives in the state
    row12 = {t[0]: t for t in inc1}[12]
    row22 = {t[0]: t for t in inc2}[22]
    assert row22[1] == row12[1] and row22[2] == row12[2]


@pytest.mark.slow
def test_ann_index_retrain_migration_lifecycle(spark, tmp_path):
    """r12 (VERDICT r11 Next #4): ann_index_retrain retrains the
    books on the current corpus and swaps the artifact generation
    atomically — retrained == fresh-build exactly, standing
    tombstones fold in, an artifact built from the stale corpus
    migrates to the fresh generation,
    the recall alarm resets, and every injected crash state of the
    generation swap recovers to a consistent artifact."""
    import os
    import shutil

    import numpy as np

    from data__converter_spark.llmops.similarity import (
        ann_index_append,
        ann_index_build,
        ann_index_delete,
        ann_index_retrain,
        brute_force_topk,
        ivf_pq_from_index,
    )

    rng = np.random.RandomState(7)
    # base cluster at one corner, delta drifted to the opposite one —
    # base-trained books are genuinely stale for the delta
    base_v = rng.uniform(0.5, 1.0, size=(30, 8)).astype(np.float32)
    delta_v = rng.uniform(-1.0, -0.5, size=(10, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in base_v[i]]) for i in range(30)]
    rows += [(100 + i, [float(x) for x in delta_v[i]]) for i in range(10)]
    full = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    base = full.filter(F.col("vec_id") < 100)
    delta = full.filter(F.col("vec_id") >= 100)
    probes = full.filter(F.col("vec_id").isin(100, 104, 108))
    key = lambda rs: sorted(
        (r["probe_id"], r["neighbor_id"], r["adc_dist"], r["rank"]) for r in rs
    )

    def recall(approx):
        truth = {
            (r["probe_id"], r["neighbor_id"])
            for r in brute_force_topk(full, probes, k=5).collect()
        }
        hits = sum(
            1 for r in approx if (r[0], r[1]) in truth
        )
        return hits / len(truth)

    path = str(tmp_path / "idx")
    ann_index_build(base, path, n_cells=4, m=2, n_codes=8, seed=42)
    ann_index_append(delta, path, m=2)
    drifted = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2).collect()
    )
    ann_index_retrain(full, path, n_cells=4, m=2, n_codes=8, seed=42)
    retrained = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2).collect()
    )
    # migrated == fresh build on the current corpus, bit for bit
    fresh_path = str(tmp_path / "fresh")
    ann_index_build(full, fresh_path, n_cells=4, m=2, n_codes=8, seed=42)
    fresh = key(
        ivf_pq_from_index(
            spark, fresh_path, probes, k=5, nprobe=2, m=2
        ).collect()
    )
    assert retrained == fresh
    # the books themselves migrated: retrained cell/code books are
    # byte-equal to a fresh full-corpus build's (not the stale
    # base-drawn generation), and recall against brute-force truth
    # never regresses vs the drifted index
    for book in ("cellbook", "codebook"):
        got_book = sorted(
            map(tuple, spark.read.parquet(f"{path}/{book}").collect())
        )
        want_book = sorted(
            map(tuple, spark.read.parquet(f"{fresh_path}/{book}").collect())
        )
        assert got_book == want_book
    assert recall(retrained) >= recall(drifted)
    # no residue, no tombstones, no mixed generations
    assert not os.path.isdir(f"{path}__staged")
    assert not os.path.isdir(f"{path}__bak")

    # tombstones fold: delete some ids, retrain, they are gone from
    # the artifact body and the tombstone table is dropped
    ann_index_delete(
        spark.createDataFrame([(100,), (104,)], "vec_id long"), path
    )
    ann_index_retrain(full, path, n_cells=4, m=2, n_codes=8, seed=42)
    assert not os.path.isdir(f"{path}/tombstones")
    index_vids = {
        r["vid"] for r in spark.read.parquet(f"{path}/index").collect()
    }
    assert 100 not in index_vids and 104 not in index_vids

    # injected crash 1: committed staged generation + live missing →
    # promoted at next entry
    ann_index_build(full, path, n_cells=4, m=2, n_codes=8, seed=42)
    want = key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2).collect()
    )
    shutil.copytree(path, f"{path}__staged")
    open(f"{path}__staged/_SUCCESS", "w").close()
    shutil.rmtree(path)
    ann_index_retrain(full, path, n_cells=4, m=2, n_codes=8, seed=42)
    assert key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2).collect()
    ) == want

    # injected crash 2: backup only (staged uncommitted) → restored
    shutil.copytree(path, f"{path}__bak")
    shutil.rmtree(path)
    os.makedirs(f"{path}__staged")  # uncommitted partial
    ann_index_retrain(full, path, n_cells=4, m=2, n_codes=8, seed=42)
    assert key(
        ivf_pq_from_index(spark, path, probes, k=5, nprobe=2, m=2).collect()
    ) == want
    assert not os.path.isdir(f"{path}__bak")

    # a base-built artifact at a fresh path migrates to the same
    # fresh-build generation, cell-partitioned index included
    p_path = str(tmp_path / "pidx")
    ann_index_build(base, p_path, n_cells=4, m=2, n_codes=8, seed=42)
    ann_index_retrain(full, p_path, n_cells=4, m=2, n_codes=8, seed=42)
    assert os.path.isdir(f"{p_path}/index")
    got = key(
        ivf_pq_from_index(spark, p_path, probes, k=5, nprobe=2, m=2).collect()
    )
    assert got == want


@pytest.mark.slow
def test_ingest_state_replay_idempotence_and_compact(spark, tmp_path):
    """r12: a batch that crashed after the front/bucket/pair appends
    but BEFORE the digests commit point replays in full — results
    stay exactly equal to the never-crashed run — and
    ingest_state_compact folds the duplicate replay debt back out of
    every state table without changing any later batch's output."""
    import shutil

    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_build,
        ingest_state_compact,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "totally different corpus document here"),
        (10, "alpha beta gamma delta epsilon zeta eta"),  # near-dup of 1
        (11, "fresh arriving document with new words"),
        (20, "one two three four five six seven eight"),  # near-dup of 2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter(F.col("doc_id") < 10)
    batch1 = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
    batch2 = docs.filter(F.col("doc_id") >= 20)
    kw = dict(k=3, num_hashes=64, bands=16, threshold=0.3)
    key = lambda df: sorted(map(tuple, df.collect()))

    # reference: the never-crashed sequence
    ref = str(tmp_path / "ref")
    ingest_state_build(corpus, ref, **kw)
    r1 = key(ingest_pipeline_incremental(batch1, ref, **kw))
    r2 = key(ingest_pipeline_incremental(batch2, ref, **kw))

    # crashed-and-replayed sequence: snapshot digests before batch 1,
    # run it, restore digests (the commit point never landed), replay
    path = str(tmp_path / "state")
    ingest_state_build(corpus, path, **kw)
    shutil.copytree(f"{path}/digests", f"{path}/digests_snap")
    first = key(ingest_pipeline_incremental(batch1, path, **kw))
    assert first == r1
    shutil.rmtree(f"{path}/digests")
    shutil.move(f"{path}/digests_snap", f"{path}/digests")
    replay = key(ingest_pipeline_incremental(batch1, path, **kw))
    assert replay == r1  # replay debt is invisible in results
    n_front = spark.read.parquet(f"{path}/front").count()
    n_pairs = spark.read.parquet(f"{path}/pairs").count()

    ingest_state_compact(spark, path)
    # debt folded: strictly fewer rows, one front row per live doc
    front = spark.read.parquet(f"{path}/front")
    assert front.count() < n_front
    assert front.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert spark.read.parquet(f"{path}/pairs").count() < n_pairs
    import os
    residue = [d for d in os.listdir(path) if "__staged" in d or "__bak" in d]
    assert residue == []

    # the next batch over the compacted state matches the clean run
    assert key(ingest_pipeline_incremental(batch2, path, **kw)) == r2


def test_ingest_compact_front_fold_is_deterministic_on_id_reuse(spark, tmp_path):
    """An id reused with changed text leaves two different front rows
    for it; ingest_state_compact keeps the smallest (hs, sig) one
    whatever order the rows are stored in, so the compacted front is
    the same on every run."""
    import shutil

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_build,
        ingest_state_compact,
    )
    from data__converter_spark.scale import local_frame

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    kw = dict(k=3, num_hashes=16, bands=4, threshold=0.3)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    reused = spark.createDataFrame(
        [(1, "completely rewritten text for the reused id")],
        "doc_id long, text string",
    )
    ingest_pipeline_incremental(reused, path, **kw)
    front = spark.read.parquet(f"{path}/front")
    rows = sorted(map(tuple, front.collect()))
    assert [r[0] for r in rows].count(1) == 2
    key = lambda t: sorted(map(tuple, spark.read.parquet(t).collect()))
    folded = []
    for order in (rows, rows[::-1]):
        state = str(tmp_path / f"state_{len(folded)}")
        shutil.copytree(path, state)
        shutil.rmtree(f"{state}/front")
        local_frame(spark, order, front.schema).coalesce(1).write.parquet(
            f"{state}/front"
        )
        ingest_state_compact(spark, state)
        folded.append(key(f"{state}/front"))
    assert folded[0] == folded[1]
    kept = [r for r in folded[0] if r[0] == 1]
    assert kept == [min(r for r in rows if r[0] == 1)]


@pytest.mark.slow
def test_ingest_replay_after_arbitrary_commit_subset_crash(spark, tmp_path):
    """r15 (VERDICT r14 Next #4): the five pre-commit appends (pairs,
    assign_delta, buckets, front, bloom) run OVERLAPPED via run_jobs,
    so a crash before the ``digests`` commit point can leave an
    ARBITRARY subset of them landed — states impossible under the old
    sequential order.  Pin the replay contract for two distinct
    subsets: replaying the batch reproduces the exact receipt, the
    standing assignment view equals the never-crashed run's, and the
    next batch's receipt is unchanged."""
    import shutil

    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_assignments,
        ingest_state_build,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "totally different corpus document here"),
        (10, "alpha beta gamma delta epsilon zeta eta"),  # near-dup of 1
        (11, "fresh arriving document with new words"),
        (20, "one two three four five six seven eight"),  # near-dup of 2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter(F.col("doc_id") < 10)
    batch1 = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
    batch2 = docs.filter(F.col("doc_id") >= 20)
    kw = dict(k=3, num_hashes=64, bands=16, threshold=0.3)
    key = lambda df: sorted(map(tuple, df.collect()))

    # reference: the never-crashed sequence
    ref = str(tmp_path / "ref")
    ingest_state_build(corpus, ref, **kw)
    r1 = key(ingest_pipeline_incremental(batch1, ref, **kw))
    ref_assign = key(ingest_state_assignments(spark, ref))
    r2 = key(ingest_pipeline_incremental(batch2, ref, **kw))

    tables = ["pairs", "assign_delta", "buckets", "front", "bloom", "digests"]
    # two distinct landed-subsets (digests NEVER lands — it is the
    # commit point): the verdict's example state, and its complement
    for landed in ({"bloom", "front"}, {"pairs", "assign_delta", "buckets"}):
        path = str(tmp_path / ("state_" + "_".join(sorted(landed))))
        ingest_state_build(corpus, path, **kw)
        pre_assign = key(ingest_state_assignments(spark, path))
        for t in tables:
            shutil.copytree(f"{path}/{t}", f"{path}/{t}_snap")
        assert key(ingest_pipeline_incremental(batch1, path, **kw)) == r1
        # crash injection: roll every NOT-landed table (and digests)
        # back to its pre-batch snapshot
        for t in tables:
            if t in landed:
                shutil.rmtree(f"{path}/{t}_snap")
            else:
                shutil.rmtree(f"{path}/{t}")
                shutil.move(f"{path}/{t}_snap", f"{path}/{t}")
        # crash-window contract: uncommitted survivors stay hidden —
        # the standing view still reads exactly as before the batch
        assert key(ingest_state_assignments(spark, path)) == pre_assign
        # replay: exact same receipt, standing state converges
        assert key(ingest_pipeline_incremental(batch1, path, **kw)) == r1
        assert key(ingest_state_assignments(spark, path)) == ref_assign
        # the replay debt is invisible to the next batch too
        assert key(ingest_pipeline_incremental(batch2, path, **kw)) == r2


@pytest.mark.slow
def test_ingest_pin_reliable_checkpoint_knob(spark, tmp_path):
    """r15 (VERDICT r14 Next #7): the lineage pin (scale.pinned)
    defaults to executor-only localCheckpoint but
    switches to a RELIABLE checkpoint when the context has a
    checkpoint dir — same values either way, durable blocks under the
    knob.  Round-trip both modes through a real ingest call."""
    import os

    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_build,
    )
    from data__converter_spark.scale import pinned

    df = spark.range(0, 5).select(F.col("id").alias("a"))
    want = sorted(r["a"] for r in df.collect())
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # suite default: local mode
    assert sorted(r["a"] for r in pinned(df).collect()) == want

    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        durable = pinned(df)
        assert sorted(r["a"] for r in durable.collect()) == want
        # blocks actually landed in the reliable dir
        found = [
            os.path.join(d, f)
            for d, _sub, files in os.walk(ckdir)
            for f in files
        ]
        assert found, "reliable checkpoint wrote nothing"

        # a real ingest round-trips identically under the knob
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "one two three four five six seven"),
                (10, "alpha beta gamma delta epsilon zeta eta"),
            ],
            "doc_id long, text string",
        )
        kw = dict(k=3, num_hashes=64, bands=16, threshold=0.3)
        key = lambda d: sorted(map(tuple, d.collect()))
        corpus = docs.filter(F.col("doc_id") < 10)
        batch = docs.filter(F.col("doc_id") >= 10)
        p1 = str(tmp_path / "knob_on")
        ingest_state_build(corpus, p1, **kw)
        got_on = key(ingest_pipeline_incremental(batch, p1, **kw))
    finally:
        # unset so later tests keep the localCheckpoint default
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None
    p2 = str(tmp_path / "knob_off")
    ingest_state_build(corpus, p2, **kw)
    assert key(ingest_pipeline_incremental(batch, p2, **kw)) == got_on


def _r13_ingest_fixture(spark):
    """Shared staging for the round-13 merge/undercut tests: two
    standing near-dup clusters plus singletons, LSH params tuned so a
    bridge doc at jaccard ~0.45 is found deterministically (64 bands
    of 1 row: the fixed-seed probability of missing a 0.45-jaccard
    candidate is (1-j)^64 ~ 1e-17)."""
    from pyspark.sql import functions as F

    fam_a = "alpha beta gamma delta epsilon zeta eta theta"
    fam_b = "one two three four five six seven eight"
    rows = [
        (5, fam_a),
        (6, fam_a + " iota"),
        (7, "a lone standing document about nothing else"),
        (8, fam_b),
        (9, fam_b + " nine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(k=2, num_hashes=64, bands=64, threshold=0.2)
    return docs, fam_a, fam_b, kw


def test_ingest_reassign_on_cluster_merge(spark, tmp_path):
    """r13 (VERDICT r12 Next #1, merge case): a batch doc that bridges
    two standing clusters changes the merged component's canonical id;
    the standing members whose cluster/split moved are re-emitted as
    kind='reassign' receipt rows, the standing assign table lands on
    the full-repair assignment exactly, and no near-dup pair straddles
    splits across the latest receipts."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.dedup import cluster_split
    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_assignments,
        ingest_state_build,
    )

    docs, fam_a, fam_b, kw = _r13_ingest_fixture(spark)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    base_assign = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{path}/assign").collect()
    }
    assert base_assign[8] == 8 and base_assign[9] == 8  # two clusters
    assert base_assign[5] == 5 and base_assign[6] == 5

    bridge = spark.createDataFrame(
        [(100, fam_a + " " + fam_b)], "doc_id long, text string"
    )
    receipt = ingest_pipeline_incremental(bridge, path, **kw)
    got = {(r["doc_id"], r["kind"]): r for r in receipt.collect()}
    # the bridge joins the merged component; canonical = min(5..9,100)=5
    assert got[(100, "batch")]["cluster_id"] == 5
    # members of the 8-cluster moved to canon 5 and were re-emitted
    assert got[(8, "reassign")]["cluster_id"] == 5
    assert got[(9, "reassign")]["cluster_id"] == 5
    # unchanged members are NOT re-emitted
    assert (5, "reassign") not in got and (6, "reassign") not in got
    assert (7, "reassign") not in got

    # the standing assign table == full-repair cluster_split over the
    # live corpus and the maintained pair graph
    live = docs.unionByName(bridge)
    want = sorted(
        map(
            tuple,
            cluster_split(
                live, spark.read.parquet(f"{path}/pairs")
            ).collect(),
        )
    )
    have = sorted(map(tuple, ingest_state_assignments(spark, path).collect()))
    assert have == want

    # no-straddle across receipt history: every verified pair agrees
    # on split under the latest assignment
    asg = {r["doc_id"]: r["split"] for r in ingest_state_assignments(
        spark, path).collect()}
    for p in spark.read.parquet(f"{path}/pairs").collect():
        assert asg[p["id_a"]] == asg[p["id_b"]]


def test_ingest_reassign_on_undercut_min_id(spark, tmp_path):
    """r13 (VERDICT r12 Next #1, undercut case): a batch survivor with
    an id SMALLER than its standing cluster's min becomes the new
    canonical — every standing member of that cluster is re-emitted
    with the new cluster/split, and the standing table matches the
    full-repair recompute."""
    from data__converter_spark.llmops.dedup import cluster_split
    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_assignments,
        ingest_state_build,
    )

    docs, fam_a, _, kw = _r13_ingest_fixture(spark)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)

    undercut = spark.createDataFrame(
        [(1, fam_a + " kappa")], "doc_id long, text string"
    )
    receipt = ingest_pipeline_incremental(undercut, path, **kw)
    got = {(r["doc_id"], r["kind"]): r for r in receipt.collect()}
    assert got[(1, "batch")]["cluster_id"] == 1
    assert got[(5, "reassign")]["cluster_id"] == 1
    assert got[(6, "reassign")]["cluster_id"] == 1
    assert (8, "reassign") not in got and (7, "reassign") not in got

    live = docs.unionByName(undercut)
    want = sorted(
        map(
            tuple,
            cluster_split(
                live, spark.read.parquet(f"{path}/pairs")
            ).collect(),
        )
    )
    have = sorted(map(tuple, ingest_state_assignments(spark, path).collect()))
    assert have == want


def test_ingest_params_manifest_validation(spark, tmp_path):
    """r13 (ADVICE r12): the state persists its semantic parameters at
    build time and a mismatched re-supply fails loudly instead of
    silently voiding the bloom / banding guarantees."""
    import pytest

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_build,
    )

    docs, _, _, kw = _r13_ingest_fixture(spark)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    batch = spark.createDataFrame(
        [(50, "some new arriving text")], "doc_id long, text string"
    )
    bad = dict(kw)
    bad["threshold"] = 0.7
    with pytest.raises(ValueError, match="parameter mismatch"):
        ingest_pipeline_incremental(batch, path, **bad)
    bad2 = dict(kw)
    bad2["seed"] = 7
    with pytest.raises(ValueError, match="parameter mismatch"):
        ingest_pipeline_incremental(batch, path, **bad2)
    # matching params proceed
    assert ingest_pipeline_incremental(batch, path, **kw).count() >= 1


def test_ingest_lease_single_writer(spark, tmp_path):
    """r13 (VERDICT r12 Next #4), tightened r14 (VERDICT r13 #3): ANY
    fresh lease blocks a second batch mutator — including one written
    by this same application, because every successful call releases
    in ``finally``, so a fresh lease always means a LIVE writer (the
    stream-vs-batch case); a stale lease is stolen after the ttl."""
    import os
    import time

    import pytest

    from data__converter_spark.llmops.pipeline import (
        ConcurrentStateWriterError,
        ingest_pipeline_incremental,
        ingest_state_build,
    )

    docs, _, _, kw = _r13_ingest_fixture(spark)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    batch = spark.createDataFrame(
        [(51, "another fresh arriving text")], "doc_id long, text string"
    )

    lease = os.path.join(path, "_LEASE")
    with open(lease, "w") as fh:
        fh.write("some-other-application:deadbeef")
    with pytest.raises(ConcurrentStateWriterError, match="held by live"):
        ingest_pipeline_incremental(batch, path, **kw)
    # stale foreign lease: steal after ttl
    old = time.time() - 7200
    os.utime(lease, (old, old))
    assert ingest_pipeline_incremental(
        batch, path, lease_ttl_s=3600.0, **kw
    ).count() >= 1
    assert not os.path.exists(lease)  # released
    # a fresh lease from THIS application also blocks: release always
    # runs in ``finally``, so this is a concurrent live call (e.g. a
    # batch mutator racing a streaming runner's micro-batch), not a
    # crash leftover — r13's silent same-app reclaim admitted it
    with open(lease, "w") as fh:
        fh.write(f"{spark.sparkContext.applicationId}:livenonce")
    batch2 = spark.createDataFrame(
        [(52, "a third arriving text entirely")], "doc_id long, text string"
    )
    with pytest.raises(ConcurrentStateWriterError, match="held by live"):
        ingest_pipeline_incremental(batch2, path, **kw)
    # once stale (the writer's process died before finally), stolen
    os.utime(lease, (old, old))
    assert ingest_pipeline_incremental(batch2, path, **kw).count() >= 1


def test_ingest_lease_takeover_race(spark, tmp_path):
    """r14 (VERDICT r13 #3): the stale-steal path is create-then-
    verify — two stealers of one stale lease resolve to at most one
    verified holder, and the loser surfaces
    ConcurrentStateWriterError, not a raw IOException."""
    import os
    import time

    import pytest

    from data__converter_spark.llmops.pipeline import (
        ConcurrentStateWriterError,
        _acquire_lease,
        _release_lease,
    )

    path = str(tmp_path / "state")
    os.makedirs(path)
    lease = os.path.join(path, "_LEASE")
    with open(lease, "w") as fh:
        fh.write("dead-writer:oldnonce")
    old = time.time() - 7200
    os.utime(lease, (old, old))

    # stealer A wins the race outright
    tok_a = _acquire_lease(spark, path, ttl_s=3600.0, owner="writerA")
    assert open(lease).read() == tok_a
    # stealer B, arriving after A's takeover, sees a FRESH lease
    with pytest.raises(ConcurrentStateWriterError, match="held by live"):
        _acquire_lease(spark, path, ttl_s=3600.0, owner="writerB")

    # interleaved steal: B deletes/creates between A's observation and
    # A's create — simulated by overwriting the lease content after A
    # wrote it; A's read-back verify must kill exactly A
    os.utime(lease, (old, old))

    from data__converter_spark.llmops import pipeline as plmod

    orig_read = plmod._read_lease
    reads = {"n": 0}

    def racing_read(spark_, fs, lease_p):
        out = orig_read(spark_, fs, lease_p)
        reads["n"] += 1
        # after A's post-create verify read begins, B has already
        # overwritten the file: emulate by rewriting it the first time
        # the verify read happens (second read overall: 1=entry read)
        if reads["n"] == 2 and "writerA2" in out:
            # B's interleaved create: emulated Python-side, so drop the
            # local-FS checksum shadow fs.create left behind
            crc = os.path.join(path, "._LEASE.crc")
            if os.path.exists(crc):
                os.remove(crc)
            with open(lease, "w") as fh:
                fh.write("writerB2:stolen")
            return "writerB2:stolen"
        return out

    plmod._read_lease = racing_read
    try:
        with pytest.raises(ConcurrentStateWriterError, match="overwrote"):
            _acquire_lease(spark, path, ttl_s=3600.0, owner="writerA2")
    finally:
        plmod._read_lease = orig_read
    # B2 (the interleaving winner) holds the lease; release with the
    # WRONG token must not delete it
    _release_lease(spark, path, "writerA2:not-my-token")
    assert open(lease).read() == "writerB2:stolen"
    _release_lease(spark, path, "writerB2:stolen")
    assert not os.path.exists(lease)


def test_ingest_lease_blocks_batch_during_stream_microbatch(spark, tmp_path):
    """r14 (VERDICT r13 Next #6): while a streaming runner's
    micro-batch holds the state lease — acquired through the exact
    code path every micro-batch runs — a concurrent BATCH
    ingest_pipeline_incremental call raises ConcurrentStateWriterError
    instead of interleaving commits."""
    import pytest

    from data__converter_spark.llmops.pipeline import (
        ConcurrentStateWriterError,
        _acquire_lease,
        _release_lease,
        ingest_pipeline_incremental,
        ingest_state_build,
    )

    docs, _, _, kw = _r13_ingest_fixture(spark)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    batch = spark.createDataFrame(
        [(61, "arriving while the stream is mid-micro-batch")],
        "doc_id long, text string",
    )
    # the streaming runner's micro-batch body calls
    # ingest_pipeline_incremental, whose first act is this acquire —
    # hold it exactly as a live micro-batch would
    token = _acquire_lease(spark, path, owner="stream-microbatch")
    try:
        with pytest.raises(ConcurrentStateWriterError, match="held by live"):
            ingest_pipeline_incremental(batch, path, **kw)
    finally:
        _release_lease(spark, path, token)
    # stream's micro-batch finished and released: the batch proceeds
    assert ingest_pipeline_incremental(batch, path, **kw).count() >= 1


def test_ingest_bloom_resize_restores_prescreen(spark, tmp_path):
    """r13 (VERDICT r12 Next #3): a saturated bloom passes ~everything
    through to the confirmation join; compaction rebuilds it at a
    corpus-sized geometry carried IN the table, the pass-through rate
    drops back toward the design FPR, and ingest verdicts are
    identical before and after."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        _bloom_geometry,
        ingest_pipeline_incremental,
        ingest_state_build,
        ingest_state_compact,
    )
    from data__converter_spark.llmops.sketches import bloom_maybe_contains

    rows = [(i, f"standing document number {i} with body {i*7}")
            for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "state")
    # m_bits=64 with 120 keys * 3 hashes: effectively saturated
    ingest_state_build(docs, path, m_bits=64, k_hashes=3)

    probes = spark.createDataFrame(
        [(f"fresh-key-{i}",) for i in range(400)], "dg string"
    )
    bt, m0, k0 = _bloom_geometry(spark, path, 64, 3)
    assert m0 == 64
    before = (
        bloom_maybe_contains(probes, bt, "dg", m0, k0)
        .filter("maybe").count()
    )
    assert before > 300  # saturated: nearly everything leaks through

    ingest_state_compact(spark, path)  # auto-resize from digest count
    bt2, m1, k1 = _bloom_geometry(spark, path, 64, 3)
    assert m1 >= 16 * 120 and k1 == k0
    after = (
        bloom_maybe_contains(probes, bt2, "dg", m1, k1)
        .filter("maybe").count()
    )
    assert after < 40  # back near design FPR

    # verdicts unchanged: an exact dup still drops, fresh docs survive
    batch = spark.createDataFrame(
        [(500, rows[3][1]), (501, "genuinely new arrival text")],
        "doc_id long, text string",
    )
    receipt = ingest_pipeline_incremental(batch, path)
    ids = [r["doc_id"] for r in receipt.filter("kind = 'batch'").collect()]
    assert 500 not in ids and 501 in ids


@pytest.mark.slow
def test_ingest_self_heals_compactor_crash(spark, tmp_path):
    """r13 (ADVICE r12, medium): a compactor crash between the
    demote/promote renames of ANY state table leaves the live dir
    missing; the next ingest's entry probe repairs it instead of
    dying on a missing path, for every table."""
    import os
    import shutil

    from data__converter_spark.llmops.pipeline import (
        _STATE_TABLES,
        ingest_pipeline_incremental,
        ingest_state_build,
    )

    docs, fam_a, _, kw = _r13_ingest_fixture(spark)
    ref = str(tmp_path / "ref")
    ingest_state_build(docs, ref, **kw)
    batch = spark.createDataFrame(
        [(60, fam_a + " lambda")], "doc_id long, text string"
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    want = key(ingest_pipeline_incremental(batch, ref, **kw))

    for t in _STATE_TABLES:
        path = str(tmp_path / f"state_{t}")
        ingest_state_build(docs, path, **kw)
        # crash window: live table demoted to __bak, never promoted
        shutil.move(f"{path}/{t}", f"{path}/{t}__bak")
        got = key(ingest_pipeline_incremental(batch, path, **kw))
        assert got == want, t
        assert os.path.isdir(f"{path}/{t}")
        assert not os.path.isdir(f"{path}/{t}__bak")


@pytest.mark.slow
def test_run_ingest_update_stream_equals_batch(spark, tmp_path):
    """r13 (VERDICT r12 Next #6): the streaming ingest runner over two
    micro-batches produces receipt rows identical to the batch-mode
    two-call sequence, the epochs advance in the receipts feed, and
    the standing assignment equals the batch-mode twin's."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_assignments,
        ingest_state_build,
    )
    from data__converter_spark.streaming.runner import run_ingest_update

    docs, fam_a, fam_b, kw = _r13_ingest_fixture(spark)
    b1 = [(30, fam_a + " mu"), (31, "fresh streaming doc one")]
    b2 = [(32, fam_b + " ten"), (33, fam_a + " mu")]  # 33 near-dups 30

    # batch-mode twin
    ref = str(tmp_path / "ref")
    ingest_state_build(docs, ref, **kw)
    key = lambda df: sorted(map(tuple, df.collect()))
    w1 = key(ingest_pipeline_incremental(
        spark.createDataFrame(b1, "doc_id long, text string"), ref, **kw))
    w2 = key(ingest_pipeline_incremental(
        spark.createDataFrame(b2, "doc_id long, text string"), ref, **kw))

    # streaming: one file per run, two availableNow runs over one
    # checkpoint -> two epochs in arrival order
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string"
    stream = lambda: (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(src / "b1"))
    # generous drain timeout: under a loaded shared-session suite one
    # micro-batch ingest can exceed the 120 s default, and returning
    # early would start run 2 on a still-active checkpoint
    run_ingest_update(stream(), path, ckpt, timeout_s=900, **kw)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(src / "b2"))
    run_ingest_update(stream(), path, ckpt, timeout_s=900, **kw)

    receipts = spark.read.parquet(f"{path}/receipts")
    epochs = sorted(
        r["__epoch__"] for r in receipts.select("__epoch__").distinct()
        .collect()
    )
    assert len(epochs) == 2
    got1 = key(receipts.filter(F.col("__epoch__") == epochs[0])
               .drop("__epoch__"))
    got2 = key(receipts.filter(F.col("__epoch__") == epochs[1])
               .drop("__epoch__"))
    assert got1 == w1 and got2 == w2
    assert key(ingest_state_assignments(spark, path)) == key(
        ingest_state_assignments(spark, ref))


def _bcast_filescan_flags(df) -> list[bool]:
    """For every BroadcastExchange in the EXECUTED plan (AQE off so the
    tree is plain), whether its build side DIRECTLY carries a parquet
    scan's rows — i.e. a file scan with no aggregation between scan
    and broadcast.  A broadcast of an AGGREGATED frame that merely has
    a scan upstream (the batch-sized hit counts) is the healthy shape;
    a broadcast whose payload IS the table is the scale bug the bloom
    transport gate exists to prevent."""
    flags = []

    def walk(jp):
        name = jp.nodeName()
        if "BroadcastExchange" in name:
            ts = jp.treeString()
            has_scan = "Scan parquet" in ts or "FileScan" in ts
            reduced = "HashAggregate" in ts or "SortAggregate" in ts
            flags.append(has_scan and not reduced)
            return
        kids = jp.children()
        for i in range(kids.length()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return flags


def test_ingest_bloom_large_geometry_streams_not_broadcasts(spark, tmp_path):
    """r14 (VERDICT r13 #2 / Next #1): a standing bloom compacted to a
    corpus-scale geometry must NOT ride a broadcast — above the size
    gate the prescreen inverts, broadcasting the batch-sized probe
    positions and STREAMING the position-table scan, with identical
    verdicts and identical end-to-end ingest receipts."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        _bloom_geometry,
        ingest_pipeline_incremental,
        ingest_state_build,
        ingest_state_compact,
    )
    from data__converter_spark.llmops.sketches import (
        BLOOM_BROADCAST_MAX_BITS,
        bloom_maybe_contains,
    )

    rows = [(i, f"standing corpus document {i} carrying payload {i * 13}")
            for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(200, rows[5][1]),                       # exact dup -> drops
         (201, "a genuinely novel arriving document")],
        "doc_id long, text string",
    )
    key = lambda df: sorted(map(tuple, df.collect()))

    # reference run at the build-time (broadcastable) geometry
    small = str(tmp_path / "small")
    ingest_state_build(docs, small, m_bits=4096)
    want = key(ingest_pipeline_incremental(batch, small))

    # same corpus, bloom compacted ABOVE the broadcast gate
    big = str(tmp_path / "big")
    big_m = 1 << 21
    assert big_m > BLOOM_BROADCAST_MAX_BITS
    ingest_state_build(docs, big, m_bits=4096)
    ingest_state_compact(spark, big, m_bits=big_m)
    bt, mb, kh = _bloom_geometry(spark, big, 4096, 3)
    assert mb == big_m

    # the prescreen probe exactly as the ingest builds it; AQE off so
    # the executed plan is a plain tree the walker can traverse
    digest = F.sha2(F.coalesce(F.col("text").cast("string"), F.lit("")), 256)
    probes = batch.select(digest.alias("dg"))
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        verdict = bloom_maybe_contains(probes, bt, "dg", mb, kh)
        got = {r["k"]: r["maybe"] for r in verdict.collect()}
        # executed plan: NO BroadcastExchange carries the parquet
        # position table — the only broadcasts are batch-sized frames
        # (probe positions, hit counts)
        assert not any(_bcast_filescan_flags(verdict)), (
            "corpus-scale bloom table must not ride a broadcast"
        )

        # forcing the r13 transport (gate lifted) gives identical
        # verdicts from the opposite shape: the position table IS the
        # broadcast build side
        verdict_b = bloom_maybe_contains(
            probes, bt, "dg", mb, kh, broadcast_max_bits=big_m
        )
        got_b = {r["k"]: r["maybe"] for r in verdict_b.collect()}
        assert got == got_b
        assert any(_bcast_filescan_flags(verdict_b))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    # end to end: receipts identical across geometries
    assert key(ingest_pipeline_incremental(batch, big)) == want


def test_ingest_assignments_hide_uncommitted_batch(spark, tmp_path):
    """r14 (ADVICE r13, medium): delta rows of a batch that crashed
    before its digests commit point are GHOSTS — survivor-kind rows
    must stay invisible to ingest_state_assignments until the commit
    lands; reassign rows of standing docs remain visible (documented
    replay-or-abandon caveat)."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_assignments,
        ingest_state_build,
    )

    docs, _, _, kw = _r13_ingest_fixture(spark)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    batch = spark.createDataFrame(
        [(40, "a committed arriving document")], "doc_id long, text string"
    )
    ingest_pipeline_incremental(batch, path, **kw)
    base = sorted(
        r["doc_id"] for r in ingest_state_assignments(spark, path).collect()
    )
    assert 40 in base  # committed survivor visible

    # crash window: a delta row for doc 999 lands but 999 never
    # reaches digests (the batch died before its commit point)
    spark.createDataFrame(
        [(999, 999, 123, "train", "crashed-batch", 77)],
        "doc_id long, cluster_id long, bucket_permille long, "
        "split string, batch_key string, seq bigint",
    ).write.mode("append").parquet(f"{path}/assign_delta")
    visible = sorted(
        r["doc_id"] for r in ingest_state_assignments(spark, path).collect()
    )
    assert 999 not in visible, "uncommitted survivor row leaked"
    assert visible == base

    # a reassign-shaped ghost row for a STANDING doc stays visible and
    # shadows the base row (the documented caveat)
    spark.createDataFrame(
        [(7, 5, 321, "train", "crashed-batch", 77)],
        "doc_id long, cluster_id long, bucket_permille long, "
        "split string, batch_key string, seq bigint",
    ).write.mode("append").parquet(f"{path}/assign_delta")
    cur = {
        r["doc_id"]: r["cluster_id"]
        for r in ingest_state_assignments(spark, path).collect()
    }
    assert cur[7] == 5 and 999 not in cur

    # the commit lands (digests row appears): the survivor surfaces
    spark.createDataFrame(
        [(999, "sha-of-999")], "doc_id long, dg string"
    ).write.mode("append").parquet(f"{path}/digests")
    cur2 = {
        r["doc_id"]: r["cluster_id"]
        for r in ingest_state_assignments(spark, path).collect()
    }
    assert cur2[999] == 999


@pytest.mark.slow
def test_run_ingest_update_heals_receipts_feed(spark, tmp_path):
    """r14 (VERDICT r13 Next #4): a crash between the state's digests
    commit and the receipts append is exactly the state a direct
    batch-path call leaves behind (state committed, last_batch
    written, feed untouched).  The next stream run must HEAL the feed
    from the durable last_batch receipt instead of replaying into an
    empty-receipt hole; and a FRESH stream over a batch-built state
    must NOT inject pre-stream receipts at epoch 0."""
    from pyspark.sql import functions as F

    from data__converter_spark.llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_build,
    )
    from data__converter_spark.streaming.runner import run_ingest_update

    docs, fam_a, _, kw = _r13_ingest_fixture(spark)
    path = str(tmp_path / "state")
    ingest_state_build(docs, path, **kw)
    key = lambda df: sorted(map(tuple, df.collect()))
    schema = "doc_id long, text string"
    src = tmp_path / "in"
    src.mkdir()
    stream = lambda: (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    ckpt = str(tmp_path / "ckpt")

    # --- fresh-start guard: state already carries a pre-stream
    # last_batch from a direct batch call; the brand-new stream must
    # not heal it into epoch 0
    pre = spark.createDataFrame([(70, "a pre-stream batch document")], schema)
    pre_receipt = key(ingest_pipeline_incremental(pre, path, **kw))
    assert pre_receipt  # committed, last_batch non-empty
    b1 = [(80, fam_a + " mu"), (81, "first streamed document")]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    run_ingest_update(stream(), path, ckpt, timeout_s=900, **kw)
    receipts = spark.read.parquet(f"{path}/receipts")
    assert receipts.filter(F.col("doc_id") == 70).count() == 0
    fed1 = key(receipts.drop("__epoch__"))

    # --- crash injection: batch 2 commits to the STATE and last_batch
    # via the batch path — byte-identical to a crash after the digests
    # commit but before the receipts append — then the stream replays
    # the same rows as its next micro-batch
    b2 = [(90, "second wave document entirely new"), (91, fam_a + " nu")]
    crashed = key(
        ingest_pipeline_incremental(
            spark.createDataFrame(b2, schema), path, **kw
        )
    )
    assert crashed
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    run_ingest_update(stream(), path, ckpt, timeout_s=900, **kw)
    receipts = spark.read.parquet(f"{path}/receipts")
    epochs = sorted(
        r["__epoch__"]
        for r in receipts.select("__epoch__").distinct().collect()
    )
    assert len(epochs) == 2
    healed = key(
        receipts.filter(F.col("__epoch__") == epochs[1]).drop("__epoch__")
    )
    assert healed == crashed, "feed must heal the committed batch's receipt"
    # earlier feed rows untouched, batch-2 ids fed exactly once
    assert key(
        receipts.filter(F.col("__epoch__") == epochs[0]).drop("__epoch__")
    ) == fed1
    assert receipts.filter(F.col("doc_id").isin(90, 91)).count() == len(
        [t for t in crashed if t[0] in (90, 91)]
    )

    # --- steady state after the heal: the next batch neither re-heals
    # nor skips
    b3 = [(95, "third wave fresh document")]
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(str(src / "b3"))
    run_ingest_update(stream(), path, ckpt, timeout_s=900, **kw)
    receipts = spark.read.parquet(f"{path}/receipts")
    assert receipts.filter(F.col("doc_id") == 95).count() == 1
    assert receipts.filter(F.col("doc_id").isin(90, 91)).count() == len(
        [t for t in crashed if t[0] in (90, 91)]
    )
