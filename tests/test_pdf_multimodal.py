"""PDF tool (D1-D3, S12, F21) and multimodal plumbing tests."""

from __future__ import annotations

import pytest

from data__converter_spark.io import pdf
from data__converter_spark.llmops import multimodal
from helpers import encode_wav, synthetic_media

# ---------------------------------------------------------------------------
# F21 page-spec parser
# ---------------------------------------------------------------------------


def test_parse_pages_basic():
    assert pdf.parse_pages("1,3,5-7") == [[1], [3], [5, 6, 7]]


def test_parse_pages_normalizes_and_skips():
    assert pdf.parse_pages("7-5, x, 2,") == [[5, 6, 7], [2]]
    assert pdf.parse_pages("") == []


# ---------------------------------------------------------------------------
# S12/D3 validation on binaryFile rows
# ---------------------------------------------------------------------------


@pytest.fixture()
def pdf_dir(tmp_path):
    good1 = pdf.FakePdfCodec.make(["p1", "p2", "p3"])
    good2 = pdf.FakePdfCodec.make(["q1", "q2"])
    (tmp_path / "a.pdf").write_bytes(good1)
    (tmp_path / "b.pdf").write_bytes(good2)
    (tmp_path / "bad.pdf").write_bytes(b"not a pdf")
    (tmp_path / "empty.pdf").write_bytes(b"")
    return tmp_path


def test_valid_pdfs_filters_magic_and_empty(spark, pdf_dir):
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    # binaryFile already skips 0-byte files (D3's nonzero-size rule)
    assert df.count() == 3
    ok = pdf.valid_pdfs(df)
    names = sorted(r.path.rsplit("/", 1)[-1] for r in ok.collect())
    assert names == ["a.pdf", "b.pdf"]


# ---------------------------------------------------------------------------
# D1 merge / D2 split with the deterministic codec
# ---------------------------------------------------------------------------


def test_merge_respects_manifest_order(spark, pdf_dir):
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    codec = pdf.FakePdfCodec()
    order = [str(pdf_dir / "b.pdf"), str(pdf_dir / "a.pdf")]
    out = pdf.merge_pdfs(df, order, codec=codec)
    assert codec.count_pages(out.content) == 5
    body = out.content[len(pdf.FakePdfCodec.HEADER):].decode().splitlines()
    assert body == ["q1", "q2", "p1", "p2", "p3"]  # b before a


def test_merge_needs_two_valid(spark, pdf_dir):
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    with pytest.raises(ValueError):
        pdf.merge_pdfs(df, [str(pdf_dir / "a.pdf")], codec=pdf.FakePdfCodec())
    with pytest.raises(ValueError):
        pdf.merge_pdfs(
            df,
            [str(pdf_dir / "a.pdf"), str(pdf_dir / "bad.pdf")],
            codec=pdf.FakePdfCodec(),
        )


def test_split_all_mode(spark, pdf_dir):
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    out = pdf.split_pdf(df, str(pdf_dir / "a.pdf"), codec=pdf.FakePdfCodec())
    rows = {r.name: bytes(r.content) for r in out.collect()}
    assert sorted(rows) == ["a_split_001.pdf", "a_split_002.pdf", "a_split_003.pdf"]
    assert rows["a_split_002.pdf"].endswith(b"p2\n")


def test_split_spec_filters_out_of_range(spark, pdf_dir):
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    out = pdf.split_pdf(
        df, str(pdf_dir / "a.pdf"), spec="2-9,99", codec=pdf.FakePdfCodec()
    )
    rows = {r.name: bytes(r.content) for r in out.collect()}
    # 99 out of range -> group dropped entirely; 2-9 clamps to 2-3
    assert sorted(rows) == ["a_split_001.pdf"]
    assert rows["a_split_001.pdf"].endswith(b"p2\np3\n")


def test_merge_and_split_collect_only_requested(spark, pdf_dir, monkeypatch):
    (pdf_dir / "c.pdf").write_bytes(pdf.FakePdfCodec.make(["r1"]))  # unrequested
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    collected = []
    collect = type(df).collect

    def spy(self):
        rows = collect(self)
        collected.extend(r.path.rsplit("/", 1)[-1] for r in rows)
        return rows

    monkeypatch.setattr(type(df), "collect", spy)
    codec = pdf.FakePdfCodec()
    out = pdf.merge_pdfs(df, [str(pdf_dir / "b.pdf"), str(pdf_dir / "a.pdf")], codec=codec)
    assert sorted(collected) == ["a.pdf", "b.pdf"]
    files = {n: (pdf_dir / n).read_bytes() for n in ("a.pdf", "b.pdf")}
    assert out.content == codec.merge([files["b.pdf"], files["a.pdf"]])
    collected.clear()
    split = pdf.split_pdf(df, str(pdf_dir / "a.pdf"), codec=codec)
    assert collected == ["a.pdf"]
    assert "PythonRDD" not in split._jdf.rdd().toDebugString()


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_image_features_schema_and_determinism(spark):
    media = synthetic_media(spark, 30)
    feats = multimodal.image_features(media)
    rows = feats.collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images
    r = rows[0]
    assert len(r.feature) == multimodal.STUB_FEATURE_DIM
    assert 0.0 <= r.mean_luma <= 1.0
    # deterministic: rerun hashes identically
    again = {x.media_id: x.feature for x in multimodal.image_features(media).collect()}
    assert again[r.media_id] == r.feature


def test_resize_images_retags_meta(spark):
    media = synthetic_media(spark, 12)
    out = multimodal.resize_images(media, 32, 16)
    for r in out.collect():
        assert (r.width, r.height) == (32, 16)
        assert len(bytes(r.payload)) == 32 * 16 // 64


def test_sample_frames_fanout(spark):
    media = synthetic_media(spark, 30)
    frames = multimodal.sample_frames(media, every_ms=1000)
    got = frames.groupBy("media_id").count().collect()
    meta = {
        r.media_id: r.duration_ms
        for r in media.filter("kind='video'").select(
            "media_id", "meta.duration_ms"
        ).collect()
    }
    for r in got:
        assert r["count"] == max(meta[r.media_id] // 1000, 1)


def test_audio_features_schema_and_determinism(spark):
    media = synthetic_media(spark, 30)
    feats = multimodal.audio_features(media)
    rows = feats.collect()
    assert len(rows) == media.filter("kind = 'audio'").count()
    durations = {
        r.media_id: r.duration_ms
        for r in media.select("media_id", "meta.duration_ms").collect()
    }
    for r in rows:
        assert r.sample_rate == multimodal.STUB_SAMPLE_RATE
        assert r.n_samples == durations[r.media_id] * 16
        assert 0.0 <= r.mean_amp <= 1.0
        assert len(r.feature) == multimodal.STUB_FEATURE_DIM


def test_write_outputs_and_timestamp_name(spark, pdf_dir, tmp_path):
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    out = pdf.split_pdf(df, str(pdf_dir / "a.pdf"), codec=pdf.FakePdfCodec())
    paths = pdf.write_outputs(out, str(tmp_path / "outs"))
    assert len(paths) == 3
    assert all(open(p, "rb").read().startswith(b"%PDF-FAKE") for p in paths)
    name = pdf.timestamp_name("doc")
    import re

    assert re.fullmatch(r"doc_\d{4}-\d{2}-\d{2}_\d{4}\.pdf", name)


def test_write_outputs_of_split_runs_no_job(spark, pdf_dir, tmp_path):
    """split_pdf's outputs are a driver-side local relation: writing
    them submits no Spark job, and each file holds its row's bytes."""
    df = pdf.read_pdfs(spark, str(pdf_dir / "*.pdf"))
    out = pdf.split_pdf(
        df, str(pdf_dir / "a.pdf"), "1,2-3", codec=pdf.FakePdfCodec()
    )
    want = {r.name: bytes(r.content) for r in out.collect()}
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    paths = pdf.write_outputs(out, str(tmp_path / "outs"))
    assert sched.nextJobId() - before == 0
    got = {p.rsplit("/", 1)[-1]: open(p, "rb").read() for p in paths}
    assert got == want and len(got) == 2


def test_media_from_documents_matches_stub_decode(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(0, "hello world"), (3, "x" * 50), (4, "audio doc"), (5, "video doc")],
        "doc_id long, text string",
    )
    media = multimodal.media_from_documents(docs)
    rows = {r.media_id: r for r in media.collect()}
    assert rows[0].kind == "image" and rows[5].kind == "video"
    assert bytes(rows[3].payload) == b"x" * 50
    assert rows[3].meta.width == 64 + 3 % 8

    feats = {r.media_id: r for r in multimodal.image_features(media).collect()}
    assert set(feats) == {0, 3}
    h = hashlib.sha256(b"hello world").digest()
    assert abs(feats[0].mean_luma - sum(h[:8]) / 8 / 255) < 1e-12


def test_bmp_roundtrip_and_real_image_features(spark):
    """Pixel-exact real decode path: a known gradient BMP yields exact
    dimensions, Rec.601 mean luma, and band features."""
    import numpy as np

    px = np.zeros((4, 8, 3), dtype=np.uint8)
    px[:, :, 0] = 255          # pure red everywhere
    px[2:, :, :] = 0           # bottom half black
    payload = multimodal.encode_bmp(px)
    assert np.array_equal(multimodal._try_decode_bmp(payload), px)

    media = spark.createDataFrame(
        [(1, "image", bytearray(payload), (8, 4, 0, "image/bmp"))],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.image_features(media).collect()[0]
    assert (row.width, row.height) == (8, 4)
    expected = (0.299 * 255 / 255.0) / 2  # half red, half black
    assert abs(row.mean_luma - expected) < 1e-9


def test_decode_chain_contract_and_pil_slot(spark):
    """The decode chain (_try_decode_image: BMP -> PNG -> stub) must
    keep one contract on every branch: BMP decodes identically to
    _try_decode_bmp; a payload neither codec decodes (JPEG here, the
    slot an optional PIL branch once filled) returns None and the
    feature kernel uses the stub with METADATA dims — stub and real
    paths differ only in values, never in columns or types."""
    import numpy as np

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    bmp = multimodal.encode_bmp(px)
    assert np.array_equal(multimodal._try_decode_image(bmp), px)

    fake_jpeg = b"\xff\xd8\xff\xe0" + b"not really a jpeg" * 4
    assert multimodal._try_decode_image(fake_jpeg) is None

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(bmp), (2, 2, 0, "image/bmp")),
            (2, "image", bytearray(fake_jpeg), (32, 16, 0, "image/jpeg")),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in multimodal.image_features(media).collect()}
    # real branch: decoded dims; stub branch: metadata dims — one schema
    assert (rows[1].width, rows[1].height) == (2, 2)
    assert (rows[2].width, rows[2].height) == (32, 16)
    assert len(rows[1].feature) == len(rows[2].feature) == 8


def test_bmp_real_resize_nearest_neighbor(spark):
    import numpy as np

    px = np.arange(4 * 8 * 3, dtype=np.uint8).reshape(4, 8, 3)
    media = spark.createDataFrame(
        [(1, "image", bytearray(multimodal.encode_bmp(px)), (8, 4, 0, "image/bmp"))],
        multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.resize_images(media, 4, 2).collect()[0]
    got = multimodal._try_decode_bmp(out.payload)
    ys = (np.arange(2) * 4) // 2
    xs = (np.arange(4) * 8) // 4
    assert np.array_equal(got, px[ys][:, xs])


def test_wav_real_audio_features_and_decode(spark):
    import numpy as np

    samples = np.array([0, 16384, -16384, 32767] * 4, dtype=np.int16)
    payload = encode_wav(samples, 8000)
    media = spark.createDataFrame(
        [(2, "audio", bytearray(payload), (0, 0, 1000, "audio/wav"))],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.audio_features(media).collect()[0]
    assert row.sample_rate == 8000 and row.n_samples == 16
    expected = float(np.abs(samples.astype(np.float64)).mean() / 32768.0)
    assert abs(row.mean_amp - expected) < 1e-12


def test_minipdf_real_roundtrip(tmp_path, spark):
    """REAL byte-level PDF surgery (stdlib codec): a genuine 3-page PDF
    merges and splits through the full distributed path; extracted
    pages preserve their content streams exactly."""
    codec = pdf.MiniPdfCodec()
    doc_a = pdf.MiniPdfCodec.make(["alpha-1", "alpha-2", "alpha-3"])
    doc_b = pdf.MiniPdfCodec.make(["beta-1"])
    assert doc_a[:5] == b"%PDF-" and codec.count_pages(doc_a) == 3

    (tmp_path / "a.pdf").write_bytes(doc_a)
    (tmp_path / "b.pdf").write_bytes(doc_b)
    df = pdf.read_pdfs(spark, str(tmp_path / "*.pdf"))

    merged = pdf.merge_pdfs(
        df, [str(tmp_path / "b.pdf"), str(tmp_path / "a.pdf")], codec=codec
    )
    assert codec.count_pages(merged.content) == 4
    # manifest order: beta first, then the three alphas
    streams = [s for _, s in pdf.MiniPdfCodec._parse(merged.content)]
    assert b"beta-1" in streams[0] and b"alpha-1" in streams[1]

    outs = pdf.split_pdf(df, str(tmp_path / "a.pdf"), spec="2,1-3", codec=codec)
    rows = {r.name: bytes(r.content) for r in outs.collect()}
    assert set(rows) == {"a_split_001.pdf", "a_split_002.pdf"}
    only_p2 = pdf.MiniPdfCodec._parse(rows["a_split_001.pdf"])
    assert len(only_p2) == 1 and b"alpha-2" in only_p2[0][1]
    full = pdf.MiniPdfCodec._parse(rows["a_split_002.pdf"])
    assert [s for _, s in full] == [s for _, s in pdf.MiniPdfCodec._parse(doc_a)]


def test_minipdf_rejects_compressed_like_input():
    with pytest.raises(ValueError):
        pdf.MiniPdfCodec().count_pages(b"%PDF-1.7\ngarbage with no objects")


def test_default_codec_is_real_without_pypdf(spark, tmp_path):
    """merge_pdfs / split_pdf with no codec argument run the real
    stdlib MiniPdfCodec."""
    (tmp_path / "a.pdf").write_bytes(pdf.MiniPdfCodec.make(["a-1", "a-2"]))
    (tmp_path / "b.pdf").write_bytes(pdf.MiniPdfCodec.make(["b-1"]))
    df = pdf.read_pdfs(spark, str(tmp_path / "*.pdf"))
    merged = pdf.merge_pdfs(df, [str(tmp_path / "b.pdf"), str(tmp_path / "a.pdf")])
    assert pdf.MiniPdfCodec().count_pages(merged.content) == 3
    outs = pdf.split_pdf(df, str(tmp_path / "a.pdf"))
    assert [pdf.MiniPdfCodec().count_pages(bytes(r.content)) for r in outs.collect()] == [1, 1]


def test_png_codec_roundtrip_all_filters_and_types():
    """Encode->decode is pixel-exact for gray/RGB/RGBA under every
    scanline filter (0-4), including the degenerate 1xN/Nx1/1x1
    shapes; non-PNG and truncated bytes decode to None."""
    import numpy as np

    from data__converter_spark.llmops.multimodal import (
        _try_decode_image,
        _try_decode_png,
        encode_png,
    )

    rng = np.random.RandomState(0)
    gray = rng.randint(0, 256, (9, 13), dtype=np.uint8)
    rgb = rng.randint(0, 256, (7, 5, 3), dtype=np.uint8)
    rgba = rng.randint(0, 256, (6, 4, 4), dtype=np.uint8)
    for ft in range(5):
        g = _try_decode_png(encode_png(gray, ft))
        assert g.shape == (9, 13, 3)
        assert (g[:, :, 0] == gray).all() and (g[:, :, 2] == gray).all()
        assert (_try_decode_png(encode_png(rgb, ft)) == rgb).all()
        assert (_try_decode_png(encode_png(rgba, ft)) == rgba[:, :, :3]).all()
        for shape in [(1, 7), (7, 1), (1, 1)]:
            im = rng.randint(0, 256, shape, dtype=np.uint8)
            assert (_try_decode_png(encode_png(im, ft))[:, :, 0] == im).all()
    assert _try_decode_image(encode_png(rgb)) is not None
    assert _try_decode_png(b"not a png") is None
    assert _try_decode_png(encode_png(rgb)[:30]) is None


def test_png_codec_agrees_with_pil_when_installed():
    """Cross-decoder parity against an independent decoder: PIL reads
    our encoder's bytes to the same pixels, and our decoder reads
    PIL-saved PNGs — skipped where pillow is not installed."""
    import io

    import numpy as np
    import pytest

    Image = pytest.importorskip("PIL.Image")
    from data__converter_spark.llmops.multimodal import (
        _try_decode_png,
        encode_png,
    )

    rng = np.random.RandomState(1)
    rgb = rng.randint(0, 256, (11, 6, 3), dtype=np.uint8)
    for ft in range(5):
        ref = np.asarray(
            Image.open(io.BytesIO(encode_png(rgb, ft))).convert("RGB")
        )
        assert (ref == rgb).all()
    buf = io.BytesIO()
    Image.fromarray(rgb).save(buf, format="PNG")
    got = _try_decode_png(buf.getvalue())
    assert got is not None and (got == rgb).all()


def test_image_features_decodes_real_png_payload(spark):
    """A PNG payload flows through the image_features kernel as a REAL
    decode (width/height from the pixels), not the hash stub."""
    import numpy as np

    from data__converter_spark.llmops.multimodal import (
        MEDIA_SCHEMA,
        encode_png,
        image_features,
    )

    px = np.full((10, 20), 100, dtype=np.uint8)
    rows = [(1, "image", bytearray(encode_png(px)), (20, 10, 0, "image/png"))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = image_features(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["width"], r["height"]) == (20, 10)
    # Rec.601 luma of constant gray 100, normalized: 100/255 — the
    # hash stub could never land on this exact value for these bytes
    assert abs(r["mean_luma"] - 100.0 / 255.0) < 1e-9


def test_image_dhash_halves_are_32bit_and_deterministic(spark):
    from data__converter_spark.llmops.multimodal import image_dhash

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    a = {r["media_id"]: (r["dh_hi"], r["dh_lo"]) for r in image_dhash(docs).collect()}
    b = {r["media_id"]: (r["dh_hi"], r["dh_lo"]) for r in image_dhash(docs).collect()}
    assert a == b and len(a) == 20
    for hi, lo in a.values():
        assert 0 <= hi < 1 << 32 and 0 <= lo < 1 << 32


def test_image_dhash_decode_path_matches_synthetic_model(spark):
    """End-to-end decode→hash: image_dhash now encodes each synthetic
    grid to REAL PNG bytes and hashes the stdlib-DECODED pixels; that
    must equal the direct hash of the model grid (codec round-trip is
    bit-exact), and image_dhash_bytes over the same grids shipped as
    PNG payloads must produce identical hashes — so 'perceptual hash
    of an image' is verified on actual image bytes, not a
    hash-derived array."""
    import hashlib

    import numpy as np

    from data__converter_spark.llmops.multimodal import (
        _dhash_of_gray,
        encode_png,
        image_dhash,
        image_dhash_bytes,
    )

    ids = list(range(40))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    via_decode = {
        r["media_id"]: (r["dh_hi"], r["dh_lo"])
        for r in image_dhash(docs).collect()
    }

    def model_grid(mid):
        w, h = 8 + mid % 5, 6 + mid % 4
        hx = hashlib.md5(str(mid).encode()).hexdigest()
        return np.frombuffer(
            (hx * (w * h // 32 + 1)).encode()[: w * h], np.uint8
        ).reshape(h, w)

    direct = {mid: _dhash_of_gray(model_grid(mid)) for mid in ids}
    assert via_decode == direct

    payload_rows = [
        (mid, bytearray(encode_png(model_grid(mid), filter_type=mid % 5)))
        for mid in ids
    ]
    media = spark.createDataFrame(
        payload_rows, "media_id long, payload binary"
    )
    via_bytes = {
        r["media_id"]: (r["dh_hi"], r["dh_lo"])
        for r in image_dhash_bytes(media).collect()
    }
    assert via_bytes == direct


def test_image_dhash_bytes_bmp_and_undecodable(spark):
    """image_dhash_bytes handles 24-bit BMP via integer Rec.601 luma,
    and silently drops undecodable payloads."""
    import numpy as np

    from data__converter_spark.llmops.multimodal import (
        _dhash_of_gray,
        encode_bmp,
        image_dhash_bytes,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(12, 10, 3), dtype=np.uint8)
    gray = (
        299 * rgb[:, :, 0].astype(np.int64)
        + 587 * rgb[:, :, 1].astype(np.int64)
        + 114 * rgb[:, :, 2].astype(np.int64)
    ) // 1000
    want = _dhash_of_gray(gray)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp(rgb))),
            (2, bytearray(b"not an image at all")),
        ],
        "media_id long, payload binary",
    )
    got = {
        r["media_id"]: (r["dh_hi"], r["dh_lo"])
        for r in image_dhash_bytes(media).collect()
    }
    assert got == {1: want}


def test_dhash_candidates_band_collision_and_hamming(spark):
    from data__converter_spark.llmops.multimodal import dhash_candidates

    rows = [
        (1, 0x12345678, 0x9ABCDE00),
        (2, 0x12345678, 0x9ABCDE00),  # identical to 1 -> hamming 0
        (3, 0x12340000, 0x9ABCDE00),  # shares hi high-band with 1/2
        (4, 0x00000000, 0x00000000),  # shares only 3's zeroed hi low-band
    ]
    df = spark.createDataFrame(rows, "media_id long, dh_hi long, dh_lo long")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in dhash_candidates(df).collect()}
    # 1-2: identical, collide everywhere, ONE row, hamming 0
    assert got[(1, 2)] == 0
    # 1-3 and 2-3: hi high-band (0x1234) shared; hamming = bits of 0x5678
    assert got[(1, 3)] == bin(0x5678).count("1")
    # 3-4: share hi low-band (0x0000); hamming = popcount(0x12340000)+popcount(0x9ABCDE00)
    assert got[(3, 4)] == bin(0x12340000).count("1") + bin(0x9ABCDE00).count("1")
    # no pair is ever duplicated
    assert len(got) == len(set(got))
