"""Test-only helpers shared by several test modules: plan probes,
reference kernels and synthetic inputs that no engine code calls."""

from __future__ import annotations

import io
import wave

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from data__converter_spark.llmops.dedup import _MERSENNE_P, _perm_coeffs
from data__converter_spark.llmops.multimodal import MEDIA_SCHEMA
from data__converter_spark.scale import local_frame


def plan_has_exchange(df: DataFrame) -> bool:
    """True when the physical plan contains a shuffle Exchange — the
    probe behind the bucketing/co-location assertions."""
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    return any(
        line.strip().lstrip("+-: ").startswith("Exchange")
        for line in plan.splitlines()
    )


def sig_from_hs_udf(num_hashes: int, seed: int):
    """Arrow kernel: shingle-hash array -> minhash signature via the
    seeded affine permutations of ``dedup._perm_coeffs``, pure numpy —
    the split form (JVM shingle hashing, then this kernel) that the
    engine's fused kernels must agree with."""
    from pyspark.sql.functions import pandas_udf

    coeffs = _perm_coeffs(num_hashes, seed)

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append(None)
                continue
            hv = np.asarray(h, dtype=np.int64)[None, :]
            out.append(((A * hv + B) % _MERSENNE_P).min(axis=1))
        return pd.Series(out)

    return sig.asNondeterministic()


def encode_wav(samples, sample_rate: int = 16_000) -> bytes:
    """int16 mono sample array -> 16-bit PCM WAV bytes (stdlib wave)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table: payload bytes derive from
    media_id (no real codec decodes them, so every kernel takes its
    stub path); metadata is typed."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = f"media-{i}".encode() * (4 + i % 5)
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                (64 + i % 8, 48 + i % 6, 1000 * (1 + i % 7), f"x/{kind}"),
            )
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)
