"""PDF tool: scan/validate/merge/split (SURVEY §2.9 D1-D3, S12, F21).

Reference semantics (pdf-tool/page.tsx):
- S12/D3 validation: 5-byte ``%PDF-`` magic header + nonzero size
  (:29-51,294-314) — a distributed filter over binaryFile rows.
- F21 page-spec: ``"1,3,5-7"`` -> [[1],[3],[5,6,7]]; ranges normalized
  min..max; non-numeric chunks skipped (:54-73) — plan-time parser.
- D1 merge: N valid PDFs (>=2) in explicit user order -> one PDF
  (:317-359). Inherently sequential assembly: the driver concatenates
  page streams in manifest order (don't over-engineer — SURVEY §7.3.7).
- D2 split: one PDF -> one output per page group; ``all`` mode = one per
  page; out-of-range pages filtered, empty groups skipped; zero-padded
  ``_split_001`` names (:362-445). The codec parses the document once on
  the driver and builds every group from that parse: a per-group Python
  task costs far more than the byte surgery it would carry.

Both collect only the requested PDFs. Page-level byte surgery needs a
PDF codec; two implement the same protocol (count_pages/split/merge):

- ``MiniPdfCodec`` — the real codec and the default: stdlib byte-level
  page surgery for the uncompressed subset (plain xref, flat page tree,
  uncompressed streams), with golden merge/split round-trip tests; any
  other PDF raises ``ValueError``.
- ``FakePdfCodec`` — trivial line-per-page stand-in kept for fast
  plumbing tests (manifest ordering, fan-out, name formatting).
"""

from __future__ import annotations

import io
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scale import local_frame

PDF_MAGIC = b"%PDF-"


# ---------------------------------------------------------------------------
# S12/D3 — scan + validate
# ---------------------------------------------------------------------------


def read_pdfs(spark: SparkSession, glob: str) -> DataFrame:
    """binaryFile scan of candidate PDFs: (path, length, content)."""
    return (
        spark.read.format("binaryFile")
        .load(glob)
        .select("path", "length", "content")
    )


def valid_pdfs(df: DataFrame) -> DataFrame:
    """D3: keep rows with the %PDF- magic header and nonzero size."""
    magic = F.lit(PDF_MAGIC)
    return df.filter(
        (F.col("length") > 0) & (F.substring(F.col("content"), 1, 5) == magic)
    )


# ---------------------------------------------------------------------------
# F21 — page-spec parser (plan-time)
# ---------------------------------------------------------------------------


def parse_pages(spec: str) -> list[list[int]]:
    """``"1,3,5-7"`` -> [[1],[3],[5,6,7]]; ranges normalized min..max;
    non-numeric chunks skipped (pdf-tool/page.tsx:54-73)."""
    groups: list[list[int]] = []
    for chunk in spec.split(","):
        chunk = chunk.strip()
        if not chunk:
            continue
        if "-" in chunk:
            a, _, b = chunk.partition("-")
            if a.strip().isdigit() and b.strip().isdigit():
                lo, hi = sorted((int(a), int(b)))
                groups.append(list(range(lo, hi + 1)))
        elif chunk.isdigit():
            groups.append([int(chunk)])
    return groups


# ---------------------------------------------------------------------------
# Page codecs
# ---------------------------------------------------------------------------


class MiniPdfCodec:
    """REAL minimal PDF codec, stdlib only — genuine byte-level page
    surgery for the uncompressed subset of PDF (plain xref table,
    flat /Kids page tree, uncompressed content streams): exactly the
    class of file :meth:`make` writes, which any PDF viewer opens.

    Compressed/object-stream PDFs raise ``ValueError`` (honest gate).
    Protocol matches FakePdfCodec: count_pages / split / merge.
    """

    @staticmethod
    def make(page_texts: list[str]) -> bytes:
        """Build a real multi-page PDF; each page draws a distinct
        filled rectangle + has a comment carrying the page text, so
        page identity survives extraction byte-exactly."""
        pages = []
        for i, txt in enumerate(page_texts):
            stream = (
                f"% {txt}\n0.2 0.4 0.8 rg\n"
                f"{60 + 10 * i} {700 - 10 * i} 120 40 re f\n"
            ).encode()
            pages.append((b"[0 0 612 792]", stream))
        return MiniPdfCodec._build(pages)

    @staticmethod
    def _build(pages: list[tuple[bytes, bytes]]) -> bytes:
        n = len(pages)
        bodies: dict[int, bytes] = {}
        kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n))
        bodies[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
        bodies[2] = b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n
        for i, (mediabox, stream) in enumerate(pages):
            pid, cid = 3 + 2 * i, 4 + 2 * i
            bodies[pid] = (
                b"<< /Type /Page /Parent 2 0 R /MediaBox "
                + mediabox
                + b" /Contents %d 0 R /Resources << >> >>" % cid
            )
            bodies[cid] = (
                b"<< /Length %d >>\nstream\n" % len(stream)
                + stream
                + b"\nendstream"
            )
        out = io.BytesIO()
        out.write(b"%PDF-1.4\n")
        offsets = {}
        for num in sorted(bodies):
            offsets[num] = out.tell()
            out.write(b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n")
        xref_at = out.tell()
        n_obj = max(bodies) + 1
        out.write(b"xref\n0 %d\n" % n_obj)
        out.write(b"0000000000 65535 f \n")
        for num in range(1, n_obj):
            out.write(b"%010d 00000 n \n" % offsets[num])
        out.write(
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (n_obj, xref_at)
        )
        return out.getvalue()

    @staticmethod
    def _parse(data: bytes) -> list[tuple[bytes, bytes]]:
        """-> [(mediabox, content stream)] in page-tree order.

        Contract: object bodies are located by regex scan for
        ``N 0 obj ... endobj``, so page content streams MUST NOT
        contain the literal byte sequences ``endobj`` or ``N 0 obj``
        (a stream that does mis-parses silently instead of hitting the
        loud gates below). This codec only reads PDFs this module's
        writer produced — uncompressed text streams from
        :meth:`make` — where those keywords cannot occur;
        arbitrary external PDFs hit the ``ValueError`` gates. A general
        parser would bound stream extraction by the declared ``/Length``
        instead.
        """
        objs = {
            int(m.group(1)): m.group(2)
            for m in re.finditer(
                rb"(\d+)\s+0\s+obj\b(.*?)endobj", data, re.DOTALL
            )
        }
        if not objs:
            raise ValueError("no parseable PDF objects (compressed xref?)")
        catalog = next(
            (b for b in objs.values() if b"/Type" in b and b"/Catalog" in b), None
        )
        if catalog is None:
            raise ValueError("no /Catalog object — not a simple PDF")
        pages_ref = re.search(rb"/Pages\s+(\d+)\s+0\s+R", catalog)
        pages_obj = objs.get(int(pages_ref.group(1))) if pages_ref else None
        if pages_obj is None:
            raise ValueError("no /Pages tree")
        kids_m = re.search(rb"/Kids\s*\[(.*?)\]", pages_obj, re.DOTALL)
        if kids_m is None:
            raise ValueError("no /Kids array")
        out = []
        for kid in re.finditer(rb"(\d+)\s+0\s+R", kids_m.group(1)):
            page = objs.get(int(kid.group(1)))
            if page is None or b"/Page" not in page:
                raise ValueError("nested or missing page node — not flat subset")
            mb = re.search(rb"/MediaBox\s*(\[[^\]]*\])", page)
            mediabox = mb.group(1) if mb else b"[0 0 612 792]"
            cref = re.search(rb"/Contents\s+(\d+)\s+0\s+R", page)
            stream = b""
            if cref is not None:
                cobj = objs.get(int(cref.group(1)), b"")
                sm = re.search(
                    rb"stream\r?\n(.*?)\r?\nendstream", cobj, re.DOTALL
                )
                if sm is None:
                    raise ValueError("content stream not parseable")
                stream = sm.group(1)
            out.append((mediabox, stream))
        return out

    def count_pages(self, data: bytes) -> int:
        return len(self._parse(data))

    def split(self, data: bytes, groups: list[list[int]]) -> list[bytes]:
        pages = self._parse(data)
        return [self._build([pages[p - 1] for p in g]) for g in groups]

    def merge(self, docs: list[bytes]) -> bytes:
        pages: list[tuple[bytes, bytes]] = []
        for d in docs:
            pages.extend(self._parse(d))
        return self._build(pages)


class FakePdfCodec:
    """Deterministic test codec: ``%PDF-FAKE\\n`` header + one line per
    page. Same protocol as MiniPdfCodec; exists so the distributed
    plumbing is testable without building real PDF bytes."""

    HEADER = b"%PDF-FAKE\n"

    @classmethod
    def make(cls, pages: list[str]) -> bytes:
        return cls.HEADER + b"".join(p.encode() + b"\n" for p in pages)

    def count_pages(self, data: bytes) -> int:
        return len(data[len(self.HEADER):].splitlines())

    def split(self, data: bytes, groups: list[list[int]]) -> list[bytes]:
        lines = data[len(self.HEADER):].splitlines()
        return [
            self.HEADER
            + b"".join(lines[p - 1] + b"\n" for p in g if 1 <= p <= len(lines))
            for g in groups
        ]

    def merge(self, docs: list[bytes]) -> bytes:
        return self.HEADER + b"".join(d[len(self.HEADER):] for d in docs)


# ---------------------------------------------------------------------------
# D1 — merge (manifest-ordered, one driver-side pass)
# ---------------------------------------------------------------------------


@dataclass
class PdfOutput:
    name: str
    content: bytes


# binaryFile reports file: URIs; manifests use plain paths.
_FILE_URI = "^file:(//)?"


def _norm_path(p: str) -> str:
    return re.sub(_FILE_URI, "", p)


def _requested(df: DataFrame, paths: list[str]) -> dict[str, bytes]:
    """Content of the valid PDFs among ``paths``, keyed by normalized
    path. The scan is filtered on the paths before collecting, so the
    other files of a directory never reach the driver."""
    wanted = sorted({_norm_path(p) for p in paths})
    norm = F.regexp_replace("path", _FILE_URI, "")
    rows = valid_pdfs(df).filter(norm.isin(wanted)).select("path", "content")
    return {_norm_path(r.path): bytes(r.content) for r in rows.collect()}


def merge_pdfs(
    df: DataFrame, order: list[str], codec=None, out_name: str = "merged.pdf"
) -> PdfOutput:
    """D1: merge validated PDFs in the explicit ``order`` of paths
    (O4 stable input ordering). PDF assembly is sequential by nature —
    one driver-coordinated pass; only the scan/validate distributes."""
    codec = codec or MiniPdfCodec()
    if len(order) < 2:
        raise ValueError("merge needs >= 2 files (pdf-tool/page.tsx:317)")
    rank = {_norm_path(p): i for i, p in enumerate(order)}
    docs = _requested(df, order)
    if len(docs) < len(order):
        raise ValueError(f"invalid or missing PDFs: {sorted(set(rank) - set(docs))}")
    return PdfOutput(out_name, codec.merge([docs[p] for p in sorted(rank, key=rank.get)]))


# ---------------------------------------------------------------------------
# D2 — split (one driver-side parse, every group built from it)
# ---------------------------------------------------------------------------


def split_pdf(
    df: DataFrame,
    path: str,
    spec: str | None = None,
    codec=None,
) -> DataFrame:
    """D2: one PDF -> (name, content) rows, one per page group.

    ``spec=None`` is 'all' mode (one file per page). Out-of-range pages
    drop; empty groups skip; names zero-pad ``_split_001``. Only the
    requested document is collected; the codec parses it once on the
    driver and builds every group (``codec.split``), and the outputs
    come back as an Arrow local frame — no Python worker, no shuffle.
    """
    codec = codec or MiniPdfCodec()
    data = _requested(df, [path]).get(_norm_path(path))
    if data is None:
        raise ValueError(f"not a valid PDF: {path}")
    n = codec.count_pages(data)
    groups = parse_pages(spec) if spec else [[p] for p in range(1, n + 1)]
    groups = [[p for p in g if 1 <= p <= n] for g in groups]
    groups = [g for g in groups if g]
    base = os.path.splitext(os.path.basename(path))[0]
    names = [f"{base}_split_{i:03d}.pdf" for i in range(1, len(groups) + 1)]
    return local_frame(
        df.sparkSession,
        list(zip(names, codec.split(data, groups))),
        "name string, content binary",
    )


def write_outputs(outputs: DataFrame, out_dir: str) -> list[str]:
    """K8: persist (name, content) rows as files under ``out_dir``.

    The rows are collected to the driver: PDF outputs are user-facing
    downloads, not a data path, and :func:`split_pdf`'s frame is a
    local relation that ``collect`` returns without a Spark job
    (``toLocalIterator`` would run one job per partition)."""
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for r in outputs.collect():
        path = os.path.join(out_dir, r.name)
        with open(path, "wb") as fh:
            fh.write(bytes(r.content))
        written.append(path)
    return written


def timestamp_name(base: str, ext: str = "pdf") -> str:
    """F22: ``{base}_{YYYY-MM-DD_HHmm}.{ext}`` output stamp
    (pattern-editor/page.tsx:310-317, pdf-tool/page.tsx:350)."""
    from datetime import datetime

    return f"{base}_{datetime.now().strftime('%Y-%m-%d_%H%M')}.{ext}"
