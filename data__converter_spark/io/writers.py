"""Writers: DataFrame -> CSV/TXT/JSON/XML/Excel/ZIP (SURVEY §2.2).

Edge contract (SURVEY §1.4): outputs are stringified, missing values
print as ``''`` — applied here via :func:`schema.stringify_all`, never
inside the engine.

- K1/K2 CSV: the reference has an unquoted writer (FileUploader.tsx:
  164-170 — lossy on embedded commas) and a quoted one
  (compare/page.tsx:397-417 — quotes fields matching ``[",\\n]``,
  doubles ``"``). We default to the quoted semantics (Spark's csv
  writer with escape='"') and treat K1's unquoted form as the
  documented divergence (SURVEY §7.3.4).
- K3 TXT: ``{value}``-only frames -> newline-joined values, anything
  else -> JSON lines (FileUploader.tsx:171-176).
- K4 pretty XML: ``<rows><row><col>...`` 2-space indent, invalid XML
  names as ``<col name="...">``, ``&<>`` escaped
  (FileUploader.tsx:128-161). An XML document has one root element, so
  like Excel it is an inherently single-file edge format: rows format
  in parallel on executors, the driver streams partition results to
  disk via ``toLocalIterator`` (no full materialization).
- K5 Excel: the stdlib ``xlsx_lite`` codec; documented row cap.
- K6 ZIP: driver-side packaging of an output directory.
"""

from __future__ import annotations

import os
import re
import zipfile

from pyspark.sql import DataFrame

from ..schema import stringify_all

EXCEL_MAX_ROWS = 1_048_576  # xlsx hard sheet limit


def write_csv(df: DataFrame, path: str, header: bool = True, sep: str = ",") -> None:
    """K2: quoted CSV (quote-if-needed, `\"\"` doubling), distributed."""
    (
        stringify_all(df)
        .write.mode("overwrite")
        .option("header", header)
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def write_txt(df: DataFrame, path: str) -> None:
    """K3: value-only frames as plain lines; otherwise JSON lines."""
    if df.columns == ["value"]:
        stringify_all(df).write.mode("overwrite").text(path)
    else:
        df.write.mode("overwrite").json(path)


_XML_NAME_OK = re.compile(r"^[A-Za-z_][A-Za-z0-9._-]*$")


def xml_escape(s: str) -> str:
    """F17: ``& < >`` -> entities (FileUploader.tsx:129-130)."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _format_row(values: dict[str, str], row_tag: str, indent: str = "  ") -> str:
    lines = [f"{indent}<{row_tag}>"]
    for name, value in values.items():
        v = xml_escape(value or "")
        if _XML_NAME_OK.match(name):
            lines.append(f"{indent*2}<{name}>{v}</{name}>")
        else:
            attr = xml_escape(name).replace('"', "&quot;")
            lines.append(f'{indent*2}<col name="{attr}">{v}</col>')
    lines.append(f"{indent}</{row_tag}>")
    return "\n".join(lines)


def rows_to_xml_fragments(
    df: DataFrame, row_tag: str = "row", indent: str = "  "
) -> "DataFrame":
    """Format each row to its XML fragment string — the distributed part
    of K4 (one column ``xml``).

    Pure JVM-side ``concat`` over the printable columns (tag names are
    static, so the template folds into literals): the whole expression
    stays inside whole-stage codegen — no Python worker round-trip per
    row, byte-identical to :func:`_format_row`.
    """
    from pyspark.sql import functions as F

    def esc(c):
        out = F.coalesce(c, F.lit(""))
        for s, r in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
            out = F.replace(out, F.lit(s), F.lit(r))
        return out

    printable = stringify_all(df)
    pieces = [F.lit(f"{indent}<{row_tag}>")]
    for name in df.columns:
        if _XML_NAME_OK.match(name):
            open_t, close_t = f"<{name}>", f"</{name}>"
        else:
            attr = xml_escape(name).replace('"', "&quot;")
            open_t, close_t = f'<col name="{attr}">', "</col>"
        # backtick-quote so dotted names from read_xml's nested-path
        # flatten resolve as literal columns, not struct access (same
        # idiom as schema.printable_col)
        pieces += [
            F.lit(f"\n{indent * 2}{open_t}"),
            esc(F.col(f"`{name}`")),
            F.lit(close_t),
        ]
    pieces.append(F.lit(f"\n{indent}</{row_tag}>"))
    return printable.select(F.concat(*pieces).alias("xml"))


def write_xml(
    df: DataFrame, path: str, root_tag: str = "rows", row_tag: str = "row"
) -> None:
    """K4: single pretty-XML document streamed to ``path``.

    Fragments format on executors; the driver only concatenates (one
    pass, ``toLocalIterator`` — never holds the dataset in memory).
    """
    frags = rows_to_xml_fragments(df, row_tag=row_tag)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(f"<{root_tag}>\n")
        for r in frags.toLocalIterator():
            fh.write(r.xml)
            fh.write("\n")
        fh.write(f"</{root_tag}>\n")


def write_excel(sheets: dict[str, DataFrame], path: str) -> None:
    """K5/K7: {sheet_name: df} -> one xlsx workbook.

    Written by the stdlib ``xlsx_lite`` codec. Enforces the xlsx row
    cap — at scale this format is a preview/interchange edge, parquet is
    the substrate.
    """
    from . import xlsx_lite
    from .readers import sanitize_sheet_name

    taken: set[str] = set()
    payload = {}
    for name, df in sheets.items():
        n = df.count()
        if n > EXCEL_MAX_ROWS:
            raise ValueError(
                f"sheet {name!r}: {n} rows exceeds xlsx cap {EXCEL_MAX_ROWS}"
            )
        rows = [list(r) for r in stringify_all(df).collect()]
        payload[sanitize_sheet_name(name, taken)] = (df.columns, rows)
    xlsx_lite.write_workbook(path, payload)


def zip_directory(src_dir: str, zip_path: str) -> list[str]:
    """K6: package an output directory into one zip (driver-side)."""
    names: list[str] = []
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for base, _, files in os.walk(src_dir):
            for f in sorted(files):
                full = os.path.join(base, f)
                rel = os.path.relpath(full, src_dir)
                zf.write(full, rel)
                names.append(rel)
    return names
