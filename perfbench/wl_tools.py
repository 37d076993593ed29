"""``tools``: the five data--converter tools as user calls, files in and
files out, on small inputs derived from the sf0.01 tables, beside two
LLM-data text operators (exact dedup groups, a count-min token sketch)
over the seeded documents table, written out as parquet.

Each call submits a handful of Spark jobs on kilobytes to a megabyte of
data, so session warmth, plan building, the per-job scheduling floor and
file IO dominate; shuffle and task compute do little.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import re
from collections import Counter

import pandas as pd

import oracle
from datagen import generate
from harness import Context, Op

N_ORDERS = 3000           # compare base table rows
N_CONVERT = 1000          # csv -> xml rows
N_PART_SHEET = 400        # xlsx sheet rows
PDF_PAGES = 5             # pages of each generated PDF
COUNT_PAT = r"\b(fast|slow)\b"
REPLACE_PAT, REPLACE_WITH = r"[ \t]+", " "
PRESET_CHAIN = [
    "remove_zero_width", "remove_nbsp", "tabs_to_spaces", "collapse_spaces",
    "comma_spacing",
]
MASK_RULES = {
    "c_name": dict(kind="fakeName"),
    "c_acctbal": dict(kind="randomString", fixed_part="AB", str_len=8,
                      fill_kind="digits"),
    "c_mktsegment": dict(kind="blank"),
    "c_nationkey": dict(kind="hashSHA256"),
}
COMPARE_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority"]
# registry text operators over the documents table: (query, layer)
TEXT_OPS = [("dedup_exact_groups", "dedup"), ("sketch_cms_tokens", "sketches")]


def _strings(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].dt.strftime("%Y-%m-%d")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].map(lambda v: f"{v:.2f}")
        else:
            out[c] = out[c].astype(str)
    return out


def _rows(df: pd.DataFrame) -> Counter:
    cols = sorted(df.columns)
    return Counter(tuple(r) for r in df[cols].itertuples(index=False))


def _spark_rows(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(
        tuple("" if r[i] is None else str(r[i]) for i in order) for r in rows
    )


def _xml(df: pd.DataFrame) -> str:
    from xml.sax.saxutils import escape

    body = "".join(
        "<row>" + "".join(f"<{c}>{escape(str(v))}</{c}>" for c, v in r.items())
        + "</row>\n"
        for r in df.to_dict("records")
    )
    return f"<rows>\n{body}</rows>\n"


def _perturb(base: pd.DataFrame, rng) -> tuple[pd.DataFrame, dict]:
    """B = A minus deleted keys, with edited fields and added keys.
    Returns B and the exact diff it implies."""
    keys = list(base["o_orderkey"])
    picks = rng.sample(keys, len(keys) // 5)
    deleted = set(picks[: len(picks) // 4])
    edited = picks[len(picks) // 4:]
    b = base[~base["o_orderkey"].isin(deleted)].copy().set_index("o_orderkey")
    n_fields = 0
    for k in edited:
        for c in rng.sample(COMPARE_COLS, rng.randint(1, 3)):
            b.at[k, c] = b.at[k, c] + "9"  # always differs from the original
            n_fields += 1
    b = b.reset_index()
    added = base.sample(n=len(deleted), random_state=rng.randint(0, 2**31)).copy()
    added["o_orderkey"] = [str(10**7 + i) for i in range(len(added))]
    b = pd.concat([b, added], ignore_index=True)
    expect = {
        "summary": {
            "same": len(base) - len(picks), "changed": len(edited),
            "deleted": len(deleted), "added": len(added),
        },
        "mismatch_rows": n_fields + (len(deleted) + len(added)) * len(COMPARE_COLS),
    }
    return b.sample(frac=1.0, random_state=rng.randint(0, 2**31)), expect


def _salt(text: str, rng) -> str:
    """Inject one trigger per preset: tabs, runs of spaces, NBSP,
    zero-width characters and odd comma spacing."""
    words = text.split(" ")
    for tok in rng.sample(["\t", "   ", "\u00a0", "\u200b", " ,", ",  ", "\ufeff"], 3):
        i = rng.randrange(len(words))
        words[i] = words[i] + tok
    return " ".join(words)


def prepare(ctx: Context) -> None:
    rng = ctx.rng
    tables = ctx.path("inputs", "tables")
    generate(tables, ctx.seed)
    t = {n: pd.read_parquet(os.path.join(tables, f"{n}.parquet"))
         for n in ("orders", "supplier", "nation", "part", "customer", "documents")}
    src = {n: _strings(df) for n, df in t.items()}
    src["orders"] = src["orders"].head(N_ORDERS)
    inp = ctx.path("inputs")

    src["convert"] = src["orders"].head(N_CONVERT)
    src["convert"].to_csv(f"{inp}/orders.csv", index=False)
    with open(f"{inp}/supplier.xml", "w") as fh:
        fh.write(_xml(src["supplier"]))
    from data__converter_spark.io import xlsx_lite

    src["part"] = src["part"].head(N_PART_SHEET)
    xlsx_lite.write_workbook(f"{inp}/book.xlsx", {
        n: (list(src[n].columns), src[n].values.tolist()) for n in ("nation", "part")
    })

    b, ctx.expect_diff = _perturb(src["orders"], rng)
    src["orders"].to_csv(f"{inp}/base.csv", index=False)
    b.to_csv(f"{inp}/changed.csv", index=False)
    src["customer"].to_csv(f"{inp}/customer.csv", index=False)

    lines = [_salt(x, rng) for x in t["documents"]["text"]]
    with open(f"{inp}/docs.txt", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    src["lines"] = lines

    from data__converter_spark.io.pdf import MiniPdfCodec

    os.makedirs(f"{inp}/pdf")
    src["pdf_pages"] = {}
    # split_pdf runs one job per page, so every seed's documents carry the
    # same page count: the seed varies their content, not the work
    for i in range(6):
        pages = [f"doc{i} page{p} {rng.randrange(10**6)}" for p in range(PDF_PAGES)]
        with open(f"{inp}/pdf/doc{i}.pdf", "wb") as fh:
            fh.write(MiniPdfCodec.make(pages))
        src["pdf_pages"][f"{inp}/pdf/doc{i}.pdf"] = pages
    ctx.src = src
    ctx.expect_mask = Counter(tuple(r) for r in src["customer"][
        ["c_custkey", *MASK_RULES]].itertuples(index=False))


def build_state(ctx: Context) -> None:
    """The tools hold no standing state."""


def _size(*paths: str) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _csv_rows(spark, path):
    from data__converter_spark.io import readers

    return _collect(readers.read_table_auto(spark, path))


def round_ops(ctx: Context, rnd: int) -> list[Op]:
    from pyspark.sql import functions as F

    from data__converter_spark import compare, mask, pattern
    from data__converter_spark.io import convert, pdf, readers
    from data__converter_spark.workloads import QUERIES

    spark, inp = ctx.spark, ctx.path("inputs")

    def out(name: str) -> str:
        return ctx.path("out", name)

    def csv_sink(path):
        return lambda df: df.write.mode("overwrite").option("header", True).csv(path)

    def json_sink(path):
        return lambda df: df.write.mode("overwrite").json(path)

    def read_json(path, cols):
        return [tuple(r[c] for c in cols) for r in spark.read.json(path).collect()]

    def merge():
        order = ctx.rng.sample(sorted(ctx.src["pdf_pages"]), 3)
        ctx.merge_order = order
        df = pdf.read_pdfs(spark, f"{inp}/pdf")
        res = pdf.merge_pdfs(df, order, codec=pdf.MiniPdfCodec())
        os.makedirs(out("pdf_merge"), exist_ok=True)
        with open(os.path.join(out("pdf_merge"), res.name), "wb") as fh:
            fh.write(res.content)

    def split_build():
        ctx.split_src = ctx.rng.choice(sorted(ctx.src["pdf_pages"]))
        return pdf.split_pdf(pdf.read_pdfs(spark, f"{inp}/pdf"),
                             ctx.split_src, codec=pdf.MiniPdfCodec())

    def write_split(df):
        for p in glob.glob(out("pdf_split") + "/*.pdf"):
            os.remove(p)
        pdf.write_outputs(df, out("pdf_split"))

    def pdf_texts(path):
        with open(path, "rb") as fh:
            data = fh.read()
        return (pdf.MiniPdfCodec().count_pages(data),
                re.findall(rb"% (doc\d+ page\d+ \d+)\n", data))

    def compare_build():
        d = compare.diff(readers.read_table_auto(spark, f"{inp}/base.csv"),
                         readers.read_table_auto(spark, f"{inp}/changed.csv"),
                         "o_orderkey")
        return compare.diff_summary(d), compare.field_mismatches(d, "o_orderkey")

    def compare_sink(frames):
        summary, mismatches = frames
        csv_sink(out("compare/summary"))(summary)
        csv_sink(out("compare/mismatches"))(mismatches)

    def compare_read():
        csv = spark.read.option("header", True).csv
        summary = csv(out("compare/summary")).collect()
        return ({r["status"]: int(r["cnt"]) for r in summary},
                csv(out("compare/mismatches")).count())

    def masked():
        rules = {c: mask.FieldRule(**r) for c, r in MASK_RULES.items()}
        src = readers.read_table_auto(spark, f"{inp}/customer.csv")
        m, key = mask.mask_table(src, rules, seed=ctx.seed, id_cols=["c_custkey"])
        return m.join(key.withColumnsRenamed({c: f"orig_{c}" for c in MASK_RULES}),
                      "ANON_ROW_ID")

    def docs():
        return readers.read_txt_lines(spark, f"{inp}/docs.txt")

    def text_op(query: str, layer: str) -> Op:
        path = out(query)
        return Op(f"llmops.{query}", layer,
                  lambda: QUERIES[query](spark, f"{inp}/tables"),
                  lambda: _collect(spark.read.parquet(path)),
                  sink=lambda df: df.write.mode("overwrite").parquet(path),
                  out_dir=path, in_bytes=_size(f"{inp}/tables/documents.parquet"))

    ops = [
        Op("convert.csv_to_xml", "io",
           lambda: convert.convert(spark, [f"{inp}/orders.csv"], "xml", out("c_xml")),
           lambda: _collect(
               readers.read_xml(spark, out("c_xml") + "/orders.xml", row_tag="row")),
           out_dir=out("c_xml"), in_bytes=_size(f"{inp}/orders.csv")),
        Op("convert.xml_to_csv", "io",
           lambda: convert.convert(spark, [f"{inp}/supplier.xml"], "csv",
                                   out("c_csv"), xml_row_tag="row"),
           lambda: _csv_rows(spark, out("c_csv") + "/supplier.csv"),
           out_dir=out("c_csv"), in_bytes=_size(f"{inp}/supplier.xml")),
        Op("convert.xlsx_to_csv", "io",
           lambda: convert.convert(spark, [f"{inp}/book.xlsx"], "csv", out("c_xlsx")),
           lambda: {n: _csv_rows(spark, out("c_xlsx") + f"/book_{n}.csv")
                    for n in ("nation", "part")},
           out_dir=out("c_xlsx"), in_bytes=_size(f"{inp}/book.xlsx")),
        Op("compare.diff", "compare", compare_build, compare_read, sink=compare_sink,
           out_dir=out("compare"),
           in_bytes=_size(f"{inp}/base.csv", f"{inp}/changed.csv")),
        Op("mask.mask_table", "mask", masked,
           lambda: _collect(spark.read.option("header", True).csv(out("mask"))),
           sink=csv_sink(out("mask")), out_dir=out("mask"),
           in_bytes=_size(f"{inp}/customer.csv")),
        Op("pattern.count_matches", "pattern",
           lambda: docs().select(
               "value",
               pattern.count_matches_col("value", COUNT_PAT, case_insensitive=True)
               .alias("n")),
           lambda: read_json(out("pat_count"), ["value", "n"]),
           sink=json_sink(out("pat_count")), out_dir=out("pat_count"),
           in_bytes=_size(f"{inp}/docs.txt")),
        Op("pattern.replace_all", "pattern",
           lambda: docs().select(
               F.col("value").alias("src"),
               pattern.replace_all_col("value", REPLACE_PAT, REPLACE_WITH).alias("out")),
           lambda: read_json(out("pat_repl"), ["src", "out"]),
           sink=json_sink(out("pat_repl")), out_dir=out("pat_repl"),
           in_bytes=_size(f"{inp}/docs.txt")),
        Op("pattern.presets", "pattern",
           lambda: pattern.apply_presets(
               docs().withColumn("src", F.col("value")), "value", PRESET_CHAIN),
           lambda: read_json(out("pat_preset"), ["src", "value"]),
           sink=json_sink(out("pat_preset")), out_dir=out("pat_preset"),
           in_bytes=_size(f"{inp}/docs.txt")),
        Op("pdf.merge", "io", merge,
           lambda: pdf_texts(glob.glob(out("pdf_merge") + "/*.pdf")[0]),
           out_dir=out("pdf_merge"), in_bytes=_size(*glob.glob(f"{inp}/pdf/*.pdf"))),
        Op("pdf.split", "io", split_build,
           lambda: [pdf_texts(p) for p in sorted(glob.glob(out("pdf_split") + "/*.pdf"))],
           sink=write_split, out_dir=out("pdf_split"),
           in_bytes=_size(*glob.glob(f"{inp}/pdf/*.pdf"))),
        *(text_op(q, layer) for q, layer in TEXT_OPS),
    ]
    # every round runs the same ops, in an order drawn from the seed
    random.Random(f"{ctx.seed}/{rnd}").shuffle(ops)
    return ops


def _presets(s: str) -> str:
    from data__converter_spark.pattern import PRESETS

    for p in PRESET_CHAIN:
        for pat, repl in PRESETS[p]:
            s = re.sub(pat, repl.replace("$", "\\"), s)
    return s


def check_read(ctx: Context, idx: int, name: str, value) -> str | None:
    """Why one read back output is wrong, or None.  Runs right after the
    read, with the clock stopped, so every round's output is checked
    against the inputs that round drew."""
    src = ctx.src
    if name in ("convert.csv_to_xml", "convert.xml_to_csv"):
        cols, rows = value
        want = src["convert" if name == "convert.csv_to_xml" else "supplier"]
        if _spark_rows(rows, cols) != _rows(want):
            return "convert round trip differs"
    elif name == "convert.xlsx_to_csv":
        if not all(_spark_rows(value[n][1], value[n][0]) == _rows(src[n])
                   for n in ("nation", "part")):
            return "xlsx->csv round trip differs"
    elif name == "compare.diff":
        summary, mismatches = value
        want = ctx.expect_diff
        if (summary != {k: v for k, v in want["summary"].items() if v}
                or mismatches != want["mismatch_rows"]):
            return f"diff {summary}, {mismatches} != {want}"
    elif name == "mask.mask_table":
        cols, rows = value
        got = [dict(zip(cols, r)) for r in rows]
        recovered = Counter(
            tuple([r["c_custkey"]] + [r[f"orig_{c}"] for c in MASK_RULES])
            for r in got)
        sha_ok = all(
            r["c_nationkey"]
            == hashlib.sha256(r["orig_c_nationkey"].encode()).hexdigest()
            and r["c_acctbal"].startswith("AB") and len(r["c_acctbal"]) == 8
            for r in got)
        if recovered != ctx.expect_mask or not sha_ok:
            return "recovery key does not restore the source"
    elif name.startswith("pattern."):
        lines = src["lines"]
        want = {
            "pattern.count_matches": lambda s: len(
                re.findall(COUNT_PAT, s, re.IGNORECASE)),
            "pattern.replace_all": lambda s: re.sub(REPLACE_PAT, REPLACE_WITH, s),
            "pattern.presets": _presets,
        }[name]
        if Counter(value) != Counter((s, want(s)) for s in lines):
            return f"{name} differs from Python re"
    elif name == "pdf.merge":
        pages = src["pdf_pages"]
        n, texts = value
        want = [t for p in ctx.merge_order for t in pages[p]]
        if n != len(want) or [t.decode() for t in texts] != want:
            return "merged pages differ"
    elif name == "pdf.split":
        want = [(1, [t]) for t in src["pdf_pages"][ctx.split_src]]
        if want != [(n, [x.decode() for x in ts]) for n, ts in value]:
            return "split pages differ"
    elif name.startswith("llmops."):
        from data__converter_spark.workloads import ORACLES

        tables = {os.path.basename(p)[:-len(".parquet")]: p
                  for p in glob.glob(ctx.path("inputs", "tables", "*.parquet"))}
        if oracle.differs(ORACLES[name.split(".", 1)[1]], tables, *value):
            return f"{name} differs from its DuckDB oracle"
    else:
        return f"no check for {name}"
    return None


def check(ctx: Context) -> dict[int, str]:
    """Every output was checked as it was read; nothing is left."""
    return {}
