"""Convert I/O matrix tests (SURVEY §2.1/§2.2, §5.2 golden-file, §5.5
round-trip)."""

from __future__ import annotations

import os
import zipfile

import pytest

from data__converter_spark.io import convert, readers, writers


def _write(tmp_path, name: str, text: str, encoding: str = "utf-8") -> str:
    p = tmp_path / name
    p.write_bytes(text.encode(encoding))
    return str(p)


# ---------------------------------------------------------------------------
# CSV / TSV / delimiter sniffing
# ---------------------------------------------------------------------------


def test_csv_quoted_fields_and_trim(spark, tmp_path):
    path = _write(
        tmp_path,
        "a.csv",
        'id, name ,note\n1, alice ,"x, y"\n2,bob,"say ""hi"""\n',
    )
    df = readers.read_csv(spark, path)
    rows = {r.id: r for r in df.collect()}
    assert df.columns == ["id", "name", "note"]
    assert rows["1"].name == "alice"          # cells trimmed (P7)
    assert rows["1"].note == "x, y"           # quoted comma survives
    assert rows["2"].note == 'say "hi"'       # "" escape

def test_delimiter_sniffing(spark, tmp_path):
    semi = _write(tmp_path, "s.txt", "a;b;c\n1;2;3\n4;5;6\n")
    tab = _write(tmp_path, "t.txt", "a\tb\n1\t2\n")
    assert readers.detect_delimiter(spark, semi) == ";"
    assert readers.detect_delimiter(spark, tab) == "\t"
    df = readers.read_table_auto(spark, semi)
    assert df.columns == ["a", "b", "c"] and df.count() == 2


def test_tsv_forced_tab(spark, tmp_path):
    path = _write(tmp_path, "x.tsv", "k\tv\n1\ta,b\n")
    df = readers.read_table_auto(spark, path)
    assert df.collect()[0].v == "a,b"


# The options read_csv passes besides the schema, for Spark-inferred
# reference frames.
_CSV_OPTS = dict(
    sep=",", quote='"', escape='"', ignoreLeadingWhiteSpace=True,
    ignoreTrailingWhiteSpace=True, mode="PERMISSIVE",
)


def _spark_inferred(spark, path, **opts):
    reader = spark.read.option("header", True)
    for k, v in {**_CSV_OPTS, **opts}.items():
        reader = reader.option(k, v)
    return reader.csv(path)


@pytest.mark.parametrize("multiline", [False, True])
def test_csv_header_names_match_spark(spark, tmp_path, multiline):
    # BOM, padded names, a quoted delimiter, an empty cell and
    # case-insensitive duplicates: Spark names these a0, "b,c", _c2, a3, A4.
    path = _write(tmp_path, "h.csv", '\ufeff a ,"b,c",,a,A\n1,2,3,4,5\n6, 7 ,"8,9",,x\n')
    ours = readers.read_csv(spark, path, multiline=multiline)
    ref = _spark_inferred(spark, path, multiLine=multiline)
    assert ours.columns == ref.columns == ["a0", "b,c", "_c2", "a3", "A4"]
    assert sorted(ours.collect()) == sorted(ref.collect())
    auto = readers.read_table_auto(spark, path)
    assert auto.columns == ref.columns
    assert sorted(auto.collect()) == sorted(ref.collect())


def test_csv_header_from_spark_part_directory(spark, tmp_path):
    # A Spark-written directory: part files, _SUCCESS, .crc side files,
    # plus an empty part — the header comes from a real data part.
    out = str(tmp_path / "parts")
    src = spark.createDataFrame([(str(i), f"v;{i}") for i in range(30)], ["k", "v"])
    src.repartition(3).write.option("header", True).csv(out)
    (tmp_path / "parts" / "part-99999-empty.csv").write_bytes(b"")
    names = os.listdir(out)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    ref = _spark_inferred(spark, out)
    for df in (readers.read_csv(spark, out), readers.read_table_auto(spark, out)):
        assert df.columns == ref.columns == ["k", "v"]
        assert sorted(df.collect()) == sorted(ref.collect())
        assert df.count() == 30


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_euc_kr_sniff_reads_only_the_head(spark, tmp_path):
    path = _write(tmp_path, "kr.csv", "이름;값\n" + "홍길동;1\n" * 5000, encoding="euc-kr")
    before = _next_job_id(spark)
    assert readers.detect_delimiter(spark, path, encoding="euc-kr") == ";"
    assert _next_job_id(spark) == before


def _python_free(df) -> bool:
    return "PythonRDD" not in df._jdf.rdd().toDebugString()


def test_tools_path_job_budget(spark, tmp_path):
    # Building a csv frame submits no job; csv -> xml runs only the
    # writer's own job; Excel sheets, XML and legacy-charset csv frames
    # build without a Python worker; xml -> csv runs the scan and the
    # writer.
    src = _write(tmp_path, "t.csv", "id;v\n1;a\n2;b\n")
    before = _next_job_id(spark)
    df = readers.read_table_auto(spark, src)
    assert _next_job_id(spark) == before and df.columns == ["id", "v"]
    before = _next_job_id(spark)
    convert.convert(spark, [src], "xml", str(tmp_path / "xml"))
    assert _next_job_id(spark) == before + 1
    book = str(tmp_path / "wb.xlsx")
    from data__converter_spark.io import xlsx_lite

    xlsx_lite.write_workbook(book, {"s": (["id", "v"], [["1", "x"], ["2", ""]])})
    before = _next_job_id(spark)
    sheets = readers.read_excel(spark, book)
    assert _next_job_id(spark) == before
    assert _python_free(sheets["s"])
    assert sorted(sheets["s"].collect()) == [("1", "x"), ("2", "")]
    xml = _write(tmp_path, "x.xml", "<r><row><id>1</id></row><row><id>2</id></row></r>")
    assert _python_free(readers.read_xml(spark, xml, row_tag="row"))
    assert all(_python_free(t) for t in readers.read_xml_tables(spark, xml).values())
    kr = _write(tmp_path, "kr.csv", "이름,값\n홍길동,1\n", encoding="euc-kr")
    assert _python_free(readers.read_csv(spark, kr, encoding="euc-kr"))
    for row_tag in ("row", None):
        before = _next_job_id(spark)
        convert.convert(spark, [xml], "csv", str(tmp_path / "csv"), xml_row_tag=row_tag)
        assert _next_job_id(spark) == before + 2


def test_small_conversions_write_one_part_file(spark, tmp_path):
    """A converted file is one part file: frames parsed on the driver
    (XML, Excel sheets, legacy-charset csv) are one partition each,
    whatever the row count and the session's cores."""
    import os

    from data__converter_spark.io import xlsx_lite

    def part_files(out):
        return [n for n in os.listdir(out) if n.startswith("part-")]

    rows = "".join(f"<row><id>{i}</id><v>x{i}</v></row>" for i in range(100))
    xml = _write(tmp_path, "big.xml", f"<r>{rows}</r>")
    kr = _write(tmp_path, "kr.csv", "이름,값\n" + "홍길동,1\n" * 50, encoding="euc-kr")
    book = str(tmp_path / "two.xlsx")
    xlsx_lite.write_workbook(book, {
        "s1": (["id", "v"], [[str(i), "a"] for i in range(30)]),
        "s2": (["id"], [[str(i)] for i in range(20)]),
    })
    for src, kw in ((xml, {"xml_row_tag": "row"}), (kr, {"encoding": "euc-kr"}), (book, {})):
        outputs = convert.convert(spark, [src], "csv", str(tmp_path / "out"), **kw)
        assert outputs
        for out in outputs.values():
            assert len(part_files(out)) == 1, (src, out)
    back = readers.read_csv(spark, outputs["two_s1"])
    assert back.count() == 30


def test_csv_roundtrip(spark, tmp_path, orders):
    sample = orders.select("o_orderkey", "o_orderstatus", "o_orderpriority").limit(200)
    out = str(tmp_path / "orders_csv")
    writers.write_csv(sample, out)
    back = readers.read_csv(spark, out)
    assert back.count() == 200
    a = {r.o_orderkey: r.o_orderpriority for r in sample.collect()}
    b = {r.o_orderkey: r.o_orderpriority for r in back.collect()}
    assert {str(k): v for k, v in a.items()} == b


# ---------------------------------------------------------------------------
# TXT lines
# ---------------------------------------------------------------------------


def test_txt_lines_blank_dropped(spark, tmp_path):
    path = _write(tmp_path, "l.txt", "alpha\n\n   \nbeta\n")
    df = readers.read_txt_lines(spark, path)
    assert [r.value for r in df.collect()] == ["alpha", "beta"]


def test_txt_writer_value_mode_roundtrip(spark, tmp_path):
    src = _write(tmp_path, "in.txt", "one\ntwo\nthree\n")
    df = readers.read_txt_lines(spark, src)
    out = str(tmp_path / "out_txt")
    writers.write_txt(df, out)
    back = readers.read_txt_lines(spark, out)
    assert sorted(r.value for r in back.collect()) == ["one", "three", "two"]


def test_txt_writer_json_lines_mode(spark, tmp_path, orders):
    df = orders.select("o_orderkey", "o_orderstatus").limit(5)
    out = str(tmp_path / "out_jsonl")
    writers.write_txt(df, out)
    back = spark.read.json(out)
    assert back.count() == 5 and set(back.columns) == {"o_orderkey", "o_orderstatus"}


# ---------------------------------------------------------------------------
# JSON shapes (S6)
# ---------------------------------------------------------------------------


def test_json_array_of_objects(spark, tmp_path):
    path = _write(tmp_path, "a.json", '[{"x": 1, "y": "a"}, {"x": 2, "y": "b"}]')
    df = readers.read_json(spark, path)
    assert df.count() == 2 and set(df.columns) == {"x", "y"}


def test_json_array_under_key(spark, tmp_path):
    path = _write(
        tmp_path, "k.json", '{"meta": "m", "items": [{"x": 1}, {"x": 2}, {"x": 3}]}'
    )
    df = readers.read_json(spark, path)
    assert df.count() == 3 and "x" in df.columns


def test_json_scalar_array_wraps_value(spark, tmp_path):
    path = _write(tmp_path, "s.json", "[1, 2, 3]")
    df = readers.read_json(spark, path)
    assert df.columns == ["value"] and df.count() == 3


# ---------------------------------------------------------------------------
# XML (S8/S9/S10, K4)
# ---------------------------------------------------------------------------

XML_DOC = """<catalog>
  <meta>v1</meta>
  <item sku="a1"><name>Widget</name><price>10</price><dims><w>2</w><h>3</h></dims></item>
  <item sku="b2"><name>Gadget &amp; Co</name><price>20</price><dims><w>4</w><h>5</h></dims></item>
</catalog>
"""


def test_xml_read_rowtag_attrs_and_dotted(spark, tmp_path):
    path = _write(tmp_path, "c.xml", XML_DOC)
    df = readers.read_xml(spark, path, row_tag="item")
    rows = {r["@sku"]: r.asDict() for r in df.collect()}
    assert set(rows) == {"a1", "b2"}
    assert rows["a1"]["name"] == "Widget"
    assert rows["a1"]["dims.w"] == "2"          # dotted nested path (S10)
    assert rows["b2"]["name"] == "Gadget & Co"  # entity decoded


def test_xml_autodetect_tables(spark, tmp_path):
    path = _write(tmp_path, "c.xml", XML_DOC)
    tables = readers.read_xml_tables(spark, path)
    assert any(k.endswith("item") for k in tables)
    (name,) = [k for k in tables if k.endswith("item")]
    assert tables[name].count() == 2


def test_xml_selector_path_child_combinator(spark, tmp_path):
    # Reference selector semantics (FileUploader.tsx:65-93): "items > item"
    # must NOT match an <item> nested under <related>.
    doc = """<root>
  <items>
    <item><id>1</id><v>a</v></item>
    <item><id>2</id><v>b</v></item>
  </items>
  <related>
    <item><id>99</id><v>z</v></item>
  </related>
</root>
"""
    path = _write(tmp_path, "sel.xml", doc)
    over = readers.read_xml(spark, path, row_tag="item")
    assert over.count() == 3  # bare tag over-matches by design
    scoped = readers.read_xml(spark, path, row_tag="items > item")
    ids = sorted(r.id for r in scoped.collect())
    assert ids == ["1", "2"]
    # descendant combinator: "root item" matches all three
    desc = readers.read_xml(spark, path, row_tag="root item")
    assert desc.count() == 3
    # a selector matching nothing: no columns, no rows
    none = readers.read_xml(spark, path, row_tag="items > related")
    assert none.columns == [] and none.collect() == []


def test_multifile_ragged_key_union(spark, tmp_path):
    # Key union across files with differing columns (the Python-codec
    # path, where the ragged contract lives): the larger file's columns
    # and rows come first, as in Spark's scan order, and missing cells
    # are ''.
    _write(tmp_path, "p1.csv", "a,b\n1,2\n", encoding="euc-kr")
    _write(tmp_path, "p2.csv", "a,c\n3,4\n5,6\n", encoding="euc-kr")
    df = readers.read_csv(spark, str(tmp_path / "*.csv"), encoding="euc-kr")
    assert df.columns == ["a", "c", "b"]
    assert [tuple(r) for r in df.collect()] == [
        ("3", "4", ""), ("5", "6", ""), ("1", "", "2")
    ]


def test_xml_tables_multifile_corpus(spark, tmp_path):
    # read_xml_tables over a glob: same-named tables union across files.
    # f1 is larger, so its keys and rows come first although f0 sorts
    # first by name; a field a row lacks is null.
    for i, doc in enumerate(
        [
            "<r><t><x>1</x></t><t><x>2</x></t></r>",
            "<r><t><y>9</y><x>3</x></t><t><x>4</x></t></r>",
        ]
    ):
        _write(tmp_path, f"f{i}.xml", doc)
    tables = readers.read_xml_tables(spark, str(tmp_path / "*.xml"))
    assert list(tables) == ["r_t"]
    df = tables["r_t"]
    assert df.columns == ["y", "x"]
    assert [tuple(r) for r in df.collect()] == [
        ("9", "3"), (None, "4"), (None, "1"), (None, "2")
    ]
    rows = readers.read_xml(spark, str(tmp_path / "*.xml"), row_tag="t")
    assert rows.columns == df.columns and rows.collect() == df.collect()


def test_xml_writer_golden_template(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "a<b", "x, y")], ["id", "expr", "bad name!"]
    )
    out = str(tmp_path / "out.xml")
    writers.write_xml(df, out)
    text = open(out).read()
    # K4 golden semantics: 2-space indent, &<> escaped, invalid XML
    # names via <col name="...">  (FileUploader.tsx:128-161).
    assert text == (
        "<rows>\n"
        "  <row>\n"
        "    <id>1</id>\n"
        "    <expr>a&lt;b</expr>\n"
        '    <col name="bad name!">x, y</col>\n'
        "  </row>\n"
        "</rows>\n"
    )


def test_xml_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("1", "x"), ("2", "y & z")], ["id", "v"])
    out = str(tmp_path / "rt.xml")
    writers.write_xml(df, out)
    back = readers.read_xml(spark, out, row_tag="row")
    rows = {r.id: r.v for r in back.collect()}
    assert rows == {"1": "x", "2": "y & z"}


def test_xml_writer_handles_dotted_columns(spark, tmp_path):
    # read_xml flattens nested elements to dotted names ("dims.w");
    # writing such a frame back must not parse the dot as struct access.
    doc = "<r><row><a>1</a><b><c>2</c></b></row><row><a>3</a><b><c>4</c></b></row></r>"
    path = _write(tmp_path, "n.xml", doc)
    df = readers.read_xml(spark, path, row_tag="row")
    assert "b.c" in df.columns
    out = str(tmp_path / "back.xml")
    writers.write_xml(df, out)  # regression: crashed UNRESOLVED_COLUMN
    text = open(out).read()
    assert "<b.c>2</b.c>" in text


def test_xml_tables_mixed_corpus_drops_textonly_files(spark, tmp_path):
    # Reference fallback contract: '#text' pseudo-table only when NO
    # file has a detectable table; mixed corpora drop table-less files.
    _write(tmp_path, "t.xml", "<r><t><x>1</x></t><t><x>2</x></t></r>")
    _write(tmp_path, "plain.xml", "<note>just text</note>")
    tables = readers.read_xml_tables(spark, str(tmp_path / "*.xml"))
    assert "#text" not in tables
    assert any(k.endswith("t") for k in tables)
    # all-text corpus still yields the pseudo-table
    only = readers.read_xml_tables(spark, str(tmp_path / "plain.xml"))
    assert set(only) == {"#text"} and only["#text"].count() == 1


# ---------------------------------------------------------------------------
# Encodings (S11)
# ---------------------------------------------------------------------------


def test_euc_kr_csv(spark, tmp_path):
    path = _write(tmp_path, "kr.csv", "이름,값\n홍길동,1\n", encoding="euc-kr")
    df = readers.read_csv(spark, path, encoding="euc-kr")
    assert df.columns == ["이름", "값"]
    assert df.collect()[0]["이름"] == "홍길동"


# ---------------------------------------------------------------------------
# Excel bridge (S7/K5) — gated on engine availability
# ---------------------------------------------------------------------------


def test_excel_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "a & <b>"), ("2", "line éü"), ("3", "")], ["id", "v"]
    )
    out = str(tmp_path / "wb.xlsx")
    writers.write_excel({"s1": df, "s/1": df}, out)
    sheets = readers.read_excel(spark, out)
    assert len(sheets) == 2
    (name,) = [n for n in sheets if n == "s1"]
    back = {r.id: r.v for r in sheets[name].collect()}
    assert back == {"1": "a & <b>", "2": "line éü", "3": ""}


def test_excel_multisheet_convert(spark, tmp_path):
    src = tmp_path / "t.csv"
    src.write_text("id,v\n1,x\n2,y\n")
    out_dir = str(tmp_path / "outx")
    outputs = convert.convert(spark, [str(src)], "xlsx", out_dir)
    sheets = readers.read_excel(spark, outputs["t"])
    assert list(sheets) == ["t"]
    assert sheets["t"].count() == 2


def test_sheet_name_sanitize():
    taken: set[str] = set()
    a = readers.sanitize_sheet_name("bad/name:with*chars", taken)
    assert "/" not in a and ":" not in a and len(a) <= 31
    b = readers.sanitize_sheet_name("bad/name:with*chars", taken)
    assert b != a and b.endswith("_1")


# ---------------------------------------------------------------------------
# convert() orchestrator + zip (K6) + input dedup (P4)
# ---------------------------------------------------------------------------


def test_convert_csv_to_xml_and_zip(spark, tmp_path):
    src = _write(tmp_path, "t.csv", "id,v\n1,a\n2,b\n")
    out_dir = str(tmp_path / "out")
    outputs = convert.convert(spark, [src], "xml", out_dir)
    assert list(outputs) == ["t"]
    back = readers.read_xml(spark, outputs["t"], row_tag="row")
    assert back.count() == 2
    zp = str(tmp_path / "pack.zip")
    names = writers.zip_directory(out_dir, zp)
    assert names and zipfile.ZipFile(zp).namelist() == names


def test_convert_dedupe_inputs(tmp_path):
    a = _write(tmp_path, "same.csv", "x\n1\n")
    sub = tmp_path / "sub"
    sub.mkdir()
    b = str(sub / "same.csv")
    open(b, "w").write("x\n1\n")
    assert convert.dedupe_inputs([a, b, a]) == [a]


def test_convert_xml_to_csv(spark, tmp_path):
    src = _write(tmp_path, "c.xml", XML_DOC)
    out_dir = str(tmp_path / "out2")
    outputs = convert.convert(spark, [src], "csv", out_dir, xml_row_tag="item")
    df = readers.read_csv(spark, outputs["c"])
    assert df.count() == 2 and "name" in df.columns


def test_flatten_nested_structs_to_dotted_names(spark):
    from data__converter_spark.schema import flatten

    df = spark.createDataFrame(
        [(1, ("x", (2, None)), ["k"])],
        "id int, a struct<b:string, c:struct<d:int, e:string>>, tags array<string>",
    )
    flat = flatten(df)
    assert flat.columns == ["id", "a.b", "a.c.d", "a.c.e", "tags"]
    row = flat.collect()[0]
    assert row["a.b"] == "x" and row["a.c.d"] == 2 and row["a.c.e"] is None
    assert row["tags"] == ["k"]
