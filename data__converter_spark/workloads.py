"""Driver-facing workloads: named queries + matching DuckDB oracle SQL.

Each entry in :data:`QUERIES` is ``name -> callable(spark, sf_dir) ->
DataFrame``; :data:`ORACLES` holds the ANSI-SQL equivalent DuckDB runs
on the same parquet tables (views: region nation customer supplier part
orders lineitem events documents embeddings). Column names are aliased
identically on both sides — the driver hash-compares after sorting
columns by name.

The compare-tool queries diff ``orders`` against a deterministic
perturbed variant (deletes / edits / inserts derived from the key), so
both engines can construct the identical pair without extra fixtures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import compare
from .scale import local_frame, maybe_broadcast, pinned

# ---------------------------------------------------------------------------
# engine-portable money arithmetic
#
# The driver's value-hash compares stringified cells, and DuckDB result
# fetches coerce DECIMAL / HUGEINT through float64 while Spark keeps
# Decimal / int64 — so any DECIMAL output column (or un-cast DuckDB
# ``sum(BIGINT)``) is hash-fragile even when values agree ("380684.00"
# vs "380684.0"). Rule: oracle-checked outputs are only BIGINT
# (explicitly CAST in DuckDB), bit-identical DOUBLE, VARCHAR, or DATE.
#
# Money goes through exact integer cents: ``floor(x*100 + 0.5)`` is the
# same IEEE-754 double computation in both engines (deterministic
# multiply/add/floor), the BIGINT sum is exact and order-independent,
# and ``CAST(sum AS DOUBLE)/100.0`` lands on the same double bit
# pattern on both sides.
# ---------------------------------------------------------------------------


def cents(c) -> F.Column:
    """Non-negative double money column -> exact integer cents (long)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * F.lit(100.0) + F.lit(0.5))


def money(cents_sum_col) -> F.Column:
    """Exact cents long -> double dollars (bit-identical cross-engine)."""
    return cents_sum_col.cast("double") / F.lit(100.0)


# DuckDB spellings of the same two steps.
def _sql_cents(expr: str) -> str:
    return f"CAST(floor(({expr}) * 100.0 + 0.5) AS BIGINT)"


def _sql_money(cents_sum_expr: str) -> str:
    return f"CAST({cents_sum_expr} AS DOUBLE) / 100.0"


# ---------------------------------------------------------------------------
# deterministic "B" variant of orders: ~5% deleted, ~14% edited, ~7% added
# ---------------------------------------------------------------------------

ORDERS_COLS = [
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def orders_variant(orders: DataFrame) -> DataFrame:
    """B = orders minus (key%19==0), edits on (key%7==1), inserts from (key%13==0)."""
    k = F.col("o_orderkey")
    edited = (
        orders.filter(k % 19 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 7 == 1, F.col("o_totalprice") + 100.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn(
            "o_orderpriority",
            F.when(k % 7 == 1, F.lit("X-URGENT")).otherwise(F.col("o_orderpriority")),
        )
    )
    inserted = orders.filter(k % 13 == 0).withColumn(
        "o_orderkey", k + F.lit(100000000)
    )
    return edited.unionByName(inserted)


_ORACLE_VARIANT_CTE = """
b_raw AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice + 100.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % 7 = 1 THEN 'X-URGENT'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 19 <> 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 13 = 0
)
"""


def _oracle_printable(table: str) -> str:
    """Canonical-string projection matching schema.printable_col(scale=2)."""
    return f"""
    SELECT o_orderkey,
           coalesce(CAST(o_custkey AS VARCHAR), '')                          AS o_custkey,
           coalesce(o_orderstatus, '')                                       AS o_orderstatus,
           coalesce(CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS VARCHAR),'') AS o_totalprice,
           coalesce(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '')          AS o_orderdate,
           coalesce(o_orderpriority, '')                                     AS o_orderpriority
    FROM {table} WHERE o_orderkey IS NOT NULL
    """


_ORACLE_DIFF_CTE = (
    "WITH "
    + _ORACLE_VARIANT_CTE
    + f""",
a_n AS ({_oracle_printable("orders")}),
b_n AS ({_oracle_printable("b_raw")}),
diff AS (
    SELECT coalesce(a_n.o_orderkey, b_n.o_orderkey) AS o_orderkey,
           CASE WHEN b_n.o_orderkey IS NULL THEN 'deleted'
                WHEN a_n.o_orderkey IS NULL THEN 'added'
                WHEN a_n.o_custkey = b_n.o_custkey
                 AND a_n.o_orderstatus = b_n.o_orderstatus
                 AND a_n.o_totalprice = b_n.o_totalprice
                 AND a_n.o_orderdate = b_n.o_orderdate
                 AND a_n.o_orderpriority = b_n.o_orderpriority THEN 'same'
                ELSE 'changed' END AS status,
           coalesce(a_n.o_custkey, '')      AS a_o_custkey,
           coalesce(a_n.o_orderstatus, '')  AS a_o_orderstatus,
           coalesce(a_n.o_totalprice, '')   AS a_o_totalprice,
           coalesce(a_n.o_orderdate, '')    AS a_o_orderdate,
           coalesce(a_n.o_orderpriority, '') AS a_o_orderpriority,
           coalesce(b_n.o_custkey, '')      AS b_o_custkey,
           coalesce(b_n.o_orderstatus, '')  AS b_o_orderstatus,
           coalesce(b_n.o_totalprice, '')   AS b_o_totalprice,
           coalesce(b_n.o_orderdate, '')    AS b_o_orderdate,
           coalesce(b_n.o_orderpriority, '') AS b_o_orderpriority
    FROM a_n FULL OUTER JOIN b_n ON a_n.o_orderkey = b_n.o_orderkey
)
"""
)


_SCRATCH_CLEANUP_REGISTERED: set = set()


def _scratch_dir(spark: SparkSession, name: str) -> str:
    """Session-scoped scratch path for written artifacts (text index,
    ANN codebooks).  Keyed by the Spark applicationId so two
    concurrent gate/bench sessions on one host can never clobber each
    other's postings mid-read (ADVICE r10), while repeated calls
    WITHIN a session still reuse one directory instead of leaking a
    mkdtemp copy per invocation.  The per-application root is removed
    at interpreter exit (ADVICE r11: nothing else ever reclaimed it,
    so every session leaked a full artifact tree under /tmp) —
    ``atexit`` rather than a Spark listener because the artifacts
    must outlive the SparkSession within one process (bench/gate
    harnesses stop and recreate sessions), and concurrent sessions
    stay isolated because each process only removes its own
    applicationId's root."""
    import atexit
    import os
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{app}")
    if app not in _SCRATCH_CLEANUP_REGISTERED:
        _SCRATCH_CLEANUP_REGISTERED.add(app)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, name)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # External harnesses build their own SparkSession; timestamp
    # rendering (date_format/strftime parity with DuckDB) assumes UTC,
    # so pin it here — a runtime-settable conf, idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# compare tool queries (SURVEY §2.4/§2.5/§2.7: J1-J4, A1, W1-W3)
# ---------------------------------------------------------------------------


def q_compare_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    # cache the diff: the summary and field-mismatch queries rebuild the
    # identical logical plan, and Spark's CacheManager substitutes the
    # cached relation across separate invocations in one session — the
    # full-outer join runs once per session, not once per query
    from .scale import persisted

    return persisted(compare.diff(orders, orders_variant(orders), "o_orderkey"))


def q_compare_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compare.diff_summary(q_compare_diff(spark, sf_dir))


def q_compare_field_mismatches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compare.field_mismatches(q_compare_diff(spark, sf_dir), "o_orderkey")


def q_compare_added(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    return compare.added_keys(orders, orders_variant(orders), "o_orderkey").select(
        "o_orderkey"
    )


def q_compare_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _load(spark, sf_dir, "orders")
    return compare.deleted_keys(orders, orders_variant(orders), "o_orderkey").select(
        "o_orderkey"
    )


# ---------------------------------------------------------------------------
# mask tool queries (SURVEY §2.8 F1/F2/F10/F11 — the deterministic kinds;
# random-fill kinds are property-tested in tests/test_mask.py)
# ---------------------------------------------------------------------------


def q_mask_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mask import FieldRule, compile_rule

    customer = _load(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_custkey"),
        compile_rule("c_name", FieldRule("hashSHA256")).alias("name_hash"),
        compile_rule("c_mktsegment", FieldRule("blank")).alias("mktsegment_masked"),
        compile_rule("c_nationkey", FieldRule("none")).alias("nationkey_str"),
    )


def q_mask_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask with random rules, then recover originals via the key table —
    proves the ANON_ROW_ID recovery join (random/page.tsx:364-396)."""
    from .mask import FieldRule, mask_table

    customer = _load(spark, sf_dir, "customer")
    masked, key = mask_table(
        customer,
        {
            "c_name": FieldRule("fakeName"),
            "c_acctbal": FieldRule("randomInt", int_min=0, int_max=9999),
        },
        seed=42,
        id_cols=["c_custkey"],
    )
    recovered = masked.select("ANON_ROW_ID", "c_custkey").join(key, "ANON_ROW_ID")
    return recovered.select(
        "c_custkey",
        F.col("ANON_ROW_ID").alias("anon_row_id"),
        F.col("c_name").alias("orig_name"),
        F.col("c_acctbal").cast("decimal(38,2)").cast("string").alias("orig_acctbal"),
    )


def q_mask_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F9 (randomString/Int/Date, fakeName/Email/Phone) under the
    oracle gate: the fills are seed-deterministic but engine-specific,
    so the query projects their *invariants* — length, prefix, charset,
    range — which the reference guarantees (random/page.tsx:183-263)
    and DuckDB asserts as constants."""
    from .mask import FieldRule, compile_rule

    cust = _load(spark, sf_dir, "customer")
    rs = compile_rule("c_name", FieldRule("randomString", fixed_part="ID-", str_len=12))
    ri = compile_rule("c_acctbal", FieldRule("randomInt", int_min=10, int_max=99))
    rd = compile_rule("c_name", FieldRule("randomDate", fixed_part="2024"))
    fn = compile_rule("c_name", FieldRule("fakeName"))
    fe = compile_rule("c_name", FieldRule("fakeEmail", str_len=12))
    fp = compile_rule("c_name", FieldRule("fakePhone", fixed_part="017"))

    sur = "(Kim|Lee|Park|Choi|Jung|Kang|Cho|Yoon)"
    given = "(Minjun|Seoyeon|Doyun|Jiwoo|Hajun|Suah|Siwoo|Haeun)"
    dom = "(example\\.com|mail\\.test|sample\\.org|demo\\.net)"
    return cust.select(
        "c_custkey",
        F.length(rs).alias("rs_len"),
        rs.rlike("^ID-[0-9A-Za-z]{9}$").cast("int").alias("rs_ok"),
        ri.cast("int").between(10, 99).cast("int").alias("ri_ok"),
        (rd.rlike("^2024-[0-9]{2}-[0-9]{2}$") & F.to_date(rd).isNotNull())
        .cast("int")
        .alias("rd_ok"),
        fn.rlike(f"^{sur} {given}$").cast("int").alias("fn_ok"),
        fe.rlike(f"^[a-z]{{12}}@{dom}$").cast("int").alias("fe_ok"),
        fp.rlike("^010-017[0-9]-[0-9]{4}$").cast("int").alias("fp_ok"),
    )


# ---------------------------------------------------------------------------
# pattern tool queries (SURVEY §2.8 F12-F16, A2-A3) over `documents`
# ---------------------------------------------------------------------------


def q_pattern_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pattern import count_matches_col

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", count_matches_col("text", "data").alias("n_matches")
    )


def q_pattern_replace_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pattern import replace_all_col

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        replace_all_col("text", "data", "DATA", case_insensitive=True).alias("text_out"),
    )


def q_pattern_replace_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pattern import replace_first_col

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", replace_first_col("text", "the", "THE").alias("text_out")
    )


def q_pattern_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pattern import count_matches_col

    docs = _load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("char_count"),
        F.sum(count_matches_col("text", "join")).alias("join_matches"),
    )


# ---------------------------------------------------------------------------
# convert-tool queries (SURVEY §2.1/§2.2/§2.3): the data-path pieces of the
# I/O matrix that are SQL-expressible; the file-format edges live in
# tests/test_io.py round-trips.
# ---------------------------------------------------------------------------


def q_convert_split_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/P2/K3: document -> lines (sentence-split), blanks dropped."""
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), "\\.")).alias("value"),
        )
        .withColumn("value", F.trim("value"))
        .filter(F.length(F.col("value")) > 0)
    )


def q_convert_key_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/W4: key-union row-union of two ragged tables; missing -> ''
    at the stringify edge (FileUploader.tsx:42-46,148-149)."""
    from .schema import stringify_all, union_by_name

    cust = _load(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"),
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    supp = _load(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"),
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return stringify_all(union_by_name([cust, supp]), scale=2)


def q_convert_xml_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17/K4: XML entity escaping of text content (&<> -> entities)."""
    cust = _load(spark, sf_dir, "customer")
    raw = F.concat(F.lit("<"), F.col("c_name"), F.lit(" & "), F.col("c_mktsegment"), F.lit(">"))
    esc = F.expr(
        "replace(replace(replace(concat('<', c_name, ' & ', c_mktsegment, '>'),"
        " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )
    return cust.select(F.col("c_custkey").alias("id"), raw.alias("raw"), esc.alias("escaped"))


def q_topk_two_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: two-key desc sort + limit 50 (admin/page.tsx:147 notice
    query). Physically a TakeOrderedAndProject — no full sort."""
    from .session import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.orderBy(F.desc("event_type"), F.desc("ts"), F.asc("event_id"))
        .limit(50)
        .select("event_id", "event_type", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"))
    )


def q_date_remaining_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: subscription date arithmetic (admin/page.tsx:51-97) —
    end = start + 30 days; remaining vs a fixed 'today' (inclusive,
    clamped at 0)."""
    orders = _load(spark, sf_dir, "orders")
    today = F.lit("1995-06-01").cast("date")
    end = F.date_add(F.col("o_orderdate").cast("date"), 30)
    return orders.select(
        "o_orderkey",
        F.date_format(end, "yyyy-MM-dd").alias("end_date"),
        F.greatest(F.datediff(end, today) + F.lit(1), F.lit(0)).alias("remaining_days"),
    )


# ---------------------------------------------------------------------------
# llmops queries (beyond-reference, SURVEY §7.1 M6): dedup, text analysis,
# similarity search
# ---------------------------------------------------------------------------

# Shared oracle CTE: whitespace tokens per document, mirroring
# llmops.textstats.tokens_col (empty doc -> empty list).
_WORDS_SQL = """
WITH words_cte AS (
    SELECT doc_id, text,
           CASE WHEN length(trim(text)) = 0 THEN []
                ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END AS words
    FROM documents
)
"""

# Winnowing fingerprint CTE chain (k=3, window=4), mirroring
# llmops.textstats.winnow_fingerprints — ends with wins(doc_id, fp).
_WINNOW_CTES = """
, sh AS (
    SELECT doc_id,
           list_transform(range(1, len(words) - 1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS sh
    FROM words_cte WHERE len(words) >= 3
),
h AS (
    SELECT doc_id,
           list_transform(sh, s ->
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647) AS h
    FROM sh
),
wins AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(h) - 2),
               i -> list_min(list_slice(h, i, i + 3)))) AS fp
    FROM h WHERE len(h) >= 4
)
"""


def _minhash_front_sql(
    k: int = 3, num_hashes: int = 64, bands: int = 16, seed: int = 42
) -> str:
    """Shared FRONT of the MinHash oracles: shingle -> md5-32 hash set
    -> signature -> band buckets.  Ends with the ``banded`` CTE (and
    ``hs_cte`` in scope) so callers append their own candidate join —
    composed by name here rather than string-splitting a sibling's
    text, which broke on any reformat."""
    from .llmops.dedup import _MERSENNE_P, _perm_coeffs

    # shingle construction below is hand-unrolled for trigrams; any
    # other k would silently produce a divergent oracle
    assert k == 3

    r = num_hashes // bands
    coeffs = _perm_coeffs(num_hashes, seed)
    sig_entries = ",\n        ".join(
        f"list_min(list_transform(h, x -> ({a} * x + {b}) % {_MERSENNE_P}))"
        for a, b in coeffs
    )
    return (
        _WORDS_SQL
        + f"""
, sh_cte AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - {k - 2}),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
    FROM words_cte WHERE len(words) >= {k}
),
hs_cte AS (
    SELECT doc_id,
           list_distinct(list_transform(sh, s ->
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % {_MERSENNE_P})) AS h
    FROM sh_cte
),
sigs AS (
    SELECT doc_id, [
        {sig_entries}
    ] AS sig FROM hs_cte
),
banded AS (
    SELECT doc_id, CAST(t.b AS INT) AS band,
           array_to_string(list_slice(sig, CAST(t.b * {r} + 1 AS INT),
                                           CAST(t.b * {r} + {r} AS INT)), ',') AS bucket
    FROM sigs, (SELECT unnest(range(0, {bands})) AS b) t
)"""
    )


def _minhash_verified_pairs_sql(
    k: int = 3, num_hashes: int = 64, bands: int = 16, threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB replica of llmops.dedup.minhash_lsh_pairs: the shared
    MinHash front (:func:`_minhash_front_sql`) + band candidates via
    slice equality + exact-Jaccard verify. Ends with a ``verified``
    CTE of (id_a, id_b, jaccard)."""
    return (
        _minhash_front_sql(k=k, num_hashes=num_hashes, bands=bands, seed=seed)
        + f""",
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r2.doc_id AS id_b
    FROM banded l JOIN banded r2 ON l.band = r2.band AND l.bucket = r2.bucket
    WHERE l.doc_id < r2.doc_id
),
verified AS (
    -- Jaccard over the md5-32 HASH sets — the exact formulation the
    -- Spark side uses, so the two engines agree bit-for-bit even on a
    -- 32-bit collision.
    SELECT id_a, id_b, jaccard FROM (
        SELECT id_a, id_b,
               CAST(len(list_intersect(a.h, b.h)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(a.h, b.h))) AS DOUBLE) AS jaccard
        FROM cand
        JOIN hs_cte a ON cand.id_a = a.doc_id
        JOIN hs_cte b ON cand.id_b = b.doc_id
    ) WHERE jaccard >= {threshold}
)
"""
    )


def _cross_dup_sql(threshold: float = 0.5) -> str:
    """DuckDB replica of llmops.dedup.dedup_against over the odd/even
    doc_id split: the shared MinHash front (:func:`_minhash_front_sql`),
    a new(odd) x ref(even) bucket join, and a final SELECT anti-joining
    the duplicate new ids."""
    return _minhash_front_sql() + f""",
cand AS (
    SELECT DISTINCT l.doc_id AS new_id, r2.doc_id AS ref_id
    FROM banded l JOIN banded r2 ON l.band = r2.band AND l.bucket = r2.bucket
    WHERE l.doc_id % 2 = 1 AND r2.doc_id % 2 = 0
),
dups AS (
    SELECT DISTINCT new_id FROM cand
    JOIN hs_cte a ON cand.new_id = a.doc_id
    JOIN hs_cte b ON cand.ref_id = b.doc_id
    WHERE CAST(len(list_intersect(a.h, b.h)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.h, b.h))) AS DOUBLE)
          >= {threshold}
)
SELECT doc_id FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT new_id FROM dups)
"""


def _cc_sql() -> str:
    """DuckDB replica of llmops.dedup.connected_components over the
    minhash-verified pair graph: WITH RECURSIVE reachability (edges
    both directions), component = min reachable id. Ends with a
    ``cc(id, component)`` CTE."""
    pairs = _minhash_verified_pairs_sql().replace(
        "WITH words_cte", "WITH RECURSIVE words_cte", 1
    )
    return (
        pairs
        + """
, edges AS (
    SELECT id_a AS src, id_b AS dst FROM verified
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM verified
),
reach AS (
    SELECT DISTINCT src AS id, src AS comp FROM edges
  UNION
    SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
cc AS (
    SELECT id, min(comp) AS component FROM reach GROUP BY id
)
"""
    )


def _simhash_pairs_sql(k: int = 2, max_distance: int = 3) -> str:
    """DuckDB replica of llmops.dedup.simhash_pairs: same md5-64
    feature hashes and majority vote; brute-force Hamming join (the
    Spark chunk blocking is pigeonhole-exact at max_distance <= 3, so
    the two formulations return identical pairs)."""
    assert k == 2, "oracle template is written for bigram features"
    # Spark's 16-bit-chunk pigeonhole blocking is exact only for
    # distance <= chunks-1 = 3; beyond that it would miss pairs the
    # brute-force oracle returns.
    assert max_distance <= 3
    pow2 = "[" + ",".join(f"{1 << j}::UBIGINT" for j in range(64)) + "]"
    return (
        _WORDS_SQL
        + f"""
, feats AS (
    SELECT doc_id, CASE WHEN len(words) < {k} THEN []
        ELSE list_distinct(list_transform(range(1, len(words)),
             i -> CAST(('0x' || substr(md5(words[i] || ' ' || words[i+1]), 1, 16))
                       AS UBIGINT))) END AS h
    FROM words_cte
),
sims AS (
    SELECT doc_id, CASE WHEN len(h) = 0 THEN 0::UBIGINT ELSE
        CAST(list_sum(list_transform(range(0, 64), j ->
            CASE WHEN list_sum(list_transform(h, x ->
                     CASE WHEN (x >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                 THEN ({pow2})[CAST(j AS INT) + 1] ELSE 0::UBIGINT END)) AS UBIGINT)
        END AS sim
    FROM feats
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_distance}
"""
    )


def _lsh_topk_sql(
    k: int = 10, dim: int = 64, bits: int = 6, tables: int = 4, seed: int = 42
) -> str:
    """DuckDB replica of llmops.similarity.lsh_topk over the
    ``vec_id % 25 = 0`` probe set: the sha256-derived ±1 hyperplanes
    are embedded as literals, candidates match on any table's bucket,
    and exact cosine + rank reproduce the rerank. Vectors quantize to
    the VEC_QUANT integer grid first, so projections/dots/norms are
    exact integer sums — parity with the numpy kernel is guaranteed,
    not accumulation-order-dependent."""
    from .llmops.similarity import VEC_QUANT, _hyperplane_table

    def bucket_expr(t: int) -> str:
        H = _hyperplane_table(dim, bits, seed + t)
        terms = []
        for b in range(bits):
            lits = ",".join(str(float(w)) for w in H[b])
            terms.append(
                f"CASE WHEN list_dot_product(e, [{lits}]) > 0 "
                f"THEN {1 << b} ELSE 0 END"
            )
        return " + ".join(terms)

    branches = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, e, {t} AS tbl, {bucket_expr(t)} AS bucket FROM v"
        for t in range(tables)
    )
    return f"""
WITH v AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * {VEC_QUANT} + 0.5)) AS e
    FROM embeddings
),
bucketed AS (
{branches}
),
cand AS (
    SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
    FROM bucketed c
    JOIN (SELECT * FROM bucketed WHERE vec_id % 25 = 0) p
      ON c.tbl = p.tbl AND c.bucket = p.bucket
    WHERE c.vec_id <> p.vec_id
),
scored AS (
    SELECT probe_id, neighbor_id,
           list_dot_product(a.e, b.e)
             / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e))
             AS cosine
    FROM cand
    JOIN v a ON cand.neighbor_id = a.vec_id
    JOIN v b ON cand.probe_id = b.vec_id
),
ranked AS (
    SELECT probe_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT probe_id, neighbor_id, round(cosine, 6) AS cosine_r, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _embedding_lsh_pairs_sql(
    threshold: float = 0.4,
    dim: int = 64,
    bits: int = 6,
    tables: int = 4,
    seed: int = 42,
) -> str:
    """DuckDB replica of llmops.dedup.embedding_lsh_pairs: identical
    sha256-derived hyperplane literals (seed+t per table), same
    (table, bucket) self-join blocking, same exact-cosine filter —
    on VEC_QUANT-grid integers, so parity is guaranteed rather than
    accumulation-order-dependent."""
    from .llmops.similarity import VEC_QUANT, _hyperplane_table

    def bucket_expr(t: int) -> str:
        H = _hyperplane_table(dim, bits, seed + t)
        terms = []
        for b in range(bits):
            lits = ",".join(str(float(w)) for w in H[b])
            terms.append(
                f"CASE WHEN list_dot_product(e, [{lits}]) > 0 "
                f"THEN {1 << b} ELSE 0 END"
            )
        return " + ".join(terms)

    branches = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {t} AS tbl, {bucket_expr(t)} AS bucket FROM v"
        for t in range(tables)
    )
    return f"""
WITH v AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * {VEC_QUANT} + 0.5)) AS e
    FROM embeddings
),
bucketed AS (
{branches}
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bucketed a
    JOIN bucketed b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
    SELECT id_a, id_b,
           list_dot_product(x.e, y.e)
             / sqrt(list_dot_product(x.e, x.e) * list_dot_product(y.e, y.e))
             AS cosine
    FROM cand
    JOIN v x ON cand.id_a = x.vec_id
    JOIN v y ON cand.id_b = y.vec_id
)
SELECT id_a, id_b, round(cosine, 6) AS cosine_r
FROM scored WHERE cosine >= {threshold}
"""


def _ivf_topk_sql(
    k: int = 10, n_cells: int = 16, nprobe: int = 4, seed: int = 42
) -> str:
    """DuckDB replica of llmops.similarity.ivf_topk over the
    ``vec_id % 25 = 0`` probe set: identical md5-ordered centroid
    sample, nearest-centroid cell assignment, nprobe cell selection,
    and exact cosine rerank."""
    return f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
vn AS (
    SELECT vec_id,
           list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS en
    FROM v
),
cent AS (
    SELECT vec_id AS cid, en AS ce FROM vn
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id
    LIMIT {n_cells}
),
assign AS (
    SELECT vn.vec_id, cent.cid,
           row_number() OVER (PARTITION BY vn.vec_id
               ORDER BY list_dot_product(vn.en, cent.ce) DESC, cent.cid) AS rn
    FROM vn CROSS JOIN cent
),
cells AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
probe_rank AS (
    SELECT vn.vec_id AS probe_id, cent.cid,
           row_number() OVER (PARTITION BY vn.vec_id
               ORDER BY list_dot_product(vn.en, cent.ce) DESC, cent.cid) AS rn
    FROM vn CROSS JOIN cent
    WHERE vn.vec_id % 25 = 0
),
pc AS (SELECT probe_id, cid FROM probe_rank WHERE rn <= {nprobe}),
cand AS (
    SELECT pc.probe_id, cells.vec_id AS neighbor_id
    FROM pc JOIN cells ON pc.cid = cells.cid
    WHERE cells.vec_id <> pc.probe_id
),
scored AS (
    SELECT probe_id, neighbor_id,
           list_dot_product(a.en, b.en) AS cosine
    FROM cand
    JOIN vn a ON cand.neighbor_id = a.vec_id
    JOIN vn b ON cand.probe_id = b.vec_id
),
ranked AS (
    SELECT probe_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT probe_id, neighbor_id, round(cosine, 6) AS cosine_r, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.dedup import exact_dedup

    return exact_dedup(_load(spark, sf_dir, "documents"))


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.dedup import exact_dup_groups

    return exact_dup_groups(_load(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), k=3, threshold=0.5
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.textstats import quality_features

    return quality_features(_load(spark, sf_dir, "documents"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.textstats import repetition_features

    return repetition_features(_load(spark, sf_dir, "documents"))


def q_corpus_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 bigrams (count desc, ngram asc — ties
    deterministic)."""
    from .llmops.textstats import corpus_top_ngrams

    return corpus_top_ngrams(_load(spark, sf_dir, "documents"), n=2, top_k=50)


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: distinct rolling-window min
    hashes per doc — the substring-overlap detector."""
    from .llmops.textstats import winnow_fingerprints

    return winnow_fingerprints(_load(spark, sf_dir, "documents"), k=3, window=4)


def q_pipeline_pretraining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus pass: scrub -> quality gate -> exact dedup ->
    hash sample, audited by (id, lang, score, content sha). One logical
    plan — the composition, not just each stage, is oracle-checked."""
    from .llmops.pipeline import pretraining_pipeline

    return pretraining_pipeline(_load(spark, sf_dir, "documents"))


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage gate: corpus docs sharing winnow fingerprints with
    a 'benchmark' slice (doc_id % 97 == 0 stands in for an eval set)."""
    from .llmops.textstats import contamination_check

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_check(corpus, bench)


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.textstats import lang_id_col

    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_col("text").alias("pred_lang"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.textstats import fingerprints

    return fingerprints(_load(spark, sf_dir, "documents"), "text", "doc_id", 3)


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.similarity import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    out = brute_force_topk(emb, probes, k=10)
    return out.select(
        "probe_id",
        "neighbor_id",
        F.round(F.col("cosine"), 6).alias("cosine_r"),
        "rank",
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs. Fully oracle-checked: the signature
    hash (md5-32 mod 2³¹-1) and permutation coefficients are portable,
    so DuckDB reproduces signatures, band candidates, and the exact
    Jaccard verify bit-for-bit."""
    from .llmops.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), k=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. Oracle-checked exactly: the chunk
    blocking is pigeonhole-exact for distance <= 3, so the output
    equals a brute-force Hamming filter, which DuckDB reproduces from
    the same md5-derived simhash values."""
    from .llmops.dedup import simhash_pairs

    return simhash_pairs(_load(spark, sf_dir, "documents"), k=2, max_distance=3)


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llmops.dedup import embedding_pairs

    emb = _load(spark, sf_dir, "embeddings")
    out = embedding_pairs(emb, threshold=0.9)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN. Oracle-checked exactly: the md5-ordered centroid
    sample is engine-independent, so DuckDB reproduces cells, probe
    cell selection, and the exact cosine rerank. Exactness at
    nprobe=n_cells and recall under pruning are also pytest-verified."""
    from .llmops.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    out = ivf_topk(emb, probes, k=10, n_cells=16, nprobe=4)
    return out.select(
        "probe_id", "neighbor_id", F.round("cosine", 6).alias("cosine_r"), "rank"
    )


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN. Oracle-checked exactly: the sha256-derived
    hyperplanes are engine-independent, so DuckDB reproduces buckets,
    candidates, and the exact cosine rerank."""
    from .llmops.similarity import lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    out = lsh_topk(emb, probes, k=10, bits=6)
    return out.select(
        "probe_id", "neighbor_id", F.round("cosine", 6).alias("cosine_r"), "rank"
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, long form (label, pos, n_vecs, mean_val).
    Exact-integer quantized sums make the float mean order-independent
    and engine-identical (see llmops.similarity.label_centroids)."""
    from .llmops.similarity import label_centroids

    return label_centroids(_load(spark, sf_dir, "embeddings"))


def q_pattern_presets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: preset transform chain (sentence->newline, collapse spaces,
    comma spacing) as one projection."""
    from .pattern import apply_preset_col

    docs = _load(spark, sf_dir, "documents")
    c = apply_preset_col("text", "sentence_to_newline")
    c = F.regexp_replace(c, "[ ]{2,}", " ")
    c = F.regexp_replace(c, "[ \\t]*,[ \\t]*", ", ")
    return docs.select("doc_id", c.alias("transformed"))


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar [0,1] quality score (len/punct/repetition gates)."""
    from .llmops.textstats import quality_score_col

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score_col("text"), 6).alias("score_r")
    )


def q_dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: corpus minus LSH-verified near-duplicate
    members (keep lower id). Oracle-checked via the same portable
    MinHash pipeline as dedup_minhash_lsh."""
    from .llmops.dedup import near_dedup

    docs = _load(spark, sf_dir, "documents")
    return near_dedup(docs, k=3, num_hashes=64, bands=16, threshold=0.5).select(
        "doc_id"
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected components of the LSH near-dup pair graph
    (iterative hash-min label propagation). Oracle: DuckDB recursive
    CTE reachability over the identical verified pair list — the two
    formulations must agree on every (node, min-reachable-id) label."""
    from .llmops.dedup import connected_components, minhash_lsh_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, k=3, num_hashes=64, bands=16, threshold=0.5)
    cc = connected_components(pairs)
    return cc.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


def q_entity_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (the MDM shape): blocked fuzzy
    match pairs (q_fuzzy_name_pairs' edit-distance-1 graph) collapse
    via exact connected components to one canonical id (min key) per
    entity cluster — every record mapped, singletons canonical to
    themselves.  Composes the verified fuzzy-join and
    connected-components operators; at 100 TB the money is in pair
    GENERATION (blocking), the closure graph holds only matched
    records."""
    from .llmops.dedup import connected_components

    pairs = q_fuzzy_name_pairs(spark, sf_dir).select(
        F.col("key_a").alias("id_a"), F.col("key_b").alias("id_b")
    )
    cc = connected_components(pairs)
    cust = _load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    return (
        cust.select("c_custkey")
        .join(cc, cust.c_custkey == cc.id, "left")
        .select(
            "c_custkey",
            F.coalesce("component", F.col("c_custkey"))
            .cast("bigint")
            .alias("canonical_id"),
        )
        .withColumn(
            "is_canonical", F.col("c_custkey") == F.col("canonical_id")
        )
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-keep near-dedup (llmops/dedup.py:near_dedup_keep_best):
    one survivor per duplicate component — the LONGEST member (token
    count, ties min id) instead of dedup_cc_keep's min-id rule. Same
    pair graph, different (production) retention policy."""
    from .llmops.dedup import near_dedup_keep_best
    from .llmops.textstats import token_count_col

    docs = _load(spark, sf_dir, "documents")
    return near_dedup_keep_best(
        docs,
        score=token_count_col("text").cast("bigint"),
        k=3,
        num_hashes=64,
        bands=16,
        threshold=0.5,
    ).select("doc_id")


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (llmops/textstats.py:pmi_collocations): the
    word2vec phrase-detection pass — top-100 adjacent bigrams by the
    integer-exact PMI score (1000·N·c_ab) div (c_a·c_b), ranking
    identical to ln-PMI by monotonicity.  Vocab-keyed count joins after
    the min_count prune; corpus total as a 1-row broadcast scalar."""
    from .llmops.textstats import pmi_collocations

    docs = _load(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, top_k=100)


def q_sparse_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index more-like-this (llmops/similarity.py:
    sparse_retrieval): top-5 corpus matches per held-out query doc
    (doc_id % 97 == 0, the contamination_check split) by the exact
    int64 term-frequency dot product.  The term-keyed postings join is
    the inverted index — one shuffle, partial-sum contributions, no
    all-pairs; production adds max_df stop-term pruning."""
    from .llmops.similarity import sparse_retrieval

    docs = _load(spark, sf_dir, "documents")
    return sparse_retrieval(
        docs.filter(F.col("doc_id") % 97 == 0),
        docs.filter(F.col("doc_id") % 97 != 0),
        top_k=5,
    )


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25 ranking (llmops/similarity.py:bm25_retrieval)
    over the same held-out split as sparse_retrieval (doc_id % 97):
    idf rare-term weighting, k1=1.2 tf saturation and b=0.75 length
    normalization, all in int64 milli-units (the float-free idf
    surrogate keeps the per-term df ordering; see the op docstring).
    Same inverted-index plan as the TF dot product — the three corpus
    statistics (tf, df, doc length) come off ONE exploded token pass,
    (N, avgdl) is a broadcast-hinted 1-row scalar, and per-query top-5
    is a row_number window, never a global sort."""
    from .llmops.similarity import bm25_retrieval

    docs = _load(spark, sf_dir, "documents")
    return bm25_retrieval(
        docs.filter(F.col("doc_id") % 97 == 0),
        docs.filter(F.col("doc_id") % 97 != 0),
        top_k=5,
    )


def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against the MATERIALIZED text index (llmops/similarity.py:
    build_text_index + bm25_from_index): the postings artifact (term,
    match_id, tf, df, dl) and 1-row corpus stats are WRITTEN as
    parquet and read back, then the same held-out split as
    bm25_retrieval ranks against the on-disk artifact — one postings
    equi-join per query batch, no corpus re-tokenization.  The oracle
    is bm25_retrieval's SQL verbatim: index-fed ranking == inline
    ranking, which IS the artifact's correctness contract (the 100 TB
    shape the inline op's own docstring prescribes)."""
    from .llmops.similarity import bm25_from_index, build_text_index

    docs = _load(spark, sf_dir, "documents")
    path = _scratch_dir(spark, "idx_bm25")
    postings, stats = build_text_index(
        docs.filter(F.col("doc_id") % 97 != 0), path=path
    )
    return bm25_from_index(
        docs.filter(F.col("doc_id") % 97 == 0), postings, stats, top_k=5
    )


def q_sparse_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF dot-product retrieval against the same written text-index
    artifact (llmops/similarity.py:sparse_from_index): the max_df
    stop-term cap becomes a pushed-down filter on the postings scan
    instead of a df-aggregate + semi-join.  Oracle is
    sparse_retrieval's SQL verbatim — index-fed == inline."""
    from .llmops.similarity import build_text_index, sparse_from_index

    docs = _load(spark, sf_dir, "documents")
    path = _scratch_dir(spark, "idx_sparse")
    postings, _stats = build_text_index(
        docs.filter(F.col("doc_id") % 97 != 0), path=path
    )
    return sparse_from_index(
        docs.filter(F.col("doc_id") % 97 == 0), postings, top_k=5
    )


def q_bm25_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document TAKEDOWN against the standing text index
    (llmops/similarity.py: retract_docs_tf + index_from_signed_tf):
    the corpus half (doc_id % 97 != 0) builds the (match_id, term,
    tf) state once, every corpus doc with doc_id % 5 == 0 is then
    deleted by APPENDING its negated live tf rows — never a rebuild,
    never a corpus rescan — and BM25 ranks the held-out queries
    against the delete-aware artifact.  The oracle rebuilds from the
    surviving docs with bm25_retrieval's SQL verbatim: index-after-
    deletes == rebuild-from-surviving-docs IS the retraction
    contract.  The tf state feeds both the retraction lookup and the
    final index, so it is pinned (``scale.pinned``) — unlike a
    persist it also SEVERS lineage, so AQE plans the consumers against
    a materialized leaf instead of re-deriving the tokenize subtree
    per branch (r15, guide §2.4/§5: 27 → 16 jobs with the window-form
    index).  Trade-off, as at the ingest sites: checkpoint blocks live
    only on executors, so an executor loss mid-query fails the job
    instead of recomputing — acceptable for a batch-sized transient
    state inside one query."""
    from .llmops.similarity import (
        _tf_of,
        bm25_from_index,
        index_from_signed_tf,
        retract_docs_tf,
    )

    docs = _load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    tf_state = pinned(_tf_of(corpus, "text", "doc_id", "match_id"))
    doomed = corpus.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("match_id")
    )
    signed = tf_state.unionByName(retract_docs_tf(tf_state, doomed))
    postings, stats = index_from_signed_tf(signed)
    return bm25_from_index(
        docs.filter(F.col("doc_id") % 97 == 0), postings, stats, top_k=5
    )


def q_dedup_cc_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup with exact transitive closure: one survivor (min id)
    per connected component. Differs from dedup_near_keep exactly on
    shared-loser shapes like (1,3),(2,3): greedy keeps {1,2}, this
    keeps {1}."""
    from .llmops.dedup import near_dedup_exact

    docs = _load(spark, sf_dir, "documents")
    return near_dedup_exact(docs, k=3, num_hashes=64, bands=16, threshold=0.5).select(
        "doc_id"
    )


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training hygiene: URL/email/phone shapes -> typed placeholder
    tokens, one chained regexp projection (patterns restricted to the
    Java-regex ∩ RE2 dialect so both engines agree)."""
    from .llmops.textstats import scrub_pii_col

    docs = _load(spark, sf_dir, "documents")
    return docs.select("doc_id", scrub_pii_col("text").alias("scrubbed"))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% corpus sample by md5 id-hash bucket — stable
    under retries/speculation, unlike rand()-based sampling."""
    from .llmops.textstats import stratified_sample

    docs = _load(spark, sf_dir, "documents")
    return stratified_sample(docs, pct=20).select("doc_id", "lang")


def q_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style length gate: keep docs inside the per-language
    [p05, p95] exact-percentile band of n_chars."""
    from .llmops.textstats import length_band_filter

    docs = _load(spark, sf_dir, "documents")
    return length_band_filter(docs).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# multimodal queries (beyond-reference, SURVEY §7.1 M6): binary payload +
# typed metadata; decode kernels are deterministic stubs (sha256 of the
# payload), so the Arrow-batch plumbing is oracle-checkable end-to-end.
# ---------------------------------------------------------------------------


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over the binary payload column via one
    Arrow-batched mapInPandas pass (no shuffle); mean_luma derives from
    the stub decode (sha256 bytes), hash-checked against DuckDB."""
    from .llmops.multimodal import image_features, media_from_documents

    media = media_from_documents(_load(spark, sf_dir, "documents"))
    out = image_features(media)
    return out.select(
        "media_id",
        "width",
        "height",
        F.round("mean_luma", 6).alias("mean_luma_r"),
    )


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over the binary payload column — same
    Arrow-batched contract as image features, stub decode
    hash-checked against DuckDB."""
    from .llmops.multimodal import audio_features, media_from_documents

    media = media_from_documents(_load(spark, sf_dir, "documents"))
    out = audio_features(media)
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("mean_amp", 6).alias("mean_amp_r"),
    )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: one input row fans out to duration/interval
    frame rows inside the Arrow batch (the shape a real decoder plugs
    into)."""
    from .llmops.multimodal import media_from_documents, sample_frames

    media = media_from_documents(_load(spark, sf_dir, "documents"))
    return sample_frames(media, every_ms=1000).select("media_id", "frame_no")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize contract: output metadata retagged, payload rewritten to
    the target byte budget (stub kernel; real codec swaps the body)."""
    from .llmops.multimodal import media_from_documents, resize_images

    media = media_from_documents(_load(spark, sf_dir, "documents"))
    out = resize_images(media, width=32, height=32)
    return out.select(
        "media_id",
        "width",
        "height",
        F.length("payload").cast("int").alias("payload_len"),
    )


# ---------------------------------------------------------------------------
# analytics queries — beyond-reference star-schema aggregations over the
# TPC-H-ish tables: the engine's general query layer (SURVEY north star),
# shaped so Catalyst broadcast-joins the dims and partial-aggregates
# map-side. TPC-H-style but against the driver's reduced schemas.
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one wide scan, map-side partial agg, tiny result.

    Everything stays in whole-stage codegen; sums run in exact integer
    cents (see `cents`) so the DuckDB oracle hash-matches bit-for-bit."""
    li = _load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum(cents("l_quantity"))).alias("sum_qty"),
            money(F.sum(cents("l_extendedprice"))).alias("sum_base_price"),
            money(F.sum(cents(disc_price))).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per customer with a broadcast dim join + top-25.

    orders⋈customer shuffles on the fact key only after pre-aggregation;
    customer (tiny) broadcasts — no shuffle of the dim side."""
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(
        money(F.sum(cents("o_totalprice"))).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return (
        rev.join(maybe_broadcast(cust), rev.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "revenue",
            "n_orders",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(25)
    )


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact ⋈ three broadcast dims -> per-nation volume.

    The star join chains broadcasts (supplier, nation, region never
    shuffle); lineitem is the only shuffled relation, and only for the
    final group-by."""
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    reg = _load(spark, sf_dir, "region")
    vol = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(money(F.sum(vol)).alias("volume"), F.count("*").alias("n_items"))
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: extract a field from the JSON props column
    (S6's at-scale analog — schema-on-read without a Python pass) and
    aggregate it per event type."""
    from .session import load_events

    ev = load_events(spark, sf_dir)
    # try_cast mirrors DuckDB TRY_CAST: non-numeric -> NULL, no ANSI error
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
        F.max(k).alias("max_k"),
    )


def q_window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window aggregate: per-customer running revenue + order sequence.
    One shuffle on the partition key; the sort is within-partition."""
    from pyspark.sql import Window

    orders = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        money(F.sum(cents("o_totalprice")).over(w)).alias("running_rev"),
        F.row_number().over(w).alias("order_seq"),
    )


def q_rolling_revenue_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ROLLING window: per customer, revenue over the
    trailing 30 days at each order — a RANGE frame over epoch seconds
    (the rows-frame running total's sibling; RANGE handles same-day
    peer rows identically on both engines). Same single shuffle on the
    partition key as any window; the frame is evaluated within the
    sorted partition."""
    from pyspark.sql import Window

    orders = _load(spark, sf_dir, "orders")
    epoch = F.col("o_orderdate").cast("timestamp_ltz").cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        money(F.sum(cents("o_totalprice")).over(w)).alias("rev_30d"),
    )


def q_rollup_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over the region/nation hierarchy — subtotal
    and grand-total rows in one pass (partial-agg friendly)."""
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    reg = _load(spark, sf_dir, "region")
    joined = (
        li.join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            money(F.sum(cents("l_extendedprice"))).alias("ext_price"),
            F.count("*").alias("n_items"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "ext_price",
            "n_items",
        )
    )


def q_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: exact distinct suppliers/parts per return
    flag (expand + two-phase agg under the hood)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_items"),
    )


def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): events per user by type. The explicit value
    list keeps it a single pass — no distinct-values pre-query."""
    from .session import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


# ---------------------------------------------------------------------------
# streaming queries (M7) — batch forms of the window transforms; the
# stream/batch equivalence itself is pytest-verified (test_streaming.py)
# ---------------------------------------------------------------------------


def q_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large⋈large fact join (lineitem ⋈ orders, both sides shuffle on
    the key — sort-merge territory, AQE handles skew) aggregated to
    revenue per order priority."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    vol = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(money(F.sum(vol)).alias("revenue"), F.count("*").alias("n_items"))
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'purchase' event picks up the latest preceding
    'click' value per user (joins.asof_join — union + carry-forward
    window, one shuffle, no join node)."""
    from .joins import asof_join
    from .session import load_events

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(purchases, clicks, on="ts", by="user_id")
    return out.select(
        "user_id",
        "purchase_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        money(cents(F.col("click_value_right"))).alias("click_value_r"),
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("click_ts_s"),
    )


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each 'click' picks up the EARLIEST following
    'purchase' per user (joins.asof_join direction='forward' — the
    pandas merge_asof direction family, same one-shuffle union+window
    plan as backward)."""
    from .joins import asof_join
    from .session import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id", direction="forward")
    return out.select(
        "user_id",
        "click_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.col("purchase_id_right").alias("next_purchase_id"),
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts_s"),
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: users
    reaching each stage with strictly-later timestamps.

    Sequential min-after-previous-stage aggregation: three shuffles on
    ``user_id`` (each stage's frame is tiny — one row per surviving
    user), no window over all events, no per-user event collection —
    the shape that holds when one user has 10⁸ events.
    """
    from .session import load_events

    ev = load_events(spark, sf_dir)

    def stage(etype, prev=None, prev_col=None):
        e = ev.filter(F.col("event_type") == etype).select("user_id", "ts")
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_col))
        return e.groupBy("user_id").agg(F.min("ts").alias(f"t_{etype}"))

    t1 = stage("view")
    t2 = stage("click", t1, "t_view")
    t3 = stage("purchase", t2, "t_click")
    return (
        t1.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
        .crossJoin(
            F.broadcast(
                t2.agg(F.count(F.lit(1)).cast("bigint").alias("n_view_click"))
            )
        )
        .crossJoin(
            F.broadcast(
                t3.agg(
                    F.count(F.lit(1)).cast("bigint").alias(
                        "n_view_click_purchase"
                    )
                )
            )
        )
    )


def q_skew_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (scale.py:key_skew_report) on the
    event firehose's user_id — the measurement that decides between a
    plain shuffle, AQE skew-join, and explicit salting
    (scale.py:salted_join/salted_agg): the 20 hottest keys with exact
    integer milli share-of-rows and times-the-mean-key load.  One
    map-side-combining count aggregate, a broadcast-hinted 1-row
    totals scalar, TakeOrderedAndProject for the top-k (the rank
    window runs over the already-limited 20 rows) — the report is
    20 rows at any input size."""
    from .scale import key_skew_report
    from .session import load_events

    return key_skew_report(load_events(spark, sf_dir), "user_id", top_k=20)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization: 1-based session number per user with a
    5-minute inactivity gap (gaps-and-islands; one shuffle)."""
    from .joins import sessionize
    from .session import load_events

    ev = load_events(spark, sf_dir)
    out = sessionize(ev, by="user_id", on="ts", gap_minutes=5)
    return out.select(
        "event_id", "user_id", F.col("session_no").cast("bigint").alias("session_no")
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted in each later week they were active.

    Shapes: per-user min (one shuffle), distinct (user, week) activity
    (one shuffle), broadcast-friendly join back on user_id, final
    count per (cohort, offset) — no per-user event lists, no window
    over the raw stream.
    """
    from .session import load_events

    ev = load_events(spark, sf_dir)
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("cw")) / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def q_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: (click, purchase) pairs per user within 30 minutes."""
    from .joins import range_join
    from .session import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = range_join(clicks, purchases, "user_id", within="30 minutes")
    return out.select("user_id", "from_click_id", "to_purchase_id")


def q_stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-stream time-bounded join
    (streaming/windows.py:stream_range_join), like the other four
    stream_* shapes: the SAME operator code runs on batch frames
    (watermarks are no-ops in batch), so the oracle checks the exact
    join contract the stream executes incrementally — pairs on one key
    with from.ts <= to.ts <= from.ts + 30 minutes and bounded state at
    watermark + within. Stream/batch row equivalence itself is pinned
    by tests/test_streaming.py (runs the real readStream path)."""
    from .session import load_events
    from .streaming.windows import stream_range_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = stream_range_join(clicks, purchases, "user_id", within="30 minutes")
    return out.select("user_id", "from_click_id", "to_purchase_id")


def q_stream_outer_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the LEFT OUTER stream-stream range join
    (streaming/windows.py:stream_range_join how='left_outer'): every
    click, attributed to purchases within 30 minutes when one exists,
    null otherwise — the "never converted" rows the streaming engine
    emits once the watermark proves no match can arrive (emission
    pinned by tests/test_streaming.py's two-chunk watermark test)."""
    from .session import load_events
    from .streaming.windows import stream_range_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = stream_range_join(
        clicks, purchases, "user_id", within="30 minutes", how="left_outer"
    )
    return out.select("user_id", "from_click_id", "to_purchase_id")


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import load_events
    from .streaming.windows import tumbling_counts

    return tumbling_counts(load_events(spark, sf_dir), "1 hour")


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import load_events
    from .streaming.windows import sliding_counts

    return sliding_counts(load_events(spark, sf_dir), "1 hour", "30 minutes")


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import load_events
    from .streaming.windows import session_agg

    return session_agg(load_events(spark, sf_dir), "5 minutes")


def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import load_events
    from .streaming.stateful import running_user_totals

    out = running_user_totals(load_events(spark, sf_dir))
    return out.select(
        "user_id",
        "n_events",
        F.col("total_value").alias("total_value_r"),
    )


def q_stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch form of streaming dedup
    (streaming/windows.py:dedup_within_watermark): keep the FIRST event
    per (user_id, event_type) — "first" pinned to min event_id so batch,
    replayed stream, and oracle agree (dropDuplicates keeps an arbitrary
    row; min_by does not). One hash aggregation, map-side partials."""
    from .session import load_events

    ev = load_events(spark, sf_dir)
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.min_by("value", "event_id").alias("first_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


def events_cdc_base(ev: DataFrame) -> DataFrame:
    """Deterministic pre-stream table for the CDC-upsert shapes: stale
    copies of every (event_id % 17 == 0) row with a sentinel value
    (the streamed rows must REPLACE them — updates win) plus synthetic
    keys event_id + 10^9 for (event_id % 23 == 0) rows (absent from the
    stream — must pass through the merge untouched)."""
    k = F.col("event_id")
    stale = ev.filter(k % 17 == 0).withColumn("value", F.lit(-1.0))
    extra = ev.filter(k % 23 == 0).withColumn(
        "event_id", (k + F.lit(1000000000)).cast("bigint")
    )
    return stale.unionByName(extra)


def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming CDC-upsert sink
    (streaming/runner.py:run_cdc_upsert), like the other five stream_*
    shapes: the sink's foreachBatch body is dedup_last_wins +
    compare.upsert per micro-batch, and with availableNow over one file
    the whole stream is a single batch — so the merged table equals the
    one batch-mode merge this query runs over the same base
    (events_cdc_base). Stream/batch row equivalence on the REAL
    readStream path is pinned by
    tests/test_streaming.py::test_cdc_upsert_stream_equals_batch_form."""
    from .session import load_events

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    base = events_cdc_base(ev)
    batch = compare.dedup_last_wins(ev, "event_id", order_col="event_id")
    merged = compare.upsert(base, batch.select(*base.columns), "event_id")
    return merged.select(
        "event_id",
        "user_id",
        "event_type",
        cents("value").alias("value_cents"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


def q_skew_salted_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (scale.salted_agg) on the 5-value
    event_type key — the max-skew shape where one reduce key would
    otherwise swallow n/5 of the table. Exact integer-cents sum makes
    the salted partial->final merge bit-equal to the plain GROUP BY
    the oracle runs."""
    from .scale import salted_agg
    from .session import load_events

    ev = load_events(spark, sf_dir).select(
        "event_type",
        "event_id",
        cents("value").alias("v_cents"),
    )
    out = salted_agg(
        ev, "event_type", {"v_cents": "sum", "event_id": "count"}, n_salts=8
    )
    return out.select(
        "event_type",
        money(F.col("sum_v_cents")).alias("sum_value"),
        F.col("count_event_id").alias("n_events"),
    )


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH blocking — the
    bucketed alternative to the exact blocked-matmul
    ``dedup_embedding_pairs`` (llmops/dedup.py:embedding_lsh_pairs).
    Threshold 0.4 is data-driven: the synthetic embeddings carry no
    true near-dups, and a non-empty result exercises the full
    candidate->cosine->filter path against the oracle."""
    from .llmops.dedup import embedding_lsh_pairs

    emb = _load(spark, sf_dir, "embeddings")
    out = embedding_lsh_pairs(emb, threshold=0.4, bits=6, tables=4)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (O1's grouped form): top-2 orders by price per
    customer via a rank window — one shuffle on the group key, rank
    filter prunes before anything downstream. At 100 TB the window
    sort is per-customer (small groups), not global."""
    from pyspark.sql import Window

    orders = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
    )


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete per-group quantiles (p50/p90/p99 of order price
    per priority). Rank-selection semantics — engine-portable where
    interpolated quantiles are not (stats.group_quantiles_disc)."""
    from .stats import group_quantiles_disc

    orders = _load(spark, sf_dir, "orders")
    return group_quantiles_disc(
        orders,
        key="o_orderpriority",
        value="o_totalprice",
        qs=[0.5, 0.9, 0.99],
        tiebreak="o_orderkey",
    )


def q_histogram_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document lengths — integer bucket
    arithmetic, one map-side-combined aggregation
    (stats.histogram_fixed_width)."""
    from .stats import histogram_fixed_width

    docs = _load(spark, sf_dir, "documents")
    return histogram_fixed_width(docs, "n_chars", width=500)


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile of ``orders``: nulls, exact distinct,
    canonical min/max — one aggregation pass (stats.profile).
    ``o_totalprice`` is the designated money column (integer-cents
    canon); any other double would print fixed %.6f."""
    from .stats import profile

    orders = _load(spark, sf_dir, "orders")
    return profile(orders, money_cols=["o_totalprice"])


# paragraph manufacturing for q_paragraph_dedup: the synthetic corpus has
# no newlines, so both engines deterministically re-chunk each document's
# words into 3-word "paragraphs" joined by \n\n, then run the real
# corpus-wide paragraph dedup over that. 3-word chunks over the small
# vocabulary collide heavily across documents — the dedup path does real
# work rather than passing everything through.
_PARA_WORDS = 3


def _para_chunked(docs: DataFrame) -> DataFrame:
    """Deterministic 3-word re-chunk of the documents table (the
    synthetic corpus has no newlines) — shared by q_paragraph_dedup and
    q_boilerplate_scrub so both engines build identical paragraphs."""
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(_PARA_WORDS)
    )
    ptext = F.array_join(
        F.transform(
            starts, lambda s: F.array_join(F.slice(words, s, _PARA_WORDS), " ")
        ),
        "\n\n",
    )
    return docs.select("doc_id", ptext.alias("text"))


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style corpus-wide paragraph dedup
    (llmops/dedup.py:paragraph_dedup): first occurrence of each distinct
    paragraph survives (ordered by doc_id, position), documents
    reassemble from surviving paragraphs. Winner selection is an
    unordered-frame min(struct) window over the digest partition — the
    exchange carries the full (digest, id, idx, paragraph) rows and
    window aggregates have no map-side combine (see paragraph_dedup's
    scale note; a hot digest partition is AQE-splittable)."""
    from .llmops.dedup import paragraph_dedup

    chunked = _para_chunked(_load(spark, sf_dir, "documents"))
    return paragraph_dedup(chunked, col="text", id_col="doc_id")


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type share of revenue per month.
    Conditional aggregation over a broadcast part-dim join — the fact
    side shuffles once for the month aggregate, never for the join."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    joined = li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
    return (
        joined.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            money(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            ).alias("promo_rev"),
            money(F.sum(rev)).alias("total_rev"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (returnflag, linestatus): all four
    grouping combinations in one pass — the lattice complement of
    rollup_volume's hierarchy. Partial-agg friendly (Expand before the
    exchange, so map-side combine still applies per grouping set)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            money(F.sum(cents("l_extendedprice"))).alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "sum_price",
            "n_items",
        )
    )


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join pair in one result: per market segment, customers
    WITH at least one 1995 order (left_semi) and WITHOUT any
    (left_anti). Both legs share one scan of the filtered orders side;
    at scale the orders projection (custkey only) broadcasts or
    shuffles 8-byte keys, never order rows."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    o95 = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") <= "1995-12-31")
    ).select(F.col("o_custkey").alias("c_custkey"))
    active = (
        cust.join(o95, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("activity", F.lit("active_1995"))
    )
    inactive = (
        cust.join(o95, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("activity", F.lit("inactive_1995"))
    )
    return active.unionByName(inactive).select(
        "c_mktsegment", "activity", "n_customers"
    )


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interarrival statistics: gap seconds between
    consecutive events (lag window), aggregated to count / max / total
    per user. Integer-second gaps keep the sum engine-portable. One
    shuffle on user_id shared by the window sort and the aggregate."""
    from pyspark.sql import Window
    from .session import load_events

    ev = load_events(spark, sf_dir)
    epoch = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (epoch - F.lag(epoch).over(w)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap_s").alias("max_gap_s"),
        F.sum("gap_s").alias("total_gap_s"),
    )


def q_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between two nation pairs by ship year.
    The same dimension table (nation) joins twice under different
    aliases — supplier nation and customer nation — both broadcast;
    the fact side shuffles once for the final aggregate."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    pair = (F.col("supp_nation") < F.col("cust_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .filter(pair)  # one row per unordered pair keeps output compact
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            money(F.sum(rev)).alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_price_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of order price within each priority —
    the normalized-rank window pair (both are (k-1)/(n-1) and k/n
    single divisions of exact integers, engine-portable). One shuffle
    on the partition key."""
    from pyspark.sql import Window

    orders = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where customer and supplier
    share a nation, per ASIA nation over one year. The only big join
    is lineitem⋈orders on the order key; customer, supplier, nation,
    region all broadcast, and the same-nation predicate prunes rows
    before the final tiny aggregate."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    ord_f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    asia = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(ord_f, li.l_orderkey == ord_f.o_orderkey)
        .join(maybe_broadcast(cust), ord_f.o_custkey == cust.c_custkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        joined.groupBy("n_name")
        .agg(money(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: each nation's share of yearly PROMO-part revenue.
    Fact side pre-filters through the broadcast part dim; the share is
    a window total over the per-(year, nation) aggregate — exact cents
    divided once at the edge, so the double is engine-identical."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    base = (
        li.join(maybe_broadcast(part.filter(F.col("p_type") == "PROMO")),
                li.l_partkey == part.p_partkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(F.year("l_shipdate").alias("yr"), "n_name", rev.alias("rc"))
    )
    agg = base.groupBy("yr", "n_name").agg(F.sum("rc").alias("nation_cents"))
    w = Window.partitionBy("yr")
    return agg.select(
        "yr",
        "n_name",
        money(F.col("nation_cents")).alias("nation_rev"),
        (
            F.col("nation_cents").cast("double")
            / F.sum("nation_cents").over(w).cast("double")
        ).alias("share"),
    )


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders
    they placed, INCLUDING zero-order customers (left join, count of
    the nullable key). Two aggregations: per-customer count (map-side
    combinable), then the tiny histogram."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no RECENT orders (none since 2000 — every synthetic customer
    has some order, so the dormancy window keeps the anti-join
    non-trivial), rolled up per market segment. The scalar average is
    a 1-row aggregate cross-joined in (exact integer cents divided
    once, engine-identical); the dormancy test is a left-anti join on
    the customer key against the date-filtered orders."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(cents("c_acctbal")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_cents")
        )
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        cents(F.col("c_acctbal")).cast("double") > F.col("avg_cents")
    )
    idle = rich.join(
        orders.select("o_custkey"), rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            money(F.sum(cents("c_acctbal"))).alias("total_bal"),
        )
    )


def q_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE deciles of order price WITHIN each priority — the
    partitioned form that scales (a global ntile would sort the world
    into one task). Completes the ranking-window family beside
    percent_rank/cume_dist."""
    from pyspark.sql import Window

    orders = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(10).over(w).alias("decile"),
    )


def q_priority_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with >= 1 slow lineitem (shipped > 30
    days after ordering), counted per priority. The EXISTS compiles to
    a left-semi join on the order key — the fact side never
    duplicates, then a tiny aggregation."""
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    slow = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    ).select("l_orderkey")
    return (
        orders.join(slow, orders.o_orderkey == slow.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_waiting"))
    )


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One spherical k-means iteration (similarity.kmeans_step):
    deterministic md5-sampled seed centroids, cosine nearest-centroid
    assignment, exact integer-quantized centroid recompute — the
    distributed Lloyd-loop building block, oracle-replicated end to
    end."""
    from .llmops.similarity import kmeans_step

    emb = _load(spark, sf_dir, "embeddings")
    out = kmeans_step(emb, k=8, seed=42)
    return out.select(
        "cluster", "pos", "n_vecs", F.round("mean_val", 6).alias("mean_val_r")
    )


def q_kmeans_train2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full Lloyd iterations (similarity.kmeans_train): iteration 2
    re-assigns against iteration 1's re-quantized centroids — the
    iterative ML loop hash-checked exactly by an unrolled SQL chain,
    like pagerank_trade."""
    from .llmops.similarity import kmeans_train

    emb = _load(spark, sf_dir, "embeddings")
    out = kmeans_train(emb, k=8, iterations=2, seed=42)
    return out.select(
        "cluster", "pos", "n_vecs", F.round("mean_val", 6).alias("mean_val_r")
    )


def q_corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary health in one pass: total tokens, distinct
    terms, hapax count (terms in exactly one document — the Zipf tail),
    and the max document frequency. Two map-side-combinable
    aggregations over the (doc, term) counts; all-integer output."""
    from .llmops.textstats import tokens_col

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.transform(tokens_col("text"), F.lower)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    per_term = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("occ")
    )
    return per_term.agg(
        F.sum("occ").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax_terms"),
        F.max("df").cast("bigint").alias("max_df"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch sequence packing (textstats.pack_sequences):
    greedy order-preserving token-budget bins, sharded so the
    running-sum window never needs a global sort — each of the 8
    shards packs independently (at 100 TB: one window partition per
    shard, no single-reducer bottleneck)."""
    from .llmops.textstats import pack_sequences

    docs = _load(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=512, n_shards=8)


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding chunker (textstats.chunk_text): overlapping
    32-token windows, stride 24. Pure projection + explode — zero
    shuffle; the plan is a single narrow stage."""
    from .llmops.textstats import chunk_text

    docs = _load(spark, sf_dir, "documents")
    out = chunk_text(docs, chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id",
        "chunk_id",
        F.sha2("chunk", 256).alias("chunk_digest"),
        "n_chunk_tokens",
    )


def q_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms, (tf, df)-rank proxy mode
    (textstats.salient_terms scoring="tfdf"): integer-exact across
    engines; sorts like tf-idf only at fixed tf — the true-tf-idf
    ordering is the separate salient_terms_tfidf query."""
    from .llmops.textstats import salient_terms

    docs = _load(spark, sf_dir, "documents")
    return salient_terms(docs, k=3, min_len=3)


def q_salient_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True tf·log(N/df) salient-term ranking (scoring="tfidf"): the
    double score orders the window only; emitted columns are integers,
    and ties (equal (tf, df)) break deterministically — so both engines
    agree on the ranks exactly, the log being ulp-identical on equal
    rational inputs."""
    from .llmops.textstats import salient_terms

    docs = _load(spark, sf_dir, "documents")
    return salient_terms(docs, k=3, min_len=3, scoring="tfidf")


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top 20 customers by revenue on RETURNED items
    in a half-year window. Lineitem pre-aggregates revenue per order
    BEFORE meeting orders (the join shuffles 1 row per order, not per
    line), customer and nation broadcast, top-k is
    TakeOrderedAndProject."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    lr = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))))
            .alias("rev_cents")
        )
    )
    ord_f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    per_cust = (
        ord_f.join(lr, ord_f.o_orderkey == lr.l_orderkey)
        .groupBy("o_custkey")
        .agg(money(F.sum("rev_cents")).alias("revenue"))
    )
    return (
        per_cust.join(maybe_broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: for lines shipped > 60 days after the order
    date, count urgent/high-priority vs other orders per return flag.
    One fact-side shuffle join (orders projects two columns), then a
    tiny conditional aggregation — the classic two-bucket CASE sum."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    o = orders.select("o_orderkey", "o_orderpriority", "o_orderdate")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


def q_denylist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based token scrub (textstats.denylist_scrub): the
    join formulation that survives million-term denylists where a
    regex cannot. Denylist = the 8 most frequent corpus words,
    derived deterministically inside the query so both engines build
    the identical dictionary."""
    from .llmops.textstats import denylist_scrub

    docs = _load(spark, sf_dir, "documents")
    terms = (
        docs.select(F.explode(F.split(F.coalesce("text", F.lit("")), r"\s+")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .count()
        .orderBy(F.desc("count"), F.asc("term"))
        .limit(8)
        .select("term")
    )
    return denylist_scrub(docs, terms)


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-and-aggregate revenue forecast — one
    scan with every predicate pushed to parquet, partial agg, one-row
    exchange. The canonical pushdown demonstration."""
    li = _load(spark, sf_dir, "lineitem")
    rev = cents(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            money(F.sum(rev)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    — aggregate-then-semi-join (the HAVING filter runs on the compact
    aggregate, and only qualifying keys join back to orders/customer).
    At 100 TB the qualifying-key side is tiny and broadcasts."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("l_orderkey").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            money(cents("o_totalprice")).alias("totalprice"),
            "total_qty",
        )
    )


def q_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations over orders (stats.expectations): each
    rule counts its violations in ONE shared scan — the pipeline
    guardrail that runs before a corpus job commits."""
    from .stats import expectations

    orders = _load(spark, sf_dir, "orders")
    rules = [
        ("totalprice_positive", F.col("o_totalprice") > 0),
        ("orderdate_not_null", F.col("o_orderdate").isNotNull()),
        (
            "status_in_domain",
            F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        ("priority_prefix", F.col("o_orderpriority").rlike("^[1-5]-")),
    ]
    return expectations(orders, rules)


def q_grouping_sets_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus), ()) with
    grouping_id — the third grouping-set shape next to rollup/cube;
    same Expand-then-partial-agg plan, so map-side combine applies per
    set."""
    li = _load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n_items
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-match: customer-name pairs within edit
    distance 1, candidates restricted to the same custkey-century block
    (a real fuzzy join NEVER runs all-pairs levenshtein — block first,
    score inside the block). Bounded demo subset (custkey <= 300);
    at corpus scale the block key comes from a phonetic/prefix bucket."""
    cust = _load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        (F.col("c_custkey") / 100).cast("bigint").alias("blk"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        (F.col("c_custkey") / 100).cast("bigint").alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 1)
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
    )


def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed CDC merge (compare.upsert): the perturbed orders variant
    applied as an update batch over orders — updates win, unmatched
    base rows pass through, inserts append. Money travels as exact
    integer cents, timestamps at second precision."""
    orders = _load(spark, sf_dir, "orders")
    merged = compare.upsert(orders, orders_variant(orders), "o_orderkey")
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        cents("o_totalprice").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        "o_orderpriority",
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped-revenue orders for one market
    segment. The segment filter prunes customer before the broadcast,
    orders/lineitem carry date pushdown into the scans, and the top-10
    compiles to TakeOrderedAndProject — no global sort."""
    cust = _load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-01-01"
    )
    li = _load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(money(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale.salted_join under oracle: events (150 users, hot keys by
    construction) joined to a per-user dimension through (key, salt)
    sub-partitions — result provably equals the plain join the oracle
    runs. The dimension replicates n_salts times; the fact side's hot
    key spreads over n_salts reduce tasks."""
    from .scale import salted_join
    from .session import load_events

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    dim = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_n_events"))
    )
    joined = salted_join(ev, dim, "user_id", n_salts=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_n_events").alias("sum_dim"),
    )


def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard WITH the hot-shingle guard engaged
    (max_shingle_freq=2): shingles appearing in >2 documents leave the
    postings index before the self-join — the stop-phrase blowup guard
    a 100 TB corpus needs (a shingle shared by f docs costs f² postings
    pairs). Documented accuracy trade: common shingles stop
    contributing to `common`, sizes stay exact, so capped jaccard is a
    LOWER bound on the true score."""
    from .llmops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"),
        k=3,
        threshold=0.3,
        max_shingle_freq=2,
    )


def q_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact corpus-familiarity quality signal
    (llmops/textstats.py:bigram_familiarity)."""
    from .llmops.textstats import bigram_familiarity

    docs = _load(spark, sf_dir, "documents")
    return bigram_familiarity(docs)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (NFC + accent strip) ahead of
    hashing/dedup (llmops/textstats.py:normalize_text_col) — identity
    on this ASCII corpus (semantics pinned on non-ASCII fixtures in
    tests/test_llmops.py); the query proves the Arrow plumbing and the
    digest parity end-to-end."""
    from .llmops.textstats import normalize_text_col

    docs = _load(spark, sf_dir, "documents")
    norm = normalize_text_col("text", form="NFC", strip_accents=True)
    return docs.select(
        "doc_id",
        F.sha2(norm, 256).alias("norm_digest"),
        F.length(norm).alias("n_chars_norm"),
    )


def q_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-quality diagnostic: per LSH candidate pair, the
    signature-estimate vs exact Jaccard and their absolute error in
    milli-units (llmops/dedup.py:minhash_estimate_error)."""
    from .llmops.dedup import minhash_estimate_error

    docs = _load(spark, sf_dir, "documents")
    return minhash_estimate_error(docs, k=3, num_hashes=64, bands=16)


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) in one
    region offering the minimum observed unit price.  The correlated
    MIN subquery decorrelates into a window min over the per-(part,
    supplier) aggregate — one shuffle on p_partkey; part/supplier/
    nation/region all flow in through size-gated broadcasts.  Unit
    price is exact integer cents so the min-equality filter compares
    longs, never doubles."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    reg = _load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    unit_cents = F.floor(
        F.col("l_extendedprice") * F.lit(100.0) / F.col("l_quantity") + F.lit(0.5)
    )
    offers = (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(unit_cents).alias("offer_cents"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("best_cents", F.min("offer_cents").over(w))
        .filter(F.col("offer_cents") == F.col("best_cents"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            money(F.col("offer_cents")).alias("best_unit_price"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a part-name family per supplier nation
    per year.  Without a partsupp table the cost model is 50% of the
    part's retail price x quantity — the join/agg topology is Q9's
    (fact through two broadcast dims, group on derived year).  Both
    sides of the profit stay exact integer cents."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    revenue = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    cost = F.floor(
        F.col("p_retailprice") * F.col("l_quantity") * F.lit(50.0) + F.lit(0.5)
    )
    return (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
            (revenue - cost).alias("amount_cents"),
        )
        .groupBy("nation", "o_year")
        .agg(money(F.sum("amount_cents")).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value through one nation's
    suppliers exceeds 1/1000 of that nation's total.  The HAVING-over-
    scalar-subquery decorrelates into a 1-row aggregate cross-joined in
    by broadcast; the threshold test multiplies longs (value * 1000 >
    total) so no double ever enters the comparison."""
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    value = cents("l_extendedprice")
    base = (
        li.join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("l_partkey", value.alias("vc"))
    )
    per_part = base.groupBy("l_partkey").agg(F.sum("vc").alias("value_cents"))
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * F.lit(1000) > F.col("total_cents"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            money(F.col("value_cents")).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in one
    quarter.  The CREATE VIEW + scalar MAX becomes per-supplier
    aggregate -> 1-row max cross-joined by broadcast -> exact long
    equality; no global sort, no second scan of lineitem."""
    li = _load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    supp = _load(spark, sf_dir, "supplier")
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_cents"))
    top = per_supp.agg(F.max("rev_cents").alias("max_cents"))
    return (
        per_supp.crossJoin(F.broadcast(top))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(maybe_broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            money(F.col("rev_cents")).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    combo, excluding one brand, a type prefix, and 'complaint'
    suppliers (negative balance — the comment-scan analog) via a
    broadcast anti-join.  lineitem stands in for partsupp as the
    part<->supplier bridge."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 4, 7, 10, 14, 23, 25, 30))
    )
    bad_supp = _load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            maybe_broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in small-quantity orders of two
    brands.  The correlated per-part AVG subquery decorrelates into a
    window average over p_partkey (one shuffle); the comparison
    l_quantity < 0.5*avg is the same IEEE double expression on both
    engines, and the output sums are exact cents."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#3", "Brand#5")
    )
    joined = li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("p_partkey")
    avg_qty = (
        F.sum("l_quantity").over(w).cast("double")
        / F.count(F.lit(1)).over(w).cast("double")
    )
    return (
        joined.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .groupBy("p_brand")
        .agg(
            money(F.sum(cents("l_extendedprice"))).alias("small_qty_revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    brackets.  The part-side disjunction (brand, size) pushes to the
    part scan and the join stays a single equi-join on partkey with the
    residual OR as a post-join filter — no union-of-three-joins
    blowup."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    b1 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    rev = cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    part_side = part.filter(
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(1, 15))
    )
    return (
        li.join(maybe_broadcast(part_side), li.l_partkey == part_side.p_partkey)
        .filter(b1 | b2 | b3)
        .groupBy("p_brand")
        .agg(
            money(F.sum(rev)).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved a large volume of a part-
    name family in one year.  The nested IN-subquery chain becomes
    filter -> per-(supplier, part) aggregate -> HAVING -> distinct ->
    left-semi join into supplier; only supplier keys ever shuffle."""
    li = _load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("date"))
    )
    part = _load(spark, sf_dir, "part").filter(F.col("p_name").like("small %"))
    supp = _load(spark, sf_dir, "supplier")
    nat = _load(spark, sf_dir, "nation")
    movers = (
        li.join(maybe_broadcast(part.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_cents"))
        .filter(F.col("qty_cents") > 50 * 100)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi")
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name")
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finished order (late = shipped >60 days after the
    order date; the commit/receipt columns don't exist in the reduced
    schema).  The EXISTS / NOT-EXISTS pair collapses into one grouped
    pass over the order's lineitems: distinct suppliers vs distinct
    late suppliers, keep n_supp >= 2 and n_late == 1 — no self-join of
    lineitem against itself."""
    orders = _load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _load(spark, sf_dir, "lineitem")
    joined = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late"
        ),
        F.min(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    supp = _load(spark, sf_dir, "supplier")
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(maybe_broadcast(supp), F.col("late_supp") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


def q_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment + per-shard totals
    (llmops/textstats.py:balanced_shards) — the summary aggregate
    proves the balance property the assignment exists for."""
    from .llmops.textstats import balanced_shards

    docs = _load(spark, sf_dir, "documents")
    return (
        balanced_shards(docs, n_shards=8)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


def q_dedup_against_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus dedup (llmops/dedup.py:dedup_against): odd-id docs
    (the incoming batch) that are not near-dups of any even-id doc
    (the standing corpus)."""
    from .llmops.dedup import dedup_against

    docs = _load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup_against(new, ref, threshold=0.5).select("doc_id")


def q_dedup_substring_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end substring dedup: window-overlap pairs at containment
    >= 0.8 (the smaller doc is essentially embedded in the larger) ->
    exact transitive closure -> one survivor (min id) per component.
    The verbatim-run analog of dedup_cc_keep's set-similarity policy."""
    from .llmops.dedup import connected_components, window_overlap_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = (
        window_overlap_pairs(docs, window=8, min_shared=1, max_window_freq=200)
        .filter(F.col("containment_permille") >= 800)
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs)
    losers = cc.filter(F.col("id") != F.col("component")).select("id")
    return docs.join(
        losers, docs.doc_id == losers.id, "left_anti"
    ).select("doc_id")


def q_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-label centroid distances, exact integer grid
    (llmops/similarity.py:centroid_separation)."""
    from .llmops.similarity import centroid_separation

    emb = _load(spark, sf_dir, "embeddings")
    return centroid_separation(emb)


def q_window_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct active users per sliding 1h/30m window, in the
    stream-safe dedup-then-count decomposition
    (streaming/windows.py:active_users)."""
    from .session import load_events
    from .streaming.windows import active_users, with_event_time

    ev = with_event_time(load_events(spark, sf_dir))
    return active_users(ev, duration="1 hour", slide="30 minutes")


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected customer<->supplier trade graph
    (graph.py:pagerank): 3 exact-integer iterations, top 25 nodes.
    Customer keys map to 2k, supplier keys to 2k+1 so one BIGINT node
    space holds both sides of the bipartite graph.  The iterative
    update is bit-reproducible (floored integer micro-units), which is
    what lets a DuckDB CTE chain oracle-check an iterative algorithm
    exactly rather than rows-only."""
    from .graph import pagerank

    return (
        pagerank(_trade_edges(spark, sf_dir), iterations=3)
        .orderBy(F.desc("rank_micro"), F.asc("node"))
        .limit(25)
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer<->supplier trade graph shared by the
    PageRank workloads (2k / 2k+1 key interleave)."""
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-gated PageRank (graph.py:pagerank_until) over the
    trade graph: the REAL multi-action superstep loop (persisted
    invariants, probe cadence 2 — two lazily-chained supersteps per
    action, the standard Pregel amortization) run for 4 supersteps
    with tol 0, emitting the probe history — (iteration,
    max_delta_micro, changed_nodes), deltas measured probe-to-probe.
    The history is what an operator watches to pick a tolerance; it is
    also statically unrollable, so the oracle checks the convergence
    SERIES exactly, not just the final ranks.  The dynamic early-stop
    behavior itself (tol > 0 -> shorter history, final ranks == the
    fixed-iteration run of the same length) is pinned in
    tests/test_graph.py."""
    from .graph import pagerank_until

    _ranks, history = pagerank_until(
        _trade_edges(spark, sf_dir), max_iterations=4, tol_micro=0,
        probe_every=2, adaptive_cadence=True,
    )
    return local_frame(
        spark, history, "iteration int, max_delta_micro bigint, changed_nodes bigint"
    )


def q_stream_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-static enrichment shape
    (streaming/windows.py:enrich_stream): the event firehose decorated
    with a broadcast customer dimension, then tumbling-windowed per
    market segment.  The stream side never shuffles for the join — the
    only exchange is the windowed aggregate's.  Stream/batch row
    equivalence of enrich_stream itself is pinned by
    tests/test_streaming.py (real readStream path)."""
    from .session import load_events
    from .streaming.windows import enrich_stream, tumbling_counts, with_event_time

    ev = with_event_time(load_events(spark, sf_dir))
    cust = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = enrich_stream(ev, cust, "user_id").withColumn(
        "segment", F.coalesce("c_mktsegment", F.lit("UNKNOWN"))
    )
    return tumbling_counts(joined, "1 hour", keys=["segment"])


def q_common_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy: per-doc share of corpus-top-20 tokens,
    exact integer permille (llmops/textstats.py:common_token_counts)."""
    from .llmops.textstats import common_token_counts

    docs = _load(spark, sf_dir, "documents")
    return common_token_counts(docs, top_k=20)


def q_token_mix_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planner: uniform-share-capped token budget split
    across sources (llmops/textstats.py:mix_allocation)."""
    from .llmops.textstats import mix_allocation

    docs = _load(spark, sf_dir, "documents")
    return mix_allocation(docs, budget_tokens=30_000)


def q_window_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim 8-token-window overlap pairs — the exact substring-dup
    signal (llmops/dedup.py:window_overlap_pairs)."""
    from .llmops.dedup import window_overlap_pairs

    docs = _load(spark, sf_dir, "documents")
    return window_overlap_pairs(docs, window=8, min_shared=1, max_window_freq=200)


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label top-5 farthest-from-centroid embeddings, exact
    integer-grid distances (llmops/similarity.py:centroid_outliers)."""
    from .llmops.similarity import centroid_outliers

    emb = _load(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, k=5)


def q_triangle_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts (graph.py:triangle_count) over
    the supplier co-supply graph: suppliers edge-connected when they
    co-supplied >= 30 distinct orders.  The per-order pair fan-out is
    bounded by order width (~13 suppliers), and the triangle join is
    degree-oriented so hub fan-out stays O(sqrt(m)) at any scale."""
    from .graph import triangle_count

    # distinct (orderkey, suppkey) BEFORE the self-join (r15, guide
    # §2.3): a supplier appearing on several lines of one order would
    # fan out duplicate pair rows, and the old form paid a
    # countDistinct (expand + two-phase aggregate) to fold them back.
    # After the dedup each (orderkey, src, dst) is unique by
    # construction, so a plain count(*) is the distinct-order count —
    # smaller join input, cheaper aggregate state, same n_orders.
    li = (
        _load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 30)
        .select("src", "dst")
    )
    return triangle_count(co)


def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (llmops/similarity.py:pq_topk): 4
    subspaces x 16 sampled codewords, exact-integer ADC distances over
    the same vec_id%25 probe set the other ANN variants use — the
    codes-table index path for 100 TB corpora."""
    from .llmops.similarity import pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    return pq_topk(emb, probes, k=10, m=4, n_codes=16)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style top-100 selection toward the English subset
    (llmops/textstats.py:dsir_select): hashed-unigram importance-ratio
    weights in exact integer milli-units."""
    from .llmops.textstats import dsir_select

    docs = _load(spark, sf_dir, "documents")
    return dsir_select(
        docs, target=F.col("lang") == F.lit("en"), buckets=64, select_n=100
    )


def q_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization against a frequency-ranked top-1000 vocab
    (llmops/textstats.py:tokenize_corpus): per-doc token/OOV counts and
    the sha256 of the ordered id sequence — the text -> model-ids step,
    digest-checked without shipping arrays."""
    from .llmops.textstats import tokenize_corpus

    docs = _load(spark, sf_dir, "documents")
    return tokenize_corpus(docs, vocab_size=1000)


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split
    (llmops/textstats.py:corpus_split): md5-permille buckets, append-
    and retry-stable where randomSplit is neither."""
    from .llmops.textstats import corpus_split

    docs = _load(spark, sf_dir, "documents")
    return corpus_split(docs, train_permille=800, val_permille=100)


def q_similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (llmops/similarity.py:ivf_pq_topk): grid-cosine cell
    pruning (nprobe=4 of 16) over PQ ADC scoring (4x16 codes) — the
    FAISS-style production index, fully hash-checked."""
    from .llmops.similarity import ivf_pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    return ivf_pq_topk(
        emb, probes, k=10, n_cells=16, nprobe=4, m=4, n_codes=16
    )


def q_ann_append_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN maintenance (llmops/similarity.py:
    ann_index_build / ann_index_append / ivf_pq_from_index): the base
    corpus (vec_id % 7 != 0) builds the standing IVF-PQ artifact —
    frozen md5-sampled cell/code books + the cell-partitioned index
    table — then the delta (vec_id % 7 == 0) APPENDS against the
    frozen books (one Arrow pass over just the new vectors, no
    rescan, no retrain), and the usual probes rank against the
    on-disk index.  The oracle is the similarity_ivf_pq_topk SQL with
    the centroid samples drawn from the BASE subset only: append-
    then-query == build-from-scratch-with-the-same-frozen-books."""
    from .llmops.similarity import (
        ann_index_append,
        ann_index_build,
        ivf_pq_from_index,
    )

    emb = _load(spark, sf_dir, "embeddings")
    path = _scratch_dir(spark, "ann_ivfpq")
    ann_index_build(
        emb.filter(F.col("vec_id") % 7 != 0), path,
        n_cells=16, m=4, n_codes=16,
    )
    ann_index_append(emb.filter(F.col("vec_id") % 7 == 0), path, m=4)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    return ivf_pq_from_index(spark, path, probes, k=10, nprobe=4, m=4)


def q_ann_delete_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN takedown against the standing artifact (llmops/
    similarity.py: ann_index_delete + ivf_pq_from_index): the full
    corpus builds the index, every vec_id % 9 == 0 is then deleted by
    appending its id to the tombstone table — O(deleted ids), books
    and the index table untouched — and the probes rank against the
    delete-aware index (tombstones anti-join out of the candidate
    stream; ann_index_compact folds them in offline).  Oracle: the
    similarity_ivf_pq_topk SQL with the candidate stream restricted
    to survivors — delete-then-query == query-over-survivors with the
    SAME frozen full-corpus books."""
    from .llmops.similarity import (
        ann_index_build,
        ann_index_delete,
        ivf_pq_from_index,
    )

    emb = _load(spark, sf_dir, "embeddings")
    path = _scratch_dir(spark, "ann_ivfpq_del")
    ann_index_build(emb, path, n_cells=16, m=4, n_codes=16)
    ann_index_delete(
        emb.filter(F.col("vec_id") % 9 == 0).select("vec_id"), path
    )
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    return ivf_pq_from_index(spark, path, probes, k=10, nprobe=4, m=4)


def q_ann_recall_after_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness/recall audit of the INCREMENTALLY-maintained ANN
    artifact (the drift alarm the frozen-quantizer trade requires):
    recall@10 of the base-built + delta-appended IVF-PQ index
    (ann_index_build/ann_index_append — frozen base-drawn books)
    against brute-force cosine truth over the FULL corpus, per probe.
    Both legs are already-oracle-checked queries, so the oracle is
    their SQL composed (similarity_pq_recall's machinery).  Run this
    after appends; when recall slips below the deployment's bar,
    retrain/rebuild the books."""
    from .llmops.similarity import (
        ann_index_append,
        ann_index_build,
        brute_force_topk,
        ivf_pq_from_index,
    )

    emb = _load(spark, sf_dir, "embeddings")
    path = _scratch_dir(spark, "ann_ivfpq_audit")
    ann_index_build(
        emb.filter(F.col("vec_id") % 7 != 0), path,
        n_cells=16, m=4, n_codes=16,
    )
    ann_index_append(emb.filter(F.col("vec_id") % 7 == 0), path, m=4)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    truth = brute_force_topk(emb, probes, k=10).select(
        "probe_id", "neighbor_id"
    )
    approx = ivf_pq_from_index(spark, path, probes, k=10, nprobe=4, m=4).select(
        "probe_id", "neighbor_id"
    )
    matched = (
        approx.join(truth, ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    )
    return (
        probes.select(F.col("vec_id").alias("probe_id"))
        .join(matched, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
            (F.coalesce("n_matched", F.lit(0)) * 100)
            .cast("bigint")
            .alias("recall_milli"),
        )
        .orderBy("probe_id")
    )


def q_ann_partitioned_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB ANN layout (llmops/similarity.py: ann_index_build /
    ivf_pq_from_index) built and queried in one step: the index table
    (vid, s, code) is written PARTITIONED BY cell — FAISS's
    inverted-list files as hive partitioning — and the query's
    probed-cell set, known driver-side, becomes a partition filter:
    the scan reads nprobe of n_cells directories before any join runs
    (PartitionFilters pinned in tests/test_plans.py).  Oracle:
    similarity_ivf_pq_topk's SQL verbatim — the stored layout must not
    change a single ranking."""
    from .llmops.similarity import ann_index_build, ivf_pq_from_index

    emb = _load(spark, sf_dir, "embeddings")
    path = _scratch_dir(spark, "ann_ivfpq_part")
    ann_index_build(emb, path, n_cells=16, m=4, n_codes=16)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    return ivf_pq_from_index(spark, path, probes, k=10, nprobe=4, m=4)


def q_ann_retrain_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift-alarm RESPONSE (llmops/similarity.py:
    ann_index_retrain — the last step of the index lifecycle): the
    base corpus (vec_id % 7 != 0) builds the standing artifact with
    base-drawn frozen books, the delta (vec_id % 7 == 0) appends
    against them — the exact staleness ann_recall_after_append
    audits — and then the books RETRAIN on the full current corpus,
    re-encoding everything into a new artifact generation that swaps
    in atomically (one commit.swap of the whole artifact directory,
    old generation demoted then dropped — never mixed books/codes).
    Oracle: the similarity_ivf_pq_topk SQL VERBATIM — retrain-on-current-corpus
    == fresh-build-on-current-corpus, so the migrated artifact must
    reproduce the full-corpus-books rankings bit for bit."""
    from .llmops.similarity import (
        ann_index_append,
        ann_index_build,
        ann_index_retrain,
        ivf_pq_from_index,
    )

    emb = _load(spark, sf_dir, "embeddings")
    path = _scratch_dir(spark, "ann_ivfpq_retrain")
    ann_index_build(
        emb.filter(F.col("vec_id") % 7 != 0), path,
        n_cells=16, m=4, n_codes=16,
    )
    ann_index_append(emb.filter(F.col("vec_id") % 7 == 0), path, m=4)
    ann_index_retrain(emb, path, n_cells=16, m=4, n_codes=16)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    return ivf_pq_from_index(spark, path, probes, k=10, nprobe=4, m=4)


def q_pq_train_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PQ training iteration (llmops/similarity.py:pq_train):
    per-subspace Lloyd step over the md5-sampled seed codewords —
    exact integer-quantized means, the iterative codebook fit
    hash-checked like kmeans_step."""
    from .llmops.similarity import pq_train

    emb = _load(spark, sf_dir, "embeddings")
    out = pq_train(emb, m=4, n_codes=16, iterations=1)
    return out.select("s", "code", "pos", "n_vecs", "sum_q")


def q_pipeline_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed SELECTION pipeline (llmops/pipeline.py:
    selection_pipeline): Gopher gate -> DSIR weights toward English ->
    deterministic Poisson resample (expected 200) -> token-balanced
    8-shard assignment, one lazy plan — the composition itself is the
    thing under test, like pipeline_pretraining."""
    from .llmops.pipeline import selection_pipeline

    docs = _load(spark, sf_dir, "documents")
    return selection_pipeline(
        docs,
        target=F.col("lang") == F.lit("en"),
        min_words=30,
        stopwords=["the", "a", "data", "table", "value", "key", "row", "query"],
        buckets=64,
        expected_n=200,
        n_shards=8,
    )


def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers of event value per event_type
    (stats.py:robust_outliers): exact discrete rank-selection medians
    on integer cents, cross-multiplied 3-MAD flag — mean/stddev-free
    data-quality sweep."""
    from .session import load_events
    from .stats import robust_outliers

    ev = load_events(spark, sf_dir).select(
        "event_id", "event_type", cents("value").alias("v_cents")
    )
    return robust_outliers(
        ev, key="event_type", value="v_cents", id_col="event_id"
    )


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session event-type paths (joins.py:session_paths):
    gaps-and-islands sessionize, order-deterministic path assembly
    (struct array_sort — never a bare collect_list), TakeOrdered
    top-N over the path aggregate."""
    from .joins import session_paths
    from .session import load_events

    return session_paths(load_events(spark, sf_dir), gap_minutes=5, max_len=10, top_n=20)


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resampling (llmops/textstats.py:weighted_sample): draw an
    expected-100 Poisson sample with inclusion probability proportional
    to the DSIR importance weight (score_milli + 1) — the md5-hash
    threshold is exact integer cross-multiplication, so the sample is
    deterministic, retry-stable, and engine-identical."""
    from .llmops.textstats import dsir_scores, weighted_sample

    docs = _load(spark, sf_dir, "documents")
    scored = dsir_scores(
        docs, target=F.col("lang") == F.lit("en"), buckets=64
    ).select("doc_id", (F.col("score_milli") + 1).alias("w"))
    return weighted_sample(scored, "w", expected_n=100, hash_bits=20)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding table (llmops/dedup.py:semantic_dedup):
    k-means clusters (k=8, md5-seeded), greedy min-id keep rule within
    each cluster at cosine >= 0.4 — every vector labeled
    (cluster, is_kept)."""
    from .llmops.dedup import semantic_dedup

    emb = _load(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, threshold=0.4)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule corpus quality gate (llmops/textstats.py:gopher_rules):
    five exact-integer rule flags + keep over every document — one
    narrow projection, zero shuffle."""
    from .llmops.textstats import gopher_rules

    docs = _load(spark, sf_dir, "documents")
    return gopher_rules(
        docs,
        min_words=30,
        stopwords=["the", "a", "data", "table", "value", "key", "row", "query"],
    )


def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real compressed-image codec round-trip at corpus scale
    (llmops/multimodal.py:png_roundtrip_features): every doc's
    deterministic grayscale image encodes to actual PNG bytes (zlib
    deflate, scanline filter id%5) and decodes back through the stdlib
    codec; the arithmetic oracle proves every pixel reconstructs
    bit-exactly."""
    from .llmops.multimodal import png_roundtrip_features

    return png_roundtrip_features(_load(spark, sf_dir, "documents"))


def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal
    (llmops/dedup.py:boilerplate_scrub): paragraphs appearing in >= 3
    distinct documents are dropped from EVERY document (site chrome /
    banner cleaning — the complement of paragraph_dedup's keep-first).
    Runs over the same deterministic 3-word re-chunk as
    q_paragraph_dedup so both engines build identical paragraphs."""
    from .llmops.dedup import boilerplate_scrub

    return boilerplate_scrub(
        _para_chunked(_load(spark, sf_dir, "documents")), min_docs=3
    )


def q_similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the hyperplane-LSH index against brute-force
    ground truth, per probe — the approximation-quality audit every
    production ANN deployment runs (the dense complement of
    minhash_est_error).  Integer counts; both legs are the
    already-oracle-checked queries, so the intersection is exact and
    DuckDB reproduces it by composing the same two oracles."""
    from .llmops.similarity import brute_force_topk, lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    truth = brute_force_topk(emb, probes, k=10).select(
        "probe_id", "neighbor_id"
    )
    approx = lsh_topk(emb, probes, k=10, bits=6).select(
        "probe_id", "neighbor_id"
    )
    matched = (
        approx.join(truth, ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    )
    return (
        probes.select(F.col("vec_id").alias("probe_id"))
        .join(matched, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias(
                "n_matched"
            ),
            (F.coalesce("n_matched", F.lit(0)) * 100)
            .cast("bigint")
            .alias("recall_milli"),
        )
    )


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BPE fertility — pieces per word in exact milli
    units — of the corpus-trained 8-merge tokenizer: THE standard
    multilingual tokenizer-QA metric (a language with high fertility
    is under-served by the merge table).  Composes bpe_tokenize's
    per-doc counts with the documents dimension; integer arithmetic
    end to end."""
    from .llmops.textstats import bpe_tokenize

    docs = _load(spark, sf_dir, "documents")
    enc = bpe_tokenize(docs, n_merges=8)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_pieces"),
            # nullif: a language of only-empty docs divides by zero —
            # NULL on both engines, not a Spark-NULL/DuckDB-error split
            F.expr("sum(n_bpe_tokens) * 1000 div nullif(sum(n_words), 0)")
            .cast("bigint")
            .alias("fertility_milli"),
        )
    )


def q_stream_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the dedup-on-ingest operator
    (streaming/stateful.py:band_candidates): the distinct banded-LSH
    candidate pairs, identical signatures to dedup_minhash_lsh but
    WITHOUT the Jaccard verify — exactly what the streaming stateful
    path emits (stream/batch pair-set equality is pinned by
    tests/test_streaming.py over a real two-micro-batch run)."""
    from .streaming.stateful import band_candidates

    return band_candidates(_load(spark, sf_dir, "documents"))


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword-merge training (llmops/textstats.py:bpe_train): 8
    merges over the documents word vocabulary — adjacent-pair counts,
    greedy fuse, repeat; exact integer counts, (cnt desc, left, right)
    tie-break, reproduced merge-for-merge by the unrolled DuckDB CTE
    chain.  Assumes the corpus supports all 8 merges (true for any
    corpus whose words are not all single symbols — the early-stop
    edge is pinned in pytest instead)."""
    from .llmops.textstats import bpe_train

    docs = _load(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=8)


def q_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus-trained 8-merge BPE table to every document
    (llmops/textstats.py:bpe_tokenize): per-doc word count, BPE piece
    count, and sha256 of the ordered piece stream — the tokenizer-
    artifact equality check, digest-verified against DuckDB."""
    from .llmops.textstats import bpe_tokenize

    docs = _load(spark, sf_dir, "documents")
    return bpe_tokenize(docs, n_merges=8)


def q_sketch_hll_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-part estimate per returnflag plus a merged
    ``__all__`` row (llmops/sketches.py:hll_registers/hll_merge/
    hll_estimate): the register frame is built once (persisted — it is
    m=256 small ints per group), the union row merges registers with
    ``max`` rather than rescanning lineitem, and the estimator is the
    exact-rational alpha_256 formula in int64 ``div``.  The
    ``exact_distinct``/``err_permille`` columns are the demo's truth
    join — on a real 100 TB run you would emit only the estimates."""
    from .llmops.sketches import hll_estimate, hll_merge, hll_registers
    from .scale import persisted

    li = _load(spark, sf_dir, "lineitem")
    reg = persisted(hll_registers(li, "l_partkey", ["l_returnflag"]))
    per = hll_estimate(reg, ["l_returnflag"]).withColumnRenamed(
        "l_returnflag", "grp"
    )
    merged = hll_estimate(hll_merge(reg, ["l_returnflag"])).select(
        F.lit("__all__").alias("grp"), "est_distinct", "v_zero", "s_denom",
        "small_range",
    )
    est = per.unionByName(merged)
    exact = (
        li.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(F.countDistinct("l_partkey").alias("exact_distinct"))
        .unionByName(
            li.agg(F.countDistinct("l_partkey").alias("exact_distinct")).select(
                F.lit("__all__").alias("grp"), "exact_distinct"
            )
        )
    )
    return (
        est.join(exact, "grp")
        .select(
            "grp",
            "exact_distinct",
            "est_distinct",
            "v_zero",
            "s_denom",
            "small_range",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000 div exact_distinct"
            ).alias("err_permille"),
        )
        .orderBy("grp")
    )


def q_sketch_kmv_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-shingle estimate over the corpus
    (llmops/sketches.py:kmv_estimate): reuses the MinHash shingle-hash
    front (dedup._shingle_hash_sets, md5-32 mod 2^31-1), takes the 128
    smallest distinct hashes via TakeOrderedAndProject, and estimates
    (k-1)*space div kth — the sketch a 100 TB ingest keeps per shard
    and merges by re-taking the k smallest.  Truth join for the demo
    only."""
    from .llmops.dedup import _MERSENNE_P, _shingle_hash_sets
    from .llmops.sketches import kmv_estimate

    docs = _load(spark, sf_dir, "documents")
    hashes = (
        _shingle_hash_sets(docs, "text", "doc_id", 3)
        .select(F.explode("hs").alias("h"))
    )
    est = kmv_estimate(hashes, "h", k=128, space=_MERSENNE_P)
    exact = hashes.agg(F.countDistinct("h").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "k_used",
        "kth_hash",
        "est_distinct",
        "exhausted",
        "exact_distinct",
        F.expr(
            "abs(est_distinct - exact_distinct) * 1000 div exact_distinct"
        ).alias("err_permille"),
    )


def q_sketch_theta_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch train/test leakage estimate
    (llmops/sketches.py:theta_overlap): shingle-hash the corpus once,
    split it with the deterministic md5-permille corpus_split, and
    estimate the shingle overlap between the train and test splits from
    two 128-value sketches — the contamination-RATE companion to the
    exact dedup_against signature join, needing only k-row samples
    where the exact check joins full signature tables."""
    from .llmops.dedup import _MERSENNE_P, _shingle_hash_sets
    from .llmops.sketches import theta_overlap
    from .llmops.textstats import corpus_split

    docs = _load(spark, sf_dir, "documents")
    split = corpus_split(docs, train_permille=800, val_permille=100)
    hs = _shingle_hash_sets(docs, "text", "doc_id", 3).join(
        split.select("doc_id", "split"), "doc_id"
    )
    ha = hs.filter(F.col("split") == "train").select(F.explode("hs").alias("h"))
    hb = hs.filter(F.col("split") == "test").select(F.explode("hs").alias("h"))
    return theta_overlap(ha, hb, "h", k=128, space=_MERSENNE_P)


def q_sketch_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter check (llmops/sketches.py:cms_table/
    cms_point_estimates): a 4x64 integer grid over the lowercased token
    stream, point-queried for the 20 most frequent tokens; emits the
    guaranteed-overestimate gap ``overcount = cms_est - true_cnt``.  Width
    64 is deliberately small so bucket collisions are exercised at test
    scale — production widths make ``over`` permille-level."""
    from .llmops.sketches import cms_point_estimates, cms_table
    from .llmops.textstats import tokens_col
    from .scale import persisted

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens_col("text")).alias("raw")
    ).select(F.lower("raw").alias("tok"))
    # ONE corpus-scale pass: the (token, count) table feeds the truth
    # columns, the probe top-k AND the grid (weight_col fast path) —
    # the raw-stream grid form re-tokenized the corpus depth+1 times.
    truth = persisted(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    probes = truth.orderBy(F.col("true_cnt").desc(), "tok").limit(20)
    cms = cms_table(truth, "tok", depth=4, width=64, weight_col="true_cnt")
    est = cms_point_estimates(cms, probes, "tok", depth=4, width=64)
    return (
        probes.join(est, probes.tok == est.k)
        .select(
            "tok",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy("tok")
    )


def q_lm_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality scoring (llmops/quality.py:
    lm_surprisal_scores): a unigram model trained on the English slice
    scores every document by Laplace-smoothed mean inverse-probability
    in exact integer milli-units — rank-equivalent to mean
    log-likelihood, float-free, value-checked by the oracle."""
    from .llmops.quality import lm_surprisal_scores

    docs = _load(spark, sf_dir, "documents")
    return lm_surprisal_scores(docs, F.col("lang") == "en").orderBy("doc_id")


def q_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity-bucket analog (llmops/quality.py:
    quality_buckets): per-LANGUAGE head/middle/tail at exact tercile
    ranks of the surprisal score — keyed windows only, so the split
    scales to any corpus without a global sort."""
    from .llmops.quality import lm_surprisal_scores, quality_buckets

    docs = _load(spark, sf_dir, "documents")
    scores = (
        lm_surprisal_scores(docs, F.col("lang") == "en")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "score_milli")
    )
    return quality_buckets(scores, "lang").orderBy("doc_id")


def q_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sqrt-temperature domain mixture plan + realized deterministic
    sample (llmops/quality.py:domain_mixture): Pile/DoReMi-style
    flattening of dominant sources with an md5 inclusion rule that is
    append/retry-stable; IEEE-exact sqrt keeps the weights
    engine-identical."""
    from .llmops.quality import domain_mixture

    docs = _load(spark, sf_dir, "documents")
    return domain_mixture(docs, "source", "doc_id", target_permille=500)


def q_stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per 1-day tumbling window
    (streaming/windows.py:windowed_hll_distinct): the stream-native
    form of distinct counting — state per open window is 256 small
    integers (the HLL registers) instead of every user id. Batch form
    here; the register aggregation is the stateful streaming step."""
    from .session import load_events
    from .streaming.windows import windowed_hll_distinct

    return windowed_hll_distinct(
        load_events(spark, sf_dir), "1 day", "user_id"
    ).orderBy("w_start")


def q_sketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS join-cardinality estimate (llmops/sketches.py:
    cms_inner_product): |lineitem ⋈_partkey lineitem| from one 4x1024
    integer grid — the optimizer's pre-join size question answered
    without touching the table again (the grids join on (seed, bucket);
    work is depth*width, not table size). The exact companion sum and
    the guaranteed-nonnegative gap are emitted for the demo."""
    from .llmops.sketches import cms_inner_product, cms_table
    from .scale import persisted

    li = _load(spark, sf_dir, "lineitem").select("l_partkey")
    per = persisted(
        li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    )
    cms = persisted(
        cms_table(per, "l_partkey", depth=4, width=1024, weight_col="c")
    )
    est = cms_inner_product(cms, cms)
    exact = per.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_size")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_size",
        "est_size",
        (F.col("est_size") - F.col("exact_size")).alias("overcount"),
        F.expr(
            "abs(est_size - exact_size) * 1000 div exact_size"
        ).alias("err_permille"),
    )


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (llmops/dedup.py:soft_dedup_weights): every member of
    an exact-duplicate cluster keeps weight ``1000 div cluster_size``
    milli-units instead of being dropped — each distinct content
    contributes ~1.0 expected training mass however often it was
    crawled. The shuffle moves 32-byte sha256 digests, never documents
    (same shape as exact_dedup); the oracle groups on the raw text —
    identical clusters without needing sha256 in SQL."""
    from .llmops.dedup import soft_dedup_weights

    docs = _load(spark, sf_dir, "documents")
    return soft_dedup_weights(docs, "text", "doc_id").orderBy("doc_id")


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination check (llmops/sketches.py:
    bloom_build/bloom_maybe_contains): the filter is built from the
    TRAIN split's document texts (md5-permille corpus split, same rule
    as corpus_split), then every document probes it. ``maybe`` is the
    bloom verdict, ``present`` the exact truth (the text literally
    appears in the train split — the documents table carries planted
    duplicates, so cross-split leakage is real); ``false_pos`` isolates
    the bloom's only allowed error. m=2048/k=3 is sized so test scale
    exercises false positives; no false negative can ever occur (pinned
    in tests/test_sketches.py)."""
    from .llmops.sketches import bloom_build, bloom_maybe_contains
    from .scale import persisted

    docs = _load(spark, sf_dir, "documents")
    split_b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(1000)
    )
    train = persisted(
        docs.select(F.col("text").alias("k"), split_b.alias("b"))
        .filter(F.col("b") < 800)
        .select("k")
        .distinct()
    )
    bloom = bloom_build(train, "k", m_bits=2048, k_hashes=3)
    probes = docs.select(F.col("text").alias("k")).distinct()
    verdict = bloom_maybe_contains(probes, bloom, "k", m_bits=2048, k_hashes=3)
    present = train.select("k", F.lit(True).alias("present"))
    per_key = verdict.join(present, "k", "left").select(
        "k",
        "maybe",
        F.coalesce("present", F.lit(False)).alias("present"),
    )
    return (
        docs.select("doc_id", F.col("text").alias("k"))
        .join(per_key, "k")
        .select(
            "doc_id",
            "maybe",
            "present",
            (F.col("maybe") & ~F.col("present")).alias("false_pos"),
        )
        .orderBy("doc_id")
    )


def q_bloom_shard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prescreened incremental shard dedup (llmops/dedup.py:
    bloom_prescreen_dedup): the md5-permille tail 20% of documents
    arrives as a new shard and exact-dedups against the standing 80%
    corpus — but the corpus-scale join only ever sees digests the
    corpus's 4096-bit membership sketch could not rule out.
    ``maybe = false`` rows are DEFINITELY new (no false negatives,
    pinned in tests) and skip the join; false positives cost candidate
    rows, never correctness. The production incremental-ingest shape:
    the position table is broadcast, sha256 digests move, documents
    never do."""
    from .llmops.dedup import bloom_prescreen_dedup

    docs = _load(spark, sf_dir, "documents")
    split_b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(1000)
    )
    corpus = docs.filter(split_b < 800)
    shard = docs.filter(split_b >= 800)
    return bloom_prescreen_dedup(
        shard, corpus, "text", "doc_id", m_bits=4096, k_hashes=3
    ).orderBy("doc_id")


def q_stream_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed count-min heavy hitters (streaming/windows.py:
    windowed_cms_heavy): per 1-day tumbling window, CMS point estimates
    for a fixed probe set — the 5 globally heaviest users — from a
    4x64 grid whose state is depth*width integers per open window (the
    frequency companion to stream_hll_users' 256-int distinct state).
    Batch form here completes the (window x probe) base so probes
    absent from a window emit true_cnt 0 with their honest (possibly
    collision-inflated, never underestimating) grid answer; the
    streaming topology itself is pinned stream-vs-batch in
    tests/test_streaming.py."""
    from .scale import persisted
    from .session import load_events
    from .streaming.windows import windowed_cms_heavy

    ev = load_events(spark, sf_dir)
    # ONE event-scale pass: the per-(window, key) count table feeds the
    # truth columns, the probe top-5 AND the grid (windowed_cms_heavy's
    # weight_col fast path) — the raw-stream grid form re-scanned the
    # event stream depth+1 times.
    wtruth = persisted(
        ev.select(
            F.window("ts", "1 day").alias("window"),
            F.col("user_id").cast("string").alias("k"),
        )
        .groupBy("window", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    truth = wtruth.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("w_end"),
        "k",
        "true_cnt",
    )
    probes = (
        wtruth.groupBy("k")
        .agg(F.sum("true_cnt").alias("tot"))
        .orderBy(F.desc("tot"), "k")
        .limit(5)
        .select("k")
    )
    est = windowed_cms_heavy(
        wtruth, probes, "1 day", "k", depth=4, width=64,
        weight_col="true_cnt",
    )
    base = (
        truth.select("w_start", "w_end").distinct().crossJoin(F.broadcast(probes))
    )
    return (
        base.join(est, ["w_start", "w_end", "k"], "left")
        .join(truth, ["w_start", "w_end", "k"], "left")
        .select(
            "w_start",
            "w_end",
            "k",
            F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
            F.coalesce("cms_est", F.lit(0)).alias("cms_est"),
            (
                F.coalesce("cms_est", F.lit(0))
                - F.coalesce("true_cnt", F.lit(0))
            ).alias("overcount"),
        )
        .orderBy("w_start", "k")
    )


def q_quantile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-sample quantile sketch (llmops/sketches.py:
    sample_quantiles): per-priority order-price quartiles from a
    deterministic 1/16 md5 sample — the mergeable quantile answer
    (per-shard samples at the same θ union into the sample of the
    union, unlike percentile_approx's engine-private state). The
    corpus pays one narrow filter; only sampled rows reach the
    per-group sort. exact_q500 is the demo truth join (full-data
    median by the same rank rule) with the sample's permille error."""
    from pyspark.sql import Window as W

    from .llmops.sketches import sample_quantiles

    orders = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", cents("o_totalprice").alias("price_c")
    )
    sk = sample_quantiles(
        orders, "o_orderkey", "price_c", ["o_orderpriority"],
        qs=(250, 500, 750), rate_log2=4,
    )
    w = W.partitionBy("o_orderpriority").orderBy("price_c", "o_orderkey")
    ranked = orders.select(
        "o_orderpriority",
        "price_c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("o_orderpriority")).alias("n"),
    )
    exact = ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.max(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.expr("(n * 500 + 999) div 1000")),
                F.col("price_c"),
            )
        )
        .cast("long")
        .alias("exact_q500"),
    )
    return (
        exact.join(sk, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_rows",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            "q_250",
            "q_500",
            "q_750",
            "exact_q500",
            F.expr(
                "abs(q_500 - exact_q500) * 1000 div exact_q500"
            ).alias("err_permille"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# temporal / SCD2 / weighted-sampling queries (beyond-reference, round 8):
# keyed-window warehouse ops — every Window partitions on the business
# key, so the plans hold at 100 TB with one hash exchange each.
# ---------------------------------------------------------------------------


def q_scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (temporal.py:scd2): per user, the
    event stream's event_type collapses into validity intervals
    [valid_from, valid_to) at distinct state runs — duplicate-ts runs
    made total by the event_id tiebreak. The per-user summary
    (version count, closed-interval seconds, current state) hash-pins
    every interval boundary: a single mis-closed version shifts
    closed_seconds. One exchange on user_id serves the change-detect
    window, the interval-close window, and the final aggregate."""
    from .temporal import scd2

    ev = _load(spark, sf_dir, "events")
    dim = scd2(ev, "user_id", ["event_type"], "ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; the session TZ is pinned UTC in
    # _load, so the cast is a pure reinterpretation.
    closed = F.unix_micros(
        F.col("valid_to").cast("timestamp")
    ) - F.unix_micros(F.col("valid_from").cast("timestamp"))
    return (
        dim.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.coalesce(F.sum(closed), F.lit(0))
            .cast("long")
            .alias("closed_micros"),
            F.max(F.when(F.col("is_current"), F.col("event_type"))).alias(
                "current_type"
            ),
        )
        .orderBy("user_id")
    )


def q_scd2_apply_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC-into-SCD2 merge (temporal.py:scd2_apply): the
    event stream splits at 2024-01-21; the prefix builds the dimension
    (temporal.py:scd2) and the suffix applies as the nightly change
    batch — closed history immutable, only touched keys' current rows
    re-window, no-op updates collapse.  The ORACLE is the full rebuild
    over the ENTIRE stream: the query hash-pins the operator's core
    contract, incremental apply == full rebuild, boundary for
    boundary (a single mis-closed or duplicated version shifts
    closed_micros or n_versions for that user).  Plan: the rebuild
    windows see only (touched-current ∪ batch) — batch-sized — while
    untouched keys and closed history pass through join-free of any
    window."""
    from .temporal import scd2, scd2_apply

    ev = _load(spark, sf_dir, "events")
    split = F.lit("2024-01-21").cast("timestamp")
    ts = F.col("ts").cast("timestamp")
    dim = scd2(ev.filter(ts < split), "user_id", ["event_type"], "ts", "event_id")
    applied = scd2_apply(
        dim, ev.filter(ts >= split), "user_id", ["event_type"],
        "ts", "event_id",
    )
    closed = F.unix_micros(
        F.col("valid_to").cast("timestamp")
    ) - F.unix_micros(F.col("valid_from").cast("timestamp"))
    return (
        applied.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.coalesce(F.sum(closed), F.lit(0))
            .cast("long")
            .alias("closed_micros"),
            F.min(F.unix_micros(F.col("valid_from").cast("timestamp")))
            .alias("first_from_micros"),
            F.max(F.when(F.col("is_current"), F.col("event_type"))).alias(
                "current_type"
            ),
        )
        .orderBy("user_id")
    )


def q_resample_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key daily resample + forward fill (temporal.py:
    resample_ffill): each user's sparse event stream becomes one row
    per day of their own lifetime, carrying the day's LAST event_type
    (ts, event_id total order) across gap days — the dense state
    calendar behind dashboards and daily feature snapshots.  Summary
    output pins every fill decision: per user, lifetime days, observed
    days, and an order-weighted digest of the filled states (sum over
    days of day_index * state_rank, exact integers — a single
    mis-filled gap day shifts it)."""
    from .temporal import resample_ffill

    ev = _load(spark, sf_dir, "events")
    dense = resample_ffill(ev, "user_id", "ts", ["event_type"], "event_id")
    # rank states deterministically: click=1, purchase=2, view=3 (abc)
    state_rank = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "view", 3)
        .otherwise(4)
    )
    day_index = F.datediff(F.col("day"), F.lit("1970-01-01"))
    return (
        dense.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.col("is_observed").cast("bigint"))
            .cast("bigint")
            .alias("n_observed"),
            F.sum(day_index * state_rank).cast("bigint").alias("fill_digest"),
        )
        .orderBy("user_id")
    )


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge (temporal.py:merge_intervals):
    each lineitem spans [o_orderdate, l_shipdate] for its supplier;
    overlapping-or-touching spans merge into islands, and per supplier
    the output pins island count, total covered seconds, and the rows
    folded into the largest island. The orders side joins broadcast
    (orderkey -> orderdate is the small projection at every SF ratio
    held by TPC-H's 1:4 orders:lineitem); the merge itself is one
    keyed window + keyed aggregate on l_suppkey."""
    from .temporal import merge_intervals

    li = _load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", F.col("l_shipdate").alias("iv_end")
    )
    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").alias("iv_start")
    )
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey", "iv_start", "iv_end"
    )
    merged = merge_intervals(iv, "l_suppkey", "iv_start", "iv_end")
    covered = F.unix_timestamp("island_end") - F.unix_timestamp("island_start")
    return (
        merged.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(covered).cast("long").alias("covered_seconds"),
            F.max("n_merged").cast("long").alias("max_island_rows"),
        )
        .orderBy("l_suppkey")
    )


def q_weighted_sample_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample without replacement
    (stats.py:weighted_sample): 5 customers per nation, inclusion
    odds proportional to account balance (clamped to >= 1 cent), via
    the deterministic md5-uniform A-ES key ln(u)/w — reproducible
    under retries/speculation, no per-group totals pass, one keyed
    window rank. Output is ids and ranks only (the float key never
    leaves the plan, so cross-engine ln ulp drift can't touch the
    hash)."""
    from .stats import weighted_sample

    cust = _load(spark, sf_dir, "customer")
    w = F.greatest(cents("c_acctbal"), F.lit(1))
    return (
        weighted_sample(cust, "c_nationkey", "c_custkey", w, k=5)
        .select("c_nationkey", "sample_rank", "c_custkey")
        .orderBy("c_nationkey", "sample_rank")
    )


def q_incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (ivm.py:
    refresh_incremental): the standing per-customer order aggregate
    (built from the pre-1996 base) absorbs the 1996+ delta batch by
    state merge — count combines as sum, sum/min/max as themselves —
    and the result must equal the full recompute the DuckDB oracle
    runs over the whole table. The merge plan touches only the two
    key-sized state frames (one union + one hash exchange); at 100 TB
    the base table is never rescanned — that is the entire point.
    Money stays in exact integer cents through the merge and converts
    to dollars only at the edge."""
    from .ivm import aggregate_state, refresh_incremental

    measures = {
        "n_orders": ("count", None),
        "sum_price_cents": ("sum", cents("o_totalprice")),
        "first_order": ("min", "o_orderdate"),
        "last_order": ("max", "o_orderdate"),
    }
    orders = _load(spark, sf_dir, "orders")
    split = F.lit("1996-01-01").cast("date")
    state = aggregate_state(
        orders.filter(F.col("o_orderdate") < split), ["o_custkey"], measures
    )
    delta = orders.filter(F.col("o_orderdate") >= split)
    merged = refresh_incremental(state, delta, ["o_custkey"], measures)
    return merged.select(
        "o_custkey",
        "n_orders",
        money(F.col("sum_price_cents")).alias("sum_price"),
        "first_order",
        "last_order",
    ).orderBy("o_custkey")


def q_zonemap_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (scale.py:zonemap_stats/zonemap_prune):
    orders sharded by ingest month (the natural lakehouse file
    clustering), per-shard min/max envelopes on (o_orderdate,
    o_totalprice), then a conjunctive range scan that drops whole
    shards the envelope proves empty before the residual row filter —
    parquet footer pruning as an explicit, auditable operator. The
    survivor set broadcasts into a left-semi join so the fact scan
    never shuffles; the output row pins the skip ratio
    (shards_scanned / shards_total) AND the aggregate over surviving
    rows, so a pruning bug that drops a live shard or a leaky one
    that misses a prune both break the hash."""
    from .scale import zonemap_prune, zonemap_stats

    lo, hi = "1996-03-01", "1996-09-30"
    orders = _load(spark, sf_dir, "orders").withColumn(
        "shard",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int"),
    )
    stats = zonemap_stats(orders, "shard", ["o_orderdate", "o_totalprice"])
    pruned, survivors = zonemap_prune(
        orders,
        stats,
        "shard",
        {
            "o_orderdate": (F.lit(lo).cast("date"), F.lit(hi).cast("date")),
            "o_totalprice": (100_000.0, None),
        },
    )
    return (
        stats.agg(F.count(F.lit(1)).alias("shards_total"))
        .crossJoin(
            F.broadcast(survivors.agg(F.count(F.lit(1)).alias("shards_scanned")))
        )
        .crossJoin(
            F.broadcast(
                pruned.agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    money(
                        F.coalesce(F.sum(cents("o_totalprice")), F.lit(0))
                    ).alias("revenue"),
                )
            )
        )
    )


def q_zorder_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-order WRITE path's payoff, measured (scale.py:zshard +
    zonemap_stats/zonemap_prune; the physical write itself is
    scale.py:write_zordered, pinned with real parquet files in
    tests/test_scale.py): the SAME conjunctive 2-D predicate scanned
    against two layouts
    of orders — the natural ingest-month sharding vs 16 deterministic
    z-order bands over (order day, price cents) — reporting each
    layout's shards_total / shards_scanned / surviving rows / revenue
    (a 4-year date range AND a $450k price floor: month sharding must
    scan 48 of 80 months — 60% — while the z-bands carry a tight
    envelope on BOTH dims and scan 3 of 16).
    The month layout scans every month in the date range no matter
    the price (its price envelopes are all full-width); the z-ordered
    layout prunes on BOTH dimensions at once.  n_rows and revenue are
    LAYOUT-INVARIANT by the conservative-pruning contract — the hash
    pins that invariance, so a leaky prune on either layout breaks
    the row, not just the ratio.  zshard is equi-width in z-space
    (pure projection of the row + envelope — bit-identical on any
    engine), which is what makes the whole comparison
    oracle-checkable; write_zordered swaps in range partitioning for
    the physical files where determinism doesn't matter."""
    from .scale import zonemap_prune, zonemap_stats, zshard

    o = _load(spark, sf_dir, "orders").select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("oday"),
        cents("o_totalprice").cast("long").alias("p_cents"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("m_shard"),
    )
    from datetime import date as _date

    epoch = _date(1970, 1, 1)
    lo_d = (_date(1995, 6, 1) - epoch).days
    hi_d = (_date(1999, 5, 31) - epoch).days
    env = o.agg(
        F.min("oday"), F.max("oday"), F.min("p_cents"), F.max("p_cents")
    ).collect()[0]
    zs = zshard(
        o,
        ["oday", "p_cents"],
        {"oday": env[0], "p_cents": env[2]},
        {"oday": env[1], "p_cents": env[3]},
        bits_per_dim=4,
        n_shards=16,
    ).select("oday", "p_cents", "zshard")
    ranges = {"oday": (lo_d, hi_d), "p_cents": (45_000_000, None)}

    def layout(df, shard_col, name):
        stats = zonemap_stats(df, shard_col, ["oday", "p_cents"])
        pruned, survivors = zonemap_prune(df, stats, shard_col, ranges)
        return (
            stats.agg(F.count(F.lit(1)).cast("bigint").alias("shards_total"))
            .crossJoin(
                F.broadcast(
                    survivors.agg(
                        F.count(F.lit(1)).cast("bigint").alias("shards_scanned")
                    )
                )
            )
            .crossJoin(
                F.broadcast(
                    pruned.agg(
                        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                        money(
                            F.coalesce(F.sum("p_cents"), F.lit(0))
                        ).alias("revenue"),
                    )
                )
            )
            .select(
                F.lit(name).alias("layout"),
                "shards_total",
                "shards_scanned",
                "n_rows",
                "revenue",
            )
        )

    return (
        layout(o, "m_shard", "month")
        .unionByName(layout(zs, "zshard", "zorder"))
        .orderBy("layout")
    )


def q_bfs_hops_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance (graph.py:bfs_hops) from customer node 0 over
    the undirected trade graph — frontier supersteps with a node-sized
    visited table, the Pregel SSSP shape. Three levels cover the whole
    bipartite component at every SF (customer -> its suppliers -> their
    customers -> those customers' suppliers), so the oracle is the
    statically-unrolled 3-level anti-join chain; every (node, hop)
    pair is hash-pinned, which catches both a missed frontier node and
    a node re-entered at the wrong (non-minimal) level. bfs_hops pins
    and probes every level: the measured sweep (graph.py:bfs_hops
    docstring) shows per-level checkpointing BEATS chaining here —
    an un-checkpointed level re-executes its prefix ~2^K times, which
    costs more than the probe it saves."""
    from .graph import bfs_hops

    return bfs_hops(
        _trade_edges(spark, sf_dir), source=0, max_hops=3
    ).orderBy("hop", "node")


def q_setsim_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering
    (llmops/dedup.py:setsim_join_prefix) at Jaccard >= 0.5 over the
    SAME trigram shingle-hash sets `dedup_minhash_lsh` banded-LSHes —
    the PPJoin-family exact counterpart on the same universe (LSH
    trades recall for speed; this keeps exactness and still never
    goes all-pairs). Rarest-first global ordering puts low-df
    shingles in the prefixes, so the candidate postings join stays
    short; the integer milli compare (1000·|∩| >= θ·|∪|) keeps the
    pair set and jac_milli bit-identical to the DuckDB replica."""
    from .llmops.dedup import _shingle_hash_sets, setsim_join_prefix

    hs = _shingle_hash_sets(
        _load(spark, sf_dir, "documents"), "text", "doc_id", 3
    )
    return setsim_join_prefix(
        hs, "hs", "doc_id", threshold_milli=500
    ).orderBy("id_a", "id_b")


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (graph.py:label_propagation),
    2 synchronous supersteps over the trade graph with the
    deterministic most-frequent/smallest-label rule — per-node final
    labels, every one hash-pinned against the statically-unrolled
    2-superstep SQL (count argmax via window rank, ties to the
    smaller label, no-in-edge nodes keep theirs)."""
    from .graph import label_propagation

    return label_propagation(_trade_edges(spark, sf_dir), iterations=2).orderBy(
        "node"
    )


def q_link_predict_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (graph.py:link_predict): customers who bought
    the same RARE part are candidate affinity links, scored by common
    parts and the resource-allocation index in exact integer micros
    (1_000_000 div deg summed over shared parts — the Adamic-Adar
    family member that survives a bit-exact oracle).  The middle-degree
    cap (20) is the quadratic guard doing real work on THIS data: the
    synthetic part->customer degree floor is ~11 with a dense middle
    at ~30, so the cap keeps only genuinely informative rare parts and
    bounds the wedge join at C(20,2) per middle.  Top 100 pairs under
    a total (ra DESC, common DESC, a, b) order."""
    from .graph import link_predict

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    m = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_partkey", "o_custkey"
    )
    return (
        link_predict(m, "l_partkey", "o_custkey", max_middle_degree=20)
        .select(
            F.col("node_a").alias("cust_a"),
            F.col("node_b").alias("cust_b"),
            F.col("common_middles").alias("common_parts"),
            "ra_micro",
        )
        .orderBy(
            F.desc("ra_micro"), F.desc("common_parts"), "cust_a", "cust_b"
        )
        .limit(100)
    )


def q_basket_lift_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs (stats.py:assoc_pairs): parts
    co-purchased in >= 2 orders, with confidence and lift as exact
    integer milli-units (BIGINT cross-multiplication, `div` both
    engines — no double division anywhere).  The pair self-join is
    keyed on the order id, so its cost is sum-of-squared basket sizes
    — and `max_basket_size=8` is the quadratic guard doing REAL work
    on this data (the synthetic order-size tail runs to 13 distinct
    parts; ~3% of baskets are dropped), exactly the way the wedge
    join in link_predict is bounded by its middle cap.  Dropped
    baskets leave co-counts, marginals AND the basket total — ratios
    stay consistent over the capped universe, and the oracle applies
    the identical pre-filter.  Top 50 by (co, lift) under a total
    order."""
    from .stats import assoc_pairs

    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        assoc_pairs(
            li, "l_orderkey", "l_partkey", min_pair_count=2,
            max_basket_size=8,
        )
        .select(
            F.col("item_a").alias("part_a"),
            F.col("item_b").alias("part_b"),
            "co",
            "cnt_a",
            "cnt_b",
            "conf_ab_milli",
            "conf_ba_milli",
            "lift_milli",
        )
        .orderBy(F.desc("co"), F.desc("lift_milli"), "part_a", "part_b")
        .limit(50)
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (stats.py:rfm_scores): per-nation quintile
    grades on recency / frequency / monetary over each customer's
    order history — 1 = best in every dimension, rfm_code packs the
    digits.  Orders aggregate once on the customer key, the nation
    arrives via the customer dimension join, and all three ntile
    windows share ONE nation-key exchange — segmentation stays inside
    a business dimension precisely so no global sort exists at any
    scale.  Customers with no orders are absent by construction
    (inner join), matching the oracle."""
    from .stats import rfm_scores

    o = _load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", cents("o_totalprice").alias("p_cents")
    )
    c = _load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_custkey", "c_nationkey", "o_orderdate", "p_cents"
    )
    r = rfm_scores(
        joined, "c_custkey", "c_nationkey", "o_orderdate", "p_cents"
    )
    return r.select(
        F.col("cust").alias("c_custkey"),
        F.col("grp").alias("c_nationkey"),
        F.col("last_order"),
        F.col("n_orders"),
        money(F.col("cents")).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        "rfm_code",
    ).orderBy("c_custkey")


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planner (scale.py:zorder_key): Morton-interleave
    4-bit equi-width bins of (order epoch-day, totalprice cents) into
    a 256-cell clustering key, then report each occupied cell's row
    count and BOTH dimensions' min/max envelope — the zone maps a
    rewrite in zorder runs would give every file, i.e. the input
    statistics for zonemap_prune-style skipping on EITHER column.
    The envelope bounds come from one bounded 1-row aggregate pull;
    the key itself is a pure narrow projection (no job, no shuffle),
    and the report is one keyed aggregate on the cell id."""
    from .scale import zorder_key

    o = _load(spark, sf_dir, "orders").select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("oday"),
        cents("o_totalprice").cast("long").alias("p_cents"),
    )
    env = o.agg(
        F.min("oday"), F.max("oday"), F.min("p_cents"), F.max("p_cents")
    ).collect()[0]
    keyed = zorder_key(
        o,
        ["oday", "p_cents"],
        {"oday": env[0], "p_cents": env[2]},
        {"oday": env[1], "p_cents": env[3]},
        bits_per_dim=4,
    )
    return (
        keyed.groupBy("zorder")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("oday").alias("min_day"),
            F.max("oday").alias("max_day"),
            F.min("p_cents").alias("min_cents"),
            F.max("p_cents").alias("max_cents"),
        )
        .orderBy("zorder")
    )


def q_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read (temporal.py:snapshot_at) — the
    time-travel query the SCD2 build exists to serve: reconstruct
    every user's state AS OF 2024-01-15 from the same validity
    intervals q_scd2_user_status builds, then summarize per state
    (user count, earliest/latest version start among then-current
    versions).  The snapshot itself is a pure narrow filter on
    [valid_from, valid_to) — no window, no extra exchange beyond the
    SCD2 build's one user_id exchange; at 100 TB the interval
    predicate pushes into the stored dimension's scan."""
    from .temporal import scd2, snapshot_at

    ev = _load(spark, sf_dir, "events")
    dim = scd2(ev, "user_id", ["event_type"], "ts", "event_id")
    snap = snapshot_at(dim, "2024-01-15 00:00:00")
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("valid_from").alias("earliest_from"),
            F.max("valid_from").alias("latest_from"),
        )
        .orderBy("event_type")
    )


def q_embedding_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label scatter-moment table (llmops/similarity.py:
    scatter_matrix): n, Σxᵢ, Σxⱼ, Σxᵢxⱼ for every dimension pair
    i <= j on the VEC_QUANT integer grid — the one-pass input to
    covariance / PCA / whitening over the corpus embeddings.  Vectors
    never shuffle: each batch ships only its d(d+1)/2-row partial
    Gram (int64 matmul, exact in any accumulation order), and the
    reshape joins run on constant-size moment frames (broadcast).
    Output limited to the first 8 dimensions (36 pairs x 10 labels)
    to keep the oracle compare tight; the kernel computes all 64."""
    from .llmops.similarity import scatter_matrix

    emb = _load(spark, sf_dir, "embeddings")
    tot = scatter_matrix(emb, "embedding", "label")
    from .scale import persisted

    tot = persisted(tot)
    gram = tot.filter(
        (F.col("i") >= 0) & (F.col("j") >= 0) & (F.col("j") <= 7)
    ).select("grp", "i", "j", F.col("v").alias("sxy"))
    marg = tot.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        "grp", F.col("i").alias("mi"), F.col("v").alias("s")
    )
    n = tot.filter(F.col("i") == -1).select(
        "grp", F.col("v").alias("n")
    )
    mx = marg.select("grp", F.col("mi").alias("i"), F.col("s").alias("sx"))
    my = marg.select("grp", F.col("mi").alias("j"), F.col("s").alias("sy"))
    return (
        gram.join(F.broadcast(mx), ["grp", "i"])
        .join(F.broadcast(my), ["grp", "j"])
        .join(F.broadcast(n), "grp")
        .select(
            F.col("grp").alias("label"),
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            "n",
            "sx",
            "sy",
            "sxy",
        )
        .orderBy("label", "dim_i", "dim_j")
    )


def q_drift_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift guard (stats.py:histogram_drift): order
    totalprice split at 1998-07-01 into the early and late corpus
    slices, histogrammed on the same exact $25k integer-cent grid,
    with per-band milli-proportions and |Δ| — the check a pipeline
    runs before mixing a new crawl into the training corpus.  The
    date predicate pushes into each slice's parquet scan; only
    band-count-sized frames ever join, and the two totals broadcast
    as 1-row frames.  Total variation distance = sum(diff_milli)
    div 2 over the output."""
    from .stats import histogram_drift

    o = _load(spark, sf_dir, "orders").select(
        "o_orderdate", cents("o_totalprice").cast("long").alias("p_cents")
    )
    early = o.filter(F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
    late = o.filter(F.col("o_orderdate") >= F.lit("1998-07-01").cast("timestamp"))
    return histogram_drift(early, late, "p_cents", 2_500_000).orderBy("bucket")


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-slice OOV coverage (llmops/textstats.py:vocab_oov): the
    top-500 whitespace-token vocabulary of the English slice, measured
    against every non-English document — the tokenizer-coverage
    question asked before pointing an en-trained vocab at a
    multilingual crawl.  Vocab = one TakeOrdered aggregate on the
    reference slice, then a constant-size broadcast into the target's
    token stream; permille is exact integer div.  Per-language rollup
    keeps the output compact and pins every doc's contribution through
    the sums."""
    from .llmops.textstats import vocab_oov

    docs = _load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    tgt = docs.filter(F.col("lang") != "en")
    per_doc = vocab_oov(ref, tgt, "text", "doc_id", vocab_size=500)
    lang = docs.select("doc_id", "lang")
    return (
        per_doc.join(lang, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_oov").cast("bigint").alias("n_oov"),
            F.expr("sum(n_oov) * 1000 div sum(n_tokens)")
            .cast("bigint")
            .alias("oov_permille"),
        )
        .orderBy("lang")
    )


def q_label_noise_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise sweep (llmops/similarity.py:label_noise_scan) over
    the embeddings table: every vector classified against all label
    centroids on the exact integer milli grid; output = the noisy rows
    (nearest centroid != own label) with both distances, ordered by
    id.  Centroids ride the task closure (bounded labels x dim pull);
    vectors never shuffle."""
    from .llmops.similarity import label_noise_scan

    emb = _load(spark, sf_dir, "embeddings")
    return (
        label_noise_scan(emb, "embedding", "label", "vec_id")
        .filter(F.col("is_noisy"))
        .select(
            F.col("vid").alias("vec_id"),
            F.col("lab").alias("label"),
            "best_lab",
            "d_own",
            "d_best",
        )
        .orderBy("vec_id")
    )


def q_stream_drift_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming drift monitor (streaming/windows.py:
    windowed_histogram_drift): the first week of events is the static
    reference distribution ($50 bands of `value`, exact integer-cent
    grid, milli proportions); every later 1-day window histograms the
    same grid and reports per-band milli vs reference plus |Δ|.  The
    stateful shape is band counts per open window (grid-bounded state,
    never event-count state) with the per-window total as the chained
    second aggregate — stream/batch row equivalence of the topology is
    pinned in tests/test_streaming.py."""
    from .session import load_events
    from .streaming.windows import windowed_histogram_drift

    ev = load_events(spark, sf_dir)
    cut = F.lit("2024-01-08 00:00:00").cast("timestamp")
    ref_slice = ev.filter(F.col("ts") < cut)
    rh = (
        ref_slice.select(
            F.expr("floor(value * 100.0 + 0.5) div 5000")
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("rn"))
    )
    rt = ref_slice.agg(F.count(F.lit(1)).cast("long").alias("rtot"))
    ref_milli = rh.crossJoin(F.broadcast(rt)).select(
        "bucket", F.expr("rn * 1000 div rtot").cast("long").alias("milli_ref")
    )
    tgt = ev.filter(F.col("ts") >= cut)
    return windowed_histogram_drift(tgt, ref_milli, "1 day").orderBy(
        "w_start", "bucket"
    )


def q_hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-search rank fusion (llmops/similarity.py:rrf_fuse): the
    exact cosine top-10 and the hyperplane-LSH top-10 — the same two
    already-oracle-checked legs similarity_lsh_recall audits — fused
    by reciprocal-rank in exact integer micros (1e6 div (60+rank)),
    re-ranked per probe with a doc-id tiebreak.  n_lists carries the
    both-retrievers-agree signal.  The fusion itself is k-bounded:
    rank lists, never the corpus, enter the union/aggregate/window."""
    from .llmops.similarity import brute_force_topk, lsh_topk, rrf_fuse

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    dense = brute_force_topk(emb, probes, k=10)
    approx = lsh_topk(emb, probes, k=10, bits=6)
    return rrf_fuse(dense, approx, k=60, top_n=10).orderBy(
        "probe_id", "fused_rank"
    )


def q_feature_smooth_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop feature smoothing (graph.py:feature_propagate) over the
    trade graph: every node starts from its account balance in OFFSET
    cents (+100k keeps the feature non-negative so floored integer
    means agree across engines), and each hop takes the floored mean
    of in-neighbor features — the GraphSAGE mean-aggregation layer as
    a batch operator (cold-start imputation: a node's smoothed value
    is its trading neighborhood's).  Output summarizes per node class
    (customer = even ids, supplier = odd) to keep the frame compact
    while pinning every node's hop-2 value through the sums."""
    from .graph import feature_propagate

    c = _load(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 2).alias("node"),
        (cents("c_acctbal") + F.lit(100_000)).cast("long").alias("feat"),
    )
    s = _load(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2 + 1).alias("node"),
        (cents("s_acctbal") + F.lit(100_000)).cast("long").alias("feat"),
    )
    feats = c.unionByName(s)
    out = feature_propagate(_trade_edges(spark, sf_dir), feats, hops=2)
    return (
        out.groupBy((F.col("node") % 2).cast("int").alias("node_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("feat").cast("bigint").alias("sum_feat"),
            F.min("feat").cast("bigint").alias("min_feat"),
            F.max("feat").cast("bigint").alias("max_feat"),
        )
        .orderBy("node_class")
    )


def q_similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ ADC index against brute-force truth, per
    probe — completes the ANN audit pair (similarity_lsh_recall audits
    the hashing family; this audits the quantization family).  Both
    legs are the already-oracle-checked queries, so the intersection
    is exact and DuckDB reproduces it by composing the same two
    oracles.  Quantization recall is the number a FAISS-style
    deployment tunes m/n_codes against."""
    from .llmops.similarity import brute_force_topk, pq_topk

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    truth = brute_force_topk(emb, probes, k=10).select(
        "probe_id", "neighbor_id"
    )
    approx = pq_topk(emb, probes, k=10, m=4, n_codes=16).select(
        "probe_id", "neighbor_id"
    )
    matched = (
        approx.join(truth, ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
    )
    return (
        probes.select(F.col("vec_id").alias("probe_id"))
        .join(matched, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
            (F.coalesce("n_matched", F.lit(0)) * 100)
            .cast("bigint")
            .alias("recall_milli"),
        )
        .orderBy("probe_id")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "compare_diff": q_compare_diff,
    "compare_diff_summary": q_compare_diff_summary,
    "compare_field_mismatches": q_compare_field_mismatches,
    "compare_added_keys": q_compare_added,
    "compare_deleted_keys": q_compare_deleted,
    "mask_deterministic": q_mask_deterministic,
    "mask_recovery_roundtrip": q_mask_recovery,
    "mask_invariants": q_mask_invariants,
    "pattern_count_matches": q_pattern_count,
    "pattern_replace_all": q_pattern_replace_all,
    "pattern_replace_first": q_pattern_replace_first,
    "pattern_stats_by_lang": q_pattern_stats_by_lang,
    "convert_split_lines": q_convert_split_lines,
    "convert_key_union": q_convert_key_union,
    "convert_xml_escape": q_convert_xml_escape,
    "topk_two_key": q_topk_two_key,
    "date_remaining_days": q_date_remaining_days,
    "dedup_exact": q_dedup_exact,
    "dedup_exact_groups": q_dedup_exact_groups,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "text_quality_features": q_text_quality,
    "text_repetition": q_text_repetition,
    "text_winnow": q_text_winnow,
    "corpus_top_ngrams": q_corpus_top_ngrams,
    "contamination_check": q_contamination_check,
    "pipeline_pretraining": q_pipeline_pretraining,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "similarity_topk": q_similarity_topk,
    "pattern_presets": q_pattern_presets,
    "text_quality_score": q_text_quality_score,
    "dedup_near_keep": q_dedup_near_keep,
    "dedup_components": q_dedup_components,
    "dedup_cc_keep": q_dedup_cc_keep,
    "priority_revenue": q_priority_revenue,
    "asof_join": q_asof_join,
    "funnel_conversion": q_funnel_conversion,
    "skew_key_events": q_skew_key_events,
    "retention_cohorts": q_retention_cohorts,
    "sessionize_events": q_sessionize,
    "range_join_attribution": q_range_join_attribution,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "nation_volume": q_nation_volume,
    "stream_range_join": q_stream_range_join,
    "stream_tumbling_counts": q_stream_tumbling,
    "stream_sliding_counts": q_stream_sliding,
    "stream_session_agg": q_stream_session,
    "stream_running_totals": q_stream_running_totals,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_pairs": q_dedup_embedding_pairs,
    "similarity_lsh_topk": q_similarity_lsh_topk,
    "embedding_centroids": q_embedding_centroids,
    "similarity_ivf_topk": q_similarity_ivf_topk,
    "multimodal_image_features": q_multimodal_image_features,
    "multimodal_audio_features": q_multimodal_audio_features,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_resize": q_multimodal_resize,
    "text_pii_scrub": q_text_pii_scrub,
    "sample_stratified": q_sample_stratified,
    "length_band_filter": q_length_band_filter,
    "events_json_props": q_events_json_props,
    "window_running_revenue": q_window_running_revenue,
    "rolling_revenue_30d": q_rolling_revenue_30d,
    "rollup_volume": q_rollup_volume,
    "distinct_suppliers": q_distinct_suppliers,
    "pivot_event_counts": q_pivot_event_counts,
    "stream_dedup_first": q_stream_dedup_first,
    "stream_cdc_upsert": q_stream_cdc_upsert,
    "skew_salted_totals": q_skew_salted_totals,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "topk_per_group": q_topk_per_group,
    "group_quantiles": q_group_quantiles,
    "histogram_doc_lengths": q_histogram_doc_lengths,
    "profile_orders": q_profile_orders,
    "paragraph_dedup": q_paragraph_dedup,
    "promo_revenue": q_promo_revenue,
    "cube_volume": q_cube_volume,
    "semi_anti_customers": q_semi_anti_customers,
    "events_interarrival": q_events_interarrival,
    "cdc_upsert": q_cdc_upsert,
    "minhash_est_error": q_minhash_est_error,
    "text_normalize": q_text_normalize,
    "bigram_familiarity": q_bigram_familiarity,
    "dedup_ngram_capped": q_dedup_ngram_capped,
    "shipping_priority": q_shipping_priority,
    "skew_salted_join": q_skew_salted_join,
    "asof_join_forward": q_asof_join_forward,
    "grouping_sets_volume": q_grouping_sets_volume,
    "fuzzy_name_pairs": q_fuzzy_name_pairs,
    "forecast_revenue": q_forecast_revenue,
    "large_orders": q_large_orders,
    "expectations_orders": q_expectations_orders,
    "denylist_scrub": q_denylist_scrub,
    "bilateral_trade": q_bilateral_trade,
    "price_percent_rank": q_price_percent_rank,
    "pack_sequences": q_pack_sequences,
    "kmeans_step": q_kmeans_step,
    "kmeans_train2": q_kmeans_train2,
    "corpus_vocab_stats": q_corpus_vocab_stats,
    "price_deciles": q_price_deciles,
    "priority_waiting": q_priority_waiting,
    "local_supplier_volume": q_local_supplier_volume,
    "market_share": q_market_share,
    "order_count_distribution": q_order_count_distribution,
    "idle_rich_customers": q_idle_rich_customers,
    "chunk_text": q_chunk_text,
    "salient_terms": q_salient_terms,
    "salient_terms_tfidf": q_salient_terms_tfidf,
    "returned_revenue": q_returned_revenue,
    "late_shipments": q_late_shipments,
    "min_cost_supplier": q_min_cost_supplier,
    "product_type_profit": q_product_type_profit,
    "important_parts": q_important_parts,
    "top_supplier": q_top_supplier,
    "supplier_part_counts": q_supplier_part_counts,
    "small_qty_revenue": q_small_qty_revenue,
    "bracket_revenue": q_bracket_revenue,
    "excess_stock_suppliers": q_excess_stock_suppliers,
    "waiting_suppliers": q_waiting_suppliers,
    "balanced_shards": q_balanced_shards,
    "dedup_against_ref": q_dedup_against_ref,
    "dedup_substring_keep": q_dedup_substring_keep,
    "centroid_separation": q_centroid_separation,
    "window_active_users": q_window_active_users,
    "pagerank_trade": q_pagerank_trade,
    "stream_enrich_counts": q_stream_enrich_counts,
    "common_token_ratio": q_common_token_ratio,
    "token_mix_planner": q_token_mix_planner,
    "window_overlap_pairs": q_window_overlap_pairs,
    "embedding_outliers": q_embedding_outliers,
    "gopher_quality": q_gopher_quality,
    "dedup_semantic": q_dedup_semantic,
    "dsir_select": q_dsir_select,
    "similarity_pq_topk": q_similarity_pq_topk,
    "triangle_suppliers": q_triangle_suppliers,
    "stream_outer_range_join": q_stream_outer_range_join,
    "dsir_sample": q_dsir_sample,
    "session_paths": q_session_paths,
    "events_anomalies": q_events_anomalies,
    "pipeline_selection": q_pipeline_selection,
    "pq_train_codebook": q_pq_train_codebook,
    "similarity_ivf_pq_topk": q_similarity_ivf_pq_topk,
    "corpus_split": q_corpus_split,
    "tokenize_corpus": q_tokenize_corpus,
    "dedup_keep_best": q_dedup_keep_best,
    "entity_canonicalize": q_entity_canonicalize,
    "pmi_collocations": q_pmi_collocations,
    "sparse_retrieval": q_sparse_retrieval,
    "bm25_retrieval": q_bm25_retrieval,
    "bm25_indexed": q_bm25_indexed,
    "sparse_indexed": q_sparse_indexed,
    "bpe_train": q_bpe_train,
    "tokenize_bpe": q_tokenize_bpe,
    "multimodal_png_decode": q_multimodal_png_decode,
    "pagerank_converged": q_pagerank_converged,
    "boilerplate_scrub": q_boilerplate_scrub,
    "stream_band_candidates": q_stream_band_candidates,
    "similarity_lsh_recall": q_similarity_lsh_recall,
    "bpe_fertility": q_bpe_fertility,
    "sketch_hll_partkeys": q_sketch_hll_partkeys,
    "sketch_kmv_shingles": q_sketch_kmv_shingles,
    "sketch_theta_leakage": q_sketch_theta_leakage,
    "sketch_cms_tokens": q_sketch_cms_tokens,
    "lm_surprisal_quality": q_lm_surprisal_quality,
    "ccnet_quality_buckets": q_ccnet_quality_buckets,
    "domain_mixture_sample": q_domain_mixture_sample,
    "stream_hll_users": q_stream_hll_users,
    "sketch_join_size": q_sketch_join_size,
    "soft_dedup_weights": q_soft_dedup_weights,
    "bloom_membership": q_bloom_membership,
    "stream_cms_heavy": q_stream_cms_heavy,
    "quantile_sketch_prices": q_quantile_sketch_prices,
    "bloom_shard_dedup": q_bloom_shard_dedup,
    "scd2_user_status": q_scd2_user_status,
    "scd2_apply_events": q_scd2_apply_events,
    "resample_user_daily": q_resample_user_daily,
    "interval_coverage": q_interval_coverage,
    "weighted_sample_customers": q_weighted_sample_customers,
    "incremental_agg_orders": q_incremental_agg_orders,
    "zonemap_prune_scan": q_zonemap_prune_scan,
    "zorder_write_prune": q_zorder_write_prune,
    "bfs_hops_trade": q_bfs_hops_trade,
    "setsim_ppjoin": q_setsim_ppjoin,
    "lpa_communities": q_lpa_communities,
    "link_predict_customers": q_link_predict_customers,
    "basket_lift_parts": q_basket_lift_parts,
    "rfm_segments": q_rfm_segments,
    "zorder_layout": q_zorder_layout,
    "scd2_snapshot": q_scd2_snapshot,
    "embedding_scatter": q_embedding_scatter,
    "drift_price_bands": q_drift_price_bands,
    "vocab_oov_rate": q_vocab_oov_rate,
    "label_noise_scan": q_label_noise_scan,
    "stream_drift_guard": q_stream_drift_guard,
    "hybrid_rank_fusion": q_hybrid_rank_fusion,
    "feature_smooth_balance": q_feature_smooth_balance,
    "similarity_pq_recall": q_similarity_pq_recall,
}

_DSIR_CTE = """
WITH tok AS (
    SELECT doc_id, is_target, lower(u.term) AS term
    FROM (
        SELECT doc_id, (lang = 'en') AS is_target,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ), unnest(words) AS u(term)
),
tb AS (
    SELECT doc_id, is_target,
           CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 64 AS b
    FROM tok
),
per_bucket AS (
    SELECT b, count(*) AS cnt_raw,
           sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS cnt_target
    FROM tb GROUP BY b
),
tot AS (
    SELECT sum(cnt_raw) AS total_raw, sum(cnt_target) AS total_target
    FROM per_bucket
),
wts AS (
    -- Laplace-smoothed probability-ratio weight, exact integer
    -- milli-units (floor division on positive bigints = Spark's div)
    SELECT b,
           ((cnt_target + 1) * 1000 * (total_raw + 64))
               // ((cnt_raw + 1) * (total_target + 64)) AS w_milli
    FROM per_bucket, tot
),
doc_tf AS (SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY doc_id, b),
scored AS (
    -- per-token mean weight (floor div), not the raw sum — keeps the
    -- score length-neutral like DSIR's log-ratio sum
    SELECT doc_id, sum(tf) AS n_tokens,
           sum(tf * w_milli) // sum(tf) AS score_milli
    FROM doc_tf JOIN wts USING (b) GROUP BY doc_id
),
f AS (
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.score_milli, 0) AS BIGINT) AS score_milli
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
)
"""

ORACLES: dict[str, str] = {
    "compare_diff": _ORACLE_DIFF_CTE + "SELECT * FROM diff",
    "compare_diff_summary": _ORACLE_DIFF_CTE
    + "SELECT status, count(*) AS cnt FROM diff GROUP BY status",
    "compare_field_mismatches": _ORACLE_DIFF_CTE
    + """,
long AS (
    SELECT o_orderkey, status, f.field,
           CASE f.field
                WHEN 'o_custkey' THEN a_o_custkey
                WHEN 'o_orderdate' THEN a_o_orderdate
                WHEN 'o_orderpriority' THEN a_o_orderpriority
                WHEN 'o_orderstatus' THEN a_o_orderstatus
                WHEN 'o_totalprice' THEN a_o_totalprice END AS a_value,
           CASE f.field
                WHEN 'o_custkey' THEN b_o_custkey
                WHEN 'o_orderdate' THEN b_o_orderdate
                WHEN 'o_orderpriority' THEN b_o_orderpriority
                WHEN 'o_orderstatus' THEN b_o_orderstatus
                WHEN 'o_totalprice' THEN b_o_totalprice END AS b_value
    FROM diff, (SELECT unnest(['o_custkey','o_orderdate','o_orderpriority',
                               'o_orderstatus','o_totalprice']) AS field) f
    WHERE status <> 'same'
)
SELECT o_orderkey, field, status,
       CASE WHEN status = 'added' THEN '' ELSE a_value END AS a_value,
       CASE WHEN status = 'deleted' THEN '' ELSE b_value END AS b_value
FROM long
WHERE (status = 'changed' AND a_value <> b_value)
   OR (status = 'deleted' AND a_value <> '')
   OR (status = 'added'   AND b_value <> '')
""",
    "compare_added_keys": "WITH "
    + _ORACLE_VARIANT_CTE
    + """
SELECT b_raw.o_orderkey FROM b_raw
LEFT JOIN orders a ON b_raw.o_orderkey = a.o_orderkey
WHERE a.o_orderkey IS NULL
""",
    "compare_deleted_keys": "WITH "
    + _ORACLE_VARIANT_CTE
    + """
SELECT a.o_orderkey FROM orders a
LEFT JOIN b_raw ON a.o_orderkey = b_raw.o_orderkey
WHERE b_raw.o_orderkey IS NULL
""",
    "mask_deterministic": """
SELECT c_custkey,
       sha256(coalesce(CAST(c_name AS VARCHAR), ''))      AS name_hash,
       ''                                                 AS mktsegment_masked,
       coalesce(CAST(c_nationkey AS VARCHAR), '')         AS nationkey_str
FROM customer
""",
    "mask_recovery_roundtrip": """
SELECT c_custkey,
       sha256('42' || chr(31) || coalesce(CAST(c_custkey AS VARCHAR), '')) AS anon_row_id,
       CAST(c_name AS VARCHAR)                             AS orig_name,
       CAST(CAST(c_acctbal AS DECIMAL(38,2)) AS VARCHAR)   AS orig_acctbal
FROM customer
""",
    "mask_invariants": """
SELECT c_custkey,
       CAST(12 AS INT) AS rs_len,
       1 AS rs_ok, 1 AS ri_ok, 1 AS rd_ok, 1 AS fn_ok, 1 AS fe_ok, 1 AS fp_ok
FROM customer
""",
    "pattern_count_matches": """
SELECT doc_id, CAST(len(regexp_extract_all(text, 'data')) AS BIGINT) AS n_matches
FROM documents
""",
    "pattern_replace_all": """
SELECT doc_id, regexp_replace(text, '(?i)data', 'DATA', 'g') AS text_out
FROM documents
""",
    "pattern_replace_first": """
SELECT doc_id, regexp_replace(text, 'the', 'THE') AS text_out
FROM documents
""",
    "pattern_stats_by_lang": """
SELECT lang,
       count(*)                                                 AS n_docs,
       CAST(sum(length(text)) AS BIGINT)                        AS char_count,
       CAST(sum(CAST(len(regexp_extract_all(text, 'join')) AS BIGINT)) AS BIGINT) AS join_matches
FROM documents GROUP BY lang
""",
    "convert_split_lines": """
SELECT doc_id, trim(u.v) AS value
FROM documents, unnest(string_split(text, '.')) AS u(v)
WHERE length(trim(u.v)) > 0
""",
    "convert_key_union": """
SELECT 'customer' AS src,
       coalesce(CAST(c_custkey AS VARCHAR), '') AS id,
       coalesce(c_name, '') AS name,
       coalesce(CAST(CAST(c_acctbal AS DECIMAL(38,2)) AS VARCHAR), '') AS acctbal,
       coalesce(c_mktsegment, '') AS mktsegment
FROM customer
UNION ALL
SELECT 'supplier',
       coalesce(CAST(s_suppkey AS VARCHAR), ''),
       coalesce(s_name, ''),
       coalesce(CAST(CAST(s_acctbal AS DECIMAL(38,2)) AS VARCHAR), ''),
       ''
FROM supplier
""",
    "convert_xml_escape": """
SELECT c_custkey AS id,
       '<' || c_name || ' & ' || c_mktsegment || '>' AS raw,
       replace(replace(replace('<' || c_name || ' & ' || c_mktsegment || '>',
           '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS escaped
FROM customer
""",
    "topk_two_key": """
SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
ORDER BY event_type DESC, ts DESC, event_id ASC
LIMIT 50
""",
    "date_remaining_days": """
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS end_date,
       CAST(greatest(date_diff('day', DATE '1995-06-01',
            CAST(o_orderdate AS DATE) + INTERVAL 30 DAY) + 1, 0) AS INT) AS remaining_days
FROM orders
""",
    "dedup_exact": """
SELECT d.* FROM documents d
JOIN (
    SELECT min(doc_id) AS doc_id
    FROM documents GROUP BY sha256(coalesce(text, ''))
) keep USING (doc_id)
""",
    "dedup_exact_groups": """
SELECT sha256(coalesce(text, '')) AS digest,
       count(*)     AS n_docs,
       min(doc_id)  AS keep_id,
       max(doc_id)  AS max_id
FROM documents
GROUP BY 1 HAVING count(*) > 1
""",
    "dedup_ngram_jaccard": _WORDS_SQL
    + """
, ss AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
    FROM words_cte WHERE len(words) >= 3
),
sizes AS (SELECT doc_id, len(sh) AS sz FROM ss),
post AS (SELECT doc_id, unnest(sh) AS s FROM ss),
common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS common
    FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       CAST(c.common AS DOUBLE)
         / CAST(sa.sz + sb.sz - c.common AS DOUBLE) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(c.common AS DOUBLE)
        / CAST(sa.sz + sb.sz - c.common AS DOUBLE) >= 0.5
""",
    "text_quality_features": _WORDS_SQL
    + """
SELECT doc_id,
       CAST(length(text) AS BIGINT)  AS n_chars,
       CAST(len(words) AS BIGINT)    AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\r\\n]')) AS BIGINT)
                                     AS n_bpe_pieces,
       CAST(length(text) AS DOUBLE) / CAST(nullif(len(words), 0) AS DOUBLE)
                                     AS mean_token_len,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\r\\n]')) AS DOUBLE)
         / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       CAST(len(list_filter(words, w -> list_contains(
            ['the','and','of','to','is','in','that','it'], lower(w)))) AS DOUBLE)
         / CAST(nullif(len(words), 0) AS DOUBLE) AS stopword_ratio,
       CAST(len(list_distinct(words)) AS DOUBLE)
         / CAST(nullif(len(words), 0) AS DOUBLE) AS type_token_ratio
FROM words_cte
""",
    "corpus_top_ngrams": _WORDS_SQL
    + """
SELECT bg AS ngram, CAST(count(*) AS BIGINT) AS cnt
FROM (
    SELECT unnest(list_transform(range(1, len(words)),
                  i -> words[i] || ' ' || words[i+1])) AS bg
    FROM words_cte WHERE len(words) >= 2
)
GROUP BY bg
ORDER BY cnt DESC, ngram ASC
LIMIT 50
""",
    "text_winnow": _WORDS_SQL
    + _WINNOW_CTES
    + """
SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM wins
""",
    "pipeline_pretraining": """
WITH w AS (
    SELECT doc_id, lang, text,
           CASE WHEN length(trim(text)) = 0 THEN []
                ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END AS words
    FROM documents
),
m AS (
    SELECT doc_id, lang, text,
           CAST(len(words) AS DOUBLE) AS n_tok,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\r\\n]')) AS DOUBLE) AS punct,
           CASE WHEN len(words) > 0
                THEN CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS uniq_ratio
    FROM w
),
g AS (
    SELECT doc_id, lang, text,
           (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.3 END)
           * (CASE WHEN punct / greatest(n_chars, 1.0) < 0.2 THEN 1.0 ELSE 0.5 END)
           * least(uniq_ratio * 2.0, 1.0) AS score
    FROM m
),
gated AS (
    SELECT doc_id, lang, round(score, 6) AS score_r,
           sha256(coalesce(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           'https?://[A-Za-z0-9._~:/?#@!$&''()*+,;=%-]+', '<URL>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}', '<PHONE>', 'g'),
               '')) AS content_sha
    FROM g WHERE score >= 0.5
),
keep AS (
    SELECT min(doc_id) AS doc_id FROM gated GROUP BY content_sha
)
SELECT g.doc_id, g.lang, g.score_r, g.content_sha
FROM gated g JOIN keep USING (doc_id)
WHERE CAST(('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
""",
    "contamination_check": _WORDS_SQL
    + _WINNOW_CTES
    + """
, dfp AS (SELECT DISTINCT doc_id, fp FROM wins),
bench AS (SELECT DISTINCT fp FROM dfp WHERE doc_id % 97 = 0)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS shared_fps
FROM dfp d JOIN bench USING (fp)
WHERE d.doc_id % 97 <> 0
GROUP BY d.doc_id
""",
    "text_repetition": _WORDS_SQL
    + """
, base AS (
    SELECT doc_id, len(words) AS n_words,
           len(list_distinct(words)) AS n_distinct, words
    FROM words_cte
),
bg AS (
    SELECT doc_id, unnest(list_transform(range(1, len(words)),
                          i -> words[i] || ' ' || words[i+1])) AS bg
    FROM base WHERE n_words >= 2
),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
top AS (SELECT doc_id, max(c) AS top_c FROM bgc GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_words AS BIGINT) AS n_words,
       CASE WHEN b.n_words > 0
            THEN CAST(b.n_words - b.n_distinct AS DOUBLE) / CAST(b.n_words AS DOUBLE)
            END AS dup_word_frac,
       CAST(t.top_c AS BIGINT) AS top_bigram_count,
       CASE WHEN b.n_words >= 2
            THEN CAST(t.top_c AS DOUBLE) / CAST(b.n_words - 1 AS DOUBLE)
            END AS top_bigram_frac
FROM base b LEFT JOIN top t USING (doc_id)
""",
    "text_lang_id": _WORDS_SQL
    + """
, scores AS (
    SELECT doc_id,
        len(list_filter(words, w -> list_contains(['der','die','und','das','ist','nicht','ein','zu'], lower(w)))) AS s_de,
        len(list_filter(words, w -> list_contains(['the','and','of','to','is','in','that','it'], lower(w))))      AS s_en,
        len(list_filter(words, w -> list_contains(['el','la','de','que','y','los','en','un'], lower(w))))         AS s_es,
        len(list_filter(words, w -> list_contains(['le','la','et','les','des','est','un','une'], lower(w))))      AS s_fr,
        len(list_filter(words, w -> list_contains(['的','是','了','在','我','有','和','不'], lower(w))))            AS s_zh
    FROM words_cte
)
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS pred_lang
FROM scores
""",
    "text_fingerprint": _WORDS_SQL
    + """
, sh_cte AS (
    SELECT doc_id, text,
           CASE WHEN len(words) < 3 THEN []
                ELSE list_transform(range(1, len(words) - 1),
                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) END AS sh
    FROM words_cte
)
SELECT doc_id,
       CASE WHEN len(sh) = 0 THEN sha256(coalesce(text, ''))
            ELSE list_aggregate(list_transform(sh, s -> sha256(s)), 'min') END AS fingerprint
FROM sh_cte
""",
    "similarity_topk": """
WITH q AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * 131072.0 + 0.5)) AS e
    FROM embeddings
),
probes AS (
    SELECT vec_id AS probe_id, e AS pv FROM q WHERE vec_id % 25 = 0
),
scored AS (
    SELECT p.probe_id, c.vec_id AS neighbor_id,
           list_dot_product(c.e, p.pv)
             / sqrt(list_dot_product(c.e, c.e) * list_dot_product(p.pv, p.pv))
             AS cosine
    FROM q c CROSS JOIN probes p
    WHERE c.vec_id <> p.probe_id
),
ranked AS (
    SELECT probe_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT probe_id, neighbor_id, round(cosine, 6) AS cosine_r, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""",
    "pattern_presets": """
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(text, '([.!?])[ \\t]+', '\\1' || chr(10), 'g'),
               '[ ]{2,}', ' ', 'g'),
           '[ \\t]*,[ \\t]*', ', ', 'g') AS transformed
FROM documents
""",
    "text_quality_score": _WORDS_SQL
    + """
, m AS (
    SELECT doc_id,
           CAST(len(words) AS DOUBLE) AS n_tok,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\r\\n]')) AS DOUBLE) AS punct,
           CASE WHEN len(words) > 0
                THEN CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE)
                ELSE 0.0 END AS uniq_ratio
    FROM words_cte
)
SELECT doc_id,
       round(
         (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.3 END)
         * (CASE WHEN punct / greatest(n_chars, 1.0) < 0.2 THEN 1.0 ELSE 0.5 END)
         * least(uniq_ratio * 2.0, 1.0), 6) AS score_r
FROM m
""",
    "priority_revenue": f"""
SELECT o_orderpriority,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    "pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
       {_sql_money(f"sum({_sql_cents('l_quantity')})")}      AS sum_qty,
       {_sql_money(f"sum({_sql_cents('l_extendedprice')})")} AS sum_base_price,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "top_customers": f"""
SELECT c_custkey, c_name, c_mktsegment,
       {_sql_money(f"sum({_sql_cents('o_totalprice')})")} AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 25
""",
    "nation_volume": f"""
SELECT r_name, n_name,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS volume,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
    "sessionize_events": """
WITH lagged AS (
    SELECT event_id, user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
)
SELECT event_id, user_id,
       CAST(sum(CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) >= 300
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_no
FROM lagged
""",
    "retention_cohorts": """
WITH cohort AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cw
    FROM events GROUP BY user_id
),
active AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
)
SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', c.cw, a.w) // 7 AS INT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active a JOIN cohort c USING (user_id)
GROUP BY 1, 2
""",
    "funnel_conversion": """
WITH t1 AS (
    SELECT user_id, min(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
    SELECT e.user_id, min(e.ts) AS t_click
    FROM events e JOIN t1 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > t1.t_view
    GROUP BY e.user_id
),
t3 AS (
    SELECT e.user_id, min(e.ts) AS t_purchase
    FROM events e JOIN t2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
    GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_view_click,
       CAST((SELECT count(*) FROM t3) AS BIGINT) AS n_view_click_purchase
""",
    "asof_join": """
WITH p AS (
    SELECT user_id, ts, event_id AS purchase_id FROM events
    WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, ts, value AS click_value FROM events
    WHERE event_type = 'click'
)
SELECT p.user_id, p.purchase_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(floor(c.click_value * 100.0 + 0.5) AS BIGINT) / 100.0 AS click_value_r,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts_s
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    "asof_join_forward": """
WITH c AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'
),
p AS (
    SELECT user_id, ts, event_id AS purchase_id FROM events
    WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       p.purchase_id AS next_purchase_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.ts <= p.ts
""",
    "range_join_attribution": """
WITH c AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'
),
p AS (
    SELECT user_id, ts, event_id AS purchase_id FROM events
    WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id AS from_click_id, p.purchase_id AS to_purchase_id
FROM c JOIN p
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    "stream_range_join": """
WITH c AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'
),
p AS (
    SELECT user_id, ts, event_id AS purchase_id FROM events
    WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id AS from_click_id, p.purchase_id AS to_purchase_id
FROM c JOIN p
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    "stream_tumbling_counts": f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS w_end,
       event_type,
       count(*) AS n_events,
       {_sql_money(f"sum({_sql_cents('value')})")} AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
    "stream_sliding_counts": f"""
WITH x AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts)
             - (t.i * INTERVAL '30 minutes') AS w_start,
           event_type,
           {_sql_cents('value')} AS v_cents
    FROM events, unnest([0, 1]) AS t(i)
)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(w_start + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS w_end,
       event_type,
       count(*) AS n_events,
       {_sql_money('sum(v_cents)')} AS sum_value
FROM x GROUP BY 1, 2, 3
""",
    "stream_session_agg": f"""
WITH m AS (
    SELECT user_id, ts, {_sql_cents('value')} AS v_cents,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
g AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM m
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
       strftime(max(ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS s_end,
       user_id,
       count(*) AS n_events,
       {_sql_money('sum(v_cents)')} AS sum_value
FROM g GROUP BY user_id, sid
""",
    "stream_running_totals": f"""
SELECT user_id,
       count(*) AS n_events,
       {_sql_money(f"sum({_sql_cents('value')})")} AS total_value_r
FROM events GROUP BY user_id
""",
    # VEC_QUANT (131072) integer grid, same as the numpy kernel — exact
    # integer dot/norm sums make the parity order-independent
    "dedup_embedding_pairs": """
WITH v AS (
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> floor(x * 131072.0 + 0.5)) AS e
    FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e)
         / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 6) AS cosine_r
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
        / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) >= 0.9
""",
    "multimodal_image_features": """
WITH m AS (
    SELECT doc_id AS media_id, sha256(coalesce(text, '')) AS h
    FROM documents WHERE doc_id % 3 = 0
)
SELECT media_id,
       CAST(64 + media_id % 8 AS INT) AS width,
       CAST(48 + media_id % 6 AS INT) AS height,
       round(list_sum(list_transform(range(0, 8), i ->
           (strpos('0123456789abcdef', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(h, CAST(2*i+2 AS INT), 1)) - 1)
       )) / 8.0 / 255.0, 6) AS mean_luma_r
FROM m
""",
    "multimodal_audio_features": """
WITH m AS (
    SELECT doc_id AS media_id, sha256(coalesce(text, '')) AS h
    FROM documents WHERE doc_id % 3 = 1
)
SELECT media_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST((1000 * (1 + media_id % 7)) * 16 AS BIGINT) AS n_samples,
       round(list_sum(list_transform(range(0, 8), i ->
           (strpos('0123456789abcdef', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(h, CAST(2*i+2 AS INT), 1)) - 1)
       )) / 8.0 / 255.0, 6) AS mean_amp_r
FROM m
""",
    "multimodal_frame_sample": """
SELECT doc_id AS media_id, CAST(u.i AS INT) AS frame_no
FROM documents, unnest(range(0, CAST(1 + doc_id % 7 AS BIGINT))) AS u(i)
WHERE doc_id % 3 = 2
""",
    "multimodal_resize": """
SELECT doc_id AS media_id, CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
       CAST(16 AS INT) AS payload_len
FROM documents WHERE doc_id % 3 = 0
""",
    "dedup_simhash": _simhash_pairs_sql(),
    "similarity_lsh_topk": _lsh_topk_sql(),
    "embedding_centroids": """
WITH q AS (
    SELECT label,
           generate_subscripts(embedding, 1) AS pos,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS vq
    FROM embeddings
),
agg AS (
    SELECT label, pos,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(vq) AS BIGINT)  AS sq
    FROM q GROUP BY label, pos
)
SELECT label, pos, n_vecs,
       CAST(sq AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000.0 AS mean_val
FROM agg
""",
    "similarity_ivf_topk": _ivf_topk_sql(),
    "dedup_minhash_lsh": _minhash_verified_pairs_sql()
    + "SELECT id_a, id_b, round(jaccard, 6) AS jaccard_r FROM verified",
    "dedup_near_keep": _minhash_verified_pairs_sql()
    + """
SELECT d.doc_id FROM documents d
LEFT JOIN (SELECT DISTINCT id_b FROM verified) v ON d.doc_id = v.id_b
WHERE v.id_b IS NULL
""",
    "dedup_components": _cc_sql()
    + """
SELECT CAST(id AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS component
FROM cc
""",
    "dedup_cc_keep": _cc_sql()
    + """
SELECT d.doc_id FROM documents d
LEFT JOIN (SELECT id FROM cc WHERE id <> component) l ON d.doc_id = l.id
WHERE l.id IS NULL
""",
    "text_pii_scrub": """
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(text,
                   'https?://[A-Za-z0-9._~:/?#@!$&''()*+,;=%-]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}', '<PHONE>', 'g') AS scrubbed
FROM documents
""",
    "sample_stratified": """
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 20
""",
    "length_band_filter": """
WITH bands AS (
    SELECT lang,
           quantile_cont(n_chars, 0.05) AS lo,
           quantile_cont(n_chars, 0.95) AS hi
    FROM documents GROUP BY lang
)
SELECT doc_id, d.lang, n_chars
FROM documents d JOIN bands b ON d.lang = b.lang
WHERE n_chars BETWEEN lo AND hi
""",
    "events_json_props": """
SELECT event_type,
       CAST(sum(TRY_CAST(props->>'k' AS INT)) AS BIGINT)   AS sum_k,
       CAST(count(TRY_CAST(props->>'k' AS INT)) AS BIGINT) AS n_with_k,
       CAST(max(TRY_CAST(props->>'k' AS INT)) AS INT)      AS max_k
FROM events GROUP BY event_type
""",
    "window_running_revenue": f"""
SELECT o_orderkey, o_custkey,
       {_sql_money(f"sum({_sql_cents('o_totalprice')}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)")} AS running_rev,
       CAST(row_number()
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
FROM orders
""",
    "rolling_revenue_30d": f"""
SELECT o_orderkey, o_custkey,
       {_sql_money(f"sum({_sql_cents('o_totalprice')}) OVER (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT) RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)")} AS rev_30d
FROM orders
""",
    "rollup_volume": f"""
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       {_sql_money(f"sum({_sql_cents('l_extendedprice')})")} AS ext_price,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""",
    "distinct_suppliers": """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_items
FROM lineitem GROUP BY l_returnflag
""",
    "pivot_event_counts": """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY user_id
""",
    "stream_dedup_first": """
SELECT user_id, event_type,
       min(event_id)            AS first_event_id,
       arg_min(value, event_id) AS first_value,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id, event_type
""",
    "stream_cdc_upsert": f"""
WITH base AS (
    SELECT event_id, user_id, event_type, -1.0 AS value, ts
    FROM events WHERE event_id % 17 = 0
    UNION ALL
    SELECT CAST(event_id + 1000000000 AS BIGINT), user_id, event_type, value, ts
    FROM events WHERE event_id % 23 = 0
),
merged AS (
    SELECT event_id, user_id, event_type, value, ts FROM events
    UNION ALL
    SELECT b.* FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.event_id = b.event_id)
)
SELECT event_id, user_id, event_type,
       {_sql_cents('value')} AS value_cents,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM merged
""",
    "skew_salted_totals": f"""
SELECT event_type,
       {_sql_money(f"sum({_sql_cents('value')})")} AS sum_value,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
""",
    "dedup_embedding_lsh": _embedding_lsh_pairs_sql(),
    "topk_per_group": """
WITH r AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey)
                AS INT) AS rnk
    FROM orders
)
SELECT * FROM r WHERE rnk <= 2
""",
    "group_quantiles": """
WITH r AS (
    SELECT o_orderpriority, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS rn,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
),
q AS (
    SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                   CAST(0.99 AS DOUBLE)]) AS q
)
SELECT o_orderpriority, q, o_totalprice AS val
FROM r, q
WHERE rn = CAST(ceil(q * n) AS BIGINT)
""",
    "histogram_doc_lengths": """
SELECT n_chars // 500 AS bucket,
       (n_chars // 500) * 500 AS bucket_start,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(n_chars) AS lo,
       max(n_chars) AS hi
FROM documents
GROUP BY 1, 2
""",
    "profile_orders": """
SELECT 'o_orderkey' AS "column",
       CAST(count(*) - count(o_orderkey) AS BIGINT)   AS n_nulls,
       CAST(count(DISTINCT o_orderkey) AS BIGINT)     AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR)               AS min_s,
       CAST(max(o_orderkey) AS VARCHAR)               AS max_s
FROM orders
UNION ALL
SELECT 'o_custkey',
       CAST(count(*) - count(o_custkey) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS VARCHAR),
       CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(count(*) - count(o_orderstatus) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       min(o_orderstatus),
       max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(count(*) - count(o_totalprice) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       CAST(CAST(floor(min(o_totalprice) * 100.0 + 0.5) AS BIGINT) AS VARCHAR),
       CAST(CAST(floor(max(o_totalprice) * 100.0 + 0.5) AS BIGINT) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate',
       CAST(count(*) - count(o_orderdate) AS BIGINT),
       CAST(count(DISTINCT o_orderdate) AS BIGINT),
       strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(count(*) - count(o_orderpriority) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       min(o_orderpriority),
       max(o_orderpriority)
FROM orders
""",
    # identical word->3-word-chunk manufacturing, then first-occurrence
    # paragraph keep ordered by (doc_id, idx) — partitioning by the raw
    # paragraph text is equivalent to Spark's sha2-digest key
    "paragraph_dedup": f"""
WITH w AS (
    SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM documents
),
p AS (
    SELECT doc_id,
           array_to_string(
               list_transform(range(1, greatest(len(ws), 1) + 1, {_PARA_WORDS}),
                              s -> array_to_string(ws[s : s + {_PARA_WORDS - 1}], ' ')),
               chr(10) || chr(10)) AS ptext
    FROM w
),
paras AS (
    SELECT doc_id, u.para, u.idx
    FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(ptext, chr(10) || chr(10)),
                                     (x, i) -> struct_pack(para := x,
                                                           idx := CAST(i - 1 AS INT))))
                   AS u
        FROM p
    )
    WHERE length(trim(u.para)) > 0
),
kept AS (
    SELECT doc_id, idx, para,
           row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
    FROM paras
)
SELECT doc_id,
       string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text_dedup,
       CAST(count(*) AS BIGINT) AS n_paras_kept
FROM kept WHERE rn = 1
GROUP BY doc_id
""",
    "local_supplier_volume": f"""
SELECT n_name, {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""",
    "market_share": f"""
WITH agg AS (
    SELECT CAST(year(l_shipdate) AS INT) AS yr, n_name,
           sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')}) AS nation_cents
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type = 'PROMO'
    GROUP BY year(l_shipdate), n_name
)
SELECT yr, n_name,
       {_sql_money('nation_cents')} AS nation_rev,
       CAST(nation_cents AS DOUBLE)
           / CAST(sum(nation_cents) OVER (PARTITION BY yr) AS DOUBLE) AS share
FROM agg
""",
    "order_count_distribution": """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    "idle_rich_customers": f"""
WITH avg_bal AS (
    SELECT CAST(sum({_sql_cents('c_acctbal')}) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_cents
    FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS numcust,
       {_sql_money(f"sum({_sql_cents('c_acctbal')})")} AS total_bal
FROM customer, avg_bal
WHERE CAST({_sql_cents('c_acctbal')} AS DOUBLE) > avg_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
""",
    "price_deciles": """
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(10) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS INT) AS decile
FROM orders
""",
    "priority_waiting": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_waiting
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
)
GROUP BY o_orderpriority
""",
    "kmeans_train2": """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
vq AS (
    SELECT vec_id, list_transform(e, x -> floor(x * 131072.0 + 0.5)) AS q
    FROM v
),
cent AS (
    SELECT vec_id AS cid, q AS cq FROM vq
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id
    LIMIT 8
),
assign1 AS (
    SELECT vq.vec_id, cent.cid,
           row_number() OVER (PARTITION BY vq.vec_id
               ORDER BY list_dot_product(vq.q, cent.cq)
                        / (CASE WHEN sqrt(list_dot_product(vq.q, vq.q)) > 0
                                THEN sqrt(list_dot_product(vq.q, vq.q))
                                ELSE 1.0 END
                           * sqrt(list_dot_product(cent.cq, cent.cq)))
                        DESC, cent.cid) AS rn
    FROM vq CROSS JOIN cent
),
cl1 AS (SELECT vec_id, cid AS cluster FROM assign1 WHERE rn = 1),
expl1 AS (
    SELECT cl1.cluster, CAST(p.pos AS INT) AS pos,
           CAST(floor(v.e[CAST(p.pos AS BIGINT)] * 1000000.0 + 0.5) AS BIGINT) AS vmq
    FROM cl1 JOIN v USING (vec_id), unnest(range(1, len(v.e) + 1)) AS p(pos)
),
cent1 AS (
    SELECT cluster, pos, count(*) AS n, sum(vmq) AS sq
    FROM expl1 GROUP BY cluster, pos
),
-- iteration-2 centroids: canonical mean double -> VEC_QUANT grid,
-- the exact re-quantization the Spark driver loop performs
clist AS (
    SELECT cluster,
           list(CAST(floor((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
                           * 131072.0 + 0.5) AS BIGINT) ORDER BY pos) AS cq
    FROM cent1 GROUP BY cluster
),
assign2 AS (
    SELECT vq.vec_id, clist.cluster,
           row_number() OVER (PARTITION BY vq.vec_id
               ORDER BY list_dot_product(vq.q, clist.cq)
                        / (CASE WHEN sqrt(list_dot_product(vq.q, vq.q)) > 0
                                THEN sqrt(list_dot_product(vq.q, vq.q))
                                ELSE 1.0 END
                           * sqrt(list_dot_product(clist.cq, clist.cq)))
                        DESC, clist.cluster) AS rn
    FROM vq CROSS JOIN clist
),
cl2 AS (SELECT vec_id, cluster FROM assign2 WHERE rn = 1),
expl2 AS (
    SELECT cl2.cluster, CAST(p.pos AS INT) AS pos,
           CAST(floor(v.e[CAST(p.pos AS BIGINT)] * 1000000.0 + 0.5) AS BIGINT) AS vmq
    FROM cl2 JOIN v USING (vec_id), unnest(range(1, len(v.e) + 1)) AS p(pos)
)
SELECT cluster, pos,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(vmq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6)
           AS mean_val_r
FROM expl2 GROUP BY cluster, pos
""",
    "kmeans_step": """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
vq AS (
    -- VEC_QUANT integer grid (2^17): dots and squared norms below are
    -- exact integers in any engine, so the cosine is one
    -- correctly-rounded division — the argmax cannot diverge from the
    -- Spark kernel's (which quantizes identically).
    SELECT vec_id, list_transform(e, x -> floor(x * 131072.0 + 0.5)) AS q
    FROM v
),
cent AS (
    SELECT vec_id AS cid, q AS cq FROM vq
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id
    LIMIT 8
),
assign AS (
    SELECT vq.vec_id, cent.cid,
           row_number() OVER (PARTITION BY vq.vec_id
               ORDER BY list_dot_product(vq.q, cent.cq)
                        / (CASE WHEN sqrt(list_dot_product(vq.q, vq.q)) > 0
                                THEN sqrt(list_dot_product(vq.q, vq.q))
                                ELSE 1.0 END
                           * sqrt(list_dot_product(cent.cq, cent.cq)))
                        DESC, cent.cid) AS rn
    FROM vq CROSS JOIN cent
),
cl AS (SELECT vec_id, cid AS cluster FROM assign WHERE rn = 1),
expl AS (
    SELECT cl.cluster, CAST(p.pos AS INT) AS pos,
           CAST(floor(v.e[CAST(p.pos AS BIGINT)] * 1000000.0 + 0.5) AS BIGINT) AS vq
    FROM cl JOIN v USING (vec_id), unnest(range(1, len(v.e) + 1)) AS p(pos)
)
SELECT cluster, pos,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(vq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6)
           AS mean_val_r
FROM expl GROUP BY cluster, pos
""",
    "corpus_vocab_stats": """
WITH toks AS (
    SELECT doc_id, lower(u.term) AS term
    FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ), unnest(words) AS u(term)
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
per_term AS (
    SELECT term, count(*) AS df, sum(tf) AS occ FROM tf GROUP BY term
)
SELECT CAST(sum(occ) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_terms,
       CAST(max(df) AS BIGINT) AS max_df
FROM per_term
""",
    "pack_sequences": """
WITH t AS (
    SELECT doc_id % 8 AS shard, doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+')) END
               AS n_tokens
    FROM documents
),
r AS (
    SELECT shard, doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_off
    FROM t
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(floor(tok_off / 512.0) AS BIGINT) AS bin_id,
       doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_off AS BIGINT) AS tok_offset
FROM r
""",
    "chunk_text": """
WITH t AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []
                ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END AS words
    FROM documents
),
c AS (
    SELECT doc_id,
           CAST((s.start - 1) / 24 AS BIGINT) AS chunk_id,
           list_slice(words, CAST(s.start AS BIGINT),
                      CAST(s.start + 31 AS BIGINT)) AS piece
    FROM t, unnest(range(1, greatest(len(words) - 8, 1) + 1, 24)) AS s(start)
)
SELECT doc_id, chunk_id,
       sha256(array_to_string(piece, ' ')) AS chunk_digest,
       CAST(len(piece) AS BIGINT) AS n_chunk_tokens
FROM c
""",
    "salient_terms": """
WITH toks AS (
    SELECT doc_id, lower(u.term) AS term
    FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ), unnest(words) AS u(term)
    WHERE length(u.term) >= 3
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
dfq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS INT) AS rank
FROM (
    SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
           row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rank
    FROM tf JOIN dfq USING (term)
)
WHERE rank <= 3
""",
    "salient_terms_tfidf": """
WITH toks AS (
    SELECT doc_id, lower(u.term) AS term
    FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ), unnest(words) AS u(term)
    WHERE length(u.term) >= 3
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
dfq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (
    SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS INT) AS rank
FROM (
    SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
           row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(n.nd / dfq.df) DESC,
                        tf.tf DESC, tf.term ASC) AS rank
    FROM tf JOIN dfq USING (term), n
)
WHERE rank <= 3
""",
    "returned_revenue": f"""
WITH lr AS (
    SELECT l_orderkey,
           sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')}) AS rev_cents
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_orderkey
),
pc AS (
    SELECT o_custkey, {_sql_money('sum(rev_cents)')} AS revenue
    FROM orders JOIN lr ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY o_custkey
)
SELECT c_custkey, c_name, n_name, c_acctbal, revenue
FROM pc
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    "late_shipments": """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
""",
    "promo_revenue": f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       {_sql_money(f"sum(CASE WHEN p_type = 'PROMO' THEN {_sql_cents('l_extendedprice * (1.0 - l_discount)')} ELSE 0 END)")} AS promo_rev,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS total_rev,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
    "cube_volume": f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       {_sql_money(f"sum({_sql_cents('l_extendedprice')})")} AS sum_price,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "semi_anti_customers": """
WITH o95 AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate <= DATE '1995-12-31'
)
SELECT c_mktsegment, 'active_1995' AS activity,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM o95)
GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, 'inactive_1995' AS activity,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM o95)
GROUP BY c_mktsegment
""",
    "events_interarrival": """
WITH g AS (
    SELECT user_id,
           date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_s
    FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       CAST(sum(gap_s) AS BIGINT) AS total_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY user_id
""",
    "cdc_upsert": (
        "WITH "
        + _ORACLE_VARIANT_CTE.strip()
        + """
, merged AS (
    SELECT * FROM b_raw
    UNION ALL
    SELECT o.* FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM b_raw b WHERE b.o_orderkey = o.o_orderkey)
)
SELECT o_orderkey,
       o_custkey,
       o_orderstatus,
       CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_orderpriority
FROM merged
"""
    ),
    "bilateral_trade": f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS volume,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name AND n1.n_name < n2.n_name
GROUP BY 1, 2, 3
""",
    "price_percent_rank": """
SELECT o_orderkey, o_orderpriority,
       percent_rank() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS pr,
       cume_dist() OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS cd
FROM orders
""",
    "denylist_scrub": """
WITH toks AS (
    SELECT unnest(string_split_regex(coalesce(text, ''), '\\s+')) AS tok
    FROM documents
),
top8 AS (
    SELECT tok AS term FROM toks WHERE length(tok) > 0
    GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 8
),
deny AS (SELECT list(term) AS l FROM top8)
SELECT d.doc_id,
       array_to_string(
           list_transform(string_split_regex(coalesce(d.text, ''), '\\s+'),
                          x -> CASE WHEN list_contains(deny.l, x)
                                    THEN '[REDACTED]' ELSE x END),
           ' ') AS text_scrubbed,
       CAST(len(list_filter(string_split_regex(coalesce(d.text, ''), '\\s+'),
                            x -> list_contains(deny.l, x))) AS BIGINT) AS n_redacted
FROM documents d, deny
""",
    "forecast_revenue": f"""
SELECT {_sql_money(f"sum({_sql_cents('l_extendedprice * l_discount')})")} AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 25
""",
    "large_orders": f"""
WITH big AS (
    SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING total_qty > 250
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {_sql_money(_sql_cents('o_totalprice'))} AS totalprice,
       total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
    "expectations_orders": """
WITH agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS f3,
           CAST(sum(CASE WHEN NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS f4
    FROM orders
)
SELECT u.rule, agg.n AS n_rows, u.n_fail,
       CAST(floor(CAST(u.n_fail AS DOUBLE) / CAST(agg.n AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS fail_millis
FROM agg, (
    SELECT 'totalprice_positive' AS rule, f1 AS n_fail FROM agg
    UNION ALL SELECT 'orderdate_not_null', f2 FROM agg
    UNION ALL SELECT 'status_in_domain', f3 FROM agg
    UNION ALL SELECT 'priority_prefix', f4 FROM agg
) u
""",
    "grouping_sets_volume": """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    "fuzzy_name_pairs": """
WITH c AS (
    SELECT c_custkey, c_name, c_custkey // 100 AS blk
    FROM customer WHERE c_custkey <= 300
)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
""",
    "shipping_priority": f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "skew_salted_join": """
WITH dim AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS user_n_events
    FROM events GROUP BY user_id
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(user_n_events) AS BIGINT) AS sum_dim
FROM events JOIN dim USING (user_id)
GROUP BY event_type
""",
    # capped variant: postings drop shingles with df > 2 BEFORE pairing;
    # sizes stay exact, so jaccard = common_nonhot / (sz_a+sz_b-common)
    "dedup_ngram_capped": _WORDS_SQL
    + """
, ss AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
    FROM words_cte WHERE len(words) >= 3
),
post AS (SELECT doc_id, unnest(sh) AS s FROM ss),
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM ss),
hot AS (SELECT s FROM post GROUP BY s HAVING count(*) > 2),
post2 AS (SELECT * FROM post WHERE s NOT IN (SELECT s FROM hot)),
common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM post2 a JOIN post2 b USING (s)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON common.id_a = sa.doc_id
JOIN sizes sb ON common.id_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.3
""",
    "bigram_familiarity": _WORDS_SQL
    + """
, bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words)),
                                 i -> words[i] || ' ' || words[i+1])) AS bg
    FROM words_cte WHERE len(words) >= 2
),
cnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bg)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(c) AS BIGINT) AS fam_sum
FROM bg b JOIN cnt USING (bg)
GROUP BY b.doc_id
""",
    "text_normalize": """
SELECT doc_id,
       sha256(strip_accents(nfc_normalize(text))) AS norm_digest,
       CAST(length(strip_accents(nfc_normalize(text))) AS BIGINT) AS n_chars_norm
FROM documents
""",
    "minhash_est_error": _minhash_verified_pairs_sql()
    + """
SELECT c.id_a, c.id_b,
       CAST(list_sum(list_transform(range(1, 65),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT)
           AS n_sig_match,
       CAST(len(list_intersect(a.h, b.h)) AS BIGINT) AS n_inter,
       CAST(len(list_distinct(list_concat(a.h, b.h))) AS BIGINT) AS n_union,
       CAST(floor(abs(
           CAST(list_sum(list_transform(range(1, 65),
               i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0
         - CAST(len(list_intersect(a.h, b.h)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.h, b.h))) AS DOUBLE)
       ) * 1000.0 + 0.5) AS BIGINT) AS err_millis
FROM cand c
JOIN sigs sa ON c.id_a = sa.doc_id
JOIN sigs sb ON c.id_b = sb.doc_id
JOIN hs_cte a ON c.id_a = a.doc_id
JOIN hs_cte b ON c.id_b = b.doc_id
""",
    "min_cost_supplier": f"""
WITH offers AS (
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
           min(CAST(floor(l_extendedprice * 100.0 / l_quantity + 0.5) AS BIGINT))
               AS offer_cents
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'STANDARD' AND p_size <= 10 AND r_name = 'ASIA'
    GROUP BY 1, 2, 3, 4, 5, 6
),
best AS (
    SELECT *, min(offer_cents) OVER (PARTITION BY p_partkey) AS best_cents
    FROM offers
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       {_sql_money("offer_cents")} AS best_unit_price
FROM best
WHERE offer_cents = best_cents
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    "product_type_profit": f"""
SELECT n_name AS nation,
       CAST(year(l_shipdate) AS INT) AS o_year,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')} - CAST(floor(p_retailprice * l_quantity * 50.0 + 0.5) AS BIGINT))")} AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
    "important_parts": f"""
WITH per_part AS (
    SELECT l_partkey, sum({_sql_cents('l_extendedprice')}) AS value_cents
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY 1
),
total AS (SELECT sum(value_cents) AS total_cents FROM per_part)
SELECT l_partkey AS p_partkey, {_sql_money("value_cents")} AS part_value
FROM per_part, total
WHERE value_cents * 1000 > total_cents
ORDER BY part_value DESC, p_partkey
""",
    "top_supplier": f"""
WITH per_supp AS (
    SELECT l_suppkey,
           sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')}) AS rev_cents
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
    GROUP BY 1
)
SELECT s_suppkey, s_name, {_sql_money("rev_cents")} AS total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_cents = (SELECT max(rev_cents) FROM per_supp)
ORDER BY s_suppkey
""",
    "supplier_part_counts": """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 14, 23, 25, 30)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    "small_qty_revenue": f"""
WITH joined AS (
    SELECT p_brand, p_partkey, l_quantity, l_extendedprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#3', 'Brand#5')
),
with_avg AS (
    SELECT *,
           CAST(sum(l_quantity) OVER (PARTITION BY p_partkey) AS DOUBLE)
             / CAST(count(*) OVER (PARTITION BY p_partkey) AS DOUBLE) AS avg_qty
    FROM joined
)
SELECT p_brand,
       {_sql_money(f"sum({_sql_cents('l_extendedprice')})")} AS small_qty_revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM with_avg
WHERE l_quantity < 0.5 * avg_qty
GROUP BY 1
ORDER BY p_brand
""",
    "bracket_revenue": f"""
SELECT p_brand,
       {_sql_money(f"sum({_sql_cents('l_extendedprice * (1.0 - l_discount)')})")} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
GROUP BY 1
ORDER BY p_brand
""",
    "excess_stock_suppliers": f"""
WITH movers AS (
    SELECT DISTINCT l_suppkey
    FROM (
        SELECT l_suppkey, l_partkey, sum({_sql_cents('l_quantity')}) AS qty_cents
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1999-01-01'
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
        GROUP BY 1, 2
        HAVING sum({_sql_cents('l_quantity')}) > 5000
    )
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM movers)
ORDER BY s_name
""",
    "waiting_suppliers": """
WITH per_order AS (
    SELECT l_orderkey,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                               THEN l_suppkey END) AS n_late,
           min(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN l_suppkey END) AS late_supp
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY 1
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order
JOIN supplier ON late_supp = s_suppkey
WHERE n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
""",
    "balanced_shards": _WORDS_SQL
    + """
, base AS (
    SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
           CAST(floor(log2(len(words) + 1)) AS INT) AS size_bucket
    FROM words_cte
),
assigned AS (
    SELECT doc_id, n_tokens, size_bucket,
           CAST((row_number() OVER (PARTITION BY size_bucket ORDER BY doc_id) - 1)
                % 8 AS INT) AS shard
    FROM base
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM assigned GROUP BY shard
""",
    "dedup_against_ref": _cross_dup_sql(0.5),
    "dedup_substring_keep": _WORDS_SQL.replace("WITH words_cte", "WITH RECURSIVE words_cte", 1)
    + """
, ws AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 6),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
                 || words[i+3] || ' ' || words[i+4] || ' ' || words[i+5] || ' '
                 || words[i+6] || ' ' || words[i+7])) AS sh
    FROM words_cte WHERE len(words) >= 8
),
post AS (SELECT doc_id, unnest(sh) AS s FROM ws),
sizes AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY doc_id),
keep AS (
    SELECT * FROM post
    WHERE s NOT IN (SELECT s FROM post GROUP BY s HAVING count(*) > 200)
),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
cpairs AS (
    SELECT id_a, id_b FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE floor(n_shared * 1000 / least(sa.sz, sb.sz)) >= 800
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM cpairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM cpairs
),
reach AS (
    SELECT DISTINCT src AS id, src AS comp FROM edges
  UNION
    SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
SELECT d.doc_id FROM documents d
LEFT JOIN (SELECT id FROM cc WHERE id <> component) l ON d.doc_id = l.id
WHERE l.id IS NULL
""",
    "centroid_separation": """
WITH q AS (
    SELECT label,
           generate_subscripts(embedding, 1) AS pos,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS vq
    FROM embeddings
),
cent AS (
    SELECT label, pos,
           CAST(floor(CAST(sum(vq) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
                AS BIGINT) AS cq
    FROM q GROUP BY 1, 2
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(sum((a.cq - b.cq) * (a.cq - b.cq)) AS BIGINT) AS dist_q
FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
GROUP BY 1, 2
""",
    "window_active_users": """
WITH x AS (
    SELECT DISTINCT
           time_bucket(INTERVAL '30 minutes', ts)
             - (t.i * INTERVAL '30 minutes') AS w_start,
           user_id
    FROM events, unnest([0, 1]) AS t(i)
)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(w_start + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS w_end,
       CAST(count(*) AS BIGINT) AS n_users
FROM x GROUP BY 1, 2
""",
    "pagerank_trade": """
WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT c AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
r1 AS (
    SELECT n.node,
           CAST(150000 + floor(850 * coalesce(s.in_sum, 0) / 1000) AS BIGINT)
               AS rank_micro
    FROM nodes n LEFT JOIN (
        SELECT e.dst,
               sum(CAST(floor(r.rank_micro / d.out_deg) AS BIGINT)) AS in_sum
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN r0 r ON e.src = r.node
        GROUP BY e.dst
    ) s ON n.node = s.dst
),
r2 AS (
    SELECT n.node,
           CAST(150000 + floor(850 * coalesce(s.in_sum, 0) / 1000) AS BIGINT)
               AS rank_micro
    FROM nodes n LEFT JOIN (
        SELECT e.dst,
               sum(CAST(floor(r.rank_micro / d.out_deg) AS BIGINT)) AS in_sum
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN r1 r ON e.src = r.node
        GROUP BY e.dst
    ) s ON n.node = s.dst
),
r3 AS (
    SELECT n.node,
           CAST(150000 + floor(850 * coalesce(s.in_sum, 0) / 1000) AS BIGINT)
               AS rank_micro
    FROM nodes n LEFT JOIN (
        SELECT e.dst,
               sum(CAST(floor(r.rank_micro / d.out_deg) AS BIGINT)) AS in_sum
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN r2 r ON e.src = r.node
        GROUP BY e.dst
    ) s ON n.node = s.dst
)
SELECT node, rank_micro FROM r3
ORDER BY rank_micro DESC, node
LIMIT 25
""",
    "stream_enrich_counts": f"""
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS w_end,
       coalesce(c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS n_events,
       {_sql_money(f"sum({_sql_cents('value')})")} AS sum_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1, 2, 3
""",
    "common_token_ratio": _WORDS_SQL
    + """
, toks AS (
    SELECT doc_id, u.tok FROM words_cte, unnest(words) AS u(tok)
),
vocab AS (
    SELECT tok FROM toks GROUP BY tok
    ORDER BY count(*) DESC, tok ASC LIMIT 20
),
per_doc AS (
    SELECT doc_id,
           count(*) AS n_tokens,
           sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)
               AS n_common
    FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       CAST(CASE WHEN coalesce(n_tokens, 0) > 0
                 THEN floor(coalesce(n_common, 0) * 1000 / n_tokens)
                 ELSE 0 END AS BIGINT) AS common_permille
FROM documents d LEFT JOIN per_doc USING (doc_id)
""",
    "token_mix_planner": _WORDS_SQL
    + """
, avail AS (
    SELECT source, CAST(sum(len(words)) AS BIGINT) AS avail_tokens
    FROM (
        SELECT source,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ) GROUP BY source
),
n AS (SELECT count(*) AS ns FROM avail)
SELECT source, avail_tokens,
       CAST(least(avail_tokens, CAST(floor(30000 / ns) AS BIGINT)) AS BIGINT)
           AS alloc_tokens,
       CAST(CASE WHEN avail_tokens > 0
                 THEN floor(least(avail_tokens,
                                  CAST(floor(30000 / ns) AS BIGINT)) * 1000
                            / avail_tokens)
                 ELSE 0 END AS BIGINT) AS sample_permille
FROM avail, n
""",
    "window_overlap_pairs": _WORDS_SQL
    + """
, ws AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 6),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
                 || words[i+3] || ' ' || words[i+4] || ' ' || words[i+5] || ' '
                 || words[i+6] || ' ' || words[i+7])) AS sh
    FROM words_cte WHERE len(words) >= 8
),
post AS (SELECT doc_id, unnest(sh) AS s FROM ws),
sizes AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY doc_id),
keep AS (
    SELECT * FROM post
    WHERE s NOT IN (SELECT s FROM post GROUP BY s HAVING count(*) > 200)
),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared,
       CAST(floor(n_shared * 1000 / least(sa.sz, sb.sz)) AS BIGINT)
           AS containment_permille
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
""",
    "embedding_outliers": """
WITH q AS (
    SELECT vec_id, label,
           generate_subscripts(embedding, 1) AS pos,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS vq
    FROM embeddings
),
cent AS (
    SELECT label, pos,
           CAST(floor(CAST(sum(vq) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
                AS BIGINT) AS cq
    FROM q GROUP BY 1, 2
),
pv AS (
    SELECT vec_id, q.label, CAST(sum((vq - cq) * (vq - cq)) AS BIGINT) AS dist_q
    FROM q JOIN cent USING (label, pos) GROUP BY 1, 2
)
SELECT label, vec_id, dist_q, CAST(rank AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY label ORDER BY dist_q DESC, vec_id ASC) AS rank
    FROM pv
)
WHERE rank <= 5
""",
    "gopher_quality": """
WITH t AS (
    SELECT doc_id, text,
           CASE WHEN length(trim(text)) = 0 THEN []
                ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
               AS words
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(COALESCE(list_sum(list_transform(words, w -> length(w))), 0)
                AS BIGINT) AS word_chars,
           CAST(length(text) - length(replace(text, '#', ''))
                + length(text) - length(replace(text, chr(8230), ''))
                + (length(text) - length(replace(text, '...', ''))) / 3
                AS BIGINT) AS n_symbols,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                AS BIGINT) AS alpha_words,
           CAST(len(list_intersect(list_transform(words, w -> lower(w)),
                ['the','a','data','table','value','key','row','query']))
                AS BIGINT) AS stop_hits
    FROM t
)
SELECT doc_id, n_words, word_chars, n_symbols, alpha_words, stop_hits,
       (n_words >= 30 AND n_words <= 100000) AS rule_word_count,
       (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
           AS rule_mean_word_len,
       (10 * n_symbols <= n_words) AS rule_symbol_ratio,
       (5 * alpha_words >= 4 * n_words) AS rule_alpha_ratio,
       (stop_hits >= 2) AS rule_stopwords,
       ((n_words >= 30 AND n_words <= 100000)
        AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
        AND (10 * n_symbols <= n_words)
        AND (5 * alpha_words >= 4 * n_words)
        AND (stop_hits >= 2)) AS keep
FROM m
""",
    "dedup_semantic": """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
vq AS (
    -- VEC_QUANT integer grid (2^17): dots/norms are exact integers, so
    -- both the cluster argmax and the pair cosine are single
    -- correctly-rounded IEEE ops — identical to the Spark kernels.
    SELECT vec_id, list_transform(e, x -> floor(x * 131072.0 + 0.5)) AS q
    FROM v
),
cent AS (
    SELECT vec_id AS cid, q AS cq FROM vq
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id
    LIMIT 8
),
assign AS (
    SELECT vq.vec_id, cent.cid,
           row_number() OVER (PARTITION BY vq.vec_id
               ORDER BY list_dot_product(vq.q, cent.cq)
                        / (CASE WHEN sqrt(list_dot_product(vq.q, vq.q)) > 0
                                THEN sqrt(list_dot_product(vq.q, vq.q))
                                ELSE 1.0 END
                           * sqrt(list_dot_product(cent.cq, cent.cq)))
                        DESC, cent.cid) AS rn
    FROM vq CROSS JOIN cent
),
cl AS (SELECT vec_id, cid AS cluster FROM assign WHERE rn = 1),
pairs AS (
    SELECT b.vec_id AS id_b,
           list_dot_product(qa.q, qb.q)
             / (CASE WHEN sqrt(list_dot_product(qa.q, qa.q)
                             * list_dot_product(qb.q, qb.q)) > 0
                     THEN sqrt(list_dot_product(qa.q, qa.q)
                               * list_dot_product(qb.q, qb.q))
                     ELSE 1.0 END) AS cosine
    FROM cl a
    JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    JOIN vq qa ON qa.vec_id = a.vec_id
    JOIN vq qb ON qb.vec_id = b.vec_id
),
losers AS (SELECT DISTINCT id_b FROM pairs WHERE cosine >= 0.4)
SELECT cl.vec_id, CAST(cl.cluster AS BIGINT) AS cluster,
       (l.id_b IS NULL) AS is_kept
FROM cl LEFT JOIN losers l ON cl.vec_id = l.id_b
""",
    "dsir_select": _DSIR_CTE + """
SELECT doc_id, n_tokens, score_milli,
       (row_number() OVER (ORDER BY score_milli DESC, doc_id) <= 100)
           AS selected
FROM f
""",
    "events_anomalies": """
WITH base AS (
    SELECT event_id, event_type,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
    FROM events
),
ranked AS (
    SELECT event_id, event_type, v,
           row_number() OVER (PARTITION BY event_type ORDER BY v, event_id)
               AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM base
),
med AS (
    SELECT event_type, v AS med FROM ranked
    WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
),
devd AS (
    SELECT b.event_id, b.event_type, b.v, m.med, abs(b.v - m.med) AS dev
    FROM base b JOIN med m USING (event_type)
),
dev_ranked AS (
    SELECT event_type, dev,
           row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id)
               AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM devd
),
madt AS (
    SELECT event_type, dev AS mad FROM dev_ranked
    WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
)
SELECT d.event_id, d.event_type, d.v, d.med, madt.mad,
       (d.dev * 1000 > 3000 * madt.mad) AS is_outlier
FROM devd d JOIN madt USING (event_type)
""",
    "entity_canonicalize": """
WITH RECURSIVE c AS (
    SELECT c_custkey, c_name, c_custkey // 100 AS blk
    FROM customer WHERE c_custkey <= 300
),
p AS (
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM p
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM p
),
reach AS (
    SELECT DISTINCT src AS id, src AS comp FROM edges
  UNION
    SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
SELECT c.c_custkey,
       CAST(COALESCE(cc.component, c.c_custkey) AS BIGINT) AS canonical_id,
       (c.c_custkey = COALESCE(cc.component, c.c_custkey)) AS is_canonical
FROM c LEFT JOIN cc ON c.c_custkey = cc.id
""",
    "pmi_collocations": _WORDS_SQL
    + """
, uni AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(words) AS tok FROM words_cte)
    GROUP BY tok
),
tot AS (SELECT CAST(sum(len(words)) AS BIGINT) AS n_tokens FROM words_cte),
big AS (
    SELECT l AS left_tok, r AS right_tok, CAST(count(*) AS BIGINT) AS pair_cnt
    FROM (
        SELECT unnest(list_transform(range(1, len(words)), i -> words[i])) AS l,
               unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS r
        FROM words_cte WHERE len(words) >= 2
    )
    GROUP BY l, r
    HAVING count(*) >= 5
)
SELECT b.left_tok, b.right_tok, b.pair_cnt,
       lu.cnt AS left_cnt, ru.cnt AS right_cnt,
       (1000 * t.n_tokens * b.pair_cnt) // (lu.cnt * ru.cnt) AS score_milli
FROM big b
JOIN uni lu ON lu.tok = b.left_tok
JOIN uni ru ON ru.tok = b.right_tok
CROSS JOIN tot t
ORDER BY score_milli DESC, left_tok ASC, right_tok ASC
LIMIT 100
""",
    "bm25_retrieval": _WORDS_SQL
    + """
, tf AS (
    SELECT doc_id, lower(tok) AS term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(words) AS tok FROM words_cte)
    GROUP BY doc_id, lower(tok)
),
q AS (SELECT * FROM tf WHERE doc_id % 97 = 0),
c AS (SELECT * FROM tf WHERE doc_id % 97 <> 0),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM c GROUP BY doc_id),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) // count(*) AS BIGINT) AS avgdl
    FROM dl
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM c GROUP BY term),
post AS (
    SELECT c.term, c.doc_id AS match_id,
           1000 * (n_docs - df + 1) // (df + 1) AS idf_milli,
           (c.tf * (1200 + 1000) * 1000000)
               // (c.tf * 1000000
                   + 1200 * (1000 - 750 + (750 * dl.dl) // avgdl))
               AS tf_part_milli
    FROM c
    JOIN dft ON c.term = dft.term
    JOIN dl ON c.doc_id = dl.doc_id
    CROSS JOIN tot
),
scored AS (
    SELECT q.doc_id AS query_id, post.match_id,
           CAST(sum(q.tf * ((idf_milli * tf_part_milli) // 1000))
                AS BIGINT) AS score_milli
    FROM q JOIN post ON q.term = post.term
    GROUP BY q.doc_id, post.match_id
)
SELECT query_id, match_id, score_milli, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_milli DESC, match_id ASC)
              AS rn
    FROM scored
) WHERE rn <= 5
""",
    "sparse_retrieval": _WORDS_SQL
    + """
, tf AS (
    SELECT doc_id, lower(tok) AS term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(words) AS tok FROM words_cte)
    GROUP BY doc_id, lower(tok)
),
q AS (SELECT * FROM tf WHERE doc_id % 97 = 0),
c AS (SELECT * FROM tf WHERE doc_id % 97 <> 0),
scored AS (
    SELECT q.doc_id AS query_id, c.doc_id AS match_id,
           CAST(sum(q.tf * c.tf) AS BIGINT) AS score
    FROM q JOIN c ON q.term = c.term
    GROUP BY q.doc_id, c.doc_id
)
SELECT query_id, match_id, score, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, match_id ASC) AS rn
    FROM scored
) WHERE rn <= 5
""",
    "dedup_keep_best": _cc_sql() + """
, scores AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+'))
           END AS sc
    FROM documents
),
winners AS (
    SELECT id FROM (
        SELECT cc.id,
               row_number() OVER (PARTITION BY cc.component
                                  ORDER BY s.sc DESC, cc.id) AS rn
        FROM cc JOIN scores s ON cc.id = s.doc_id
    ) WHERE rn = 1
),
losers AS (SELECT id FROM cc WHERE id NOT IN (SELECT id FROM winners))
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
""",
    "tokenize_corpus": """
WITH toks AS (
    SELECT doc_id, CAST(r.i AS INT) - 1 AS pos,
           lower(words[CAST(r.i AS BIGINT)]) AS term
    FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ), unnest(range(1, len(words) + 1)) AS r(i)
),
counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
vocab AS (
    SELECT term,
           row_number() OVER (ORDER BY cnt DESC, term) AS tok_id
    FROM counts
    QUALIFY row_number() OVER (ORDER BY cnt DESC, term) <= 1000
),
mapped AS (
    SELECT t.doc_id, t.pos,
           CAST(COALESCE(v.tok_id, 0) AS BIGINT) AS tok_id
    FROM toks t LEFT JOIN vocab v ON t.term = v.term
),
agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           sha256(string_agg(CAST(tok_id AS VARCHAR), ' ' ORDER BY pos))
               AS ids_digest
    FROM mapped GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_oov, 0) AS BIGINT) AS n_oov,
       COALESCE(a.ids_digest, sha256('')) AS ids_digest
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
    "corpus_split": """
WITH b AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS bucket_permille
    FROM documents
)
SELECT doc_id, bucket_permille,
       CASE WHEN bucket_permille < 800 THEN 'train'
            WHEN bucket_permille < 900 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
    "similarity_ivf_pq_topk": """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
vq AS (
    SELECT vec_id, list_transform(e, x -> floor(x * 131072.0 + 0.5)) AS q
    FROM v
),
cellcent AS (
    SELECT vec_id AS cid, q AS cq FROM vq
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id
    LIMIT 16
),
cells AS (
    SELECT vec_id, cid AS cell FROM (
        SELECT vq.vec_id, cellcent.cid,
               row_number() OVER (PARTITION BY vq.vec_id
                   ORDER BY list_dot_product(vq.q, cellcent.cq)
                            / (CASE WHEN sqrt(list_dot_product(vq.q, vq.q)) > 0
                                    THEN sqrt(list_dot_product(vq.q, vq.q))
                                    ELSE 1.0 END
                               * sqrt(list_dot_product(cellcent.cq, cellcent.cq)))
                            DESC, cellcent.cid) AS rn
        FROM vq CROSS JOIN cellcent
    ) WHERE rn = 1
),
codecent AS (
    SELECT vec_id AS cid, q AS cq FROM vq
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':43'), vec_id
    LIMIT 16
),
sub AS (SELECT unnest(range(0, 4)) AS s),
csub AS (
    SELECT cid, s, list_slice(cq, s * 16 + 1, s * 16 + 16) AS cs
    FROM codecent CROSS JOIN sub
),
vsub AS (
    SELECT vec_id, s, list_slice(q, s * 16 + 1, s * 16 + 16) AS qs
    FROM vq CROSS JOIN sub
),
codes AS (
    SELECT vec_id, s, cid AS code FROM (
        SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s
                   ORDER BY list_dot_product(qs, qs)
                            - 2 * list_dot_product(qs, cs)
                            + list_dot_product(cs, cs) ASC, cid ASC) AS rn
        FROM vsub JOIN csub USING (s)
    ) WHERE rn = 1
),
probes AS (SELECT vec_id AS probe_id, q FROM vq WHERE vec_id % 25 = 0),
probe_cells AS (
    SELECT probe_id, cid AS cell FROM (
        SELECT p.probe_id, c.cid,
               row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY list_dot_product(p.q, c.cq)
                            / (CASE WHEN sqrt(list_dot_product(p.q, p.q)) > 0
                                    THEN sqrt(list_dot_product(p.q, p.q))
                                    ELSE 1.0 END
                               * sqrt(list_dot_product(c.cq, c.cq)))
                            DESC, c.cid) AS rn
        FROM probes p CROSS JOIN cellcent c
    ) WHERE rn <= 4
),
psub AS (
    SELECT probe_id, s, list_slice(q, s * 16 + 1, s * 16 + 16) AS ps
    FROM probes CROSS JOIN sub
),
lut AS (
    SELECT probe_id, s, cid,
           CAST(list_dot_product(ps, ps)
                - 2 * list_dot_product(ps, cs)
                + list_dot_product(cs, cs) AS BIGINT) AS d
    FROM psub JOIN csub USING (s)
),
cand AS (
    SELECT pc.probe_id, cl.vec_id AS vid
    FROM cells cl JOIN probe_cells pc ON cl.cell = pc.cell
),
adc AS (
    SELECT ca.probe_id, ca.vid AS neighbor_id,
           CAST(sum(l.d) AS BIGINT) AS adc_dist
    FROM cand ca
    JOIN codes c ON c.vec_id = ca.vid
    JOIN lut l ON l.probe_id = ca.probe_id AND l.s = c.s AND l.cid = c.code
    GROUP BY 1, 2
),
ranked AS (
    SELECT probe_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY probe_id
               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc WHERE probe_id <> neighbor_id
)
SELECT probe_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
""",
    "pq_train_codebook": """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
vq AS (
    SELECT vec_id, list_transform(e, x -> floor(x * 131072.0 + 0.5)) AS q
    FROM v
),
cent AS (
    SELECT vec_id AS cid, q AS cq FROM vq
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id
    LIMIT 16
),
sub AS (SELECT unnest(range(0, 4)) AS s),
csub AS (
    SELECT cid, s, list_slice(cq, s * 16 + 1, s * 16 + 16) AS cs
    FROM cent CROSS JOIN sub
),
vsub AS (
    SELECT vec_id, s, list_slice(q, s * 16 + 1, s * 16 + 16) AS qs
    FROM vq CROSS JOIN sub
),
code_assign AS (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
               ORDER BY list_dot_product(qs, qs)
                        - 2 * list_dot_product(qs, cs)
                        + list_dot_product(cs, cs) ASC, cid ASC) AS rn
    FROM vsub JOIN csub USING (s)
),
codes AS (SELECT vec_id, s, cid AS code FROM code_assign WHERE rn = 1),
vexpl AS (
    SELECT v.vec_id, sub.s, CAST(p.lp AS INT) AS pos,
           CAST(floor(v.e[sub.s * 16 + CAST(p.lp AS BIGINT)] * 1000000.0
                      + 0.5) AS BIGINT) AS vmq
    FROM v CROSS JOIN sub, unnest(range(1, 17)) AS p(lp)
)
SELECT CAST(c.s AS INT) AS s, c.code, x.pos,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(x.vmq) AS BIGINT) AS sum_q
FROM codes c JOIN vexpl x ON c.vec_id = x.vec_id AND c.s = x.s
GROUP BY c.s, c.code, x.pos
""",
    "pipeline_selection": """
WITH g AS (
    SELECT doc_id, text, lang,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(COALESCE(list_sum(list_transform(words, w -> length(w))), 0)
                AS BIGINT) AS word_chars,
           CAST(length(text) - length(replace(text, '#', ''))
                + length(text) - length(replace(text, chr(8230), ''))
                + (length(text) - length(replace(text, '...', ''))) / 3
                AS BIGINT) AS n_symbols,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                AS BIGINT) AS alpha_words,
           CAST(len(list_intersect(list_transform(words, w -> lower(w)),
                ['the','a','data','table','value','key','row','query']))
                AS BIGINT) AS stop_hits
    FROM (
        SELECT doc_id, text, lang,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    )
),
kept AS (
    SELECT doc_id, text, lang FROM g
    WHERE (n_words >= 30 AND n_words <= 100000)
      AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
      AND (10 * n_symbols <= n_words)
      AND (5 * alpha_words >= 4 * n_words)
      AND (stop_hits >= 2)
),
tok AS (
    SELECT doc_id, is_target, lower(u.term) AS term
    FROM (
        SELECT doc_id, (lang = 'en') AS is_target,
               regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS words
        FROM kept
    ), unnest(words) AS u(term)
),
tb AS (
    SELECT doc_id, is_target,
           CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 64 AS b
    FROM tok
),
per_bucket AS (
    SELECT b, count(*) AS cnt_raw,
           sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS cnt_target
    FROM tb GROUP BY b
),
tot AS (
    SELECT sum(cnt_raw) AS total_raw, sum(cnt_target) AS total_target
    FROM per_bucket
),
wts AS (
    SELECT b,
           ((cnt_target + 1) * 1000 * (total_raw + 64))
               // ((cnt_raw + 1) * (total_target + 64)) AS w_milli
    FROM per_bucket, tot
),
doc_tf AS (SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY doc_id, b),
scored AS (
    SELECT doc_id, sum(tf * w_milli) // sum(tf) AS score_milli
    FROM doc_tf JOIN wts USING (b) GROUP BY doc_id
),
wtab AS (
    SELECT k.doc_id, CAST(COALESCE(s.score_milli, 0) + 1 AS BIGINT) AS w
    FROM kept k LEFT JOIN scored s ON k.doc_id = s.doc_id
),
tw AS (SELECT sum(w) AS total_w FROM wtab),
samp AS (
    SELECT doc_id FROM wtab, tw
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5)) AS BIGINT)
              * total_w
          < 200 * w * 1048576
),
chosen AS (
    SELECT k.doc_id,
           CASE WHEN length(trim(k.text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(k.text), '[ \\t\\r\\n]+'))
           END AS n_tokens
    FROM kept k JOIN samp USING (doc_id)
),
base AS (
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(log2(n_tokens + 1)) AS INT) AS size_bucket
    FROM chosen
)
SELECT doc_id, n_tokens, size_bucket,
       CAST((row_number() OVER (PARTITION BY size_bucket ORDER BY doc_id) - 1)
            % 8 AS INT) AS shard
FROM base
""",
    "session_paths": """
WITH lagged AS (
    SELECT event_id, user_id, ts, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
sess AS (
    SELECT event_id, user_id, ts, event_type,
           sum(CASE WHEN prev_ts IS NULL
                      OR date_diff('second', prev_ts, ts) >= 300
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
    FROM lagged
),
stepped AS (
    -- microsecond epoch mirrors Spark's native timestamp precision:
    -- ordering by raw nanos here could tie-break differently
    SELECT user_id, session_no, event_type,
           row_number() OVER (PARTITION BY user_id, session_no
                              ORDER BY epoch_us(ts), event_id) AS step
    FROM sess
),
per_session AS (
    SELECT user_id, session_no,
           string_agg(event_type, '>' ORDER BY step) AS path
    FROM stepped WHERE step <= 10
    GROUP BY user_id, session_no
),
counted AS (
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM per_session GROUP BY path
)
SELECT path, n_sessions FROM counted
QUALIFY row_number() OVER (ORDER BY n_sessions DESC, path) <= 20
""",
    "dsir_sample": _DSIR_CTE + """
, wtab AS (SELECT doc_id, score_milli + 1 AS w FROM f),
tw AS (SELECT sum(w) AS total_w FROM wtab)
SELECT doc_id, CAST(w AS BIGINT) AS w,
       (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5)) AS BIGINT)
            * total_w
        < 100 * w * 1048576) AS sampled
FROM wtab, tw
""",
    "similarity_pq_topk": """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
vq AS (
    SELECT vec_id, list_transform(e, x -> floor(x * 131072.0 + 0.5)) AS q
    FROM v
),
cent AS (
    SELECT vec_id AS cid, q AS cq FROM vq
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':42'), vec_id
    LIMIT 16
),
sub AS (SELECT unnest(range(0, 4)) AS s),
csub AS (
    SELECT cid, s, list_slice(cq, s * 16 + 1, s * 16 + 16) AS cs
    FROM cent CROSS JOIN sub
),
vsub AS (
    SELECT vec_id, s, list_slice(q, s * 16 + 1, s * 16 + 16) AS qs
    FROM vq CROSS JOIN sub
),
code_assign AS (
    -- ||a-c||^2 = a.a - 2 a.c + c.c, exact integers on the grid;
    -- distance ties -> smallest code id (the kernel's argmin-first
    -- over ascending cids)
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
               ORDER BY list_dot_product(qs, qs)
                        - 2 * list_dot_product(qs, cs)
                        + list_dot_product(cs, cs) ASC, cid ASC) AS rn
    FROM vsub JOIN csub USING (s)
),
codes AS (SELECT vec_id, s, cid AS code FROM code_assign WHERE rn = 1),
psub AS (
    SELECT vec_id AS probe_id, s, qs AS ps
    FROM vsub WHERE vec_id % 25 = 0
),
lut AS (
    SELECT probe_id, s, cid,
           CAST(list_dot_product(ps, ps)
                - 2 * list_dot_product(ps, cs)
                + list_dot_product(cs, cs) AS BIGINT) AS d
    FROM psub JOIN csub USING (s)
),
adc AS (
    SELECT l.probe_id, c.vec_id AS neighbor_id,
           CAST(sum(l.d) AS BIGINT) AS adc_dist
    FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.cid
    GROUP BY 1, 2
),
ranked AS (
    SELECT probe_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY probe_id
               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc WHERE probe_id <> neighbor_id
)
SELECT probe_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
""",
    "triangle_suppliers": """
WITH raw AS (
    SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
    HAVING count(DISTINCT a.l_orderkey) >= 30
),
deg AS (
    SELECT node, count(*) AS d FROM (
        SELECT s1 AS node FROM raw UNION ALL SELECT s2 AS node FROM raw
    ) GROUP BY node
),
-- orient each edge from the smaller (degree, id) endpoint to the
-- larger: every triangle then has exactly one wedge at its smallest
-- node, and oriented out-degrees are O(sqrt(m))
o AS (
    SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND r.s1 < r.s2)
                THEN r.s1 ELSE r.s2 END AS u,
           CASE WHEN (da.d < db.d) OR (da.d = db.d AND r.s1 < r.s2)
                THEN r.s2 ELSE r.s1 END AS v,
           CASE WHEN (da.d < db.d) OR (da.d = db.d AND r.s1 < r.s2)
                THEN db.d ELSE da.d END AS vd
    FROM raw r
    JOIN deg da ON r.s1 = da.node
    JOIN deg db ON r.s2 = db.node
),
w AS (
    SELECT o1.u AS c, o1.v AS x, o2.v AS y
    FROM o o1 JOIN o o2 ON o1.u = o2.u
    WHERE (o1.vd < o2.vd) OR (o1.vd = o2.vd AND o1.v < o2.v)
),
t AS (SELECT c, x, y FROM w JOIN o o3 ON o3.u = w.x AND o3.v = w.y),
n AS (SELECT unnest([c, x, y]) AS node FROM t)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM n GROUP BY node
""",
    "stream_outer_range_join": """
WITH c AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'
),
p AS (
    SELECT user_id, ts, event_id AS purchase_id FROM events
    WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id AS from_click_id, p.purchase_id AS to_purchase_id
FROM c LEFT JOIN p
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
}


def _bpe_fold_sql(src_alias: str, b_cte: str) -> str:
    """The per-merge greedy fold as DuckDB SQL: list_reduce over the
    symbol list with a chr(1)-sentinel string accumulator (DuckDB's
    list_reduce accumulator must be scalar), re-split to a list.
    Canonical Sennrich semantics, independently reproducing the Spark
    side's Arrow kernel (textstats._bpe_apply_col's greedy token-list
    walk): the fused symbol becomes the new last element,
    and a longer symbol merely STARTING with the right-hand side never
    matches.  Assumes document text contains no chr(1) bytes (the
    sentinel), which no tokenizer corpus does."""
    return f"""string_split(list_reduce({src_alias}.seq, (acc, x) -> CASE
        WHEN regexp_extract(acc, '[^' || chr(1) || ']*$') = {b_cte}.a
             AND x = {b_cte}.b
        THEN left(acc, length(acc) - length({b_cte}.a))
             || {b_cte}.a || {b_cte}.b
        ELSE acc || chr(1) || x END), chr(1))"""


def _bpe_chain_sql(n_merges: int) -> str:
    """Shared DuckDB CTE chain for the BPE oracles: doc tokens ->
    word-frequency table -> per-merge (pair counts, best pair, merged
    symbol lists).  Generated, not handwritten, so the Spark loop and
    the oracle always unroll the same number of iterations; each merge
    stage falls back to its predecessor when its best-pair CTE is
    empty (pair exhaustion), matching the Spark loop's early stop."""
    parts = [
        """dtoks AS MATERIALIZED (
    SELECT doc_id, CAST(r.i AS INT) - 1 AS pos,
           lower(words[CAST(r.i AS BIGINT)]) AS term
    FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ), unnest(range(1, len(words) + 1)) AS r(i)
),
words AS MATERIALIZED (SELECT term AS w, CAST(count(*) AS BIGINT) AS freq
          FROM dtoks GROUP BY term),
s0 AS MATERIALIZED (
    SELECT w,
           list_filter(
               string_split(regexp_replace(w, '(.)', '\\1' || chr(1), 'g'),
                            chr(1)),
               x -> x != '') || ['</w>'] AS seq,
           freq
    FROM words
)"""
    ]
    for i in range(1, n_merges + 1):
        fold = _bpe_fold_sql("t", f"b{i}")
        parts.append(
            f"""p{i} AS (
    SELECT t.seq[CAST(r.j AS BIGINT)] AS a,
           t.seq[CAST(r.j AS BIGINT) + 1] AS b,
           CAST(sum(t.freq) AS BIGINT) AS cnt
    FROM s{i - 1} t, unnest(range(1, len(t.seq))) AS r(j)
    GROUP BY 1, 2
),
b{i} AS MATERIALIZED (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
s{i} AS MATERIALIZED (
    SELECT t.w, {fold} AS seq, t.freq
    FROM s{i - 1} t, b{i}
    UNION ALL
    SELECT w, seq, freq FROM s{i - 1}
    WHERE NOT EXISTS (SELECT 1 FROM b{i})
)"""
        )
    return ",\n".join(parts)


def _bpe_train_oracle(n_merges: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS merge_rank, a AS left_sym,"
        f" b AS right_sym, cnt AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_chain_sql(n_merges)}\n{union}\n"


def _tokenize_bpe_oracle(n_merges: int) -> str:
    """Tokens join the ENCODED word table (s{n} keyed by w) — the
    per-distinct-word encode + lookup the Spark side runs; the
    per-token fold chain would redo the merge work once per token."""
    return f"""WITH {_bpe_chain_sql(n_merges)},
agg AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(e.seq)) AS BIGINT) AS n_bpe_tokens,
           sha256(string_agg(array_to_string(e.seq, ' '), ' '
                             ORDER BY t.pos)) AS pieces_digest
    FROM dtoks t JOIN s{n_merges} e ON t.term = e.w
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       COALESCE(a.pieces_digest, sha256('')) AS pieces_digest
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


ORACLES["bpe_train"] = _bpe_train_oracle(8)
ORACLES["tokenize_bpe"] = _tokenize_bpe_oracle(8)


ORACLES["multimodal_png_decode"] = """
WITH g AS (
    SELECT doc_id,
           CAST(8 + doc_id % 5 AS INT) AS width,
           CAST(6 + doc_id % 4 AS INT) AS height,
           md5(CAST(doc_id AS VARCHAR)) AS hx
    FROM documents
),
px AS (
    SELECT doc_id, width, height,
           CAST(sum(ascii(substr(hx, CAST(r.i % 32 AS INT) + 1, 1)))
                AS BIGINT) AS px_sum
    FROM g, unnest(range(0, width * height)) AS r(i)
    GROUP BY 1, 2, 3
)
SELECT doc_id, width, height, px_sum,
       CAST(px_sum * 1000 // (width * height) AS BIGINT) AS mean_milli
FROM px
"""


def _pagerank_converged_oracle(n_iters: int, probe_every: int = 1) -> str:
    """Unrolled CTE chain for the convergence-series oracle: the same
    r0..rN ladder as pagerank_trade plus one delta CTE per PROBE
    (probe-to-probe deltas, matching pagerank_until's cadence)."""
    head = """pairs AS (
    SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT c AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)"""
    parts = [head]
    probes = list(range(probe_every, n_iters + 1, probe_every))
    if not probes or probes[-1] != n_iters:
        # probe_every > n_iters degenerates to one final-state probe,
        # mirroring pagerank_until's min(probe_every, remaining) step
        probes.append(n_iters)
    for i in range(1, n_iters + 1):
        parts.append(f"""r{i} AS (
    SELECT n.node,
           CAST(150000 + floor(850 * coalesce(s.in_sum, 0) / 1000) AS BIGINT)
               AS rank_micro
    FROM nodes n LEFT JOIN (
        SELECT e.dst,
               sum(CAST(floor(r.rank_micro / d.out_deg) AS BIGINT)) AS in_sum
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN r{i - 1} r ON e.src = r.node
        GROUP BY e.dst
    ) s ON n.node = s.dst
)""")
    prev = 0
    for i in probes:
        parts.append(f"""d{i} AS (
    SELECT CAST({i} AS INT) AS iteration,
           CAST(max(abs(a.rank_micro - b.rank_micro)) AS BIGINT)
               AS max_delta_micro,
           CAST(sum(CASE WHEN a.rank_micro != b.rank_micro
                         THEN 1 ELSE 0 END) AS BIGINT) AS changed_nodes
    FROM r{i} a JOIN r{prev} b ON a.node = b.node
)""")
        prev = i
    union = "\nUNION ALL\n".join(f"SELECT * FROM d{i}" for i in probes)
    return "WITH " + ",\n".join(parts) + "\n" + union + "\n"


ORACLES["pagerank_converged"] = _pagerank_converged_oracle(4, 2)


ORACLES["boilerplate_scrub"] = f"""
WITH w AS (
    SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM documents
),
p AS (
    SELECT doc_id,
           array_to_string(
               list_transform(range(1, greatest(len(ws), 1) + 1, {_PARA_WORDS}),
                              s -> array_to_string(ws[s : s + {_PARA_WORDS - 1}], ' ')),
               chr(10) || chr(10)) AS ptext
    FROM w
),
paras AS (
    SELECT doc_id, u.para, u.idx
    FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(ptext, chr(10) || chr(10)),
                                     (x, i) -> struct_pack(para := x,
                                                           idx := CAST(i - 1 AS INT))))
                   AS u
        FROM p
    )
    WHERE length(trim(u.para)) > 0
),
hot AS (
    SELECT para FROM (
        SELECT para, count(*) AS df
        FROM (SELECT DISTINCT para, doc_id FROM paras)
        GROUP BY para
    ) WHERE df >= 3
),
marked AS (
    SELECT s.doc_id, s.idx, s.para, h.para IS NOT NULL AS is_hot
    FROM paras s LEFT JOIN hot h ON s.para = h.para
),
agg AS (
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT is_hot THEN para END,
                               chr(10) || chr(10) ORDER BY idx), '')
               AS text_scrubbed,
           CAST(sum(CASE WHEN NOT is_hot THEN 1 ELSE 0 END) AS BIGINT)
               AS n_paras_kept,
           CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT)
               AS n_paras_dropped
    FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.text_scrubbed, '') AS text_scrubbed,
       CAST(coalesce(a.n_paras_kept, 0) AS BIGINT) AS n_paras_kept,
       CAST(coalesce(a.n_paras_dropped, 0) AS BIGINT) AS n_paras_dropped
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


# candidates-only slice of the MinHash oracle: same signature/band
# front, stop at the cand CTE (no Jaccard verify) — the batch contract
# of streaming/stateful.band_candidates
_mh_sql = ORACLES["dedup_minhash_lsh"]
_MH_VERIFY_MARK = "verified AS ("
if _mh_sql.count(_MH_VERIFY_MARK) != 1:
    # splice guard: if the minhash oracle's verify CTE is ever renamed
    # or reformatted, fail at import with a named cause instead of
    # slicing at the wrong place
    raise RuntimeError(
        "stream_band_candidates oracle splice: expected exactly one "
        "occurrence of the verify-CTE marker in the dedup_minhash_lsh "
        f"oracle, found {_mh_sql.count(_MH_VERIFY_MARK)}"
    )
ORACLES["stream_band_candidates"] = (
    _mh_sql[: _mh_sql.index(_MH_VERIFY_MARK)].rstrip().rstrip(",")
    + "\nSELECT id_a, id_b FROM cand\n"
)


# recall@10 oracle composes the two already-checked ANN oracles as
# nested CTEs (DuckDB supports WITH-in-CTE) and intersects them
ORACLES["similarity_lsh_recall"] = f"""
WITH truth AS ({ORACLES["similarity_topk"]}),
approx AS ({ORACLES["similarity_lsh_topk"]}),
m AS (
    SELECT a.probe_id, CAST(count(*) AS BIGINT) AS n_matched
    FROM approx a JOIN truth t
      ON a.probe_id = t.probe_id AND a.neighbor_id = t.neighbor_id
    GROUP BY a.probe_id
),
pr AS (SELECT DISTINCT probe_id FROM truth)
SELECT pr.probe_id,
       CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(coalesce(m.n_matched, 0) * 100 AS BIGINT) AS recall_milli
FROM pr LEFT JOIN m ON pr.probe_id = m.probe_id
"""


def _bpe_fertility_oracle(n_merges: int) -> str:
    """Per-language roll-up of the tokenize chain: dtoks join the
    encoded word table, then documents.lang."""
    return f"""WITH {_bpe_chain_sql(n_merges)},
perdoc AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(e.seq)) AS BIGINT) AS n_pieces
    FROM dtoks t JOIN s{n_merges} e ON t.term = e.w
    GROUP BY t.doc_id
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(COALESCE(p.n_words, 0)) AS BIGINT) AS n_words,
       CAST(sum(COALESCE(p.n_pieces, 0)) AS BIGINT) AS n_pieces,
       CAST(sum(COALESCE(p.n_pieces, 0)) * 1000
            // NULLIF(sum(COALESCE(p.n_words, 0)), 0) AS BIGINT)
           AS fertility_milli
FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
GROUP BY d.lang
"""


ORACLES["bpe_fertility"] = _bpe_fertility_oracle(8)


# --- round-7 sketch oracles -------------------------------------------
from .llmops.sketches import (  # noqa: E402  (oracle constants)
    HLL_ALPHA_DEN as _HLL_AD,
    HLL_EST_NUM as _HLL_EN,
)

# Shared shingle-hash front for the KMV/theta oracles: trigram shingles
# -> md5-32 mod 2^31-1 (identical to dedup._shingle_hash_sets / the
# MinHash oracle front), ending with hs(doc_id, h LIST).
_SHINGLE_HASH_SQL = _WORDS_SQL + """
, sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
    FROM words_cte WHERE len(words) >= 3
),
hs AS (
    SELECT doc_id,
           list_distinct(list_transform(sh, s ->
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647)) AS h
    FROM sh
)
"""

ORACLES["sketch_hll_partkeys"] = f"""
WITH h AS (
    SELECT l_returnflag AS grp,
           CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM lineitem
),
b AS (SELECT grp, h // 16777216 AS idx, h % 16777216 AS w FROM h),
r AS (
    SELECT grp, idx,
           MAX(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS rho
    FROM b GROUP BY grp, idx
),
rall AS (SELECT '__all__' AS grp, idx, MAX(rho) AS rho FROM r GROUP BY idx),
regs AS (SELECT * FROM r UNION ALL SELECT * FROM rall),
agg AS (
    SELECT grp,
           CAST(sum(CAST(power(2, 25 - rho) AS BIGINT))
                + (256 - count(*)) * 33554432 AS BIGINT) AS s_denom,
           CAST(256 - count(*) AS BIGINT) AS v_zero
    FROM regs GROUP BY grp
),
est AS (
    SELECT grp,
           CAST({_HLL_EN} // ({_HLL_AD} * s_denom) AS BIGINT) AS est_distinct,
           v_zero, s_denom,
           ({_HLL_EN} // ({_HLL_AD} * s_denom)) <= 640 AS small_range
    FROM agg
),
ex AS (
    SELECT l_returnflag AS grp,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT '__all__', CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem
)
SELECT est.grp, exact_distinct, est_distinct, v_zero, s_denom, small_range,
       CAST(abs(est_distinct - exact_distinct) * 1000 // exact_distinct
            AS BIGINT) AS err_permille
FROM est JOIN ex USING (grp)
ORDER BY grp
"""

ORACLES["sketch_kmv_shingles"] = _SHINGLE_HASH_SQL + """
, hx AS (SELECT DISTINCT x.hh AS h FROM hs, unnest(hs.h) AS x(hh)),
topk AS (SELECT h FROM hx ORDER BY h LIMIT 128),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS k_used,
           CAST(max(h) AS BIGINT) AS kth_hash
    FROM topk
),
ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM hx)
SELECT k_used, kth_hash,
       CAST(CASE WHEN k_used < 128 THEN k_used
                 ELSE 272730308169 // kth_hash END AS BIGINT)
           AS est_distinct,
       k_used < 128 AS exhausted,
       exact_distinct,
       CAST(abs(CASE WHEN k_used < 128 THEN k_used
                     ELSE 272730308169 // kth_hash END
                - exact_distinct) * 1000 // exact_distinct AS BIGINT)
           AS err_permille
FROM agg, ex
"""

ORACLES["sketch_theta_leakage"] = _SHINGLE_HASH_SQL + """
, spl AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS b
    FROM documents
),
da AS (
    SELECT DISTINCT x.hh AS h
    FROM hs JOIN spl USING (doc_id), unnest(hs.h) AS x(hh)
    WHERE spl.b < 800
),
db AS (
    SELECT DISTINCT x.hh AS h
    FROM hs JOIN spl USING (doc_id), unnest(hs.h) AS x(hh)
    WHERE spl.b >= 900
),
ka AS (SELECT max(h) AS kth FROM (SELECT h FROM da ORDER BY h LIMIT 128)),
kb AS (SELECT max(h) AS kth FROM (SELECT h FROM db ORDER BY h LIMIT 128)),
th AS (SELECT CAST(least(ka.kth, kb.kth) AS BIGINT) AS theta FROM ka, kb),
sa AS (SELECT h FROM da, th WHERE h < theta),
sb AS (SELECT h FROM db, th WHERE h < theta),
na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM sa),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM sb),
cm AS (SELECT CAST(count(*) AS BIGINT) AS n_common
       FROM sa JOIN sb USING (h)),
un AS (SELECT CAST(count(*) AS BIGINT) AS n_union
       FROM (SELECT h FROM sa UNION SELECT h FROM sb))
SELECT theta, n_a, n_b, n_common, n_union,
       CAST(n_union * 2147483647 // theta AS BIGINT) AS union_est,
       CAST(n_common * 2147483647 // theta AS BIGINT) AS inter_est,
       CAST(CASE WHEN n_union > 0 THEN n_common * 1000 // n_union
                 ELSE 0 END AS BIGINT) AS jaccard_permille
FROM th, na, nb, cm, un
"""

ORACLES["sketch_cms_tokens"] = _WORDS_SQL + """
, t AS (
    SELECT lower(x.w) AS tok
    FROM words_cte, unnest(words_cte.words) AS x(w)
),
truth AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt FROM t GROUP BY tok
),
probes AS (SELECT tok, true_cnt FROM truth ORDER BY true_cnt DESC, tok LIMIT 20),
seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
grid AS (
    SELECT seed,
           CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || tok), 1, 8))
                AS BIGINT) % 64 AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM t, seeds GROUP BY 1, 2
),
pb AS (
    SELECT p.tok, s.seed,
           CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || p.tok),
                               1, 8)) AS BIGINT) % 64 AS bucket
    FROM probes p, seeds s
),
pe AS (
    SELECT pb.tok, CAST(min(g.cnt) AS BIGINT) AS cms_est
    FROM pb JOIN grid g USING (seed, bucket) GROUP BY pb.tok
)
SELECT p.tok, p.true_cnt, e.cms_est,
       CAST(e.cms_est - p.true_cnt AS BIGINT) AS overcount
FROM probes p JOIN pe e USING (tok)
ORDER BY tok
"""


# Shared CTE chain for the LM-surprisal oracles: lowercased token
# stream -> English-slice unigram counts -> Laplace-smoothed integer
# milli-surprisal per doc; ends with sc(doc_id, n_tokens, score_milli).
_SURPRISAL_CTES = """
WITH tok AS (
    SELECT doc_id, lang, lower(u.term) AS tok
    FROM (
        SELECT doc_id, lang,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents
    ), unnest(words) AS u(term)
),
lm AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS c
    FROM tok WHERE lang = 'en' GROUP BY tok
),
tot AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_ref,
           CAST(count(*) AS BIGINT) AS v_ref
    FROM lm
),
tf AS (
    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, tok
),
sc AS (
    SELECT tf.doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * ((n_ref + v_ref) * 1000 // (coalesce(lm.c, 0) + 1)))
                // sum(tf) AS BIGINT) AS score_milli
    FROM tf LEFT JOIN lm USING (tok), tot
    GROUP BY tf.doc_id
)
"""

ORACLES["lm_surprisal_quality"] = _SURPRISAL_CTES + """
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.score_milli, 0) AS BIGINT) AS score_milli
FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""

ORACLES["ccnet_quality_buckets"] = _SURPRISAL_CTES + """
, f AS (
    SELECT d.doc_id, d.lang,
           CAST(coalesce(s.score_milli, 0) AS BIGINT) AS score_milli
    FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
),
rk AS (
    SELECT *,
           row_number() OVER (PARTITION BY lang
                              ORDER BY score_milli, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM f
)
SELECT doc_id, lang, score_milli,
       CASE WHEN (rn - 1) * 3 < n THEN 'head'
            WHEN (rn - 1) * 3 < n * 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM rk
ORDER BY doc_id
"""

ORACLES["domain_mixture_sample"] = """
WITH per AS (
    SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
),
w AS (
    SELECT domain, n_docs,
           CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT)
               AS weight
    FROM per
),
tot AS (
    SELECT CAST(sum(weight) AS BIGINT) AS sum_w,
           CAST(sum(n_docs) AS BIGINT) AS total_docs
    FROM w
),
plan AS (
    SELECT domain, n_docs, weight,
           CAST(least((total_docs * 500 // 1000) * weight // sum_w, n_docs)
                AS BIGINT) AS expected_n
    FROM w, tot
),
picks AS (
    SELECT d.source AS domain, CAST(count(*) AS BIGINT) AS sampled_n
    FROM documents d JOIN plan p ON d.source = p.domain
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) * p.n_docs
          < p.expected_n * 4294967296
    GROUP BY d.source
)
SELECT p.domain, p.n_docs, p.weight, p.expected_n,
       CAST(coalesce(k.sampled_n, 0) AS BIGINT) AS sampled_n
FROM plan p LEFT JOIN picks k ON p.domain = k.domain
ORDER BY p.domain
"""


ORACLES["stream_hll_users"] = f"""
WITH h AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS w0,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM events
),
b AS (SELECT w0, h // 16777216 AS idx, h % 16777216 AS w FROM h),
r AS (
    SELECT w0, idx,
           MAX(CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END) AS rho
    FROM b GROUP BY w0, idx
),
agg AS (
    SELECT w0,
           CAST(sum(CAST(power(2, 25 - rho) AS BIGINT))
                + (256 - count(*)) * 33554432 AS BIGINT) AS s_denom,
           CAST(256 - count(*) AS BIGINT) AS v_zero
    FROM r GROUP BY w0
)
SELECT strftime(w0, '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(w0 + INTERVAL '1 day', '%Y-%m-%d %H:%M:%S') AS w_end,
       CAST({_HLL_EN} // ({_HLL_AD} * s_denom) AS BIGINT) AS est_distinct,
       v_zero, s_denom,
       ({_HLL_EN} // ({_HLL_AD} * s_denom)) <= 640 AS small_range
FROM agg
ORDER BY w_start
"""

ORACLES["sketch_join_size"] = """
WITH per AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
    FROM lineitem GROUP BY l_partkey
),
ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_size FROM per),
seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
grid AS (
    SELECT seed,
           CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                                     || CAST(l_partkey AS VARCHAR)), 1, 8))
                AS BIGINT) % 1024 AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem, seeds GROUP BY 1, 2
),
ip AS (
    SELECT seed, CAST(sum(cnt * cnt) AS BIGINT) AS ip
    FROM grid GROUP BY seed
),
est AS (SELECT CAST(min(ip) AS BIGINT) AS est_size FROM ip)
SELECT exact_size, est_size,
       CAST(est_size - exact_size AS BIGINT) AS overcount,
       CAST(abs(est_size - exact_size) * 1000 // exact_size AS BIGINT)
           AS err_permille
FROM ex, est
"""


# --- round-8 oracles ---------------------------------------------------

ORACLES["soft_dedup_weights"] = """
WITH sz AS (
    SELECT doc_id,
           CAST(count(*) OVER (PARTITION BY coalesce(text, '')) AS BIGINT)
               AS cluster_size
    FROM documents
)
SELECT doc_id, cluster_size,
       CAST(1000 // cluster_size AS BIGINT) AS weight_milli
FROM sz
ORDER BY doc_id
"""

ORACLES["bloom_membership"] = """
WITH tr AS (
    SELECT DISTINCT text AS k FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000 < 800
),
seeds AS (SELECT unnest([0, 1, 2]) AS seed),
pos AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || k), 1, 8))
                AS BIGINT) % 2048 AS pos
    FROM tr, seeds
),
pk AS (SELECT DISTINCT text AS k FROM documents),
prow AS (
    SELECT pk.k, s.seed,
           CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || pk.k),
                               1, 8)) AS BIGINT) % 2048 AS pos
    FROM pk, seeds s
),
hits AS (
    SELECT k, CAST(count(*) AS BIGINT) AS n_set
    FROM prow WHERE pos IN (SELECT pos FROM pos)
    GROUP BY k
),
verdict AS (
    SELECT pk.k,
           coalesce(h.n_set, 0) = 3 AS maybe,
           pk.k IN (SELECT k FROM tr) AS present
    FROM pk LEFT JOIN hits h USING (k)
)
SELECT d.doc_id, v.maybe, v.present,
       (v.maybe AND NOT v.present) AS false_pos
FROM documents d JOIN verdict v ON d.text = v.k
ORDER BY d.doc_id
"""

ORACLES["stream_cms_heavy"] = """
WITH ev AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS w0,
           CAST(user_id AS VARCHAR) AS k
    FROM events
),
truth AS (
    SELECT w0, k, CAST(count(*) AS BIGINT) AS true_cnt
    FROM ev GROUP BY w0, k
),
probes AS (
    SELECT k FROM (
        SELECT k, CAST(sum(true_cnt) AS BIGINT) AS tot
        FROM truth GROUP BY k
    ) ORDER BY tot DESC, k LIMIT 5
),
seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
grid AS (
    SELECT w0, seed,
           CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || k), 1, 8))
                AS BIGINT) % 64 AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM ev, seeds GROUP BY 1, 2, 3
),
wins AS (SELECT DISTINCT w0 FROM ev),
prow AS (
    SELECT w.w0, p.k, s.seed,
           CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || p.k),
                               1, 8)) AS BIGINT) % 64 AS bucket
    FROM wins w, probes p, seeds s
),
est AS (
    SELECT prow.w0, prow.k,
           CAST(min(coalesce(g.cnt, 0)) AS BIGINT) AS cms_est
    FROM prow LEFT JOIN grid g
      ON g.w0 = prow.w0 AND g.seed = prow.seed AND g.bucket = prow.bucket
    GROUP BY prow.w0, prow.k
)
SELECT strftime(e.w0, '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(e.w0 + INTERVAL '1 day', '%Y-%m-%d %H:%M:%S') AS w_end,
       e.k,
       CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS true_cnt,
       e.cms_est,
       CAST(e.cms_est - coalesce(t.true_cnt, 0) AS BIGINT) AS overcount
FROM est e LEFT JOIN truth t ON t.w0 = e.w0 AND t.k = e.k
ORDER BY w_start, e.k
"""

ORACLES["quantile_sketch_prices"] = """
WITH o AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM orders
),
s AS (SELECT * FROM o WHERE h < 268435456),
rk AS (
    SELECT o_orderpriority, price_c,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY price_c, h) AS rn,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM s
),
sk AS (
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_sampled,
           CAST(max(CASE WHEN rn = greatest(1, (n * 250 + 999) // 1000)
                         THEN price_c END) AS BIGINT) AS q_250,
           CAST(max(CASE WHEN rn = greatest(1, (n * 500 + 999) // 1000)
                         THEN price_c END) AS BIGINT) AS q_500,
           CAST(max(CASE WHEN rn = greatest(1, (n * 750 + 999) // 1000)
                         THEN price_c END) AS BIGINT) AS q_750
    FROM rk GROUP BY o_orderpriority
),
frk AS (
    SELECT o_orderpriority, price_c,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY price_c, o_orderkey) AS rn,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM o
),
ex AS (
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(CASE WHEN rn = greatest(1, (n * 500 + 999) // 1000)
                         THEN price_c END) AS BIGINT) AS exact_q500
    FROM frk GROUP BY o_orderpriority
)
SELECT ex.o_orderpriority, ex.n_rows,
       CAST(coalesce(sk.n_sampled, 0) AS BIGINT) AS n_sampled,
       sk.q_250, sk.q_500, sk.q_750, ex.exact_q500,
       CAST(abs(sk.q_500 - ex.exact_q500) * 1000 // ex.exact_q500
            AS BIGINT) AS err_permille
FROM ex LEFT JOIN sk USING (o_orderpriority)
ORDER BY ex.o_orderpriority
"""

ORACLES["bloom_shard_dedup"] = """
WITH d AS (
    -- coalesce matches the Spark op's sha2(coalesce(text, '')) (and
    -- bloom_prescreen_dedup / soft_dedup_weights' digests): a
    -- NULL-text document must hash to the empty-string digest, not
    -- drop out of the NULL-digest joins
    SELECT doc_id, sha256(coalesce(text, '')) AS dg,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS b
    FROM documents
),
ref AS (SELECT DISTINCT dg FROM d WHERE b < 800),
shard AS (SELECT doc_id, dg FROM d WHERE b >= 800),
seeds AS (SELECT unnest([0, 1, 2]) AS seed),
pos AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || dg), 1, 8))
                AS BIGINT) % 4096 AS pos
    FROM ref, seeds
),
pk AS (SELECT DISTINCT dg FROM shard),
prow AS (
    SELECT pk.dg, s.seed,
           CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || pk.dg),
                               1, 8)) AS BIGINT) % 4096 AS pos
    FROM pk, seeds s
),
hits AS (
    SELECT dg, CAST(count(*) AS BIGINT) AS n_set
    FROM prow WHERE pos IN (SELECT pos FROM pos)
    GROUP BY dg
),
verdict AS (
    SELECT pk.dg,
           coalesce(h.n_set, 0) = 3 AS maybe,
           pk.dg IN (SELECT dg FROM ref) AS present
    FROM pk LEFT JOIN hits h USING (dg)
)
SELECT s.doc_id, v.maybe, (v.maybe AND v.present) AS confirmed
FROM shard s JOIN verdict v USING (dg)
ORDER BY s.doc_id
"""

ORACLES["scd2_user_status"] = """
WITH s AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev
    FROM events
),
st AS (
    SELECT user_id, event_type, ts AS valid_from, event_id
    FROM s WHERE prev IS DISTINCT FROM event_type
),
v AS (
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to
    FROM st
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(coalesce(sum(epoch_us(valid_to) - epoch_us(valid_from)), 0)
            AS BIGINT) AS closed_micros,
       max(CASE WHEN valid_to IS NULL THEN event_type END) AS current_type
FROM v
GROUP BY user_id
ORDER BY user_id
"""

ORACLES["interval_coverage"] = """
WITH iv AS (
    SELECT l_suppkey, o_orderdate AS iv_start, l_shipdate AS iv_end
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
f AS (
    SELECT l_suppkey, iv_start, iv_end,
           CASE WHEN max(iv_end) OVER (
                    PARTITION BY l_suppkey ORDER BY iv_start, iv_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                 OR iv_start > max(iv_end) OVER (
                    PARTITION BY l_suppkey ORDER BY iv_start, iv_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) THEN 1 ELSE 0 END AS new_island
    FROM iv
),
g AS (
    SELECT l_suppkey, iv_start, iv_end,
           sum(new_island) OVER (
               PARTITION BY l_suppkey ORDER BY iv_start, iv_end
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS island
    FROM f
),
m AS (
    SELECT l_suppkey, island,
           min(iv_start) AS island_start, max(iv_end) AS island_end,
           count(*) AS n_merged
    FROM g GROUP BY l_suppkey, island
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(epoch(island_end) - epoch(island_start)) AS BIGINT)
           AS covered_seconds,
       CAST(max(n_merged) AS BIGINT) AS max_island_rows
FROM m
GROUP BY l_suppkey
ORDER BY l_suppkey
"""

ORACLES["weighted_sample_customers"] = """
WITH w AS (
    SELECT c_nationkey, c_custkey,
           ln(CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
                        AS BIGINT) AS DOUBLE) / 1152921504606846976.0)
             / greatest(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT), 1)
               AS aes_key
    FROM customer
),
r AS (
    SELECT c_nationkey, c_custkey,
           row_number() OVER (
               PARTITION BY c_nationkey ORDER BY aes_key DESC, c_custkey
           ) AS sample_rank
    FROM w
)
SELECT c_nationkey, CAST(sample_rank AS BIGINT) AS sample_rank, c_custkey
FROM r WHERE sample_rank <= 5
ORDER BY c_nationkey, sample_rank
"""

ORACLES["incremental_agg_orders"] = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       {_sql_money(f"sum({_sql_cents('o_totalprice')})")} AS sum_price,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""

ORACLES["zonemap_prune_scan"] = f"""
WITH sh AS (
    SELECT o_orderdate, o_totalprice,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS shard
    FROM orders
),
stats AS (
    SELECT shard,
           min(o_orderdate) AS min_d, max(o_orderdate) AS max_d,
           min(o_totalprice) AS min_p, max(o_totalprice) AS max_p
    FROM sh GROUP BY shard
),
surv AS (
    SELECT shard FROM stats
    WHERE max_d >= DATE '1996-03-01' AND min_d <= DATE '1996-09-30'
      AND max_p >= 100000.0
),
pruned AS (
    SELECT o_totalprice FROM sh
    WHERE shard IN (SELECT shard FROM surv)
      AND o_orderdate BETWEEN DATE '1996-03-01' AND DATE '1996-09-30'
      AND o_totalprice >= 100000.0
)
SELECT (SELECT count(*) FROM stats) AS shards_total,
       (SELECT count(*) FROM surv) AS shards_scanned,
       (SELECT count(*) FROM pruned) AS n_rows,
       (SELECT {_sql_money(f"coalesce(sum({_sql_cents('o_totalprice')}), 0)")}
        FROM pruned) AS revenue
"""

ORACLES["bfs_hops_trade"] = """
WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT c AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst FROM pairs
),
d0 AS (SELECT CAST(0 AS BIGINT) AS node),
f1 AS (
    SELECT DISTINCT dst AS node FROM edges
    WHERE src = 0 AND dst <> 0
),
f2 AS (
    SELECT DISTINCT dst AS node FROM edges JOIN f1 ON src = f1.node
    WHERE dst NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM f1)
),
f3 AS (
    SELECT DISTINCT dst AS node FROM edges JOIN f2 ON src = f2.node
    WHERE dst NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM f1
                      UNION ALL SELECT node FROM f2)
)
SELECT node, hop FROM (
    SELECT node, CAST(0 AS INT) AS hop FROM d0
    UNION ALL SELECT node, CAST(1 AS INT) FROM f1
    UNION ALL SELECT node, CAST(2 AS INT) FROM f2
    UNION ALL SELECT node, CAST(3 AS INT) FROM f3
)
ORDER BY hop, node
"""

ORACLES["setsim_ppjoin"] = _SHINGLE_HASH_SQL + """
, base AS (
    SELECT doc_id, h AS toks
    FROM hs WHERE len(h) > 0
),
tokr AS (SELECT doc_id, unnest(toks) AS w FROM base),
dfreq AS (SELECT w, count(*) AS df FROM tokr GROUP BY w),
ranked AS (
    SELECT doc_id, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY df, w) AS rnk,
           count(*) OVER (PARTITION BY doc_id) AS t
    FROM tokr JOIN dfreq USING (w)
),
pref AS (
    SELECT w, doc_id, t FROM ranked
    WHERE rnk <= t - ((500 * t + 999) // 1000) + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN pref b
      ON a.w = b.w AND a.doc_id < b.doc_id
     AND a.t * 500 <= b.t * 1000 AND b.t * 500 <= a.t * 1000
),
ver AS (
    SELECT id_a, id_b,
           len(list_intersect(x.toks, y.toks)) AS inter,
           len(list_distinct(list_concat(x.toks, y.toks))) AS uni
    FROM cand JOIN base x ON id_a = x.doc_id JOIN base y ON id_b = y.doc_id
)
SELECT id_a, id_b, CAST((1000 * inter) // uni AS BIGINT) AS jac_milli
FROM ver WHERE 1000 * inter >= 500 * uni
ORDER BY id_a, id_b
"""

ORACLES["lpa_communities"] = """
WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT c AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
l0 AS (SELECT node, node AS lab FROM nodes),
n1 AS (
    SELECT e.dst, l.lab, count(*) AS cnt
    FROM edges e JOIN l0 l ON e.src = l.node GROUP BY e.dst, l.lab
),
b1 AS (
    SELECT dst, lab FROM (
        SELECT dst, lab,
               row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, lab ASC) AS rn
        FROM n1
    ) WHERE rn = 1
),
l1 AS (
    SELECT l.node, coalesce(b.lab, l.lab) AS lab
    FROM l0 l LEFT JOIN b1 b ON l.node = b.dst
),
n2 AS (
    SELECT e.dst, l.lab, count(*) AS cnt
    FROM edges e JOIN l1 l ON e.src = l.node GROUP BY e.dst, l.lab
),
b2 AS (
    SELECT dst, lab FROM (
        SELECT dst, lab,
               row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, lab ASC) AS rn
        FROM n2
    ) WHERE rn = 1
),
l2 AS (
    SELECT l.node, coalesce(b.lab, l.lab) AS lab
    FROM l1 l LEFT JOIN b2 b ON l.node = b.dst
)
SELECT node, lab FROM l2 ORDER BY node
"""

ORACLES["link_predict_customers"] = """
WITH m AS (
    SELECT DISTINCT l_partkey AS mid, o_custkey AS node
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
d AS (
    SELECT mid, count(*) AS deg FROM m GROUP BY mid
    HAVING count(*) BETWEEN 2 AND 20
),
k AS (
    SELECT m.mid, m.node, 1000000 // d.deg AS w
    FROM m JOIN d USING (mid)
),
p AS (
    SELECT a.node AS cust_a, b.node AS cust_b,
           count(*) AS common_parts, sum(a.w) AS ra_micro
    FROM k a JOIN k b ON a.mid = b.mid AND a.node < b.node
    GROUP BY 1, 2
)
SELECT cust_a, cust_b,
       CAST(common_parts AS BIGINT) AS common_parts,
       CAST(ra_micro AS BIGINT) AS ra_micro
FROM p
ORDER BY ra_micro DESC, common_parts DESC, cust_a, cust_b
LIMIT 100
"""

ORACLES["basket_lift_parts"] = """
WITH b0 AS (
    SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
),
-- max_basket_size=8: hot baskets leave the ENTIRE computation
-- (co-counts, marginals, n_baskets), mirroring assoc_pairs' pre-join
-- cap exactly
b AS (
    SELECT bk, it FROM b0
    WHERE bk IN (
        SELECT bk FROM b0 GROUP BY bk HAVING count(*) <= 8
    )
),
n AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
ic AS (SELECT it, count(*) AS cnt FROM b GROUP BY it),
co AS (
    SELECT a.it AS part_a, b2.it AS part_b, count(*) AS co
    FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
    GROUP BY 1, 2
    HAVING count(*) >= 2
)
SELECT part_a, part_b,
       CAST(co AS BIGINT) AS co,
       CAST(ca.cnt AS BIGINT) AS cnt_a,
       CAST(cb.cnt AS BIGINT) AS cnt_b,
       CAST(co * 1000 // ca.cnt AS BIGINT) AS conf_ab_milli,
       CAST(co * 1000 // cb.cnt AS BIGINT) AS conf_ba_milli,
       CAST(co * 1000 * n.n_baskets // (ca.cnt * cb.cnt) AS BIGINT)
           AS lift_milli
FROM co
JOIN ic ca ON co.part_a = ca.it
JOIN ic cb ON co.part_b = cb.it
CROSS JOIN n
ORDER BY co DESC, lift_milli DESC, part_a, part_b
LIMIT 50
"""

ORACLES["rfm_segments"] = f"""
WITH base AS (
    SELECT c_custkey, c_nationkey,
           max(o_orderdate) AS last_order,
           count(*) AS n_orders,
           sum({_sql_cents('o_totalprice')}) AS cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
),
scored AS (
    SELECT c_custkey, c_nationkey, last_order, n_orders, cents,
           ntile(5) OVER (
               PARTITION BY c_nationkey
               ORDER BY last_order DESC, c_custkey ASC
           ) AS r_score,
           ntile(5) OVER (
               PARTITION BY c_nationkey
               ORDER BY n_orders DESC, c_custkey ASC
           ) AS f_score,
           ntile(5) OVER (
               PARTITION BY c_nationkey
               ORDER BY cents DESC, c_custkey ASC
           ) AS m_score
    FROM base
)
SELECT c_custkey, c_nationkey, last_order,
       CAST(n_orders AS BIGINT) AS n_orders,
       {_sql_money('cents')} AS monetary,
       CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_code
FROM scored
ORDER BY c_custkey
"""

ORACLES["zorder_layout"] = f"""
WITH o AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS oday,
           {_sql_cents('o_totalprice')} AS p_cents
    FROM orders
),
env AS (
    SELECT min(oday) AS dlo, max(oday) AS dhi,
           min(p_cents) AS plo, max(p_cents) AS phi
    FROM o
),
b AS (
    SELECT oday, p_cents,
           greatest(0, least(15, (oday - dlo) * 16 // (dhi - dlo + 1)))
               AS bd,
           greatest(0, least(15, (p_cents - plo) * 16 // (phi - plo + 1)))
               AS bp
    FROM o CROSS JOIN env
),
z AS (
    SELECT oday, p_cents,
           CAST(
               ((bd >> 0) & 1) * 1 + ((bp >> 0) & 1) * 2
             + ((bd >> 1) & 1) * 4 + ((bp >> 1) & 1) * 8
             + ((bd >> 2) & 1) * 16 + ((bp >> 2) & 1) * 32
             + ((bd >> 3) & 1) * 64 + ((bp >> 3) & 1) * 128
           AS BIGINT) AS zorder
    FROM b
)
SELECT zorder,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(oday) AS min_day, max(oday) AS max_day,
       min(p_cents) AS min_cents, max(p_cents) AS max_cents
FROM z
GROUP BY zorder
ORDER BY zorder
"""

ORACLES["zorder_write_prune"] = f"""
WITH o AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS oday,
           {_sql_cents('o_totalprice')} AS p_cents,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
               AS m_shard
    FROM orders
),
bounds AS (
    SELECT CAST(DATE '1995-06-01' - DATE '1970-01-01' AS BIGINT) AS lo_d,
           CAST(DATE '1999-05-31' - DATE '1970-01-01' AS BIGINT) AS hi_d,
           CAST(45000000 AS BIGINT) AS lo_p
),
env AS (
    SELECT min(oday) AS dlo, max(oday) AS dhi,
           min(p_cents) AS plo, max(p_cents) AS phi
    FROM o
),
-- zshard: the same 4-bit Morton interleave as zorder_layout, banded
-- into 16 equi-width z-ranges (space 256, width 16)
b AS (
    SELECT oday, p_cents, m_shard,
           greatest(0, least(15, (oday - dlo) * 16 // (dhi - dlo + 1)))
               AS bd,
           greatest(0, least(15, (p_cents - plo) * 16 // (phi - plo + 1)))
               AS bp
    FROM o CROSS JOIN env
),
z AS (
    SELECT oday, p_cents, m_shard,
           CAST((
               ((bd >> 0) & 1) * 1 + ((bp >> 0) & 1) * 2
             + ((bd >> 1) & 1) * 4 + ((bp >> 1) & 1) * 8
             + ((bd >> 2) & 1) * 16 + ((bp >> 2) & 1) * 32
             + ((bd >> 3) & 1) * 64 + ((bp >> 3) & 1) * 128
           ) // 16 AS INT) AS zshard
    FROM b
),
m_stats AS (
    SELECT m_shard AS shard,
           min(oday) AS min_d, max(oday) AS max_d,
           min(p_cents) AS min_p, max(p_cents) AS max_p
    FROM z GROUP BY 1
),
z_stats AS (
    SELECT zshard AS shard,
           min(oday) AS min_d, max(oday) AS max_d,
           min(p_cents) AS min_p, max(p_cents) AS max_p
    FROM z GROUP BY 1
),
m_surv AS (
    SELECT shard FROM m_stats CROSS JOIN bounds
    WHERE max_d >= lo_d AND min_d <= hi_d AND max_p >= lo_p
),
z_surv AS (
    SELECT shard FROM z_stats CROSS JOIN bounds
    WHERE max_d >= lo_d AND min_d <= hi_d AND max_p >= lo_p
),
hit AS (
    SELECT count(*) AS n_rows,
           {_sql_money('coalesce(sum(p_cents), 0)')} AS revenue
    FROM z CROSS JOIN bounds
    WHERE oday BETWEEN lo_d AND hi_d AND p_cents >= lo_p
)
SELECT 'month' AS layout,
       CAST((SELECT count(*) FROM m_stats) AS BIGINT) AS shards_total,
       CAST((SELECT count(*) FROM m_surv) AS BIGINT) AS shards_scanned,
       CAST(n_rows AS BIGINT) AS n_rows, revenue
FROM hit
UNION ALL
SELECT 'zorder' AS layout,
       CAST((SELECT count(*) FROM z_stats) AS BIGINT) AS shards_total,
       CAST((SELECT count(*) FROM z_surv) AS BIGINT) AS shards_scanned,
       CAST(n_rows AS BIGINT) AS n_rows, revenue
FROM hit
ORDER BY layout
"""

ORACLES["scd2_snapshot"] = """
WITH s AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev
    FROM events
),
st AS (
    SELECT user_id, event_type, ts AS valid_from, event_id
    FROM s WHERE prev IS DISTINCT FROM event_type
),
v AS (
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to
    FROM st
),
snap AS (
    SELECT * FROM v
    WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       min(valid_from) AS earliest_from,
       max(valid_from) AS latest_from
FROM snap
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["embedding_scatter"] = """
WITH q AS (
    -- NULL labels excluded to match scatter_matrix's documented
    -- contract (pandas groupby drops NaN keys; the op filters
    -- upstream so both engines agree by construction)
    SELECT vec_id, label,
           generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(floor(unnest(embedding) * 131072.0 + 0.5) AS BIGINT) AS xq
    FROM embeddings
    WHERE label IS NOT NULL
),
p AS (
    SELECT a.label, a.dim AS dim_i, b.dim AS dim_j,
           sum(a.xq * b.xq) AS sxy
    FROM q a JOIN q b
      ON a.vec_id = b.vec_id AND a.dim <= b.dim AND b.dim <= 7
    GROUP BY 1, 2, 3
),
m AS (
    SELECT label, dim, sum(xq) AS s FROM q GROUP BY 1, 2
),
n AS (
    SELECT label, count(DISTINCT vec_id) AS n FROM q GROUP BY 1
)
SELECT p.label, p.dim_i, p.dim_j,
       CAST(n.n AS BIGINT) AS n,
       CAST(mx.s AS BIGINT) AS sx,
       CAST(my.s AS BIGINT) AS sy,
       CAST(p.sxy AS BIGINT) AS sxy
FROM p
JOIN m mx ON p.label = mx.label AND p.dim_i = mx.dim
JOIN m my ON p.label = my.label AND p.dim_j = my.dim
JOIN n ON p.label = n.label
ORDER BY p.label, p.dim_i, p.dim_j
"""

ORACLES["drift_price_bands"] = f"""
WITH o AS (
    SELECT o_orderdate, {_sql_cents('o_totalprice')} AS p_cents FROM orders
),
ha AS (
    SELECT p_cents // 2500000 AS bucket, count(*) AS n_a
    FROM o WHERE o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY 1
),
hb AS (
    SELECT p_cents // 2500000 AS bucket, count(*) AS n_b
    FROM o WHERE o_orderdate >= TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY 1
),
t AS (
    SELECT (SELECT count(*) FROM o
            WHERE o_orderdate < TIMESTAMP '1998-07-01 00:00:00') AS total_a,
           (SELECT count(*) FROM o
            WHERE o_orderdate >= TIMESTAMP '1998-07-01 00:00:00') AS total_b
),
j AS (
    SELECT coalesce(ha.bucket, hb.bucket) AS bucket,
           coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
    FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket
)
SELECT bucket,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_a * 1000 // total_a AS BIGINT) AS milli_a,
       CAST(n_b * 1000 // total_b AS BIGINT) AS milli_b,
       CAST(abs(n_a * 1000 // total_a - n_b * 1000 // total_b) AS BIGINT)
           AS diff_milli
FROM j CROSS JOIN t
ORDER BY bucket
"""

ORACLES["vocab_oov_rate"] = """
WITH rtoks AS (
    SELECT lower(u.term) AS term
    FROM (
        SELECT CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents WHERE lang = 'en'
    ), unnest(words) AS u(term)
),
vocab AS (
    SELECT term FROM (
        SELECT term, count(*) AS cnt FROM rtoks GROUP BY term
        ORDER BY cnt DESC, term ASC LIMIT 500
    )
),
ttoks AS (
    SELECT doc_id, lang, lower(u.term) AS term
    FROM (
        SELECT doc_id, lang,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') END
                   AS words
        FROM documents WHERE lang <> 'en'
    ), unnest(words) AS u(term)
),
per_doc AS (
    SELECT doc_id, lang, count(*) AS n_tokens,
           sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
    FROM ttoks t LEFT JOIN vocab v USING (term)
    GROUP BY doc_id, lang
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_oov) AS BIGINT) AS n_oov,
       CAST(sum(n_oov) * 1000 // sum(n_tokens) AS BIGINT) AS oov_permille
FROM per_doc
GROUP BY lang
ORDER BY lang
"""

ORACLES["label_noise_scan"] = """
WITH q AS (
    SELECT vec_id, label,
           generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(floor(unnest(embedding) * 131072.0 + 0.5) AS BIGINT) AS xq
    FROM embeddings
),
cent AS (
    SELECT label AS lab, dim,
           CAST(sum(xq) * 1000 // count(*) AS BIGINT) AS c
    FROM q GROUP BY label, dim
),
d AS (
    SELECT q.vec_id, q.label, cent.lab,
           CAST(sum((1000 * q.xq - cent.c) * (1000 * q.xq - cent.c))
                AS BIGINT) AS dist
    FROM q JOIN cent ON q.dim = cent.dim
    GROUP BY q.vec_id, q.label, cent.lab
),
best AS (
    SELECT vec_id, label, lab AS best_lab, dist AS d_best,
           row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, lab
           ) AS rn
    FROM d
),
own AS (
    SELECT vec_id, dist AS d_own FROM d WHERE label = lab
)
SELECT b.vec_id, b.label, b.best_lab, o.d_own, b.d_best
FROM best b JOIN own o ON b.vec_id = o.vec_id
WHERE b.rn = 1 AND b.best_lab <> b.label
ORDER BY b.vec_id
"""

ORACLES["stream_drift_guard"] = """
WITH ev AS (
    SELECT ts, CAST(floor(value * 100.0 + 0.5) AS BIGINT) // 5000 AS bucket
    FROM events
),
ref AS (
    SELECT bucket, count(*) AS rn FROM ev
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY bucket
),
rt AS (
    SELECT count(*) AS rtot FROM ev
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
),
refm AS (
    SELECT bucket, CAST(rn * 1000 // rtot AS BIGINT) AS milli_ref
    FROM ref CROSS JOIN rt
),
tgt AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS w_start, bucket
    FROM ev WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
),
cnt AS (
    SELECT w_start, bucket, count(*) AS n FROM tgt GROUP BY 1, 2
),
tot AS (
    SELECT w_start, sum(n) AS total FROM cnt GROUP BY 1
)
SELECT strftime(c.w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
       strftime(c.w_start + INTERVAL '1 day', '%Y-%m-%d %H:%M:%S') AS w_end,
       c.bucket,
       CAST(c.n AS BIGINT) AS n,
       CAST(c.n * 1000 // t.total AS BIGINT) AS milli_w,
       CAST(coalesce(r.milli_ref, 0) AS BIGINT) AS milli_ref,
       CAST(abs(c.n * 1000 // t.total - coalesce(r.milli_ref, 0)) AS BIGINT)
           AS diff_milli
FROM cnt c
JOIN tot t ON c.w_start = t.w_start
LEFT JOIN refm r ON c.bucket = r.bucket
ORDER BY w_start, c.bucket
"""


ORACLES["hybrid_rank_fusion"] = f"""
WITH dense AS ({ORACLES["similarity_topk"]}),
approx AS ({ORACLES["similarity_lsh_topk"]}),
u AS (
    SELECT probe_id, neighbor_id, 1000000 // (60 + rank) AS c FROM dense
    UNION ALL
    SELECT probe_id, neighbor_id, 1000000 // (60 + rank) AS c FROM approx
),
f AS (
    SELECT probe_id, neighbor_id,
           CAST(sum(c) AS BIGINT) AS rrf_micro,
           CAST(count(*) AS BIGINT) AS n_lists
    FROM u GROUP BY probe_id, neighbor_id
),
r AS (
    SELECT probe_id, neighbor_id, rrf_micro, n_lists,
           row_number() OVER (
               PARTITION BY probe_id ORDER BY rrf_micro DESC, neighbor_id
           ) AS fused_rank
    FROM f
)
SELECT probe_id, neighbor_id, rrf_micro, n_lists,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM r WHERE fused_rank <= 10
ORDER BY probe_id, fused_rank
"""


ORACLES["feature_smooth_balance"] = f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT c AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst FROM pairs
),
f0 AS (
    SELECT c_custkey * 2 AS node,
           {_sql_cents('c_acctbal')} + 100000 AS feat
    FROM customer
    UNION ALL
    SELECT s_suppkey * 2 + 1,
           {_sql_cents('s_acctbal')} + 100000
    FROM supplier
),
a1 AS (
    SELECT e.dst, sum(f.feat) // count(*) AS nf
    FROM edges e JOIN f0 f ON e.src = f.node GROUP BY e.dst
),
f1 AS (
    SELECT f.node, CAST(coalesce(a.nf, f.feat) AS BIGINT) AS feat
    FROM f0 f LEFT JOIN a1 a ON f.node = a.dst
),
a2 AS (
    SELECT e.dst, sum(f.feat) // count(*) AS nf
    FROM edges e JOIN f1 f ON e.src = f.node GROUP BY e.dst
),
f2 AS (
    SELECT f.node, CAST(coalesce(a.nf, f.feat) AS BIGINT) AS feat
    FROM f1 f LEFT JOIN a2 a ON f.node = a.dst
)
SELECT CAST(node % 2 AS INT) AS node_class,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(feat) AS BIGINT) AS sum_feat,
       CAST(min(feat) AS BIGINT) AS min_feat,
       CAST(max(feat) AS BIGINT) AS max_feat
FROM f2
GROUP BY node % 2
ORDER BY node_class
"""


ORACLES["similarity_pq_recall"] = f"""
WITH truth AS ({ORACLES["similarity_topk"]}),
approx AS ({ORACLES["similarity_pq_topk"]}),
m AS (
    SELECT a.probe_id, CAST(count(*) AS BIGINT) AS n_matched
    FROM approx a JOIN truth t
      ON a.probe_id = t.probe_id AND a.neighbor_id = t.neighbor_id
    GROUP BY a.probe_id
),
pr AS (SELECT DISTINCT probe_id FROM truth)
SELECT pr.probe_id,
       CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(coalesce(m.n_matched, 0) * 100 AS BIGINT) AS recall_milli
FROM pr LEFT JOIN m ON pr.probe_id = m.probe_id
ORDER BY pr.probe_id
"""


ORACLES["skew_key_events"] = """
WITH per AS (
    SELECT coalesce(CAST(user_id AS VARCHAR), '') AS key_s,
           CAST(user_id AS VARCHAR) IS NULL AS is_null,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
),
tot AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM per
),
top AS (
    SELECT key_s, is_null, cnt,
           row_number() OVER (
               ORDER BY cnt DESC, key_s ASC, is_null ASC
           ) AS rn
    FROM per
)
SELECT CAST(rn AS INT) AS rank, key_s, is_null, cnt, n_rows, n_keys,
       cnt * 1000 // n_rows AS share_milli,
       cnt * n_keys * 1000 // n_rows AS x_mean_milli
FROM top CROSS JOIN tot
WHERE rn <= 20
"""


# The oracle is the FULL REBUILD over the entire stream — identical
# interval semantics to scd2_user_status — because scd2_apply's
# contract is exactly "incremental == full rebuild at any timestamp
# split"; hashing the incremental result against the full-rebuild SQL
# IS the check.
ORACLES["scd2_apply_events"] = """
WITH s AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev
    FROM events
),
st AS (
    SELECT user_id, event_type, ts AS valid_from, event_id
    FROM s WHERE prev IS DISTINCT FROM event_type
),
v AS (
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to
    FROM st
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(coalesce(sum(epoch_us(valid_to) - epoch_us(valid_from)), 0)
            AS BIGINT) AS closed_micros,
       CAST(min(epoch_us(valid_from)) AS BIGINT) AS first_from_micros,
       max(CASE WHEN valid_to IS NULL THEN event_type END) AS current_type
FROM v
GROUP BY user_id
ORDER BY user_id
"""


ORACLES["resample_user_daily"] = """
WITH od AS (
    SELECT user_id, day, state FROM (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type AS state,
               row_number() OVER (
                   PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
),
span AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1 FROM od GROUP BY 1
),
spine AS (
    SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
               AS DATE) AS day
    FROM span
),
filled AS (
    SELECT s.user_id, s.day,
           od.state IS NOT NULL AS is_observed,
           last_value(od.state IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS state
    FROM spine s LEFT JOIN od ON s.user_id = od.user_id AND s.day = od.day
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN is_observed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_observed,
       CAST(sum(
           (day - DATE '1970-01-01')
           * CASE state WHEN 'click' THEN 1 WHEN 'purchase' THEN 2
                        WHEN 'view' THEN 3 ELSE 4 END
       ) AS BIGINT) AS fill_digest
FROM filled
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Round-9 wave B: privacy audit, decayed series, data-quality screens,
# compaction planning, migration checksums.
# ---------------------------------------------------------------------------


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (mask.py:k_anonymity): before
    masking (random/page.tsx:183-263 decides HOW to mask), measure
    what the quasi-identifiers (market segment x nation) already leak.
    Each equivalence class reports its size, the l-diversity of the
    sensitive attribute (account balance in exact $1000 bands), and a
    k=10 at-risk flag; ``risk_milli`` is the table-wide share of rows
    in failing classes. One hash aggregate to class granularity —
    persisted, so the 1-row broadcast risk total re-reads the 125-row
    class cache, never a second scan of customer."""
    from .mask import k_anonymity
    from .scale import persisted

    cust = _load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        cents("c_acctbal").cast("long").alias("p_cents"),
    )
    cust = cust.withColumn("bal_band", F.expr("p_cents div 100000"))
    cls = persisted(
        k_anonymity(
            cust, ["c_mktsegment", "c_nationkey"], k=10, sensitive="bal_band"
        )
    )
    tot = cls.agg(
        F.expr(
            "sum(CASE WHEN at_risk THEN class_size ELSE 0 END) * 1000"
            " div sum(class_size)"
        )
        .cast("bigint")
        .alias("risk_milli")
    )
    return (
        cls.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            "l_distinct",
            "at_risk",
            "risk_milli",
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


def q_ewma_nation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dyadic EWMA of daily revenue per nation (temporal.py:
    decayed_sum): half-life-one-day decay over an 8-day window,
    weights 2^(7-d) so the 'momentum' series is integer-exact (scaled
    by 128, floats never cross engines). The operator SCATTERS each
    daily point forward through explode(sequence) + one hash aggregate
    — sort-free, unlike the lag-window formulation — so it survives
    any number of keys at any scale. Output is the final 14 calendar
    days, pinned by a 1-row broadcast of the global max day."""
    from .temporal import decayed_sum

    o = _load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("day"),
        cents("o_totalprice").cast("long").alias("p_cents"),
    )
    c = _load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    daily_src = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey", "day", "p_cents"
    )
    dec = decayed_sum(daily_src, "c_nationkey", "day", "p_cents", window_days=8)
    gmax = o.agg(F.max("day").alias("__mx__"))
    return (
        dec.crossJoin(F.broadcast(gmax))
        .filter(F.col("day") >= F.date_sub(F.col("__mx__"), 13))
        .select(
            "c_nationkey",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("day_idx"),
            "decayed_scaled",
        )
        .orderBy("c_nationkey", "day_idx")
    )


def q_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (stats.py:benford_profile) on
    lineitem extended prices in exact cents: observed vs expected
    milli-shares per leading digit, |deviation| per digit —
    sum(dev_milli) is the fabrication/truncation alarm a data-quality
    gate raises before a new feed enters the lake. One 9-row hash
    aggregate plus a broadcast total; the digit is substring of the
    integer's decimal rendering, whole-stage-codegen'd JVM-side.
    (TPC-H prices are formulaic, not organic, so the profile SHOULD
    deviate — the query pins the measurement, not conformance.)"""
    from .stats import benford_profile

    li = _load(spark, sf_dir, "lineitem").select(
        cents("l_extendedprice").cast("long").alias("p_cents")
    )
    return benford_profile(li, "p_cents").orderBy("digit")


def q_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (scale.py:compaction_plan): a
    pseudo file inventory (311 uneven 'files' hashed from orderkeys,
    byte size = the file's total row bytes) binned by running-sum into
    ~10 GB compaction jobs — ``bin_id = bytes_before div target``, the
    first-fit-in-name-order contract OPTIMIZE implementations use, so
    adjacent files stay adjacent and every bin overflows the target by
    at most one file. The window runs over file METADATA (inventory
    rows, ~10^6 at 100 TB), never data rows; the planned moves are the
    distributed part. Output: per-bin file count, bytes, id range."""
    from .scale import compaction_plan

    files = (
        _load(spark, sf_dir, "lineitem")
        .groupBy((F.col("l_orderkey") % F.lit(311)).cast("bigint").alias("file_id"))
        .agg(F.sum(cents("l_extendedprice").cast("long")).alias("size_bytes"))
    )
    plan = compaction_plan(files, "size_bytes", 10_000_000_000, "file_id")
    return (
        plan.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("size_bytes").cast("bigint").alias("bin_bytes"),
            F.min("file_id").cast("bigint").alias("first_file"),
            F.max("file_id").cast("bigint").alias("last_file"),
        )
        .orderBy("bin_id")
    )


def q_checksum_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent monthly table checksum (compare.py:
    table_fingerprint): the 'did the migration change anything, and in
    which month?' question answered with ONE keyed aggregate — no
    full-outer join, no sort, no row shipping. Each row renders a
    canonical '|'-joined string, md5 splits into two independent
    32-bit lanes, per-row residues (mod 1e6+3, overflow-safe to 10^12
    rows/group) sum commutatively so partitioning and row order can't
    touch the digest. Equal months fingerprint equal; a changed month
    is then drilled with the row-level diff."""
    from .compare import table_fingerprint

    o = _load(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderkey").cast("bigint").alias("k"),
        "o_orderstatus",
        "o_orderpriority",
        cents("o_totalprice").cast("long").alias("p_cents"),
    )
    fp = table_fingerprint(
        o,
        ["k", "o_orderstatus", "o_orderpriority", "p_cents"],
        "month",
        group_name="month",
    )
    return fp.orderBy("month")


QUERIES["k_anonymity_audit"] = q_k_anonymity_audit
QUERIES["ewma_nation_daily"] = q_ewma_nation_daily
QUERIES["benford_prices"] = q_benford_prices
QUERIES["compaction_bins"] = q_compaction_bins
QUERIES["checksum_orders_monthly"] = q_checksum_orders_monthly


ORACLES["k_anonymity_audit"] = """
WITH cls AS (
    SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS class_size,
           CAST(count(DISTINCT
                CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) // 100000)
                AS BIGINT) AS l_distinct
    FROM customer
    GROUP BY 1, 2
),
tot AS (
    SELECT CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
                * 1000 // sum(class_size) AS BIGINT) AS risk_milli
    FROM cls
)
SELECT c_mktsegment, c_nationkey, class_size, l_distinct,
       class_size < 10 AS at_risk, risk_milli
FROM cls CROSS JOIN tot
ORDER BY c_mktsegment, c_nationkey
"""


ORACLES["ewma_nation_daily"] = """
WITH daily AS (
    SELECT c_nationkey, CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS v
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
),
span AS (SELECT c_nationkey, max(day) AS last_day FROM daily GROUP BY 1),
offs AS (SELECT CAST(range AS INTEGER) AS off FROM range(0, 8)),
fan AS (
    SELECT d.c_nationkey, d.day + off AS day,
           d.v * (1 << (7 - off)) AS wv
    FROM daily d CROSS JOIN offs
),
dec AS (
    SELECT c_nationkey, day, CAST(sum(wv) AS BIGINT) AS decayed_scaled
    FROM fan GROUP BY 1, 2
),
gmax AS (SELECT max(CAST(o_orderdate AS DATE)) AS mx FROM orders)
SELECT dec.c_nationkey,
       CAST(dec.day - DATE '1970-01-01' AS BIGINT) AS day_idx,
       decayed_scaled
FROM dec
JOIN span USING (c_nationkey)
CROSS JOIN gmax
WHERE dec.day <= span.last_day AND dec.day >= mx - 13
ORDER BY 1, 2
"""


ORACLES["benford_prices"] = """
WITH c AS (
    SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
    FROM lineitem
),
per AS (
    SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
           CAST(count(*) AS BIGINT) AS n
    FROM c WHERE v > 0 GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per),
e(digit, exp_milli) AS (
    VALUES (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
           (6, 67), (7, 58), (8, 51), (9, 46)
)
SELECT per.digit, n,
       CAST(n * 1000 // t AS BIGINT) AS obs_milli,
       CAST(exp_milli AS BIGINT) AS exp_milli,
       CAST(abs(n * 1000 // t - exp_milli) AS BIGINT) AS dev_milli
FROM per JOIN e USING (digit) CROSS JOIN tot
ORDER BY digit
"""


ORACLES["compaction_bins"] = """
WITH f AS (
    SELECT CAST(l_orderkey % 311 AS BIGINT) AS file_id,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS size_bytes
    FROM lineitem GROUP BY 1
),
r AS (
    SELECT file_id, size_bytes,
           sum(size_bytes) OVER (
               ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - size_bytes AS before_b
    FROM f
),
b AS (SELECT *, before_b // 10000000000 AS bin_id FROM r)
SELECT CAST(bin_id AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
       CAST(min(file_id) AS BIGINT) AS first_file,
       CAST(max(file_id) AS BIGINT) AS last_file
FROM b GROUP BY 1 ORDER BY 1
"""


ORACLES["checksum_orders_monthly"] = """
WITH s AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR) AS c1,
           o_orderstatus AS c2, o_orderpriority AS c3,
           CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                AS VARCHAR) AS c4
    FROM orders
),
c AS (
    -- length-prefixed fields (len:value|, NULL as -|) — the same
    -- injection-proof canonical form as the Spark side
    SELECT month,
           coalesce(CAST(length(c1) AS VARCHAR) || ':' || c1 || '|', '-|')
        || coalesce(CAST(length(c2) AS VARCHAR) || ':' || c2 || '|', '-|')
        || coalesce(CAST(length(c3) AS VARCHAR) || ':' || c3 || '|', '-|')
        || coalesce(CAST(length(c4) AS VARCHAR) || ':' || c4 || '|', '-|')
           AS canon
    FROM s
),
h AS (
    SELECT month,
           CAST(('0x' || substr(md5(canon), 1, 8)) AS BIGINT)
               % 1000003 AS l1,
           CAST(('0x' || substr(md5(canon), 9, 8)) AS BIGINT)
               % 1000003 AS l2
    FROM c
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l1) AS BIGINT) AS sum_lane1,
       CAST(sum(l2) AS BIGINT) AS sum_lane2
FROM h GROUP BY month ORDER BY month
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix (joins.py:
    event_transitions): each user's event stream (ts, event_id total
    order — deterministic under duplicate timestamps) yields adjacent
    from->to steps; the |states|² grid carries exact counts and
    row-normalized milli probabilities. One keyed lag window + one
    hash aggregate; the from-state totals re-aggregate FROM THE GRID
    and join back broadcast — the event stream is scanned once."""
    from .joins import event_transitions

    ev = _load(spark, sf_dir, "events")
    return event_transitions(
        ev, "user_id", "ts", "event_type", tiebreak="event_id"
    ).orderBy("from_state", "to_state")


def q_contingency_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical independence screen (stats.py:
    contingency_independence): does order priority depend on market
    segment? Observed vs independence-expected cell shares in exact
    milli units (cross-multiplied BIGINTs — no floating chi² crosses
    engines); sum(dev_milli) div 2 is the joint-vs-product TVD. One
    data scan to the 5x5 cell grid; marginals re-aggregate from the
    GRID and join back broadcast."""
    from .stats import contingency_independence

    o = _load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return (
        contingency_independence(j, "c_mktsegment", "o_orderpriority")
        .select(
            F.col("a").alias("segment"),
            F.col("b").alias("priority"),
            "n",
            "obs_milli",
            "exp_milli",
            "dev_milli",
        )
        .orderBy("segment", "priority")
    )


def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (stats.py:fk_orphans): lineitem's
    three foreign keys, each checked in ONE pass — key projection,
    LEFT join against the dimension's distinct keys with a hit
    marker, one conditional aggregate folding total/NULL/dangling
    counts. Supplier and part are deliberately perturbed (every 7th /
    13th key dropped) so the orphan counts are non-trivial and
    deterministic; each relation is an independent branch of one
    union. NULL FKs count separately from dangling ones (different
    defect, different fix)."""
    from .stats import fk_orphans

    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    supp = _load(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 7 != 0
    )
    part = _load(spark, sf_dir, "part").filter(F.col("p_partkey") % 13 != 0)
    return fk_orphans(
        li,
        {
            "l_orderkey": (orders, "o_orderkey"),
            "l_partkey": (part, "p_partkey"),
            "l_suppkey": (supp, "s_suppkey"),
        },
    ).orderBy("relation")


QUERIES["event_transitions"] = q_event_transitions
QUERIES["contingency_segments"] = q_contingency_segments
QUERIES["fk_orphan_audit"] = q_fk_orphan_audit


ORACLES["event_transitions"] = """
WITH s AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS f
    FROM events
),
grid AS (
    SELECT f AS from_state, event_type AS to_state,
           CAST(count(*) AS BIGINT) AS n
    FROM s WHERE f IS NOT NULL GROUP BY 1, 2
),
tot AS (
    SELECT from_state, CAST(sum(n) AS BIGINT) AS from_total
    FROM grid GROUP BY 1
)
SELECT from_state, to_state, n, from_total,
       CAST(n * 1000 // from_total AS BIGINT) AS prob_milli
FROM grid JOIN tot USING (from_state)
ORDER BY from_state, to_state
"""


ORACLES["contingency_segments"] = """
WITH cells AS (
    SELECT c_mktsegment AS segment, o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
),
rm AS (SELECT segment, CAST(sum(n) AS BIGINT) AS row_total FROM cells GROUP BY 1),
cm AS (SELECT priority, CAST(sum(n) AS BIGINT) AS col_total FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
SELECT segment, priority, n,
       CAST(n * 1000 // total AS BIGINT) AS obs_milli,
       CAST(row_total * col_total * 1000 // (total * total) AS BIGINT)
           AS exp_milli,
       CAST(abs(n * 1000 // total
                - row_total * col_total * 1000 // (total * total))
            AS BIGINT) AS dev_milli
FROM cells JOIN rm USING (segment) JOIN cm USING (priority) CROSS JOIN tot
ORDER BY segment, priority
"""


ORACLES["fk_orphan_audit"] = """
WITH r1 AS (
    SELECT 'l_orderkey' AS relation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
                          AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
),
r2 AS (
    SELECT 'l_partkey' AS relation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN l.l_partkey IS NOT NULL
                          AND p.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan
    FROM lineitem l LEFT JOIN (
        SELECT p_partkey FROM part WHERE p_partkey % 13 <> 0
    ) p ON l.l_partkey = p.p_partkey
),
r3 AS (
    SELECT 'l_suppkey' AS relation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l.l_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN l.l_suppkey IS NOT NULL
                          AND s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan
    FROM lineitem l LEFT JOIN (
        SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 <> 0
    ) s ON l.l_suppkey = s.s_suppkey
),
u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
SELECT relation, n_rows, n_null, n_orphan,
       CAST(n_orphan * 1000 // n_rows AS BIGINT) AS orphan_milli
FROM u ORDER BY relation
"""


def q_typo_pairs_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 matching at scale (llmops/dedup.py:
    deletion_neighborhood_pairs): the FastSS deletion index over ALL
    customer names — each name explodes into its |s|+1 deletion
    variants, candidates come from the variant equi-join (never
    all-pairs levenshtein; the hot-variant cap bounds the f² blowup,
    replicated exactly in the oracle), and the built-in JVM
    ``levenshtein`` verifies candidates. Upgrades fuzzy_name_pairs'
    bounded-block demo to the real index. Output pins the full pair
    multiset per distance through count, an id-weighted digest, and
    id extremes."""
    from .llmops.dedup import deletion_neighborhood_pairs

    cust = _load(spark, sf_dir, "customer")
    pairs = deletion_neighborhood_pairs(
        cust, "c_name", "c_custkey", max_variant_freq=50
    )
    return (
        pairs.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.col("id_a").cast("bigint") * F.lit(100003)
                + F.col("id_b").cast("bigint")
            )
            .cast("bigint")
            .alias("pair_digest"),
            F.min("id_a").cast("bigint").alias("min_id_a"),
            F.max("id_b").cast("bigint").alias("max_id_b"),
        )
        .orderBy("dist")
    )


QUERIES["typo_pairs_names"] = q_typo_pairs_names


ORACLES["typo_pairs_names"] = """
WITH s AS (
    SELECT c_custkey AS id, c_name AS v FROM customer
    WHERE c_name IS NOT NULL
),
vars AS (
    SELECT id, v,
           unnest(list_distinct(list_append(
               list_transform(range(1, length(v) + 1),
                   i -> substr(v, 1, i - 1) || substr(v, i + 1)),
               v))) AS var
    FROM s
),
freq AS (SELECT var, count(*) AS f FROM vars GROUP BY 1),
cold AS (
    SELECT vars.id, vars.v, vars.var
    FROM vars JOIN freq USING (var) WHERE f <= 50
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.v AS val_a, b.v AS val_b
    FROM cold a JOIN cold b USING (var)
    WHERE a.id < b.id
),
pairs AS (
    SELECT id_a, id_b, CAST(levenshtein(val_a, val_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(val_a, val_b) <= 1
)
SELECT dist,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(id_a * 100003 + id_b) AS BIGINT) AS pair_digest,
       CAST(min(id_a) AS BIGINT) AS min_id_a,
       CAST(max(id_b) AS BIGINT) AS max_id_b
FROM pairs
GROUP BY dist
ORDER BY dist
"""


def q_ivm_join_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-join view maintenance (ivm.py:refresh_join_view): the
    per-nation revenue view over orders ⋈ customer kept current under
    inserts to BOTH sides — late orders (1997-07+) AND late customers
    (every 10th key, arriving after orders that reference them). The
    delta identity runs over STATES: new orders aggregate and join the
    full dimension; new customers join the standing per-custkey fact
    state, which stands in for every historical order — so the orphan
    orders become visible exactly when their dimension row lands, and
    the base fact is never rescanned. The result must equal the
    DuckDB full-rebuild oracle over the whole tables."""
    from .ivm import aggregate_state, join_view_state, refresh_join_view

    measures = {
        "n_orders": ("count", None),
        "revenue_cents": ("sum", cents("o_totalprice").cast("long")),
        "max_order_cents": ("max", cents("o_totalprice").cast("long")),
    }
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o_split = F.lit("1997-07-01").cast("date")
    base_fact = orders.filter(F.col("o_orderdate") < o_split)
    delta_fact = orders.filter(F.col("o_orderdate") >= o_split)
    base_dim = cust.filter(F.col("c_custkey") % 10 != 0)
    delta_dim = cust.filter(F.col("c_custkey") % 10 == 0)

    fact_state = aggregate_state(
        base_fact.withColumnRenamed("o_custkey", "c_custkey"),
        ["c_custkey"],
        measures,
    )
    view = join_view_state(
        fact_state, base_dim, "c_custkey", ["c_nationkey"], measures
    )
    new_view, _new_fs = refresh_join_view(
        view,
        fact_state,
        base_dim,
        delta_fact.withColumnRenamed("o_custkey", "c_custkey"),
        delta_dim,
        "c_custkey",
        ["c_nationkey"],
        measures,
    )
    return new_view.select(
        "c_nationkey",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        F.col("max_order_cents").cast("bigint").alias("max_order_cents"),
    ).orderBy("c_nationkey")


QUERIES["ivm_join_nation"] = q_ivm_join_nation


ORACLES["ivm_join_nation"] = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS max_order_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_ivm_retract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM under deletes (ivm.py:refresh_with_retractions): the
    standing per-customer aggregate built over ALL orders absorbs a
    retraction batch (every 1998-06+ order withdrawn, sign -1) and
    must equal the full recompute over the surviving rows — including
    ABSENCE: a customer whose every order was retracted must vanish
    from the state, not linger with zeros. Signed states make deletes
    additive (sum carries sign*value, count carries sign); min/max are
    rejected as non-retractable. One union + one key exchange over
    key-sized frames; the base is never rescanned."""
    from .ivm import aggregate_state, refresh_with_retractions

    measures = {
        "n_orders": ("count", None),
        "revenue_cents": ("sum", cents("o_totalprice").cast("long")),
    }
    orders = _load(spark, sf_dir, "orders")
    split = F.lit("1998-06-01").cast("date")
    state = aggregate_state(orders, ["o_custkey"], measures)
    retract = orders.filter(F.col("o_orderdate") >= split).withColumn(
        "__sign__", F.lit(-1).cast("bigint")
    )
    out = refresh_with_retractions(
        state, retract, ["o_custkey"], measures, "__sign__", "n_orders"
    )
    return out.select(
        "o_custkey",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
    ).orderBy("o_custkey")


QUERIES["ivm_retract_orders"] = q_ivm_retract_orders


ORACLES["ivm_retract_orders"] = """
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderdate < TIMESTAMP '1998-06-01'
GROUP BY o_custkey
ORDER BY o_custkey
"""


def q_segment_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance screen (stats.py:group_diversity): per-nation
    market-segment mix as exact integer Gini impurity and
    inverse-Simpson effective class count — the degenerate-slice
    detector a training pipeline runs per source/language, here over
    the customer dimension. Both metrics are rational in the counts
    (cross-multiplied BIGINTs), chosen over Shannon entropy precisely
    because log has no exact cross-engine form. One scan to (nation,
    segment) cells, one grid-sized re-aggregate."""
    from .stats import group_diversity

    cust = _load(spark, sf_dir, "customer")
    return (
        group_diversity(cust, "c_nationkey", "c_mktsegment")
        .withColumnRenamed("grp", "c_nationkey")
        .orderBy("c_nationkey")
    )


QUERIES["segment_diversity"] = q_segment_diversity


ORACLES["segment_diversity"] = """
WITH cells AS (
    SELECT c_nationkey AS grp, c_mktsegment AS lbl,
           CAST(count(*) AS BIGINT) AS n
    FROM customer GROUP BY 1, 2
),
per AS (
    SELECT grp,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(n * n) AS BIGINT) AS sum_sq,
           CAST(count(*) AS BIGINT) AS n_classes
    FROM cells GROUP BY grp
)
SELECT grp AS c_nationkey, n_rows, n_classes,
       CAST(1000000 - sum_sq * 1000000 // (n_rows * n_rows) AS BIGINT)
           AS gini_micro,
       CAST(n_rows * n_rows * 1000 // sum_sq AS BIGINT)
           AS inv_simpson_milli
FROM per ORDER BY c_nationkey
"""


def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidates (llmops/multimodal.py:image_dhash +
    dhash_candidates): perceptual difference-hash per image (9x8
    nearest resize, one bit per adjacent-pixel comparison, two 32-bit
    halves), 16-bit banding for candidate generation (posting-list
    pairs, one exchange, hot-bucket cap — never all-pairs), exact
    Hamming verification JVM-side. The synthetic image model is the
    same one png_roundtrip_features pins through the real PNG codec,
    so the oracle reproduces every hash bit arithmetically — a value
    match proves resize, bit assembly, banding, and Hamming all at
    once."""
    from .llmops.multimodal import dhash_candidates, image_dhash

    docs = _load(spark, sf_dir, "documents")
    hashes = image_dhash(docs)
    return dhash_candidates(hashes, max_bucket=50).orderBy("id_a", "id_b")


QUERIES["image_dhash_pairs"] = q_image_dhash_pairs


ORACLES["image_dhash_pairs"] = """
WITH g AS (
    SELECT doc_id,
           CAST(8 + doc_id % 5 AS INT) AS w,
           CAST(6 + doc_id % 4 AS INT) AS h,
           md5(CAST(doc_id AS VARCHAR)) AS hx
    FROM documents
),
grid9 AS (
    SELECT doc_id, CAST(y.i AS INT) AS y, CAST(x.i AS INT) AS x,
           ascii(substr(hx,
               CAST((((CAST(y.i AS INT) * h) // 8) * w
                     + ((CAST(x.i AS INT) * w) // 9)) % 32 AS INT) + 1,
               1)) AS px
    FROM g, unnest(range(0, 8)) y(i), unnest(range(0, 9)) x(i)
),
bits AS (
    SELECT a.doc_id, a.y, a.x,
           CASE WHEN b.px > a.px THEN 1 ELSE 0 END AS bit
    FROM grid9 a JOIN grid9 b
      ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
    WHERE a.x < 8
),
hashes AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN y < 4
                THEN bit * (1::BIGINT << CAST(y * 8 + x AS INT))
                ELSE 0 END) AS BIGINT) AS dh_hi,
           CAST(sum(CASE WHEN y >= 4
                THEN bit * (1::BIGINT << CAST((y - 4) * 8 + x AS INT))
                ELSE 0 END) AS BIGINT) AS dh_lo
    FROM bits GROUP BY doc_id
),
bands AS (
    SELECT doc_id, dh_hi, dh_lo, b, v FROM (
        SELECT *, dh_hi // 65536 AS v, 0 AS b FROM hashes
        UNION ALL SELECT *, dh_hi % 65536, 1 FROM hashes
        UNION ALL SELECT *, dh_lo // 65536, 2 FROM hashes
        UNION ALL SELECT *, dh_lo % 65536, 3 FROM hashes
    )
),
freq AS (SELECT b, v, count(*) AS f FROM bands GROUP BY 1, 2),
cold AS (
    SELECT bands.* FROM bands JOIN freq USING (b, v) WHERE f <= 50
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, a.dh_hi AS hi_a, a.dh_lo AS lo_a,
                    bb.doc_id AS id_b, bb.dh_hi AS hi_b, bb.dh_lo AS lo_b
    FROM cold a JOIN cold bb ON a.b = bb.b AND a.v = bb.v
    WHERE a.doc_id < bb.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
            AS BIGINT) AS hamming
FROM cand
ORDER BY id_a, id_b
"""


def q_auc_dsir_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation (stats.py:binary_auc): exact ROC-AUC
    of the DSIR importance score against its own target definition
    (lang == 'en') — the does-the-selector-actually-rank-target-docs-
    higher sanity check, in pure BIGINT Mann-Whitney arithmetic (ties
    exact, no per-row rank: the ordered scan runs over distinct-score
    CELLS, metadata-scale). One row: n_pos, n_neg, auc_micro."""
    from .llmops.textstats import dsir_scores
    from .stats import binary_auc

    docs = _load(spark, sf_dir, "documents")
    scored = dsir_scores(docs, target=F.col("lang") == F.lit("en"), buckets=64)
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "score_milli", (F.col("lang") == F.lit("en")).alias("is_en")
    )
    return binary_auc(lab, "score_milli", "is_en")


def q_calibration_dsir_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (stats.py:calibration_bins): the DSIR score
    in fixed 10-milli bands (the hashed-unigram ratio concentrates
    near 1000 milli, so narrow bands resolve the diagram), each with
    its row count, target share (milli) and mean score — 'when the selector scores a band higher,
    is the band actually richer in target docs?'. Fixed-width bands
    (not quantiles) keep the binning engine-identical; one hash
    aggregate."""
    from .llmops.textstats import dsir_scores
    from .stats import calibration_bins

    docs = _load(spark, sf_dir, "documents")
    scored = dsir_scores(docs, target=F.col("lang") == F.lit("en"), buckets=64)
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "score_milli", (F.col("lang") == F.lit("en")).alias("is_en")
    )
    return calibration_bins(lab, "score_milli", "is_en", 10).orderBy("band")


QUERIES["auc_dsir_en"] = q_auc_dsir_en
QUERIES["calibration_dsir_en"] = q_calibration_dsir_en


ORACLES["auc_dsir_en"] = _DSIR_CTE + """
, lab AS (
    SELECT f.score_milli AS s,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM f JOIN documents d ON f.doc_id = d.doc_id
),
cells AS (
    SELECT s, CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(1 - pos) AS BIGINT) AS n_neg
    FROM lab GROUP BY s
),
r AS (
    SELECT *, coalesce(sum(n_neg) OVER (
        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS cum_neg
    FROM cells
)
SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n_neg) AS BIGINT) AS n_neg,
       CAST(sum(n_pos * (2 * cum_neg + n_neg)) * 1000000
            // (2 * sum(n_pos) * sum(n_neg)) AS BIGINT) AS auc_micro
FROM r
"""


ORACLES["calibration_dsir_en"] = _DSIR_CTE + """
, lab AS (
    SELECT f.score_milli AS s,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM f JOIN documents d ON f.doc_id = d.doc_id
)
SELECT CAST(s // 10 AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(pos) * 1000 // count(*) AS BIGINT) AS pos_milli,
       CAST(sum(s) // count(*) AS BIGINT) AS mean_score
FROM lab
GROUP BY 1 ORDER BY 1
"""


# Index-fed retrieval: the correctness contract IS "ranking against
# the written build_text_index artifact == inline ranking", so the
# oracles are the inline queries' SQL verbatim.
ORACLES["bm25_indexed"] = ORACLES["bm25_retrieval"]
ORACLES["sparse_indexed"] = ORACLES["sparse_retrieval"]

# Text-index DELETES: the contract is index-after-takedowns ==
# rebuild-from-surviving-docs, so the oracle is bm25_retrieval's SQL
# with the deleted docs (corpus ids where doc_id % 5 == 0) excluded
# from the corpus CTE — everything downstream (df, dl, avgdl, n_docs,
# ranking) recomputes from the survivors.
QUERIES["bm25_after_delete"] = q_bm25_after_delete
_BM25_CORPUS_CTE = "c AS (SELECT * FROM tf WHERE doc_id % 97 <> 0),"
assert _BM25_CORPUS_CTE in ORACLES["bm25_retrieval"]
ORACLES["bm25_after_delete"] = ORACLES["bm25_retrieval"].replace(
    _BM25_CORPUS_CTE,
    "c AS (SELECT * FROM tf"
    " WHERE doc_id % 97 <> 0 AND doc_id % 5 <> 0),",
)

# Incremental ANN append: the contract is append-then-query ==
# build-from-scratch-with-the-same-frozen-books, so the oracle is the
# similarity_ivf_pq_topk SQL with BOTH centroid samples (cells ':42',
# codes ':43') drawn from the BASE subset (vec_id % 7 != 0) while
# assignment/encoding/ranking run over the full corpus — exactly what
# the frozen-book append produces.
QUERIES["ann_append_query"] = q_ann_append_query
_ANN_SQL = ORACLES["similarity_ivf_pq_topk"]
for _tag in ("':42'", "':43'"):
    _anchor = (
        "    SELECT vec_id AS cid, q AS cq FROM vq\n"
        f"    ORDER BY md5(CAST(vec_id AS VARCHAR) || {_tag}), vec_id\n"
    )
    assert _anchor in _ANN_SQL, _tag
    _ANN_SQL = _ANN_SQL.replace(
        _anchor,
        "    SELECT vec_id AS cid, q AS cq FROM vq"
        " WHERE vec_id % 7 <> 0\n"
        f"    ORDER BY md5(CAST(vec_id AS VARCHAR) || {_tag}), vec_id\n",
    )
ORACLES["ann_append_query"] = _ANN_SQL

# ANN tombstone deletes: frozen full-corpus books, candidate stream
# restricted to survivors — exactly what the query-time anti-join of
# the tombstone table produces.
QUERIES["ann_delete_query"] = q_ann_delete_query

# Cell-partitioned layout: pruning must not change a single ranking,
# so the oracle is the flat ivf_pq SQL verbatim.
QUERIES["ann_partitioned_query"] = q_ann_partitioned_query
ORACLES["ann_partitioned_query"] = ORACLES["similarity_ivf_pq_topk"]

# Retrain/migration: retrained-on-current-corpus == fresh-build-on-
# current-corpus (same md5 sampling, same seed), so the oracle is the
# flat full-corpus ivf_pq SQL verbatim.
QUERIES["ann_retrain_query"] = q_ann_retrain_query
ORACLES["ann_retrain_query"] = ORACLES["similarity_ivf_pq_topk"]

# Recall audit of the appended frozen-book index: both legs are
# already-checked oracles, composed exactly like similarity_pq_recall.
QUERIES["ann_recall_after_append"] = q_ann_recall_after_append
ORACLES["ann_recall_after_append"] = f"""
WITH truth AS ({ORACLES["similarity_topk"]}),
approx AS ({ORACLES["ann_append_query"]}),
m AS (
    SELECT a.probe_id, CAST(count(*) AS BIGINT) AS n_matched
    FROM approx a JOIN truth t
      ON a.probe_id = t.probe_id AND a.neighbor_id = t.neighbor_id
    GROUP BY a.probe_id
),
pr AS (SELECT DISTINCT probe_id FROM truth)
SELECT pr.probe_id,
       CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(coalesce(m.n_matched, 0) * 100 AS BIGINT) AS recall_milli
FROM pr LEFT JOIN m ON pr.probe_id = m.probe_id
ORDER BY pr.probe_id
"""
_ANN_CAND_CTE = "    FROM cells cl JOIN probe_cells pc ON cl.cell = pc.cell\n"
assert _ANN_CAND_CTE in ORACLES["similarity_ivf_pq_topk"]
ORACLES["ann_delete_query"] = ORACLES["similarity_ivf_pq_topk"].replace(
    _ANN_CAND_CTE,
    _ANN_CAND_CTE + "    WHERE cl.vec_id % 9 <> 0\n",
)


def q_ivm_minmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extrema under deletes — the min/max retraction story
    (ivm.py:topk_state / refresh_topk_with_retractions / repair_topk):
    refresh_with_retractions correctly REJECTS min/max (no inverse);
    this maintains the per-customer max and second-max order value as
    a bounded top-4 window instead.  Base state over pre-1998-03
    orders, an insert batch (1998-03+), then a retraction batch
    (every 1998-06+ order withdrawn — the same rows just inserted,
    digging into stored windows), then repair_topk rescans EXACTLY
    the flagged keys against the surviving base (semi-join, never a
    full scan).  After repair every key satisfies the exactness
    invariant, so max/second-max must equal the full recompute over
    surviving rows — including absence for fully-retracted customers.
    Per-key state is <= 4 values + 2 scalars; untouched keys pass
    through maintenance via an anti-join."""
    from .ivm import (
        refresh_topk_with_retractions,
        repair_topk,
        topk_state,
    )

    orders = _load(spark, sf_dir, "orders")
    v = cents("o_totalprice").cast("long")
    ins_split = F.lit("1998-03-01").cast("date")
    ret_split = F.lit("1998-06-01").cast("date")
    # each maintenance step consumes its input state several ways
    # (anti + semi key split, meta + cells branches), so the standing
    # state materializes between steps — exactly what a real deployment
    # does (the state IS a table); lazily the whole chain would
    # recompute once per branch, multiplying per step.  r15 (VERDICT
    # r14 #3, guide §7.2): scale.pinned replaces persist —
    # persist keeps LINEAGE, so every downstream reference re-embedded
    # (and AQE re-planned) the whole upstream maintenance tree, 48 jobs
    # for the 4-step chain; the checkpoint truncates each step's plan
    # to a flat scan of the key-sized state (before/after measured in
    # OPTIMIZATION_r15.md).
    # The coalesce still right-sizes the KEY-SIZED state first:
    # unionByName concatenates both legs' partitions, so without it
    # each step inflates the partition count and the checkpoint pays a
    # fleet of near-empty tasks.  The retraction-netting arithmetic is
    # untouched — only the materialization of the state between steps.
    st = topk_state(
        orders.filter(F.col("o_orderdate") < ins_split),
        ["o_custkey"],
        v,
        4,
    ).coalesce(8).transform(pinned)
    inserts = orders.filter(F.col("o_orderdate") >= ins_split).withColumn(
        "__sign__", F.lit(1).cast("bigint")
    )
    st = refresh_topk_with_retractions(
        st, inserts, ["o_custkey"], v, "__sign__", 4
    ).coalesce(8).transform(pinned)
    retracts = orders.filter(F.col("o_orderdate") >= ret_split).withColumn(
        "__sign__", F.lit(-1).cast("bigint")
    )
    st = refresh_topk_with_retractions(
        st, retracts, ["o_custkey"], v, "__sign__", 4
    ).coalesce(8).transform(pinned)
    surviving = orders.filter(F.col("o_orderdate") < ret_split)
    st = repair_topk(st, surviving, ["o_custkey"], v, 4)
    return st.select(
        "o_custkey",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.expr("try_element_at(topk, 1)").cast("bigint").alias("max_cents"),
        F.expr("try_element_at(topk, 2)")
        .cast("bigint")
        .alias("second_max_cents"),
    ).orderBy("o_custkey")


QUERIES["ivm_minmax_orders"] = q_ivm_minmax_orders


ORACLES["ivm_minmax_orders"] = """
WITH surv AS (
    SELECT o_custkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(cents) AS BIGINT) AS max_cents,
       CAST(list_sort(list(cents), 'DESC')[2] AS BIGINT)
           AS second_max_cents
FROM surv GROUP BY o_custkey ORDER BY o_custkey
"""


def q_optimize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OPTIMIZE (scale.py:optimize_incremental — the
    composition of compaction_plan and the z-order write, in place):
    documents materialize as one parquet file per lang (deterministic
    names, so the inventory and therefore the bin plan are
    engine-reproducible), the planner bins the inventory at
    target = total_rows div 3, and ONLY multi-file bins rewrite into
    z-clustered files — the singleton bin's file is left physically
    untouched (byte-identical path, the incremental contract: repeat
    runs cost proportional to new small files, not to the table).
    Output: the per-file action report joined with a layout-invariance
    check — the order-independent table fingerprint of the optimized
    directory must equal the original table's (fp_match), so a
    row lost or duplicated by the rewrite breaks the oracle hash.
    The oracle reproduces the binning arithmetically from per-lang
    counts and asserts fp_match TRUE."""
    import os
    import shutil
    import tempfile
    import urllib.parse

    import pyarrow.parquet as pq
    from pyspark.sql import Observation

    from . import commit
    from .compare import fingerprint_exprs, table_fingerprint
    from .scale import optimize_incremental

    docs = _load(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    # fixed scratch table, rebuilt from zero each call (the optimizer
    # mutates it in place, so stale generations must not survive into
    # the next invocation's inventory) — bounded disk across repeated
    # gate/bench runs (code-review finding)
    table = os.path.join(tempfile.gettempdir(), "spark_graft_optinc")
    if os.path.isdir(table):
        shutil.rmtree(table)
    os.makedirs(table)
    # ONE repartition-by-lang write replaces the old per-lang scan
    # loop (r15, guide §1.2/§2.2: N corpus scans + a distinct collect
    # → one scan): hash-partitioning on the lang column puts each
    # lang's rows in exactly one task, so partitionBy emits exactly
    # one file per lang dir, renamed below to the same deterministic
    # {lang}.parquet names.  The partition column is a COPY (__pl__)
    # so the data files keep the lang column itself.  fp_before rides
    # the same pass via observe() — the fingerprint is a commutative
    # global aggregate, exactly fingerprint_exprs — instead of paying
    # a second full corpus scan.
    staging = os.path.join(table, "_st")
    obs = Observation("fp_before")
    (
        docs.observe(obs, *fingerprint_exprs(cols))
        .withColumn("__pl__", F.col("lang"))
        .repartition(F.col("__pl__"))
        .write.mode("overwrite")
        .partitionBy("__pl__")
        .parquet(staging)
    )
    for d in sorted(os.listdir(staging)):
        if not d.startswith("__pl__="):
            continue
        lang = urllib.parse.unquote(d[len("__pl__=") :])
        commit.publish_file(
            spark,
            os.path.join(staging, d),
            os.path.join(table, f"{lang}.parquet"),
        )
    commit.delete(spark, staging)
    fp_before = obs.get
    # total row count from the freshly written footers — driver-side
    # metadata, no Spark job (the table holds exactly docs' rows)
    total = sum(
        int(pq.ParquetFile(os.path.join(table, n)).metadata.num_rows)
        for n in os.listdir(table)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )
    report = optimize_incremental(spark, table, ["doc_id"], total // 3)
    fp_after = table_fingerprint(
        spark.read.parquet(table).select(*cols), cols, F.lit(1), "g"
    ).collect()[0]
    match = (
        fp_before["n_rows"],
        fp_before["sum_lane1"],
        fp_before["sum_lane2"],
    ) == (fp_after["n_rows"], fp_after["sum_lane1"], fp_after["sum_lane2"])
    return report.select(
        "file",
        F.col("rows").alias("n_rows"),
        "bin_id",
        "n_files_in_bin",
        "action",
        F.lit(bool(match)).alias("fp_match"),
    ).orderBy("file")


QUERIES["optimize_incremental"] = q_optimize_incremental


ORACLES["optimize_incremental"] = """
WITH counts AS (
    SELECT lang || '.parquet' AS file, CAST(count(*) AS BIGINT) AS n_rows
    FROM documents GROUP BY lang
),
tot AS (SELECT CAST(count(*) // 3 AS BIGINT) AS target FROM documents),
planned AS (
    SELECT file, n_rows,
           CAST((sum(n_rows) OVER (
                    ORDER BY file
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_rows) // target AS BIGINT) AS bin_id
    FROM counts CROSS JOIN tot
),
bins AS (SELECT bin_id, count(*) AS nf FROM planned GROUP BY bin_id)
SELECT p.file, p.n_rows, p.bin_id, CAST(b.nf AS INT) AS n_files_in_bin,
       CASE WHEN b.nf >= 2 THEN 'rewritten' ELSE 'kept' END AS action,
       TRUE AS fp_match
FROM planned p JOIN bins b USING (bin_id)
ORDER BY p.file
"""


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe corpus split (llmops/dedup.py:cluster_split):
    train/val/test assignment keyed by the NEAR-DUP CLUSTER's
    canonical id (exact connected components over the same LSH-
    verified pair graph as dedup_components; singletons key by their
    own id), so a near-duplicate of a held-out document can never
    leak into train — the decontamination property a per-document
    hash split (corpus_split) cannot give.  Same md5-permille
    bucketing as corpus_split, so the two agree exactly on documents
    with no near dup.  Oracle: the dedup_components recursive-CTE
    component table joined onto documents with the identical md5
    arithmetic."""
    from .llmops.dedup import cluster_split, minhash_lsh_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=3, num_hashes=64, bands=16, threshold=0.5
    )
    return cluster_split(docs, pairs, train_permille=800, val_permille=100)


QUERIES["cluster_split"] = q_cluster_split


def q_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production INGEST loop (llmops/pipeline.py:
    ingest_pipeline): the md5-permille tail 20% of documents arrives
    as a batch against the standing 80% corpus → Bloom-prescreened
    exact decontamination (confirmed dups drop) → the survivors'
    one-pass tf delta (the exact rows run_text_index_update appends;
    dl surfaces per survivor) → leakage-safe cluster_split assignment
    over corpus ∪ survivors (a near-dup of a standing doc inherits
    its split).  The oracle is the hand-staged equivalent: the bloom
    verdict's no-false-negative guarantee makes survivors exactly
    'digest not in corpus', the CC/split CTEs are cluster_split's
    verbatim over the live doc set, and dl is the token count."""
    from .llmops.pipeline import ingest_pipeline

    docs = _load(spark, sf_dir, "documents")
    split_b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(1000)
    )
    corpus = docs.filter(split_b < 800)
    batch = docs.filter(split_b >= 800)
    return ingest_pipeline(batch, corpus)


QUERIES["ingest_pipeline"] = q_ingest_pipeline


# Reuse dedup_components' verified-pair + reachability CTEs verbatim
# (string prefix split on its final SELECT), so the two oracles can
# never drift apart on what "the near-dup cluster" means.
_CC_PREFIX = ORACLES["dedup_components"].rsplit(
    "SELECT CAST(id AS BIGINT) AS doc_id", 1
)[0]

ORACLES["cluster_split"] = _CC_PREFIX + """
, canon AS (
    SELECT d.doc_id,
           CAST(coalesce(cc.component, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
),
b AS (
    SELECT doc_id, cluster_id,
           CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS bucket_permille
    FROM canon
)
SELECT doc_id, cluster_id, bucket_permille,
       CASE WHEN bucket_permille < 800 THEN 'train'
            WHEN bucket_permille < 900 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""

# The composed ingest loop's oracle: the hand-staged equivalent.
# Surgery on _cc_sql(): the near-dup pair graph / CC must run over the
# LIVE doc set (standing corpus ∪ decontamination survivors) — an
# exact-dup batch doc must not participate in clustering (its corpus
# twin carries identical edges, but a smaller-id dup would shift the
# cluster's canonical id).  The bloom prescreen has no false
# negatives, so "NOT confirmed" is exactly "digest not in corpus".
_CC = _cc_sql()
assert _CC.count("FROM documents") == 1
# order matters: point words_cte at `live` FIRST, then prepend the
# d0/live CTEs (which legitimately read `documents`) — the reverse
# order would rewrite d0's own scan and make `live` circular.
_CC_LIVE = _CC.replace("FROM documents\n)", "FROM live\n)", 1).replace(
    "WITH RECURSIVE words_cte AS (",
    """WITH RECURSIVE d0 AS (
    SELECT doc_id, text, sha256(coalesce(text, '')) AS dg,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS b
    FROM documents
),
live AS (
    SELECT doc_id, text, b FROM d0
    WHERE b < 800
       OR dg NOT IN (SELECT dg FROM d0 WHERE b < 800)
),
words_cte AS (""",
    1,
)
assert _CC_LIVE.count("FROM live\n)") == 1

ORACLES["ingest_pipeline"] = _CC_LIVE + """
, canon AS (
    SELECT l.doc_id, l.b,
           CAST(coalesce(cc.component, l.doc_id) AS BIGINT) AS cluster_id
    FROM live l LEFT JOIN cc ON l.doc_id = cc.id
),
asg AS (
    SELECT doc_id, b, cluster_id,
           CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS bp
    FROM canon
),
dls AS (
    SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM words_cte
)
SELECT a.doc_id, a.cluster_id,
       CASE WHEN a.bp < 800 THEN 'train'
            WHEN a.bp < 900 THEN 'val'
            ELSE 'test' END AS split,
       coalesce(d.dl, 0) AS dl
FROM asg a LEFT JOIN dls d USING (doc_id)
WHERE a.b >= 800
"""


def q_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE ingest (llmops/pipeline.py:
    ingest_pipeline_incremental — VERDICT r11 Next #2): the standing
    corpus (md5-permille b < 700) materializes its dedup front-end
    ONCE as the ingest state (digests, bloom bits, minhash front,
    band-bucket postings, verified pairs — ingest_state_build), then
    TWO batches arrive in sequence (b in [700, 850), then b >= 850)
    and each is processed against the state with no corpus-scale
    recomputation: batch text is the only text read, batch-vs-corpus
    pairs come from the standing postings, corpus-internal pairs are
    never re-verified, and each batch's survivors commit into the
    state before the next arrives.  Returned: the SECOND batch's
    assignments — so the row values prove the first batch's commit
    (its survivors' digests drop batch-2 exact dups; its pairs pull
    batch-2 near-dups into the right clusters).  Oracle: the
    hand-staged full-repair equivalent — two-stage survivor
    filtering, one CC over the final live set (the same surgery as
    ingest_pipeline's oracle), selecting batch-2 rows."""
    from .llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_build,
    )

    docs = _load(spark, sf_dir, "documents")
    split_b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(1000)
    )
    corpus = docs.filter(split_b < 700)
    batch1 = docs.filter((split_b >= 700) & (split_b < 850))
    batch2 = docs.filter(split_b >= 850)
    path = _scratch_dir(spark, "ingest_state")
    ingest_state_build(corpus, path)
    ingest_pipeline_incremental(batch1, path)
    # receipts carry (bucket_permille, kind) since r13 — kind='batch'
    # rows projected to the full-repair schema for this oracle; the
    # reassignment receipts get their own merge-shaped query
    # (ingest_reassign) whose oracle covers the whole live corpus.
    return (
        ingest_pipeline_incremental(batch2, path)
        .filter(F.col("kind") == "batch")
        .select("doc_id", "cluster_id", "split", "dl")
    )


QUERIES["ingest_incremental"] = q_ingest_incremental

# Same surgery as ingest_pipeline's oracle, with the live set staged
# TWICE: live1 = corpus ∪ batch-1 survivors (digest not in corpus),
# live = live1 ∪ batch-2 survivors (digest not in live1 — so a batch-2
# doc identical to a batch-1 SURVIVOR drops, exactly the state's
# committed digests).  CC runs once over the final live set; batch-2
# rows are selected at the end.
_CC_LIVE2 = _CC.replace("FROM documents\n)", "FROM live\n)", 1).replace(
    "WITH RECURSIVE words_cte AS (",
    """WITH RECURSIVE d0 AS (
    SELECT doc_id, text, sha256(coalesce(text, '')) AS dg,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS b
    FROM documents
),
live1 AS (
    SELECT doc_id, text, dg, b FROM d0
    WHERE b < 700
       OR (b < 850 AND dg NOT IN (SELECT dg FROM d0 WHERE b < 700))
),
live AS (
    SELECT doc_id, text, b FROM live1
    UNION ALL
    SELECT doc_id, text, b FROM d0
    WHERE b >= 850 AND dg NOT IN (SELECT dg FROM live1)
),
words_cte AS (""",
    1,
)
assert _CC_LIVE2.count("FROM live\n)") == 1

ORACLES["ingest_incremental"] = _CC_LIVE2 + """
, canon AS (
    SELECT l.doc_id, l.b,
           CAST(coalesce(cc.component, l.doc_id) AS BIGINT) AS cluster_id
    FROM live l LEFT JOIN cc ON l.doc_id = cc.id
),
asg AS (
    SELECT doc_id, b, cluster_id,
           CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS bp
    FROM canon
),
dls AS (
    SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM words_cte
)
SELECT a.doc_id, a.cluster_id,
       CASE WHEN a.bp < 800 THEN 'train'
            WHEN a.bp < 900 THEN 'val'
            ELSE 'test' END AS split,
       coalesce(d.dl, 0) AS dl
FROM asg a LEFT JOIN dls d USING (doc_id)
WHERE a.b >= 850
"""


def q_ingest_reassign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-SHAPED steady-state ingest (llmops/pipeline.py:
    ingest_pipeline_incremental + ingest_state_assignments — VERDICT
    r12 Next #1): the standing corpus (md5-permille b < 300) builds
    its state, then ONE batch arrives carrying (a) genuinely fresh
    docs (b >= 930) and (b) UNDERCUT near-dups — for every corpus doc
    with b < 30, a derived twin with doc_id - 10,000,000 and a 'zqx'
    suffix, guaranteed to verify against its source at the default
    threshold and to carry an id SMALLER than any standing component
    min.  Every such edge moves its standing cluster's canonical id
    (and so its md5-permille split bucket): the ingest must emit
    kind='reassign' receipts and fold them into the standing assign
    table, or the committed standing assignments would contradict the
    full-repair truth.  Returned: the standing assignment table for
    the WHOLE live corpus after the batch — so a single full-repair
    CC oracle over the final live set checks both the batch
    assignments and every applied reassignment at once (a missed
    reassignment leaves a stale cluster_id row and hash-mismatches).
    """
    from .llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_assignments,
        ingest_state_build,
    )

    docs = _load(spark, sf_dir, "documents")
    split_b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(1000)
    )
    corpus = docs.filter(split_b < 300).select("doc_id", "text")
    fresh = docs.filter(split_b >= 930).select("doc_id", "text")
    undercut = docs.filter(split_b < 30).select(
        (F.col("doc_id") - F.lit(10000000)).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqx")).alias("text"),
    )
    batch = fresh.unionByName(undercut)
    path = _scratch_dir(spark, "ingest_reassign_state")
    ingest_state_build(corpus, path)
    ingest_pipeline_incremental(batch, path)
    return ingest_state_assignments(spark, path)


QUERIES["ingest_reassign"] = q_ingest_reassign

# One full-repair CC over the final live set (corpus ∪ batch
# survivors, including the derived undercut twins), then
# cluster_split's verbatim canon/bucket/split arithmetic for EVERY
# live doc — the standing assign table must equal it row-for-row.
_CC_R13 = _CC.replace("FROM documents\n)", "FROM live\n)", 1).replace(
    "WITH RECURSIVE words_cte AS (",
    """WITH RECURSIVE d0 AS (
    SELECT doc_id, text, sha256(coalesce(text, '')) AS dg,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS b
    FROM documents
),
arriving AS (
    SELECT doc_id, text FROM d0 WHERE b >= 930
    UNION ALL
    SELECT doc_id - 10000000 AS doc_id, text || ' zqx' AS text
    FROM d0 WHERE b < 30
),
bk AS (
    SELECT doc_id, text, sha256(coalesce(text, '')) AS dg FROM arriving
),
live AS (
    SELECT doc_id, text FROM d0 WHERE b < 300
    UNION ALL
    SELECT doc_id, text FROM bk
    WHERE dg NOT IN (SELECT dg FROM d0 WHERE b < 300)
),
words_cte AS (""",
    1,
)
assert _CC_R13.count("FROM live\n)") == 1

ORACLES["ingest_reassign"] = _CC_R13 + """
, canon AS (
    SELECT l.doc_id,
           CAST(coalesce(cc.component, l.doc_id) AS BIGINT) AS cluster_id
    FROM live l LEFT JOIN cc ON l.doc_id = cc.id
),
bkt AS (
    SELECT doc_id, cluster_id,
           CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS bucket_permille
    FROM canon
)
SELECT doc_id, cluster_id, bucket_permille,
       CASE WHEN bucket_permille < 800 THEN 'train'
            WHEN bucket_permille < 900 THEN 'val'
            ELSE 'test' END AS split
FROM bkt
"""


def q_ingest_compact_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM LIFECYCLE under ingest (llmops/pipeline.py:
    ingest_state_compact — VERDICT r12 Next #3): the standing state
    (even doc_ids, md5-permille b < 700) is built with a DELIBERATELY
    undersized membership sketch (m_bits=128 — saturated from day
    one, prescreen passing ~everything to the confirmation join),
    batch 1 (b in [700, 850)) ingests against it, then the compactor
    folds the state AND rebuilds the bloom at an auto-sized
    corpus-scale geometry carried in the table's own columns; batch 2
    (b >= 850) ingests against the resized sketch.  Verdicts must be
    IDENTICAL to the right-sized run — the bloom only prescreens,
    membership is always confirmed against digests — so the oracle is
    the same hand-staged two-batch full-repair SQL, on the halved doc
    set.  Returned: batch-2 assignments (full-repair schema)."""
    from .llmops.pipeline import (
        ingest_pipeline_incremental,
        ingest_state_build,
        ingest_state_compact,
    )

    # quarter doc set: this query gates the bloom-lifecycle SEMANTICS
    # (resize changes no verdict) through the driver; the saturation
    # economics are measured in SCALE.md and pinned in pytest, so the
    # gate stays light rather than re-paying the full corpus build
    docs = _load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    split_b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(1000)
    )
    corpus = docs.filter(split_b < 700)
    batch1 = docs.filter((split_b >= 700) & (split_b < 850))
    batch2 = docs.filter(split_b >= 850)
    path = _scratch_dir(spark, "ingest_resize_state")
    ingest_state_build(corpus, path, m_bits=128)
    ingest_pipeline_incremental(batch1, path)
    ingest_state_compact(spark, path)
    return (
        ingest_pipeline_incremental(batch2, path)
        .filter(F.col("kind") == "batch")
        .select("doc_id", "cluster_id", "split", "dl")
    )


QUERIES["ingest_compact_resize"] = q_ingest_compact_resize

# ingest_incremental's two-stage live-set surgery, on the quarter
# doc set (doc_id % 4 = 0) — the bloom geometry can never change a
# verdict, so the full-repair SQL is unchanged in shape.
_CC_LIVE2H = _CC.replace("FROM documents\n)", "FROM live\n)", 1).replace(
    "WITH RECURSIVE words_cte AS (",
    """WITH RECURSIVE d0 AS (
    SELECT doc_id, text, sha256(coalesce(text, '')) AS dg,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS b
    FROM documents WHERE doc_id % 4 = 0
),
live1 AS (
    SELECT doc_id, text, dg, b FROM d0
    WHERE b < 700
       OR (b < 850 AND dg NOT IN (SELECT dg FROM d0 WHERE b < 700))
),
live AS (
    SELECT doc_id, text, b FROM live1
    UNION ALL
    SELECT doc_id, text, b FROM d0
    WHERE b >= 850 AND dg NOT IN (SELECT dg FROM live1)
),
words_cte AS (""",
    1,
)
assert _CC_LIVE2H.count("FROM live\n)") == 1

ORACLES["ingest_compact_resize"] = _CC_LIVE2H + """
, canon AS (
    SELECT l.doc_id, l.b,
           CAST(coalesce(cc.component, l.doc_id) AS BIGINT) AS cluster_id
    FROM live l LEFT JOIN cc ON l.doc_id = cc.id
),
asg AS (
    SELECT doc_id, b, cluster_id,
           CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 1000 AS bp
    FROM canon
),
dls AS (
    SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM words_cte
)
SELECT a.doc_id, a.cluster_id,
       CASE WHEN a.bp < 800 THEN 'train'
            WHEN a.bp < 900 THEN 'val'
            ELSE 'test' END AS split,
       coalesce(d.dl, 0) AS dl
FROM asg a LEFT JOIN dls d USING (doc_id)
WHERE a.b >= 850
"""
