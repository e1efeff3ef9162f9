"""Deterministic synthetic `pages` + `lookup` tables (FIXTURES.md F1/F2).

Everything is a pure function of the row id — no RNG state — so the tables
are reproducible at any scale, partition-independent, and mirrored row-for-
row by the pure-Python oracle in ``oracle.py`` (the pdata-oracle analog,
SURVEY.md §5). Generation is pure Spark column expressions over
``spark.range(n)``: it distributes, costs no Python, and scales to bench
sizes (millions of rows) without driver involvement.

The embedded markers reproduce the reference's resolution-semantics surface
(SURVEY.md §1.4):

- ``severity=<n>;``      repeated on some rows → LAST wins
  (extractLastBytesField, reference wire.go:296-321; absent → 0,
  logs.go:116).
- ``severity_text=<s>;`` absent vs present-but-empty distinguished
  (logs.go:121-132 nil-vs-"" semantics → NULL vs '').
- ``kv:<k>=<v>;``        repeated attrs, duplicate keys preserved in wire
  order on enumeration (resource_test.go:287-333); first-value-wins on
  lookup (attributes.go:336-404).
- ``<rec>…</rec>``       1–10 sub-records per page → exact record-count
  target (logs.go:12-14 LogRecordCount analog).
- invalid UTF-8 rows (~1%) → per-row ``parse_error`` quarantine (the
  batch-abort at reference wire.go:40-42 becomes per-row at 10^12 scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LANG_POOL = ["en", "en", "en", "en", "de", "fr", "es", "pt", "ja", "unknown"]
LANG_DISTINCT = ["en", "de", "fr", "es", "pt", "ja", "unknown"]
NUM_HOSTS = 99  # host0, host1 hot; host2..host98 tail
NUM_SHARDS_DEFAULT = 8
BASE_TS = "2026-01-01 00:00:00"
MALFORMED_HEX = "FFFE3C62726F6B656E"  # b"\xff\xfe<broken" — invalid UTF-8

WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi",
]


def _id() -> Column:
    return F.col("id")


def host_idx_col(idc: Column) -> Column:
    # Zipf-ish skew: host0 gets 40% of pages, host1 20%, tail split the rest.
    m = idc % 10
    return (
        F.when(m < 4, F.lit(0))
        .when(m < 6, F.lit(1))
        .otherwise((idc % (NUM_HOSTS - 2)) + 2)
    ).cast("int")


# The word soup is a CONTIGUOUS span of the cyclic word list (word k of a
# page is WORDS[(id+k) % 16]), so the joined text is a substring of the
# doubled space-joined constant — one codegen'd substring per row instead
# of an interpreted per-element transform + array_join (HOFs are
# CodegenFallback; this was the dominant per-row cost of page generation).
# _WORD_STARTS[i] = char offset of word i in the doubled constant; the span
# s..s+n-1 is [starts[s], starts[s+n]-1) (the -1 drops the separator).
_WORDS_DOUBLED = " ".join(WORDS * 2)
_WORD_STARTS: list[int] = [0]
for _w in WORDS * 2:
    _WORD_STARTS.append(_WORD_STARTS[-1] + len(_w) + 1)


def text_col(idc: Column) -> Column:
    """Deterministic word soup; NULL on id%199==0, '' on id%211==0.
    Byte-identical to the original transform-over-sequence formulation
    (pinned by the fixture-parity tests) — see _WORDS_DOUBLED above."""
    n_words = ((idc % 12) + 1).cast("int")
    s = (idc % 16).cast("int")
    starts = F.array(*[F.lit(x) for x in _WORD_STARTS])
    a = F.element_at(starts, s + 1)
    b = F.element_at(starts, s + n_words + 1)
    joined = F.substring(F.lit(_WORDS_DOUBLED), a + 1, b - a - 1)
    return (
        F.when(idc % 199 == 0, F.lit(None).cast("string"))
        .when(idc % 211 == 0, F.lit(""))
        .otherwise(joined)
    )


def _html_str(idc: Column) -> Column:
    sev1 = (idc * 7) % 25
    sev2 = (idc * 13) % 25
    sev_marker = F.when(idc % 11 == 0, F.lit("")).otherwise(
        F.concat(
            F.concat(F.lit("severity="), sev1.cast("string"), F.lit(";")),
            F.when(
                idc % 5 == 0,
                F.concat(F.lit("severity="), sev2.cast("string"), F.lit(";")),
            ).otherwise(F.lit("")),
        )
    )
    sevtext_marker = (
        F.when(idc % 13 == 0, F.lit(""))  # absent
        .when(idc % 17 == 0, F.lit("severity_text=;"))  # present-but-empty
        .otherwise(
            F.concat(F.lit("severity_text=T"), ((idc * 3) % 25).cast("string"), F.lit(";"))
        )
    )
    kv_marker = F.concat(
        F.concat(F.lit("kv:k1=v"), (idc % 7).cast("string"), F.lit(";")),
        F.when(idc % 3 == 0, F.lit("kv:k1=dup;")).otherwise(F.lit("")),
        F.concat(F.lit("kv:k2=w"), (idc % 5).cast("string"), F.lit(";")),
    )
    # fixed-width validated ID marker (P5 analog): valid 32-hex / empty /
    # wrong-length / non-hex / absent — mirrored in oracle.html
    tval = F.lower(F.hex(idc * 9973 + 7))
    trace_marker = (
        F.when(idc % 7 == 3, F.lit(""))  # absent
        .when(idc % 23 == 0, F.lit("trace_id=;"))  # empty → absent
        .when(
            idc % 31 == 0,
            F.concat(F.lit("trace_id="), F.lpad(tval, 31, "0"), F.lit(";")),
        )  # wrong length → invalid
        .when(
            idc % 37 == 0,
            F.concat(F.lit("trace_id=zz"), F.lpad(tval, 30, "0"), F.lit(";")),
        )  # non-hex → invalid
        .otherwise(
            F.concat(F.lit("trace_id="), F.lpad(tval, 32, "0"), F.lit(";"))
        )
    )
    # EntityRef-analog structural marker (P14): 4 comma-fields, type+id
    # required non-empty; malformed variants planted — mirrored in oracle
    ref_body = F.concat(
        F.lit("cat"), (idc % 13).cast("string"),
        F.lit(",id"), (idc % 29).cast("string"),
        F.lit(",s"), (idc % 3).cast("string"),
    )
    ref_marker = (
        F.when(idc % 19 == 0, F.lit(""))  # absent
        .when(
            idc % 41 == 0, F.concat(F.lit("ref:"), ref_body, F.lit(";"))
        )  # 3 fields → invalid
        .when(
            idc % 43 == 0,
            F.concat(
                F.lit("ref:,id"), (idc % 29).cast("string"),
                F.lit(",s"), (idc % 3).cast("string"),
                F.lit(",d"), (idc % 5).cast("string"), F.lit(";"),
            ),
        )  # empty type → invalid
        .otherwise(
            F.concat(
                F.lit("ref:"), ref_body,
                F.lit(",d"), (idc % 5).cast("string"), F.lit(";"),
            )
        )
    )
    # depth-guard marker (P15): nested parens; exceed-64 and unbalanced
    # variants planted — mirrored in oracle.html
    d_ok = (idc % 5 + 1).cast("int")
    depth_marker = (
        F.when(idc % 61 == 0, F.lit(""))  # absent
        .when(
            idc % 53 == 0,
            F.concat(
                F.lit("depth:"), F.repeat(F.lit("("), 70), F.lit("x"),
                F.repeat(F.lit(")"), 70), F.lit(";"),
            ),
        )  # depth 70 → exceeded
        .when(idc % 59 == 0, F.lit("depth:((x);"))  # unbalanced
        .otherwise(
            F.concat(
                F.lit("depth:"), F.repeat(F.lit("("), d_ok), F.lit("x"),
                F.repeat(F.lit(")"), d_ok), F.lit(";"),
            )
        )
    )
    # the rec block is a PREFIX of a 10-rec constant (each "<rec>rJ</rec>"
    # is 13 chars, J single-digit) — substring beats the interpreted
    # transform + array_join (HOFs are CodegenFallback); byte-identical
    nrec = (idc % 10) + 1
    recs = F.substring(
        F.lit("".join(f"<rec>r{j}</rec>" for j in range(10))),
        1,
        (nrec * 13).cast("int"),
    )
    txt = text_col(idc)
    text_block = F.when(txt.isNull(), F.lit("")).otherwise(
        F.concat(F.lit("<p>"), txt, F.lit("</p>"))
    )
    return F.concat(
        F.lit("<html><body>"),
        sev_marker,
        sevtext_marker,
        kv_marker,
        trace_marker,
        ref_marker,
        depth_marker,
        recs,
        text_block,
        F.lit("</body></html>"),
    )


def generate_pages(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    """`pages(url, warc_ts, html:binary, text, lang)` — BASELINE input_hint shape."""
    idc = _id()
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    host_idx = host_idx_col(idc)
    host = F.concat(F.lit("host"), host_idx.cast("string"), F.lit(".example.com"))
    url = F.concat(F.lit("https://"), host, F.lit("/p"), idc.cast("string"))
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANG_POOL]), (idc % 10 + 1).cast("int")
    )
    warc_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS).cast("timestamp")) + idc
    )
    html = F.when(idc % 101 == 0, F.unhex(F.lit(MALFORMED_HEX))).otherwise(
        F.encode(_html_str(idc), "UTF-8")
    )
    # Materialize-once barrier: downstream parse references html several
    # times (pass-through output + utf8 validation + null check), and with
    # the lambda-free substring formulations above, CollapseProject now
    # considers the whole html build inlinable — without the barrier the
    # page body was re-derived up to 3× per row inside the parse
    # projection (measured ~2× the gen+parse stage). The barrier pins the
    # generation project as the single evaluation site; values unchanged.
    from otlp_wire_spark.operators.parse import _pushdown_barrier

    html = _pushdown_barrier(html)
    return df.select(
        idc.alias("page_id"),
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text_col(idc).alias("text"),
        lang.alias("lang"),
    )


def generate_lookup(spark: SparkSession) -> DataFrame:
    """`lookup(lang, url_host, site_category, context)` — broadcast dim (F2).

    Context reproduces the present / present-empty / absent trichotomy of
    the reference's context attributes (benchmark_comparison_test.go:520-563
    fixture): some (lang, host) pairs have NO row (left join → NULL ≙
    absent), some have context='' (present-but-empty), the rest a value.

    Built like ``generate_pages``: column expressions over one range
    partition, so the broadcast side is a codegen'd range scan. A
    ``createDataFrame(<Python list>)`` here would be a PythonRDD scan that
    runs Python worker tasks at every action reading the table.
    """
    idc = _id()
    li = (idc / NUM_HOSTS).cast("int")
    hi = (idc % NUM_HOSTS).cast("int")
    lang = F.element_at(F.array(*[F.lit(x) for x in LANG_DISTINCT]), li + 1)
    host = hi.cast("string")
    ctx = F.when((hi + li) % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit("ctx-"), lang, F.lit("-"), host)
    )
    return (
        spark.range(len(LANG_DISTINCT) * NUM_HOSTS, numPartitions=1)
        .where((hi + li) % 7 != 0)  # absent row
        .select(
            lang.alias("lang"),
            F.concat(F.lit("host"), host, F.lit(".example.com")).alias("url_host"),
            F.concat(F.lit("cat"), ((hi * 31 + li) % 13).cast("string"))
            .alias("site_category"),
            ctx.alias("context"),
        )
    )
