"""Scalar function surface (SURVEY.md §2.8 F1-F8).

The reference computes these host-side in Python between queries (hashing,
date walks, path parsing, formatting); a Spark-native engine moves them into
column expressions so they run where the data is. Everything here is a thin,
documented composition of built-in ``pyspark.sql.functions`` — JVM-side,
codegen, no UDFs.

| ref | reference location                    | here |
|-----|---------------------------------------|------|
| F1  | ingest.py:218-220 (file md5)          | row_content_hash / operators.ledger.hash_files |
| F2  | ingest.py:44,53 (date parse/format)   | to_date / date_format built-ins (see catalog `scalar_function_matrix`) |
| F3  | s3_utils.py:130,360,408 (date walks)  | date_spine (sequence + explode) |
| F4  | s3_utils.py:272-276 (date from parts) | make_date built-in |
| F5  | s3_utils.py:57 (key=value regex)      | hive_partition_value |
| F6  | s3_utils.py:17-39 (URL parse)         | parse_url_col |
| F7  | reports.py:74,94,118 (formatting)     | format_string at the report edge (operators.reports) |
| F8  | ingest.py:199,216 (basename/glob)     | basename (+ input_file_name upstream) |
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def row_content_hash(*cols: Column | str) -> Column:
    """Row-level md5 over length-prefixed concatenated columns (F1's row
    analogue). Each non-NULL value is rendered ``<length>:<value>`` before
    joining on \x01, and NULL renders as a bare \x00 — UNFORGEABLE
    (review r5): the old plain concat let ('a\x01b', 'c') collide with
    ('a', 'b\x01c') (a value containing the separator shifted field
    boundaries) and ('\x00', 'x') collide with (NULL, 'x'). A length
    prefix disambiguates both: every real value carries its own length
    and a ':' (so it can never equal the prefix-less NULL sentinel), and
    embedded separators cannot move a boundary without changing some
    field's declared length.

    CROSS-ENGINE TYPE CONTRACT (review r6): the ``row_content_hash_sql``
    twin agrees only for STRING and integer columns — Spark renders
    doubles in scientific notation ('1.0E10') where DuckDB writes
    '10000000000.0', and timestamp rendering is session-TZ shaped. Cast
    floats/timestamps to a canonical form (unix_micros, explicit
    format_string) BEFORE hashing if they must participate in an
    oracle-checked key."""
    def render(c: Column | str) -> Column:
        s = (F.col(c) if isinstance(c, str) else c).cast("string")
        return F.coalesce(
            F.concat(F.length(s).cast("string"), F.lit(":"), s),
            F.lit("\x00"),
        )

    return F.md5(F.concat_ws("\x01", *[render(c) for c in cols]))


def row_content_hash_sql(*cols: str) -> str:
    """DuckDB twin of row_content_hash — THE one oracle spelling (single
    -source SQL-twin convention). COALESCE(render, chr(0)) per field is
    load-bearing (review r6): '||' nulls the whole rendered field and
    DuckDB's concat_ws then SKIPS it, separator and all, while Spark
    coalesces to \\x00 and keeps the separator — a bare '||' oracle
    diverged on any NULL input column."""
    rendered = [
        "COALESCE(CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR)"
        " || ':' || CAST({c} AS VARCHAR), chr(0))".format(c=c)
        for c in cols
    ]
    return f"md5(concat_ws(chr(1), {', '.join(rendered)}))"


def date_spine(spark: SparkSession, start: str, end: str) -> DataFrame:
    """One row per date in [start, end] (F3: the reference's Python day-walk
    loop as a declarative sequence + explode — generated on executors, so a
    100-year spine is still trivial).

    Edge contract (review r7): ``end < start`` yields the EMPTY spine —
    what the reference's day-walk loop and DuckDB's generate_series both
    produce — instead of an execution-time error."""
    from datetime import date as _date

    if _date.fromisoformat(end) < _date.fromisoformat(start):
        return spark.range(0).select(F.current_date().alias("d"))
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(start)),
                F.to_date(F.lit(end)),
                F.expr("interval 1 days"),
            )
        ).alias("d")
    )


def hive_partition_value(path: Column | str, key: str) -> Column:
    """Extract one ``key=value`` segment from a path (F5; the reference's
    `([^=]+)=([^=]+)` parse, scoped to a named key). The key is anchored
    to a segment start (start-of-string, '/', '?' or '&') and
    regex-escaped — an unanchored bare key would match inside LONGER keys
    ('day=' inside 'birthday=05') and metachars would corrupt the pattern
    (review r4)."""
    import re as _re

    p = F.col(path) if isinstance(path, str) else path
    # value class excludes '?' too (review r6): the anchor set treats '?'
    # as a segment delimiter, so 'day=2024-01-01?versionId=abc' must yield
    # the date, not swallow the query string — and '#' (review r7): a URL
    # fragment is likewise not part of the value
    return F.regexp_extract(p, rf"(?:^|[/?&#]){_re.escape(key)}=([^/&?#]+)", 1)


def parse_url_col(url: Column | str, part: str = "HOST") -> Column:
    """URL component extraction (F6) via the parse_url built-in;
    part in HOST|PATH|PROTOCOL|QUERY|..."""
    u = F.col(url) if isinstance(url, str) else url
    return F.parse_url(u, F.lit(part))


def basename(path: Column | str) -> Column:
    """Filename component of a path (F8)."""
    p = F.col(path) if isinstance(path, str) else path
    return F.element_at(F.split(p, "/"), -1)
