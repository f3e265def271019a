"""MySQL/TiDB JSON function surface on Spark (SURVEY.md §2.4).

Reference signatures: dbms/src/Flash/Coprocessor/DAGUtils.cpp:471-498
(json_extract, json_unquote, json_length, json_depth, json_keys,
json_contains_path, json_object, json_array, json_valid, ...), impls in
dbms/src/Functions/FunctionsJson.cpp. Spark-first mapping:

- extract/unquote      → get_json_object (MySQL `$.k` path syntax shared)
- keys                 → json_object_keys
- length(object)       → size(json_object_keys)
- object/array build   → to_json(named_struct/array) — compact output,
                         byte-identical to MySQL/DuckDB json_object/_array
- depth                → pure-expression char scan (below), no UDF
- contains_path        → get_json_object IS NOT NULL (JSON-null values at
                         the path read as missing — documented caveat; the
                         reference distinguishes them via path iteration)

Everything stays JVM-side whole-stage-codegen: higher-order array
expressions, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# strip string literals (they may contain braces), then whitespace
_STRING_LIT = r'"([^"\\]|\\.)*"'


def _depth_prepared(c: Column) -> Column:
    cleaned = F.regexp_replace(F.regexp_replace(c, _STRING_LIT, '"s"'), r"\s", "")
    # single pass folding empty containers to a scalar token: only the
    # innermost container of a chain can be empty, so once is enough
    return F.regexp_replace(cleaned, r"\{\}|\[\]", "0")


def json_depth(c: Column | str) -> Column:
    """MySQL JSON_DEPTH: scalar/empty container = 1; a container is
    1 + max depth of its members. Computed as the max running bracket
    nesting of the doc (strings stripped, empty containers folded) + 1.
    O(len²) per doc as a pure codegen expression — JSON docs in columns
    are small; no UDF, no shuffle."""
    s = _depth_prepared(F.col(c) if isinstance(c, str) else c)
    # running nesting at prefix i = openers(prefix) - closers(prefix)
    prefix = lambda i: F.substring(s, 1, i)  # noqa: E731
    nesting = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: (
            F.length(prefix(i)) - F.length(F.translate(prefix(i), "{[", ""))
        )
        - (F.length(prefix(i)) - F.length(F.translate(prefix(i), "}]", ""))),
    )
    return F.coalesce(F.array_max(nesting), F.lit(0)) + F.lit(1)


# the same algorithm as DuckDB SQL, for oracle queries
JSON_DEPTH_SQL = """
COALESCE(LIST_MAX(LIST_TRANSFORM(
    GENERATE_SERIES(1, LENGTH({d})),
    i -> (LENGTH(SUBSTRING({d},1,i)) - LENGTH(TRANSLATE(SUBSTRING({d},1,i), '{{[', '')))
       - (LENGTH(SUBSTRING({d},1,i)) - LENGTH(TRANSLATE(SUBSTRING({d},1,i), '}}]', ''))))), 0) + 1
""".strip()


def json_depth_sql(doc_sql: str) -> str:
    """DuckDB rendering of json_depth over the given doc expression —
    identical algorithm, so parity is by construction."""
    prepared = (
        "REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE("
        + doc_sql
        + r""", '"([^"\\]|\\.)*"', '"s"', 'g'), '\s', '', 'g'), '\{\}|\[\]', '0', 'g')"""
    )
    return JSON_DEPTH_SQL.format(d=prepared)


def json_keys(c: Column | str) -> Column:
    """Top-level object keys, sorted for deterministic comparison (MySQL
    returns insertion order; TiDB normalizes — sorting is the stable
    cross-engine contract)."""
    return F.array_sort(F.json_object_keys(c))


def json_keys_at(c: Column | str, path: str) -> Column:
    """JSON_KEYS(doc, path) — keys of the object AT ``path`` (reference
    json_keys_2_args in the live scalar map). NULL when the path is
    missing or not an object, matching MySQL."""
    doc = F.col(c) if isinstance(c, str) else c
    return F.array_sort(F.json_object_keys(F.get_json_object(doc, path)))


def json_length_object(c: Column | str) -> Column:
    """JSON_LENGTH for an object doc: number of top-level members."""
    return F.size(F.json_object_keys(c))


def json_contains_path(c: Column | str, path: str) -> Column:
    """JSON_CONTAINS_PATH(doc, 'one', path). Caveat: a path holding JSON
    null reads as missing (get_json_object yields NULL for both)."""
    return F.get_json_object(F.col(c) if isinstance(c, str) else c, path).isNotNull()


def json_unquote(c: Column | str) -> Column:
    """JSON_UNQUOTE: string value of a JSON scalar doc ('"x"' → x)."""
    return F.get_json_object(F.col(c) if isinstance(c, str) else c, "$")


# one full JSON scalar token (number / true / false / null / string)
_SCALAR_DOC_RE = (
    r'^(-?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)?'
    r'|true|false|null'
    r'|"([^"\\]|\\.)*")$'
)


def json_valid(c: Column | str) -> Column:
    """JSON_VALID(doc) (DAGUtils.cpp:471-498, FunctionsJson.cpp): NULL for
    NULL input, TRUE iff the string is exactly one JSON document — scalars
    included, trailing garbage rejected — matching MySQL and DuckDB.

    Spark's variant try-parse is Jackson-based and STOPS at the end of the
    first value ('{"k":1}}' parses), so parseability alone is too lenient.
    Strictness is restored JVM-side: for container docs the bracket
    nesting (strings stripped, whitespace removed) must first return to
    zero exactly at the last character; scalar docs must be one whole
    scalar token."""
    c = F.col(c) if isinstance(c, str) else c
    t = F.trim(c)
    cleaned = F.regexp_replace(F.regexp_replace(t, _STRING_LIT, '"s"'), r"\s", "")
    n = F.length(cleaned)
    prefix = lambda i: F.substring(cleaned, 1, i)  # noqa: E731
    nest_at = lambda i: (  # noqa: E731
        F.length(prefix(i)) - F.length(F.translate(prefix(i), "{[", ""))
    ) - (F.length(prefix(i)) - F.length(F.translate(prefix(i), "}]", "")))
    zero_positions = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.struct(i.alias("i"), nest_at(i).alias("d")),
        ),
        lambda s: s["d"] == 0,
    )
    closes_at_end = F.element_at(zero_positions, 1)["i"] == n
    strict = F.when(
        F.substring(cleaned, 1, 1).isin("{", "["),
        F.coalesce(closes_at_end, F.lit(False)),
    ).otherwise(t.rlike(_SCALAR_DOC_RE))
    return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.try_parse_json(c).isNotNull() & strict
    )


def json_object(*pairs: tuple[str, Column]) -> Column:
    """JSON_OBJECT('k1', v1, ...): compact {"k1":v1,...} text."""
    return F.to_json(F.struct(*[v.alias(k) for k, v in pairs]))


def json_array(*cols: Column) -> Column:
    """JSON_ARRAY(v1, v2, ...): compact [v1,v2,...] text."""
    return F.to_json(F.array(*cols))


# --- CAST(... AS JSON) family (live map cast_int_as_json,
# cast_real_as_json, cast_decimal_as_json, cast_string_as_json,
# cast_time_as_json, cast_duration_as_json, cast_json_as_string —
# FunctionsTiDBConversion.cpp JSON casts, DAGUtils.cpp:117-150).
# JSON documents are TEXT in this engine (§1.2 maps TiDB's binary JSON
# onto StringType), so each cast renders the scalar as its JSON text.


def json_from_number(c: Column | str) -> Column:
    """CAST(number AS JSON): the JSON number literal. Ints render
    without a fraction; doubles keep Spark's shortest-roundtrip text."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("string")


def json_from_string(c: Column | str) -> Column:
    """CAST(string AS JSON): the string must PARSE as JSON (MySQL errors
    otherwise; this engine's soft-cast posture yields NULL, like its
    other string casts). Valid docs pass through textually."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(json_valid(col), col)


def json_from_time(c: Column | str, fsp: int = 6) -> Column:
    """CAST(datetime AS JSON): a quoted ISO timestamp string (MySQL
    renders temporal JSON values as quoted literals)."""
    col = (F.col(c) if isinstance(c, str) else c).cast("timestamp")
    fmt = "yyyy-MM-dd HH:mm:ss" + ("." + "S" * fsp if fsp else "")
    return F.concat(F.lit('"'), F.date_format(col, fmt), F.lit('"'))


def json_from_duration(dur_ns: Column | str) -> Column:
    """CAST(duration AS JSON): quoted 'HH:MM:SS' text over the Int64
    nanosecond duration encoding."""
    from tiflash_spark.functions.misc import sec_to_time_str

    col = (F.col(dur_ns) if isinstance(dur_ns, str) else dur_ns).cast("long")
    return F.concat(
        F.lit('"'), sec_to_time_str((col / 1_000_000_000).cast("long")), F.lit('"')
    )
