"""MySQL-named SQL function surface via Spark 4 SQL UDFs.

The reference exposes the MySQL function namespace to every query
(DAGUtils.cpp's scalar-function map); Spark covers most names natively
(ifnull, if, conv, crc32, find_in_set, ...). This module registers the
missing MySQL names as *SQL* functions — CREATE TEMPORARY FUNCTION ...
RETURN <expr> — so a user can write MySQL-ish SQL through spark.sql()
directly. SQL UDFs are inlined into the plan by Catalyst (no Python, no
serialization — they stay in whole-stage codegen), unlike spark.udf
registrations.

Registration is per statement, like the reference's by-name lookup at
plan-compile time: ``ensure_functions(spark, text)`` registers only the
registry names ``text`` calls, plus the registry functions their bodies
call, and remembers them on the session. Each CREATE parses and analyzes
its body, so registering all 99 SQL bodies up front costs seconds on a
cold JVM. ``register_mysql_functions`` registers everything (the
``open_catalog`` contract). The same name table covers the Arrow-batched
Python UDFs (json, string, regexp, dec65), one registrar per group.

Python-side Column helpers stay in mysql_compat/json_fns; this is the
spark.sql-surface rendering of the same semantics.
"""

from __future__ import annotations

import importlib
import re

from pyspark.sql import SparkSession

_DEPTH_PREP = (
    r"""regexp_replace(regexp_replace(regexp_replace(doc,"""
    r"""'"([^"\\\\]|\\\\.)*"', '"s"'), '\\s', ''), '\\{\\}|\\[\\]', '0')"""
)

# name -> (arg signature, return type, body SQL). Bodies may call other
# functions registered earlier in this ordered dict.
MYSQL_SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    "mysql_div": (
        "a BIGINT, b BIGINT",
        "BIGINT",
        "CASE WHEN b = 0 THEN NULL ELSE a DIV b END",
    ),
    "mysql_mod": (
        "a DOUBLE, b DOUBLE",
        "DOUBLE",
        "CASE WHEN b = 0 THEN NULL ELSE a % b END",
    ),
    "json_unquote": (
        "doc STRING",
        "STRING",
        "get_json_object(doc, '$')",
    ),
    "json_contains_path_one": (
        "doc STRING, p STRING",
        "BOOLEAN",
        "get_json_object(doc, p) IS NOT NULL",
    ),
    "json_keys_sorted": (
        "doc STRING",
        "ARRAY<STRING>",
        "array_sort(json_object_keys(doc))",
    ),
    "json_keys_at": (
        "doc STRING, p STRING",
        "ARRAY<STRING>",
        "array_sort(json_object_keys(get_json_object(doc, p)))",
    ),
    "json_length_obj": (
        "doc STRING",
        "INT",
        "size(json_object_keys(doc))",
    ),
    "_json_depth_prepared": (
        "doc STRING",
        "STRING",
        _DEPTH_PREP,
    ),
    "json_depth": (
        "doc STRING",
        "INT",
        # max running bracket nesting (+1) of the prepared doc — the MySQL
        # JSON_DEPTH recursion rule (see functions/json_fns.json_depth);
        # NULL in, NULL out (expr/json_depth.test)
        "CASE WHEN doc IS NULL THEN NULL ELSE "
        "COALESCE(array_max(transform(sequence(1, length(_json_depth_prepared(doc))),"
        " i -> (length(substring(_json_depth_prepared(doc), 1, i))"
        "       - length(translate(substring(_json_depth_prepared(doc), 1, i), '{[', '')))"
        "    - (length(substring(_json_depth_prepared(doc), 1, i))"
        "       - length(translate(substring(_json_depth_prepared(doc), 1, i), '}]', ''))))),"
        " 0) + 1 END",
    ),
    "mysql_str_to_date": (
        "s STRING",
        "DATE",
        "CASE WHEN trim(s) IN ('0000-00-00', '0000-00-00 00:00:00') THEN NULL"
        " ELSE try_cast(s AS DATE) END",
    ),
    "cast_unsigned": (
        "x BIGINT",
        "DECIMAL(20,0)",
        "CASE WHEN x < 0 THEN CAST(CAST(x AS DECIMAL(21,0))"
        " + CAST('18446744073709551616' AS DECIMAL(21,0)) AS DECIMAL(20,0))"
        " ELSE CAST(x AS DECIMAL(20,0)) END",
    ),
    "inet_aton": (
        "ip STRING",
        "BIGINT",
        "CASE WHEN ip RLIKE '^([0-9]{1,3}\\\\.){3}[0-9]{1,3}$' THEN"
        " CAST(split(ip, '\\\\.')[0] AS BIGINT) * 16777216"
        " + CAST(split(ip, '\\\\.')[1] AS BIGINT) * 65536"
        " + CAST(split(ip, '\\\\.')[2] AS BIGINT) * 256"
        " + CAST(split(ip, '\\\\.')[3] AS BIGINT)"
        " ELSE NULL END",
    ),
    "inet_ntoa": (
        "n BIGINT",
        "STRING",
        "concat_ws('.', CAST(n div 16777216 % 256 AS STRING),"
        " CAST(n div 65536 % 256 AS STRING), CAST(n div 256 % 256 AS STRING),"
        " CAST(n % 256 AS STRING))",
    ),
    # duration-string component readers (TIME stored as its normalized
    # rendering; extract_duration.test, duration_pushdown.test)
    "_dur_sign": (
        "s STRING",
        "BIGINT",
        "CASE WHEN s LIKE '-%' THEN -1 ELSE 1 END",
    ),
    "_dur_part": (
        "s STRING, i INT",
        "BIGINT",
        "coalesce(try_cast(split(regexp_replace(s, '^-', ''), '[:.]')[i]"
        " AS BIGINT), 0)",
    ),
    "_dur_us": (
        "s STRING",
        "BIGINT",
        "coalesce(try_cast(rpad(regexp_extract(s, '\\\\.([0-9]+)$', 1),"
        " 6, '0') AS BIGINT), 0)",
    ),
    "time_to_sec": (
        "s STRING",
        "BIGINT",
        "CASE WHEN s IS NULL THEN NULL ELSE _dur_sign(s) *"
        " (_dur_part(s, 0) * 3600 + _dur_part(s, 1) * 60"
        " + _dur_part(s, 2)) END",
    ),
    # TIME in NUMERIC context is its HHMMSS digit form (time '08:20:09'
    # + 0 = 82009), not seconds
    "mysql_time_num": (
        "s STRING",
        "DOUBLE",
        "CASE WHEN s IS NULL THEN NULL ELSE _dur_sign(s) *"
        " (_dur_part(s, 0) * 10000 + _dur_part(s, 1) * 100"
        " + _dur_part(s, 2) + _dur_us(s) / 1000000.0) END",
    ),
    "sec_to_time": (
        "s BIGINT",
        "STRING",
        "concat(lpad(CAST(s div 3600 AS STRING), 2, '0'), ':',"
        " lpad(CAST(s div 60 % 60 AS STRING), 2, '0'), ':',"
        " lpad(CAST(s % 60 AS STRING), 2, '0'))",
    ),
    "mysql_format": (
        "x DOUBLE, d INT",
        "STRING",
        "format_number(x, d)",
    ),
    # --- VECTOR surface (FunctionsVector.cpp; the SQL names TiDB exposes:
    # tests/fullstack-test-index/vector/distance.test drives
    # `ORDER BY VEC_L2_DISTANCE(v, '[...]') LIMIT k` straight from SQL).
    # Mismatched dims -> NULL (soft mode, see functions/vector.py).
    "vec_dims": ("a ARRAY<DOUBLE>", "INT", "size(a)"),
    "vec_l2_norm": (
        "a ARRAY<DOUBLE>",
        "DOUBLE",
        "sqrt(aggregate(a, 0D, (acc, x) -> acc + x * x))",
    ),
    "vec_l1_distance": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        "CASE WHEN size(a) = size(b) THEN"
        " aggregate(zip_with(a, b, (x, y) -> abs(x - y)), 0D,"
        " (acc, v) -> acc + v) END",
    ),
    "vec_l2_distance": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        "CASE WHEN size(a) = size(b) THEN"
        " sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D,"
        " (acc, v) -> acc + v)) END",
    ),
    "vec_negative_inner_product": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        "CASE WHEN size(a) = size(b) THEN"
        " -aggregate(zip_with(a, b, (x, y) -> x * y), 0D,"
        " (acc, v) -> acc + v) END",
    ),
    "vec_cosine_distance": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        "CASE WHEN size(a) = size(b)"
        " AND sqrt(aggregate(a, 0D, (acc, x) -> acc + x * x))"
        "   * sqrt(aggregate(b, 0D, (acc, x) -> acc + x * x)) != 0 THEN"
        " 1 - aggregate(zip_with(a, b, (x, y) -> x * y), 0D,"
        "     (acc, v) -> acc + v)"
        "   / (sqrt(aggregate(a, 0D, (acc, x) -> acc + x * x))"
        "      * sqrt(aggregate(b, 0D, (acc, x) -> acc + x * x))) END",
    ),
    "vec_as_text": (
        "a ARRAY<DOUBLE>",
        "STRING",
        "concat('[', array_join(transform(a, x -> CAST(x AS STRING)), ','), ']')",
    ),
    # FTS_MATCH_WORD(word, doc) — the SQL spelling TiDB exposes for
    # full-text search. Pure-semantics form (same tokenizer as
    # pipeline/fulltext.tokenize); DeltaStore.fts_match_word serves the
    # identical predicate through the storage index.
    "fts_match_word": (
        "word STRING, doc STRING",
        "BOOLEAN",
        "array_contains(filter(split(lower(doc), '[^a-z0-9]+'),"
        " t -> t != ''), lower(word))",
    ),
    # --- datetime/numeric stragglers of the live scalar map -----------------
    "to_days": (
        "d DATE",
        "BIGINT",
        "CAST(datediff(d, DATE '1970-01-01') + 719528 AS BIGINT)",
    ),
    "from_days": (
        # MySQL contract (expr/from_days.test): n < 366 renders the zero
        # date '0000-00-00'; past '9999-12-31' (n > 3652424) -> NULL.
        # STRING so the zero date is representable.
        "n BIGINT",
        "STRING",
        "CASE WHEN n IS NULL OR n > 3652424 THEN NULL"
        " WHEN n < 366 THEN '0000-00-00'"
        " ELSE date_format(date_add(DATE '1970-01-01',"
        " CAST(n - 719528 AS INT)), 'yyyy-MM-dd') END",
    ),
    "to_seconds": (
        "t TIMESTAMP",
        "BIGINT",
        "(CAST(datediff(CAST(t AS DATE), DATE '1970-01-01') + 719528 AS BIGINT))"
        " * 86400 + hour(t) * 3600 + minute(t) * 60 + second(t)",
    ),
    "mysql_truncate": (
        "x DOUBLE, d INT",
        "DOUBLE",
        # Spark's floor(double) returns BIGINT and saturates at 2^63-1 —
        # past that the scaled value has no fractional part anyway, so
        # the input is already truncated (tidb_truncate.test f32/f64:
        # truncate(49e10, 8))
        "CASE WHEN d >= 0 THEN"
        "  CASE WHEN abs(x) * pow(10, d) >= 9.223372036854775E18 THEN x"
        "  ELSE sign(x) * floor(abs(x) * pow(10, d)) / pow(10, d) END"
        " WHEN abs(x) / pow(10, -d) >= 9.223372036854775E18 THEN x"
        " ELSE sign(x) * floor(abs(x) / pow(10, -d)) * pow(10, -d) END",
    ),
    "truncate": (
        # the MySQL spelling (expr/tidb_truncate.test); huge |d| must not
        # overflow pow(10, d) into inf (a double carries <= 17 significant
        # decimals, so d >= 17 is the identity; very negative d is 0)
        "x DOUBLE, d INT",
        "DOUBLE",
        "CASE WHEN x IS NULL OR d IS NULL THEN NULL"
        " WHEN d >= 17 OR (abs(x) >= 1e292 AND d >= 0) THEN x"
        " ELSE mysql_truncate(x, greatest(d, -308)) END",
    ),
    "mysql_xor": (
        "a BIGINT, b BIGINT",
        "INT",
        "CAST((a <> 0) <> (b <> 0) AS INT)",
    ),
    "mysql_round": (
        "x DOUBLE, d INT",
        "DOUBLE",
        # same floor(double)->BIGINT saturation guard as mysql_truncate
        "CASE WHEN d >= 0 THEN"
        "  CASE WHEN abs(x) * pow(10, d) >= 9.223372036854775E18 THEN x"
        "  ELSE sign(x) * floor(abs(x) * pow(10, d) + 0.5) / pow(10, d) END"
        " WHEN abs(x) / pow(10, -d) >= 9.223372036854775E18 THEN x"
        " ELSE sign(x) * floor(abs(x) / pow(10, -d) + 0.5) * pow(10, -d) END",
    ),
    # MySQL numeric coercion of strings: parse the longest numeric
    # prefix, unparseable -> 0, overflow clamps to the double range
    # (expr/cast_string_as_real.test, cast_string_as_decimal.test)
    "_num_prefix": (
        "x STRING",
        "STRING",
        r"regexp_extract(trim(x),"
        r" '^[-+]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][-+]?[0-9]+)?', 0)",
    ),
    "mysql_to_double": (
        "x STRING",
        "DOUBLE",
        "CASE WHEN x IS NULL THEN NULL"
        " WHEN _num_prefix(x) = '' THEN 0.0D"
        " WHEN CAST(_num_prefix(x) AS DOUBLE) > 1.7976931348623157E308"
        "  THEN 1.7976931348623157E308"
        " WHEN CAST(_num_prefix(x) AS DOUBLE) < -1.7976931348623157E308"
        "  THEN -1.7976931348623157E308"
        " ELSE CAST(_num_prefix(x) AS DOUBLE) END",
    ),
    # (mysql_date is defined after the datetime-parse family below)
    # digit normalization for numeric casts of temporal strings:
    # '2022-10-10 10:10:10.1' -> '20221010101010.1' (TiDB cast-to-number
    # of DATETIME, expr/cast_as_decimal.test, cast_time_as_int.test)
    "mysql_numform": (
        "x STRING",
        "STRING",
        "CASE WHEN x RLIKE '^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}'"
        " THEN concat(regexp_replace(substring(x, 1, 19), '[-: ]', ''),"
        r"  regexp_extract(x, '^.{19}(\\.[0-9]+)?', 1))"
        " WHEN x RLIKE '^[0-9]{4}-[0-9]{2}-[0-9]{2}$' THEN replace(x, '-', '')"
        " ELSE _num_prefix(x) END",
    ),
    "cast_signed": (
        # CAST(x AS SIGNED): temporal strings take their digit form,
        # decimals round, unparseable -> 0
        "x STRING",
        "BIGINT",
        "CASE WHEN x IS NULL THEN NULL"
        " WHEN mysql_numform(x) = '' THEN 0"
        " WHEN mysql_numform(x) RLIKE '^[-+]?[0-9]+$'"
        "  THEN try_cast(mysql_numform(x) AS BIGINT)"
        " ELSE CAST(round(mysql_to_double(mysql_numform(x))) AS BIGINT) END",
    ),
    "mysql_space": (
        # SPACE(n) beyond max_allowed_packet (16 MiB in the reference's
        # test deployment) is NULL, not an allocation
        "n BIGINT",
        "STRING",
        "CASE WHEN n > 16777216 THEN NULL ELSE space(CAST(n AS INT)) END",
    ),
    # soft MySQL datetime parse: ISO-ish with '/' separators, plus the
    # digit forms 6/8/12/14 (yyMMdd / yyyyMMdd / +HHmmss), optional
    # fractional seconds (expr/date.test, cast_as_time.test, date_sub.test)
    "_mysql_dt_digits": (
        # odd/short digit counts left-pad to the next positional shape
        # (MySQL: cast(111.1 as datetime) = 2000-01-11, i.e. '000111')
        "x STRING",
        "TIMESTAMP_NTZ",
        "CASE WHEN length(regexp_extract(x, '^([0-9]+)', 1)) <= 6 THEN"
        " to_timestamp_ntz(lpad(regexp_extract(x, '^([0-9]+)', 1), 6, '0'), 'yyMMdd')"
        " WHEN length(regexp_extract(x, '^([0-9]+)', 1)) <= 8 THEN"
        " to_timestamp_ntz(lpad(regexp_extract(x, '^([0-9]+)', 1), 8, '0'), 'yyyyMMdd')"
        " WHEN length(regexp_extract(x, '^([0-9]+)', 1)) <= 12 THEN"
        " to_timestamp_ntz(lpad(regexp_extract(x, '^([0-9]+)', 1), 12, '0'), 'yyMMddHHmmss')"
        " WHEN length(regexp_extract(x, '^([0-9]+)', 1)) <= 14 THEN"
        " to_timestamp_ntz(lpad(regexp_extract(x, '^([0-9]+)', 1), 14, '0'), 'yyyyMMddHHmmss')"
        " END",
    ),
    # MySQL's parser accepts ANY punctuation between datetime parts
    # ('2012-12-12 12-12-12', '20@12@12') and 2-digit years (<70 -> 20xx)
    # — split on non-digit runs and rebuild (expr/date_add.test)
    "_mysql_dt_groups": (
        "x STRING",
        "ARRAY<STRING>",
        "filter(split(regexp_replace(regexp_replace(trim(x),"
        " '\\\\.[0-9]*$', ''), '[^0-9]+', ' '), ' '), t -> t != '')",
    ),
    "_mysql_dt_year": (
        "y STRING",
        "INT",
        "CASE WHEN length(y) <= 2 THEN"
        " CASE WHEN CAST(y AS INT) < 70 THEN 2000 + CAST(y AS INT)"
        " ELSE 1900 + CAST(y AS INT) END"
        " ELSE CAST(y AS INT) END",
    ),
    # digit STRINGS split greedily left-to-right: a 4-digit year only at
    # lengths 8/13/14, then 2-digit components, the last one may be short
    # ('20121212129' = 20-12-12 12:12:09, '2012129' = 20-12-12 09:00:00;
    # reference expr/date_sub.test's t2 table). Numbers left-pad instead
    # (_mysql_dt_digits).
    "_dt_d": (
        "x STRING",
        "STRING",
        "regexp_extract(trim(x), '^([0-9]+)', 1)",
    ),
    "_dt_rest": (
        "x STRING",
        "STRING",
        "substring(_dt_d(x),"
        " CASE WHEN length(_dt_d(x)) IN (8, 13, 14) THEN 5 ELSE 3 END)",
    ),
    "_dt_frac": (
        "x STRING",
        "STRING",
        "rpad(regexp_extract(trim(x), '\\\\.([0-9]+)$', 1), 6, '0')",
    ),
    # the UNPADDED fraction digits — the 9/10-digit second rule below
    # reads exactly the first two as written
    "_dt_rawfrac": (
        "x STRING",
        "STRING",
        "regexp_extract(trim(x), '\\\\.([0-9]+)$', 1)",
    ),
    # the SECONDS field of a digit string (reference MyTime.cpp:1055-1065
    # after the no-delimiter switch at :887): 9/10 digits (YYMMDDHHM /
    # YYMMDDHHMM) take seconds from the FRACTION's first two digits
    # ('201212212.121212' = 20-12-12 21:02:12, '.999999' is second 99 ->
    # NULL); 11+ digits carry their own seconds in the digit string
    "_dt_gsec": (
        "x STRING",
        "INT",
        "CASE WHEN length(_dt_rest(x)) IN (7, 8) THEN"
        " coalesce(try_cast(substring(_dt_rawfrac(x), 1, 2) AS INT), 0)"
        " ELSE coalesce(try_cast(substring(_dt_rest(x), 9, 2) AS INT), 0)"
        " END",
    ),
    "_mysql_dt_gsplit": (
        # fraction rules (expr/date_add.test t2, MyTime.cpp:1010-1065):
        # a date-only integer ('20121.121212') takes HHMMSS from the
        # fraction; 9/10-digit strings take SECONDS from it (_dt_gsec);
        # 11/12-digit times keep it as microseconds
        "x STRING",
        "TIMESTAMP_NTZ",
        "CASE WHEN length(_dt_rest(x)) BETWEEN 3 AND 4 THEN"
        " CASE WHEN coalesce(try_cast(substring(_dt_frac(x), 5, 2) AS INT), 0) < 60 THEN"
        "  make_timestamp_ntz("
        "   _mysql_dt_year(substring(_dt_d(x), 1,"
        "    CASE WHEN length(_dt_d(x)) IN (8, 13, 14) THEN 4 ELSE 2 END)),"
        "   CAST(substring(_dt_rest(x), 1, 2) AS INT),"
        "   CAST(substring(_dt_rest(x), 3, 2) AS INT),"
        "   coalesce(try_cast(substring(_dt_frac(x), 1, 2) AS INT), 0),"
        "   coalesce(try_cast(substring(_dt_frac(x), 3, 2) AS INT), 0),"
        "   coalesce(try_cast(substring(_dt_frac(x), 5, 2) AS INT), 0))"
        " END"
        " WHEN length(_dt_rest(x)) BETWEEN 5 AND 10 THEN"
        " CASE WHEN _dt_gsec(x) < 60 THEN"
        "  make_timestamp_ntz("
        "   _mysql_dt_year(substring(_dt_d(x), 1,"
        "    CASE WHEN length(_dt_d(x)) IN (8, 13, 14) THEN 4 ELSE 2 END)),"
        "   CAST(substring(_dt_rest(x), 1, 2) AS INT),"
        "   CAST(substring(_dt_rest(x), 3, 2) AS INT),"
        "   coalesce(try_cast(substring(_dt_rest(x), 5, 2) AS INT), 0),"
        "   coalesce(try_cast(substring(_dt_rest(x), 7, 2) AS INT), 0),"
        "   CAST(_dt_gsec(x)"
        "    + CASE WHEN length(_dt_rest(x)) IN (9, 10)"
        "       THEN CAST(substring(_dt_frac(x), 1, 6) AS BIGINT) / 1000000.0"
        "       ELSE 0 END AS DECIMAL(16,6)))"
        " END"
        " END",
    ),
    # the fraction ABSORB rule (MyTime.cpp:818-833): with five or fewer
    # separator groups, a trailing .fraction is absorbed as the NEXT
    # datetime field, parsed as a plain integer ('2012-12-12 12:12.000001'
    # has SECOND 1; '.60'/'.121' are invalid seconds -> NULL); with six
    # groups the fraction stays fractional seconds
    "_dt_g2": (
        "x STRING",
        "ARRAY<STRING>",
        "CASE WHEN _dt_rawfrac(x) <> ''"
        " AND size(_mysql_dt_groups(x)) <= 5"
        " THEN array_append(_mysql_dt_groups(x), _dt_rawfrac(x))"
        " ELSE _mysql_dt_groups(x) END",
    ),
    "mysql_dt_parse": (
        "x STRING",
        "TIMESTAMP_NTZ",
        "CASE WHEN x IS NULL THEN NULL"
        " WHEN trim(x) RLIKE '^[0-9]+(\\\\.[0-9]*)?$' THEN _mysql_dt_gsplit(x)"
        # the absorbed fraction counts toward the 3-group minimum:
        # '2012-12.24' is Y-M-<absorbed day> (MyTime.cpp case 3)
        " WHEN size(_dt_g2(x)) >= 3 THEN"
        "  CASE WHEN coalesce(try_cast(get(_dt_g2(x), 5) AS INT), 0) < 60 THEN"
        "  make_timestamp_ntz("
        "   _mysql_dt_year(_dt_g2(x)[0]),"
        "   CAST(_dt_g2(x)[1] AS INT),"
        "   CAST(_dt_g2(x)[2] AS INT),"
        "   coalesce(try_cast(get(_dt_g2(x), 3) AS INT), 0),"
        "   coalesce(try_cast(get(_dt_g2(x), 4) AS INT), 0),"
        "   CAST(coalesce(try_cast(get(_dt_g2(x), 5) AS INT), 0)"
        "    + CASE WHEN size(_mysql_dt_groups(x)) >= 6"
        "       THEN CAST(substring(_dt_frac(x), 1, 6) AS BIGINT) / 1000000.0"
        "       ELSE 0 END AS DECIMAL(16,6)))"
        "  END"
        " ELSE to_timestamp_ntz(translate(x, '/', '-')) END",
    ),
    "_mysql_dt_render": (
        # MySQL's DATE_ADD family returns a DATE when the input had no
        # time part, a DATETIME otherwise (fraction kept when present);
        # out-of-range -> NULL
        "r TIMESTAMP_NTZ, had_time BOOLEAN",
        "STRING",
        "CASE WHEN r IS NULL THEN NULL"
        " WHEN year(r) = 0 THEN"  # TiDB renders year-0 results as the zero date, time kept
        "  CASE WHEN had_time AND date_format(r, 'SSSSSS') <> '000000'"
        "   THEN concat('0000-00-00 ', date_format(r, 'HH:mm:ss.SSSSSS'))"
        "  WHEN had_time THEN concat('0000-00-00 ', date_format(r, 'HH:mm:ss'))"
        "  ELSE '0000-00-00' END"
        " WHEN r < TIMESTAMP_NTZ '0001-01-01 00:00:00'"
        "  OR r > TIMESTAMP_NTZ '9999-12-31 23:59:59.999999' THEN NULL"
        " WHEN had_time AND date_format(r, 'SSSSSS') <> '000000'"
        "  THEN date_format(r, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        " WHEN had_time THEN date_format(r, 'yyyy-MM-dd HH:mm:ss')"
        " ELSE date_format(r, 'yyyy-MM-dd') END",
    ),
    "_mysql_has_time": (
        # a ':', >= 4 punctuation-separated groups, digits past the date
        # positions, or an explicit fraction all mean the input carried a
        # time-of-day ('201212.0' renders with one, '201212' without)
        "x STRING",
        "BOOLEAN",
        "x RLIKE ':' OR trim(x) RLIKE '\\\\.[0-9]'"
        " OR (trim(x) RLIKE '^[0-9]+(\\\\.[0-9]*)?$' AND length(_dt_rest(x)) > 4)"
        " OR size(_mysql_dt_groups(x)) >= 4",
    ),
    "adddate": (
        # 2-arg ADDDATE(date, days) — a real day count rounds to the
        # nearest integer (TiDB rounds the REAL before the interval add;
        # reference expr/adddate_string_real.test, date_sub.test). Soft
        # parse incl. compact digit datetimes; time part survives.
        "d STRING, n DOUBLE",
        "STRING",
        "_mysql_dt_render(timestampadd(DAY, CAST(round(n) AS INT),"
        " mysql_dt_parse(d)), _mysql_has_time(d))",
    ),
    "subdate": (
        "d STRING, n DOUBLE",
        "STRING",
        "adddate(d, -n)",
    ),
    "_mysql_num_dt_parse": (
        # the cast path receives NUMBERS rendered as strings — those use
        # MySQL's left-padding interpretation (cast(111.1 as datetime) =
        # 2000-01-11), unlike lax STRING parsing's greedy split
        "x STRING",
        "TIMESTAMP_NTZ",
        "CASE WHEN trim(x) RLIKE '^-?[0-9]+(\\\\.[0-9]*)?$' THEN"
        " timestampadd(MICROSECOND,"
        "  CAST(substring(rpad(regexp_extract(trim(x), '\\\\.([0-9]+)$', 1), 6, '0'), 1, 6) AS BIGINT),"
        "  _mysql_dt_digits(trim(x)))"
        " ELSE mysql_dt_parse(x) END",
    ),
    # numberToDateTime's ladder (MyTime.cpp:667-740): a NUMBER cast to
    # DATETIME maps by magnitude — MMDD / YYMMDD(19xx/20xx) / YYYYMMDD /
    # YYMMDDHHMMSS(19xx/20xx) / YYYYMMDDHHMMSS, the gaps invalid, 0 the
    # zero date — into a canonical 14-digit string ('zero' marks the
    # zero date)
    "_num14": (
        "n BIGINT",
        "STRING",
        "CASE WHEN n IS NULL OR n < 0 THEN NULL"
        " WHEN n = 0 THEN 'zero'"
        " WHEN n < 101 THEN NULL"
        " WHEN n <= 691231 THEN concat('20', lpad(CAST(n AS STRING), 6, '0'), '000000')"
        " WHEN n < 700101 THEN NULL"
        " WHEN n <= 991231 THEN concat('19', lpad(CAST(n AS STRING), 6, '0'), '000000')"
        " WHEN n <= 99991231 THEN concat(lpad(CAST(n AS STRING), 8, '0'), '000000')"
        " WHEN n < 101000000 THEN NULL"
        " WHEN n <= 691231235959 THEN concat('20', lpad(CAST(n AS STRING), 12, '0'))"
        " WHEN n < 700101000000 THEN NULL"
        " WHEN n <= 991231235959 THEN concat('19', lpad(CAST(n AS STRING), 12, '0'))"
        " WHEN n >= 10000101000000 AND n <= 99991231235959 THEN CAST(n AS STRING)"
        " ELSE NULL END",
    ),
    # validity + MySQL rendering of the canonical digits: ZERO month/day
    # are legal (cast(120012.1 as datetime) = '2012-00-12 00:00:00',
    # cast_as_time.test) so the result is a STRING, not a timestamp;
    # real dates still validate day-in-month (2000-11-31 -> NULL)
    "_dt14_render": (
        "s STRING",
        "STRING",
        "CASE WHEN s IS NULL THEN NULL"
        " WHEN s = 'zero' THEN '0000-00-00 00:00:00'"
        " WHEN CAST(substring(s, 5, 2) AS INT) > 12 THEN NULL"
        " WHEN CAST(substring(s, 7, 2) AS INT) > 31 THEN NULL"
        " WHEN CAST(substring(s, 9, 2) AS INT) > 23 THEN NULL"
        " WHEN CAST(substring(s, 11, 2) AS INT) > 59 THEN NULL"
        " WHEN CAST(substring(s, 13, 2) AS INT) > 59 THEN NULL"
        " WHEN substring(s, 5, 2) <> '00' AND substring(s, 7, 2) <> '00'"
        "  AND try_to_date(substring(s, 1, 8), 'yyyyMMdd') IS NULL THEN NULL"
        " ELSE concat(substring(s, 1, 4), '-', substring(s, 5, 2), '-',"
        "  substring(s, 7, 2), ' ', substring(s, 9, 2), ':',"
        "  substring(s, 11, 2), ':', substring(s, 13, 2)) END",
    ),
    "_numdt_s": (
        "x DECIMAL(38,6)",
        "STRING",
        "_num14(CAST(x AS BIGINT))",
    ),
    # the fraction rounds at the declared precision (datetime(4):
    # .999999 -> +1s carry, .123456 -> .1235; cast_as_time.test)
    "_numdt_frac": (
        "x DECIMAL(38,6), p INT",
        "BIGINT",
        "CAST(round((x - FLOOR(x)) * 1000000 / pow(10, 6 - p)) AS BIGINT)"
        " * CAST(pow(10, 6 - p) AS BIGINT)",
    ),
    "mysql_num_datetime": (
        "x DECIMAL(38,6), p INT",
        "STRING",
        "CASE WHEN x IS NULL OR _dt14_render(_numdt_s(x)) IS NULL THEN NULL"
        " WHEN _numdt_s(x) = 'zero' OR substring(_numdt_s(x), 5, 2) = '00'"
        "  OR substring(_numdt_s(x), 7, 2) = '00'"
        " THEN _dt14_render(_numdt_s(x))"  # zero-in-date: no carry domain
        " WHEN p = 0 THEN date_format(timestampadd(MICROSECOND,"
        "   _numdt_frac(x, 0), to_timestamp_ntz(_numdt_s(x),"
        "   'yyyyMMddHHmmss')), 'yyyy-MM-dd HH:mm:ss')"
        " ELSE substring(date_format(timestampadd(MICROSECOND,"
        "   _numdt_frac(x, p), to_timestamp_ntz(_numdt_s(x),"
        "   'yyyyMMddHHmmss')), 'yyyy-MM-dd HH:mm:ss.SSSSSS'), 1, 20 + p)"
        " END",
    ),
    "mysql_cast_datetime": (
        # CAST(x AS DATETIME(p)): digit forms parse positionally, the
        # fraction rounds to the declared precision
        # (expr/cast_as_time.test)
        "x STRING, p INT",
        "TIMESTAMP_NTZ",
        "timestampadd(MICROSECOND,"
        " CAST(round(CAST(date_format(_mysql_num_dt_parse(x), 'SSSSSS') AS BIGINT)"
        "  / CAST(pow(10, 6 - p) AS BIGINT)) AS BIGINT) * CAST(pow(10, 6 - p) AS BIGINT)"
        "  - CAST(date_format(_mysql_num_dt_parse(x), 'SSSSSS') AS BIGINT),"
        " _mysql_num_dt_parse(x))",
    ),
    "mysql_date": (
        # DATE(x) over MySQL's digit forms too: 111111 (YYMMDD),
        # 20210313, 20210313123456 parse positionally (expr/date.test);
        # digit strings must NOT reach the ISO cast (Spark would read
        # '111111' as year 111111), and time-only strings ('08:45:16')
        # are NULL, not today (expr/cast_as_time.test)
        "x STRING",
        "DATE",
        "CAST(_mysql_num_dt_parse(x) AS DATE)",
    ),
    # Spark 4 ships builtin dayname/monthname (3-letter); MySQL's return
    # full names — registered under mysql_ names, mapped by the
    # statement rewriter
    "mysql_dayname": (
        "x STRING",
        "STRING",
        "date_format(mysql_date(x), 'EEEE')",
    ),
    "mysql_monthname": (
        "x STRING",
        "STRING",
        # MONTHNAME only needs the month field: a ZERO DAY is legal
        # ('0000-01-00' -> January; month 0 -> NULL;
        # expr/datename_monthname.test) — dashed forms read the month
        # positionally with the day replaced by 01
        "CASE WHEN trim(x) RLIKE '^[0-9]{1,4}-[0-9]{1,2}-[0-9]{1,2}$' THEN"
        " date_format(try_to_date(concat("
        "  regexp_extract(trim(x), '^([0-9]{1,4})-', 1), '-',"
        "  regexp_extract(trim(x), '^[0-9]{1,4}-([0-9]{1,2})', 1),"
        "  '-01'), 'y-M-d'), 'MMMM')"
        " ELSE date_format(mysql_date(x), 'MMMM') END",
    ),
    # the length operand coerces MySQL-style (string -> numeric prefix,
    # 'abc' -> 0) — hence STRING-typed with an explicit parse
    "_mysql_pad_n": (
        "n STRING",
        "BIGINT",
        "CAST(round(mysql_to_double(n)) AS BIGINT)",
    ),
    "mysql_lpad": (
        # MySQL: negative target length or empty pad that would have to
        # stretch -> NULL (expr/pad.test); otherwise truncate-or-pad
        "s STRING, n STRING, p STRING",
        "STRING",
        "CASE WHEN s IS NULL OR n IS NULL OR p IS NULL OR _mysql_pad_n(n) < 0 THEN NULL"
        " WHEN _mysql_pad_n(n) <= char_length(s)"
        "  THEN substring(s, 1, CAST(_mysql_pad_n(n) AS INT))"
        " WHEN p = '' THEN NULL"
        " ELSE lpad(s, CAST(_mysql_pad_n(n) AS INT), p) END",
    ),
    "mysql_rpad": (
        "s STRING, n STRING, p STRING",
        "STRING",
        "CASE WHEN s IS NULL OR n IS NULL OR p IS NULL OR _mysql_pad_n(n) < 0 THEN NULL"
        " WHEN _mysql_pad_n(n) <= char_length(s)"
        "  THEN substring(s, 1, CAST(_mysql_pad_n(n) AS INT))"
        " WHEN p = '' THEN NULL"
        " ELSE rpad(s, CAST(_mysql_pad_n(n) AS INT), p) END",
    ),
    "strcmp": (
        "a STRING, b STRING",
        "INT",
        "CASE WHEN a < b THEN -1 WHEN a = b THEN 0 WHEN a > b THEN 1 END",
    ),
    "istrue": (
        # x IS TRUE — MySQL truthiness as a named function: NULL -> 0,
        # nonzero -> 1 (TiDB istrue, expr/is_true_false.test)
        "x DOUBLE",
        "INT",
        "CASE WHEN x IS NULL THEN 0 ELSE CAST(x <> 0 AS INT) END",
    ),
    "isfalse": (
        "x DOUBLE",
        "INT",
        "CASE WHEN x IS NULL THEN 0 ELSE CAST(x = 0 AS INT) END",
    ),
    "format": (
        # MySQL FORMAT rounds the value's DECIMAL rendering (shortest
        # round-trip string), not its binary double — format(12.1235, 3)
        # is 12.124 even though the double is a hair under
        # (expr/format.test). Out-of-decimal-range values fall back to
        # the binary path.
        "x DOUBLE, d INT",
        "STRING",
        "coalesce(format_number(try_cast(CAST(x AS STRING) AS DECIMAL(38,18)),"
        "  greatest(d, 0)),"  # MySQL clamps a negative digit count to 0
        " format_number(x, greatest(d, 0)))",
    ),
    "get_format": (
        # GET_FORMAT(type, location) — the type keyword is quoted by the
        # statement rewriter (admin_sql._GET_FORMAT_KW)
        "t STRING, loc STRING",
        "STRING",
        "CASE upper(t)"
        " WHEN 'DATE' THEN CASE upper(loc)"
        "  WHEN 'USA' THEN '%m.%d.%Y' WHEN 'JIS' THEN '%Y-%m-%d'"
        "  WHEN 'ISO' THEN '%Y-%m-%d' WHEN 'EUR' THEN '%d.%m.%Y'"
        "  WHEN 'INTERNAL' THEN '%Y%m%d' END"
        " WHEN 'TIME' THEN CASE upper(loc)"
        "  WHEN 'USA' THEN '%h:%i:%s %p' WHEN 'JIS' THEN '%H:%i:%s'"
        "  WHEN 'ISO' THEN '%H:%i:%s' WHEN 'EUR' THEN '%H.%i.%s'"
        "  WHEN 'INTERNAL' THEN '%H%i%s' END"
        " ELSE CASE upper(loc)"  # DATETIME / TIMESTAMP
        "  WHEN 'USA' THEN '%Y-%m-%d %H.%i.%s' WHEN 'JIS' THEN '%Y-%m-%d %H:%i:%s'"
        "  WHEN 'ISO' THEN '%Y-%m-%d %H:%i:%s' WHEN 'EUR' THEN '%Y-%m-%d %H.%i.%s'"
        "  WHEN 'INTERNAL' THEN '%Y%m%d%H%i%s' END"
        " END",
    ),
    "is_ipv4": (
        "s STRING",
        "INT",
        "CASE WHEN s IS NULL THEN 0"
        r" WHEN s NOT RLIKE '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$' THEN 0"
        r" ELSE CAST(forall(split(s, '\\.'), x -> CAST(x AS INT) <= 255) AS INT)"
        " END",
    ),
    "is_ipv6": (
        # textbook validation: hex-and-colon charset, at most one '::',
        # groups of 1-4 hex digits, 8 groups exactly (or fewer with one
        # '::'), no stray single-colon edges. IPv4-mapped tails are not
        # recognized (reference formatIPv6.cpp renders them; the checker
        # here follows the pure-hex forms the expr suite exercises).
        "s STRING",
        "INT",
        "CASE WHEN s IS NULL THEN 0"
        " WHEN s NOT RLIKE '^[0-9A-Fa-f:]+$' THEN 0"
        " WHEN s RLIKE ':::' THEN 0"
        " WHEN NOT forall(filter(split(s, ':'), x -> x != ''),"
        "   x -> x RLIKE '^[0-9A-Fa-f]{1,4}$') THEN 0"
        " WHEN size(split(s, '::')) = 2 THEN"
        "   CAST(size(filter(split(s, ':'), x -> x != '')) <= 7 AS INT)"
        " ELSE CAST(size(filter(split(s, ':'), x -> x != '')) = 8"
        "   AND s NOT RLIKE '^:' AND s NOT RLIKE ':$' AS INT)"
        " END",
    ),
    "json_extract": (
        # 1-path JSON_EXTRACT rendered MySQL-style (strings stay quoted,
        # objects/arrays re-serialized) via the variant path
        "doc STRING, p STRING",
        "STRING",
        "to_json(variant_get(try_parse_json(doc), p))",
    ),
    "json_length": (
        "doc STRING",
        "INT",
        "CASE WHEN doc IS NULL OR try_parse_json(doc) IS NULL THEN NULL"
        r" WHEN trim(doc) RLIKE '^\\[' THEN json_array_length(doc)"
        r" WHEN trim(doc) RLIKE '^\\{' THEN size(json_object_keys(doc))"
        " ELSE 1 END",
    ),
    "json_keys": (
        "doc STRING",
        "STRING",
        "to_json(json_object_keys(doc))",
    ),
    "json_valid": (
        "doc STRING",
        "INT",
        "CASE WHEN doc IS NULL THEN NULL"
        " ELSE CAST(try_parse_json(doc) IS NOT NULL AS INT) END",
    ),
    # MySQL TRIM([BOTH|LEADING|TRAILING] remstr FROM str) removes the
    # exact SUBSTRING repeatedly (Spark's trim removes a character set).
    # The remstr is regex-quoted, then anchored-repeated-group stripped.
    "_regex_quote": (
        "s STRING",
        "STRING",
        r"regexp_replace(s, '([^A-Za-z0-9])', '\\\\$1')",
    ),
    "mysql_trim_leading": (
        "r STRING, s STRING",
        "STRING",
        "CASE WHEN r IS NULL OR s IS NULL THEN NULL WHEN r = '' THEN s"
        " ELSE regexp_replace(s, concat('^(?:', _regex_quote(r), ')+'), '') END",
    ),
    "mysql_trim_trailing": (
        "r STRING, s STRING",
        "STRING",
        "CASE WHEN r IS NULL OR s IS NULL THEN NULL WHEN r = '' THEN s"
        " ELSE regexp_replace(s, concat('(?:', _regex_quote(r), ')+$'), '') END",
    ),
    "mysql_trim_both": (
        "r STRING, s STRING",
        "STRING",
        "mysql_trim_trailing(r, mysql_trim_leading(r, s))",
    ),
    "sleep": (
        # SLEEP(n): the reference scripts use it to sequence replication
        # races; writes here are synchronous, so it degenerates to its
        # MySQL return value (0)
        "n DOUBLE",
        "INT",
        "CASE WHEN n IS NOT NULL THEN 0 ELSE 0 END",
    ),
    "nulleq": (
        # MySQL NULLEQ(a, b) — the <=> operator as a named function
        # (reference tests/fullstack-test/expr/nulleq.test); never NULL,
        # prints as 0/1
        "a DOUBLE, b DOUBLE",
        "INT",
        "CAST(a <=> b AS INT)",
    ),
    "vec_from_text": (
        "s STRING",
        "ARRAY<DOUBLE>",
        "transform(split(trim(BOTH '[]' FROM s), ','),"
        " x -> CAST(trim(x) AS DOUBLE))",
    ),
    # --- MySQL bit operators: the unsigned-64 domain -----------------
    # MySQL evaluates ~ & | ^ << >> over UNSIGNED BIGINT (results render
    # as 0..2^64-1, reference expr/bitwise_operator.test,
    # bitshift_operator.test; impl FunctionsArithmetic bitNot/bitShift*).
    # Representation: DECIMAL(20,0) at the surface (the repo-wide 64-bit
    # unsigned presentation), two's-complement BIGINT inside so the JVM
    # bit instructions do the work.
    "mysql_u64": (
        "x DECIMAL(20,0)",
        "DECIMAL(20,0)",
        "CASE WHEN x < 0 THEN CAST(CAST(x AS DECIMAL(21,0))"
        " + 18446744073709551616 AS DECIMAL(20,0)) ELSE x END",
    ),
    "_u64_to_i64": (
        "u DECIMAL(20,0)",
        "BIGINT",
        "CAST(CAST(u AS DECIMAL(21,0)) - CASE WHEN u >= 9223372036854775808"
        " THEN 18446744073709551616 ELSE 0 END AS BIGINT)",
    ),
    "_i64_to_u64": (
        "b BIGINT",
        "DECIMAL(20,0)",
        "CASE WHEN b < 0 THEN CAST(CAST(b AS DECIMAL(21,0))"
        " + 18446744073709551616 AS DECIMAL(20,0))"
        " ELSE CAST(b AS DECIMAL(20,0)) END",
    ),
    "mysql_bitnot": (
        "x DECIMAL(20,0)",
        "DECIMAL(20,0)",
        "CAST(18446744073709551615 - CAST(mysql_u64(x) AS DECIMAL(21,0))"
        " AS DECIMAL(20,0))",
    ),
    "mysql_band": (
        "a DECIMAL(20,0), b DECIMAL(20,0)",
        "DECIMAL(20,0)",
        "_i64_to_u64(_u64_to_i64(mysql_u64(a)) & _u64_to_i64(mysql_u64(b)))",
    ),
    "mysql_bor": (
        "a DECIMAL(20,0), b DECIMAL(20,0)",
        "DECIMAL(20,0)",
        "_i64_to_u64(_u64_to_i64(mysql_u64(a)) | _u64_to_i64(mysql_u64(b)))",
    ),
    "mysql_bxor": (
        "a DECIMAL(20,0), b DECIMAL(20,0)",
        "DECIMAL(20,0)",
        "_i64_to_u64(_u64_to_i64(mysql_u64(a)) ^ _u64_to_i64(mysql_u64(b)))",
    ),
    "mysql_shr": (
        # logical (unsigned) right shift; shift counts >= 64 yield 0
        "a DECIMAL(20,0), n BIGINT",
        "DECIMAL(20,0)",
        "CASE WHEN a IS NULL OR n IS NULL THEN NULL"
        " WHEN n < 0 OR n > 63 THEN CAST(0 AS DECIMAL(20,0))"
        " ELSE _i64_to_u64(shiftrightunsigned(_u64_to_i64(mysql_u64(a)),"
        " CAST(n AS INT))) END",
    ),
    "mysql_shl": (
        # left shift wraps mod 2^64; counts >= 64 yield 0 (Java << uses
        # n mod 64, so the explicit guard is load-bearing)
        "a DECIMAL(20,0), n BIGINT",
        "DECIMAL(20,0)",
        "CASE WHEN a IS NULL OR n IS NULL THEN NULL"
        " WHEN n < 0 OR n > 63 THEN CAST(0 AS DECIMAL(20,0))"
        " ELSE _i64_to_u64(shiftleft(_u64_to_i64(mysql_u64(a)),"
        " CAST(n AS INT))) END",
    ),
    # --- MySQL truthiness (numeric/string WHERE and OR/AND operands) --
    "mysql_truthy": (
        "x STRING",
        "BOOLEAN",
        "CASE WHEN x IS NULL THEN NULL"
        " WHEN lower(x) = 'true' THEN true"
        " WHEN lower(x) = 'false' THEN false"
        " ELSE coalesce(mysql_to_double(x), 0.0D) <> 0 END",
    ),
    # --- MySQL TIME (duration) cast ------------------------------------
    # cast(x AS TIME(n)) renders 'HH:MM:SS[.n digits]'; input is a
    # datetime/date (time-of-day part), a duration literal
    # '[-]H+:MM:SS[.f]', or a number read right-aligned as HHMMSS
    # (reference expr/cast_as_duration.test; Functions cast to MyDuration)
    "_mysql_time_us": (
        "x STRING",
        "BIGINT",
        "CASE WHEN x IS NULL THEN NULL"
        " WHEN x RLIKE '^[0-9]{4}[-/][0-9]{1,2}[-/][0-9]{1,2}' THEN"
        "  CASE WHEN try_cast(translate(x, '/', '-') AS TIMESTAMP) IS NULL THEN NULL"
        "  ELSE (CAST(hour(try_cast(translate(x, '/', '-') AS TIMESTAMP)) AS BIGINT) * 3600"
        "   + minute(try_cast(translate(x, '/', '-') AS TIMESTAMP)) * 60"
        "   + second(try_cast(translate(x, '/', '-') AS TIMESTAMP))) * 1000000"
        "   + pmod(unix_micros(try_cast(translate(x, '/', '-') AS TIMESTAMP)), 1000000) END"
        " WHEN x RLIKE '^-?[0-9]+:[0-9]{1,2}(:[0-9]{1,2}(\\\\.[0-9]+)?)?$' THEN"
        "  (CASE WHEN x LIKE '-%' THEN -1 ELSE 1 END) * ("
        "   CAST(split(regexp_replace(regexp_replace(x, '^-', ''), '\\\\..*$', ''), ':')[0] AS BIGINT) * 3600000000"
        "   + CAST(split(regexp_replace(regexp_replace(x, '^-', ''), '\\\\..*$', ''), ':')[1] AS BIGINT) * 60000000"
        "   + coalesce(CAST(split(regexp_replace(regexp_replace(x, '^-', ''), '\\\\..*$', ''), ':')[2] AS BIGINT), 0) * 1000000"
        "   + CAST(substring(rpad(regexp_extract(x, '\\\\.([0-9]+)$', 1), 6, '0'), 1, 6) AS BIGINT))"
        " WHEN x RLIKE '^-?[0-9]+(\\\\.[0-9]+)?$' THEN"
        "  CASE WHEN abs(CAST(regexp_extract(x, '^-?([0-9]+)', 1) AS BIGINT)) % 100 < 60"
        "    AND abs(CAST(regexp_extract(x, '^-?([0-9]+)', 1) AS BIGINT)) div 100 % 100 < 60 THEN"
        "   (CASE WHEN x LIKE '-%' THEN -1 ELSE 1 END) * ("
        "    (CAST(regexp_extract(x, '^-?([0-9]+)', 1) AS BIGINT) div 10000) * 3600000000"
        "    + (CAST(regexp_extract(x, '^-?([0-9]+)', 1) AS BIGINT) div 100 % 100) * 60000000"
        "    + (CAST(regexp_extract(x, '^-?([0-9]+)', 1) AS BIGINT) % 100) * 1000000"
        "    + CAST(substring(rpad(regexp_extract(x, '\\\\.([0-9]+)$', 1), 6, '0'), 1, 6) AS BIGINT))"
        "  END"
        " END",
    ),
    "_mysql_time_fmt": (
        "us BIGINT, n INT",
        "STRING",
        "CASE WHEN us IS NULL THEN NULL ELSE concat("
        " CASE WHEN us < 0 THEN '-' ELSE '' END,"
        " lpad(CAST((CAST(floor(abs(us) / pow(10, 6 - n) + 0.5) AS BIGINT)"
        "  * CAST(pow(10, 6 - n) AS BIGINT)) div 3600000000 AS STRING), 2, '0'), ':',"
        " lpad(CAST((CAST(floor(abs(us) / pow(10, 6 - n) + 0.5) AS BIGINT)"
        "  * CAST(pow(10, 6 - n) AS BIGINT)) div 60000000 % 60 AS STRING), 2, '0'), ':',"
        " lpad(CAST((CAST(floor(abs(us) / pow(10, 6 - n) + 0.5) AS BIGINT)"
        "  * CAST(pow(10, 6 - n) AS BIGINT)) div 1000000 % 60 AS STRING), 2, '0'),"
        " CASE WHEN n > 0 THEN concat('.',"
        "  substring(lpad(CAST((CAST(floor(abs(us) / pow(10, 6 - n) + 0.5) AS BIGINT)"
        "   * CAST(pow(10, 6 - n) AS BIGINT)) % 1000000 AS STRING), 6, '0'), 1, n))"
        " ELSE '' END)"
        " END",
    ),
    "mysql_cast_time": (
        "x STRING, n INT",
        "STRING",
        "_mysql_time_fmt(_mysql_time_us(x), n)",
    ),
}


# Arrow-batched Python UDFs: registrar (module, function) -> the names it
# registers. One registrar registers its whole group.
_UDF_GROUPS: dict[tuple[str, str], tuple[str, ...]] = {
    ("mysql_json", "register_json_udfs"): (
        "mysql_json_extract", "mysql_json_keys", "mysql_json_contains_path",
        "mysql_cast_json",
    ),
    ("mysql_json", "register_string_udfs"): ("mysql_substring_index",),
    ("mysql_regexp", "register_regexp_udfs"): (
        "mysql_regexp_instr", "mysql_regexp_substr", "mysql_regexp_replace",
    ),
    ("decimal65", "register_decimal65_udfs"): (
        "dec65_canon", "dec65_norm", "dec65_mod", "dec65_round",
        "dec65_truncate", "dec65_abs", "dec65_format", "dec65_sum",
        "dec65_limb", "dec65_sum_fin", "dec65_sortkey", "dec65_sum_arr",
        "dec65_avg_arr", "dec65_avg_fin", "dec65_add", "dec65_sub",
        "dec65_mul", "dec65_div",
    ),
}

_UDF_NAMES = [n for names in _UDF_GROUPS.values() for n in names]
# registration order: SQL bodies in dict order (a body only calls names
# defined before it), then the Python UDFs
_ORDER = {n: i for i, n in enumerate([*MYSQL_SQL_FUNCTIONS, *_UDF_NAMES])}

# a call of a registry name: `name(` or `` `name`( ``, any case
_CALL = re.compile(
    r"(?<![\w$`])`?("
    + "|".join(sorted(_ORDER, key=len, reverse=True))
    + r")`?\s*\(",
    re.IGNORECASE,
)


def called_names(text: str) -> set[str]:
    """Registry names ``text`` calls (not their dependencies)."""
    return {m.group(1).lower() for m in _CALL.finditer(text)}


def _closures() -> dict[str, frozenset[str]]:
    """name -> every registry name it needs registered first (itself
    included), from the bodies; a Python UDF needs its whole group, which
    one registrar call registers."""
    memo: dict[str, frozenset[str]] = {}

    def close(name: str) -> frozenset[str]:
        if name not in memo:
            deps = called_names(MYSQL_SQL_FUNCTIONS[name][2]) - {name}
            memo[name] = frozenset({name}).union(*map(close, deps))
        return memo[name]

    for name in MYSQL_SQL_FUNCTIONS:
        close(name)
    for names in _UDF_GROUPS.values():
        memo.update(dict.fromkeys(names, frozenset(names)))
    return memo


CLOSURE = _closures()
_GROUP_OF = {n: g for g, names in _UDF_GROUPS.items() for n in names}


def _registered(spark: SparkSession) -> set[str]:
    """Names registered on this session (lives on the session object)."""
    done = getattr(spark, "_tiflash_functions", None)
    if done is None:
        done = spark._tiflash_functions = set()
    return done


def _register(spark: SparkSession, names: set[str]) -> None:
    done = _registered(spark)
    for name in sorted(names - done, key=_ORDER.__getitem__):
        if name in done:  # registered with an earlier name's group
            continue
        if name in MYSQL_SQL_FUNCTIONS:
            sig, ret, body = MYSQL_SQL_FUNCTIONS[name]
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
                f"RETURNS {ret} RETURN {body}"
            )
            done.add(name)
        else:
            module, fn = _GROUP_OF[name]
            mod = importlib.import_module(f"tiflash_spark.functions.{module}")
            done.update(getattr(mod, fn)(spark))


def ensure_functions(spark: SparkSession, text: str) -> list[str]:
    """Register the registry functions ``text`` calls, with everything
    their bodies call, before ``text`` reaches Spark's parser. Names this
    session already has are skipped. Returns the names registered now."""
    need = set().union(*(CLOSURE[n] for n in called_names(text)))
    done = _registered(spark)
    before = set(done)
    if need - done:
        _register(spark, need)
    return sorted(done - before, key=_ORDER.__getitem__)


def register_mysql_functions(spark: SparkSession) -> list[str]:
    """Register the whole MySQL-name surface as temporary functions on
    this session. Returns every registry name."""
    _register(spark, set(_ORDER))
    return list(_ORDER)
