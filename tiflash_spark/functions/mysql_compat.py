"""MySQL-semantics scalar shims as Column expressions.

Reference semantics (SURVEY.md §2.4):
- Division: MySQL returns NULL on division by zero (reference tidbDivide,
  dbms/src/Functions/DivisionUtils.h) — Spark's `/` already yields NULL for
  x/0 under non-ANSI mode, but integer div and mod need explicit guards.
- DATE_FORMAT uses MySQL % tokens (reference dateFormat in
  dbms/src/Functions/FunctionsDateTime.cpp); Spark uses Java patterns —
  mysql_date_format translates the common token set.
- IF/IFNULL/ELT mirror FunctionsConditional.cpp / FunctionsString.cpp `elt`.

All shims are pure Column expressions → whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MySQL DATE_FORMAT token → Java SimpleDateFormat-ish pattern used by Spark.
_MYSQL_TOKENS = [
    ("%Y", "yyyy"),
    ("%y", "yy"),
    ("%m", "MM"),
    ("%c", "M"),
    ("%d", "dd"),
    ("%e", "d"),
    ("%H", "HH"),
    ("%k", "H"),
    ("%h", "hh"),
    ("%l", "h"),
    ("%i", "mm"),
    ("%s", "ss"),
    ("%S", "ss"),
    ("%f", "SSSSSS"),
    ("%p", "a"),
    ("%W", "EEEE"),
    ("%a", "EEE"),
    ("%M", "MMMM"),
    ("%b", "MMM"),
    ("%j", "DDD"),
    ("%T", "HH:mm:ss"),
]


def mysql_format_to_spark(fmt: str) -> str:
    """Translate a MySQL DATE_FORMAT pattern into a Spark datetime pattern."""
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            for mysql_tok, spark_tok in _MYSQL_TOKENS:
                if tok == mysql_tok:
                    out.append(spark_tok)
                    break
            else:
                if tok == "%%":
                    out.append("%")
                else:
                    out.append(_quote_literal(fmt[i + 1]))
            i += 2
        else:
            # literal chars that collide with pattern letters must be quoted
            ch = fmt[i]
            out.append(_quote_literal(ch) if ch.isalpha() or ch == "'" else ch)
            i += 1
    return "".join(out)


def _quote_literal(ch: str) -> str:
    """Quote one literal char for a Java datetime pattern. A literal
    single-quote must be escaped as '' — emitting it bare (or as ''')
    produces an unbalanced quote section and date_format throws."""
    return "''" if ch == "'" else f"'{ch}'"


def _iso_weekday(c: Column) -> Column:
    """Mon=1..Sun=7 (Spark dayofweek is Sun=1..Sat=7)."""
    return (F.dayofweek(c) + 5) % 7 + 1


def _iso_week_year(c: Column) -> Column:
    """ISO week-numbering year: the year of the week's Thursday."""
    return F.year(F.date_add(c, 4 - _iso_weekday(c)))


def mysql_date_format(col: Column | str, mysql_fmt: str) -> Column:
    """MySQL DATE_FORMAT(col, '%Y-%m-%d') on Spark.

    %v (ISO week 01-53) and %x (ISO week-numbering year) can't ride the
    Java pattern — Spark bans week-based pattern letters ('Y'/'w') since
    3.0 — so the format is split at those tokens and they are computed as
    expressions (weekofyear is ISO in Spark), concat'd between
    date_format segments."""
    c = F.col(col) if isinstance(col, str) else col
    computed = {
        "%v": lambda: F.lpad(F.weekofyear(c).cast("string"), 2, "0"),
        "%x": lambda: _iso_week_year(c).cast("string"),
    }
    pieces: list[Column] = []
    buf = ""
    i = 0
    while i < len(mysql_fmt):
        tok = mysql_fmt[i : i + 2]
        if tok in computed:
            if buf:
                pieces.append(F.date_format(c, mysql_format_to_spark(buf)))
                buf = ""
            pieces.append(computed[tok]())
            i += 2
        else:
            step = 2 if mysql_fmt[i] == "%" and i + 1 < len(mysql_fmt) else 1
            buf += mysql_fmt[i : i + step]
            i += step
    if buf:
        pieces.append(F.date_format(c, mysql_format_to_spark(buf)))
    return pieces[0] if len(pieces) == 1 else F.concat(*pieces)


def mysql_div(a: Column, b: Column) -> Column:
    """MySQL integer DIV: NULL on zero divisor, truncated quotient.

    Uses Spark's integral divide (`div`) — `(a - a % b) / b` round-trips
    through double and loses precision above 2^53."""
    return F.when(b == 0, F.lit(None)).otherwise(
        F.call_function("div", a, b)
    ).cast("long")


def mysql_mod(a: Column, b: Column) -> Column:
    """MySQL %: NULL on zero divisor; result sign follows the dividend."""
    return F.when(b == 0, F.lit(None)).otherwise(a % b)


def mysql_if(cond: Column, then: Column, other: Column) -> Column:
    """MySQL IF(cond, a, b) — reference multiIf (FunctionsConditional.cpp)."""
    return F.when(cond, then).otherwise(other)


def mysql_ifnull(a: Column, b: Column) -> Column:
    return F.coalesce(a, b)


def mysql_elt(idx: Column, *choices: Column) -> Column:
    """MySQL ELT(n, a, b, ...) — 1-based pick, NULL out of range
    (reference Functions/FunctionsString.cpp elt)."""
    expr = F.lit(None)
    for i, choice in enumerate(reversed(choices)):
        n = len(choices) - i
        expr = F.when(idx == n, choice).otherwise(expr)
    return expr


def mysql_str_to_number(s: Column) -> Column:
    """MySQL string→number soft parse: leading numeric prefix, 0 for no
    digits ('12abc'→12, 'abc'→0, ' 3.5x'→3.5) — reference tidb_cast
    (FunctionsTiDBConversion.cpp) emits truncation warnings; we emit the
    value. Spark try_cast yields NULL for any trailing garbage, so the
    prefix is extracted explicitly (regexp stays in codegen)."""
    prefix = F.regexp_extract(F.trim(s), r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", 0)
    return (
        F.when(s.isNull(), F.lit(None).cast("double"))
        .when(prefix == "", F.lit(0.0))
        .otherwise(prefix.cast("double"))
    )


def mysql_str_to_int(s: Column) -> Column:
    """MySQL string→integer soft parse (truncates the fractional part)."""
    return mysql_str_to_number(s).cast("long")


# --- MySQL zero-date & unsigned cast semantics ------------------------------
# Reference: dbms/src/Functions/FunctionsTiDBConversion.cpp (tidb_cast),
# FunctionsDateTime.cpp (MyDateTime supports the 0000-00-00 sentinel that
# Gregorian timestamp types cannot represent).

ZERO_DATE = "0000-00-00"
ZERO_DATETIME = "0000-00-00 00:00:00"
_UINT64_MODULUS = "18446744073709551616"  # 2^64, > 2^63-1 so built via DECIMAL


def mysql_str_to_date(c: Column | str) -> Column:
    """String→date cast with MySQL zero-date handling: '0000-00-00' (and
    the datetime form) is a legal MySQL value but unrepresentable in a
    Gregorian DATE — under non-strict mode TiFlash surfaces it as NULL
    when the target can't hold it. Everything else is soft-parsed
    (NULL on garbage, never an error — tidb_cast)."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        F.when(F.trim(col).isin(ZERO_DATE, ZERO_DATETIME), F.lit(None).cast("date"))
        .otherwise(col.try_cast("date"))
    )


def is_zero_date(c: Column | str) -> Column:
    """Predicate for the MySQL zero-date sentinel in a string column."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(col).isin(ZERO_DATE, ZERO_DATETIME)


def mysql_cast_unsigned(c: Column | str) -> Column:
    """CAST(x AS UNSIGNED) with MySQL wrap-around: a negative signed 64-bit
    value becomes x + 2^64 (e.g. -1 → 18446744073709551615). Spark has no
    unsigned type, so the result is DECIMAL(20,0) — exact for the full
    uint64 range."""
    col = (F.col(c) if isinstance(c, str) else c).cast("long").cast("decimal(20,0)")
    modulus = F.expr(f"CAST('{_UINT64_MODULUS}' AS DECIMAL(21,0))")
    return F.when(col < 0, (col + modulus).cast("decimal(20,0)")).otherwise(col)


def mysql_cast_signed(c: Column | str) -> Column:
    """CAST(x AS SIGNED) of an unsigned DECIMAL(20,0): values above
    2^63-1 wrap back to negative (two's complement reinterpretation)."""
    col = (F.col(c) if isinstance(c, str) else c).cast("decimal(21,0)")
    modulus = F.expr(f"CAST('{_UINT64_MODULUS}' AS DECIMAL(21,0))")
    signed_max = F.expr("CAST('9223372036854775807' AS DECIMAL(21,0))")
    return (
        F.when(col > signed_max, (col - modulus).cast("long"))
        .otherwise(col.cast("long"))
    )


# --- TO_DAYS / FROM_DAYS / TO_SECONDS (reference tidbToDays/tidbFromDays/
# tidbToSeconds, DAGUtils.cpp live map; impls in FunctionsDateTime.cpp).
# MySQL's day number counts from year 0 of its calendar: TO_DAYS(d) equals
# proleptic-Gregorian ordinal(d) + 365, i.e. TO_DAYS('1970-01-01') = 719528.
_EPOCH_TO_DAYS = 719528


def mysql_to_days(c: Column | str) -> Column:
    """TO_DAYS(date): days since year 0 (MySQL calendar). NULL for NULL /
    unparseable input (the zero-date path is already NULL after
    mysql_str_to_date)."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date"))
        + F.lit(_EPOCH_TO_DAYS)
    ).cast("long")


def mysql_from_days(n: Column | str) -> Column:
    """FROM_DAYS(n): inverse of TO_DAYS. MySQL documents results only for
    n >= 366 (dates inside year 0 render as the zero date) — those map to
    NULL here, the repo-wide zero-date treatment."""
    col = (F.col(n) if isinstance(n, str) else n).cast("long")
    return F.when(
        col >= 366,
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (col - F.lit(_EPOCH_TO_DAYS)).cast("int"),
        ),
    )


def mysql_to_seconds(c: Column | str) -> Column:
    """TO_SECONDS(ts): seconds since year 0 = TO_DAYS(date part) * 86400 +
    seconds within the day (reference tidbToSeconds)."""
    col = F.col(c) if isinstance(c, str) else c
    ts = col.cast("timestamp")
    day_secs = (
        F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)
    ).cast("long")
    return mysql_to_days(ts) * F.lit(86400).cast("long") + day_secs


_GET_FORMAT_TABLE = {
    ("DATE", "USA"): "%m.%d.%Y",
    ("DATE", "JIS"): "%Y-%m-%d",
    ("DATE", "ISO"): "%Y-%m-%d",
    ("DATE", "EUR"): "%d.%m.%Y",
    ("DATE", "INTERNAL"): "%Y%m%d",
    ("DATETIME", "USA"): "%Y-%m-%d %H.%i.%s",
    ("DATETIME", "JIS"): "%Y-%m-%d %H:%i:%s",
    ("DATETIME", "ISO"): "%Y-%m-%d %H:%i:%s",
    ("DATETIME", "EUR"): "%Y-%m-%d %H.%i.%s",
    ("DATETIME", "INTERNAL"): "%Y%m%d%H%i%s",
    ("TIME", "USA"): "%h:%i:%s %p",
    ("TIME", "JIS"): "%H:%i:%s",
    ("TIME", "ISO"): "%H:%i:%s",
    ("TIME", "EUR"): "%H.%i.%s",
    ("TIME", "INTERNAL"): "%H%i%s",
}


def mysql_get_format(kind: str, locale: Column | str) -> Column:
    """GET_FORMAT(kind, locale) (reference getFormat, FunctionsDateTime.cpp;
    the MySQL format-name lookup). ``kind`` is the literal DATE/DATETIME/
    TIME keyword (parser-level in MySQL); ``locale`` may be a column.
    Unknown locale -> NULL, matching MySQL."""
    kind = kind.upper()
    if kind == "TIMESTAMP":  # MySQL alias
        kind = "DATETIME"
    loc = F.upper(F.col(locale) if isinstance(locale, str) else locale)
    out = F.lit(None).cast("string")
    for (k, name), fmt in reversed(_GET_FORMAT_TABLE.items()):
        if k == kind:
            out = F.when(loc == name, F.lit(fmt)).otherwise(out)
    return out


def mysql_microsecond(c: Column | str) -> Column:
    """MICROSECOND(ts): the fractional-second part, 0..999999 (reference
    microSecond over MyDateTime fsp)."""
    col = (F.col(c) if isinstance(c, str) else c).cast("timestamp")
    return F.pmod(F.unix_micros(col), F.lit(1000000)).cast("int")


def mysql_log(b: Column | float, x: Column | str) -> Column:
    """LOG(B, X) — arbitrary-base logarithm (reference log2args):
    NULL when B <= 0, B = 1, or X <= 0 (MySQL's domain rule)."""
    bb = (F.lit(b) if isinstance(b, (int, float)) else b).cast("double")
    xx = (F.col(x) if isinstance(x, str) else x).cast("double")
    return F.when(
        (bb > 0) & (bb != 1) & (xx > 0), F.call_function("log", bb, xx)
    )


def mysql_decimal_divide(
    a: Column | str, b: Column | str, a_scale: int, increment: int = 4
) -> Column:
    """MySQL decimal division result scale: dividend scale +
    div_precision_increment (default 4; reference tidbDivide,
    fullstack-test2/variables/set_variable_div_precision_increment.test).
    HALF_UP at the target scale, NULL on zero divisor."""
    aa = (F.col(a) if isinstance(a, str) else a).cast("decimal(38,18)")
    bb = (F.col(b) if isinstance(b, str) else b).cast("decimal(38,18)")
    scale = min(a_scale + increment, 30)
    return F.when(bb != 0, (aa / bb).cast(f"decimal(38,{scale})"))


def mysql_avg_decimal(c: Column | str, arg_scale: int, increment: int = 4):
    """AVG over a decimal column: MySQL result scale = argument scale +
    div_precision_increment. Aggregate expression — use inside agg()."""
    col = F.col(c) if isinstance(c, str) else c
    scale = min(arg_scale + increment, 30)
    return (
        F.sum(col.cast("decimal(38,6)")) / F.count(col)
    ).cast(f"decimal(38,{scale})")
