"""Misc MySQL function surface: IP address, duration (MySQL TIME), bit,
unsigned widening (SURVEY.md §1.2, §2.4 IP/misc rows).

Reference impls: dbms/src/Functions/FunctionsCoding.cpp (inet_aton/ntoa,
hex/bin), FunctionsIsIPAddr.cpp (isIPv4/isIPv6), DataTypeMyDuration.h
(TIME as Int64 nanoseconds), TiDBTypes.h UInt64→wider-type rule.

All pure Column expressions (codegen-friendly); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- IPv4 -------------------------------------------------------------------

_IPV4_RE = (
    r"^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\.){3}"
    r"(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"
)
# colon-separated hex groups; pragmatic check like the reference's parser
_IPV6_RE = r"^([0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}$"


def is_ipv4(s: Column) -> Column:
    """MySQL IS_IPV4 (reference dbms/src/Functions/FunctionsIsIPAddr.cpp)."""
    return s.rlike(_IPV4_RE)


def is_ipv6(s: Column) -> Column:
    return (~is_ipv4(s)) & s.rlike(_IPV6_RE)


def inet_aton(s: Column) -> Column:
    """dotted-quad → number; NULL for malformed input (MySQL semantics)."""
    parts = F.split(s, r"\.")
    num = (
        F.element_at(parts, 1).cast("long") * 16777216
        + F.element_at(parts, 2).cast("long") * 65536
        + F.element_at(parts, 3).cast("long") * 256
        + F.element_at(parts, 4).cast("long")
    )
    return F.when(is_ipv4(s), num)


def inet_ntoa(n: Column) -> Column:
    """number → dotted-quad; NULL out of range."""
    oct1 = (n / 16777216).cast("long") % 256
    oct2 = (n / 65536).cast("long") % 256
    oct3 = (n / 256).cast("long") % 256
    oct4 = n.cast("long") % 256
    return F.when(
        (n >= 0) & (n <= 4294967295),
        F.concat_ws(".", oct1.cast("string"), oct2.cast("string"), oct3.cast("string"), oct4.cast("string")),
    )


# --- MySQL TIME / duration (Int64 nanoseconds) ------------------------------


def time_to_sec(dur_ns: Column) -> Column:
    """MySQL TIME_TO_SEC over the engine's Int64-nanosecond duration
    encoding (DataTypeMyDuration.h). Truncates toward zero like MySQL."""
    return (dur_ns / 1_000_000_000).cast("long")


def sec_to_time_str(seconds: Column) -> Column:
    """MySQL SEC_TO_TIME rendered as 'HH:MM:SS' (can exceed 24 h)."""
    total = seconds.cast("long")
    sign = F.when(total < 0, F.lit("-")).otherwise(F.lit(""))
    a = F.abs(total)
    h = (a / 3600).cast("long")
    m = ((a % 3600) / 60).cast("long")
    s = a % 60
    return F.concat(
        sign,
        F.lpad(h.cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(m.cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(s.cast("string"), 2, "0"),
    )


# --- unsigned widening (§1.2) -----------------------------------------------


def uint64_to_decimal(n: Column) -> Column:
    """TiDB UInt64 surfaces as Decimal(20,0) in Spark (no unsigned 64-bit
    type); negative raw longs are the two's-complement upper half."""
    two_pow_64 = F.expr("CAST('18446744073709551616' AS DECIMAL(21,0))")
    return (
        F.when(n >= 0, n.cast("decimal(20,0)"))
        .otherwise((n.cast("decimal(21,0)") + two_pow_64).cast("decimal(20,0)"))
    )


# --- bit --------------------------------------------------------------------


def export_set(bits: Column, on: str = "1", off: str = "0", sep: str = ",", n: int = 8) -> Column:
    """MySQL EXPORT_SET over the low n bits."""
    parts = [
        F.when(F.shiftright(bits, i).bitwiseAND(F.lit(1)) == 1, F.lit(on)).otherwise(F.lit(off))
        for i in range(n)
    ]
    return F.concat_ws(sep, *parts)


# --- MySQL ENUM / SET surface (§1.2: Enum16, Set = UInt64 bitmask) ----------


def enum_name(ordinal: Column, names: list[str]) -> Column:
    """ENUM ordinal (1-based, MySQL style) → label; NULL out of range.
    Reference surfaces Enum as Enum16 (DataTypeEnum.h); here the dictionary
    is explicit, like a broadcast dimension."""
    expr = F.lit(None)
    for i in range(len(names), 0, -1):
        expr = F.when(ordinal == i, F.lit(names[i - 1])).otherwise(expr)
    return expr


def set_to_array(mask: Column, names: list[str]) -> Column:
    """SET bitmask (UInt64, TiDBTypes.h tag 0xf8) → array of member names."""
    members = [
        F.when(F.shiftright(mask, i).bitwiseAND(F.lit(1)) == 1, F.lit(n))
        for i, n in enumerate(names)
    ]
    return F.array_compact(F.array(*members))


def find_in_set(needle: Column, csv: Column) -> Column:
    """MySQL FIND_IN_SET: 1-based position of needle in 'a,b,c', 0 if absent."""
    arr = F.split(csv, ",")
    pos = F.array_position(arr, needle)
    return F.when(needle.isNull() | csv.isNull(), F.lit(None)).otherwise(pos.cast("int"))


def mysql_format(n: Column, decimals: int) -> Column:
    """MySQL FORMAT(n, d): thousands separators + fixed decimals
    (reference FunctionsString.cpp format). format_number alone rounds
    half-even; MySQL rounds half-up — pre-round with F.round (HALF_UP)."""
    return F.format_number(F.round(n, decimals), decimals)


def mysql_truncate(x: Column | str, d: int) -> Column:
    """TRUNCATE(X, D) (reference tidbTruncateWithFrac, FunctionsRound.cpp):
    truncation toward zero to D fractional digits; negative D zeroes digits
    left of the decimal point. Differs from ROUND (no half-away) and from
    FLOOR (which goes toward -inf for negatives)."""
    col = F.col(x) if isinstance(x, str) else x
    if d >= 0:
        scale = F.lit(float(10**d))
        return F.signum(col) * F.floor(F.abs(col) * scale) / scale
    # negative D: DIVIDE by the exact power of ten — multiplying by the
    # inexact reciprocal (0.1…) rounds values like 999999.9999999999 UP
    # across the floor boundary (hypothesis-found)
    scale = F.lit(float(10 ** (-d)))
    return F.signum(col) * F.floor(F.abs(col) / scale) * scale


def mysql_round(x: Column | str, d: Column | int) -> Column:
    """ROUND(X, D) with a COLUMN scale (reference tidbRoundWithFrac,
    FunctionsRound.cpp; issue_3333 pins it for every int width incl.
    unsigned): half-away-from-zero at D fractional digits; negative D
    rounds digits left of the point. Spark's built-in round() only takes
    a foldable literal scale, so the dynamic form is spelled out. Same
    divide-don't-multiply care as mysql_truncate for negative D (the
    inexact reciprocal 0.01... crosses floor boundaries)."""
    col = (F.col(x) if isinstance(x, str) else x).cast("double")
    dd = (F.lit(d) if isinstance(d, int) else d).cast("int")
    scale = F.pow(F.lit(10.0), F.abs(dd).cast("double"))
    scaled = F.when(dd >= 0, F.abs(col) * scale).otherwise(F.abs(col) / scale)
    rounded = F.floor(scaled + F.lit(0.5))
    back = F.when(dd >= 0, rounded / scale).otherwise(rounded * scale)
    return F.signum(col) * back


def logical_xor(a: Column, b: Column) -> Column:
    """MySQL XOR (reference `xor` in the live map): NULL if either side is
    NULL, else (a != 0) != (b != 0) as 1/0."""
    return ((a.cast("double") != 0) != (b.cast("double") != 0)).cast("int")


def is_true(x: Column | str, with_null: bool = False) -> Column:
    """IS TRUE (reference isTrue/isTrueWithNull): nonzero -> 1, zero -> 0;
    NULL -> 0 for IS TRUE, NULL for the WithNull variant (used inside
    expressions where NULL must propagate)."""
    col = (F.col(x) if isinstance(x, str) else x).cast("double")
    flag = (col != 0).cast("int")
    return flag if with_null else F.coalesce(flag, F.lit(0))


def is_false(x: Column | str, with_null: bool = False) -> Column:
    """IS FALSE (reference isFalse/isFalseWithNull)."""
    col = (F.col(x) if isinstance(x, str) else x).cast("double")
    flag = (col == 0).cast("int")
    return flag if with_null else F.coalesce(flag, F.lit(0))


def mysql_shiftleft(x: Column | str, n: Column | int) -> Column:
    """x << n with MySQL BIGINT UNSIGNED semantics (reference bitShiftLeft):
    the result wraps modulo 2^64 and is presented unsigned (DECIMAL(20,0)
    via uint64_to_decimal); shift counts outside 0..63 yield 0."""
    col = (F.col(x) if isinstance(x, str) else x).cast("long")
    nn = F.lit(n) if isinstance(n, int) else n.cast("int")
    shifted = uint64_to_decimal(F.call_function("shiftleft", col, nn))
    return F.when((nn < 0) | (nn > 63), F.lit(0).cast("decimal(20,0)")).otherwise(
        shifted
    )


def mysql_shiftright(x: Column | str, n: Column | int) -> Column:
    """x >> n, logical (unsigned) shift like MySQL (reference bitShiftRight):
    the sign bit shifts in as 0 — Spark's shiftrightunsigned — and counts
    outside 0..63 yield 0."""
    col = (F.col(x) if isinstance(x, str) else x).cast("long")
    nn = F.lit(n) if isinstance(n, int) else n.cast("int")
    shifted = uint64_to_decimal(F.call_function("shiftrightunsigned", col, nn))
    return F.when((nn < 0) | (nn > 63), F.lit(0).cast("decimal(20,0)")).otherwise(
        shifted
    )


def extract_duration(unit: str, dur_ns: Column | str) -> Column:
    """EXTRACT(unit FROM duration) (reference extractMyDuration,
    FunctionsDuration.cpp) over the repo's Int64-nanosecond duration
    encoding. Negative durations extract negative components, as MySQL
    does for TIME values."""
    col = (F.col(dur_ns) if isinstance(dur_ns, str) else dur_ns).cast("long")
    sign = F.when(col < 0, F.lit(-1)).otherwise(F.lit(1))
    a = F.abs(col)
    hour = (a / 3_600_000_000_000).cast("long")
    minute = (a / 60_000_000_000).cast("long") % 60
    second = (a / 1_000_000_000).cast("long") % 60
    micro = (a / 1_000).cast("long") % 1_000_000
    table = {
        "HOUR": hour,
        "MINUTE": minute,
        "SECOND": second,
        "MICROSECOND": micro,
        "SECOND_MICROSECOND": second * 1_000_000 + micro,
        "MINUTE_SECOND": minute * 100 + second,
        "MINUTE_MICROSECOND": (minute * 100 + second) * 1_000_000 + micro,
        "HOUR_SECOND": hour * 10_000 + minute * 100 + second,
        "HOUR_MINUTE": hour * 100 + minute,
        "HOUR_MICROSECOND": (hour * 10_000 + minute * 100 + second) * 1_000_000
        + micro,
    }
    if unit.upper() not in table:
        raise ValueError(f"unsupported duration unit {unit!r}")
    return (sign * table[unit.upper()]).cast("long")


# --- IPv6 conversions (reference tiDBIPv6StringToNum /
# tiDBIPv6NumToString, FunctionsCoding.cpp; MySQL INET6_ATON/INET6_NTOA).
# Pure codegen: '::' expansion / leftmost-longest-run compression are
# string expressions, no UDFs.


def _ipv6_tail_v4_to_hex(s: Column) -> Column:
    """Replace a trailing dotted-quad (e.g. '::ffff:1.2.3.4') with its
    two hex groups, so the rest of the pipeline sees pure groups."""
    v4 = F.regexp_extract(s, r"((\d{1,3}\.){3}\d{1,3})$", 1)
    # every dotted-quad octet must be <= 255 — MySQL returns NULL for
    # '::ffff:999.1.1.1'; without the check num > 2^32 and the lpad-to-8
    # TRUNCATES the hex, silently yielding garbage groups
    octets_ok = (
        F.size(
            F.filter(F.split(v4, r"\."), lambda o: o.cast("int") > 255)
        )
        == 0
    )
    num = (
        F.split(v4, r"\.")[0].cast("long") * 16777216
        + F.split(v4, r"\.")[1].cast("long") * 65536
        + F.split(v4, r"\.")[2].cast("long") * 256
        + F.split(v4, r"\.")[3].cast("long")
    )
    hex8 = F.lpad(F.lower(F.hex(num)), 8, "0")
    groups = F.concat(
        F.substring(hex8, 1, 4), F.lit(":"), F.substring(hex8, 5, 4)
    )
    return (
        F.when(
            (v4 != "") & ~octets_ok, F.lit("x")  # poison: fails the group check
        )
        .when(
            v4 != "",
            F.concat(
                F.regexp_replace(s, r"((\d{1,3}\.){3}\d{1,3})$", ""), groups
            ),
        )
        .otherwise(s)
    )


def inet6_aton(s: Column | str) -> Column:
    """MySQL INET6_ATON: IPv6 text → 16-byte binary; plain IPv4 text →
    4-byte binary; NULL for malformed input."""
    col = F.col(s) if isinstance(s, str) else s
    unhex_v4 = F.unhex(F.lpad(F.hex(inet_aton(col)), 8, "0"))
    t = _ipv6_tail_v4_to_hex(F.lower(F.trim(col)))
    # expand '::' to the missing zero groups
    n_present = F.size(F.filter(F.split(t, ":"), lambda x: x != ""))
    missing = F.lit(8) - n_present
    zeros = F.concat_ws(
        ":", F.transform(F.sequence(F.lit(1), missing), lambda _: F.lit("0"))
    )
    expanded = F.when(
        t.contains("::"),
        F.regexp_replace(
            F.regexp_replace(t, "::", F.concat(F.lit(":"), zeros, F.lit(":"))),
            "^:|:$",
            "",
        ),
    ).otherwise(t)
    parts = F.split(expanded, ":")
    ok = (
        (F.size(parts) == 8)
        & (F.size(F.filter(parts, lambda p: ~p.rlike("^[0-9a-f]{1,4}$"))) == 0)
        & (F.size(F.split(t, "::")) <= 2)
    )
    hex32 = F.concat_ws("", F.transform(parts, lambda p: F.lpad(p, 4, "0")))
    return (
        F.when(is_ipv4(col), unhex_v4)
        .when(is_ipv6(F.trim(col)) | t.contains(":"), F.when(ok, F.unhex(hex32)))
        .otherwise(F.lit(None).cast("binary"))
    )


def inet6_ntoa(b: Column | str) -> Column:
    """MySQL INET6_NTOA: 16-byte binary → canonical compressed lowercase
    IPv6 text (leftmost longest zero run → '::'); 4-byte binary →
    dotted-quad; NULL otherwise."""
    col = F.col(b) if isinstance(b, str) else b
    hex32 = F.lower(F.hex(col))
    groups = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.regexp_replace(
            F.substring(hex32, i * 4 + 1, 4), "^0{1,3}", ""
        ),
    )
    joined = F.concat_ws(":", groups)
    # leftmost-longest zero-run compression. regexp_replace replaces ALL
    # matches (it would corrupt two equal-length runs), so: locate the
    # FIRST match with regexp_instr, then replace only at the head of
    # the remainder with an anchored pattern. The k-ascending when-chain
    # leaves the LONGEST matching run's rewrite as the final value.
    compressed = joined

    def _first_run_compressed(k):
        pat = "(^|:)" + ":".join(["0"] * k) + "(:|$)"
        pos = F.call_function("regexp_instr", joined, F.lit(pat))
        head = F.call_function("substring", joined, F.lit(1), pos - 1)
        rem = F.call_function(
            "substring", joined, pos, F.length(joined) - pos + 1
        )
        head_pat = "^:?" + ":".join(["0"] * k) + "(:|$)"
        return pat, F.concat(head, F.regexp_replace(rem, head_pat, "::"))

    for k in range(2, 9):
        pat, cand = _first_run_compressed(k)
        compressed = F.when(joined.rlike(pat), cand).otherwise(compressed)
    v4 = inet_ntoa(
        F.conv(F.hex(col), 16, 10).cast("long")
    )
    # reference formatIPv6.cpp:139 (= MySQL inet_ntop): dotted-quad tail
    # for IPv4-mapped (words 0-4 zero, word5 == 0xffff) always, and for
    # IPv4-compatible (words 0-5 zero) only when word6 != 0 — '::2' and
    # '::1' stay hex, '::1.2.3.4' gets the quad
    tail_num = F.conv(F.substring(hex32, 25, 8), 16, 10).cast("long")
    tail_quad = inet_ntoa(tail_num)
    return (
        F.when(
            (F.length(col) == 16)
            & hex32.startswith("0" * 20 + "ffff"),
            F.concat(F.lit("::ffff:"), tail_quad),
        )
        .when(
            (F.length(col) == 16)
            & hex32.startswith("0" * 24)
            & (tail_num >= 65536),
            F.concat(F.lit("::"), tail_quad),
        )
        .when(F.length(col) == 16, compressed)
        .when(F.length(col) == 4, v4)
        .otherwise(F.lit(None).cast("string"))
    )
