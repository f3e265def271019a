"""Replay the reference's ``tests/delta-merge-test`` DBGInvoke scripts.

The reference's single-process integration suite (SURVEY.md §3.3) drives a
mock-Raft environment through the DBGInvoke debug interface
(``dbms/src/Debug/DBGInvoker.cpp``): ``__mock_tidb_table`` declares a
TiDB-side schema, ``__put_region``/``__region_snapshot`` install regions,
``__raft_insert_row[_full]`` applies versioned writes, and
``dag(...)``/``query_mapped(...)``/``tidb_query(...)`` compile SQL into the
engine and compare against inline ClickHouse box-art goldens
(``tests/run-test.py`` ``parse_table_parts``, fuzz mode: unordered row
multiset, header borders ignored).

This module rebuilds that environment Spark-first:

- The TiDB-side schema is a column-ID-keyed registry (renames/drops/adds
  rebind NAMES, data stays bound to ids — ``raft/schema/rename_column.test``
  swaps names in a cycle and expects values to follow ids).
- Rows land in the real DeltaStore (sources/delta_store.py) as versioned
  batches: column ``c<id>`` holds the CANONICAL STRING rendering of the
  value, the MVCC columns are the store's own ``_INTERNAL_VERSION`` /
  ``_INTERNAL_DELMARK``, and reads go through operators/mvcc.snapshot_read
  — the same machinery the SQL surface uses.  Canonical-string storage with
  typed exposure is the engine's established pattern for domains Spark's
  types can't hold (decimal65 tier, TIME durations, MySQL zero-dates like
  ``'1991-00-14'`` which these scripts store as DATA).
- Region topology (put/split/merge/remove/snapshot) is a Python-side map;
  normal reads see only handles covered by the table's current regions
  (``raft/remove_region.test``), raw ``selraw`` reads see storage verbatim.
- Snapshot application physically REPLACES the region range's prior rows
  (a store rewrite at mock scale) and ingests the snapshot rows at their
  original commit-ts — the reference's applySnapshot delete-and-ingest,
  with raw tsos preserved unconditionally (selraw/read-tso goldens show
  raw tsos).

Query dialect: the scripts' SQL is ClickHouse-flavoured with TiDB test
shims (``count()``, ``first_row``, ``uniqRawRes``, the ``cast_X_Y`` family
whose RESULT type the mock DAG compiler defaults to Int64 —
``Debug/MockExecutor/AstToPB.cpp`` default branch, which is why
``cast_real_string(1.234)`` prints ``1``).  ``_translate_query`` lowers it
to Spark SQL over per-table temp views built from the store read.

Nothing from the reference tree is vendored — scripts are read at run time
and skipped when the tree is absent (tests/test_deltamerge_scripts.py).
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation, localcontext
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflash_spark.functions.sql_registry import ensure_functions
from tiflash_spark.operators.mvcc import DELMARK, HANDLE, VERSION, snapshot_read
from tiflash_spark.sources.delta_store import DeltaStore
from tiflash_spark.sources.testscript import (
    REFERENCE_TESTS,
    ScriptResult,
    _canon_cell,
    _format_value,
)

DELTA_MERGE_TESTS = REFERENCE_TESTS / "delta-merge-test"


class DbgError(Exception):
    """A CH-server-shaped error: rendered as the two 'Received exception'
    lines (or a bare TiFlashException line) the goldens template-match."""

    def __init__(self, message: str, code: int = 0, tiflash: bool = False):
        super().__init__(message)
        self.message = message
        self.code = code
        self.tiflash = tiflash

    def render(self) -> list[str]:
        if self.tiflash:
            return [f"Code: {self.code}. DB::TiFlashException: {self.message}"]
        return [
            "Received exception from server (version v1.0.0):",
            f"Code: {self.code}. DB::Exception: Received from localhost:9000"
            f" DB::Exception: {self.message}",
        ]


# --- ClickHouse-ish type model ----------------------------------------------

@dataclass
class Kind:
    base: str  # int uint float32 float64 decimal string date datetime
    #            timestamp time year bit enum set
    p: int = 0  # decimal precision / bit width / int byte-width
    s: int = 0  # decimal scale / temporal fsp
    nullable: bool = False
    labels: dict[int, str] | None = None  # enum ordinal->label / set idx list
    default: str | None = None  # canonical stored default (None = no default)
    has_default: bool = False


_INT_WIDTH = {"int8": 8, "int16": 16, "int32": 32, "int64": 64,
              "uint8": 8, "uint16": 16, "uint32": 32, "uint64": 64}


def parse_ch_type(spec: str) -> Kind:
    """Parse one ClickHouse/TiDB-test column type spec.

    Handles ``Nullable(...)`` wrapping, the ``asTiDBType|<type>[|default]``
    escape (reference dbgFuncMockTiDBTable.cpp), ``Enum16('a'=1,...)``,
    ``set('1','4',...)``, My* temporal aliases and plain SQL spellings
    (int/float/double/char/datetime) the scripts mix in freely."""
    spec = spec.strip()
    default_raw: str | None = None
    has_default = False
    m = re.match(r"(?i)^asTiDBType\|(.+)$", spec)
    if m:
        rest = m.group(1)
        # the default (if any) follows the LAST top-level '|'
        depth = 0
        cut = -1
        for i, ch in enumerate(rest):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "|" and depth == 0:
                cut = i
        if cut >= 0:
            spec, default_raw = rest[:cut], rest[cut + 1:]
            has_default = True
        else:
            spec = rest
    nullable = False
    nm = re.match(r"(?i)^Nullable\s*\((.*)\)$", spec.strip())
    if nm:
        nullable = True
        spec = nm.group(1).strip()
    low = spec.lower()
    k: Kind
    if low in _INT_WIDTH:
        k = Kind("uint" if low.startswith("u") else "int", p=_INT_WIDTH[low])
    elif low in ("int", "integer"):
        k = Kind("int", p=32)
    elif low in ("bigint",):
        k = Kind("int", p=64)
    elif low in ("float32", "float"):
        k = Kind("float32")
    elif low in ("float64", "double"):
        k = Kind("float64")
    elif low in ("string", "char", "varchar", "text", "blob"):
        k = Kind("string")
    elif low in ("mydate", "date"):
        k = Kind("date")
    elif low == "year":
        k = Kind("year")
    else:
        m = re.match(r"(?i)^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", spec)
        if m:
            k = Kind("decimal", p=int(m.group(1)), s=int(m.group(2)))
        else:
            m = re.match(r"(?i)^(mydatetime|datetime)\s*(?:\(\s*(\d+)\s*\))?$", spec)
            if m:
                k = Kind("datetime", s=int(m.group(2) or 0))
            else:
                m = re.match(r"(?i)^timestamp\s*(?:\(\s*(\d+)\s*\))?$", spec)
                if m:
                    k = Kind("timestamp", s=int(m.group(1) or 0))
                else:
                    m = re.match(r"(?i)^(myduration|time)\s*(?:\(\s*(\d+)\s*\))?$", spec)
                    if m:
                        k = Kind("time", s=int(m.group(2) or 0))
                    else:
                        m = re.match(r"(?i)^bit\s*\(\s*(\d+)\s*\)$", spec)
                        if m:
                            k = Kind("bit", p=int(m.group(1)))
                        else:
                            m = re.match(r"(?i)^enum(?:8|16)?\s*\((.*)\)$", spec)
                            if m:
                                labels: dict[int, str] = {}
                                for em in re.finditer(
                                    r"'((?:[^'\\]|\\.)*)'\s*=\s*(\d+)", m.group(1)
                                ):
                                    labels[int(em.group(2))] = em.group(1)
                                k = Kind("enum", labels=labels)
                            else:
                                m = re.match(r"(?i)^set\s*\((.*)\)$", spec)
                                if m:
                                    labels = {}
                                    for i, em in enumerate(re.finditer(
                                        r"'((?:[^'\\]|\\.)*)'", m.group(1)
                                    )):
                                        labels[i] = em.group(1)
                                    k = Kind("set", labels=labels)
                                else:
                                    raise DbgError(f"Unknown type: {spec}", code=50)
    k.nullable = nullable
    if has_default:
        k.has_default = True
        k.default = canon_value(k, default_raw, quoted=True)
    return k


_ZERO_BY_BASE = {
    "int": "0", "uint": "0", "float32": "0", "float64": "0",
    "year": "0", "bit": "0", "enum": "0", "set": "0", "string": "",
    "time": "0",
}


def type_default(kind: Kind) -> str:
    """MySQL's implicit default for a NOT NULL column with none declared
    (zero for numerics, '' for strings, the zero sentinel for temporals)."""
    if kind.base == "date":
        return "0000-00-00"
    if kind.base in ("datetime", "timestamp"):
        return canon_dt("0000-00-00 00:00:00", kind.s)
    if kind.base == "decimal":
        return str(Decimal(0).quantize(Decimal(1).scaleb(-kind.s)))
    return _ZERO_BY_BASE[kind.base]


def canon_dt(raw: str, fsp: int) -> str:
    """Canonicalize a MySQL datetime rendering at the given fsp: pads the
    fraction to EXACTLY fsp digits (rounding extra digits half-up within
    the fraction), accepts '.'-separated time parts and zero components
    ('1991-00-14 11:00:01' is valid MySQL data these scripts store)."""
    raw = raw.strip()
    m = re.match(
        r"^(\d{1,4})-(\d{1,2})-(\d{1,2})"
        r"(?:[ T](\d{1,2})[:.](\d{1,2})[:.](\d{1,2})(?:\.(\d+))?)?$",
        raw,
    )
    if not m:
        raise DbgError(f"Invalid datetime value: {raw!r}", code=41)
    y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
    hh = int(m.group(4) or 0)
    mi = int(m.group(5) or 0)
    ss = int(m.group(6) or 0)
    frac = m.group(7) or ""
    fd = Decimal("0." + frac) if frac else Decimal(0)
    q = fd.quantize(Decimal(1).scaleb(-fsp), rounding=ROUND_HALF_UP)
    if q >= 1:
        # Rounding the fraction carried into seconds (MySQL rounds the
        # whole temporal value: '...01.9999' @ fsp 2 -> '...02.00').
        q -= 1
        ss += 1
        if ss == 60:
            ss, mi = 0, mi + 1
        if mi == 60:
            mi, hh = 0, hh + 1
        if hh == 24:
            hh = 0
            try:
                nd = _dt.date(y, mo, d) + _dt.timedelta(days=1)
                y, mo, d = nd.year, nd.month, nd.day
            except ValueError:
                # Zero-component dates ('0000-00-00', month/day 0) have no
                # calendar successor; bump the day numerically like MySQL's
                # permissive storage does.
                d += 1
    out = f"{y:04d}-{mo:02d}-{d:02d} {hh:02d}:{mi:02d}:{ss:02d}"
    if fsp:
        out += "." + f"{q:.{fsp}f}"[2:]
    return out


def canon_date(raw: str) -> str:
    raw = raw.strip()
    m = re.match(r"^(\d{1,4})-(\d{1,2})-(\d{1,2})(?:[ T].*)?$", raw)
    if not m:
        raise DbgError(f"Invalid date value: {raw!r}", code=41)
    return f"{int(m.group(1)):04d}-{int(m.group(2)):02d}-{int(m.group(3)):02d}"


def canon_duration_nanos(raw, fsp: int) -> int:
    """A TIME value: raft rows carry raw NANOSECONDS (the reference's
    MyDuration storage unit — raft/schema/default_value.test renders the
    stored int directly); literals come as '[-]H:MM:SS[.frac]'."""
    s = str(raw).strip()
    m = re.match(r"^(-?)(\d{1,3}):(\d{1,2}):(\d{1,2})(?:\.(\d+))?$", s)
    if m:
        total = int(m.group(2)) * 3600 + int(m.group(3)) * 60 + int(m.group(4))
        ns = total * 1_000_000_000
        if m.group(5):
            frac = Decimal("0." + m.group(5)) * 1_000_000_000
            ns += int(frac.to_integral_value(rounding=ROUND_HALF_UP))
        return -ns if m.group(1) else ns
    return int(Decimal(s))


def canon_value(kind: Kind, raw, quoted: bool = False):
    """Canonicalize one write-side value to its stored-string form.

    ``raw`` is the parsed literal (str for quoted strings, str of the
    numeric token otherwise); ``quoted`` records whether the source was a
    quoted literal (YEAR's two-digit window applies only then).  Returns
    None for NULL.  Raises DbgError (TiFlash overflow surface) when a
    decimal exceeds its declared precision — delta-merge
    query/data_type/decimal/insert.test expects the error, not a clamp."""
    if raw is None:
        return None
    s = str(raw)
    b = kind.base
    if b in ("int", "uint"):
        return str(int(Decimal(s).to_integral_value(rounding=ROUND_HALF_UP)))
    if b in ("float32", "float64"):
        return s
    if b == "decimal":
        try:
            with localcontext() as ctx:
                ctx.prec = 81
                d = Decimal(s).quantize(
                    Decimal(1).scaleb(-kind.s), rounding=ROUND_HALF_UP
                )
        except InvalidOperation:
            raise DbgError("Decimal value overflow", tiflash=True)
        if len(d.as_tuple().digits) - kind.s > kind.p - kind.s or (
            d.adjusted() + 1 > kind.p - kind.s and d != 0
        ):
            raise DbgError("Decimal value overflow", tiflash=True)
        return str(d)
    if b == "string":
        return s
    if b == "date":
        return canon_date(s)
    if b in ("datetime", "timestamp"):
        return canon_dt(s, kind.s)
    if b == "time":
        return str(canon_duration_nanos(s, kind.s))
    if b == "year":
        n = int(s)
        if quoted and len(s.strip()) <= 2:
            n = n + 2000 if n <= 69 else n + 1900
        elif not quoted and 1 <= n <= 69:
            n += 2000
        elif not quoted and 70 <= n <= 99:
            n += 1900
        return str(n)
    if b == "bit":
        return str(int(s))
    if b == "enum":
        if quoted and not s.isdigit():
            for o, lab in (kind.labels or {}).items():
                if lab == s:
                    return str(o)
            raise DbgError(f"Unknown enum value: {s!r}", code=36)
        return str(int(s))
    if b == "set":
        if quoted and not s.isdigit():
            labs = list((kind.labels or {}).values())
            mask = 0
            for part in s.split(","):
                part = part.strip()
                if part:
                    mask |= 1 << labs.index(part)
            return str(mask)
        return str(int(s))
    raise DbgError(f"cannot canonicalize {b}")


# --- MySQL DATE_FORMAT / FROM_UNIXTIME (full %-token set) --------------------
# The delta-merge expr scripts exercise the complete token set including the
# four WEEK modes (%U %u %V %v) and their week-years (%X %x) — reference
# dbms/src/Functions/FunctionsDateTime (mysql dateFormat); week math follows
# MySQL's documented calc_week behaviours.

def _calc_daynr(y: int, m: int, d: int) -> int:
    if y == 0 and m == 0:
        return 0
    delsum = 365 * y + 31 * (m - 1) + d
    if m <= 2:
        y -= 1
    else:
        delsum -= (m * 4 + 23) // 10
    return delsum + y // 4 - ((y // 100 + 1) * 3) // 4


def _calc_weekday(daynr: int, sunday_first: bool) -> int:
    return (daynr + 5 + (1 if sunday_first else 0)) % 7


def _days_in_year(y: int) -> int:
    return 366 if _is_leap(y) else 365


def _calc_week(y: int, m: int, d: int, mode: int) -> tuple[int, int]:
    """The documented MySQL WEEK(date, mode) behaviours (modes 0-3 back the
    %U/%u/%V/%v tokens; the returned week-year backs %X/%x)."""
    WEEK_MONDAY_FIRST, WEEK_YEAR, WEEK_FIRST_WEEKDAY = 1, 2, 4
    if not (mode & WEEK_MONDAY_FIRST):
        mode ^= WEEK_FIRST_WEEKDAY
    daynr = _calc_daynr(y, m, d)
    first_daynr = _calc_daynr(y, 1, 1)
    monday_first = bool(mode & WEEK_MONDAY_FIRST)
    week_year = bool(mode & WEEK_YEAR)
    first_weekday = bool(mode & WEEK_FIRST_WEEKDAY)
    weekday = _calc_weekday(first_daynr, not monday_first)
    year = y
    if m == 1 and d <= 7 - weekday:
        if not week_year and (
            (first_weekday and weekday != 0)
            or (not first_weekday and weekday >= 4)
        ):
            return 0, year
        week_year = True
        year -= 1
        days = _days_in_year(year)
        first_daynr -= days
        weekday = (weekday + 53 * 7 - days) % 7
    if (first_weekday and weekday != 0) or (not first_weekday and weekday >= 4):
        days = daynr - (first_daynr + (7 - weekday))
    else:
        days = daynr - (first_daynr - weekday)
    if week_year and days >= 52 * 7:
        weekday = (weekday + _days_in_year(year)) % 7
        if (not first_weekday and weekday < 4) or (first_weekday and weekday == 0):
            year += 1
            return 1, year
    return days // 7 + 1, year


def _is_leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
         "Saturday", "Sunday"]


def _ordinal(n: int) -> str:
    if 11 <= n % 100 <= 13:
        return f"{n}th"
    return f"{n}{['th','st','nd','rd'][n % 10] if n % 10 < 4 else 'th'}"


def mysql_strftime(canon: str, fmt: str) -> str | None:
    """Render a canonical datetime string with MySQL %-tokens."""
    m = re.match(
        r"^(\d{4})-(\d{2})-(\d{2})(?: (\d{2}):(\d{2}):(\d{2})(?:\.(\d+))?)?",
        canon,
    )
    if not m:
        return None
    y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
    hh, mi, ss = int(m.group(4) or 0), int(m.group(5) or 0), int(m.group(6) or 0)
    micro = int((m.group(7) or "0").ljust(6, "0")[:6])
    import datetime as _dt

    try:
        wd = _dt.date(y, mo, d).weekday()  # 0=Monday
    except ValueError:
        wd = None
    h12 = hh % 12 or 12
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch != "%":
            out.append(ch)
            i += 1
            continue
        tok = fmt[i + 1] if i + 1 < len(fmt) else ""
        i += 2
        if tok == "Y":
            out.append(f"{y:04d}")
        elif tok == "y":
            out.append(f"{y % 100:02d}")
        elif tok == "m":
            out.append(f"{mo:02d}")
        elif tok == "c":
            out.append(str(mo))
        elif tok == "d":
            out.append(f"{d:02d}")
        elif tok == "e":
            out.append(str(d))
        elif tok == "D":
            out.append(_ordinal(d))
        elif tok == "j":
            out.append(f"{_calc_daynr(y, mo, d) - _calc_daynr(y, 1, 1) + 1:03d}")
        elif tok == "H":
            out.append(f"{hh:02d}")
        elif tok == "k":
            out.append(str(hh))
        elif tok == "h" or tok == "I":
            out.append(f"{h12:02d}")
        elif tok == "l":
            out.append(str(h12))
        elif tok == "i":
            out.append(f"{mi:02d}")
        elif tok == "S" or tok == "s":
            out.append(f"{ss:02d}")
        elif tok == "f":
            out.append(f"{micro:06d}")
        elif tok == "p":
            out.append("AM" if hh < 12 else "PM")
        elif tok == "r":
            out.append(f"{h12:02d}:{mi:02d}:{ss:02d} {'AM' if hh < 12 else 'PM'}")
        elif tok == "T":
            out.append(f"{hh:02d}:{mi:02d}:{ss:02d}")
        elif tok == "M":
            out.append(_MONTHS[mo - 1] if mo else "")
        elif tok == "b":
            out.append(_MONTHS[mo - 1][:3] if mo else "")
        elif tok == "W":
            out.append(_DAYS[wd] if wd is not None else "")
        elif tok == "a":
            out.append(_DAYS[wd][:3] if wd is not None else "")
        elif tok == "w":
            out.append(str((wd + 1) % 7) if wd is not None else "")
        elif tok == "U":
            out.append(f"{_calc_week(y, mo, d, 0)[0]:02d}")
        elif tok == "u":
            out.append(f"{_calc_week(y, mo, d, 1)[0]:02d}")
        elif tok == "V":
            out.append(f"{_calc_week(y, mo, d, 2)[0]:02d}")
        elif tok == "v":
            out.append(f"{_calc_week(y, mo, d, 3)[0]:02d}")
        elif tok == "X":
            out.append(f"{_calc_week(y, mo, d, 2)[1]:04d}")
        elif tok == "x":
            out.append(f"{_calc_week(y, mo, d, 3)[1]:04d}")
        else:
            out.append(tok)
    return "".join(out)


def mysql_from_unixtime(num: str, tz: str) -> str | None:
    """FROM_UNIXTIME(decimal-seconds) at fsp6 in the query time zone."""
    import datetime as _dt
    from zoneinfo import ZoneInfo

    if num is None:
        return None
    with localcontext() as ctx:
        ctx.prec = 40
        d = Decimal(num)
        micros = int(
            (d * 1_000_000).to_integral_value(rounding=ROUND_HALF_UP)
        )
    base = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    t = base + _dt.timedelta(microseconds=micros)
    if re.match(r"^[+-]?\d+$", tz):  # dag tz_offset seconds
        t = t + _dt.timedelta(seconds=int(tz))
    elif tz.upper() not in ("UTC", "SYSTEM"):
        t = t.astimezone(ZoneInfo(tz))
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


def _register_dbg_udfs(spark: SparkSession) -> None:
    if getattr(spark, "_dbg_udfs", False):
        return
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # `from __future__ import annotations` stringifies type hints, so the
    # Arrow UDFs are built with explicit real-type annotations instead
    def _fmt(col, fmt):
        return pd.Series([
            None if c is None else mysql_strftime(c, f)
            for c, f in zip(col, fmt)
        ])

    def _fut(col, tz):
        return pd.Series([
            None if c is None else mysql_from_unixtime(c, t)
            for c, t in zip(col, tz)
        ])

    def _jlen(col):
        # TiDB binary-JSON blob: type byte 0x01/0x03 (object/array) carries
        # a little-endian u32 element count; scalar types count 1
        # (functions/mysql_json.py holds the full decoder — this surface
        # needs only the length header, query/expr/json.test)
        def ln(v):
            if v is None:
                return None
            b = v.encode("latin-1") if isinstance(v, str) else bytes(v)
            if not b:
                return None
            if b[0] in (0x01, 0x03) and len(b) >= 5:
                return int.from_bytes(b[1:5], "little")
            return 1

        return pd.Series([ln(v) for v in col], dtype="object")

    _fmt.__annotations__ = {"col": pd.Series, "fmt": pd.Series,
                            "return": pd.Series}
    _fut.__annotations__ = {"col": pd.Series, "tz": pd.Series,
                            "return": pd.Series}
    _jlen.__annotations__ = {"col": pd.Series, "return": pd.Series}
    spark.udf.register("dbg_date_format", pandas_udf(_fmt, "string"))
    spark.udf.register("dbg_from_unixtime", pandas_udf(_fut, "string"))
    spark.udf.register("dbg_json_length", pandas_udf(_jlen, "long"))
    spark._dbg_udfs = True


# --- TiDB common-handle key encoding (presentation + ordering) ---------------
# The mock's region ranges and row ordering for clustered tables use TiDB's
# record-key value encoding: string -> 0x02 + zigzag-varint(len) + bytes,
# int -> 0x03 + (value XOR sign-bit) big-endian.  dump_all_mock_region
# prints these keys as upper-hex, and the length-prefixed string encoding's
# quirky order ('test51' < 'test100' because 5 < 7 at the length byte) is
# exactly the order the reference's range checks use — so the HEX STRING is
# the handle.

def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def encode_common_handle(values: list) -> str:
    out = bytearray()
    for v in values:
        if isinstance(v, str):
            out.append(0x02)
            out += _zigzag(len(v))
            out += v.encode()
        else:
            out.append(0x03)
            out += ((int(v)) ^ (1 << 63)).to_bytes(8, "big")
    return out.hex().upper()


# --- mock environment ---------------------------------------------------------

NULL_SENTINEL = "\x00N"  # explicit NULL in a row (vs column absent -> default)


@dataclass
class ColDef:
    id: int
    name: str
    kind: Kind


@dataclass
class Region:
    rid: int
    table: tuple[str, str]
    pid: int | None
    lo: object  # int handle or encoded-hex string
    hi: object
    state: str = "Normal"


class DbgPhys:
    """One physical table: a DeltaStore of canonical-string columns
    ``c<id>`` plus a pending (not yet flushed) row buffer — the region
    cache.  Rows flush before any read (the reference's learner-read
    flush) and on ``__try_flush_region``."""

    def __init__(self, env: "DbgEnv", tag: str):
        self.env = env
        env.seq += 1
        self.path = os.path.join(env.base, f"{tag}_{env.seq}")
        self._store: DeltaStore | None = None
        self.pending: list[dict] = []  # {handle, version, delmark, vals, region}
        self.stuck: list[dict] = []  # cache rows whose storage write failed
        #  (exception_during_write_to_storage) — invisible to reads until a
        #  later successful write retries the whole cache (FLASH-484)
        self.known_ids: set[int] = set()
        self.dec_wide: set[int] = set()  # DECIMAL(p>38) cols holding values
        #                                  wider than the decimal(38,s) clamp
        self.dec_intd: dict[int, int] = {}  # max integer digits seen
        self.written = False
        self.row_seq = 0  # hidden-rowid allocator for engine=Log tables
        self.string_handle = False

    @property
    def store(self) -> DeltaStore:
        if self._store is None:
            self._store = DeltaStore(self.env.spark, self.path)
        return self._store

    def add_pending(self, handle, version: int, delmark: int,
                    vals: dict[int, str | None], region: int | None) -> None:
        self.pending.append({
            "handle": handle, "version": version, "delmark": delmark,
            "vals": vals, "region": region,
        })

    def drop_region_pending(self, rid: int) -> None:
        self.pending = [r for r in self.pending if r["region"] != rid]

    def flush(self) -> None:
        if not self.pending:
            return
        rows = self.pending
        self.pending = []
        for r in rows:
            self.known_ids.update(r["vals"].keys())
        ids = sorted(self.known_ids)
        htype = "string" if self.string_handle else "long"
        schema = ", ".join(
            [f"`{HANDLE}` {htype}"]
            + [f"`c{i}` string" for i in ids]
            + [f"`{VERSION}` long", f"`{DELMARK}` int"]
        )
        data = [
            tuple(
                [r["handle"]]
                + [r["vals"].get(i) for i in ids]
                + [r["version"], r["delmark"]]
            )
            for r in rows
        ]
        df = self.env.spark.createDataFrame(data, schema)
        self.store.write_log_batch(df)
        self.written = True

    def raw_in_range(self, lo, hi) -> bool:
        """Any RAW row (any version, incl. tombstones) with handle in
        [lo, hi)? — decides whether a snapshot application must first
        physically clear the range."""
        self.flush()
        if not self.written:
            return False
        try:
            log = self.store.log()
        except ValueError:
            return False
        df = log.filter(
            (F.col(HANDLE) >= F.lit(lo)) & (F.col(HANDLE) < F.lit(hi))
        )
        return bool(df.limit(1).count())

    def rewrite_without_range(self, lo, hi) -> None:
        """Physically drop every raw row with handle in [lo, hi) — the
        reference's applySnapshot REPLACES the region's old data before
        ingesting (RegionTable::applySnapshotRegion), so ingested rows
        keep their RAW commit-ts, observable through selraw and
        read-tso-gated reads. Mock-scale implementation: read the full
        raw log, rebuild the store in a fresh directory from the
        surviving rows, carry the range-tombstone list over."""
        self.flush()
        if not self.written:
            return
        try:
            log = self.store.log()
        except ValueError:
            return
        survivors = log.filter(
            ~((F.col(HANDLE) >= F.lit(lo)) & (F.col(HANDLE) < F.lit(hi)))
        ).drop("_seg")
        dels = self.store._range_dels()
        self.env.seq += 1
        self.path = self.path.rsplit("_", 1)[0] + f"_{self.env.seq}"
        self._store = None  # old directory stays on disk: `survivors`
        #                     reads from it lazily during the write below
        if survivors.limit(1).count():
            self.store.write_log_batch(survivors)
            self.written = True
        else:
            self.written = False
        if dels:
            self.store._write_range_dels(dels)


@dataclass
class DbgTable:
    db: str
    name: str
    cols: list[ColDef] = field(default_factory=list)
    pk: list[str] = field(default_factory=list)  # [] = hidden int rowid
    next_id: int = 1
    mock: bool = True  # mock-TiDB table (region-gated reads) vs engine=Log
    phys: DbgPhys | None = None
    partitions: dict[int, DbgPhys] = field(default_factory=dict)

    def col_by_name(self, name: str) -> ColDef | None:
        for c in self.cols:
            if c.name == name:
                return c
        return None

    @property
    def int_pk(self) -> ColDef | None:
        """Single integer PRIMARY KEY column = the handle itself."""
        if len(self.pk) == 1:
            c = self.col_by_name(self.pk[0])
            if c is not None and c.kind.base in ("int", "uint"):
                return c
        return None

    @property
    def common_handle(self) -> bool:
        return bool(self.pk) and self.int_pk is None


def parse_col_spec(spec: str) -> tuple[str, Kind]:
    """'col_2 Nullable(Int64) DEFAULT 123' / 'col_3 DEFAULT
    'asTiDBType|...'' / 'a decimal(2,1)' -> (name, Kind)."""
    spec = spec.strip()
    m = re.match(r"^(\w+)\s+(.*)$", spec, re.S)
    if not m:
        raise DbgError(f"bad column spec: {spec!r}")
    name, rest = m.group(1), m.group(2).strip()
    dm = re.match(r"(?is)^(.*?)\s*default\s+(.+)$", rest)
    dflt_raw = None
    if dm and not re.match(r"(?i)^default\b", rest):
        rest, dflt_raw = dm.group(1).strip(), dm.group(2).strip()
    elif re.match(r"(?i)^default\b", rest):
        # type omitted: the whole payload is an asTiDBType escape
        rest = re.sub(r"(?i)^default\s+", "", rest).strip()
    if rest.startswith("'") and rest.endswith("'"):
        rest = rest[1:-1].replace("\\'", "'").replace("''", "'")
    kind = parse_ch_type(rest)
    if dflt_raw is not None:
        quoted = dflt_raw[:1] in "'\""
        if quoted:
            dflt_raw = dflt_raw[1:-1]
        kind.has_default = True
        kind.default = canon_value(kind, dflt_raw, quoted=quoted)
    return name, kind


def _split_top(s: str, sep: str = ",") -> list[str]:
    parts, buf, depth, q = [], [], 0, None
    i = 0
    while i < len(s):
        ch = s[i]
        if q:
            buf.append(ch)
            if ch == "\\" and i + 1 < len(s):
                buf.append(s[i + 1])
                i += 2
                continue
            if ch == q:
                if i + 1 < len(s) and s[i + 1] == q:
                    buf.append(s[i + 1])
                    i += 2
                    continue
                q = None
        elif ch in "'\"":
            q = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        ch = s[i]
        if ch == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt == "x" and i + 3 < len(s) + 1:
                hx = s[i + 2:i + 4]
                try:
                    out.append(chr(int(hx, 16)))
                    i += 4
                    continue
                except ValueError:
                    pass
            mapping = {"0": "\x00", "n": "\n", "t": "\t", "\\": "\\",
                       "'": "'", '"': '"', "$": "$"}
            if nxt in mapping:
                out.append(mapping[nxt])
                i += 2
                continue
            out.append(nxt)
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


@dataclass
class Arg:
    value: object
    quoted: bool = False


def parse_dbg_args(body: str) -> list[Arg]:
    """Args of DBGInvoke fn(...): quoted strings (with '' and \\' escapes),
    identifiers, numbers, NULL."""
    args: list[Arg] = []
    for tok in _split_top(body):
        if not tok:
            continue
        if tok[:1] in "'\"":
            inner = tok[1:-1] if tok[-1:] == tok[:1] else tok[1:]
            inner = inner.replace(tok[0] * 2, "\\" + tok[0])
            args.append(Arg(_unescape(inner), quoted=True))
        elif tok.upper() == "NULL":
            args.append(Arg(None))
        else:
            args.append(Arg(tok))
    return args


class DbgEnv:
    """Script-scoped mock-raft world."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base
        os.makedirs(base, exist_ok=True)
        self.tables: dict[tuple[str, str], DbgTable] = {}
        self.dbs: set[str] = {"default"}
        self.tombstones: list[tuple[str, str, str]] = []  # (kind, db, name)
        self.regions: dict[int, Region] = {}
        self.seq = 0
        # auto-assigned commit-ts base: a realistic TSO magnitude, so a
        # script's explicit `--read_tso` of an OLD timestamp predates every
        # auto write (raft/schema/alter_on_read.test reads at 1.5e15)
        self._tso = 400_000_000_000_000_000
        self.last_rs = "0.00"
        self.failpoints: set[str] = set()
        self.pending_snap: dict[int, dict] = {}
        _register_dbg_udfs(spark)

    def next_tso(self) -> int:
        self._tso += 1
        return self._tso

    def saw_tso(self, tso: int) -> None:
        self._tso = max(self._tso, int(tso))

    # -- table helpers --------------------------------------------------------

    def table(self, db: str, name: str) -> DbgTable:
        t = self.tables.get((db, name))
        if t is None:
            raise DbgError(f"Table {db}.{name} doesn't exist.", code=60)
        return t

    def resolve_mapped(self, db: str, name: str) -> tuple[DbgTable, DbgPhys]:
        """query_mapped target: `test_9999` resolves to partition 9999 of
        logical table `test`."""
        t = self.tables.get((db, name))
        if t is not None:
            if t.phys is None:
                raise DbgError(f"Table {db}.{name} has no physical store")
            return t, t.phys
        m = re.match(r"^(\w+)_(\d+)$", name)
        if m:
            t = self.tables.get((db, m.group(1)))
            if t is not None and int(m.group(2)) in t.partitions:
                return t, t.partitions[int(m.group(2))]
        raise DbgError(f"Table {db}.{name} doesn't exist.", code=60)

    def phys_list(self, t: DbgTable, pid: int | None = None) -> list[DbgPhys]:
        if t.partitions:
            if pid is not None:
                return [t.partitions[pid]]
            return list(t.partitions.values())
        return [t.phys] if t.phys is not None else []

    def mock_table(self, db: str, name: str, schema: str, pk: str = "",
                   mock: bool = True) -> DbgTable:
        if (db, name) in self.tables:
            self.drop_table(db, name)
        cols: list[ColDef] = []
        for i, spec in enumerate(_split_top(schema), start=1):
            cname, kind = parse_col_spec(spec)
            cols.append(ColDef(i, cname, kind))
        t = DbgTable(db=db, name=name, cols=cols, next_id=len(cols) + 1,
                     mock=mock)
        t.pk = [p.strip() for p in pk.split(",") if p.strip()]
        t.phys = DbgPhys(self, f"{db}__{name}")
        t.phys.string_handle = t.common_handle
        self.tables[(db, name)] = t
        self.dbs.add(db)
        return t

    def drop_table(self, db: str, name: str) -> None:
        t = self.tables.pop((db, name), None)
        if t is not None:
            self.tombstones.append(("table", db, name))
            for pid in t.partitions:
                self.tombstones.append(("table", db, f"{name}_{pid}"))
            for rid in [r for r, reg in self.regions.items()
                        if reg.table == (db, name)]:
                del self.regions[rid]

    # -- write path ------------------------------------------------------------

    def _region(self, rid) -> Region:
        reg = self.regions.get(int(rid))
        if reg is None:
            raise DbgError(f"Region {rid} not found", code=1001)
        return reg

    def _phys_for_region(self, reg: Region) -> tuple[DbgTable, DbgPhys]:
        t = self.table(*reg.table)
        if reg.pid is not None:
            return t, t.partitions[reg.pid]
        assert t.phys is not None
        return t, t.phys

    def _row_handle_vals(self, t: DbgTable, handle_arg, values: list[Arg]):
        """Map positional values onto the CURRENT column list; derive the
        handle (rowid / int pk / encoded common handle)."""
        vals: dict[int, str | None] = {}
        if t.common_handle:
            target = t.cols
        elif t.int_pk is not None:
            target = [c for c in t.cols if c.name != t.int_pk.name]
        else:
            target = t.cols
        for c, a in zip(target, values):
            if a.value is None:
                vals[c.id] = NULL_SENTINEL
            else:
                vals[c.id] = canon_value(c.kind, a.value, quoted=a.quoted)
        if t.common_handle:
            hv = []
            for pname in t.pk:
                c = t.col_by_name(pname)
                assert c is not None
                raw = vals.get(c.id)
                hv.append(int(raw) if c.kind.base in ("int", "uint")
                          else (raw or ""))
            handle = encode_common_handle(hv)
        elif t.int_pk is not None:
            handle = int(handle_arg)
            vals[t.int_pk.id] = str(handle)
        else:
            handle = int(handle_arg)
        return handle, vals

    @staticmethod
    def note_wide(t: DbgTable, phys: DbgPhys, vals: dict[int, str | None]) -> None:
        """Track DECIMAL(p>38) values that exceed the decimal(38,s) clamp —
        those columns flip to exact-string exposure (the decimal65-tier
        value-dependent exposure rule)."""
        for c in t.cols:
            k = c.kind
            if k.base != "decimal" or k.p <= 38 or c.id in phys.dec_wide:
                continue
            v = vals.get(c.id)
            if v in (None, NULL_SENTINEL):
                continue
            int_digits = len(str(v).lstrip("-").split(".")[0].lstrip("0") or "")
            phys.dec_intd[c.id] = max(phys.dec_intd.get(c.id, 1),
                                      int_digits or 1)
            if int_digits + min(k.s, 37) > 38:
                phys.dec_wide.add(c.id)

    def raft_insert(self, db, tname, rid, handle_arg, values,
                    tso=None, delmark=0) -> None:
        reg = self._region(rid)
        t, phys = self._phys_for_region(reg)
        if tso is None:
            tso = self.next_tso()
        else:
            tso = int(tso)
            self.saw_tso(tso)
        if "exception_during_write_to_storage" in self.failpoints:
            # trigger-once failpoint (raft/bugs/FLASH-484.test): the write
            # reaches the region cache, the storage write raises — the row
            # stays invisible until a later successful write retries the
            # whole cache
            self.failpoints.discard("exception_during_write_to_storage")
            handle, vals = self._row_handle_vals(t, handle_arg, values)
            phys.stuck.append({
                "handle": handle, "version": tso, "delmark": delmark,
                "vals": {} if delmark else vals, "region": int(rid),
            })
            raise DbgError(
                "Fail point FailPoints::exception_during_write_to_storage"
                " is triggered..",
                code=1001,
            )
        handle, vals = self._row_handle_vals(t, handle_arg, values)
        self.note_wide(t, phys, vals)
        if phys.stuck:
            phys.pending.extend(phys.stuck)
            phys.stuck = []
        phys.add_pending(handle, tso, delmark, {} if delmark else vals, int(rid))

    def flush_table(self, t: DbgTable) -> None:
        for p in self.phys_list(t):
            p.flush()

    # -- region / snapshot ops ---------------------------------------------------

    def _parse_bounds(self, t: DbgTable, args: list[Arg]):
        """Region bounds: 1 value per bound for int-handle tables, len(pk)
        values per bound for common-handle."""
        if t.common_handle:
            k = len(t.pk)
            lo_vals, hi_vals = args[:k], args[k:2 * k]

            def enc(vs):
                out = []
                for pname, a in zip(t.pk, vs):
                    c = t.col_by_name(pname)
                    if c is not None and c.kind.base in ("int", "uint"):
                        out.append(int(a.value))
                    else:
                        out.append(str(a.value))
                return encode_common_handle(out)

            return enc(lo_vals), enc(hi_vals), 2 * k
        return int(args[0].value), int(args[1].value), 2

    def put_region(self, rid: int, lo, hi, db, tname, pid=None) -> None:
        t = self.table(db, tname)
        if pid is not None and pid not in t.partitions:
            self.add_partition(db, tname, pid)
        self.regions[int(rid)] = Region(int(rid), (db, tname), pid, lo, hi)

    def add_partition(self, db, tname, pid: int) -> None:
        t = self.table(db, tname)
        if pid in t.partitions:
            return
        p = DbgPhys(self, f"{db}__{tname}_{pid}")
        p.string_handle = t.common_handle
        t.partitions[pid] = p

    def remove_region(self, rid: int) -> None:
        reg = self.regions.pop(int(rid), None)
        if reg is not None:
            try:
                _, phys = self._phys_for_region(reg)
                phys.drop_region_pending(int(rid))
            except DbgError:
                pass

    def apply_snapshot_rows(self, t: DbgTable, phys: DbgPhys, rid: int,
                            lo, hi, rows: list[tuple]) -> None:
        """Reference applySnapshot: REPLACE the region's data — prior
        raw rows in range are physically dropped (a store rewrite at
        mock scale), then snapshot rows ingest at their ORIGINAL
        commit-ts. Raw tsos are preserved unconditionally (round-10:
        previously a delete-range mask shifted them above a tombstone
        whenever the range held visible rows)."""
        phys.drop_region_pending(int(rid))
        if phys.raw_in_range(lo, hi):
            phys.rewrite_without_range(lo, hi)
        for handle, tso, delmark, vals in rows:
            self.saw_tso(tso)
            self.note_wide(t, phys, vals)
            phys.add_pending(handle, tso, delmark,
                             {} if delmark else vals, int(rid))
        phys.flush()


# --- read path: typed exposure over canonical-string storage -------------------

def _ch_type_name(kind: Kind) -> str:
    inner: str
    if kind.base == "int":
        inner = f"Int{kind.p}"
    elif kind.base == "uint":
        inner = f"UInt{kind.p}"
    elif kind.base == "float32":
        inner = "Float32"
    elif kind.base == "float64":
        inner = "Float64"
    elif kind.base == "decimal":
        inner = f"Decimal({kind.p},{kind.s})"
    elif kind.base == "string":
        inner = "String"
    elif kind.base == "date":
        inner = "MyDate"
    elif kind.base == "datetime":
        inner = f"MyDateTime({kind.s})" if kind.s else "MyDateTime"
    elif kind.base == "timestamp":
        inner = f"MyDateTime({kind.s})" if kind.s else "MyDateTime"
    elif kind.base == "time":
        inner = f"MyDuration({kind.s})" if kind.s else "MyDuration"
    elif kind.base == "year":
        inner = "Int16"
    elif kind.base == "bit":
        inner = f"UInt64"
    elif kind.base == "enum":
        inner = "Enum16"
    else:
        inner = "String"
    return f"Nullable({inner})" if kind.nullable else inner


def _dt_fmt(fsp: int) -> str:
    return "yyyy-MM-dd HH:mm:ss" + ("." + "S" * fsp if fsp else "")


def _duration_render(col, fsp: int):
    """nanos BIGINT -> MySQL TIME rendering '[-]HH:MM:SS[.f*fsp]'."""
    n = col.cast("long")
    a = F.abs(n)
    h = F.floor(a / F.lit(3_600_000_000_000)).cast("long")
    mi = F.floor((a % F.lit(3_600_000_000_000)) / F.lit(60_000_000_000)).cast("long")
    sec = F.floor((a % F.lit(60_000_000_000)) / F.lit(1_000_000_000)).cast("long")
    micro = F.floor((a % F.lit(1_000_000_000)) / F.lit(1_000)).cast("long")
    hs = h.cast("string")
    body = F.concat(
        F.when(n < 0, F.lit("-")).otherwise(F.lit("")),
        F.when(F.length(hs) < 2, F.lpad(hs, 2, "0")).otherwise(hs),
        F.lit(":"),
        F.lpad(mi.cast("string"), 2, "0"), F.lit(":"),
        F.lpad(sec.cast("string"), 2, "0"),
    )
    if fsp:
        body = F.concat(
            body, F.lit("."),
            F.substring(F.lpad(micro.cast("string"), 6, "0"), 1, fsp),
        )
    return F.when(n.isNull(), F.lit(None)).otherwise(body)


def _render_col(col: ColDef, surface: str, tz: str | None, raw: bool,
                phys: DbgPhys):
    """Typed exposure of stored column c<id> for one query surface.

    ``surface``: 'dag' (TiDB DAG rendering — durations as time strings,
    enums as labels, timestamps shifted into the query tz) or 'storage'
    (query_mapped / raw CH selects — durations as raw nanos, sets as
    masks, timestamps unshifted)."""
    kind = col.kind
    c = F.col(f"c{col.id}")
    if kind.has_default:
        dflt = kind.default
    elif kind.nullable:
        dflt = None
    else:
        dflt = type_default(kind)
    v = (
        F.when(c.isNull(), F.lit(dflt))
        .when(c == F.lit(NULL_SENTINEL), F.lit(None))
        .otherwise(c)
    )
    if raw:
        # delete-mark rows render payload columns at their type default
        # (raft/txn_mock/delete.test, region_merge_common_handle.test)
        v = F.when(F.col(DELMARK) == 1, F.lit(type_default(kind))).otherwise(v)
    b = kind.base
    if b in ("int", "year", "bit"):
        return v.cast("long")
    if b == "uint":
        return v.cast("decimal(20,0)") if kind.p == 64 else v.cast("long")
    if b == "float32":
        return v.cast("float")
    if b == "float64":
        return v.cast("double")
    if b == "decimal":
        if kind.p <= 38:
            return v.cast(f"decimal({kind.p},{kind.s})")
        if col.id in getattr(phys, "dec_wide", set()):
            return v  # exact canonical string (decimal65-tier exposure)
        # tightest exposure that holds every stored value: Spark widens
        # mixed-scale decimal COMPARES to a common scale capped at 38 —
        # a loose (38,s) exposure would round the other side's scale away
        # (decimal/arithmetic.test compares (65,10) against (65,20))
        s_eff = min(kind.s, 37)
        p_eff = min(38, s_eff + max(phys.dec_intd.get(col.id, 1), 1))
        return v.cast(f"decimal({p_eff},{s_eff})")
    if b == "time":
        if surface == "dag":
            return _duration_render(v, kind.s)
        return v.cast("long")
    if b == "enum":
        if surface == "dag":
            expr = F.lit(None).cast("string")
            out = None
            for o, lab in sorted((kind.labels or {}).items()):
                cond = v.cast("long") == o
                out = F.when(cond, F.lit(lab)) if out is None else out.when(cond, F.lit(lab))
            return out if out is not None else expr
        return v.cast("long")
    if b == "set":
        return v.cast("long")
    if b == "timestamp" and surface == "dag" and tz and tz.upper() not in ("UTC", "SYSTEM"):
        ts = F.to_timestamp(v)
        if re.match(r"^[+-]?\d+$", tz):  # tz_offset seconds
            shifted = ts + F.expr(f"INTERVAL {int(tz)} SECOND")
        else:  # tz_name zone (real zoneinfo rules, incl. historic DST)
            shifted = F.from_utc_timestamp(ts, tz)
        rendered = F.date_format(shifted, _dt_fmt(kind.s))
        return (
            F.when(v.isNull(), F.lit(None))
            .when(v.startswith("0000-00-00"), v)
            .otherwise(rendered)
        )
    return v  # string / date / datetime / timestamp: canonical strings


def _phys_pid(t: DbgTable, phys: DbgPhys) -> int | None:
    for pid, p in t.partitions.items():
        if p is phys:
            return pid
    return None


def build_view(env: DbgEnv, t: DbgTable, phys: DbgPhys, view: str,
               surface: str, tz: str | None = None, raw: bool = False,
               read_tso: int | None = None, internal: bool = False,
               rowid: bool = False, dbg_h: bool = False) -> dict:
    """Register the physical table as a temp view for one query; returns
    {'ts_cols': [...]} (timestamp columns shifted into the query tz, for
    encode-dependent render unshift)."""
    phys.flush()
    spark = env.spark
    ids = sorted(phys.known_ids | {c.id for c in t.cols})
    htype = "string" if phys.string_handle else "long"
    if phys.written:
        log = phys.store.log()
        for i in ids:
            if f"c{i}" not in log.columns:
                log = log.withColumn(f"c{i}", F.lit(None).cast("string"))
    else:
        schema = ", ".join(
            [f"`{HANDLE}` {htype}"]
            + [f"`c{i}` string" for i in ids]
            + [f"`{VERSION}` long", f"`{DELMARK}` int"]
        )
        log = spark.createDataFrame([], schema)
    if raw:
        df = log
    else:
        df = snapshot_read(log, read_ts=read_tso)
        if phys.written:
            flt = phys.store._range_del_filter(read_tso)
            if flt is not None:
                df = df.filter(flt)
        if t.mock:
            pid = _phys_pid(t, phys)
            cond = None
            for reg in env.regions.values():
                if reg.table != (t.db, t.name) or reg.pid != pid:
                    continue
                c = (F.col(HANDLE) >= F.lit(reg.lo)) & (F.col(HANDLE) < F.lit(reg.hi))
                cond = c if cond is None else (cond | c)
            df = df.filter(cond) if cond is not None else df.filter(F.lit(False))
    exprs = []
    ts_cols = []
    for col in t.cols:
        exprs.append(_render_col(col, surface, tz, raw, phys).alias(col.name))
        if col.kind.base == "timestamp" and surface == "dag" and tz:
            ts_cols.append(col.name)
    ipk = t.int_pk
    if surface != "dag" and not (t.mock is False and not t.pk):
        # query_mapped exposes the hidden handle; engine=Log tables hide it
        if ipk is None:
            exprs.append(F.col(HANDLE).alias("_tidb_rowid"))
    elif surface == "dag":
        pass
    if internal:
        exprs.append(F.col(VERSION).alias("_INTERNAL_VERSION"))
        exprs.append(F.col(DELMARK).alias("_INTERNAL_DELMARK"))
    if rowid and ipk is None and surface == "dag":
        # the DAG surface names the hidden handle only when asked
        exprs.append(F.col(HANDLE).alias("_tidb_rowid"))
    if dbg_h:
        # hidden row-order key for CI min/max first-row tie-breaks
        exprs.append(F.col(HANDLE).cast("long").alias("_dbg_h"))
    df.select(*exprs).createOrReplaceTempView(view)
    return {"ts_cols": ts_cols}


# --- query translation ---------------------------------------------------------

_CAST_FN = re.compile(
    r"(?i)\bcast_(int|real|decimal|string|time)_"
    r"(int|real|decimal|string|date|datetime)\s*\(([^()]*)\)"
)
_LOGIC_FN = re.compile(r"(?i)\b(and|or|xor|not)\s*\(")


def _truthy_sql(ref: str, kind: Kind | None) -> str:
    """MySQL truthiness of one expression, as 0/1/NULL SQL."""
    if kind is None or kind.base in (
        "int", "uint", "float32", "float64", "decimal", "bit", "year", "time",
    ):
        cond = f"({ref} <> 0)"
    elif kind.base in ("date", "datetime", "timestamp"):
        cond = (f"(CAST(translate({ref}, '-: .', '') AS DECIMAL(38,0)) <> 0)")
    else:  # string: numeric soft-parse
        cond = (
            f"(coalesce(try_cast(regexp_extract({ref},"
            f" '^[ \\\\t]*-?[0-9]+(\\\\.[0-9]+)?', 0) AS DOUBLE), 0.0) <> 0"
            f" AND {ref} IS NOT NULL)"
        )
    return (
        f"(CASE WHEN {ref} IS NULL THEN CAST(NULL AS INT)"
        f" WHEN {cond} THEN 1 ELSE 0 END)"
    )


def _match_paren(s: str, open_idx: int) -> int:
    depth, q = 0, None
    for i in range(open_idx, len(s)):
        ch = s[i]
        if q:
            if ch == "\\":
                continue
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


class QueryCtx:
    """One dag/query_mapped/tidb_query/raw-select execution."""

    def __init__(self, env: DbgEnv, surface: str, props: dict,
                 read_tso: int | None = None):
        self.env = env
        self.surface = surface
        self.props = props or {}
        self.read_tso = read_tso
        self.kinds: dict[str, Kind] = {}  # bare column name -> kind
        self.refs: list[tuple[DbgTable, DbgPhys, str]] = []
        self.ts_shifted: list[str] = []

    @property
    def tz(self) -> str | None:
        name = self.props.get("tz_name")
        if name:
            return name
        off = self.props.get("tz_offset")
        return off if off not in (None, "0") else None

    def encode(self) -> str:
        return self.props.get("encode_type", "default")

    def collator(self) -> int:
        return int(self.props.get("collator", "0") or 0)


def _resolve_tables(env: DbgEnv, sql: str, ctx: QueryCtx,
                    raw: bool, internal: bool, rowid: bool = False,
                    dbg_h: bool = False) -> str:
    """Replace db.table / bare known-table refs with registered views."""

    def sub_ref(db: str, name: str) -> str:
        t, phys = env.resolve_mapped(db, name)
        view = f"dbg_{db}__{name}{'_raw' if raw else ''}"
        if t.partitions and phys is t.phys:
            # the logical table of a partitioned mock: union the children
            sub = []
            for i, p in enumerate(env.phys_list(t)):
                vi = f"{view}_p{i}"
                meta = build_view(
                    env, t, p, vi, ctx.surface, tz=ctx.tz, raw=raw,
                    read_tso=ctx.read_tso, internal=internal, rowid=rowid,
                    dbg_h=dbg_h,
                )
                sub.append(env.spark.table(vi))
            df = sub[0]
            for d in sub[1:]:
                df = df.unionByName(d)
            df.createOrReplaceTempView(view)
        else:
            meta = build_view(
                env, t, phys, view, ctx.surface, tz=ctx.tz, raw=raw,
                read_tso=ctx.read_tso, internal=internal, rowid=rowid,
                dbg_h=dbg_h,
            )
        ctx.refs.append((t, phys, view))
        ctx.ts_shifted.extend(meta["ts_cols"])
        for c in t.cols:
            ctx.kinds.setdefault(c.name, c.kind)
        return view

    def repl(m: re.Match) -> str:
        db, name = m.group(1), m.group(2)
        if (db, name) in env.tables or re.match(r"^\w+_\d+$", name):
            try:
                return sub_ref(db, name)
            except DbgError:
                raise
        return m.group(0)

    sql = re.sub(r"\b([A-Za-z_]\w*)\.(\w+)\b(?!\s*\()", repl, sql)
    # bare table names (engine=Log path): FROM/JOIN/INTO position only
    for (db, name) in list(env.tables):
        if db != "default":
            continue
        pat = re.compile(rf"(?i)(\bfrom\s+|\bjoin\s+)({re.escape(name)})\b")
        if pat.search(sql):
            view = [None]

            def repl2(m: re.Match) -> str:
                if view[0] is None:
                    view[0] = sub_ref(db, name)
                return m.group(1) + view[0]

            sql = pat.sub(repl2, sql)
    return sql


def _expand_star_join(env: DbgEnv, sql: str, ctx: QueryCtx) -> str:
    """``select * from A all inner join B using k[,k2]`` — expand to an
    explicit two-sided projection (ClickHouse's USING does not coalesce)."""
    m = re.match(
        r"(?is)^\s*select\s+\*\s+from\s+(\S+)\s+(?:all\s+)?"
        r"(inner|left)\s+join\s+(\S+)\s+using\s+(.+?)\s*$",
        sql,
    )
    if not m:
        return sql
    v1, jt, v2, keys = m.group(1), m.group(2), m.group(3), m.group(4)
    keycols = []
    for k in keys.split(","):
        k = k.strip()
        if k and k not in keycols:
            keycols.append(k)
    t1 = next((t for t, _, v in ctx.refs if v == v1), None)
    t2 = next((t for t, _, v in ctx.refs if v == v2), None)
    if t1 is None or t2 is None:
        return sql
    sel = [f"a.`{c.name}`" for c in t1.cols] + [f"b.`{c.name}`" for c in t2.cols]

    def kx(ref: str, k: str) -> str:
        kind = ctx.kinds.get(k)
        if kind is not None and kind.base == "string":
            if ctx.collator() == -45:
                return f"lower(rtrim({ref}))"
            if ctx.collator() == -46:
                return f"rtrim({ref})"
        return ref

    on = " AND ".join(
        f"{kx(f'a.`{k}`', k)} = {kx(f'b.`{k}`', k)}" for k in keycols
    )
    return (
        f"SELECT {', '.join(sel)} FROM {v1} a {jt.upper()} JOIN {v2} b ON {on}"
    )


def _rewrite_casts(sql: str, ctx: QueryCtx) -> str:
    """The cast_X_Y test-function family.  The mock DAG compiler types most
    of these LongLong by default (AstToPB.cpp default branch), so the
    int/decimal/string variants all observe MySQL round-to-integer; the
    date/datetime variants observe a canonical DATETIME(0)."""

    def to_int(src: str, arg: str) -> str:
        if src == "int":
            return f"CAST({arg} AS BIGINT)"
        if src == "real":
            return (f"CAST(sign({arg}) * floor(abs({arg}) + 0.5) AS BIGINT)")
        if src == "decimal":
            return f"CAST(CAST({arg} AS DECIMAL(38,0)) AS BIGINT)"
        if src == "string":
            return (f"CAST(CAST(try_cast({arg} AS DECIMAL(38,6))"
                    f" AS DECIMAL(38,0)) AS BIGINT)")
        # time (a canonical datetime string): packed yyyymmddhhmmss
        return (f"CAST(translate(substring_index({arg}, '.', 1), '-: ', '')"
                f" AS BIGINT)")

    def to_dt(src: str, arg: str) -> str:
        if src == "string":
            lm = re.match(r"^\s*'([^']*)'\s*$", arg)
            if lm:
                return "'" + canon_dt(lm.group(1), 0) + "'"
            return f"substring_index({arg}, '.', 1)"
        if src == "time":
            return f"substring_index({arg}, '.', 1)"
        # numeric: MySQL magnitude ladder (engine registry fn)
        return f"mysql_num_datetime(CAST({arg} AS DECIMAL(38,6)), 0)"

    def repl(m: re.Match) -> str:
        src, dst, arg = m.group(1).lower(), m.group(2).lower(), m.group(3)
        if dst in ("int", "decimal", "string"):
            return to_int(src, arg)
        if dst in ("date", "datetime"):
            return to_dt(src, arg)
        if dst == "real":
            return f"CAST({arg} AS DOUBLE)"
        return m.group(0)

    for _ in range(4):  # nested occurrences
        new = _CAST_FN.sub(repl, sql)
        if new == sql:
            break
        sql = new
    return sql


def _rewrite_logic_fns(sql: str, ctx: QueryCtx) -> str:
    """and()/or()/xor()/not() with MySQL three-valued truthiness over the
    referenced columns' kinds (query/expr/logical_op.test).  One scan over
    the original text, substituted right-to-left — the emitted CASE
    expressions contain ` OR (`, which a rescan would re-match."""
    sites = []
    for m in _LOGIC_FN.finditer(sql):
        close = _match_paren(sql, m.end() - 1)
        if close > 0:
            sites.append((m, close))
    for m, close in reversed(sites):
        fn = m.group(1).lower()
        args = _split_top(sql[m.end():close])
        tf = [
            _truthy_sql(a.strip(), ctx.kinds.get(a.strip()))
            for a in args
        ]
        if fn == "not":
            e = f"(CASE WHEN {tf[0]} IS NULL THEN CAST(NULL AS INT)" \
                f" ELSE 1 - {tf[0]} END)"
        elif fn == "and":
            e = (f"(CASE WHEN {tf[0]} = 0 OR {tf[1]} = 0 THEN 0"
                 f" WHEN {tf[0]} IS NULL OR {tf[1]} IS NULL"
                 f" THEN CAST(NULL AS INT) ELSE 1 END)")
        elif fn == "or":
            e = (f"(CASE WHEN {tf[0]} = 1 OR {tf[1]} = 1 THEN 1"
                 f" WHEN {tf[0]} IS NULL OR {tf[1]} IS NULL"
                 f" THEN CAST(NULL AS INT) ELSE 0 END)")
        else:  # xor
            e = (f"(CASE WHEN {tf[0]} IS NULL OR {tf[1]} IS NULL"
                 f" THEN CAST(NULL AS INT)"
                 f" WHEN {tf[0]} <> {tf[1]} THEN 1 ELSE 0 END)")
        sql = sql[:m.start()] + e + sql[close + 1:]
    return sql


_CMP_OPS = r"(?:<=>|<>|!=|>=|<=|=|<|>)"


def _pad6_sql(ref: str, kind: Kind) -> str:
    if kind.base == "date":
        return f"concat({ref}, ' 00:00:00.000000')"
    return (f"(CASE WHEN instr({ref}, '.') > 0 THEN rpad({ref}, 26, '0')"
            f" ELSE concat({ref}, '.000000') END)")


def _rewrite_temporal_predicates(sql: str, ctx: QueryCtx) -> str:
    """String-canonical temporal comparisons: literals normalize to the
    compared column's fsp; column-vs-column compares pad both sides to
    fsp6 so lexicographic order equals packed-datetime order."""
    temporal = {
        n: k for n, k in ctx.kinds.items()
        if k.base in ("date", "datetime", "timestamp")
    }
    # column vs column
    def cc(m: re.Match) -> str:
        a, op, b = m.group(1), m.group(2), m.group(3)
        if a in temporal and b in temporal:
            return f"{_pad6_sql(a, temporal[a])} {op} {_pad6_sql(b, temporal[b])}"
        return m.group(0)

    sql = re.sub(rf"\b(\w+)\s*({_CMP_OPS})\s*(\w+)\b(?!\s*\()", cc, sql)
    # column vs literal (either order)
    for name, kind in temporal.items():
        def norm_lit(lit: str) -> str | None:
            try:
                if kind.base == "date":
                    if re.match(r"^\d{1,4}-\d{1,2}-\d{1,2}$", lit.strip()):
                        return canon_date(lit)
                    return None  # handled by column padding below
                return canon_dt(lit, kind.s)
            except DbgError:
                return None

        colref = rf"(?:\w+\s*\.\s*)?\b{re.escape(name)}\b"

        def fwd(m: re.Match) -> str:
            lit = m.group("lit")
            if kind.base == "date" and re.search(r"\d:\d", lit):
                return (f"concat({m.group('col')}, ' 00:00:00')"
                        f" {m.group('op')} '{lit}'")
            n = norm_lit(lit)
            return (m.group("col") + " " + m.group("op") + " "
                    + (f"'{n}'" if n is not None else f"'{lit}'"))

        def rev(m: re.Match) -> str:
            lit = m.group("lit")
            if kind.base == "date" and re.search(r"\d:\d", lit):
                return (f"'{lit}' {m.group('op')}"
                        f" concat({m.group('col')}, ' 00:00:00')")
            n = norm_lit(lit)
            return ((f"'{n}'" if n is not None else f"'{lit}'")
                    + " " + m.group("op") + " " + m.group("col"))

        sql = re.sub(
            rf"(?P<col>{colref})\s*(?P<op>{_CMP_OPS})\s*'(?P<lit>[^']*)'",
            fwd, sql,
        )
        sql = re.sub(
            rf"'(?P<lit>[^']*)'\s*(?P<op>{_CMP_OPS})\s*(?P<col>{colref})",
            rev, sql,
        )
    return sql


def _rewrite_enum_literals(sql: str, ctx: QueryCtx) -> str:
    """dag views expose enums as LABELS; numeric-literal compares map the
    ordinal to its label (data_type_others: col_2 = 2 ≡ 'female')."""
    for name, kind in ctx.kinds.items():
        if kind.base != "enum":
            continue

        def repl(m: re.Match) -> str:
            o = int(m.group("ord"))
            lab = (kind.labels or {}).get(o)
            if lab is None:
                return m.group(0)
            return f"{m.group('col')} {m.group('op')} '{lab}'"

        sql = re.sub(
            rf"(?P<col>\b{re.escape(name)}\b)\s*(?P<op>{_CMP_OPS})"
            rf"\s*(?P<ord>\d+)\b",
            repl, sql,
        )
    return sql


def _rewrite_collation(sql: str, ctx: QueryCtx) -> str:
    """collator:-45 (utf8mb4_general_ci) / -46 (utf8mb4_bin): both are
    PAD-SPACE collations (trailing spaces ignored in compares); -45 also
    folds case — in comparisons, IN, LIKE, GROUP BY keys, and MIN/MAX
    (which keep the FIRST row among CI-equal values, query/misc/
    collator.test)."""
    coll = ctx.collator()
    if coll not in (-45, -46):
        return sql

    def key(ref: str) -> str:
        return (f"lower(rtrim({ref}))" if coll == -45 else f"rtrim({ref})")

    for name, kind in ctx.kinds.items():
        if kind.base != "string":
            continue
        colref = rf"\b{re.escape(name)}\b"
        sql = re.sub(
            rf"({colref})\s*({_CMP_OPS})\s*'([^']*)'",
            lambda m: f"{key(m.group(1))} {m.group(2)} {key(chr(39)+m.group(3)+chr(39))}",
            sql,
        )
        sql = re.sub(
            rf"({colref})\s+(not\s+)?in\s*\(([^()]*)\)",
            lambda m: (f"{key(m.group(1))} {m.group(2) or ''}in ("
                       + ", ".join(key(x.strip())
                                   for x in m.group(3).split(",")) + ")"),
            sql, flags=re.I,
        )
        if coll == -45:
            sql = re.sub(
                rf"({colref})\s+(not\s+)?like\s+'([^']*)'",
                lambda m: (f"lower({m.group(1)}) {m.group(2) or ''}like"
                           f" lower('{m.group(3)}')"),
                sql, flags=re.I,
            )
            sql = re.sub(
                rf"(?i)(\bgroup\s+by\b[^;]*?)({colref})",
                lambda m: m.group(1) + f"lower(rtrim({m.group(2)}))",
                sql,
            )
            sql = re.sub(
                rf"(?i)\bmin\s*\(\s*({colref})\s*\)",
                lambda m: (f"min_by({m.group(1)}, struct(lower({m.group(1)})"
                           f" AS k, _dbg_h AS h))"),
                sql,
            )
            sql = re.sub(
                rf"(?i)\bmax\s*\(\s*({colref})\s*\)",
                lambda m: (f"max_by({m.group(1)}, struct(lower({m.group(1)})"
                           f" AS k, -_dbg_h AS h))"),
                sql,
            )
    return sql


def _rewrite_ch_cast(sql: str) -> str:
    """CH cast targets: cast(x as Float64/Int/String/MyDate/MyDateTime(p))."""
    out = sql
    pos = 0
    while True:
        m = re.search(r"(?i)\bcast\s*\(", out[pos:])
        if not m:
            return out
        start = pos + m.start()
        close = _match_paren(out, pos + m.end() - 1)
        inner = out[pos + m.end():close]
        am = re.match(r"(?is)^(.*\S)\s+as\s+(\w+(?:\s*\(\s*\d+\s*\))?)\s*$",
                      inner)
        if not am:
            pos = close + 1
            continue
        arg, ty = am.group(1), am.group(2).strip()
        tylow = re.sub(r"\s", "", ty).lower()
        repl = None
        if tylow in ("float64", "double"):
            repl = f"CAST({arg} AS DOUBLE)"
        elif tylow == "float32":
            repl = f"CAST({arg} AS FLOAT)"
        elif tylow in ("int", "int64", "bigint", "int32"):
            repl = f"CAST({arg} AS BIGINT)"
        elif tylow == "string":
            repl = f"CAST({arg} AS STRING)"
        elif tylow == "mydate":
            lm = re.match(r"^\s*'([^']*)'\s*$", arg)
            repl = (f"'{canon_date(lm.group(1))}'" if lm
                    else f"substring_index({arg}, ' ', 1)")
        else:
            dm = re.match(r"^mydatetime(?:\((\d+)\))?$", tylow)
            if dm:
                fsp = int(dm.group(1) or 0)
                lm = re.match(r"^\s*'([^']*)'\s*$", arg)
                repl = (f"'{canon_dt(lm.group(1), fsp)}'" if lm else arg)
        if repl is None:
            pos = close + 1
            continue
        out = out[:start] + repl + out[close + 1:]
        pos = start + len(repl)


def _rewrite_div_scale(sql: str, ctx: QueryCtx) -> str:
    """MySQL decimal division scale: s1 + 4, HALF_UP."""

    def repl(m: re.Match) -> str:
        a, b = m.group(1), m.group(2)
        ka = ctx.kinds.get(a)
        if ka is None or ka.base != "decimal":
            return m.group(0)
        s = min(ka.s + 4, 30)
        return f"CAST(({a} / {b}) AS DECIMAL(38,{s}))"

    return re.sub(r"\b(\w+)\s*/\s*(\w+)\b", repl, sql)


def _rewrite_query(env: DbgEnv, sql: str, ctx: QueryCtx) -> str:
    sql = _expand_star_join(env, sql, ctx)
    # count() / count(*) synonyms, test-only aggregate names
    sql = re.sub(r"(?i)\bcount\s*\(\s*\)", "count(*)", sql)
    sql = re.sub(r"(?i)\bfirst_row\s*\(", "first(", sql)
    sql = re.sub(r"(?i)\buniq(?:RawRes|Exact)\s*\(", "count(DISTINCT ", sql)
    sql = re.sub(r"(?i)\bcount\s*\(\s*distinct\s+", "count(DISTINCT ", sql)
    sql = re.sub(r"(?i)\bjsonLength\s*\(", "dbg_json_length(", sql)
    # from_UnixTime / date_format
    # from_UnixTime(x[, fmt]) — balanced-arg handling; the query tz (name
    # or offset-seconds) is resolved Python-side in the UDF
    out = sql
    while True:
        m = re.search(r"(?i)\bfrom_UnixTime\s*\(", out)
        if not m:
            break
        close = _match_paren(out, m.end() - 1)
        args = _split_top(out[m.end():close])
        tz = ctx.props.get("tz_name") or ctx.props.get("tz_offset") or "UTC"
        base = f"dbg_from_unixtime(CAST({args[0]} AS STRING), '{tz}')"
        e = f"dbg_date_format({base}, {args[1]})" if len(args) > 1 else base
        out = out[:m.start()] + e + out[close + 1:]
    sql = out
    out = sql
    while True:
        m = re.search(r"(?i)\bdate_format\s*\(", out)
        if not m:
            break
        close = _match_paren(out, m.end() - 1)
        args = _split_top(out[m.end():close])
        e = f"dbg_date_format(CAST({args[0]} AS STRING), {args[1]})"
        out = out[:m.start()] + e + out[close + 1:]
    sql = out
    # ConvertTimeZone{From,To}UTC(col, 'tz')
    def ctz(m: re.Match) -> str:
        direction, arg, tz = m.group(1), m.group(2).strip(), m.group(3)
        fn = "from_utc_timestamp" if direction.lower() == "from" else "to_utc_timestamp"
        return (f"date_format({fn}(to_timestamp({arg}), '{tz}'),"
                f" 'yyyy-MM-dd HH:mm:ss.SSSSSS')")

    sql = re.sub(
        r"(?i)\bConvertTimeZone(From|To)UTC\s*\(([^,()]+),\s*'([^']+)'\s*\)",
        ctz, sql,
    )
    sql = _rewrite_ch_cast(sql)
    sql = _rewrite_casts(sql, ctx)
    sql = _rewrite_logic_fns(sql, ctx)
    sql = _rewrite_enum_literals(sql, ctx)
    sql = _rewrite_collation(sql, ctx)
    sql = _rewrite_temporal_predicates(sql, ctx)
    sql = _rewrite_div_scale(sql, ctx)
    # bare-column WHERE truthiness (query/executor/filter_non_uint8.test)
    m = re.search(r"(?i)\bwhere\s+(\w+)\s*($|\bgroup\b|\border\b|\blimit\b)", sql)
    if m and m.group(1).lower() not in ("true", "false", "not", "exists"):
        kind = ctx.kinds.get(m.group(1))
        sql = (sql[:m.start()] + f"WHERE {_truthy_sql(m.group(1), kind)} = 1 "
               + sql[m.end() - len(m.group(2)):])
    return sql


# --- query execution -----------------------------------------------------------

_SQL_WORDS = {
    "min_by", "max_by", "struct", "rtrim", "_dbg_h", "k", "h",
    "select", "from", "where", "group", "by", "order", "asc", "desc",
    "limit", "as", "and", "or", "not", "in", "like", "between", "is",
    "null", "distinct", "inner", "left", "right", "join", "using", "all",
    "on", "case", "when", "then", "else", "end", "cast", "interval",
    "second", "string", "bigint", "double", "int", "decimal", "float",
    "date", "timestamp", "if", "true", "false", "having", "exists",
    "count", "min", "max", "sum", "avg", "first", "last", "abs", "floor",
    "sign", "lower", "upper", "translate", "instr", "rpad", "lpad",
    "concat", "substring_index", "regexp_extract", "try_cast", "coalesce",
    "to_timestamp", "from_utc_timestamp", "to_utc_timestamp",
    "date_format", "dbg_date_format", "dbg_from_unixtime",
    "dbg_json_length", "mysql_num_datetime", "substring", "round",
    "plus", "minus", "multiply", "divide", "modulo",
}


def _strip_strings(sql: str) -> str:
    return re.sub(r"'(?:[^'\\]|\\.)*'", "''", sql)


def _check_idents(sql: str, ctx: QueryCtx, avail: set[str]) -> None:
    """Unknown identifier -> the CH analyzer error the goldens expect."""
    body = _strip_strings(sql)
    # alias definitions count as available
    for m in re.finditer(r"(?i)\bas\s+(\w+)", body):
        avail.add(m.group(1).lower())
    aliases = {v.lower() for _, _, v in ctx.refs} | {"a", "b", "t"}
    for tok in re.findall(r"[A-Za-z_]\w*", body):
        low = tok.lower()
        if (low in _SQL_WORDS or low in aliases or low in avail
                or low.startswith("dbg_")):
            continue
        raise DbgError(f"Unknown identifier: {tok}.", code=47)


def _tz_offset_seconds(tz: str, cell: str) -> int:
    import datetime as _dt
    from zoneinfo import ZoneInfo

    if re.match(r"^[+-]?\d+$", tz):
        return int(tz)
    try:
        naive = _dt.datetime.fromisoformat(cell.split(".")[0])
        off = ZoneInfo(tz).utcoffset(naive.replace(tzinfo=_dt.timezone.utc))
        return int(off.total_seconds()) if off else 0
    except Exception:
        return 0


def _unshift_cell(cell: str, tz: str) -> str:
    """default/arrow encodings transfer timestamps as raw UTC — undo the
    computation-view shift for rendering (query/misc/time_zone.test)."""
    import datetime as _dt

    m = re.match(r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})(\.\d+)?$", cell)
    if not m or cell.startswith("0000-00-00"):
        return cell
    off = _tz_offset_seconds(tz, cell)
    t = _dt.datetime.fromisoformat(m.group(1)) - _dt.timedelta(seconds=off)
    return t.strftime("%Y-%m-%d %H:%M:%S") + (m.group(2) or "")


def _render_rows(df: DataFrame, rows, ctx: QueryCtx) -> list[list[str]]:
    import numpy as np
    from pyspark.sql.types import FloatType

    is_f32 = [isinstance(f.dataType, FloatType) for f in df.schema.fields]
    unshift: set[int] = set()
    if (ctx.ts_shifted and ctx.tz
            and ctx.encode() not in ("chunk", "chblock")):
        for i, name in enumerate(df.columns):
            base = re.sub(r"^(min|max|first|last)\((.*)\)$", r"\2", name)
            if name in ctx.ts_shifted or base in ctx.ts_shifted:
                unshift.add(i)
    out: list[list[str]] = []
    for row in rows:
        cells = []
        for k, v in enumerate(row):
            if (is_f32[k] and isinstance(v, float) and v == v
                    and v not in (float("inf"), float("-inf"))):
                s = np.format_float_positional(
                    np.float32(v), unique=True, trim="-"
                )
            else:
                s = _format_value(v)
            if k in unshift and isinstance(v, str):
                s = _unshift_cell(s, ctx.tz)
            cells.append(s)
        cells = [c for c in (x.strip() for x in cells) if c != ""]
        if cells:
            out.append(cells)
    return out


_ALIAS_SUBQ = re.compile(
    r"(?is)^select\s+(-?\d+)\s+as\s+(\w+)\s*,\s*(t\s*\.\s*)?(\w+)\s*\+\s*"
    r"(-?\d+)\s+as\s+(\w+)\s+from\s*\(\s*select\s+(-?\d+)\s+as\s+(\w+)\s*\)"
    r"\s*as\s+t\s+where\s+(t\s*\.\s*)?(\w+)\s*=\s*(-?\d+)\s*$"
)


def _alias_subquery(sql: str) -> list[list[str]] | None:
    """raft/bugs/flash-451.test: ClickHouse's alias substitution — a
    SELECT alias shadows the subquery column for UNQUALIFIED references
    (including in WHERE), `t.c` reaches the subquery value."""
    m = _ALIAS_SUBQ.match(sql.strip().rstrip(";"))
    if not m:
        return None
    outer = int(m.group(1))
    inner = int(m.group(7))
    c1 = (inner if m.group(3) else outer) + int(m.group(5))
    where_val = inner if m.group(9) else outer
    if where_val != int(m.group(11)):
        return []
    return [[str(outer), str(c1)]]


def run_query(env: DbgEnv, sql: str, surface: str,
              props: dict | None = None,
              read_tso: int | None = None) -> list[list[str]]:
    sql = sql.strip().rstrip(";").strip()
    props = props or {}
    raw = False
    m = re.match(r"(?is)^selraw\s+(nokvstore\s+)?(.*)$", sql)
    if m:
        raw = True
        sql = "select " + m.group(2)
    m = re.match(r"(?i)^manage\s+table\s+([\w.]+)\s+(flush|merge\s+delta)\s*$", sql)
    if m:
        ref = m.group(1)
        db, _, name = ref.rpartition(".")
        t, phys = env.resolve_mapped(db or "default", name)
        phys.flush()
        if "merge" in m.group(2).lower() and phys.written:
            phys.store.compact(phys.store.newest_version())
        return []
    m = re.match(r"(?i)^desc(?:ribe)?\s+([\w.]+)\s*$", sql)
    if m:
        ref = m.group(1)
        db, _, name = ref.rpartition(".")
        t, phys = env.resolve_mapped(db or "default", name)
        rows = []
        if t.int_pk is None:
            rows.append(["_tidb_rowid", "Int64"])
        for c in t.cols:
            rows.append([c.name, _ch_type_name(c.kind)])
        return rows
    if re.search(r"(?i)\bsystem\.tables\b", sql):
        dm = re.search(r"database\s*=\s*'(\w+)'", sql)
        nm = re.search(r"\bname\s*=\s*'(\w+)'", sql)
        if dm and nm:
            try:
                env.resolve_mapped(dm.group(1), nm.group(1))
            except DbgError:
                return []
            return [[dm.group(1), nm.group(1), "DeltaMerge"]]
        return []
    if re.search(r"(?i)\bsystem\.databases\b", sql):
        lk = re.search(r"(?i)tidb_name\s+like\s+'([^']*)'", sql)
        pat = re.compile(
            "^" + re.escape(lk.group(1)).replace("%", ".*") + "$"
        ) if lk else None
        return [[d] for d in sorted(env.dbs)
                if pat is None or pat.match(d)]
    if re.search(r"(?i)\bsystem\.dt_tables\b", sql):
        dm = re.search(r"tidb_database\s*=\s*'(\w+)'", sql)
        nm = re.search(r"tidb_table\s*=\s*'(\w+)'", sql)
        if not (dm and nm):
            return []
        try:
            t, phys = env.resolve_mapped(dm.group(1), nm.group(1))
        except DbgError:
            return []
        phys.flush()
        delta = phys.store.delta_rows() if phys.written else 0
        stable = 0
        if phys.written:
            st = phys.store._layer("stable")
            stable = st.count() if st is not None else 0
        return [[dm.group(1), nm.group(1), str(delta), str(stable)]]
    alias_rows = _alias_subquery(sql)
    if alias_rows is not None:
        return alias_rows
    internal = "_INTERNAL_" in sql
    rowid = "_tidb_rowid" in sql
    ctx = QueryCtx(env, surface, props, read_tso)
    if surface == "dag" and "hang_in_execution" in env.failpoints:
        raise DbgError(
            "exchange receiver meet error : MPP Task canceled because it"
            " seems hangs."
        )
    dbg_h = (ctx.collator() == -45
             and bool(re.search(r"(?i)\b(min|max)\s*\(", sql)))
    sql2 = _resolve_tables(env, sql, ctx, raw, internal, rowid, dbg_h)
    if internal and re.search(r"(?i)select\s+\*", sql2) and ctx.refs:
        # `selraw *, _INTERNAL_VERSION ...`: the reference's * expands to
        # data columns only — spell them out so the explicit internal
        # projections don't duplicate
        t0, _, view0 = ctx.refs[0]
        data_cols = [
            c for c in env.spark.table(view0).columns
            if not c.startswith("_INTERNAL_")
        ]
        sql2 = re.sub(r"(?i)(select\s+)\*", lambda m: m.group(1) + ", ".join(
            f"`{c}`" for c in data_cols), sql2, count=1)
    sql3 = _rewrite_query(env, sql2, ctx)
    avail: set[str] = set()
    for _, _, view in ctx.refs:
        avail.update(c.lower() for c in env.spark.table(view).columns)
    _check_idents(sql3, ctx, avail)
    try:
        ensure_functions(env.spark, sql3)
        df = env.spark.sql(sql3)
        rows = df.collect()
    except DbgError:
        raise
    except Exception as e:  # noqa: BLE001
        raise DbgError(str(e).splitlines()[0] if str(e) else repr(e),
                       code=1001)
    out = _render_rows(df, rows, ctx)
    if surface == "dag":
        env.last_rs = (
            "100.00"
            if (not out and re.search(r"(?i)\bwhere\b", sql)) else "0.00"
        )
    return out


# --- directive dispatch ----------------------------------------------------------

def _parse_props(argval: str | None) -> dict:
    props: dict = {}
    for part in (argval or "").split(","):
        if ":" in part:
            k, _, v = part.partition(":")
            props[k.strip()] = v.strip()
    return props


def _bounds_and_table(env: DbgEnv, args: list[Arg], start: int):
    """put_region/region_snapshot arg shapes: bounds... db t [pid] — db is
    the first UNQUOTED non-numeric arg after the region id."""
    i = start
    while i < len(args):
        a = args[i]
        if not a.quoted and not re.match(r"^-?\d+$", str(a.value)):
            break
        i += 1
    db, tname = str(args[i].value), str(args[i + 1].value)
    pid = int(args[i + 2].value) if len(args) > i + 2 else None
    t = env.table(db, tname)
    lo, hi, _ = env._parse_bounds(t, args[start:i])
    return t, db, tname, pid, lo, hi


def execute_directive(env: DbgEnv, name: str, args: list[Arg],
                      read_tso: int | None) -> list[list[str]] | None:
    n = name.lstrip("_").lower()
    v = [a.value for a in args]
    if n in ("enable_schema_sync_service", "refresh_schemas",
             "refresh_mapped_table_schema", "skip_schema_version",
             "regenerate_schema_map", "gc_schemas", "sleep",
             "init_fail_point"):
        return None
    if n == "enable_fail_point":
        env.failpoints.add(str(v[0]))
        return None
    if n == "disable_fail_point":
        env.failpoints.discard(str(v[0]))
        return None
    if n == "mock_tidb_db":
        env.dbs.add(str(v[0]))
        return None
    if n == "drop_tidb_db":
        db = str(v[0])
        env.dbs.discard(db)
        for (d, tn) in [k for k in env.tables if k[0] == db]:
            env.drop_table(d, tn)
        env.tombstones.append(("db", db, ""))
        return None
    if n == "mock_tidb_table":
        env.mock_table(str(v[0]), str(v[1]), str(v[2]),
                       pk=str(v[3]) if len(v) > 3 and v[3] else "")
        return None
    if n == "create_tidb_tables":
        db = str(v[0])
        for tn in v[1:]:
            env.mock_table(db, str(tn), "col_1 Int64")
        return None
    if n == "drop_tidb_table":
        db, tn = str(v[0]), str(v[1])
        if (db, tn) in env.tables:
            env.drop_table(db, tn)
        else:
            env.tombstones.append(("table", db, tn))
        return None
    if n == "truncate_tidb_table":
        t = env.table(str(v[0]), str(v[1]))
        t.phys = DbgPhys(env, f"{t.db}__{t.name}")
        t.phys.string_handle = t.common_handle
        for pid in list(t.partitions):
            t.partitions[pid] = DbgPhys(env, f"{t.db}__{t.name}_{pid}")
        return None
    if n == "add_column_to_tidb_table":
        t = env.table(str(v[0]), str(v[1]))
        cname, kind = parse_col_spec(str(v[2]))
        t.cols.append(ColDef(t.next_id, cname, kind))
        t.next_id += 1
        return None
    if n == "drop_column_from_tidb_table":
        t = env.table(str(v[0]), str(v[1]))
        t.cols = [c for c in t.cols if c.name != str(v[2])]
        return None
    if n == "rename_column_in_tidb_table":
        t = env.table(str(v[0]), str(v[1]))
        c = t.col_by_name(str(v[2]))
        if c is None:
            raise DbgError(f"Unknown column: {v[2]}", code=47)
        c.name = str(v[3])
        return None
    if n == "modify_column_in_tidb_table":
        t = env.table(str(v[0]), str(v[1]))
        cname, kind = parse_col_spec(str(v[2]))
        c = t.col_by_name(cname)
        if c is None:
            raise DbgError(f"Unknown column: {cname}", code=47)
        c.kind = kind
        return None
    if n == "mock_tidb_partition":
        env.add_partition(str(v[0]), str(v[1]), int(v[2]))
        return None
    if n == "drop_tidb_partition":
        t = env.table(str(v[0]), str(v[1]))
        pid = int(v[2])
        t.partitions.pop(pid, None)
        env.tombstones.append(("table", t.db, f"{t.name}_{pid}"))
        for rid in [r for r, reg in env.regions.items()
                    if reg.table == (t.db, t.name) and reg.pid == pid]:
            del env.regions[rid]
        return None
    if n == "put_region":
        t, db, tn, pid, lo, hi = _bounds_and_table(env, args, 1)
        env.put_region(int(v[0]), lo, hi, db, tn, pid)
        return None
    if n == "region_snapshot":
        t, db, tn, pid, lo, hi = _bounds_and_table(env, args, 1)
        rid = int(v[0])
        for p in env.phys_list(t, None):
            p.drop_region_pending(rid)
        env.put_region(rid, lo, hi, db, tn, pid)
        return None
    if n == "raft_insert_row":
        env.raft_insert(str(v[0]), str(v[1]), int(v[2]), v[3], args[4:])
        return None
    if n == "raft_insert_row_full":
        env.raft_insert(str(v[0]), str(v[1]), int(v[2]), v[3], args[6:],
                        tso=int(v[4]), delmark=int(v[5]))
        return None
    if n == "raft_delete_row":
        env.raft_insert(str(v[0]), str(v[1]), int(v[2]), v[3], [],
                        delmark=1)
        return None
    if n == "try_flush_region":
        reg = env.regions.get(int(v[0]))
        if reg is not None:
            _, phys = env._phys_for_region(reg)
            phys.flush()
        return None
    if n == "remove_region":
        env.remove_region(int(v[0]))
        return None
    if n == "clean_up_region":
        for rid in list(env.regions):
            env.remove_region(rid)
        return None
    if n == "region_snapshot_data":
        db, tn = str(v[0]), str(v[1])
        t = env.table(db, tn)
        rid = int(v[2])
        k = len(t.pk) if t.common_handle else 1
        lo, hi, used = env._parse_bounds(t, args[3:3 + 2 * k])
        rest = args[3 + 2 * k:]
        g = 1 + 2 + len(t.cols)
        rows = []
        for i in range(0, len(rest), g):
            grp = rest[i:i + g]
            handle_arg = grp[0].value
            tso, dl = int(grp[1].value), int(grp[2].value)
            handle, vals = env._row_handle_vals(t, handle_arg, grp[3:])
            rows.append((handle, tso, dl, vals))
        reg = env.regions.get(rid)
        pid = reg.pid if reg is not None else None
        env.put_region(rid, lo, hi, db, tn, pid)
        phys = env.phys_list(t, pid)[0]
        env.apply_snapshot_rows(t, phys, rid, lo, hi, rows)
        return None
    if n == "region_ingest_sst":
        db, tn = str(v[0]), str(v[1])
        t = env.table(db, tn)
        rid = int(v[2])
        start, end = int(v[3]), int(v[4])
        c1 = t.cols[0]
        for h in range(start, end):
            env.saw_tso(h + 100)
            vals = {c1.id: canon_value(c1.kind, str(-h))}
            env.phys_list(t)[0].add_pending(h, h + 100, 0, vals, rid)
        env.phys_list(t)[0].flush()
        return None
    if n == "region_snapshot_pre_handle_file":
        rid = int(v[2])
        env.pending_snap[rid] = {
            "db": str(v[0]), "t": str(v[1]),
            "start": int(v[3]), "end": int(v[4]),
            "schema": str(v[5]),
            "fields": int(v[7]) if len(v) > 7 else 1,
            "cfs": str(v[8]) if len(v) > 8 else "write,default",
        }
        return [[f"Generate 1 files for [region_id={rid}]"]]
    if n == "region_snapshot_pre_handle_file_pks":
        rid = int(v[2])
        env.pending_snap[rid] = {
            "db": str(v[0]), "t": str(v[1]),
            "handles": [int(x) for x in v[5:]],
            "schema": str(v[3]), "fields": 1, "cfs": "write,default",
        }
        return [[f"Generate 1 files for [region_id={rid}]"]]
    if n == "region_snapshot_apply_file":
        rid = int(v[0])
        spec = env.pending_snap.get(rid)
        reg = env._region(rid)
        t, phys = env._phys_for_region(reg)
        rows = []
        if spec and "default" in spec["cfs"]:
            gen_cols = [parse_col_spec(s) for s in _split_top(spec["schema"])]
            by_name = {c.name: c for c in t.cols}
            if "handles" in spec:
                handles = spec["handles"]
                versions = [100100 + (len(handles) - i)
                            for i in range(len(handles))]
            else:
                handles = list(range(spec["start"], spec["end"]))
                versions = [h + 100 for h in handles]
            nrows = len(handles)
            nf = spec["fields"]
            for idx, (h, ver) in enumerate(zip(handles, versions)):
                gvals = [str(-h)]
                if nf > 1 and idx >= nrows // 3:
                    gvals.append(f"_{h}")
                if nf > 2 and idx >= 2 * nrows // 3:
                    gvals.append(str(h // 2))
                vals: dict[int, str | None] = {}
                for (gname, _gkind), gv in zip(gen_cols, gvals):
                    c = by_name.get(gname)
                    if c is not None:
                        vals[c.id] = canon_value(c.kind, gv, quoted=True)
                rows.append((h, ver, 0, vals))
        env.apply_snapshot_rows(t, phys, rid, reg.lo, reg.hi, rows)
        return [[f"success apply region {rid} with dt files"]]
    if n == "region_split":
        rid = int(v[0])
        db, tn = str(v[1]), str(v[2])
        t = env.table(db, tn)
        bounds = args[3:-1]
        new_rid = int(args[-1].value)
        half = len(bounds) // 2
        lo1, hi1, _ = env._parse_bounds(t, bounds[:half])
        lo2, hi2, _ = env._parse_bounds(t, bounds[half:])
        reg = env._region(rid)
        reg.lo, reg.hi = lo1, hi1
        env.regions[new_rid] = Region(new_rid, (db, tn), reg.pid, lo2, hi2)
        return [[f"execute batch split, region {rid} into ({rid},{new_rid})"]]
    if n == "region_prepare_merge":
        src = env._region(int(v[0]))
        src.state = "Merging"
        return [[f"execute prepare merge, source {v[0]} target {v[1]}"]]
    if n == "region_commit_merge":
        src = env._region(int(v[0]))
        tgt = env._region(int(v[1]))
        tgt.lo = min(src.lo, tgt.lo)
        tgt.hi = max(src.hi, tgt.hi)
        del env.regions[int(v[0])]
        return [[f"execute commit merge, source {v[0]} current {v[1]}"]]
    if n == "region_rollback_merge":
        env._region(int(v[0])).state = "Normal"
        return [[f"execute rollback merge, region {v[0]}"]]
    if n == "dump_all_mock_region":
        db, tn = str(v[0]), str(v[1])
        regs = sorted(
            [r for r in env.regions.values() if r.table == (db, tn)],
            key=lambda r: -r.rid,
        )
        rows = [
            [f"[region_id={r.rid}] ranges: [{r.lo}, {r.hi}), state: {r.state}"]
            for r in regs
        ]
        rows.append([f"total size: {len(regs)}"])
        return rows
    if n == "find_region_by_range":
        regs = sorted(env.regions, reverse=True)
        rows = [[str(len(regs))]]
        rows.append(["regions: " + " ".join(str(r) for r in regs)]
                    if regs else [""])
        return rows
    if n == "is_tombstone":
        db, tn = str(v[0]), str(v[1])
        dead = any(k == ("table", db, tn) or (k[0] == "db" and k[1] == db)
                   for k in env.tombstones)
        return [["true" if dead and (db, tn) not in env.tables else "false"]]
    if n == "search_log_for_key":
        return [[env.last_rs]]
    if n == "query_mapped":
        sql = str(v[0]).replace("$d", str(v[1])).replace(
            "$t", str(v[2]) if len(v) > 2 else "")
        return run_query(env, sql, "storage", read_tso=read_tso)
    if n in ("dag", "mock_dag", "tidb_query"):
        props: dict = {}
        for a in args[1:]:
            if a.quoted and ":" in str(a.value):
                props = _parse_props(str(a.value))
        return run_query(env, str(v[0]), "dag", props=props,
                         read_tso=read_tso)
    raise DbgError(f"Unknown DBGInvoke function: {name}")


# --- raw CH statements ('>> create table ... engine = Log' path) -----------------

def run_raw_sql(env: DbgEnv, sql: str) -> list[list[str]] | None:
    sql = sql.strip().rstrip(";").strip()
    if re.match(r"(?i)^set\s+\w+\s*=", sql):
        return None
    m = re.match(r"(?i)^drop\s+table\s+(?:if\s+exists\s+)?([\w.]+)\s*$", sql)
    if m:
        ref = m.group(1)
        db, _, name = ref.rpartition(".")
        env.tables.pop((db or "default", name), None)
        return None
    m = re.match(
        r"(?is)^create\s+table\s+([\w.]+)\s*\((.*)\)\s*"
        r"engine\s*=\s*(\w+)\s*(?:\(\((\w+)\)\))?\s*$",
        sql,
    )
    if m:
        ref, cols, engine, pk = m.group(1), m.group(2), m.group(3), m.group(4)
        db, _, name = ref.rpartition(".")
        t = env.mock_table(db or "default", name, cols,
                           pk=pk or "", mock=False)
        return None
    m = re.match(
        r"(?is)^insert\s+into\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*"
        r"values\s*(.+)$",
        sql,
    )
    if m:
        ref, collist, body = m.group(1), m.group(2), m.group(3)
        db, _, name = ref.rpartition(".")
        t = env.table(db or "default", name)
        assert t.phys is not None
        if collist:
            targets = [t.col_by_name(c.strip())
                       for c in collist.split(",")]
        else:
            targets = list(t.cols)
        for tup in _split_top(body):
            tup = tup.strip()
            if tup.startswith("(") and tup.endswith(")"):
                tup = tup[1:-1]
            cells = parse_dbg_args(tup)
            vals: dict[int, str | None] = {}
            for c, a in zip(targets, cells):
                if c is None:
                    continue
                vals[c.id] = (NULL_SENTINEL if a.value is None
                              else canon_value(c.kind, a.value,
                                               quoted=a.quoted))
            if t.int_pk is not None:
                handle = int(str(vals[t.int_pk.id]))
            else:
                handle = t.phys.row_seq
                t.phys.row_seq += 1
            env.note_wide(t, t.phys, vals)
            t.phys.add_pending(handle, env.next_tso(), 0, vals, None)
        return None
    if re.match(r"(?i)^(select|desc|describe|manage|selraw)\b", sql):
        return run_query(env, sql, "storage")
    return None  # other CH admin statements carry no analytic semantics


# --- script runner ----------------------------------------------------------------

@dataclass
class Entry:
    body: str
    lineno: int
    suppressed: bool = False
    matches: list[str] = field(default_factory=list)


def parse_dbg_script(path: str | Path) -> list[Entry]:
    entries: list[Entry] = []
    cur: Entry | None = None
    for lineno, origin in enumerate(Path(path).read_text().splitlines(), 1):
        line = origin.strip()
        if line.startswith("#RETURN"):
            break
        if (origin.startswith("\t") or origin.startswith("   ")) and cur:
            # run-test.py UNFINISHED continuation: concatenates into the
            # cached command (with a space only after a trailing comma)
            if cur.body.endswith(","):
                cur.body += " "
            cur.body += line
            continue
        if not line or line.startswith("#"):
            continue
        if line.startswith("=> ") or line.startswith(">> "):
            cur = Entry(body=line[3:].strip(), lineno=lineno)
            entries.append(cur)
            continue
        if line.startswith("SLEEP "):
            continue
        if cur is not None:
            cur.matches.append(line)
    return entries


def _compare_line(line: str, template: str) -> bool:
    """run-test.py compare_line: {#WORD}/{#LINE}/{#REGEXP} placeholders."""
    if template.startswith("{#REGEXP}"):
        return re.match(template[len("{#REGEXP}"):], line) is not None
    if "{#LINE}" in template:
        return True

    def is_break(c: str) -> bool:
        return c in ",;{}[]() \n\t"

    while True:
        i = template.find("{#WORD}")
        if i < 0:
            return line == template
        if line[:i] != template[:i]:
            return False
        rest = line[i:]
        j = 0
        while j < len(rest) and rest[j] in " \t":
            j += 1
        k = j
        while k < len(rest) and not is_break(rest[k]):
            k += 1
        if k == j:
            return False
        template = template[i + len("{#WORD}"):]
        line = rest[k:]


def _canon_dbg(cell: str):
    if cell == "\\N":
        return ("null",)
    return _canon_cell(cell)


def _canon_rows_dbg(rows: list[list[str]]):
    from collections import Counter

    return Counter(tuple(_canon_dbg(c) for c in row) for row in rows)


def _compare_entry(entry: Entry, rows: list[list[str]] | None,
                   err_lines: list[str] | None, res: ScriptResult,
                   loc: str) -> None:
    matches = entry.matches
    box = [ln for ln in matches
           if ln.lstrip().startswith(("┌", "│", "└"))]
    if err_lines is not None:
        if matches and not box:
            ok = len(err_lines) <= len(matches) and all(
                _compare_line(o, t) for o, t in zip(err_lines, matches)
            ) and all(_compare_line("", t)
                      for t in matches[len(err_lines):])
            if ok:
                res.checked += 1
            else:
                res.mismatches.append(
                    f"{loc}: {entry.body!r} error mismatch —"
                    f" got {err_lines} want {matches}"
                )
        else:
            res.mismatches.append(
                f"{loc}: {entry.body!r} raised {err_lines}"
            )
        return
    expected = [
        [w.strip() for w in ln.split("│") if w.strip() != ""]
        for ln in matches if ln.lstrip().startswith("│")
    ]
    expected = [r for r in expected if r]
    if matches and not box:
        res.mismatches.append(
            f"{loc}: {entry.body!r} expected error/template {matches[:2]},"
            f" got rows {rows[:2] if rows else []}"
        )
        return
    got = []
    for row in rows or []:
        cells = [c for c in (str(x).strip() for x in row) if c != ""]
        if cells:
            got.append(cells)
    want_c, got_c = _canon_rows_dbg(expected), _canon_rows_dbg(got)
    if want_c != got_c:
        missing = list((want_c - got_c).elements())[:4]
        extra = list((got_c - want_c).elements())[:4]
        res.mismatches.append(
            f"{loc}: {entry.body!r} rows differ — missing {missing}"
            f" extra {extra}"
        )
    else:
        res.checked += 1


_READ_TSO = re.compile(r"\)\s*\"\s*--read_tso\s*\"\s*(\d+)\s*$")
_DBGINVOKE = re.compile(r"(?i)^DBGInvoke\s+(\w+)\s*\(")


def run_script(spark: SparkSession, path: str | Path,
               base_path: str) -> ScriptResult:
    res = ScriptResult(path=str(path))
    import shutil
    import uuid

    base = os.path.join(base_path, f"dbg_{uuid.uuid4().hex[:8]}")
    prev = {}
    for key, val in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.parquet.mergeSchema", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        prev[key] = spark.conf.get(key, None)
        spark.conf.set(key, val)
    env = DbgEnv(spark, base)
    try:
        for entry in parse_dbg_script(path):
            loc = f"{Path(path).name}:{entry.lineno}"
            rows = err = None
            body = entry.body
            read_tso = None
            tm = _READ_TSO.search(body)
            if tm:
                read_tso = int(tm.group(1))
                body = body[:tm.start() + 1]
            try:
                dm = _DBGINVOKE.match(body)
                if dm:
                    close = _match_paren(body, dm.end() - 1)
                    args = parse_dbg_args(body[dm.end():close])
                    name = dm.group(1)
                    out = execute_directive(env, name, args, read_tso)
                    rows = None if name.startswith("__") else (out or [])
                    if name.startswith("__"):
                        rows = []
                else:
                    out = run_raw_sql(env, body)
                    rows = out if out is not None else []
            except DbgError as e:
                err = e.render()
            except Exception as e:  # noqa: BLE001 — surfaced as a mismatch
                err = [f"INTERNAL {type(e).__name__}: {e}"]
            res.steps_run += 1
            _compare_entry(entry, rows, err, res, loc)
    finally:
        for key, val in prev.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
        shutil.rmtree(base, ignore_errors=True)
    return res
