"""MySQL DECIMAL(p>38) surface — the "decimal65 tier".

Spark's DecimalType caps precision at 38; MySQL (and the reference —
dbms/src/Core/DecimalComparison.h, Decimal256 in
dbms/src/Common/Decimal.h) goes to 65. Columns declared wider than 38
are stored as CANONICAL STRINGS (sign, no exponent, exactly the declared
scale's fractional digits — the same at-rest treatment this repo gives
TIME and JSON), and the arithmetic the reference's scripts exercise over
them (MOD, ROUND, TRUNCATE, FORMAT, ABS, SUM, equality joins) runs in
Python's decimal module at 81-digit context through the Arrow-batched
UDFs below. The table view exposes such a column as today's clamped
DECIMAL(38, min(s,10)) until a value wider than the clamp is actually
written ("wide flag" in the table def) — small-value tables keep
bit-identical plans and types, wide tables switch to the exact string
surface (expr/mod.test t13, expr/round.test decimal256_*,
ddl/alter_decimal_default_value.test).

Scale at 100 TB: these are per-row scalar maps and a partial-agg-free
grouped aggregate over an already-grouped key space — the same cost
shape as any Arrow-batched pandas stage; no shuffle is added beyond the
GROUP BY the query itself declares.
"""

from __future__ import annotations

from decimal import (
    ROUND_DOWN,
    ROUND_HALF_UP,
    Context,
    Decimal,
    InvalidOperation,
    Overflow,
)

import pandas as pd

_CTX = Context(prec=81, rounding=ROUND_HALF_UP)


def _parse(x) -> Decimal | None:
    if x is None or (isinstance(x, float) and x != x):
        return None
    s = str(x).strip()
    if not s:
        return None
    try:
        return _CTX.create_decimal(s)
    except Overflow:
        # a huge exponent ('1e1000000') exceeds the 81-digit context —
        # MySQL saturates instead of erroring; sign-preserving max
        lim = _CTX.subtract(_CTX.power(Decimal(10), 81), Decimal(1))
        return lim.copy_negate() if s.lstrip().startswith("-") else lim
    except InvalidOperation:
        # MySQL soft parse: longest numeric prefix, 0 on garbage
        import re

        m = re.match(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", s)
        if not m:
            return Decimal(0)
        try:
            return _CTX.create_decimal(m.group(0))
        except Overflow:
            lim = _CTX.subtract(_CTX.power(Decimal(10), 81), Decimal(1))
            return (lim.copy_negate()
                    if m.group(0).startswith("-") else lim)


def _fixed(d: Decimal, scale: int | None = None) -> str:
    """Render without exponent; at ``scale`` fractional digits when
    given (MySQL's column rendering), else the value's own scale."""
    if scale is not None:
        d = _CTX.quantize(d, Decimal(1).scaleb(-scale))
    s = format(d, "f")
    if s == "-0" or s.startswith("-0.") and Decimal(s) == 0:
        s = s[1:]
    return s


def canon(x, p: int, s: int) -> str | None:
    """Canonical at-rest rendering: quantized to the declared scale,
    clamped to the declared precision's min/max (MySQL non-strict)."""
    d = _parse(x)
    if d is None:
        return None
    d = _CTX.quantize(d, Decimal(1).scaleb(-s))
    lim = _CTX.subtract(_CTX.power(Decimal(10), p - s), Decimal(1).scaleb(-s))
    d = max(min(d, lim), lim.copy_negate())
    return _fixed(d, s)


def register_decimal65_udfs(spark) -> list[str]:
    """Register the dec65_* SQL functions (Arrow-batched pandas UDFs +
    one grouped-agg). Called by sql_registry when a statement names one."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _canon(x: pd.Series, p: pd.Series, s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if xi is None else canon(xi, int(pi), int(si))
                for xi, pi, si in zip(x, p, s)
            ],
            dtype=object,
        )

    @pandas_udf("string")
    def _norm(x: pd.Series) -> pd.Series:
        # normalized numeric key for equality / grouping: exact value,
        # trailing fractional zeros stripped, -0 -> 0
        def one(xi):
            d = _parse(xi)
            if d is None:
                return None
            if d == 0:
                return "0"
            s = format(d, "f")
            if "." in s:
                s = s.rstrip("0").rstrip(".")
            return s

        return pd.Series([one(xi) for xi in x], dtype=object)

    @pandas_udf("string")
    def _mod(a: pd.Series, b: pd.Series) -> pd.Series:
        # MySQL MOD: sign follows the dividend, a - b*trunc(a/b);
        # divisor 0 / NULL operands -> NULL
        def one(ai, bi):
            da, db = _parse(ai), _parse(bi)
            if da is None or db is None or db == 0:
                return None
            da_a, db_a = da.copy_abs(), db.copy_abs()
            q = _CTX.divide_int(da_a, db_a)
            r = _CTX.subtract(da_a, _CTX.multiply(db_a, q))
            return _fixed(r.copy_negate() if da < 0 else r)

        return pd.Series([one(ai, bi) for ai, bi in zip(a, b)], dtype=object)

    @pandas_udf("string")
    def _round(x: pd.Series, d: pd.Series) -> pd.Series:
        # MySQL ROUND on decimals: half away from zero at d digits
        # (negative d rounds left of the point)
        def one(xi, di):
            v = _parse(xi)
            if v is None or di is None:
                return None
            # MySQL clamps the frac operand: at or past the value's own
            # scale = no-op, hugely negative = 0
            # (expr/round_with_frac.test feeds int64 extremes)
            if int(di) >= -v.as_tuple().exponent:
                return _fixed(v)
            q = Decimal(1).scaleb(-max(int(di), -100))
            return _fixed(v.quantize(q, rounding=ROUND_HALF_UP, context=_CTX))

        return pd.Series([one(xi, di) for xi, di in zip(x, d)], dtype=object)

    @pandas_udf("string")
    def _trunc(x: pd.Series, d: pd.Series) -> pd.Series:
        def one(xi, di):
            v = _parse(xi)
            if v is None or di is None:
                return None
            if int(di) >= -v.as_tuple().exponent:
                return _fixed(v)
            q = Decimal(1).scaleb(-max(int(di), -100))
            return _fixed(v.quantize(q, rounding=ROUND_DOWN, context=_CTX))

        return pd.Series([one(xi, di) for xi, di in zip(x, d)], dtype=object)

    @pandas_udf("string")
    def _abs(x: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if (v := _parse(xi)) is None else _fixed(v.copy_abs())
                for xi in x
            ],
            dtype=object,
        )

    @pandas_udf("string")
    def _fmt(x: pd.Series, d: pd.Series) -> pd.Series:
        # MySQL FORMAT(x, d): round half away from zero to d fractional
        # digits (d < 0 reads as 0), thousands-separate the integer part
        def one(xi, di):
            v = _parse(xi)
            if v is None or di is None:
                return None
            nd = max(int(di), 0)
            v = v.quantize(
                Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP, context=_CTX
            )
            s = format(v, "f")
            neg = s.startswith("-")
            s = s.lstrip("-")
            ip, _, fp = s.partition(".")
            groups = []
            while len(ip) > 3:
                groups.append(ip[-3:])
                ip = ip[:-3]
            groups.append(ip)
            out = ",".join(reversed(groups))
            if nd:
                out += "." + fp.ljust(nd, "0")
            return ("-" if neg else "") + out

        return pd.Series([one(xi, di) for xi, di in zip(x, d)], dtype=object)

    @pandas_udf("string")
    def _sum(x: pd.Series) -> str:
        tot = None
        for xi in x:
            v = _parse(xi)
            if v is None:
                continue
            tot = v if tot is None else _CTX.add(tot, v)
        return None if tot is None else _fixed(tot)

    # --- limb decomposition: partial-aggregable SUM ------------------------
    # dec65_sum is a grouped-agg UDF: every raw row rides the shuffle to
    # its group. The limb pair below instead decomposes each value into
    # three SIGNED 22-digit integer limbs of its unscaled form (value *
    # 10^s), which Spark's native SUM partially aggregates with map-side
    # combine — the shuffle then carries three narrow decimal(38,0)
    # partials per group, not raw strings. Exact reassembly (carry across
    # limbs) happens once per group at finalize. 22-digit limbs over a
    # <=65-digit unscaled value leave 16 digits of summation headroom per
    # limb (~10^16 rows per group) in decimal(38,0).
    _LIMB = 10 ** 22

    @pandas_udf("decimal(38,0)")
    def _limb(x: pd.Series, i: pd.Series, sc: pd.Series) -> pd.Series:
        def one(xi, ii, si):
            d = _parse(xi)
            if d is None:
                return None
            u = int(
                _CTX.multiply(d, Decimal(10) ** int(si))
                .to_integral_value(rounding=ROUND_HALF_UP)
            )
            sign = -1 if u < 0 else 1
            return Decimal(sign * ((abs(u) // _LIMB ** int(ii)) % _LIMB))

        return pd.Series(
            [one(xi, ii, si) for xi, ii, si in zip(x, i, sc)], dtype=object
        )

    # --- exact binary arithmetic --------------------------------------------
    # +/-/* at MySQL's decimal result scales (add/sub: max(s1,s2), mul:
    # s1+s2 — Python decimal arithmetic yields exactly these), division
    # at s1 + div_precision_increment (quantized half-up, NULL on /0).
    # Reference: Decimal256 arithmetic in dbms/src/Common/Decimal.h.
    def _binop(fn):
        @pandas_udf("string")
        def _f(a: pd.Series, b: pd.Series) -> pd.Series:
            def one(ai, bi):
                da, db = _parse(ai), _parse(bi)
                if da is None or db is None:
                    return None
                return _fixed(fn(da, db))

            return pd.Series(
                [one(ai, bi) for ai, bi in zip(a, b)], dtype=object
            )

        return _f

    _add = _binop(_CTX.add)
    _sub = _binop(_CTX.subtract)
    _mul = _binop(_CTX.multiply)

    @pandas_udf("string")
    def _div(a: pd.Series, b: pd.Series, inc: pd.Series) -> pd.Series:
        def one(ai, bi, inci):
            da, db = _parse(ai), _parse(bi)
            if da is None or db is None or db == 0:
                return None
            sc = -da.as_tuple().exponent
            return _fixed(
                _CTX.divide(da, db), max(sc, 0) + int(inci)
            )

        return pd.Series(
            [one(*t) for t in zip(a, b, inc)], dtype=object
        )

    # --- order-preserving sort key ------------------------------------------
    # Wide columns expose as canonical STRINGS; lexicographic string order
    # misorders numerics ('10.5' < '9.5'). dec65_sortkey renders a
    # fixed-width sign-folded digit string whose BINARY order IS numeric
    # order: '1' + zero-padded |x| for x >= 0, '0' + nines-complement for
    # x < 0 (82 integer digits — the saturation cap is 10^81-1 — plus 30
    # fractional, MySQL's max scale). Used for ORDER BY / MIN / MAX /
    # range compares on wide columns; reference ordering semantics:
    # Decimal256 in dbms/src/Common/Decimal.h, DecimalComparison.h.
    _KEY_INT, _KEY_FRAC = 82, 30

    @pandas_udf("string")
    def _sortkey(x: pd.Series) -> pd.Series:
        from decimal import localcontext

        q30 = Decimal(1).scaleb(-_KEY_FRAC)

        def one(xi):
            d = _parse(xi)
            if d is None:
                return None
            neg = d < 0
            with localcontext() as ctx:
                ctx.prec = _KEY_INT + _KEY_FRAC + 2
                a = (-d if neg else d).quantize(q30)
            s = format(a, "f")
            ip, _, fp = s.partition(".")
            digits = ip.rjust(_KEY_INT, "0") + fp.ljust(_KEY_FRAC, "0")
            if neg:
                return "0" + "".join(str(9 - int(c)) for c in digits)
            return "1" + digits

        return pd.Series([one(xi) for xi in x], dtype=object)

    # --- array finalizers: SUM/AVG over collect_list / collect_set ----------
    # Expression-bodied and DISTINCT aggregates ride a NATIVE
    # collect_list/collect_set (partial-aggregable, mixes freely with
    # other native aggregates — unlike a grouped-agg pandas UDF, which
    # Spark refuses to place next to native aggs) and finalize exactly in
    # one scalar pass per group.
    @pandas_udf("string")
    def _sum_arr(a: pd.Series) -> pd.Series:
        def one(arr):
            if arr is None:
                return None
            tot = None
            for xi in arr:
                v = _parse(xi)
                if v is None:
                    continue
                tot = v if tot is None else _CTX.add(tot, v)
            return None if tot is None else _fixed(tot)

        return pd.Series([one(arr) for arr in a], dtype=object)

    @pandas_udf("string")
    def _avg_arr(a: pd.Series, inc: pd.Series) -> pd.Series:
        # MySQL AVG scale = source scale + div_precision_increment
        def one(arr, inci):
            if arr is None:
                return None
            tot, n, sc = None, 0, 0
            for xi in arr:
                v = _parse(xi)
                if v is None:
                    continue
                tot = v if tot is None else _CTX.add(tot, v)
                n += 1
                sc = max(sc, -v.as_tuple().exponent)
            if tot is None:
                return None
            return _fixed(_CTX.divide(tot, Decimal(n)), sc + int(inci))

        return pd.Series(
            [one(arr, inci) for arr, inci in zip(a, inc)], dtype=object
        )

    @pandas_udf("string")
    def _avg_fin(h: pd.Series, m: pd.Series, l: pd.Series, cnt: pd.Series,
                 sc: pd.Series, inc: pd.Series) -> pd.Series:
        # limb-SUM ÷ COUNT at scale s + div_precision_increment — the
        # partial-aggregable AVG over a bare wide column (three native
        # limb SUM partials + COUNT ride the shuffle)
        def one(hi, mi, lo, ni, si, inci):
            if hi is None and mi is None and lo is None:
                return None
            if hi is None or mi is None or lo is None or not ni:
                return None  # limb overflow: propagate, don't fabricate
            u = int(hi) * _LIMB * _LIMB + int(mi) * _LIMB + int(lo)
            d = _CTX.divide(
                Decimal(u), _CTX.multiply(Decimal(10) ** int(si),
                                          Decimal(int(ni)))
            )
            return _fixed(d, int(si) + int(inci))

        return pd.Series(
            [one(*t) for t in zip(h, m, l, cnt, sc, inc)], dtype=object
        )

    @pandas_udf("string")
    def _sum_fin(h: pd.Series, m: pd.Series, l: pd.Series,
                 sc: pd.Series) -> pd.Series:
        def one(hi, mi, lo, si):
            if hi is None and mi is None and lo is None:
                return None
            if hi is None or mi is None or lo is None:
                # A limb partial can only be NULL-while-others-aren't if
                # its native SUM(decimal(38,0)) overflowed (non-ANSI Spark
                # NULLs past the 16-digit headroom). Propagate NULL so the
                # overflow is detectable instead of silently dropping a
                # limb as 0.
                return None
            u = int(hi) * _LIMB * _LIMB + int(mi) * _LIMB + int(lo)
            d = _CTX.divide(Decimal(u), Decimal(10) ** int(si))
            return _fixed(d, int(si))

        return pd.Series(
            [one(*t) for t in zip(h, m, l, sc)], dtype=object
        )

    spark.udf.register("dec65_canon", _canon)
    spark.udf.register("dec65_norm", _norm)
    spark.udf.register("dec65_mod", _mod)
    spark.udf.register("dec65_round", _round)
    spark.udf.register("dec65_truncate", _trunc)
    spark.udf.register("dec65_abs", _abs)
    spark.udf.register("dec65_format", _fmt)
    spark.udf.register("dec65_sum", _sum)
    spark.udf.register("dec65_limb", _limb)
    spark.udf.register("dec65_sum_fin", _sum_fin)
    spark.udf.register("dec65_sortkey", _sortkey)
    spark.udf.register("dec65_sum_arr", _sum_arr)
    spark.udf.register("dec65_avg_arr", _avg_arr)
    spark.udf.register("dec65_avg_fin", _avg_fin)
    spark.udf.register("dec65_add", _add)
    spark.udf.register("dec65_sub", _sub)
    spark.udf.register("dec65_mul", _mul)
    spark.udf.register("dec65_div", _div)
    return [
        "dec65_canon", "dec65_norm", "dec65_mod", "dec65_round",
        "dec65_truncate", "dec65_abs", "dec65_format", "dec65_sum",
        "dec65_limb", "dec65_sum_fin", "dec65_sortkey", "dec65_sum_arr",
        "dec65_avg_arr", "dec65_avg_fin", "dec65_add", "dec65_sub",
        "dec65_mul", "dec65_div",
    ]
