"""Per-statement registration of the MySQL-name functions
(functions/sql_registry.ensure_functions): a statement registers the
registry names it calls plus their dependency closure, nothing else.
Each test that counts registrations runs in its own ``newSession()``,
which has no temporary functions and no registered-name set yet."""

from __future__ import annotations

import pytest

from tiflash_spark.functions.sql_registry import (
    CLOSURE,
    MYSQL_SQL_FUNCTIONS,
    _ORDER,
    called_names,
    ensure_functions,
)
from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.admin_sql import run_sql
from tiflash_spark.sources.delta_store import DeltaStore
from tests.conftest import SF_SMALL


@pytest.fixture
def fresh(spark):
    return spark.newSession()


def _registered(s) -> set[str]:
    return set(getattr(s, "_tiflash_functions", set()))


def test_bodies_close_over_earlier_registry_calls():
    """Static: every registry name a body calls is in its closure and is
    defined earlier in dict order, so in-order registration never meets
    an unknown name."""
    for name, (_sig, _ret, body) in MYSQL_SQL_FUNCTIONS.items():
        deps = called_names(body) - {name}
        assert deps <= CLOSURE[name], name
        for d in CLOSURE[name] - {name}:
            assert _ORDER[d] < _ORDER[name], (name, d)
            assert CLOSURE[d] <= CLOSURE[name], (name, d)
    assert sum(1 for n in MYSQL_SQL_FUNCTIONS if len(CLOSURE[n]) > 1) == 36
    assert sorted(CLOSURE["cast_signed"]) == [
        "_num_prefix", "cast_signed", "mysql_numform", "mysql_to_double",
    ]


def test_called_names_spellings():
    assert called_names(
        "SELECT CAST_SIGNED(a), `mysql_to_double` (b), date_format(c, 'y'),"
        " my_format(d), format\n(e, 2), 'cast_signed' AS s"
    ) == {"cast_signed", "mysql_to_double", "format"}


def test_htap_statement_registers_nothing(fresh):
    fresh.createDataFrame(
        [(1, "F", 10.5, "1-URGENT"), (2, "O", 3.0, "2-HIGH"),
         (3, "F", 1.25, "3-MEDIUM")],
        f"{HANDLE} long, o_orderstatus string, o_totalprice double,"
        " o_orderpriority string",
    ).createOrReplaceTempView("orders")
    rows = run_sql(
        fresh,
        "SELECT `o_orderstatus`, COUNT(*) AS n, SUM(`o_totalprice`) AS total, "
        "SUM(IF(o_orderpriority = '1-URGENT', 1, 0)) AS urgent, "
        f"MAX(`{HANDLE}`) AS max_key FROM orders GROUP BY `o_orderstatus`",
    ).collect()
    got = {r.o_orderstatus: (r.n, r.total, r.urgent, r.max_key) for r in rows}
    assert got == {"F": (2, 11.75, 1, 3), "O": (1, 3.0, 0, 2)}
    assert _registered(fresh) == set()


def test_cast_signed_registers_its_closure(fresh):
    v = run_sql(fresh, "SELECT cast_signed('12.7abc') AS v").collect()[0].v
    assert v == 13
    assert _registered(fresh) == set(CLOSURE["cast_signed"])
    # a second statement over the same names registers nothing new
    assert ensure_functions(fresh, "SELECT mysql_to_double('1')") == []


def test_registry_call_emitted_by_a_rescue_runs(fresh):
    """IF(<numeric>, ...) fails analysis; the rescue rewrites the
    condition to mysql_truthy(...), which the statement never named."""
    fresh.createDataFrame([(1, 0), (2, 5)], "k int, x int").createOrReplaceTempView("tr")
    sql = "SELECT k, IF(x, 'yes', 'no') AS t FROM tr ORDER BY k"
    assert called_names(sql) == set()
    rows = run_sql(fresh, sql).collect()
    assert [(r.k, r.t) for r in rows] == [(1, "no"), (2, "yes")]
    assert "mysql_truthy" in _registered(fresh)


def test_generated_column_reads_without_run_sql(fresh, tmp_path):
    store = DeltaStore(fresh, str(tmp_path / "gen"))
    store.write_batch(
        fresh.createDataFrame([(1, "42abc"), (2, "2020-01-02")], f"{HANDLE} long, s string"),
        version=1,
    )
    store.add_generated_column("n", "bigint", "cast_signed(s)")
    store.as_view("gen_t")
    got = {r[HANDLE]: r.n for r in fresh.table("gen_t").collect()}
    assert got == {1: 42, 2: 20200102}
    assert _registered(fresh) == set(CLOSURE["cast_signed"])


def test_open_catalog_registers_all(fresh):
    import tiflash_spark

    tiflash_spark.open_catalog(fresh, SF_SMALL)
    assert _registered(fresh) == set(_ORDER)
    assert len(_ORDER) == 125
    for name in ("_num_prefix", "mysql_cast_time", "mysql_json_extract",
                 "mysql_substring_index", "mysql_regexp_replace", "dec65_div"):
        assert fresh.catalog.functionExists(name), name
