"""tiflash_spark.memo: the one process memo and its one rule.

Entries carry plan-construction artifacts only — schemas, expression
trees, plan literals, planner decisions — never query results. A hit
needs the stamp an entry was built under (its sources' (mtime_ns, size),
or the live py4j gateway for expression trees) to equal the current
one; a newer stamp replaces the entry, so there is one entry per key.
"""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tiflash_spark import memo


def _rewrite(spark, path: str, rows: list[Row]) -> None:
    """Overwrite a parquet dataset in place and make its stamp move even
    on coarse-mtime filesystems."""
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    spark.catalog.refreshByPath(path)


# --- expression trees ---------------------------------------------------------


def test_prepared_returns_same_object(spark):
    calls = []

    def build():
        calls.append(1)
        return F.col("x") + 1

    a = memo.expr(("test", "same-object"), build)
    b = memo.expr(("test", "same-object"), build)
    assert a is b
    assert len(calls) == 1


def test_prepared_column_usable_in_multiple_plans(spark):
    c = memo.expr(("test", "usable"), lambda: (F.col("v") * 2).alias("d"))
    df1 = spark.range(3).select(F.col("id").alias("v")).select(c)
    df2 = spark.range(5).select(F.col("id").alias("v")).select(c)
    assert [r.d for r in df1.collect()] == [0, 2, 4]
    assert [r.d for r in df2.collect()] == [0, 2, 4, 6, 8]


def test_expr_rebuilds_under_new_gateway_and_never_caches_without_one(monkeypatch):
    from pyspark import SparkContext

    calls = []

    def build():
        calls.append(1)
        return object()

    key = ("test", "gateway")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    a = memo.expr(key, build)
    assert memo.expr(key, build) is a
    # a new gateway object (a restarted JVM) never matches the old one's
    # entries, whatever its id()
    monkeypatch.setattr(SparkContext, "_gateway", object())
    b = memo.expr(key, build)
    assert b is not a
    assert len(calls) == 2
    # no gateway: built every time, nothing stored that could leak into
    # the first real JVM
    monkeypatch.setattr(SparkContext, "_gateway", None)
    before = memo.stats()["entries"]
    memo.expr(("test", "no-gateway"), build)
    memo.expr(("test", "no-gateway"), build)
    assert len(calls) == 4
    assert memo.stats()["entries"] == before


def test_expr_key_carries_model_constants(spark, monkeypatch):
    """quality_model_score's cached tree bakes in QUALITY_MODEL_WEIGHTS
    and QUALITY_MODEL_BIAS; changing them must rebuild the tree."""
    from tiflash_spark.pipeline import text

    text.quality_model_score(spark, SF_SMALL)  # warm the memo
    monkeypatch.setattr(text, "QUALITY_MODEL_WEIGHTS", [("zzzunseen", 1.0)])
    monkeypatch.setattr(text, "QUALITY_MODEL_BIAS", 0.25)
    logits = {r.logit for r in text.quality_model_score(spark, SF_SMALL).collect()}
    assert logits == {0.25}


# --- values derived from source files -----------------------------------------


def test_literal_memo_caches_per_stamp(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"one")
    calls = []

    def build():
        calls.append(1)
        return [1, 2, 3]

    assert memo.cached("tag", str(src), (str(src),), build) == [1, 2, 3]
    assert memo.cached("tag", str(src), (str(src),), build) == [1, 2, 3]
    assert len(calls) == 1


def test_literal_memo_invalidates_on_rewrite(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"one")
    vals = iter(["first", "second"])
    build = lambda: next(vals)  # noqa: E731
    assert memo.cached("rw", str(src), (str(src),), build) == "first"
    # rewrite IN PLACE with different size -> different (mtime, size) stamp
    src.write_bytes(b"rewritten-longer")
    assert memo.cached("rw", str(src), (str(src),), build) == "second"


def test_literal_memo_missing_source_never_caches(tmp_path):
    gone = tmp_path / "absent.parquet"
    calls = []

    def build():
        calls.append(1)
        return 42

    before = memo.stats()["entries"]
    assert memo.cached("x", str(gone), (str(gone),), build) == 42
    assert memo.cached("x", str(gone), (str(gone),), build) == 42
    assert len(calls) == 2  # no stat -> no stamp -> rebuilt each time
    assert memo.stats()["entries"] == before


def test_rewrites_leave_one_entry_per_key(spark, tmp_path):
    from tiflash_spark.catalog import read_parquet_memo

    src = tmp_path / "t.parquet"
    p = str(tmp_path / "s.parquet")
    before = memo.stats()
    for i in range(5):
        src.write_bytes(b"x" * (i + 1))
        assert memo.cached("n_rewrites", str(src), (str(src),), lambda: i) == i
        _rewrite(spark, p, [Row(**{f"c{j}": j for j in range(i + 1)})])
        assert len(read_parquet_memo(spark, p).schema.fields) == i + 1
    after = memo.stats()
    # one literal + one schema entry, each replaced 4 times
    assert after["entries"] == before["entries"] + 2
    assert after["evictions"] - before["evictions"] == 8


def test_eval_gram_count_reruns_after_in_place_rewrite(spark, tmp_path):
    """contaminated_ids memoizes its broadcast-sizing count; rewriting the
    eval corpus in place must re-run it, or an eval side that grew past
    the broadcast guard would still be broadcast."""
    from tiflash_spark.pipeline.curation import contaminated_ids

    p = str(tmp_path / "documents.parquet")

    def broadcasts() -> bool:
        d = spark.read.parquet(p)
        q = contaminated_ids(d, d, broadcast_limit=5)
        return "strategy=broadcast" in q._jdf.queryExecution().analyzed().toString()

    _rewrite(spark, p, [Row(doc_id=0, source="s", text="a b c d e")])
    assert broadcasts()  # 1 distinct 5-gram, under the limit
    words = " ".join(f"w{i}" for i in range(30))
    _rewrite(spark, p, [Row(doc_id=0, source="s", text=words)])
    assert not broadcasts()  # 26 distinct 5-grams, over the limit


def test_memos_hold_no_dataframes():
    """The memo carries plan artifacts (Columns, scalars, lists, schemas),
    never DataFrames/results keyed on testdata rows."""
    from pyspark.sql import DataFrame

    for _stamp, v in list(memo._MEMO.values()):
        assert not isinstance(v, DataFrame)


# --- parquet schemas (catalog.read_parquet_memo) ------------------------------


def test_memo_matches_inferred_schema(spark):
    from tiflash_spark import catalog

    for name in ("lineitem", "documents", "embeddings"):
        path = f"{SF_SMALL}/{name}.parquet"
        cold = spark.read.parquet(path).schema
        schema = catalog.read_parquet_memo(spark, path).schema
        again = catalog.read_parquet_memo(spark, path).schema
        assert schema == cold
        assert again == cold


def test_memo_invalidates_on_rewrite(spark, tmp_path):
    from tiflash_spark import catalog

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=1)]).write.mode("overwrite").parquet(p)
    assert catalog.read_parquet_memo(spark, p).schema.fieldNames() == ["a"]
    # rewrite with a different schema: the (mtime_ns, size) stamp must miss
    spark.createDataFrame([Row(a=1, b="x")]).write.mode("overwrite").parquet(p)
    spark.catalog.refreshByPath(p)
    assert set(catalog.read_parquet_memo(spark, p).schema.fieldNames()) == {"a", "b"}


def test_load_table_rows_identical_with_memo(spark):
    from tiflash_spark import catalog

    # events exercises the nanos-normalization branch on top of the memo
    for name in ("events", "lineitem"):
        df1 = catalog.load_table(spark, SF_SMALL, name)  # may warm the memo
        df2 = catalog.load_table(spark, SF_SMALL, name)  # memo hit
        assert df1.schema == df2.schema
        assert df1.orderBy(df1.columns[0]).head(3) == df2.orderBy(df2.columns[0]).head(3)
