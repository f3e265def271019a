"""MVCC semantics tests — ports of the reference's DeltaMerge invariants
(dbms/src/Storages/DeltaMerge/tests/: write/read/delete/compact under
version filtering, DMTestEnv-style fixed fixtures)."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from tiflash_spark.operators.mvcc import DELMARK, HANDLE, VERSION, compact as log_compact
from tiflash_spark.operators.mvcc import fast_scan, snapshot_read
from tiflash_spark.sources.delta_store import DeltaStore


def _log(spark, rows):
    return spark.createDataFrame(
        [Row(**{HANDLE: h, VERSION: v, DELMARK: d, "a": a}) for h, v, d, a in rows]
    )


@pytest.fixture(scope="module")
def log(spark):
    # handle 1: insert v1, update v3, update v5
    # handle 2: insert v2, delete v4
    # handle 3: insert v6 (after every snapshot ts we test)
    # handle 4: delete-then-reinsert (v1 del marker arrives out of order at v7)
    return _log(
        spark,
        [
            (1, 1, 0, 10),
            (1, 3, 0, 30),
            (1, 5, 0, 50),
            (2, 2, 0, 20),
            (2, 4, 1, None),
            (3, 6, 0, 60),
            (4, 7, 1, None),
            (4, 8, 0, 80),
        ],
    )


def snap(log_df, ts):
    return {r[HANDLE]: r["a"] for r in snapshot_read(log_df, ts).collect()}


def test_snapshot_sees_newest_leq_ts(log):
    assert snap(log, 1) == {1: 10}
    assert snap(log, 2) == {1: 10, 2: 20}
    assert snap(log, 3) == {1: 30, 2: 20}


def test_snapshot_hides_deleted(log):
    assert snap(log, 4) == {1: 30}  # handle 2 deleted at v4
    assert snap(log, 5) == {1: 50}


def test_snapshot_future_rows_invisible(log):
    assert 3 not in snap(log, 5)
    assert snap(log, 6) == {1: 50, 3: 60}


def test_delete_then_reinsert(log):
    assert 4 not in snap(log, 7)
    assert snap(log, 8)[4] == 80


def test_snapshot_none_reads_latest(log):
    assert snap(log, None) == {1: 50, 3: 60, 4: 80}


def test_fast_scan_skips_dedup(log):
    # fast mode: all non-delete versions visible (ReadMode.h Fast semantics)
    rows = fast_scan(log).collect()
    assert len(rows) == 6  # 8 rows - 2 delmarks


def test_compact_keeps_tombstone_and_newer(spark, log):
    out = log_compact(log, compact_ts=4)
    by_handle = {}
    for r in out.collect():
        by_handle.setdefault(r[HANDLE], []).append((r[VERSION], r[DELMARK]))
    # handle 2: only the tombstone survives <= 4
    assert by_handle[2] == [(4, 1)]
    # handle 1: newest <= 4 is v3, plus v5 preserved as "newer"
    assert sorted(by_handle[1]) == [(3, 0), (5, 0)]
    # snapshot semantics preserved post-compaction for ts >= compact_ts
    assert snap(out, 5) == snap(log, 5)
    assert snap(out, 8) == snap(log, 8)


# --- DeltaStore (persistent layer) -----------------------------------------


def test_delta_store_roundtrip(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "t1"))
    df1 = spark.createDataFrame([Row(**{HANDLE: 1, "v": "a"}), Row(**{HANDLE: 2, "v": "b"})])
    store.write_batch(df1, version=1)
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 1, "v": "a2"})]), version=2
    )
    store.write_batch(
        spark.createDataFrame([(2, None)], schema=f"{HANDLE} long, v string"),
        version=3,
        delete=True,
    )

    assert {r[HANDLE]: r["v"] for r in store.read(1).collect()} == {1: "a", 2: "b"}
    assert {r[HANDLE]: r["v"] for r in store.read(2).collect()} == {1: "a2", 2: "b"}
    assert {r[HANDLE]: r["v"] for r in store.read().collect()} == {1: "a2"}


def test_delta_store_compaction_preserves_reads(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "t2"))
    for v in range(1, 6):
        store.write_batch(
            spark.createDataFrame([Row(**{HANDLE: v % 3, "v": f"x{v}"})]), version=v
        )
    before = {r[HANDLE]: r["v"] for r in store.read().collect()}
    kept = store.compact(ts=5)
    after = {r[HANDLE]: r["v"] for r in store.read().collect()}
    assert before == after
    assert kept == len(after)
    # new writes after compaction still win
    store.write_batch(spark.createDataFrame([Row(**{HANDLE: 0, "v": "new"})]), version=9)
    assert {r[HANDLE]: r["v"] for r in store.read().collect()}[0] == "new"


def test_segmented_compaction_and_point_reads(spark, tmp_path):
    """Segment-partitioned stable layer: compaction into _seg dirs, reads
    (full and point) unchanged, delta written after compaction still wins."""
    store = DeltaStore(spark, str(tmp_path / "t3"))
    for v in range(1, 9):
        store.write_batch(
            spark.createDataFrame([(v % 5, f"x{v}")], schema=f"{HANDLE} long, v string"),
            version=v,
        )
    before = {r[HANDLE]: r["v"] for r in store.read().collect()}
    kept = store.compact(ts=8, num_segments=4)
    assert kept == len(before)
    # segment dirs exist
    import os as _os

    segs = [d for d in _os.listdir(store.stable_path()) if d.startswith("_seg=")]
    assert len(segs) >= 2
    after = {r[HANDLE]: r["v"] for r in store.read().collect()}
    assert after == before
    # point read prunes but returns the same rows
    pr = {r[HANDLE]: r["v"] for r in store.read_handles([0, 2]).collect()}
    assert pr == {0: before[0], 2: before[2]}
    # post-compaction delta still overrides stable
    store.write_batch(
        spark.createDataFrame([(2, "new")], schema=f"{HANDLE} long, v string"), version=99
    )
    assert {r[HANDLE]: r["v"] for r in store.read_handles([2]).collect()} == {2: "new"}


def test_range_segments_manifest_pruning_and_incremental_compact(spark, tmp_path):
    """PK-range segments (the reference's actual Segment model): manifest
    prunes range reads to overlapping segments; incremental compaction
    rewrites ONLY segments with delta rows and leaves cold segment files
    untouched on disk."""
    import os

    from pyspark.sql import Row, functions as F

    from tiflash_spark.sources.delta_store import DeltaStore

    store = DeltaStore(spark, str(tmp_path / "rstore"))
    base = spark.createDataFrame(
        [Row(**{"_tidb_rowid": h, "v": h * 10}) for h in range(0, 400)]
    )
    store.write_batch(base, version=1)
    n = store.compact_range_segments(ts=1, num_segments=4)
    assert n == 400

    # range read returns exact rows and prunes at plan level
    out = store.read_range(150, 160, ts=None)
    assert sorted(r.v for r in out.collect()) == [h * 10 for h in range(150, 160)]

    # hot write into segment 1 only (handles 100..199), plus one delete
    store.write_batch(
        spark.createDataFrame([Row(**{"_tidb_rowid": 150, "v": 9999})]), version=2
    )
    store.write_batch(
        spark.createDataFrame([Row(**{"_tidb_rowid": 151, "v": 0})]), version=3,
        delete=True,
    )
    seg_dir = lambda s: os.path.join(store.stable_path(), f"_seg={s}")  # noqa: E731
    cold_mtime = {
        s: sorted(os.listdir(seg_dir(s))) for s in (0, 2, 3)
    }
    rewritten, total = store.compact_segments_incremental(ts=3)
    assert (rewritten, total) == (1, 4)
    # cold segments: identical file listing (not rewritten)
    for s in (0, 2, 3):
        assert sorted(os.listdir(seg_dir(s))) == cold_mtime[s]
    # merged values visible, delete applied
    out = {r["_tidb_rowid"]: r.v for r in store.read_range(140, 160).collect()}
    assert out[150] == 9999
    assert 151 not in out
    assert out[149] == 1490

    # delta rows beyond the old handle range widen the pruning bounds
    store.write_batch(
        spark.createDataFrame([Row(**{"_tidb_rowid": 999, "v": 42})]), version=4
    )
    rewritten, _ = store.compact_segments_incremental(ts=4)
    assert rewritten == 1  # clamped into the top segment
    assert [r.v for r in store.read_range(990, 1000).collect()] == [42]


def test_hash_compact_after_range_compact_clears_manifest(spark, tmp_path):
    """Regression: compact() after compact_range_segments() must retire the
    range _MANIFEST — otherwise read_range prunes hash-assigned _seg ids
    with range bounds and silently drops rows."""
    import os

    from pyspark.sql import Row

    from tiflash_spark.sources.delta_store import DeltaStore

    store = DeltaStore(spark, str(tmp_path / "mstore"))
    rows = [Row(**{"_tidb_rowid": h, "v": h * 10}) for h in range(0, 200)]
    store.write_batch(spark.createDataFrame(rows), version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    assert os.path.exists(os.path.join(store.stable_path(), "_MANIFEST"))

    # now hash-compact: _seg ids become hash buckets, range bounds invalid
    store.write_batch(
        spark.createDataFrame([Row(**{"_tidb_rowid": 500, "v": 5000})]), version=2
    )
    n = store.compact(ts=2, num_segments=4)
    assert n == 201
    assert not os.path.exists(os.path.join(store.stable_path(), "_MANIFEST"))
    out = {r["_tidb_rowid"]: r.v for r in store.read_range(100, 140).collect()}
    assert out == {h: h * 10 for h in range(100, 140)}
    # flat compact also clears a stale manifest
    store.compact_range_segments(ts=2, num_segments=4)
    store.compact(ts=2)
    assert not os.path.exists(os.path.join(store.stable_path(), "_MANIFEST"))


def test_bitmap_scan_matches_snapshot_read(spark, log):
    """Bitmap mode (agg + semi-join, ReadMode.h:39) must return exactly the
    Normal-mode visible set at every snapshot ts, including delete-wins
    version ties and tombstoned handles."""
    from tiflash_spark.operators.mvcc import bitmap_scan

    for ts in (1, 2, 3, 4, 5, 6, 7, 8, None):
        normal = sorted(
            tuple(r) for r in snapshot_read(log, ts).collect()
        )
        bitmap = sorted(tuple(r) for r in bitmap_scan(log, ts).collect())
        assert bitmap == normal, f"ts={ts}"


def test_bitmap_scan_delete_wins_on_version_tie(spark):
    """A same-version upsert/delete pair resolves to deleted in both modes."""
    from tiflash_spark.operators.mvcc import bitmap_scan

    tied = _log(spark, [(1, 2, 0, 10), (1, 2, 1, None), (2, 1, 0, 20)])
    vis_n = {r[HANDLE] for r in snapshot_read(tied, 5).collect()}
    vis_b = {r[HANDLE] for r in bitmap_scan(tied, 5).collect()}
    assert vis_n == vis_b == {2}


def test_bitmap_scan_plan_uses_partial_agg_not_window(spark, log):
    """The scale rationale: bitmap mode's winner pick is an aggregate with a
    map-side partial stage (two aggregate nodes around the exchange), and
    the plan has no Window operator."""
    from tiflash_spark.operators.mvcc import bitmap_scan
    from tiflash_spark.plans.explain import count_operator

    df = bitmap_scan(log, 8)
    assert count_operator(df, "Window") == 0
    n_aggs = count_operator(df, "SortAggregate") + count_operator(df, "HashAggregate")
    assert n_aggs >= 2  # partial + final


def test_bitmap_scan_fully_duplicated_rows_multiplicity(spark):
    """A log with FULLY-duplicated rows (same handle/version/delmark/payload
    — impossible under commit-ts uniqueness, possible in synthetic logs):
    the plain semi-join keeps every copy; dedup_exact=True restores the
    window form's exactly-one-row-per-winner multiplicity."""
    from tiflash_spark.operators.mvcc import bitmap_scan

    dup = _log(
        spark,
        [
            (1, 2, 0, 10),
            (1, 2, 0, 10),  # exact duplicate of the winner
            (1, 1, 0, 5),
            (2, 1, 0, 20),
        ],
    )
    normal = sorted(tuple(r) for r in snapshot_read(dup, 5).collect())
    plain = sorted(tuple(r) for r in bitmap_scan(dup, 5).collect())
    deduped = sorted(
        tuple(r) for r in bitmap_scan(dup, 5, dedup_exact=True).collect()
    )
    assert len(normal) == 2          # one row per handle
    assert len(plain) == 3           # documented divergence: both copies
    assert deduped == normal         # contract: dedup_exact ≡ window form


def test_store_type_roundtrip_matrix(spark, tmp_path):
    """Compact port of fullstack-test2/dml/test_table_scan.test's shape:
    every representative column type (with NULLs) survives the write →
    compact → MVCC-read cycle bit-exact, on both integer-handle and
    clustered (common-handle) layouts."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import functions as F2

    from tiflash_spark.sources.common_handle import encode_common_handle
    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    schema = (
        f"{HANDLE} long, c_ti tinyint, c_si smallint, c_i int, c_bi bigint,"
        " c_f float, c_d double, c_dec decimal(20,4), c_s string,"
        " c_dt date, c_ts timestamp, c_bin binary, c_b boolean,"
        " c_arr array<double>"
    )
    rows = [
        (1, 127, 32767, 2**31 - 1, 2**62, 1.5, 2.25,
         Decimal("1234.5678"), "text", dt.date(2024, 2, 29),
         dt.datetime(2024, 1, 1, 12, 30, 45, 123456), b"\x00\xff", True,
         [1.0, -2.0]),
        (2, -128, -32768, -(2**31), -(2**62), -0.5, -1e300,
         Decimal("-0.0001"), "", dt.date(1970, 1, 1),
         dt.datetime(1970, 1, 1, 0, 0, 1), b"", False, []),
        (3, None, None, None, None, None, None, None, None, None, None,
         None, None, None),
    ]
    s = DeltaStore(spark, str(tmp_path / "typesint"))
    s.write_batch(spark.createDataFrame(rows, schema), version=1)
    s.compact(ts=1, num_segments=2)
    want = {r[0]: r[1:] for r in rows}
    got = {
        r[HANDLE]: tuple(r)[1:]
        for r in s.read().orderBy(HANDLE).collect()
    }
    assert set(got) == set(want)
    for h in want:
        for i, (g, w) in enumerate(zip(got[h], want[h])):
            if isinstance(w, bytes):
                g = bytes(g) if g is not None else None
            assert g == w, (h, i, g, w)

    # clustered layout: same payload keyed by an encoded composite PK
    s2 = DeltaStore(spark, str(tmp_path / "typesch"))
    df = spark.createDataFrame(rows, schema).select(
        encode_common_handle(
            (F2.col("c_s"), "string"), (F2.col(HANDLE), "long")
        ).alias(HANDLE),
        *[c for c in spark.createDataFrame(rows, schema).columns if c != HANDLE],
    )
    s2.write_batch(df, version=1)
    s2.compact_range_segments(ts=1, num_segments=2)
    assert s2.read().count() == 3
    back = {r.c_i for r in s2.read().collect()}
    assert back == {2**31 - 1, -(2**31), None}


def test_handle_only_delete_keeps_upsert_columns(spark, tmp_path):
    """A manifest-less store's delta holds a full upsert file next to a
    handle-only tombstone file: the read must merge both footers, never
    take its columns from whichever file is listed first."""
    for i in range(8):
        store = DeltaStore(spark, str(tmp_path / f"hdel{i}"))
        store.write_batch(
            spark.createDataFrame([(h, h * 10) for h in range(6)], f"{HANDLE} long, x long"),
            version=1,
        )
        store.write_batch(
            spark.createDataFrame([(2,)], f"{HANDLE} long"), version=2, delete=True
        )
        got = {r[HANDLE]: r["x"] for r in store.read().collect()}
        assert got == {h: h * 10 for h in range(6) if h != 2}, i


def test_unreadable_nonempty_layer_raises(spark, tmp_path):
    """Only a layer with no data file reads as empty; a stable layer whose
    files cannot be read is an error, not a silently empty table."""
    import os

    store = DeltaStore(spark, str(tmp_path / "bad"))
    assert store._layer("stable") is None and store._layer("delta") is None
    store.write_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], f"{HANDLE} long, v string"), version=1
    )
    store.compact(1)
    assert store._layer("delta") is None
    for root, _dirs, files in os.walk(store.stable_path()):
        for f in files:
            if not f.startswith(("_", ".")):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        store.read().collect()


@pytest.mark.parametrize("htype", ["long", "string"])
def test_point_read_prunes_segments_at_plan_time(spark, tmp_path, htype):
    """read_handles folds the write-time segment hash of each literal
    handle: the plan carries the segment ids as PartitionFilters literals
    (no hash left to evaluate, no job to compute them)."""
    import re

    keys = [f"k{h:03d}" if htype == "string" else h for h in range(60)]
    store = DeltaStore(spark, str(tmp_path / f"pt_{htype}"))
    store.write_batch(
        spark.createDataFrame([(k, i) for i, k in enumerate(keys)], f"{HANDLE} {htype}, v long"),
        version=1,
    )
    store.compact(1, num_segments=8)
    store.write_batch(
        spark.createDataFrame([(keys[7], -1)], f"{HANDLE} {htype}, v long"), version=2
    )
    want_keys = [keys[3], keys[7], keys[41], keys[58]]
    want_segs = {
        r.s
        for r in spark.createDataFrame([(k,) for k in want_keys], f"{HANDLE} {htype}")
        .select(F.pmod(F.xxhash64(F.col(HANDLE)), F.lit(8)).alias("s"))
        .collect()
    }
    df = store.read_handles(want_keys)
    plan = df._jdf.queryExecution().executedPlan().toString()
    stable_scan = [ln for ln in plan.splitlines() if "_seg#" in ln and "FileScan" in ln]
    assert len(stable_scan) == 1
    pf = stable_scan[0].split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "xxhash64" not in pf
    in_list = re.search(r"_seg#\d+ IN \(([\d,]+)\)", pf)
    assert in_list and {int(x) for x in in_list.group(1).split(",")} == want_segs
    full = store.read()
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, full.filter(F.col(HANDLE).isin(*want_keys)).collect())
    )
    assert {r[HANDLE]: r.v for r in df.collect()}[keys[7]] == -1


def test_footer_rows_match_spark_counts(spark, tmp_path):
    """delta_rows and the compaction/ingest counts come from parquet
    footers; they equal Spark's counts, tombstones included."""
    from tiflash_spark.sources.delta_store import _footer_rows

    store = DeltaStore(spark, str(tmp_path / "foot"))
    store.write_batch(
        spark.createDataFrame([(h, h) for h in range(30)], f"{HANDLE} long, v long"),
        version=1,
    )
    store.write_batch(
        spark.createDataFrame([(h, h) for h in range(5)], f"{HANDLE} long, v long"),
        version=2,
        delete=True,
    )
    assert store.delta_rows() == 35 == spark.read.parquet(store.delta_path()).count()
    kept = store.compact(2, num_segments=4)
    assert kept == 25 == spark.read.parquet(store.stable_path()).count()
    assert store.delta_rows() == 0
    store.write_batch(
        spark.createDataFrame([(7, 7)], f"{HANDLE} long, v long"), version=3, delete=True
    )
    assert store.delta_rows() == 1
    n = store.ingest_snapshot(
        spark.createDataFrame([(h, h) for h in range(100, 140)], f"{HANDLE} long, v long"),
        version=4,
    )
    assert n == 40
    stable = spark.read.parquet(store.stable_path())
    assert _footer_rows(store.stable_path()) == stable.count() == 65
    assert store.compact_range_segments(4, 3) == store.read().count() == 64
