"""The benchmark's three workloads, each a single-client closed loop.

``olap_relational`` and ``pipeline_ops`` run registry queries in passes:
one cold pass in the fresh process, then as many warm passes as fill the
run's seconds at the workload's nominal pace. ``htap_ingest`` replays a
replication stream into a DeltaStore and reads it back through the MySQL
SQL surface. Every result is checked:
queries against their DuckDB oracle, the HTAP reads against an in-Python
model of the applied batches.

With tracing on, the calls into each engine layer are wrapped in spans
from here, and Spark's status store supplies exact job, stage and task
counts; the engine itself is unchanged.
"""

from __future__ import annotations

import dataclasses
import math
import os
import random
import re
import statistics
import subprocess
import sys
import time

import numpy as np
import pandas as pd

import datagen
from spans import SparkCounters, Tracer, catalyst_phases_ms, files_read

now = time.perf_counter

# rows-only queries (no DuckDB oracle): ANN top-k returns exactly k rows;
# MinHash pairs are checked against exact word-bigram Jaccard
TOPK_ROWS = {"ann_pq_topk": 10}

# End-to-end metrics: every workload reports each of them (untraced run).
# latency_s is what the client waits for; the CPU seconds also show work
# that a busy machine would hide in the wall-clock times.
E2E_UNITS = {
    "setup_s": "s",
    "latency_s": "s",
    "cold_cpu_s": "s",
    "cpu_s_per_op": "s",
}
# End-to-end metrics given at the reference machine's speed (see
# host_probe): on a shared host, other tenants slow these by a third and
# more over minutes. Set-up time did not follow the probe; it stays as
# measured.
HOST_SCALED = ("latency_s", "cold_cpu_s", "cpu_s_per_op")
# What the single client sees in wall-clock time; reported with the layers
# (traced run), from its untraced warm units.
CLIENT_UNITS = {
    "client.cold_s": "s",
    "client.latency_p50_s": "s",
    "client.latency_p90_s": "s",
    "client.ops_per_s": "1/s",
}
# Per-layer metrics (traced run). A layer a workload does not use reports 0.
LAYER_UNITS = {
    **CLIENT_UNITS,
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "functions.first_statement_s": "s",
    "build.s": "s",
    "build.cold_s": "s",
    "plan.s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.files_read": "count",
    "exec.rows_scanned_per_row_returned": "ratio",
    "collect.s": "s",
    "collect.rows": "count",
    "cache.warehouse_bytes": "bytes",
    "cache.persisted_rdds": "count",
    "sql.run_sql_s": "s",
    "sql.exec_s": "s",
    "store.write_batch_s": "s",
    "store.write_jobs": "count",
    "store.write_rows_per_s": "1/s",
    "store.fresh_read_s": "s",
    "store.as_view_s": "s",
    "store.delta_rows": "count",
    "store.maintain_s": "s",
    "store.compactions": "count",
    "store.maintain_jobs": "count",
    "store.point_s": "s",
    "store.point_files_read": "count",
    "store.bytes": "bytes",
    "store.files": "count",
    "store.bytes_written_per_user_byte": "ratio",
    "store.space_amp": "ratio",
    "bench.overhead_s": "s",
    "trace.overhead_share": "ratio",
}

# Seven of the bench.HEADLINE queries: a scan with aggregation, multi-way
# joins, a semi-join on an aggregate, windows over lineitem and events, and
# the MVCC window dedup. The other thirteen repeat these plan shapes, and
# with them a run would outlast the benchmark's budget of about 40 s a run.
OLAP_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q18_large_orders",
    "window_ranking",
    "events_sessionize",
    "mvcc_snapshot",
)

# Pipeline queries whose cost sits in the Python build layer and in
# warehouse sidecars and persisted frames: the MinHash band index (and its
# persisted shingles), the PQ codebooks, and the largest build of all,
# hybrid_search_rrf, which also builds the BM25 postings. All 38 pipeline
# queries take ~33 s cold on a quiet 4-core machine and about twice that
# on a busy one, beyond a run's budget.
PIPELINE_QUERIES = (
    "dedup_minhash",
    "ann_pq_topk",
    "hybrid_search_rrf",
)


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "queries" or "htap"
    sf: float
    # seconds of --seconds that one warm pass (queries) or round (htap)
    # stands for: about its time on the 4-core reference machine under load
    unit_s: float
    queries: tuple[str, ...] = ()
    # htap: the replication batch and the point lookup
    upserts: int = 2000
    deletes: int = 200
    point_keys: int = 20


def workloads() -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            Workload("olap_relational", "queries", 0.05, 4.0, OLAP_QUERIES),
            Workload("pipeline_ops", "queries", 0.01, 4.0, PIPELINE_QUERIES),
            Workload("htap_ingest", "htap", 0.1, 8.0),
        )
    }


# --- process-level helpers ------------------------------------------------

# The host probe: 4M random reads from a 64 MiB array into a fresh 32 MiB
# one, fixed by seed. The machine shares its last-level cache and memory
# with other tenants, and the probe slows with them much as Spark's hash
# tables and shuffles do.
PROBE_ARRAY = np.random.default_rng(0).integers(0, 1 << 40, 1 << 23)
PROBE_IDX = np.random.default_rng(1).integers(0, 1 << 23, 1 << 22)
# the probe's CPU seconds on the 4-core reference machine under moderate
# load; it sets the level the scaled metrics read at, not their spread
PROBE_REF_S = 0.075


def host_probe() -> float:
    """CPU seconds of one host probe."""
    t = time.thread_time()
    PROBE_ARRAY[PROBE_IDX].sum()
    return time.thread_time() - t


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    from pyspark import SparkContext

    total = _vm_hwm_mb("self")
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        total += _vm_hwm_mb(gw.proc.pid)
    return total


def _tree_cpu_s(root: int) -> float:
    """CPU seconds of process ``root`` and its live descendants, plus what
    their exited children used."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process exited while we listed
                continue
            # fields after the command: ppid is 2nd, utime..cstime 12th-15th
            stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this driver and its descendants: the JVM
    and the Python workers the JVM started."""
    return _tree_cpu_s(os.getpid())


def stop_jvm(spark) -> None:
    """Stop ``spark`` and the JVM, and wait until the JVM has exited. Runs
    on every exit path, also after a signal broke a py4j call, so each
    step runs even when the one before it failed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    except Exception as e:  # a broken gateway: the JVM is stopped below
        print(f"perfbench: spark.stop() failed: {e!r}", file=sys.stderr)
    try:
        if gw is not None:
            gw.shutdown()
    except Exception as e:
        print(f"perfbench: gateway shutdown failed: {e!r}", file=sys.stderr)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def file_sizes(path: str) -> dict[tuple[int, int], int]:
    """Size of every file under ``path`` by inode, so that hardlinked
    files count once."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


class _Result:
    """A collected result in the shape testing.compare() reads."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class Run:
    """State of one benchmark run: session, tracer, counters, failures."""

    def __init__(self, workload: Workload, seed: int, seconds: float,
                 trace: bool, dirs: dict[str, str]):
        self.w, self.seed, self.seconds = workload, seed, seconds
        self.dirs = dirs
        self.tracer = Tracer(trace)
        self.traced = trace
        self.spark = None
        self.counters: SparkCounters | None = None
        self.attempted = 0
        self.failures: list[str] = []
        # CPU seconds of the timed calls, counted during untraced warm work
        self.cpu, self.count_cpu = 0.0, False
        self.rng = random.Random(seed)
        self.probes: list[float] = []

    def probe(self) -> None:
        """Two host probes, between timed calls."""
        self.probes += [host_probe() for _ in range(2)]

    def host_scaled(self, metrics: dict[str, float]) -> dict[str, float]:
        """The end-to-end metrics at the reference machine's speed:
        the HOST_SCALED ones times PROBE_REF_S over this run's median
        probe. The measured values go into the record."""
        probe_s = statistics.median(self.probes)
        scale = PROBE_REF_S / probe_s
        self.record.update({"probe_s": probe_s, "host_scale": scale,
                            "measured": {k: metrics[k] for k in HOST_SCALED}})
        return {**metrics, **{k: metrics[k] * scale for k in HOST_SCALED}}

    def warm_units(self) -> range:
        """Warm pass (or HTAP round) numbers: one per ``unit_s`` of
        --seconds. The count depends on --seconds alone, not on how busy
        the machine is, so every run measures the same work. A traced run
        runs as many untraced as traced units, in the order U T T U U T ...,
        so warm-up drift cancels out of the tracing overhead."""
        n = max(1, round(self.seconds / self.w.unit_s))
        return range(2 * n if self.traced else n)

    def fail(self, what: str) -> None:
        self.failures.append(what[:500])

    def check(self, what: str, fn) -> None:
        """Run one correctness check outside the timed path."""
        try:
            fn()
        except Exception as e:  # a wrong result or a failed query
            self.fail(f"{what}: {type(e).__name__}: {e}")

    def setup(self, workload_setup) -> float:
        """Start the session with get_spark() and run the workload's own
        set-up on it; returns the seconds both took. This is the first
        session of a fresh process, the set-up every user pays: a second
        set-up in the same process reuses the warm JVM and would hide
        most of the cost."""
        from tiflash_spark.session import get_spark

        t0 = now()
        with self.tracer.span("session"):
            self.spark = get_spark(f"perfbench-{self.w.name}")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.first_session_s = now() - t0
        workload_setup()
        if self.traced:
            self.counters = SparkCounters(self.spark)
        return now() - t0


# --- query workloads -------------------------------------------------------


def near_dup_pairs(docs: pd.DataFrame) -> dict[tuple[int, int], float]:
    """Exact word-bigram Jaccard of every pair at or above 0.5: the ground
    truth of the MinHash-LSH query (dedup_minhash)."""
    shingles = []
    for t in docs["text"]:
        ws = re.split(" +", t.strip())
        shingles.append({f"{a} {b}" for a, b in zip(ws, ws[1:])})
    ids = docs["doc_id"].tolist()
    out = {}
    for i in range(len(ids)):
        si = shingles[i]
        for j in range(i + 1, len(ids)):
            sj = shingles[j]
            inter = len(si & sj)
            jac = round(inter / (len(si) + len(sj) - inter), 6) if inter else 0.0
            if jac >= 0.5:
                out[(min(ids[i], ids[j]), max(ids[i], ids[j]))] = jac
    return out


# an oracle column rounded to cents: ``ROUND(<expr>, 2) AS <column>``
CENT_COLUMN = re.compile(r",\s*2\)\s+AS\s+(\w+)", re.IGNORECASE)


def cent_ties(got: pd.DataFrame, want: pd.DataFrame, exact: pd.DataFrame,
              cents: list[str]) -> bool:
    """True when ``got`` differs from the oracle's ``want`` only at exact
    half-cent ties. Each differing cell must be in a column the oracle
    rounds to cents (``cents``), both values must be whole cents one cent
    apart, and the oracle's value rounded to six decimals instead
    (``exact``) must lie halfway between them. At such a tie Spark rounds
    up, as MySQL's decimal arithmetic does, while DuckDB's double rounding
    may go down. Rows are matched on their other columns."""
    from tiflash_spark.testing import normalize_rows

    if not cents or sorted(got.columns) != sorted(want.columns) \
            or not len(got) == len(want) == len(exact):
        return False
    keys = sorted(c for c in want.columns if c not in cents)

    def by_key(df: pd.DataFrame) -> dict:
        rows = {normalize_rows(df[keys].iloc[i:i + 1])[0]: df.iloc[i]
                for i in range(len(df))}
        return rows if len(rows) == len(df) else {}

    g_rows, w_rows, e_rows = by_key(got), by_key(want), by_key(exact)
    if not g_rows or g_rows.keys() != w_rows.keys() or w_rows.keys() != e_rows.keys():
        return False

    def whole_cents(v: float) -> bool:
        return abs(v * 100 - round(v * 100)) < 1e-6

    for k, g_row in g_rows.items():
        for c in cents:
            g, w, e = (float(r[c]) for r in (g_row, w_rows[k], e_rows[k]))
            if round(g, 9) == round(w, 9):
                continue
            tie = e * 100 - math.floor(e * 100)
            if not (whole_cents(g) and whole_cents(w)
                    and abs(abs(g - w) * 100 - 1) < 1e-6
                    and abs(tie - 0.5) < 1e-4 and min(g, w) < e < max(g, w)):
                return False
    return True


class QueryWorkload(Run):
    """Registry queries in passes: one cold pass, then warm passes."""

    def prepare(self) -> None:
        from tiflash_spark.registry import all_oracles, all_queries
        from tiflash_spark.testing import duckdb_connection

        self.per_query: dict[str, list[float]] = {}
        self.matched: dict[str, list[tuple]] = {}
        self.ties: list[str] = []
        self.sf_dir = datagen.write_tables(self.dirs["data"], self.w.sf, self.seed)
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.con = duckdb_connection(self.sf_dir)
        self.pairs = None
        if "dedup_minhash" in self.w.queries:
            self.pairs = near_dup_pairs(
                pd.read_parquet(os.path.join(self.sf_dir, "documents.parquet"))
            )

    def verify(self, name: str, pdf: pd.DataFrame) -> None:
        """Check a result against the DuckDB oracle; once a query has
        matched it, later results must equal that first matching one."""
        from tiflash_spark.testing import compare, normalize_rows

        if name in self.matched:
            if normalize_rows(pdf) != self.matched[name]:
                raise AssertionError(f"{name}: result differs from the oracle's")
        elif name in self.oracles:
            try:
                compare(_Result(pdf), self.con, self.oracles[name], name)
            except AssertionError:
                sql = self.oracles[name]
                cents = CENT_COLUMN.findall(sql)
                if not cents:
                    raise
                want = self.con.execute(sql).fetchdf()
                exact = self.con.execute(
                    CENT_COLUMN.sub(lambda m: f", 6) AS {m.group(1)}", sql)
                ).fetchdf()
                if not cent_ties(pdf, want, exact, cents):
                    raise
                self.ties.append(name)
            self.matched[name] = normalize_rows(pdf)
        elif name == "dedup_minhash":
            # LSH is approximate: every pair it returns must be a true pair
            # with its exact Jaccard, and it must find most strong pairs
            # (4 bands of 4 rows miss a J = 0.8 pair with P = 0.11), the
            # same bar as tests/test_dedup.py
            got = dict(zip(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()),
                           pdf["jaccard"].tolist()))
            wrong = [p for p, j in got.items() if abs(self.pairs.get(p, -1.0) - j) > 1e-6]
            strong = [p for p, j in self.pairs.items() if j >= 0.8]
            found = sum(p in got for p in strong)
            if wrong or found < 0.7 * len(strong):
                raise AssertionError(
                    f"{name}: {len(wrong)} wrong pairs, {found} of {len(strong)} strong pairs"
                )
        elif len(pdf) != TOPK_ROWS[name]:
            raise AssertionError(f"{name}: {len(pdf)} rows, expected {TOPK_ROWS[name]}")

    def execute(self, name: str, tag: str, stats: list | None) -> float | None:
        """One timed execution (build, plan, exec, collect), then its check.
        Returns the execution's seconds, or None when it raised."""
        tr, c = self.tracer, self.counters
        self.attempted += 1
        try:
            cpu0 = cpu_s() if self.count_cpu else 0.0
            with tr.trace(f"{name}#{tag}"):
                t0 = now()
                mark = c.mark() if tr.enabled else None
                with tr.span("build"):
                    df = self.queries[name](self.spark, self.sf_dir)
                if tr.enabled:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    exec_mark = c.mark()
                    t_exec, wall_exec = now(), time.time()
                pdf = df.toPandas()
                elapsed = now() - t0
                if self.count_cpu:
                    self.cpu += cpu_s() - cpu0
                if tr.enabled:
                    self._trace_exec(df, pdf, mark, exec_mark, t_exec, wall_exec, stats)
        except Exception as e:  # a failed query counts, the loop goes on
            self.fail(f"{name}: {type(e).__name__}: {e}")
            return None
        self.check(name, lambda: self.verify(name, pdf))
        return elapsed

    def _trace_exec(self, df, pdf, mark, exec_mark, t_exec, wall_exec, stats):
        """Split toPandas() into exec (until the last Spark job ends) and
        collect (moving the rows to the driver), and read the counters."""
        t_end = now()
        run = self.counters.since(exec_mark)
        exec_s = min(max(run["last_job_end_ms"] / 1000.0 - wall_exec, 0.0), t_end - t_exec)
        self.tracer.add("exec", t_exec, t_exec + exec_s)
        self.tracer.add("collect", t_exec + exec_s, t_end)
        if stats is None:
            return
        allj = self.counters.since(mark)
        phases = catalyst_phases_ms(df)
        stats.append({
            "jobs": allj["jobs"], "stages": allj["stages"], "tasks": allj["tasks"],
            "shuffle_bytes": allj["shuffle_bytes"], "spill_bytes": allj["spill_bytes"],
            "input_records": allj["input_records"], "rows": len(pdf),
            "files_read": files_read(df), "exec_s": exec_s,
            "collect_s": t_end - t_exec - exec_s,
            **{f"{k}_ms": v for k, v in phases.items()},
        })

    def run_pass(self, tag: str, stats: list | None) -> dict[str, float]:
        """One pass over the queries in seeded order: seconds per query
        that returned."""
        order = list(self.w.queries)
        self.rng.shuffle(order)
        times = {}
        for name in order:
            dt = self.execute(name, tag, stats)
            if dt is not None:
                times[name] = dt
                self.per_query.setdefault(name, []).append(round(dt, 4))
        return times

    def run(self) -> tuple[dict, dict]:
        t_run = now()
        self.prepare()
        t_setup = now()
        setup_s = self.setup(lambda: None)
        t_cold = now()
        tr = self.tracer
        n_spans = len(tr.spans)
        self.count_cpu = True
        cold = self.run_pass("cold", None)
        self.probe()
        cold_cpu, self.cpu = self.cpu, 0.0
        build_cold = sum(
            t1 - t0 for n, t0, t1, _, _ in tr.spans[n_spans:] if n == "build"
        )
        warm_wall: dict[bool, list[float]] = {True: [], False: []}
        warm: dict[str, list[float]] = {}  # untraced warm seconds per query
        stats: list[dict] = []
        t_start = now()
        self.phases = {"prepare": t_setup - t_run, "setup": t_cold - t_setup,
                       "cold": t_start - t_cold}
        passes = 0
        for passes in self.warm_units():
            traced = self.traced and passes % 4 in (1, 2)
            tr.enabled = traced
            self.count_cpu = not traced
            times = self.run_pass(f"warm{passes}", stats if traced else None)
            warm_wall[traced].append(sum(times.values()))
            self.probe()
            if not traced:
                for name, dt in times.items():
                    warm.setdefault(name, []).append(dt)
        tr.enabled, self.count_cpu = self.traced, False
        self.phases["warm"] = now() - t_start
        rdds = len(self.spark.sparkContext._jsc.getPersistentRDDs())
        wh_bytes = sum(file_sizes(self.dirs["warehouse"]).values())
        samples = [dt for v in warm.values() for dt in v]
        metrics = {
            "setup_s": setup_s,
            # each query's median over the warm passes, so that a pass
            # still warming up or slowed by the host counts once at most
            "latency_s": statistics.mean(
                [statistics.median(v) for v in warm.values()] or [0.0]
            ),
            "cold_cpu_s": cold_cpu,
            "cpu_s_per_op": self.cpu / max(len(samples), 1),
            **client_metrics(sum(cold.values()), samples),
        }
        self.record = {"warm_samples": len(samples), "warm_passes": passes + 1,
                       "cold_queries": len(cold), "per_query_s": self.per_query,
                       "oracle_cent_ties": self.ties,
                       "phase_s": self.phases}
        layers = {}
        if self.traced:
            layers = self._layers(stats, warm_wall, build_cold, wh_bytes, rdds)
            layers.update({k: metrics[k] for k in CLIENT_UNITS})
        return self.host_scaled(metrics), layers

    def _layers(self, stats, warm_wall, build_cold, wh_bytes, rdds) -> dict:
        tr = self.tracer
        n = max(len(stats), 1)
        self_t = tr.self_times(lambda tid: "#warm" in tid)

        def mean(key):
            return sum(s.get(key, 0.0) for s in stats) / n

        rows = sum(s["rows"] for s in stats)
        layers = dict.fromkeys(LAYER_UNITS, 0.0)
        layers.update({
            "session.start_s": self.first_session_s,
            "session.peak_rss_mb": peak_rss_mb(),
            "build.s": self_t.get("build", 0.0) / n,
            "build.cold_s": build_cold,
            "plan.s": self_t.get("plan", 0.0) / n,
            "plan.analysis_ms": mean("analysis_ms"),
            "plan.optimization_ms": mean("optimization_ms"),
            "plan.planning_ms": mean("planning_ms"),
            "exec.s": mean("exec_s"),
            "exec.jobs": mean("jobs"),
            "exec.stages": mean("stages"),
            "exec.tasks": mean("tasks"),
            "exec.shuffle_bytes": mean("shuffle_bytes"),
            "exec.spill_bytes": mean("spill_bytes"),
            "exec.files_read": mean("files_read"),
            "exec.rows_scanned_per_row_returned": (
                sum(s["input_records"] for s in stats) / max(rows, 1)
            ),
            "collect.s": mean("collect_s"),
            "collect.rows": rows / n,
            "cache.warehouse_bytes": wh_bytes,
            "cache.persisted_rdds": rdds,
            "bench.overhead_s": self_t.get("trace", 0.0) / n,
            "trace.overhead_share": overhead_share(warm_wall),
        })
        return layers


def client_metrics(cold_s: float, latencies: list[float]) -> dict[str, float]:
    """The client's wall-clock view: cold time, median and 90th percentile
    latency, and operations per second of busy time."""
    s = sorted(latencies) or [0.0]
    return {
        "client.cold_s": cold_s,
        "client.latency_p50_s": statistics.median(s),
        "client.latency_p90_s": s[max(0, math.ceil(0.9 * len(s)) - 1)],
        "client.ops_per_s": len(latencies) / max(sum(latencies), 1e-9),
    }


def overhead_share(wall: dict[bool, list[float]]) -> float:
    """Traced over untraced wall time of the same work, minus one."""
    if not wall[True] or not wall[False]:
        return 0.0
    return statistics.median(wall[True]) / statistics.median(wall[False]) - 1.0


# --- HTAP workload -----------------------------------------------------------

STATUS = "FOP"
SEGMENTS = 8  # hash segments of the store
CYCLES_PER_ROUND = 2  # maintain() compacts once per round


class OrdersModel:
    """The live ``orders`` rows, from the snapshot and every applied batch:
    what each checked read of the store must return."""

    def __init__(self, t):
        self.live = np.ones(t.num_rows, dtype=bool)
        self.cust = t.column("o_custkey").to_numpy().copy()
        self.status = np.searchsorted(
            np.array(list(STATUS)), t.column("o_orderstatus").to_numpy(zero_copy_only=False)
        )
        self.price = t.column("o_totalprice").to_numpy().copy()
        self.date = t.column("o_orderdate").to_numpy().astype("datetime64[us]").copy()
        self.prio = np.searchsorted(
            np.array(datagen.PRIORITIES),
            t.column("o_orderpriority").to_numpy(zero_copy_only=False),
        )

    @property
    def size(self) -> int:
        return len(self.live)

    def upsert(self, b: pd.DataFrame) -> None:
        from tiflash_spark.operators.mvcc import HANDLE

        keys = b[HANDLE].to_numpy()
        grow = int(keys.max()) + 1 - self.size
        if grow > 0:
            for f in ("live", "cust", "status", "price", "date", "prio"):
                arr = getattr(self, f)
                setattr(self, f, np.concatenate([arr, np.zeros(grow, dtype=arr.dtype)]))
        self.live[keys] = True
        self.cust[keys] = b["o_custkey"].to_numpy()
        self.status[keys] = np.searchsorted(np.array(list(STATUS)), b["o_orderstatus"].to_numpy())
        self.price[keys] = b["o_totalprice"].to_numpy()
        self.date[keys] = b["o_orderdate"].to_numpy().astype("datetime64[us]")
        self.prio[keys] = np.searchsorted(
            np.array(datagen.PRIORITIES), b["o_orderpriority"].to_numpy()
        )

    def delete(self, keys: np.ndarray) -> None:
        self.live[keys] = False

    def aggregate(self) -> dict[str, tuple[int, float, int, int]]:
        """Per status: (rows, sum of price, urgent rows, max key)."""
        out = {}
        keys = np.arange(self.size)
        for code, st in enumerate(STATUS):
            m = self.live & (self.status == code)
            if m.any():
                cents = int(np.round(self.price[m] * 100).astype(np.int64).sum())
                out[st] = (int(m.sum()), cents / 100,
                           int((self.prio[m] == 0).sum()), int(keys[m].max()))
        return out

    def row_bytes(self, keys: np.ndarray) -> int:
        """Plain size of these rows: four 8-byte columns, the 1-byte
        status and the priority string."""
        lengths = np.array([len(p) for p in datagen.PRIORITIES])
        return int(len(keys) * 33 + lengths[self.prio[keys]].sum())


# The analytical read: MySQL dialect through the admin_sql surface.
HTAP_SQL = (
    "SELECT `o_orderstatus`, COUNT(*) AS n, SUM(`o_totalprice`) AS total, "
    "SUM(IF(o_orderpriority = '1-URGENT', 1, 0)) AS urgent, "
    "MAX(`{handle}`) AS max_key FROM orders GROUP BY `o_orderstatus`"
)


class HtapWorkload(Run):
    """Replication batches, analytical reads, point lookups and storage
    maintenance on one DeltaStore, one cycle after another."""

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from tiflash_spark.operators.mvcc import HANDLE

        self.handle = HANDLE
        self.sql = HTAP_SQL.format(handle=HANDLE)
        t = datagen.orders_table(self.w.sf, self.seed)
        os.makedirs(self.dirs["data"], exist_ok=True)
        self.orders_path = os.path.join(self.dirs["data"], "orders.parquet")
        pq.write_table(t, self.orders_path)
        self.model = OrdersModel(t)
        self.np_rng = np.random.default_rng([self.seed, 100])
        self.version = 2
        self.delta_rows = 0
        # one compaction per round: maintain() folds the delta once it
        # holds more rows than a round's batches minus one
        self.threshold = (self.w.upserts + self.w.deletes) * CYCLES_PER_ROUND - 1

    def check_read(self, pdf: pd.DataFrame) -> None:
        want = self.model.aggregate()
        got = {
            r.o_orderstatus: (int(r.n), float(r.total), int(r.urgent), int(r.max_key))
            for r in pdf.itertuples()
        }
        if got.keys() != want.keys():
            raise AssertionError(f"read: groups {sorted(got)} != {sorted(want)}")
        for k, (n, total, urgent, mx) in want.items():
            g = got[k]
            # prices are whole cents: a sum off by one cent is wrong, while
            # the float sum's rounding error stays far below half a cent
            if (g[0], g[2], g[3]) != (n, urgent, mx) or abs(g[1] - total) >= 0.005:
                raise AssertionError(f"read: status {k} got {g}, want {(n, total, urgent, mx)}")

    def check_points(self, keys: np.ndarray, pdf: pd.DataFrame) -> None:
        m = self.model
        want = {int(k) for k in keys if k < m.size and m.live[k]}
        got = {int(k): i for i, k in enumerate(pdf[self.handle])}
        if set(got) != want or len(pdf) != len(want):
            raise AssertionError(f"point: {len(pdf)} rows for {len(want)} live keys")
        for k, i in got.items():
            row = pdf.iloc[i]
            exp = (int(m.cust[k]), STATUS[m.status[k]], float(m.price[k]),
                   np.datetime64(m.date[k], "us"), datagen.PRIORITIES[m.prio[k]])
            have = (int(row["o_custkey"]), row["o_orderstatus"], float(row["o_totalprice"]),
                    np.datetime64(row["o_orderdate"], "us"), row["o_orderpriority"])
            if have != exp:
                raise AssertionError(f"point: key {k} got {have}, want {exp}")

    def store_setup(self) -> None:
        from tiflash_spark.sources.admin_sql import run_sql
        from tiflash_spark.sources.delta_store import DeltaStore

        spark = self.spark
        df = spark.read.parquet(self.orders_path).withColumnRenamed("o_orderkey", self.handle)
        self.store = DeltaStore(spark, self.dirs["store"])
        with self.tracer.span("store.ingest"):
            # a one-row compaction fixes the hash-segment layout that the
            # bulk load then follows
            self.store.write_batch(df.limit(1), version=1)
            self.store.compact(1, num_segments=SEGMENTS)
            self.store.ingest_snapshot(df, version=2)
        t0 = now()
        with self.tracer.span("functions.first_statement"):
            self.store.as_view("orders")
            pdf = run_sql(spark, self.sql).toPandas()
        self.first_statement_s = now() - t0
        self.attempted += 1
        self.check("first statement", lambda: self.check_read(pdf))

    def make_batch(self):
        """The next replication batch, built outside the timed path:
        upserts (a quarter of them new keys) and deletes of live keys."""
        from tiflash_spark.operators.mvcc import HANDLE

        w, m, g = self.w, self.model, self.np_rng
        n_new = w.upserts // 4
        old = g.choice(m.size, w.upserts - n_new, replace=False)
        keys = np.concatenate([old, np.arange(m.size, m.size + n_new)])
        n = len(keys)
        up = pd.DataFrame({
            HANDLE: keys.astype(np.int64),
            "o_custkey": g.integers(0, int(150_000 * w.sf), n),
            "o_orderstatus": np.array(list(STATUS))[g.integers(0, 3, n)].astype(object),
            "o_totalprice": np.round(g.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": np.datetime64("1995-01-01", "us")
            + g.integers(0, 2405, n) * np.timedelta64(86_400_000_000, "us"),
            "o_orderpriority": np.array(datagen.PRIORITIES)[g.integers(0, 5, n)].astype(object),
        })
        candidates = np.setdiff1d(np.flatnonzero(m.live), keys)
        dels = np.sort(g.choice(candidates, w.deletes, replace=False))
        points = np.concatenate([
            keys[: w.point_keys // 2], dels[: w.point_keys // 4],
            g.choice(m.size, w.point_keys - w.point_keys // 2 - w.point_keys // 4),
        ])
        schema = (f"{HANDLE} long, o_custkey long, o_orderstatus string, "
                  "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string")
        # a delete carries the whole row, as streaming/ingest.py writes it
        gone = pd.DataFrame({
            HANDLE: dels.astype(np.int64),
            "o_custkey": m.cust[dels],
            "o_orderstatus": np.array(list(STATUS))[m.status[dels]].astype(object),
            "o_totalprice": m.price[dels],
            "o_orderdate": m.date[dels],
            "o_orderpriority": np.array(datagen.PRIORITIES)[m.prio[dels]].astype(object),
        })
        up_df = self.spark.createDataFrame(up, schema)
        del_df = self.spark.createDataFrame(gone, schema)
        return up, up_df, dels, del_df, [int(k) for k in points]

    def cycle(self, tag: str, stats: list | None) -> dict:
        from tiflash_spark.sources.admin_sql import run_sql

        up, up_df, dels, del_df, points = self.make_batch()
        tr, c, st = self.tracer, self.counters, self.store
        v = self.version + 1
        traced = tr.enabled
        rec: dict = {}
        if traced:
            files_before = file_sizes(st.path)
            m0 = c.mark()
        cpu0 = cpu_s() if self.count_cpu else 0.0
        with tr.trace(f"cycle#{tag}"):
            t0 = now()
            with tr.span("store.write_batch"):
                st.write_batch(up_df, version=v)
                st.write_batch(del_df, version=v + 1, delete=True)
            t1 = now()
            if traced:
                m1 = c.mark()
            with tr.span("store.as_view"):
                st.as_view("orders")
            t_v = now()
            with tr.span("sql.run_sql"):
                q = run_sql(self.spark, self.sql)
            t_q = now()
            with tr.span("sql.exec"):
                read = q.toPandas()
            t2 = now()
            with tr.span("store.point"):
                pdf_pts = st.read_handles(points)
                pts = pdf_pts.toPandas()
            t3 = now()
            if traced:
                m3 = c.mark()
                rec["point_files"] = files_read(pdf_pts)
            with tr.span("store.maintain"):
                report = st.maintain(v + 1, delta_threshold=self.threshold)
            t4 = now()
        if self.count_cpu:
            self.cpu += cpu_s() - cpu0
        self.version = v + 1
        user_bytes = self.model.row_bytes(dels)
        self.model.upsert(up)
        self.model.delete(dels)
        user_bytes += self.model.row_bytes(up[self.handle].to_numpy())
        rec["delta_rows"] = self.delta_rows + len(up) + len(dels)
        self.delta_rows = 0 if report["compacted"] else rec["delta_rows"]
        self.attempted += 2
        n_fail = len(self.failures)
        self.check(f"read {tag}", lambda: self.check_read(read))
        fresh_ok = len(self.failures) == n_fail
        self.check(f"point {tag}", lambda: self.check_points(np.array(points), pts))
        rec.update({
            "write_s": t1 - t0, "as_view_s": t_v - t1, "run_sql_s": t_q - t_v,
            "exec_s": t2 - t_q, "point_s": t3 - t2, "maintain_s": t4 - t3,
            "cycle_s": t4 - t0, "fresh_s": (t2 - t0) if fresh_ok else None,
            "rows": len(up) + len(dels), "compacted": int(report["compacted"]),
        })
        if traced and stats is not None:
            w_jobs = c.since(m0)
            rec.update({
                "write_jobs": w_jobs["jobs"] - c.since(m1)["jobs"],
                "maintain_jobs": c.since(m3)["jobs"],
                "jobs": w_jobs["jobs"], "stages": w_jobs["stages"],
                "tasks": w_jobs["tasks"],
                "user_bytes": user_bytes,
                "written_bytes": sum(
                    size for ino, size in file_sizes(st.path).items() if ino not in files_before
                ),
            })
            stats.append(rec)
        return rec

    def run(self) -> tuple[dict, dict]:
        self.prepare()
        setup_s = self.setup(self.store_setup)
        self.count_cpu = True
        cold = [self.cycle("cold", None)]
        self.probe()
        cold_cpu, self.cpu = self.cpu, 0.0
        warm: list[dict] = []
        stats: list[dict] = []
        warm_wall: dict[bool, list[float]] = {True: [], False: []}
        rounds = 0
        for rounds in self.warm_units():
            traced = self.traced and rounds % 4 in (1, 2)
            self.tracer.enabled = traced
            self.count_cpu = not traced
            recs = [
                self.cycle(f"warm{rounds}.{i}", stats if traced else None)
                for i in range(CYCLES_PER_ROUND)
            ]
            warm_wall[traced].append(sum(r["cycle_s"] for r in recs))
            self.probe()
            if not traced:
                warm += recs
        self.tracer.enabled, self.count_cpu = self.traced, False
        fresh = [r["fresh_s"] for r in warm if r["fresh_s"] is not None]
        metrics = {
            "setup_s": setup_s,
            "latency_s": statistics.median(fresh or [0.0]),
            "cold_cpu_s": cold_cpu,
            "cpu_s_per_op": self.cpu / max(len(warm), 1),
            **client_metrics(sum(r["cycle_s"] for r in cold), fresh),
            "client.ops_per_s": len(warm) / max(sum(r["cycle_s"] for r in warm), 1e-9),
        }
        keys = ("write_s", "as_view_s", "run_sql_s", "exec_s", "point_s",
                "maintain_s", "cycle_s", "fresh_s")
        self.record = {"warm_cycles": len(warm), "warm_rounds": rounds + 1,
                       "fresh_samples": len(fresh),
                       "warm_cycle_s": [{k: r[k] for k in keys} for r in warm]}
        layers = {}
        if self.traced:
            layers = self._layers(stats, warm_wall)
            layers.update({k: metrics[k] for k in CLIENT_UNITS})
        return self.host_scaled(metrics), layers

    def _layers(self, stats: list[dict], warm_wall) -> dict:
        n = max(len(stats), 1)

        def mean(key):
            return sum(s.get(key) or 0.0 for s in stats) / n

        files = file_sizes(self.store.path)
        store_bytes = sum(files.values())
        self_t = self.tracer.self_times(lambda tid: "#warm" in tid)
        layers = dict.fromkeys(LAYER_UNITS, 0.0)
        layers.update({
            "session.start_s": self.first_session_s,
            "session.peak_rss_mb": peak_rss_mb(),
            "functions.first_statement_s": self.first_statement_s,
            "exec.jobs": mean("jobs"),
            "exec.stages": mean("stages"),
            "exec.tasks": mean("tasks"),
            "sql.run_sql_s": mean("run_sql_s"),
            "sql.exec_s": mean("exec_s"),
            "store.write_batch_s": mean("write_s"),
            "store.write_jobs": mean("write_jobs"),
            "store.write_rows_per_s": sum(s["rows"] for s in stats)
            / max(sum(s["write_s"] for s in stats), 1e-9),
            "store.fresh_read_s": statistics.median(
                [s["fresh_s"] for s in stats if s["fresh_s"] is not None] or [0.0]
            ),
            "store.as_view_s": mean("as_view_s"),
            "store.delta_rows": mean("delta_rows"),
            "store.maintain_s": mean("maintain_s"),
            "store.compactions": mean("compacted"),
            "store.maintain_jobs": mean("maintain_jobs"),
            "store.point_s": mean("point_s"),
            "store.point_files_read": mean("point_files"),
            "store.bytes": store_bytes,
            "store.files": len(files),
            "store.bytes_written_per_user_byte": sum(s["written_bytes"] for s in stats)
            / max(sum(s["user_bytes"] for s in stats), 1),
            "store.space_amp": store_bytes
            / max(self.model.row_bytes(np.flatnonzero(self.model.live)), 1),
            "bench.overhead_s": self_t.get("trace", 0.0) / n,
            "trace.overhead_share": overhead_share(warm_wall),
        })
        return layers

