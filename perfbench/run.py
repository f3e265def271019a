"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload {olap_relational,pipeline_ops,htap_ingest}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The workload runs in this fresh process with
its own data, Spark warehouse, Spark local dir and store under
``.perfbench_run/`` in the current directory; all of it is removed at the
end. The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. stderr carries a record of the run (the
client's wall-clock metrics, sample counts, load before and after,
failures) and, when traced, the spans.
The exit code is 0 only when every checked result was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def load_fingerprint() -> dict:
    """How busy the machine was: 1-minute load average, runnable tasks,
    and the CPU seconds a hypervisor has taken from this machine's CPUs
    since boot (steal time, which a virtual machine's load average does
    not show)."""
    fp = {"loadavg_1m": os.getloadavg()[0]}
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                fp["steal_s"] = int(line.split()[8]) / os.sysconf("SC_CLK_TCK")
            elif line.startswith("procs_running"):
                fp["procs_running"] = int(line.split()[1])
    return fp


def isolate(run_dir: str) -> dict[str, str]:
    """Fresh data, warehouse, Spark local, temp and store dirs for this
    run; Spark picks them up from the environment when it starts."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("data", "warehouse", "local", "tmp", "store")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = tempfile.tempdir = dirs["tmp"]
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={dirs['tmp']}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "pyspark-shell",
    ])
    return dirs


def run_workload(spec, seed: int, seconds: float, trace: bool, cls=None):
    """Run one workload in isolated dirs under ``.perfbench_run/``, stop
    the JVM and remove the dirs. Returns (run, metrics, layers); ``cls``
    lets a test substitute a workload class."""
    import workloads as wl

    root = os.getcwd()
    base = os.path.join(root, ".perfbench_run")
    run_dir = os.path.join(base, f"{spec.name}-{seed}-{os.getpid()}")
    cls = cls or (wl.QueryWorkload if spec.kind == "queries" else wl.HtapWorkload)
    run = cls(spec, seed, seconds, trace, isolate(run_dir))
    os.chdir(run_dir)
    t0 = time.perf_counter()
    try:
        metrics, layers = run.run()
    finally:
        try:
            wl.stop_jvm(run.spark)
        finally:
            os.chdir(root)
            shutil.rmtree(run_dir, ignore_errors=True)
            if os.path.isdir(base) and not os.listdir(base):
                os.rmdir(base)
    run.record["run_s"] = time.perf_counter() - t0
    return run, metrics, layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tiflash_spark", "__init__.py")):
        print("perfbench: tiflash_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads as wl

    specs = wl.workloads()
    if args.workload not in specs:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(specs)}",
              file=sys.stderr)
        return 2
    spec = specs[args.workload]
    # a terminated run still stops its JVM and removes its dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_before = load_fingerprint()
    run, metrics, layers = run_workload(spec, args.seed, args.seconds, bool(args.trace))
    units = wl.LAYER_UNITS if args.trace else wl.E2E_UNITS
    values = layers if args.trace else metrics
    record = {
        "workload": spec.name, "seed": args.seed, "sf": spec.sf,
        **{k: metrics[k] for k in wl.CLIENT_UNITS},
        **run.record, "attempted": run.attempted, "failures": run.failures,
        "load_before": load_before, "load_after": load_fingerprint(),
    }
    print(json.dumps(record), file=sys.stderr)
    if args.trace:
        print(run.tracer.dumps(), file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
