"""Fast check of the benchmark itself, at tiny scale.

    python3 perfbench/smoke.py      (from the repository root; ~3 minutes)

Runs each workload once, traced, on tiny inputs and checks that every
metric BENCHMARK.json names is emitted with its unit and that every result
was correct. Then it runs a query workload whose oracle expects a wrong
result, one whose q1 result is shifted by one cent in a column not
rounded to cents, and an HTAP workload whose model of the store is wrong,
and checks that each counts the mismatch as a failure. The half-cent tie
rule of the oracle check is checked on hand-made results first.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import run
    import workloads as wl

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    full = wl.workloads()
    tiny = {
        "olap_relational": dataclasses.replace(
            full["olap_relational"], sf=0.001, queries=("q1_pricing_summary", "window_ranking")
        ),
        "pipeline_ops": dataclasses.replace(
            full["pipeline_ops"], sf=0.001, queries=("dedup_minhash", "ann_pq_topk")
        ),
        "htap_ingest": dataclasses.replace(
            full["htap_ingest"], sf=0.01, upserts=200, deletes=20, point_keys=8
        ),
    }
    # every benchmark workload, and pipeline_ops, which runs only by hand
    assert {w["name"] for w in spec["workloads"]} <= set(tiny)

    # the oracle accepts a one-cent difference only at a half-cent tie of
    # a column it rounds to cents
    def frame(revenue, disc):
        return pd.DataFrame({"k": [1, 2], "revenue": [5.0, revenue], "avg_disc": [0.05, disc]})

    want, cents = frame(10.31, 0.05), ["revenue"]
    assert wl.cent_ties(frame(10.32, 0.05), want, frame(10.315, 0.05), cents)
    assert not wl.cent_ties(frame(10.32, 0.05), want, frame(10.312, 0.05), cents)
    assert not wl.cent_ties(frame(10.33, 0.05), want, frame(10.315, 0.05), cents)
    assert not wl.cent_ties(frame(10.31, 0.04), want, frame(10.31, 0.05), cents)
    assert not wl.cent_ties(frame(10.31, 0.055), want, frame(10.31, 0.05), cents)
    print("smoke: one cent off counts as a match only at a half-cent tie", flush=True)
    for name, w in tiny.items():
        r, metrics, layers = run.run_workload(w, seed=1, seconds=0, trace=True)
        assert not r.failures, (name, r.failures)
        for kind, values, units in (
            ("end_to_end", metrics, wl.E2E_UNITS),
            ("per_layer", layers, wl.LAYER_UNITS),
        ):
            for m in spec[kind]:
                assert m["name"] in values, (name, m["name"])
                assert units[m["name"]] == m["unit"], (name, m["name"], m["unit"])
        for m in spec["end_to_end"]:
            assert metrics[m["name"]] > 0, (name, m["name"], metrics[m["name"]])
        print(f"smoke: {name} emits every metric", flush=True)

    class WrongOracle(wl.QueryWorkload):
        def prepare(self):
            super().prepare()
            self.oracles["q1_pricing_summary"] = "SELECT 1 AS wrong"

    class ShiftedResult(wl.QueryWorkload):
        def verify(self, name, pdf):
            if name == "q1_pricing_summary":
                pdf = pdf.assign(avg_disc=pdf["avg_disc"] + 0.01)
            super().verify(name, pdf)

    class WrongModel(wl.HtapWorkload):
        def prepare(self):
            super().prepare()
            self.model.price[0] += 1.0

    for name, cls in (("olap_relational", WrongOracle), ("olap_relational", ShiftedResult),
                      ("htap_ingest", WrongModel)):
        r, _, _ = run.run_workload(tiny[name], seed=1, seconds=0, trace=False, cls=cls)
        assert r.failures and r.attempted >= len(r.failures), (name, r.failures)
        print(f"smoke: {name} with {cls.__name__} counts the mismatch as failed "
              f"({len(r.failures)} of {r.attempted})", flush=True)
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
