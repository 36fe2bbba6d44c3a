"""Self-test of the benchmark's tracing and metric names. Needs no Spark.

    python3 perfbench/selftest.py [spans.json ...]

Checks that spans nest, that per-layer self times sum to the root span's
wall time, and that BENCHMARK.json names exactly the metrics the
benchmark emits. Each spans file given (written by a ``--trace 1`` run
into ``.perfbench/spans/``) gets the same nesting and self-time checks.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer, check_nesting, self_times  # noqa: E402
from worker import END_TO_END, PER_LAYER  # noqa: E402


def check_spans(spans: list[dict], label: str) -> list[str]:
    problems = [f"{label}: {p}" for p in check_nesting(spans)]
    roots = [s for s in spans if s["parent"] is None]
    if len(roots) != 1:
        return problems + [f"{label}: {len(roots)} root spans, expected 1"]
    wall = roots[0]["end"] - roots[0]["start"]
    total = sum(self_times(spans).values())
    if abs(total - wall) > 1e-6 * max(1.0, wall):
        problems.append(f"{label}: self times sum to {total:.9f} s, root wall is {wall:.9f} s")
    return problems


def synthetic_spans() -> list[dict]:
    tr = Tracer(True)
    with tr.span("bench.run"):
        with tr.span("session.start"):
            time.sleep(0.002)
        for op in ("t1", "t2"):
            tr.op = op
            with tr.span("bench.op"):
                with tr.span("operators.build"):
                    time.sleep(0.001)
                with tr.span("exec.run"):
                    time.sleep(0.002)
        tr.enabled = False  # an untraced window leaves no spans
        with tr.span("exec.run"):
            time.sleep(0.001)
        tr.enabled = True
    return tr.spans


def check_names() -> list[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for key, emitted in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != emitted:
            missing = sorted(emitted.keys() - declared.keys())
            extra = sorted(declared.keys() - emitted.keys())
            units = sorted(k for k in declared.keys() & emitted.keys() if declared[k] != emitted[k])
            problems.append(f"BENCHMARK.json {key}: undeclared {missing}, unknown {extra}, unit differs {units}")
    return problems


def main(paths: list[str]) -> int:
    spans = synthetic_spans()
    problems = check_spans(spans, "synthetic")
    if len(spans) != 8:
        problems.append(f"synthetic: {len(spans)} spans recorded, expected 8")
    bad = [dict(s) for s in spans]
    bad[2]["end"] = bad[0]["end"] + 1.0  # a child that outlives its parent
    if not check_nesting(bad):
        problems.append("synthetic: an escaping child span was not detected")
    problems += check_names()
    for path in paths:
        with open(path) as f:
            problems += check_spans(json.load(f)["spans"], os.path.basename(path))
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
