#!/usr/bin/env python3
"""Tracing overhead, blocking-path coverage and counter repeatability.

    python3 perfbench/analyze.py --workload sql_analytics --seed 11

Runs the benchmark four times with one seed, one run after another:
untraced, traced, untraced, traced. It prints one JSON object:

- ``overhead``: mean traced ``pass_s`` minus mean untraced ``pass_s``,
  absolute and as a share of the untraced pass;
- ``blocking_path``: per op, the summed self time of the layer spans
  under the op's root span (mean of the traced runs) against the op's
  untraced wall time (mean of the untraced runs); ``noise`` is the gap
  between the two untraced runs of the same op, the floor any per-op
  comparison across processes has;
- ``repeatable`` / ``varying``: per op and layer, the counters of the
  two traced runs that repeated exactly, and those that did not.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from spans import Span, self_times  # noqa: E402


def bench(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, list[Span]]:
    res = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, check=True)
    lines = res.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    spans = []
    if trace:
        raw = json.loads((HERE / "_work" / f"{workload}-{seed}" / "spans.json").read_text())
        spans = [Span(**s) for s in raw]
    return report, spans


def per_op(spans: list[Span]) -> dict[str, dict]:
    """Per op: root duration, summed layer self time, counters by layer."""
    own = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s.op is None:
            continue
        rec = out.setdefault(s.op, {"root_s": 0.0, "layers_s": 0.0, "counters": defaultdict(dict)})
        if s.parent is None:
            rec["root_s"] = s.end - s.start
        else:
            rec["layers_s"] += own[s.id]
        for k, v in s.counters.items():
            c = rec["counters"][s.name]
            c[k] = c.get(k, 0) + v
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()

    plain_a, _ = bench(args.workload, args.seed, args.seconds, 0)
    traced_a, spans_a = bench(args.workload, args.seed, args.seconds, 1)
    plain_b, _ = bench(args.workload, args.seed, args.seconds, 0)
    traced_b, spans_b = bench(args.workload, args.seed, args.seconds, 1)

    ua = {f"{o['pass']}:{o['name']}": o["s"] for o in plain_a["ops"]}
    ub = {f"{o['pass']}:{o['name']}": o["s"] for o in plain_b["ops"]}
    ops_a, ops_b = per_op(spans_a), per_op(spans_b)
    gaps = {}
    for op, rec in ops_a.items():
        if op in ua and op in ub and op in ops_b:
            untraced = (ua[op] + ub[op]) / 2
            layers = (rec["layers_s"] + ops_b[op]["layers_s"]) / 2
            gaps[op] = {"untraced_s": untraced, "layers_s": layers, "gap": layers / untraced - 1,
                        "noise": ua[op] / ub[op] - 1}
    total_untraced = sum(g["untraced_s"] for g in gaps.values())
    total_layers = sum(g["layers_s"] for g in gaps.values())

    varying = defaultdict(list)
    for op, rec in ops_a.items():
        other = ops_b.get(op, {"counters": {}})["counters"]
        for layer, counters in rec["counters"].items():
            for k, v in counters.items():
                w = other.get(layer, {}).get(k)
                if w != v:
                    varying[f"{layer}.{k}"].append({"op": op, "run1": v, "run2": w})
    checked = sorted({f"{layer}.{k}" for rec in ops_a.values()
                      for layer, cs in rec["counters"].items() for k in cs})

    t_pass = (sum(traced_a["passes"]) + sum(traced_b["passes"])) / 2
    u_pass = (sum(plain_a["passes"]) + sum(plain_b["passes"])) / 2
    out = {
        "workload": args.workload, "seed": args.seed,
        "overhead": {"untraced_pass_s": u_pass, "traced_pass_s": t_pass,
                     "overhead_s": t_pass - u_pass, "overhead_frac": t_pass / u_pass - 1},
        "blocking_path": {
            "ops": gaps,
            "total_gap": total_layers / total_untraced - 1,
            "max_abs_gap": max(abs(g["gap"]) for g in gaps.values()),
            "max_abs_noise": max(abs(g["noise"]) for g in gaps.values()),
            "ops_beyond_10pct": sorted(op for op, g in gaps.items() if abs(g["gap"]) > 0.10),
        },
        "repeatable": [c for c in checked if c not in varying],
        "varying": dict(varying),
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
