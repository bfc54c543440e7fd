#!/usr/bin/env python3
"""Record one workload's traced profile next to an untraced run.

    python3 perfbench/record_profile.py --workload cycler --seed 1 --seconds 5

Runs ``run.py`` untraced, then traced, with the same seed and length,
and writes ``perfbench/profiles/<workload>.json``: host stamps, both
runs' metrics, per-span-name total and self time (self = span minus its
child spans), the reconciliation of self times with the traced pass
wall time, and the tracing overhead (traced over untraced pass median).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: float, trace: int, spans_out: str | None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans_out:
        cmd += ["--spans-out", spans_out]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900, check=True)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def self_times(spans: list[dict], n_passes: int) -> dict:
    """Per span name, per pass: total ms and self ms (span minus children)."""
    child_ms: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000.0
    out: dict[str, dict] = {}
    for s in spans:
        ms = (s["end"] - s["start"]) * 1000.0
        rec = out.setdefault(s["name"], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        rec["calls"] += 1
        rec["total_ms"] += ms / n_passes
        rec["self_ms"] += (ms - child_ms[s["id"]]) / n_passes
    return dict(sorted(out.items(), key=lambda kv: -kv[1]["self_ms"]))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()

    plain_info, plain = _run(args.workload, args.seed, args.seconds, 0, None)
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        spans_path = os.path.join(tmp, "spans.json")
        info, traced = _run(args.workload, args.seed, args.seconds, 1, spans_path)
        with open(spans_path) as f:
            raw = json.load(f)
    layers = {k: v["value"] for k, v in traced["metrics"].items()}
    n = max(1, info["passes"])
    selfs = self_times(raw["spans"], n)
    pass_ms = selfs.pop("pass", {"total_ms": 0.0, "self_ms": 0.0})
    untraced_ms = statistics.median(plain_info["pass_ms"])
    profile = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "host": {k: info[k] for k in ("loadavg", "nproc", "versions")},
        "untraced": {"correct": plain["correct"], "metrics": {k: v["value"] for k, v in plain["metrics"].items()}},
        "traced": {"correct": traced["correct"], "passes": info["passes"], "pass_ms": info["pass_ms"]},
        "overhead": {
            "untraced_pass_p50_ms": untraced_ms,
            "traced_pass_p50_ms": layers["trace.pass_p50_ms"],
            "ratio": layers["trace.pass_p50_ms"] / untraced_ms,
        },
        "reconciliation": {
            "pass_wall_ms": pass_ms["total_ms"],
            "sum_self_ms": sum(v["self_ms"] for v in selfs.values()),
            "gap_ms": pass_ms["self_ms"],
            "gap_share": pass_ms["self_ms"] / max(1e-9, pass_ms["total_ms"]),
        },
        "self_times": selfs,
        "per_layer": {k: v for k, v in layers.items() if v},
        "spans": [{k: s[k] for k in s if k not in ("run",)} for s in raw["spans"]],
        "run_id": raw["spans"][0]["run"] if raw["spans"] else None,
    }
    os.makedirs(os.path.join(HERE, "profiles"), exist_ok=True)
    path = os.path.join(HERE, "profiles", f"{args.workload}.json")
    with open(path, "w") as f:
        json.dump(profile, f, indent=1)
        f.write("\n")
    print(json.dumps({k: profile[k] for k in ("workload", "overhead", "reconciliation")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
