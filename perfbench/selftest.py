#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py            # all workloads, both modes
    python3 perfbench/selftest.py cycler     # one workload

1. Generators: the same seed writes byte-identical inputs, another seed
   writes different inputs.
2. Smoke runs: each workload runs on its tiny input through
   ``run.py`` (the same code path as a measured run) untraced and
   traced; the emitted metric names and units must equal
   ``BENCHMARK.json``'s, and every output check must pass.

Exits 0 when everything holds, 1 otherwise.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def check_generators(workloads: list[str]) -> list[str]:
    errs = []
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as tmp:
        for w in workloads:
            a, _ = gen.cached(os.path.join(tmp, "a"), w, 7, "tiny")
            b, _ = gen.cached(os.path.join(tmp, "b"), w, 7, "tiny")
            c, _ = gen.cached(os.path.join(tmp, "c"), w, 8, "tiny")
            if not _same_tree(a, b):
                errs.append(f"{w}: seed 7 twice gave different inputs")
            if _same_tree(a, c):
                errs.append(f"{w}: seeds 7 and 8 gave identical inputs")
    return errs


def check_smoke(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") or res.get("attempted", 0) < 1:
        errs.append(f"{tag}: checks failed: {p.stdout.strip().splitlines()[-2][:2000]}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"{tag}: metrics differ from BENCHMARK.json: "
                    f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                    f"units {[k for k in want if k in got and got[k] != want[k]]}")
    if not trace and not all(v["value"] > 0 for v in res["metrics"].values()):
        errs.append(f"{tag}: an end-to-end metric is not positive: {res['metrics']}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    errs = check_generators(workloads)
    for w in workloads:
        for trace in (0, 1):
            errs += check_smoke(w, trace, spec)
    for e in errs:
        print("FAIL", e)
    print("selftest:", "ok" if not errs else f"{len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
