"""Self-test of the benchmark harness at a tiny input size.

    python3 pipebench/selftest.py

For every workload in BENCHMARK.json it makes one untraced run and two
traced runs with the same seed, and checks that each exits 0, reports
correct output with no failed operation, and emits exactly the metrics
BENCHMARK.json names, with their units. The count metrics of the two
traced runs must be equal. It also checks that the benchmark exits
non-zero, without a result, in a directory that holds only
BENCHMARK.json and the benchmark's own files. Exits 1 on any failure.
"""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.05"
SEED = "7"
# counts that must repeat exactly between two traced runs of one seed
COUNTS = ("*.jobs", "embed.texts", "store.buckets_rewritten", "delta_sync.*_chunks", "spark.persisted_rdds")


def _run(cwd: str, workload: str, trace: int) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(cwd, "pipebench", "run.py"), "--workload", workload,
           "--seed", SEED, "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr[-2000:]


def _check(result: dict | None, expected: dict[str, str], what: str) -> list[str]:
    if result is None:
        return [f"{what}: no JSON result on the last line"]
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{what}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0 or not result.get("attempted"):
        errs.append(f"{what}: correct={result.get('correct')} attempted={result.get('attempted')} failed={result.get('failed')}")
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != expected:
        errs.append(f"{what}: metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(expected.items()))}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    counts = [n for n in layers if any(fnmatch.fnmatch(n, p) for p in COUNTS)]
    errors: list[str] = []
    for w in (w["name"] for w in spec["workloads"]):
        code, res, err = _run(ROOT, w, 0)
        errors += [f"{w} untraced: exit {code}: {err}"] if code else _check(res, e2e, f"{w} untraced")
        traced = []
        for i in (1, 2):
            code, res, err = _run(ROOT, w, 1)
            errors += [f"{w} traced #{i}: exit {code}: {err}"] if code else _check(res, layers, f"{w} traced #{i}")
            traced.append(res)
        if all(traced):
            a, b = (r["metrics"] for r in traced)
            diff = [n for n in counts if a.get(n, {}).get("value") != b.get(n, {}).get("value")]
            if diff:
                errors.append(f"{w}: count metrics differ between two traced runs: "
                              + ", ".join(f"{n} {a[n]['value']} != {b[n]['value']}" for n in diff))
        print(f"{w}: done", file=sys.stderr)

    # without the engine next to it, the benchmark must refuse to run
    bare = os.path.join(ROOT, ".pipebench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "pipebench"), os.path.join(bare, "pipebench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res, _ = _run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        errors.append(f"bare directory: exit {code}, result {res}")

    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
