"""Self-test of the benchmark (not of the program).

    python3 perfbench/selftest.py [--seconds 4]

Run from the repository root. For every workload it checks, on two seeds,
that an untraced run prints every end-to-end metric of BENCHMARK.json with
its unit and a positive value, and that a traced run prints every
per-layer metric with its unit; that a planted wrong answer is counted as
a failure; and that in a directory holding only BENCHMARK.json and the
benchmark the command exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEEDS = (101, 202)


def run(cwd: Path, workload: str, seed: int, seconds: float, *extra: str):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), *extra,
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr


def check_metrics(out: dict, wanted: list[dict], positive: bool) -> list[str]:
    errs = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(out)}")
    got = out.get("metrics", {})
    if set(got) != {m["name"] for m in wanted}:
        errs.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        g = got.get(m["name"])
        if g is None:
            continue
        if g.get("unit") != m["unit"]:
            errs.append(f"{m['name']}: unit {g.get('unit')!r}, want {m['unit']!r}")
        if not isinstance(g.get("value"), (int, float)) or (positive and g["value"] <= 0):
            errs.append(f"{m['name']}: value {g.get('value')!r}")
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=4)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for seed, trace, wanted in ((SEEDS[0], "0", spec["end_to_end"]),
                                    (SEEDS[1], "1", spec["per_layer"])):
            code, out, err = run(ROOT, w, seed, args.seconds, "--trace", trace)
            errs = ["exit code %d: %s" % (code, err[-500:])] if code or out is None else (
                check_metrics(out, wanted, positive=trace == "0"))
            if out is not None and not (out["correct"] and out["failed"] == 0):
                errs.append(f"not correct: {out}")
            expect(not errs, f"{w} seed {seed} trace {trace} {errs or ''}")
        code, out, _ = run(ROOT, w, SEEDS[0], args.seconds, "--trace", "0", "--plant-error")
        expect(code == 0 and out is not None and out["failed"] >= 1 and not out["correct"],
               f"{w} planted wrong answer counted ({out and out['failed']} failed)")

    with tempfile.TemporaryDirectory(dir=ROOT) as bare:
        bare = Path(bare)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, bare / p)
        w = spec["workloads"][0]["name"]
        code, out, _ = run(bare, w, SEEDS[0], args.seconds, "--trace", "0")
        expect(code != 0 and out is None, f"bare directory exits {code} without a result")
    leftovers = [p.name for p in ROOT.glob(".perfbench-tmp*")]
    expect(not leftovers, f"no files left behind {leftovers}")
    print("self-test", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
