"""dariaspark benchmark of record.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see ``workloads.py`` and
``layers.json``): ``ingest_mixed``, ``analytics_batch``.

With ``--trace 0`` the run is untraced and reports the end-to-end metrics;
with ``--trace 1`` it runs a third of the time untraced, a third traced and
a third untraced, and reports per-layer metrics from the traced third plus
the tracing overhead. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. The line before it carries the workload's own named metrics
(``reads_per_s``, ``append_p50_ms``, ``pass_s`` ...), the sample counts and
the environment.

Everything the run writes lives under ``.perfbench-tmp/`` in the checkout
and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "p50_gmean_ms": "ms", "retained_mb": "MB"}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_mixed", "analytics_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans", help="write the traced run's spans to this JSONL file")
    ap.add_argument("--plant-error", action="store_true",
                    help="corrupt one response before checking it (self-test)")
    return ap.parse_args(argv)


def _finite(x: float) -> float:
    return x if isinstance(x, (int, float)) and math.isfinite(x) else 0.0


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "dariadb_spark" / "__init__.py").is_file():
        print(f"perfbench: no dariadb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import harness

    cpus = harness.cpu_count()
    tmp = ROOT / ".perfbench-tmp" / f"run-{os.getpid()}"
    try:
        harness.isolate(tmp, cpus)
        return _run(args, tmp, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass


def _run(args, tmp: Path, cpus: int) -> int:
    import harness
    import workloads
    from spans import Tracer

    sess = harness.Session(cpus)
    try:
        tracer = Tracer(sess.spark.sparkContext)
        res = workloads.WORKLOADS[args.workload](
            sess.spark, tmp, args.seed, args.seconds, tracer, bool(args.trace),
            args.plant_error,
        )
        rss = sess.peak_rss_mb()
        retained = sess.retained_mb()
        env = {**sess.versions(), "seed": args.seed, "workload": args.workload}
        if args.spans and args.trace:
            tracer.write(args.spans)
    finally:
        sess.stop()

    by_kind: dict[str, list[float]] = {}
    for kind, x in res.latencies:
        by_kind.setdefault(kind, []).append(x * 1000)
    kind_p50 = {k: harness.median(v) for k, v in sorted(by_kind.items())}
    res.put("setup_s", res.setup_s, "s")
    res.put("peak_rss_mb", rss, "MB")
    res.put("retained_mb", retained, "MB")
    res.put("error_rate", res.failed / max(res.attempted, 1), "ratio", res.attempted)
    if args.trace:
        layers = {"session.start_s": sess.start_s, **res.layers}
        metrics = {
            name: {"value": _finite(layers.get(name, 0.0)), "unit": unit}
            for name, unit in workloads.per_layer_names()
        }
    else:
        values = {
            "setup_s": res.setup_s,
            "ops_per_s": res.rate,
            "p50_gmean_ms": (math.exp(sum(map(math.log, kind_p50.values())) / len(kind_p50))
                             if kind_p50 else 0.0),
            "retained_mb": retained,
        }
        metrics = {k: {"value": _finite(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "env": env, "requests": len(res.latencies), "kind_p50_ms": kind_p50,
        "problems": res.problems, "workload_metrics": res.detail,
    }))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
