"""The two workloads of the benchmark.

* ``ingest_mixed`` -- 1 client, closed loop, through
  ``TsClient`` -> ``TsServer`` -> ``TsEngine`` -> ``ParquetTsStore``:
  binary appends, one read after each append drawn from a fixed mix of
  every read verb (read-your-writes on the series just written), and
  periodic ``compact``/``erase_old``.
* ``analytics_batch`` -- sequential passes over registered queries
  (``REGISTRY[name].fn``) on an events fixture generated from the seed.

Each workload builds its inputs ``SETUP_REPS`` times (the last build is
the one measured), warms every verb or query up once, and then runs at
least ``MIN_ROUNDS`` whole ingest maintenance cycles or query passes, and
on until the given seconds have passed: more whole cycles, so every run
sees the same mix, or further queries one by one. Every answer is
checked: store responses against ``model.StoreModel``, analytics results
against each query's DuckDB oracle.
"""

from __future__ import annotations

import time
from collections import defaultdict
from pathlib import Path

import numpy as np

from harness import log, median, pct, tail_q
from model import CALC_NAMES, StoreModel, check
from spans import (
    CLIENT_TAG, ENGINE_VERBS, READ_VERBS, TracedEngine, TracedScheme,
    TracedStore, Tracer, action_spans, parquet_stats,
)

SETUP_REPS = 3
# A run measures at least this many whole ingest cycles or query passes.
# The JIT is still warming over the first passes (each is faster than the
# last), so a run that fits one cycle on a slow host and two on a fast one
# would read a third apart; a fixed floor puts every run at the same point.
MIN_ROUNDS = 2
T0 = 1_709_251_200_000  # 2024-03-01T00:00:00Z
MIN = 60_000
HOUR = 3_600_000
DAY = 86_400_000
MEAS_BYTES = 32  # id, time, value, flag: 4 x 8 bytes

INGEST = {
    "series": 200, "days": 3, "step_ms": 10 * MIN,
    "append_rows": 500, "append_series": 50,
    "compact_every": 5, "erase_every": 10, "retain_days": 3,
    "zipf_s": 1.1, "absent": 0.02, "recent": 0.8,
    # the read after append k of a maintenance cycle; the two halves of the
    # cycle (one compaction each) hold the repeated verbs at the same place
    "reads": (
        "current_value", "read_time_point", "read_interval", "stat", "calc",
        "current_value", "read_time_point", "read_interval", "downsample",
        "read_interval_by_pattern",
    ),
}
ANALYTICS = {
    "events": 20_000, "users": 150,
    # query -> layer it exercises (ext.<module> for the ext queries)
    "queries": {
        "interval_scan": "registry", "fn_all": "registry",
        "bucket_hour": "registry",
        "ext_anomaly_zscore": "ext.timeseries",
        "ext_events_json": "ext.relational",
        "ext_funnel_latency": "ext.analytics",
        "ext_sketch_rollup_quantile": "ext.sketches",
        "streaming_rollup_parity": "streaming",
    },
}
EXT_MODULES = sorted({m[4:] for m in ANALYTICS["queries"].values() if m.startswith("ext.")})


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, with its unit."""
    names = [
        ("session.start_s", "s"),
        ("scheme.add_param_ms", "ms"), ("scheme.match_ms", "ms"),
        ("sources.bulk_append_s", "s"), ("sources.read_ms", "ms"),
        ("sources.files", "count"), ("sources.append_ms", "ms"),
        ("sources.files_per_append", "count"), ("sources.write_amp", "ratio"),
        ("sources.compact_s", "s"), ("sources.erase_old_s", "s"),
    ]
    for v in ENGINE_VERBS:
        names.append((f"engine.plan_ms.{v}", "ms"))
        names.append((f"net.self_ms.{v}", "ms"))
    for v in READ_VERBS:
        layer = "functions" if v == "calc" else "operators"
        names.append((f"{layer}.exec_ms.{v}", "ms"))
        names += [(f"operators.{c}.{v}", "count") for c in ("jobs", "stages", "tasks", "rows")]
    names += [("registry.core_s", "s"), ("streaming.parity_s", "s")]
    names += [(f"ext.{m}_s", "s") for m in EXT_MODULES]
    for q in ANALYTICS["queries"]:
        names += [(f"query.{q}_s", "s"), (f"query.{q}_jobs", "count")]
    names.append(("trace.overhead_pct", "%"))
    return names


class Result:
    """What one workload run reports."""

    def __init__(self):
        self.setup_s = 0.0
        self.latencies: list[tuple[str, float]] = []  # (request kind, s)
        self.rate = 0.0  # completed requests per second
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.detail: dict[str, dict] = {}
        self.layers: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 5:
            self.problems.append(what)

    def put(self, name: str, value: float, unit: str, n: int | None = None, **extra) -> None:
        self.detail[name] = {"value": value, "unit": unit, **({"n": n} if n is not None else {}), **extra}

    def put_latency(self, name: str, values: list[float], tail: bool = False) -> None:
        """Median, or the tail percentile the sample supports, in ms."""
        ms = [v * 1000 for v in values]
        if tail:
            q = tail_q(len(ms))
            self.put(name, pct(ms, q), "ms", len(ms), percentile=q)
        else:
            self.put(name, median(ms), "ms", len(ms))


# -- store workloads --------------------------------------------------------

def _gen_store(rng, series: int, days: int, step_ms: int):
    n = days * DAY // step_ms
    phase = rng.integers(0, step_ms, series)
    ids = np.repeat(np.arange(series, dtype=np.int64), n)
    times = T0 + np.tile(np.arange(n, dtype=np.int64) * step_ms, series) + np.repeat(phase, n)
    values = np.round(rng.normal(50.0, 15.0, len(ids)), 2)
    flags = rng.choice(np.array([0, 1, 2, 4, 8], dtype=np.int64), len(ids))
    return ids, times, values, flags


def _name(sid: int) -> str:
    return f"host{sid // 10}.m{sid % 10}"


class StoreRig:
    """One set-up of the store workload: store, engine, server, client."""

    def __init__(self, spark, root: Path, data, series: int, tracer: Tracer | None):
        import pandas as pd

        from dariadb_spark import TsEngine
        from dariadb_spark.net import TsClient, TsServer
        from dariadb_spark.scheme import SeriesCatalog
        from dariadb_spark.sources.parquet_store import ParquetTsStore

        self.root = root
        store = ParquetTsStore(spark, str(root))
        self.data_dir = store.data_dir
        scheme = SeriesCatalog(spark)
        if tracer is not None:
            store, scheme = TracedStore(store, tracer), TracedScheme(scheme, tracer)
        self.engine = TsEngine(spark, store.read, store, scheme=scheme)
        ids, times, values, flags = data
        pdf = pd.DataFrame({"id": ids, "time": times, "value": values, "flag": flags})
        t = time.perf_counter()
        self.engine.append(spark.createDataFrame(pdf))
        self.bulk_append_s = time.perf_counter() - t
        self.engine.compact()
        t = time.perf_counter()
        for sid in range(series):
            if scheme.add_param(_name(sid)) != sid:
                raise RuntimeError(f"scheme assigned an unexpected id to {_name(sid)}")
        self.add_param_ms = (time.perf_counter() - t) * 1000 / series
        self.served = TracedEngine(self.engine, tracer) if tracer is not None else self.engine
        self.server = TsServer(self.served).start()
        self.client = TsClient("127.0.0.1", self.server.port)
        self.client.scheme_id_by_param(CLIENT_TAG + "0")

    def close(self) -> None:
        import shutil

        self.client.close()
        self.server.stop()
        shutil.rmtree(self.root, ignore_errors=True)


def _setup(res: Result, label: str, build, warm):
    """Build ``SETUP_REPS`` times, timing each and keeping the last, then
    warm the last one up once (every verb or query). ``res.setup_s`` is
    the median build plus the warm-up."""
    builds, last = [], None
    for rep in range(SETUP_REPS):
        if last is not None and hasattr(last, "close"):
            last.close()
        t0 = time.perf_counter()
        last = build(rep)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm(last)
    warm_s = time.perf_counter() - t0
    res.setup_s = median(builds) + warm_s
    res.put("setup_builds_s", builds, "s", len(builds))
    res.put("warmup_s", warm_s, "s")
    log(f"{label} set-up: builds {[round(b, 2) for b in builds]} s, warm-up {warm_s:.2f} s")
    return last


def _send(tracer: Tracer, client, verb: str, kwargs: dict):
    """One timed request: (verb, start, end, cols, rows, error, returned)."""
    t0 = time.perf_counter()
    try:
        with tracer.span(f"net.{verb}", client=0):
            ret = getattr(client, verb)(**kwargs)
        err = None
    except Exception as ex:  # counted as a failed request
        ret, err = None, f"{type(ex).__name__}: {ex}"
    cols, rows = ret if isinstance(ret, tuple) else (None, None)
    return verb, t0, time.perf_counter(), cols, rows, err, ret


class ReadOps:
    """Seeded parameters of the reads after each append. ``current_value``
    and ``read_interval`` read the series just written (read-your-writes);
    the other verbs draw ids Zipf-skewed over a seeded popularity order,
    with a share of absent ids (checks the ``_NO_DATA`` filler), and time
    points mostly in the last day before the clock."""

    def __init__(self, seed: int, series: int, days: int):
        self.rng = np.random.default_rng([seed, 1000])
        self.perm = np.random.default_rng([seed, 7]).permutation(series)
        self.series = series
        self.span = days * DAY
        self.intervals = 0

    def ids(self, n: int) -> list[int]:
        out: set[int] = set()
        while len(out) < n:
            if self.rng.random() < INGEST["absent"]:
                out.add(int(self.series + self.rng.integers(self.series)))
            else:
                z = int(self.rng.zipf(INGEST["zipf_s"]))
                out.add(int(self.perm[(z - 1) % self.series]))
        return sorted(out)

    def instant(self, now: int) -> int:
        if self.rng.random() < INGEST["recent"]:
            return int(now - self.rng.integers(0, DAY))
        return int(now - self.span + self.rng.integers(DAY, self.span))

    def make(self, verb: str, now: int, written) -> tuple[dict, dict]:
        """(client kwargs, check params)."""
        if verb == "current_value":
            p = {"ids": [int(i) for i in written]}
            return p, p
        if verb == "read_interval":
            pick = sorted(int(i) for i in self.rng.choice(written, 2, replace=False))
            p = {"ids": pick, "from_ms": now - HOUR, "to_ms": now}
            self.intervals += 1
            return {**p, "encoding": "bin" if self.intervals % 2 else None}, p
        if verb == "read_time_point":
            p = {"ids": self.ids(5), "time_point_ms": self.instant(now)}
            return p, p
        if verb in ("stat", "calc"):
            p = {"ids": self.ids(2), "from_ms": now - self.span, "to_ms": now}
            return ({**p, "names": list(CALC_NAMES)} if verb == "calc" else p), p
        if verb == "downsample":
            to = self.instant(now)
            p = {"ids": self.ids(1), "from_ms": to - DAY, "to_ms": to}
            return {"interval": "hour", **p}, {**p, "width_ms": HOUR}
        if verb == "read_interval_by_pattern":
            host = int(self.rng.integers(self.series // 10))
            ids = [host * 10 + m for m in range(10)]
            p = {"ids": ids, "names": {i: _name(i) for i in ids},
                 "from_ms": now - 6 * HOUR, "to_ms": now}
            return {"pattern": f"host{host}.*", "from_ms": p["from_ms"], "to_ms": now}, p
        raise ValueError(verb)


class Ingest:
    """The single client: append, read, maintain."""

    def __init__(self, client, model: StoreModel, seed: int, now_ms: int, tracer: Tracer):
        self.c = client
        self.model = model
        self.rng = np.random.default_rng([seed, 2000])
        self.reads = ReadOps(seed, INGEST["series"], INGEST["retain_days"])
        self.now = now_ms
        self.tracer = tracer
        self.steps = 0
        self.compact_s: list[float] = []

    def read(self, res: Result, verb: str, written, plant: bool = False):
        """One checked read: (record, seconds spent checking the answer)."""
        kwargs, p = self.reads.make(verb, self.now, written)
        rec = _send(self.tracer, self.c, verb, kwargs)
        t = time.perf_counter()
        res.attempted += 1
        err = rec[5]
        if err is None:
            got = rec[4] + rec[4][:1] if plant else rec[4]
            err = check(self.model, verb, p, rec[3], got)
        if err is not None:
            res.fail(f"{verb}: {err}")
        return rec[:6], time.perf_counter() - t

    def step(self, res: Result, force_maintenance: bool = False, plant: bool = False):
        """One append of ``append_rows`` rows over ``append_series`` series,
        then the cycle's next read; maintenance on its schedule. Returns
        (foreground records, rows acknowledged, seconds spent checking
        answers, series written)."""
        cfg = INGEST
        step_ms = cfg["step_ms"]
        per = cfg["append_rows"] // cfg["append_series"]
        self.now += step_ms
        sids = np.sort(self.rng.choice(cfg["series"], cfg["append_series"], replace=False))
        ids = np.repeat(sids, per)
        times = self.now - step_ms + np.tile((np.arange(per) + 1) * (step_ms // per), len(sids))
        values = np.round(self.rng.normal(50.0, 15.0, len(ids)), 2)
        flags = self.rng.choice(np.array([0, 1, 2, 4, 8], dtype=np.int64), len(ids))
        rows = list(zip(ids.tolist(), times.tolist(), values.tolist(), flags.tolist()))
        app = _send(self.tracer, self.c, "append", {"rows": rows, "binary": True})
        res.attempted += 1
        acked = app[6] if app[5] is None else 0
        if acked == len(rows):
            self.model.append(ids, times, values, flags)
        else:
            res.fail(f"append: {app[5] or f'acknowledged {acked} of {len(rows)}'}")
        verb = cfg["reads"][self.steps % len(cfg["reads"])]
        read, check_s = self.read(res, verb, sids, plant)
        self.steps += 1
        if force_maintenance or self.steps % cfg["compact_every"] == 0:
            rec = _send(self.tracer, self.c, "compact", {})
            res.attempted += 1
            if rec[5] is not None:
                res.fail(f"compact: {rec[5]}")
            self.compact_s.append(rec[2] - rec[1])
        if force_maintenance or self.steps % cfg["erase_every"] == 0:
            cutoff = self.now - cfg["retain_days"] * DAY
            rec = _send(self.tracer, self.c, "erase_old", {"cutoff_ms": cutoff})
            res.attempted += 1
            if rec[5] is None:
                self.model.erase_old(cutoff)
            else:
                res.fail(f"erase_old: {rec[5]}")
        return [app[:6], read], acked, check_s, sids

    def run(self, seconds: float, res: Result, plant: bool, rounds: int = MIN_ROUNDS):
        """Whole maintenance cycles (``erase_every`` steps), at least
        ``rounds`` of them, until ``seconds`` have passed; answer checking
        is not counted as run time. Returns (records, rows acknowledged,
        run seconds)."""
        self.compact_s = []
        recs, rows, checking = [], 0, 0.0
        start = time.perf_counter()
        cycles = 0
        while cycles < rounds or time.perf_counter() - start < seconds:
            cycles += 1
            for _ in range(INGEST["erase_every"]):
                r, n, c, _ = self.step(res, plant=plant)
                plant = False
                recs += r
                rows += n
                checking += c
        return recs, rows, time.perf_counter() - start - checking


def ingest_mixed(spark, tmp: Path, seed: int, seconds: float, tracer: Tracer,
                 traced: bool, plant: bool) -> Result:
    res = Result()
    cfg = INGEST
    data = _gen_store(np.random.default_rng([seed, 99]), cfg["series"], cfg["days"], cfg["step_ms"])
    bulk, add = [], []
    state = {}

    def build(rep: int) -> StoreRig:
        rig = StoreRig(spark, tmp / f"ingest-{rep}", data, cfg["series"],
                       tracer if traced else None)
        model = StoreModel(*data)
        ing = Ingest(rig.client, model, seed, T0 + cfg["days"] * DAY, tracer)
        bulk.append(rig.bulk_append_s)
        add.append(rig.add_param_ms)
        state.update(model=model, ing=ing)
        return rig

    def warm(rig: StoreRig) -> None:
        """One step with maintenance, then every other read verb once; the
        read cycle then starts from its beginning."""
        out, ing = Result(), state["ing"]
        _, _, _, written = ing.step(out, force_maintenance=True)
        for verb in dict.fromkeys(cfg["reads"][1:]):
            ing.read(out, verb, written)
        ing.steps = 0
        if out.failed:
            raise RuntimeError(f"ingest warm-up failed: {out.problems}")

    rig = _setup(res, "ingest_mixed", build, warm)
    model, ing = state["model"], state["ing"]
    try:
        if traced:
            def phase(s):
                out = ing.run(s, res, False, rounds=1)
                return out, len(out[0]) / out[2]

            _, ((recs, rows, run_s), _), _, overhead = _traced_run(tracer, seconds, phase)
        else:
            recs, rows, run_s = ing.run(seconds, res, plant)
        _, size = parquet_stats(rig.data_dir)
    finally:
        rig.close()
    res.rate = len(recs) / run_s
    reads = sum(r[0] in READ_VERBS and r[5] is None for r in recs)
    _store_detail(res, recs, reads / run_s, size, model.rows)
    appends = [r[2] - r[1] for r in recs if r[0] == "append"]
    res.put_latency("append_p50_ms", appends)
    res.put_latency("append_p95_ms", appends, tail=True)
    res.put("ingest_rows_per_s", rows / run_s, "rows/s", rows)
    res.put("compact_s", median(ing.compact_s), "s", len(ing.compact_s))
    if traced:
        _store_layers(res, tracer, rig, recs, median(bulk), median(add))
        res.layers["trace.overhead_pct"] = overhead
    return res


def _traced_run(tracer: Tracer, seconds: float, phase):
    """A traced run: a third of the time untraced, a third traced, a third
    untraced, so a drift over the run (the JIT still warming) cancels out
    of the overhead. ``phase(seconds)`` returns (records, request rate).
    Returns (before, traced, after, overhead %): the untraced request rate
    over the traced one, minus one."""
    before = phase(seconds / 3)
    tracer.spans.clear()
    with action_spans(tracer):
        tracer.on = True
        try:
            traced = phase(seconds / 3)
        finally:
            tracer.on = False
    after = phase(seconds / 3)
    untraced_rate = (before[1] + after[1]) / 2
    return before, traced, after, (untraced_rate / traced[1] - 1.0) * 100.0


def _store_detail(res: Result, recs, reads_per_s: float, store_bytes: int, live_rows: int) -> None:
    """The workload's own store metrics, named as in ``layers.json``."""
    ok = [r for r in recs if r[5] is None]
    res.latencies = [(r[0], r[2] - r[1]) for r in ok]
    reads = [r for r in ok if r[0] in READ_VERBS]
    res.put("reads_per_s", reads_per_s, "1/s", len(reads))
    res.put_latency("read_p95_ms", [r[2] - r[1] for r in reads], tail=True)
    for name, verbs in {
        "asof": ("read_time_point",), "current": ("current_value",),
        "scan": ("read_interval", "read_interval_by_pattern"),
        "agg": ("stat", "calc", "downsample"),
    }.items():
        values = [r[2] - r[1] for r in reads if r[0] in verbs]
        if values:
            res.put_latency(f"{name}_p50_ms", values)
    res.put("bytes_per_row", store_bytes / max(live_rows, 1), "B", live_rows=live_rows)


def _store_layers(res: Result, tracer: Tracer, rig: StoreRig, recs, bulk_s: float, add_ms: float) -> None:
    selfs = tracer.self_times()
    by = defaultdict(list)
    for sid, _, name, t0, t1, attrs in tracer.spans:
        by[name].append((selfs[sid], t1 - t0, attrs))

    def med_ms(name, use_self=False):
        spans = by[name]
        return median([s if use_self else d for s, d, _ in spans]) * 1000 if spans else 0.0

    L = res.layers
    L["sources.bulk_append_s"] = bulk_s
    L["scheme.add_param_ms"] = add_ms
    L["scheme.match_ms"] = med_ms("scheme.match")
    L["sources.read_ms"] = med_ms("sources.read")
    if by["sources.read"]:
        L["sources.files"] = median([a["files"] for _, _, a in by["sources.read"]])
    apps = by["sources.append"]
    if apps:
        L["sources.append_ms"] = med_ms("sources.append")
        L["sources.files_per_append"] = median([a["files_after"] - a["files_before"] for _, _, a in apps])
        written = sum(a["bytes_after"] - a["bytes_before"] for _, _, a in apps)
        L["sources.write_amp"] = written / (len(apps) * INGEST["append_rows"] * MEAS_BYTES)
    L["sources.compact_s"] = med_ms("sources.compact") / 1000
    L["sources.erase_old_s"] = med_ms("sources.erase_old") / 1000
    for v in ENGINE_VERBS:
        L[f"engine.plan_ms.{v}"] = med_ms(f"engine.{v}", use_self=True)
        L[f"net.self_ms.{v}"] = med_ms(f"net.{v}", use_self=True)
    exec_s = defaultdict(list)
    for label in ("action.collect", "action.toPandas"):
        for _, d, a in by[label]:
            exec_s[a.get("verb")].append(d)
    counts = defaultdict(list)
    for op in rig.served.ops:
        counts[op["verb"]].append(tracer.job_counts(op["group"]))
    for v in READ_VERBS:
        layer = "functions" if v == "calc" else "operators"
        if exec_s[v]:
            L[f"{layer}.exec_ms.{v}"] = median(exec_s[v]) * 1000
        if counts[v]:
            for i, c in enumerate(("jobs", "stages", "tasks")):
                L[f"operators.{c}.{v}"] = median([n[i] for n in counts[v]])
        rows = [len(r[4]) for r in recs if r[0] == v and r[4] is not None]
        if rows:
            L[f"operators.rows.{v}"] = median(rows)


# -- analytics ----------------------------------------------------------------

def _gen_events(rng, path: Path) -> None:
    """An ``events`` table in the repository's fixture schema: event_id, ts
    (timestamp[us], 2024-01-01..2024-01-30), user_id, event_type, value,
    props (JSON)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, users = ANALYTICS["events"], ANALYTICS["users"]
    start_us = 1_704_067_200_000_000
    ts = np.sort(start_us + rng.integers(0, 30 * DAY * 1000, n))
    kinds = np.array(["click", "view", "signup", "purchase", "error"])
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(kinds[rng.choice(5, n, p=[0.4, 0.35, 0.05, 0.1, 0.1])]),
        "value": pa.array(np.round(rng.uniform(0.0, 50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    path.mkdir(parents=True)
    pq.write_table(table, str(path / "events.parquet"))


def _run_query(spark, fixture: Path, tracer: Tracer, name: str, tag: str):
    """One query, timed on ``toPandas`` (every output column computed).
    Record: (name, start, end, frame, error, job group)."""
    from dariadb_spark.registry import REGISTRY

    group = f"perfbench-{tag}-{name}"
    if tracer.on:
        tracer.begin_op(None, group)
    t0 = time.perf_counter()
    try:
        with tracer.span(f"query.{name}"):
            pdf = REGISTRY[name].fn(spark, str(fixture)).toPandas()
        err = None
    except Exception as ex:
        pdf, err = None, f"{type(ex).__name__}: {ex}"
    return name, t0, time.perf_counter(), pdf, err, group


def _queries(spark, fixture, tracer, seconds: float, tag: str, rounds: int = MIN_ROUNDS):
    """The query set in order, Spark's cache cleared at the start of each
    pass: ``rounds`` whole passes, then query by query until ``seconds``
    have passed. Returns (records, seconds)."""
    names = list(ANALYTICS["queries"])
    recs, start = [], time.perf_counter()
    while len(recs) < rounds * len(names) or time.perf_counter() - start < seconds:
        k = len(recs) % len(names)
        if k == 0:
            spark.catalog.clearCache()
        recs.append(_run_query(spark, fixture, tracer, names[k], f"{tag}{len(recs)}"))
    return recs, time.perf_counter() - start


class _Frame:
    """Hands an already-collected result to ``tests.parity.compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def analytics_batch(spark, tmp: Path, seed: int, seconds: float, tracer: Tracer,
                    traced: bool, plant: bool) -> Result:
    import duckdb

    from dariadb_spark.registry import REGISTRY
    from tests.parity import compare

    res = Result()

    def build(rep: int) -> Path:
        fixture = tmp / f"events-{rep}"
        _gen_events(np.random.default_rng([seed, 3000]), fixture)
        return fixture

    def warm(fixture: Path) -> None:
        for name, _, _, _, err, _ in _queries(spark, fixture, tracer, 0, "warm", rounds=1)[0]:
            if err is not None:
                raise RuntimeError(f"warm-up of {name} failed: {err}")

    fixture = _setup(res, "analytics_batch", build, warm)
    if traced:
        def phase(s):
            out = _queries(spark, fixture, tracer, s, f"p{time.perf_counter_ns()}-", rounds=1)
            return out, len(out[0]) / out[1]

        _, ((recs, run_s), _), _, overhead = _traced_run(tracer, seconds, phase)
    else:
        recs, run_s = _queries(spark, fixture, tracer, seconds, "p")
    res.attempted = len(recs)
    for name, _, _, _, err, _ in recs:
        if err is not None:
            res.fail(f"{name}: {err}")
    # answer check, outside the timed region: each query's last result
    # against DuckDB
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{fixture / 'events.parquet'}')")
    for name, _, _, pdf, err, _ in {r[0]: r for r in recs}.values():
        if err is not None:
            continue
        if plant and len(pdf):
            pdf, plant = pdf.iloc[:-1], False
        res.attempted += 1
        cmp = compare(name, _Frame(pdf), con, REGISTRY[name].oracle)
        if not cmp.ok:
            res.fail(f"{name} vs oracle: {'; '.join(cmp.problems)}")
    con.close()
    res.latencies = [(r[0], r[2] - r[1]) for r in recs if r[4] is None]
    # a pass at each query's median latency: a run ends part-way through
    # a pass, and its cheap first queries would otherwise raise the rate
    per_query = {n: median([d for k, d in res.latencies if k == n]) for n in ANALYTICS["queries"]}
    pass_s = sum(per_query.values())
    res.rate = len(per_query) / pass_s
    res.put("pass_s", pass_s, "s", len(recs))
    res.put("queries_per_s", len(res.latencies) / run_s, "1/s", len(res.latencies))
    if traced:
        _analytics_layers(res, tracer, recs)
        res.layers["trace.overhead_pct"] = overhead
    return res


def _analytics_layers(res: Result, tracer: Tracer, recs) -> None:
    L = res.layers
    by_layer: dict[str, float] = defaultdict(float)
    for name, layer in ANALYTICS["queries"].items():
        runs = [r for r in recs if r[0] == name]
        L[f"query.{name}_s"] = median([r[2] - r[1] for r in runs])
        L[f"query.{name}_jobs"] = median([tracer.job_counts(r[5])[0] for r in runs])
        by_layer[layer] += L[f"query.{name}_s"]
    L["registry.core_s"] = by_layer["registry"]
    L["streaming.parity_s"] = by_layer["streaming"]
    for m in EXT_MODULES:
        L[f"ext.{m}_s"] = by_layer[f"ext.{m}"]


WORKLOADS = {
    "ingest_mixed": ingest_mixed,
    "analytics_batch": analytics_batch,
}
