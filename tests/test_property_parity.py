"""Property-based parity — randomized storage_test_check.

Hypothesis generates adversarial measurement sets (duplicate (id, time)
pairs, high flag bits, empty series, boundary-landing intervals) and every
query verb is checked against an independent pure-Python oracle — cases
the deterministic fixtures can't reach.

Values are generated as multiples of 0.25 so every sum/mean is exactly
representable in a double: the engine/oracle comparison is exact, with no
accumulation-order tolerance to hide bugs behind.
"""

from __future__ import annotations

import math
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dariadb_spark.engine import TsEngine
from dariadb_spark.model import FLAGS_NO_DATA

T0 = 1_700_000_000_000
STEP = 1_000

meas_lists = st.lists(
    st.tuples(
        st.integers(0, 5),  # id
        st.integers(0, 40).map(lambda s: T0 + s * STEP),  # time
        st.integers(-4000, 4000).map(lambda x: x / 4.0),  # value (exact)
        st.sampled_from([0, 1, 2, 3, 8, 16, 17, 2**31, 2**32 - 1]),  # flag
    ),
    min_size=0,
    max_size=50,
)

_SETTINGS = settings(
    # default tier runs every property at reduced depth so the suite
    # fits the driver harness's pytest budget (VERDICT r19 item 2);
    # DARIADB_SLOW_TESTS=1 restores the full 12-example depth (the
    # tier the builder's round-close evidence uses)
    max_examples=12 if os.environ.get("DARIADB_SLOW_TESTS") else 4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    # No example database: a pytest run killed mid-property-test (e.g.
    # a CI timeout) would otherwise persist the in-flight example and
    # every later run replays/shrinks it — with Spark-backed properties
    # that turned a 70 s test into a 10+ minute one (observed round 7).
    # Failures here are deterministic enough to re-find from the seed.
    database=None,
)


def _engine(spark, rows) -> TsEngine:
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    return TsEngine.from_dataframe(spark, df)


def _engines(spark, rows) -> list[TsEngine]:
    """``rows`` as an engine over a main-session frame and one over a
    serving-session frame: the verbs run compiled, with AQE, in the first
    and interpreted, without AQE, in the second, which is where a store's
    verbs given ids run them."""
    from dariadb_spark.session import serving_session

    return [_engine(spark, rows), _engine(serving_session(spark), rows)]


def _flag_ok(f: int, q: int) -> bool:
    return q == 0 or (f & q) == q


@given(rows=meas_lists, lo=st.integers(0, 40), hi=st.integers(0, 40),
       flag=st.sampled_from([0, 1, 3, 16]))
@_SETTINGS
def test_read_interval_property(spark, rows, lo, hi, flag):
    from_ms, to_ms = T0 + min(lo, hi) * STEP, T0 + max(lo, hi) * STEP
    expect = sorted(
        t for t in rows if from_ms <= t[1] <= to_ms and _flag_ok(t[3], flag)
    )
    for eng in _engines(spark, rows):
        for ids in (None, [0, 2, 5]):
            got = [
                (r.id, r.time, r.value, r.flag)
                for r in eng.read_interval(ids, from_ms, to_ms, flag).collect()
            ]
            want = [t for t in expect if ids is None or t[0] in ids]
            # engine orders by (id, time); rows tied on both are emitted
            # in any order — compare fully-sorted lists (same multiset,
            # same key order)
            assert sorted(got) == want
            assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in want]


# As-of verbs pick the greatest (time, value, flag) per id. These rows put
# ties on every field of that order: NaN values (ranked above every number,
# as Spark and DuckDB do), -0.0 next to 0.0 (equal under it), and (id, time)
# twins that differ only in value or flag. A narrow time range makes the
# twins frequent.
asof_values = st.one_of(
    st.integers(-8, 8).map(lambda x: x / 4.0),
    st.sampled_from([float("nan"), -0.0, 0.0]),
)
asof_flags = st.sampled_from([0, 1, 16, 17, 2**32 - 1])


@st.composite
def asof_lists(draw):
    rows = draw(
        st.lists(
            st.tuples(
                st.integers(0, 5),
                st.integers(0, 10).map(lambda s: T0 + s * STEP),
                asof_values,
                asof_flags,
            ),
            max_size=30,
        )
    )
    if not rows:
        return rows
    twins = draw(
        st.lists(
            st.tuples(st.integers(0, len(rows) - 1), asof_values, asof_flags),
            max_size=10,
        )
    )
    return rows + [(rows[k][0], rows[k][1], v, f) for k, v, f in twins]


def _latest_key(t):
    """The as-of total order: time, then value with NaN greatest, then
    flag. -0.0 and 0.0 compare equal, as they do in Spark."""
    v = t[2]
    return (t[1], (1, 0.0) if math.isnan(v) else (0, v), t[3])


def _same(got, want) -> bool:
    """(time, value, flag) equality with NaN equal to NaN."""
    return all(
        g == w or (isinstance(g, float) and math.isnan(g) and math.isnan(w))
        for g, w in zip(got, want)
    )


@given(rows=asof_lists(), tp_slot=st.integers(-1, 11),
       flag=st.sampled_from([0, 1, 16]))
@_SETTINGS
def test_read_time_point_property(spark, rows, tp_slot, flag):
    tp = T0 + tp_slot * STEP
    ids = [0, 1, 2, 3, 4, 5, 77]  # 77 never exists
    for eng in _engines(spark, rows):
        out = eng.read_time_point(ids, tp, flag).collect()
        assert [r.id for r in out] == ids  # one row per requested id, in order
        got = {r.id: (r.time, r.value, r.flag) for r in out}
        for i in ids:
            cand = [
                t for t in rows
                if t[0] == i and t[1] <= tp and _flag_ok(t[3], flag)
            ]
            if cand:
                best = max(cand, key=_latest_key)
                assert _same(got[i], best[1:]), (i, got[i], best)
            else:
                assert got[i] == (tp, 0.0, FLAGS_NO_DATA)


@given(rows=asof_lists(), flag=st.sampled_from([0, 1, 16]),
       ids=st.sampled_from([None, [0, 2, 4, 77]]))
@_SETTINGS
def test_current_value_property(spark, rows, flag, ids):
    by_id: dict[int, list] = {}
    for t in rows:
        if (ids is None or t[0] in ids) and _flag_ok(t[3], flag):
            by_id.setdefault(t[0], []).append(t)
    for eng in _engines(spark, rows):
        out = eng.current_value(ids, flag).collect()
        # only series that exist, sorted by id, whether or not ids bound them
        assert [r.id for r in out] == sorted(by_id)
        for r in out:
            best = max(by_id[r.id], key=_latest_key)
            assert _same((r.time, r.value, r.flag), best[1:]), (r, best)


@given(rows=meas_lists)
@_SETTINGS
def test_min_max_and_stat_property(spark, rows):
    by_id: dict[int, list] = {}
    for t in rows:
        by_id.setdefault(t[0], []).append(t)
    for eng in _engines(spark, rows):
        mm = {
            r.id: (r.min_time, r.max_time)
            for r in eng.min_max_time().collect()
        }
        assert set(mm) == set(by_id)
        for i, ts in by_id.items():
            assert mm[i] == (min(t[1] for t in ts), max(t[1] for t in ts))
        for ids in (None, list(by_id)):
            st_rows = {
                r.id: r for r in eng.stat(ids, T0, T0 + 40 * STEP).collect()
            }
            assert set(st_rows) == set(by_id)
            for i, ts in by_id.items():
                vals = [t[2] for t in ts]
                assert st_rows[i].cnt == len(vals)
                assert st_rows[i].min_value == min(vals)
                assert st_rows[i].max_value == max(vals)
                # exact: 0.25-multiples
                assert st_rows[i].sum_value == sum(vals)
                assert st_rows[i].mean_value == sum(vals) / len(vals)


# --- resample verbs (operators/resample.py) -------------------------------

from decimal import ROUND_HALF_UP, Decimal


def _r6(x: float) -> float:
    """Spark F.round semantics for doubles: HALF_UP on the shortest
    decimal representation (Python's round() is banker's — diverges on
    exact .xxxxxx5 values like 0.25/32)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _lww(rows):
    """One sample per (id, time): max (value, flag) wins (dedup_lww)."""
    best = {}
    for t in rows:
        k = (t[0], t[1])
        if k not in best or (t[2], t[3]) > (best[k][2], best[k][3]):
            best[k] = t
    return best


@given(rows=meas_lists, lo=st.integers(0, 40), hi=st.integers(0, 40))
@_SETTINGS
def test_rate_property(spark, rows, lo, hi):
    from_ms, to_ms = T0 + min(lo, hi) * STEP, T0 + max(lo, hi) * STEP
    got = [
        (r.id, r.time, r.value, r.dt_ms, r.rate_per_s)
        for r in _engine(spark, rows).rate(None, from_ms, to_ms).collect()
    ]
    samples = sorted(
        t for t in _lww(t for t in rows if from_ms <= t[1] <= to_ms).values()
    )
    expect = []
    by_id: dict[int, list] = {}
    for t in samples:
        by_id.setdefault(t[0], []).append(t)
    for i, ts in sorted(by_id.items()):
        for prev, cur in zip(ts, ts[1:]):
            dt = cur[1] - prev[1]
            expect.append(
                (i, cur[1], cur[2], dt, _r6((cur[2] - prev[2]) / dt * 1000.0))
            )
    assert got == expect


@given(rows=meas_lists, span=st.integers(1, 40),
       step=st.sampled_from([500, 1_000, 3_000, 7_000]))
@_SETTINGS
def test_gap_fill_property(spark, rows, span, step):
    from_ms, to_ms = T0, T0 + span * STEP
    ids = [0, 1, 2]
    got = [
        (r.id, r.bucket_ms, r.locf_value, r.is_observed)
        for r in _engine(spark, rows)
        .gap_fill(ids, from_ms, to_ms, step)
        .collect()
    ]
    expect = []
    for i in ids:
        in_range = [t for t in rows if t[0] == i and from_ms <= t[1] <= to_ms]
        # last sample per bucket by the (time, value, flag) total order;
        # buckets are keyed relative to the GRID ORIGIN (from_ms), not
        # the epoch — the grid is from_ms + k*step, so an epoch-aligned
        # model would mismatch whenever from_ms % step != 0
        per_bucket: dict[int, tuple] = {}
        for t in in_range:
            b = t[1] - (t[1] - from_ms) % step
            if b not in per_bucket or (t[1], t[2], t[3]) > (
                per_bucket[b][1], per_bucket[b][2], per_bucket[b][3]
            ):
                per_bucket[b] = t
        locf = None
        for b in range(from_ms, to_ms + 1, step):
            obs = per_bucket.get(b)
            if obs is not None:
                locf = obs[2]
            expect.append((i, b, locf, 1 if obs is not None else 0))
    assert got == expect


@given(rows=meas_lists, span=st.integers(1, 40),
       step=st.sampled_from([500, 1_000, 3_000]))
@_SETTINGS
def test_interpolate_property(spark, rows, span, step):
    from_ms, to_ms = T0, T0 + span * STEP
    ids = [0, 1]
    got = [
        (r.id, r.grid_ms, r.prev_t, r.next_t, r.interp_value)
        for r in _engine(spark, rows)
        .interpolate(ids, from_ms, to_ms, step)
        .collect()
    ]
    expect = []
    for i in ids:
        s = sorted(
            t
            for t in _lww(
                t for t in rows
                if t[0] == i and from_ms <= t[1] <= to_ms
            ).values()
        )
        for g in range(from_ms, to_ms + 1, step):
            prevs = [t for t in s if t[1] <= g]
            nexts = [t for t in s if t[1] >= g]
            prev = prevs[-1] if prevs else None
            nxt = nexts[0] if nexts else None
            if prev is None or nxt is None:
                v = None
            elif nxt[1] == prev[1]:
                v = prev[2]
            else:
                v = _r6(
                    prev[2]
                    + ((nxt[2] - prev[2]) * (g - prev[1])) / (nxt[1] - prev[1])
                )
            expect.append(
                (i, g, prev[1] if prev else None, nxt[1] if nxt else None, v)
            )
    assert got == expect


# --- connected components: both execution paths vs brute force ------------

pair_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
        lambda p: p[0] < p[1]
    ),
    min_size=0,
    max_size=40,
)


@given(pairs=pair_lists)
@_SETTINGS
def test_cc_both_paths_match_brute_force(spark, pairs):
    import dariadb_spark.ext.dedup as dd

    if not pairs:
        return
    pdf = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
    uf = sorted(map(tuple, dd._cc_union_find(spark, pdf).collect()))
    lp = sorted(map(tuple, dd._cc_label_propagation(spark, pdf).collect()))
    # brute force: repeated relaxation to the transitive fixed point
    label = {n: n for p in pairs for n in p}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    expect = sorted(label.items())
    assert uf == expect
    assert lp == expect


# --- scheme glob translation --------------------------------------------

_name_chars = st.text(
    alphabet="abz019.%_\\*?", min_size=0, max_size=12
)


@given(names=st.lists(_name_chars, min_size=1, max_size=8, unique=True))
@_SETTINGS
def test_scheme_glob_matches_fnmatch_semantics(spark, names):
    """SeriesCatalog.match must agree with a pure-Python glob oracle for
    EVERY catalog name — including names containing the LIKE
    metacharacters % and _ (which the translation must escape) and
    patterns built from the names themselves."""
    import re

    from dariadb_spark.scheme import SeriesCatalog

    cat = SeriesCatalog(spark)
    for n in names:
        cat.add_param(n)

    def py_glob_match(pattern: str, s: str) -> bool:
        rx = "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in pattern
        )
        return re.fullmatch(rx, s) is not None

    # patterns: each literal name, plus prefix-star variants of the first
    patterns = list(names[:3])
    patterns.append(names[0][: max(len(names[0]) // 2, 0)] + "*")
    patterns.append("*")
    for pattern in patterns:
        got = {r.name for r in cat.match(pattern).collect()}
        want = {n for n in names if py_glob_match(pattern, n)}
        assert got == want, (pattern, got, want)


@given(
    xs=st.lists(
        st.one_of(
            st.floats(
                min_value=-1e12, max_value=1e12, allow_nan=False
            ),
            # dense coverage right at HALF_UP boundaries, both signs
            st.integers(-2_000_000, 2_000_000).map(
                lambda k: (k + 0.5) / 1e6
            ),
            st.integers(-20_000, 20_000).map(lambda k: (k + 0.5) / 1e4),
            # magnitudes past float64 fractional precision
            st.floats(min_value=4e15, max_value=1e18),
        ),
        min_size=1,
        max_size=64,
    ),
    places=st.sampled_from([4, 6]),
)
@_SETTINGS
def test_round_half_up_vec_matches_scalar(xs, places):
    """The vectorized HALF_UP used by the O(1) alert fold must agree
    with the exact-decimal scalar everywhere — especially on .5 ties
    (away-from-zero, where naive floor(x+0.5) breaks for negatives) and
    on magnitudes where the scaled value loses fractional precision."""
    import numpy as np

    from dariadb_spark.streaming.stateful import (
        _round_half_up,
        _round_half_up_vec,
    )

    got = _round_half_up_vec(np.asarray(xs, dtype=np.float64), places)
    want = [_round_half_up(x, places) for x in xs]
    for x, g, w in zip(xs, got, want):
        assert g == w, (x, places, g, w)


@given(
    raw=st.lists(
        st.tuples(
            st.integers(0, 40),  # time slot (duplicates/ties likely)
            st.integers(-10_000, 10_000),  # value in cents → 2-decimal
            st.integers(0, 3),  # flag
        ),
        min_size=1,
        max_size=120,
    ),
    splits=st.lists(st.integers(1, 30), min_size=1, max_size=6),
)
@_SETTINGS
def test_alert_fold_matches_naive_reference(raw, splits):
    """The cumsum-vectorized alert fold must reproduce a naive
    per-point reference fold (the definitional semantics: trail =
    preceding `window` points by arrival, fresh ascending sums, HALF_UP
    moments) — alerts AND carried state — across arbitrary micro-batch
    splits. Values are 2-decimal (fixture-shaped): their window sums sit
    ~0.5 ulp-of-1e-6 away from rounding boundaries, exactly the regime
    the round(·,6) recipe guarantees engine-identical moments in."""
    import pandas as pd

    from dariadb_spark.streaming.stateful import (
        _make_alert_fold,
        _round_half_up,
    )

    window, min_n, threshold = 5, 2, 1.0
    rows = [(t, c / 100.0, f) for t, c, f in raw]

    # naive reference
    tail: list[tuple] = []
    expected: list[tuple] = []
    batches: list[list[tuple]] = []
    i = 0
    for w in splits:
        if i >= len(rows):
            break
        batches.append(sorted(rows[i : i + w]))
        i += w
    if i < len(rows):
        batches.append(sorted(rows[i:]))
    import math

    for batch in batches:
        for t, v, f in batch:
            trail = tail[-window:]
            n = len(trail)
            if n >= min_n:
                s = 0.0
                s2 = 0.0
                for _, tv, _ in trail:
                    s += tv
                    s2 += tv * tv
                mean = _round_half_up(s, 6) / n
                ex2 = _round_half_up(s2, 6) / n
                std = math.sqrt(max(ex2 - mean * mean, 0.0))
                if std > 0:
                    z = _round_half_up((v - mean) / std, 4)
                    if abs(z) > threshold:
                        expected.append((9, t, v, f, n, z))
            tail.append((t, v, f))
            if len(tail) > window:
                tail = tail[-window:]

    class _FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    fold = _make_alert_fold(window, min_n, threshold)
    state = _FakeState()
    got: list[tuple] = []
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=["time", "value", "flag"]).astype(
            {"time": "int64", "value": "float64", "flag": "int64"}
        )
        for out in fold((9,), iter([pdf]), state):
            got.extend(tuple(r) for r in out.itertuples(index=False, name=None))
    assert got == expected
    assert state.get is not None
    st_times, st_values, st_flags = state.get
    assert list(zip(st_times, st_values, st_flags)) == tail


@given(
    raw=st.lists(
        st.tuples(
            st.integers(-100, 100),  # time (negative: floor-mod buckets)
            st.integers(-10_000, 10_000),  # value in cents
        ),
        min_size=1,
        max_size=80,
    ),
    width=st.sampled_from([7, 10, 25]),
    nbatches=st.integers(1, 4),
)
@_SETTINGS
def test_stat_fold_matches_naive_reference(raw, width, nbatches):
    """The reduceat-vectorized stat-block fold must reproduce the naive
    per-point dict fold — per-bucket (cnt, min, max, sum) accumulation in
    arrival order, floor-mod bucketing for negative times — across any
    micro-batch split, including buckets re-opened by later batches."""
    import pandas as pd

    from dariadb_spark.streaming.stateful import _make_state_fold

    rows = [(t, c / 100.0) for t, c in raw]
    chunk = (len(rows) + nbatches - 1) // nbatches
    batches = [rows[i : i + chunk] for i in range(0, len(rows), chunk)]

    # naive reference — the fold's documented contract: each batch folds
    # its own buckets sequentially IN ARRIVAL ORDER, then batch partials
    # merge into carried state (cnt+=, min/max, sum+=). Merging per
    # batch (not per point) is part of the contract: it's what makes
    # partials associative across micro-batch splits.
    acc: dict[int, list] = {}
    emitted: list[set] = []
    for batch in batches:
        part: dict[int, list] = {}
        for t, v in batch:
            b = t - t % width
            slot = part.get(b)
            if slot is None:
                part[b] = [1, v, v, v]
            else:
                slot[0] += 1
                slot[1] = min(slot[1], v)
                slot[2] = max(slot[2], v)
                slot[3] += v
        for b, (c, lo, hi, s) in part.items():
            slot = acc.get(b)
            if slot is None:
                acc[b] = [c, lo, hi, s]
            else:
                slot[0] += c
                slot[1] = min(slot[1], lo)
                slot[2] = max(slot[2], hi)
                slot[3] += s
        emitted.append(
            {b: (acc[b][0], acc[b][1], acc[b][2], acc[b][3]) for b in part}
        )

    class _FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    fold = _make_state_fold(width)
    state = _FakeState()
    for batch, want in zip(batches, emitted):
        pdf = pd.DataFrame(batch, columns=["time", "value"]).astype(
            {"time": "int64", "value": "float64"}
        )
        (out,) = list(fold((3,), iter([pdf]), state))
        got = {
            r.bucket_ms: (r.cnt, r.min_value, r.max_value, r.sum_value)
            for r in out.itertuples(index=False)
        }
        assert set(got) == set(want)
        for b in want:
            gc, glo, ghi, gs = got[b]
            wc, wlo, whi, ws = want[b]
            # cnt/min/max are accumulation-order-insensitive → exact;
            # sums may differ from a strict sequential fold in the last
            # ulps (numpy blocked accumulation — the same class of
            # difference as Spark's partition-merge order, absorbed by
            # the round(sum,·)/cnt recipe at every comparison surface)
            assert (gc, glo, ghi) == (wc, wlo, whi), b
            assert gs == ws or abs(gs - ws) <= 1e-9 * max(1.0, abs(ws)), b


# --- unified quantile sketch: selection rule + provable bound -------------

#: mixed-sign stores: values are exact quarters, flags give 1–3 groups;
#: some groups all-positive (→ HDR route), some crossing zero (→ hist).
_q_meas_lists = st.lists(
    st.tuples(
        st.sampled_from([1, 2, 4]),  # flag group
        st.integers(1, 16000).map(lambda x: x / 4.0),  # positive quarters
        st.booleans(),  # negate? (applied per-flag below for clean routing)
    ),
    min_size=3,
    max_size=60,
)


@given(rows=_q_meas_lists, neg_flags=st.sets(st.sampled_from([1, 2, 4])))
@_SETTINGS
def test_sketch_quantile_property(spark, rows, neg_flags):
    """For ANY store: (a) the routing contract — all-positive groups
    report method 'hdr', groups containing ≤0 report 'hist'; (b) the
    provable bound — every estimate lies within one bucket width of the
    rank-⌈p·n⌉ order statistic (pure-Python reference)."""
    import math

    from dariadb_spark.ext.sketches import (
        QH_BINS,
        QH_PS,
        _sketch_quantile_frame,
    )

    # negate selected flag groups wholesale so routing is well-defined
    data = [
        (f, -v if f in neg_flags else v) for (f, v, _neg) in rows
    ]
    m = spark.createDataFrame(data, "flag bigint, value double")
    out = _sketch_quantile_frame(m).collect()

    groups: dict[int, list[float]] = {}
    for f, v in data:
        groups.setdefault(f, []).append(v)
    for g in groups.values():
        g.sort()
    assert len(out) == len(groups) * len(QH_PS)
    for r in out:
        vals = groups[r.flag]
        assert r.method == ("hdr" if vals[0] > 0 else "hist"), tuple(r)
        xr = vals[math.ceil(r.p * len(vals)) - 1]
        if r.method == "hdr":
            x = round(xr * 100)
            width = (1 if x < 16 else 1 << (x.bit_length() - 5)) / 100
        else:
            width = (vals[-1] - vals[0]) / QH_BINS
        assert abs(r.qsk_est - xr) <= width + 1e-3, (tuple(r), xr, width)


# --- boilerplate chunk profiling (staged r10) vs a definitional replay ----

_bp_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
_bp_docs = st.lists(
    st.lists(_bp_words, min_size=1, max_size=28),
    min_size=1,
    max_size=14,
)


@given(docs=_bp_docs)
@_SETTINGS
def test_boilerplate_property(spark, docs):
    # Random small corpora from a 5-word vocabulary force heavy chunk
    # collisions in both directions; the operator's per-doc counts must
    # equal a definitional Python replay (chunking, distinct-doc
    # frequency, threshold, keep rule) on every input.
    import math
    from unittest import mock

    import dariadb_spark.ext.dedup as dedup_mod
    from dariadb_spark.ext.dedup import (
        BOILER_CHUNK_WORDS,
        BOILER_MAX_FRAC,
        BOILER_MIN_DOCS,
        dedup_boilerplate,
    )

    p = BOILER_CHUNK_WORDS
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(
        dedup_mod, "load_table", lambda _s, _sf, _n: docs_df
    ):
        got = {
            r.doc_id: (r.n_chunks, r.n_boiler, r.boiler_frac, r.keep)
            for r in dedup_boilerplate(spark, "ignored").collect()
        }
    chunks = {
        i: [" ".join(ws[j * p: (j + 1) * p])
            for j in range(math.ceil(len(ws) / p))]
        for i, ws in enumerate(docs)
    }
    freq: dict[str, set[int]] = {}
    for i, cs in chunks.items():
        for c in cs:
            freq.setdefault(c, set()).add(i)
    assert set(got) == set(chunks)
    for i, cs in chunks.items():
        nb = sum(1 for c in cs if len(freq[c]) >= BOILER_MIN_DOCS)
        # operator recipe: HALF_UP micro-int ratio (ext/exact.py)
        frac = ((2 * nb * 10**4 + len(cs)) // (2 * len(cs))) / 1e4
        assert got[i] == (
            len(cs), nb, frac, int(frac < BOILER_MAX_FRAC)
        ), (i, cs)


# --- round-10 curation ops vs pure-Python oracles --------------------------

_boiler_docs = st.lists(
    st.lists(st.sampled_from("abcdef"), min_size=1, max_size=25),
    min_size=1,
    max_size=12,
)


@given(docs=_boiler_docs)
@_SETTINGS
def test_boilerplate_verdicts_property(spark, docs):
    """Adversarial corpora from a 6-token vocabulary (chunk collisions
    everywhere, trailing partial chunks, single-word docs): the
    registered operator's per-doc verdicts must equal an independent
    Python replay of chunking → distinct-doc frequency → fraction."""
    import math

    from dariadb_spark.ext.dedup import (
        BOILER_CHUNK_WORDS,
        BOILER_MAX_FRAC,
        BOILER_MIN_DOCS,
        boilerplate_verdicts,
    )
    from dariadb_spark.streaming.stateful import _round_half_up

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chunks, r.n_boiler, r.boiler_frac, r.keep)
        for r in boilerplate_verdicts(df).collect()
    }

    p = BOILER_CHUNK_WORDS
    chunks = {
        i: [
            " ".join(toks[j * p: (j + 1) * p])
            for j in range(math.ceil(len(toks) / p))
        ]
        for i, toks in enumerate(docs)
    }
    docs_per_chunk: dict[str, set[int]] = {}
    for i, cs in chunks.items():
        for c in cs:
            docs_per_chunk.setdefault(c, set()).add(i)
    for i, cs in chunks.items():
        n_boiler = sum(
            1 for c in cs if len(docs_per_chunk[c]) >= BOILER_MIN_DOCS
        )
        frac = ((2 * n_boiler * 10**4 + len(cs)) // (2 * len(cs))) / 1e4
        want = (len(cs), n_boiler, frac, int(frac < BOILER_MAX_FRAC))
        assert got[i] == want, (i, got[i], want)


_mix_rows = st.lists(
    st.tuples(
        st.integers(0, 500),  # doc_id (uniquified below)
        st.integers(0, 3).map(lambda s: f"s{s}"),  # source
        st.sampled_from([100, 400, 900, 2500]),  # n_tok: perfect squares →
        # exact sqrt → the plan's rounded sqrt-sum is reproducible in
        # Python without float-association tolerance
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


@given(rows=_mix_rows)
@_SETTINGS
def test_mixture_plan_apply_property(spark, rows):
    """The shared mixture halves (plan arithmetic + deterministic
    Bernoulli apply + audit) against a pure-Python replay, on random
    per-doc token frames sized to force FRACTIONAL rates (total tokens
    above the budget), not just the rate-1.0 cap."""
    import math

    from dariadb_spark.ext.sampling import (
        KNUTH,
        MIX_SEED_OFFSET,
        MIX_TOKEN_BUDGET,
        MOD32,
        mixture_apply_audit,
        mixture_plan_from_tokens,
    )
    from dariadb_spark.streaming.stateful import _round_half_up

    per_doc = spark.createDataFrame(
        rows, "doc_id long, source string, n_tok long"
    )
    plan = mixture_plan_from_tokens(per_doc)
    audit = mixture_apply_audit(per_doc, plan)
    got_plan = {
        r.source: (r.n_docs, r.n_tokens, r.sample_rate, r.expected_tokens)
        for r in plan.collect()
    }
    got_audit = {
        r.source: (r.n_docs_kept, r.achieved_tokens, r.gap_pct)
        for r in audit.collect()
    }

    by_src: dict[str, list[tuple[int, int]]] = {}
    for doc_id, src, n_tok in rows:
        by_src.setdefault(src, []).append((doc_id, n_tok))
    sum_w = _round_half_up(
        sum(math.sqrt(sum(t for _, t in ds)) for ds in by_src.values()), 6
    )
    for src, ds in by_src.items():
        nt = sum(t for _, t in ds)
        mix_frac = _round_half_up(math.sqrt(nt) / sum_w, 6)
        # operator recipe: the rate re-enters exact integer space via
        # the 6-dp micro rendering of mix_frac (ext/exact.py)
        m_i = round(mix_frac * 1_000_000)
        rate_i = min(
            1_000_000,
            (2 * m_i * int(MIX_TOKEN_BUDGET) + nt) // (2 * nt),
        )
        rate = rate_i / 1e6
        expected = ((2 * rate_i * nt + 10**4) // (2 * 10**4)) / 100.0
        assert got_plan[src] == (len(ds), nt, rate, expected), src
        kept = [
            (d, t)
            for d, t in ds
            if ((d + MIX_SEED_OFFSET) * KNUTH) % MOD32 % 1_000_000 / 10_000.0
            < rate * 100.0
        ]
        ach = sum(t for _, t in kept)
        e_i = round(expected * 100)
        num = (100 * ach - e_i) * 100
        mag = (2 * abs(num) * 100 + e_i) // (2 * e_i)
        gap = (mag if num >= 0 else -mag) / 100.0
        assert got_audit[src] == (len(kept), ach, gap), src


# --- round-10 staged selection/ordering operators -------------------------
# Each checked against a definitional pure-Python replay over randomized
# corpora (duplicate chunks, stopword-only docs, null texts, sparse and
# colliding doc_ids) — the cases the deterministic fixture can't reach.

import dariadb_spark.registry as _registry  # noqa: E402,F401  (import cycle)

_doc_rows = st.lists(
    st.tuples(
        st.integers(0, 999),  # doc_id (uniquified below)
        st.integers(0, 3),  # source index
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["a", "the", "w", "x", "yy"]),
                min_size=1,
                max_size=25,
            ),
        ),
    ),
    min_size=0,
    max_size=30,
)


def _docs_df(spark, rows):
    seen, out = set(), []
    for doc_id, s, toks in rows:
        if doc_id in seen:
            continue
        seen.add(doc_id)
        out.append(
            (doc_id, f"s{s}", " ".join(toks) if toks is not None else None)
        )
    df = spark.createDataFrame(
        out or [(0, "s0", None)],
        "doc_id bigint, source string, text string",
    )
    return out if out else [(0, "s0", None)], df


@given(rows=_doc_rows)
@_SETTINGS
def test_pack_context_property(spark, rows):
    from collections import defaultdict
    from unittest import mock

    import dariadb_spark.ext.sampling as samp_mod
    from dariadb_spark.ext.sampling import PACK_CTX_TOKENS, pack_context

    out, df = _docs_df(spark, rows)
    with mock.patch.object(samp_mod, "load_table", lambda *_: df):
        got = [tuple(r) for r in pack_context(spark, "ignored").collect()]

    ctx = PACK_CTX_TOKENS
    cells: dict = defaultdict(lambda: [0, 0, 0, None, None])
    off: dict = defaultdict(int)
    for doc_id, src, text in sorted(out):
        if text is None:
            continue
        n_tok = len(text.split(" "))
        start, end = off[src], off[src] + n_tok
        off[src] = end
        for win in range(start // ctx, (end - 1) // ctx + 1):
            c = cells[(src, win)]
            c[0] += 1
            c[1] += int(end > (win + 1) * ctx)
            c[2] += min(end, (win + 1) * ctx) - max(start, win * ctx)
            c[3] = doc_id if c[3] is None else min(c[3], doc_id)
            c[4] = doc_id if c[4] is None else max(c[4], doc_id)
    assert got == [(s, w, *cells[(s, w)]) for s, w in sorted(cells)]


@given(rows=_doc_rows)
@_SETTINGS
def test_interleave_audit_property(spark, rows):
    from collections import Counter, defaultdict
    from unittest import mock

    import dariadb_spark.ext.sampling as samp_mod
    from dariadb_spark.ext.sampling import (
        INTERLEAVE_CHI2_MAX,
        KNUTH,
        MOD32,
        SHUF_BUCKETS,
        SHUF_SEED_OFFSET,
        interleave_audit,
    )

    out, df = _docs_df(spark, rows)
    with mock.patch.object(samp_mod, "load_table", lambda *_: df):
        got = [tuple(r) for r in interleave_audit(spark, "ignored").collect()]

    b = SHUF_BUCKETS
    hist: dict = defaultdict(Counter)
    for doc_id, src, _ in out:
        hist[src][(doc_id + SHUF_SEED_OFFSET) * KNUTH % MOD32 * b // MOD32] += 1
    exp = []
    for src in sorted(hist):
        h = hist[src]
        n = sum(h.values())
        ss = sum((b * c - n) ** 2 for c in h.values()) + (b - len(h)) * n * n
        chi2 = ((2 * ss * 10**6 + b * n) // (2 * b * n)) / 1e6
        exp.append(
            (src, n, len(h), min(h.values()) if len(h) == b else 0,
             max(h.values()), chi2, int(chi2 <= INTERLEAVE_CHI2_MAX)))
    assert got == exp


@given(rows=_doc_rows)
@_SETTINGS
def test_source_overlap_property(spark, rows):
    from unittest import mock

    import dariadb_spark.ext.dedup as dedup_mod
    from dariadb_spark.ext.dedup import BOILER_CHUNK_WORDS, source_overlap

    out, df = _docs_df(spark, rows)
    with mock.patch.object(dedup_mod, "load_table", lambda *_: df):
        got = [tuple(r) for r in source_overlap(spark, "ignored").collect()]

    p = BOILER_CHUNK_WORDS
    sets: dict = {}
    for _, src, text in out:
        if text is None:
            continue
        w = text.split(" ")
        cs = sets.setdefault(src, set())
        for i in range(-(-len(w) // p)):
            cs.add(" ".join(w[i * p : (i + 1) * p]))
    exp = []
    for sa in sorted(sets):
        for sb in sorted(sets):
            if sa >= sb:
                continue
            shared = len(sets[sa] & sets[sb])
            if not shared:
                continue
            ca, cb = len(sets[sa]), len(sets[sb])
            exp.append(
                (sa, sb, shared, ca, cb,
                 ((2 * shared * 10**6 + (ca + cb - shared))
                  // (2 * (ca + cb - shared))) / 1e6)
            )
    assert got == exp


@given(rows=_doc_rows)
@_SETTINGS
def test_quality_calibrate_property(spark, rows):
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal
    from unittest import mock

    import dariadb_spark.ext.curation as cur_mod
    from dariadb_spark.ext.curation import (
        CALIB_STOPWORDS,
        CALIB_TOP_PCT,
        QUALITY_TAU,
        quality_calibrate,
    )

    out, df = _docs_df(spark, rows)
    with mock.patch.object(cur_mod, "load_table", lambda *_: df):
        got = [
            tuple(r) for r in quality_calibrate(spark, "ignored").collect()
        ]

    def _r(x, nd):
        q = Decimal(1).scaleb(-nd) if nd else Decimal(1)
        return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))

    per: dict = defaultdict(list)
    for doc_id, src, text in out:
        if text is None:
            continue
        w = text.split(" ")
        stop = sum(1 for x in w if x in CALIB_STOPWORDS)
        # operator recipe: the score is ONE exact rational over 1000*n,
        # rendered to micro-ints by integer HALF_UP (ext/exact.py — the
        # float-sum form hit a live 7th-digit half on the fixture)
        n = len(w)
        num = 400 * stop + 3 * min(n, 100) * n + 300 * len(set(w))
        den = 1000 * n
        per[src].append(((2 * num * 10**6 + den) // (2 * den), doc_id))
    exp = []
    for src in sorted(per):
        docs = sorted(per[src], key=lambda t: (-t[0], t[1]))
        n = len(docs)
        quota = math.ceil(n * CALIB_TOP_PCT / 100.0)
        exp.append(
            (
                src,
                n,
                # HALF_UP micro-int mean — the operator's exact recipe
                # (round(sum/1e6/n, 6) flips cross-engine on true
                # decimal halves; this test found it)
                ((2 * sum(s for s, _ in docs) + n) // (2 * n)) / 1_000_000.0,
                sum(1 for s, _ in docs if s >= QUALITY_TAU * 1_000_000),
                quota,
                _r(min(s for s, _ in docs[:quota]) / 1_000_000.0, 6),
            )
        )
    assert got == exp


# --- round-11 staged operators vs definitional replays --------------------

_tb_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(1, 40)),  # (source, n_tok)
    min_size=1,
    max_size=25,
)


@given(rows=_tb_rows)
@_SETTINGS
def test_token_budget_property(spark, rows):
    """Random per-source token supplies hunt the water-filling edges the
    fixture can't reach: single-source remainder arithmetic, caps landing
    exactly on allocations, zero-room rounds, penny stalls."""
    from unittest import mock

    import dariadb_spark.ext.sampling as samp_mod
    from dariadb_spark.ext.sampling import (
        token_budget_iterate,
        token_budget_plan,
    )
    from tests.test_sketches import _py_token_budget

    docs = spark.createDataFrame(
        [
            (i, f"s{src}", ("x " * (n - 1)) + "x")
            for i, (src, n) in enumerate(rows)
        ],
        "doc_id long, source string, text string",
    )
    with mock.patch.object(samp_mod, "load_table", lambda *_: docs):
        got = [tuple(r) for r in token_budget_plan(spark, "ignored").collect()]
        conv = token_budget_iterate(spark, "ignored")

    u: dict = {}
    for src, n in rows:
        u[f"s{src}"] = u.get(f"s{src}", 0) + n
    ref, budget = _py_token_budget(u, rounds=2)
    assert got == ref
    unplaced = got[0][8]
    assert sum(r[4] for r in got) + unplaced == budget
    assert all(r[4] <= r[2] for r in got)
    assert sum(d["alloc"] for d in conv) + conv[0]["unplaced"] == budget
    assert conv[0]["unplaced"] <= unplaced  # convergence only places more


_psg_docs = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(["a", "b"]), min_size=0, max_size=14),
    ),
    min_size=1,
    max_size=12,
)


@given(docs=_psg_docs)
@_SETTINGS
def test_dedup_passages_property(spark, docs):
    """Two-letter-alphabet corpora force dense sliding-window collisions
    (within and across docs), sub-window-width docs, and null texts."""
    from unittest import mock

    import dariadb_spark.ext.dedup as dedup_mod
    from dariadb_spark.ext.dedup import dedup_passages
    from tests.test_sketches import _py_passages

    rows = [
        (i, " ".join(ws) if ws is not None else None)
        for i, ws in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(dedup_mod, "load_table", lambda *_: df):
        got = [tuple(r) for r in dedup_passages(spark, "ignored").collect()]
    assert got == _py_passages([r for r in rows if r[1] is not None])


_cap_rows = st.lists(
    st.tuples(
        st.integers(0, 9),  # doc_id (uniquified)
        st.lists(st.sampled_from(["w1", "w2", "w3", "xx"]), min_size=1,
                 max_size=8),
        st.one_of(
            st.none(),  # image row absent -> pair drops out of the join
            st.lists(st.integers(-3, 3), min_size=64, max_size=64),
        ),
    ),
    min_size=1,
    max_size=10,
)


@given(rows=_cap_rows)
@_SETTINGS
def test_caption_align_property(spark, rows):
    """Random captions and small-integer embeddings (float-exact) hunt
    the geometry edges: zero image vectors, cancelled caption hashes,
    missing image rows, exact +/-1 alignments."""
    import math
    from unittest import mock

    import dariadb_spark.ext.multimodal as mm_mod
    from dariadb_spark.ext.multimodal import (
        ALIGN_MIN,
        media_caption_align,
    )
    from tests.test_sketches import _py_text_vec

    seen, docs_r, emb_r = set(), [], []
    for doc_id, ws, e in rows:
        if doc_id in seen:
            continue
        seen.add(doc_id)
        docs_r.append((doc_id, " ".join(ws)))
        if e is not None:
            emb_r.append((doc_id, [float(x) for x in e], 0))
    docs = spark.createDataFrame(docs_r, "doc_id long, text string")
    emb = spark.createDataFrame(
        emb_r or [(-1, [0.0] * 64, 0)],
        "vec_id long, embedding array<float>, label int",
    )

    def load(_s, _sf, name):
        return docs if name == "documents" else emb

    with mock.patch.object(mm_mod, "load_table", load):
        got = {
            r.doc_id: (r.n_words, r.align, r.kept)
            for r in media_caption_align(spark, "ignored").collect()
        }

    emb_by = {v: e for v, e, _l in emb_r}
    assert set(got) == {d for d, _t in docs_r if d in emb_by}
    for doc_id, text in docs_r:
        if doc_id not in emb_by:
            continue
        t, e = _py_text_vec(text), emb_by[doc_id]
        tn = math.sqrt(sum(x * x for x in t))
        en = math.sqrt(sum(x * x for x in e))
        nw, align, kept = got[doc_id]
        assert nw == len(text.split(" "))
        if tn == 0 or en == 0:
            assert align is None and kept == 0
        else:
            ref = round(sum(a * b for a, b in zip(t, e)) / (tn * en), 4)
            assert align == ref and kept == int(align >= ALIGN_MIN), doc_id


_uni_docs = st.lists(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1,
        max_size=10,
    ),
    min_size=1,
    max_size=6,
)


@given(docs=_uni_docs)
@settings(
    max_examples=6,  # each example runs the full 2-round lattice (~4 s)
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    database=None,
)
def test_unigram_lm_property(spark, docs):
    """Two-letter words maximize piece overlap/tie pressure in the
    Viterbi lattice — the segmentation edges the fixture's 31-word
    vocabulary never exercises."""
    from unittest import mock

    import dariadb_spark.ext.tokenizer as tok_mod
    from dariadb_spark.ext.tokenizer import UNI_ROUNDS, unigram_lm
    from tests.test_tokenizer import _py_unigram

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    with mock.patch.object(tok_mod, "load_table", lambda *_: df):
        got = [tuple(r) for r in unigram_lm(spark, "ignored").collect()]
    usage, vocab, _ = _py_unigram(texts, UNI_ROUNDS)
    ref = sorted(
        ((p, u, vocab[p]) for p, u in usage.items()),
        key=lambda r: (-r[1], r[0]),
    )
    assert got == ref


# --- round-12 staged profile operators vs pure-Python references -----------

import math as _math


def _hup(x: float, places: int) -> float:
    from dariadb_spark.streaming.stateful import _round_half_up

    return _round_half_up(x, places)


def _cents(v: float) -> int:
    # strategy values sit on the quarter grid → v*100 is an exact int
    return int(round(v * 100))


def _fbucket(t: int, w: int) -> int:
    return t - ((t % w) + w) % w


_PE_ORDER = ("123", "132", "312", "213", "231", "321")


def _pe_pattern(a: int, b: int, c: int) -> str:
    if a <= b and b <= c:
        return "123"
    if a <= b and a <= c:
        return "132"
    if a <= b:
        return "312"
    if b < a and a <= c:
        return "213"
    if b < a and b <= c:
        return "231"
    return "321"


@given(rows=meas_lists)
@_SETTINGS
def test_perm_entropy_matches_reference(spark, rows):
    """Staged ``series_perm_entropy_op`` equals the definitional Python
    fold: stable-tie ordinal classification on the cent grid, entropy
    as the SAME fixed-order 6-term float expression, HALF_UP at 6 dp —
    byte-exact, negative values included."""
    from dariadb_spark.ext.timeseries import series_perm_entropy_op

    lo, hi = T0, T0 + 40 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: (r.n_windows, r.c123, r.c132, r.c312, r.c213, r.c231, r.c321,
               r.pe_norm)
        for r in series_perm_entropy_op(df, None, lo, hi, 0).collect()
    }
    by_id: dict[int, list] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            by_id.setdefault(i, []).append((t, v, f))
    want = {}
    for i, pts in by_id.items():
        ys = [_cents(v) for t, v, f in sorted(pts)]
        if len(ys) < 3:
            continue
        cnt = {p: 0 for p in _PE_ORDER}
        for k in range(len(ys) - 2):
            cnt[_pe_pattern(ys[k], ys[k + 1], ys[k + 2])] += 1
        n = len(ys) - 2
        acc = 0.0
        for p in _PE_ORDER:
            if cnt[p] > 0:
                acc = acc + (cnt[p] / n) * _math.log(cnt[p] / n)
        pe = _hup(-acc / _math.log(6.0), 6)
        want[i] = (n, *[cnt[p] for p in _PE_ORDER], pe)
    assert got == want


@given(rows=meas_lists, max_lag=st.integers(1, 4))
@_SETTINGS
def test_series_seq_acf_matches_reference(spark, rows, max_lag):
    """Staged ``series_seq_acf_op`` equals the definitional reference:
    signed-HALF_UP cent-quantized PAA means, sequence-ordered cells,
    exact integer moments (n²P_k − nS(A_k+B_k) + (n−k)S² over
    n²Q − nS²), one HALF_UP(·, 6) float division — exact including
    negative values (the signed DIV decomposition). Unlike the
    registered time-lag ``series_acf_op``, lags walk the OBSERVED cell
    sequence, every lag row 1..max_lag is emitted (NULL acf when
    n ≤ k), and zero-variance series are dropped whole."""
    from dariadb_spark.ext.timeseries import series_seq_acf_op

    lo, hi, w = T0, T0 + 40 * STEP, 3 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        (r.id, r.lag): (r.n_cells, r.acf)
        for r in series_seq_acf_op(df, None, lo, hi, w, max_lag, 0).collect()
    }
    cells: dict[tuple[int, int], list[int]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            cells.setdefault((i, _fbucket(t, w)), []).append(_cents(v))
    series: dict[int, dict[int, int]] = {}
    for (i, b), ys in cells.items():
        fs, fn = sum(ys), len(ys)
        yq = (
            -((2 * (-fs) + fn) // (2 * fn))
            if fs < 0
            else (2 * fs + fn) // (2 * fn)
        )
        series.setdefault(i, {})[b] = yq
    want = {}
    for i, by_b in series.items():
        ys = [by_b[b] for b in sorted(by_b)]
        n, s = len(ys), sum(ys)
        q = sum(y * y for y in ys)
        den = n * n * q - n * s * s
        if den <= 0:
            continue
        for k in range(1, max_lag + 1):
            if n > k:
                p = sum(ys[t] * ys[t - k] for t in range(k, n))
                a, b2 = sum(ys[k:]), sum(ys[: n - k])
                num = n * n * p - n * s * (a + b2) + (n - k) * s * s
                want[(i, k)] = (n, _hup(float(num) / float(den), 6))
            else:
                want[(i, k)] = (n, None)
    assert got == want


@given(rows=meas_lists, season=st.integers(2, 6))
@_SETTINGS
def test_series_mase_matches_reference(spark, rows, season):
    """Staged ``series_mase_op`` equals the definitional reference: the
    same quantized cells, exact integer |Δ| sums over grid-step lags,
    and the wide HALF_UP rational at 4 dp — exact, signed values
    included."""
    from dariadb_spark.ext.timeseries import series_mase_op

    lo, hi, w = T0, T0 + 40 * STEP, 2 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: (r.n_naive, r.sum_abs_naive, r.n_season, r.sum_abs_season,
               r.mase)
        for r in series_mase_op(df, None, lo, hi, w, season, 0).collect()
    }
    cells: dict[tuple[int, int], list[int]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            cells.setdefault((i, _fbucket(t, w)), []).append(_cents(v))
    series: dict[int, dict[int, int]] = {}
    for (i, b), ys in cells.items():
        fs, fn = sum(ys), len(ys)
        yq = (
            -((2 * (-fs) + fn) // (2 * fn))
            if fs < 0
            else (2 * fs + fn) // (2 * fn)
        )
        series.setdefault(i, {})[b] = yq
    want = {}
    for i, by_b in series.items():
        def errs(k: int) -> tuple[int, int]:
            ps = [
                abs(by_b[b] - by_b[b - k * w]) for b in by_b if b - k * w in by_b
            ]
            return len(ps), sum(ps)
        n1, s1 = errs(1)
        ns, ss = errs(season)
        if n1 == 0 or ns == 0 or s1 == 0:
            continue
        mase = ((2 * ss * n1 * 10000 + s1 * ns) // (2 * s1 * ns)) / 10000.0
        want[i] = (n1, s1, ns, ss, mase)
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_psi_matches_reference(spark, rows):
    """Staged ``series_psi_op`` equals the definitional reference:
    FLOOR-division binning (signed), pruned-bins convention, each term
    HALF_UP-rounded onto the micro-int grid BEFORE the (integer)
    per-series sum — exact, negative values included."""
    from dariadb_spark.ext.timeseries import series_psi_op

    lo, hi, bw = T0, T0 + 40 * STEP, 10.0
    w = 1000  # cents
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: (r.n1, r.n2, r.n_bins_common, r.n_bins_dropped, r.psi)
        for r in series_psi_op(df, None, lo, hi, bw, 0).collect()
    }
    mid = (lo + hi) // 2
    cnt: dict[int, dict[int, list[int]]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            c = _cents(v)
            b = c // w  # python // floors, matching the engine pair
            half = 1 if t > mid else 0
            slot = cnt.setdefault(i, {}).setdefault(b, [0, 0])
            slot[half] += 1
    want = {}
    for i, bins in cnt.items():
        n1 = sum(c1 for c1, _ in bins.values())
        n2 = sum(c2 for _, c2 in bins.values())
        if n1 == 0 or n2 == 0:
            continue
        common = dropped = micro = 0
        for c1, c2 in bins.values():
            if c1 > 0 and c2 > 0:
                common += 1
                p, q = c1 / n1, c2 / n2
                micro += int(_hup((p - q) * _math.log(p / q) * 1e6, 0))
            else:
                dropped += 1
        want[i] = (n1, n2, common, dropped, micro / 1e6)
    assert got == want


_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc_lists = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2", "s3"]),
        st.lists(_words, min_size=1, max_size=8).map(" ".join),
    ),
    min_size=1,
    max_size=24,
)


def _drift_docs_df(spark, docs):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (s, t) in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@given(docs=_doc_lists)
@_SETTINGS
def test_corpus_drift_tvd_matches_reference(spark, docs):
    """Staged ``corpus_drift_tvd_op`` equals the definitional reference:
    exact integer |c·N_r − (C−c)·N_s| sums over the FULL vocabulary
    (the reference iterates every word — proving the op's
    observed-pairs-plus-scalar algebraic fold is the same sum), one
    HALF_UP(·, 6) float division."""
    from collections import Counter

    from dariadb_spark.ext.text import corpus_drift_tvd_op

    got = {
        r.source: (r.n_tokens, r.n_vocab, r.tvd_rest)
        for r in corpus_drift_tvd_op(_drift_docs_df(spark, docs)).collect()
    }
    per_src: dict[str, Counter] = {}
    for s, t in docs:
        per_src.setdefault(s, Counter()).update(t.split(" "))
    total = Counter()
    for c in per_src.values():
        total.update(c)
    n = sum(total.values())
    want = {}
    for s, cs in per_src.items():
        ns = sum(cs.values())
        if ns >= n:
            continue
        nr = n - ns
        num = sum(
            abs(cs.get(wd, 0) * nr - (cw - cs.get(wd, 0)) * ns)
            for wd, cw in total.items()
        )
        tvd = _hup(float(num) / ((2.0 * float(ns)) * float(nr)), 6)
        want[s] = (ns, len(cs), tvd)
    assert got == want


@given(docs=_doc_lists)
@_SETTINGS
def test_token_pmi_matches_reference(spark, docs):
    """Staged ``token_pmi_op`` equals the definitional reference: exact
    bigram/margin counts, the exact micro-int rank key, the
    (rank_key DESC, x, y) order, and the HALF_UP(ln, 6) display value
    (compared at 1e-6 — the ln is never part of the ordering)."""
    from collections import Counter

    from dariadb_spark.ext.text import PMI_MIN_COUNT, PMI_TOP, token_pmi_op

    rows = token_pmi_op(_drift_docs_df(spark, docs)).collect()
    cxy: Counter = Counter()
    for _s, t in docs:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            cxy[(a, b)] += 1
    cx: Counter = Counter()
    cy: Counter = Counter()
    for (a, b), c in cxy.items():
        cx[a] += c
        cy[b] += c
    nb = sum(cxy.values())
    scored = [
        (
            (c * nb * 10**6) // (cx[a] * cy[b]),
            a,
            b,
            c,
            _hup(_math.log((c * nb) / float(cx[a] * cy[b])), 6),
        )
        for (a, b), c in cxy.items()
        if c >= PMI_MIN_COUNT
    ]
    scored.sort(key=lambda r: (-r[0], r[1], r[2]))
    want = scored[:PMI_TOP]
    assert len(rows) == len(want)
    for r, (key, a, b, c, pmi) in zip(rows, want):
        assert (r.x, r.y, r.c_xy, r.rank_key) == (a, b, c, key)
        assert (r.c_x, r.c_y) == (cx[a], cy[b])
        assert abs(r.pmi - pmi) <= 1e-6, (r, pmi)


_vec_lists = st.lists(
    st.lists(st.integers(-30000, 30000), min_size=4, max_size=4),
    min_size=1,
    max_size=12,
)


@given(vecs=_vec_lists)
@_SETTINGS
def test_embedding_pca_matches_reference(spark, vecs):
    """Staged ``embedding_pca_op`` equals the definitional reference:
    exact integer Gram, two G·v steps with the sign-decomposed
    ⌊|·|/10⁶⌋ scale-down, IEEE sqrt + one HALF_UP(·, 6) division —
    byte-exact on arbitrary signed 4-dim int-grid vectors (Python ints
    never overflow, so the reference also proves the DECIMAL
    accumulators sufficient on this domain)."""
    from dariadb_spark.ext.similarity import embedding_pca_op

    emb = spark.createDataFrame(
        [(i, [x / 10_000.0 for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )
    got = {
        r.dim: (r.v2s, r.loading) for r in embedding_pca_op(emb).collect()
    }
    d = 4
    gram = [[sum(v[i] * v[j] for v in vecs) for j in range(d)]
            for i in range(d)]

    def sdown(x: int) -> int:
        return -((-x) // 10**6) if x < 0 else x // 10**6

    v1 = [sdown(sum(gram[k])) for k in range(d)]
    v2 = [sdown(sum(gram[i][j] * v1[j] for j in range(d))) for i in range(d)]
    s2 = sum(x * x for x in v2)
    if s2 == 0:
        assert got == {}
        return
    want = {
        i: (v2[i], _hup(float(v2[i]) / _math.sqrt(float(s2)), 6))
        for i in range(d)
    }
    assert got == want


@given(docs=_doc_lists)
@_SETTINGS
def test_ngram_novelty_matches_reference(spark, docs):
    """Staged ``ngram_novelty_op`` equals the definitional reference:
    distinct word 3-grams per doc, first-seen = corpus-wide min doc_id,
    exact counts, HALF_UP(·, 4) ratio."""
    from dariadb_spark.ext.dedup import ngram_novelty_op

    got = {
        r.source: (r.n_docs, r.distinct_ngrams, r.owned_ngrams,
                   r.novelty_ratio)
        for r in ngram_novelty_op(_drift_docs_df(spark, docs)).collect()
    }
    sh_of = {}
    for i, (s, t) in enumerate(docs):
        w = t.split(" ")
        sh_of[i] = (
            s, {" ".join(w[k:k + 3]) for k in range(len(w) - 2)}
        )
    owner = {}
    for i in sorted(sh_of):
        for sh in sh_of[i][1]:
            owner.setdefault(sh, i)
    want = {}
    per_src: dict[str, tuple[set, set]] = {}
    for i, (s, shs) in sh_of.items():
        if not shs:
            continue
        d, t = per_src.setdefault(s, (set(), set()))
        d.add(i)
        t.update(shs)
    for s, (dset, types) in per_src.items():
        # the op attributes each distinct shingle to its min-doc_id
        # owner's source directly
        owned = sum(1 for sh, o in owner.items() if sh_of[o][0] == s)
        ratio = ((2 * owned * 10**4 + len(types)) // (2 * len(types))) / 1e4
        want[s] = (len(dset), len(types), owned, ratio)
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_downsample_lttb_matches_reference(spark, rows):
    """Staged ``downsample_lttb_op`` equals the definitional reference:
    int64 triangle areas over the (time, value, flag)-ordered series,
    −1 edge sentinel, per-(id, bucket) argmax by the full deterministic
    key — byte-exact, signed values included."""
    from dariadb_spark.ext.timeseries import downsample_lttb_op

    lo, hi, w = T0, T0 + 40 * STEP, 4 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        (r.id, r.t_bucket): (r.time, r.value, r.area2)
        for r in downsample_lttb_op(df, None, lo, hi, w, 0).collect()
    }
    by_id: dict[int, list] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            by_id.setdefault(i, []).append((t, v, f))
    want = {}
    for i, pts in by_id.items():
        pts = sorted(pts, key=lambda p: (p[0], p[1], p[2]))
        ys = [_cents(v) for _, v, _ in pts]
        scored = []
        for k, (t, v, f) in enumerate(pts):
            if 0 < k < len(pts) - 1:
                xp, yp = pts[k - 1][0], ys[k - 1]
                xn, yn = pts[k + 1][0], ys[k + 1]
                a2 = abs((xp - xn) * (ys[k] - yp) - (xp - t) * (yn - yp))
            else:
                a2 = -1
            scored.append((_fbucket(t, w), a2, t, v, f))
        for b in {s[0] for s in scored}:
            cand = [s for s in scored if s[0] == b]
            cand.sort(key=lambda s: (-s[1], s[2], s[3], s[4]))
            _, a2, t, v, _f = cand[0]
            want[(i, b)] = (t, v, a2)
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_sax_matches_reference(spark, rows):
    """Staged ``series_sax_op`` equals the definitional reference:
    int64 PAA/moment sums, the identical single-float z expression,
    quartile symbols, 3-frame words — byte-exact; zero-variance series
    dropped."""
    from dariadb_spark.ext.timeseries import SAX_BREAK, series_sax_op

    lo, hi, w = T0, T0 + 40 * STEP, 3 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        (r.id, r.word): r.cnt
        for r in series_sax_op(df, None, lo, hi, w, 0).collect()
    }
    frames: dict[tuple[int, int], list[int]] = {}
    moments: dict[int, list[int]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            y = _cents(v)
            frames.setdefault((i, _fbucket(t, w)), []).append(y)
            m = moments.setdefault(i, [0, 0, 0])
            m[0] += y
            m[1] += y * y
            m[2] += 1
    want: dict[tuple[int, str], int] = {}
    for i, (s, q, n) in moments.items():
        sig = _math.sqrt(q / n - (s / n) * (s / n))
        if not sig > 0:
            continue
        syms = []
        for (fi, b) in sorted(k for k in frames if k[0] == i):
            fs, fn = sum(frames[(fi, b)]), len(frames[(fi, b)])
            z = (fs / fn - s / n) / sig
            syms.append(
                "a" if z < -SAX_BREAK else "b" if z < 0
                else "c" if z < SAX_BREAK else "d"
            )
        for k in range(len(syms) - 2):
            word = "".join(syms[k:k + 3])
            want[(i, word)] = want.get((i, word), 0) + 1
    assert got == want


_event_lists = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 30),  # second slot
        st.sampled_from(["A", "B", "C"]),
    ),
    min_size=1,
    max_size=40,
)


@given(evs=_event_lists)
@_SETTINGS
def test_event_markov_matches_reference(spark, evs):
    """Staged ``event_markov_op`` equals the definitional reference:
    per-user (ts, event_id) adjacency, exact counts, HALF_UP(·, 6)
    conditional probabilities — including ts ties broken by the ingest
    sequence."""
    import datetime as dt

    from dariadb_spark.ext.analytics import event_markov_op

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (eid, t0 + dt.timedelta(seconds=slot), u, ty, 0.0, "{}")
        for eid, (u, slot, ty) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r.event_type, r.next_type): (r.cnt, r.p_next)
        for r in event_markov_op(df).collect()
    }
    cnt: dict[tuple[str, str], int] = {}
    for u in {e[0] for e in evs}:
        seq = sorted(
            (slot, eid, ty)
            for eid, (uu, slot, ty) in enumerate(evs) if uu == u
        )
        for a, b in zip(seq, seq[1:]):
            cnt[(a[2], b[2])] = cnt.get((a[2], b[2]), 0) + 1
    tot: dict[str, int] = {}
    for (a, _b), c in cnt.items():
        tot[a] = tot.get(a, 0) + c
    want = {
        (a, b): (c, _hup(c / tot[a], 6)) for (a, b), c in cnt.items()
    }
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_cross_corr_matches_reference(spark, rows):
    """Staged r14 ``series_cross_corr_op`` equals the definitional
    reference on random data (negative values included): HALF_UP PAA
    cells, per-series mean deviations, exact integer num/den, the one
    float per row replayed in the identical expression shape."""
    from dariadb_spark.ext.timeseries import series_cross_corr_op

    lo, hi, w, maxlag = T0, T0 + 40 * STEP, 10_000, 3
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        (r.id_a, r.id_b, r.lag): (r.n_pairs, r.xcorr)
        for r in series_cross_corr_op(df, None, lo, hi, w, maxlag, 0).collect()
    }
    cells: dict[tuple[int, int], list[int]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            cells.setdefault((i, _fbucket(t, w)), []).append(_cents(v))
    series: dict[int, dict[int, int]] = {}
    for (i, b), ys in cells.items():
        fs, fn = sum(ys), len(ys)
        yq = (
            -((2 * (-fs) + fn) // (2 * fn))
            if fs < 0
            else (2 * fs + fn) // (2 * fn)
        )
        series.setdefault(i, {})[b] = yq
    dev: dict[int, dict[int, int]] = {}
    den: dict[int, int] = {}
    for i, by_b in series.items():
        n, s = len(by_b), sum(by_b.values())
        dev[i] = {b: n * y - s for b, y in by_b.items()}
        d = sum(x * x for x in dev[i].values())
        if d > 0:
            den[i] = d
    want = {}
    for a in sorted(den):
        for b2 in sorted(den):
            if b2 <= a:
                continue
            for k in range(-maxlag, maxlag + 1):
                pairs = [
                    (dev[a][c], dev[b2][c + k * w])
                    for c in dev[a]
                    if c + k * w in dev[b2]
                ]
                if not pairs:
                    continue
                num = sum(x * y for x, y in pairs)
                xc = _hup(
                    num / _math.sqrt(float(den[a]) * float(den[b2])), 6
                )
                want[(a, b2, k)] = (len(pairs), xc)
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_seasonal_strength_matches_reference(spark, rows):
    """Staged r14 ``series_seasonal_strength_op`` equals the
    definitional reference on random data (negative values included):
    HALF_UP PAA cells, phase pivot, the FIXED-ARITY float expression
    replayed term by term in the generated left-to-right order, one
    exact-integer SST denominator, zero-variance series dropped."""
    from dariadb_spark.ext.timeseries import series_seasonal_strength_op

    lo, hi, w, period = T0, T0 + 40 * STEP, 5_000, 4
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: (r.n_cells, r.seasonal_strength)
        for r in series_seasonal_strength_op(
            df, None, lo, hi, w, period, 0
        ).collect()
    }
    cells: dict[tuple[int, int], list[int]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            cells.setdefault((i, _fbucket(t, w)), []).append(_cents(v))
    series: dict[int, dict[int, int]] = {}
    for (i, b), ys in cells.items():
        fs, fn = sum(ys), len(ys)
        yq = (
            -((2 * (-fs) + fn) // (2 * fn))
            if fs < 0
            else (2 * fs + fn) // (2 * fn)
        )
        series.setdefault(i, {})[b] = yq
    want = {}
    for i, by_b in series.items():
        n, s = len(by_b), sum(by_b.values())
        q = sum(y * y for y in by_b.values())
        sst = n * n * q - n * s * s  # exact int
        if sst <= 0:
            continue
        nh = [0] * period
        sh = [0] * period
        for b, y in by_b.items():
            h = (b // w) % period
            nh[h] += 1
            sh[h] += y
        acc = 0.0  # the generated expression's left-to-right order
        for h in range(period):
            if nh[h] > 0:
                d = float(n * sh[h] - nh[h] * s)
                acc += d * d / float(nh[h])
        want[i] = (n, _hup(acc / float(sst), 6))
    assert got == want




_path_rows = st.lists(
    st.tuples(
        st.integers(0, 5),  # user
        st.integers(0, 20),  # ts second
        st.sampled_from(["A", "B", "C"]),  # event type
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_path_rows)
@_SETTINGS
def test_events_paths_matches_reference(spark, rows):
    """Staged r14 ``events_paths_op`` equals the definitional reference
    on random event sets: per-user (ts, event_id) order with event_id
    (the list index here) breaking ts ties, first-5 truncation, HALF_UP
    share, (count DESC, path ASC) top-k."""
    import datetime as dt

    from dariadb_spark.ext.analytics import PATHS_DEPTH, PATHS_TOP, events_paths_op

    t0 = dt.datetime(2024, 1, 1)
    ev = [
        (i, t0 + dt.timedelta(seconds=sec), u, ty, 0.0, "{}")
        for i, (u, sec, ty) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = [tuple(r) for r in events_paths_op(df).collect()]
    byu: dict[int, list[tuple[int, int, str]]] = {}
    for i, (u, sec, ty) in enumerate(rows):
        byu.setdefault(u, []).append((sec, i, ty))
    paths: dict[str, int] = {}
    for u, evs in byu.items():
        evs.sort()
        p = ">".join(ty for _s, _i, ty in evs[:PATHS_DEPTH])
        paths[p] = paths.get(p, 0) + 1
    total = len(byu)
    ranked = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))
    want = [
        (p, c, ((2 * c * 10**4 + total) // (2 * total)) / 10**4)
        for p, c in ranked[:PATHS_TOP]
    ]
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_outlier_mad_matches_reference(spark, rows):
    """Staged r14 ``series_outlier_mad_op`` equals the definitional
    reference on random data (negative values included): doubled
    medians by (value, time) rank walk — the even-count midpoint
    average never leaves the integers — doubled deviations, Hampel's
    pure-int64 rule, HALF_UP fraction."""
    from dariadb_spark.ext.timeseries import MAD_K_10K, series_outlier_mad_op

    lo, hi = T0, T0 + 40 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: (r.n, r.median, r.mad, r.n_outliers, r.outlier_frac)
        for r in series_outlier_mad_op(df, None, lo, hi, 0).collect()
    }
    series: dict[int, list[tuple[int, int]]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            series.setdefault(i, []).append((_cents(v), t))

    want = {}
    for i, ys in series.items():
        n = len(ys)
        by_v = sorted(ys)  # (value, time) — the op's rank order
        lo_i, hi_i = (n + 1) // 2 - 1, (n + 2) // 2 - 1
        if lo_i == hi_i:
            med2 = 2 * by_v[lo_i][0]
        else:
            med2 = by_v[lo_i][0] + by_v[hi_i][0]
        devs = sorted((abs(2 * v - med2), t) for v, t in ys)
        if lo_i == hi_i:
            mad2 = 2 * devs[lo_i][0]
        else:
            mad2 = devs[lo_i][0] + devs[hi_i][0]
        n_out = sum(
            1 for d, _t in devs if 20_000 * d > MAD_K_10K * mad2
        )
        frac = ((2 * n_out * 10**4 + n) // (2 * n)) / 10**4
        want[i] = (n, med2 / 200.0, mad2 / 400.0, n_out, frac)
    assert got == want


# --- round-15 staged operators vs pure-Python references --------------------


def _lww_series(rows, lo, hi, ids=None):
    """Replay scan_interval + dedup_lww: closed interval, optional id
    set, per (id, time) keep the max (value, flag)."""
    best: dict[tuple[int, int], tuple[float, int]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi and (ids is None or i in ids):
            k = (i, t)
            if k not in best or (v, f) > best[k]:
                best[k] = (v, f)
    series: dict[int, list[tuple[int, float]]] = {}
    for (i, t), (v, _f) in best.items():
        series.setdefault(i, []).append((t, v))
    for ys in series.values():
        ys.sort()
    return series


@given(rows=meas_lists)
@_SETTINGS
def test_series_run_lengths_matches_reference(spark, rows):
    """Staged r15 ``series_run_lengths_op`` equals the definitional
    episode fold on random data: LWW dedup, consecutive-exceedance
    islands, longest run in samples and wall-clock, HALF_UP fraction,
    zero rows preserved."""
    from dariadb_spark.ext.timeseries import series_run_lengths_op

    lo, hi = T0, T0 + 40 * STEP
    thr = 0.0
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: tuple(r)[1:]
        for r in series_run_lengths_op(df, None, lo, hi, thr, 0).collect()
    }
    want = {}
    for i, ys in _lww_series(rows, lo, hi).items():
        n = len(ys)
        episodes = []
        cur = None
        for t, v in ys:
            if v > thr:
                if cur is None:
                    cur = [t, t, 0]
                cur[1] = t
                cur[2] += 1
            else:
                if cur is not None:
                    episodes.append(cur)
                cur = None
        if cur is not None:
            episodes.append(cur)
        n_ep = len(episodes)
        longest = max((e[2] for e in episodes), default=0)
        longest_ms = max((e[1] - e[0] for e in episodes), default=0)
        n_exc = sum(e[2] for e in episodes)
        frac = ((2 * n_exc * 10**4 + n) // (2 * n)) / 10**4
        want[i] = (n, n_ep, longest, longest_ms, n_exc, frac)
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_data_gaps_matches_reference(spark, rows):
    """Staged r15 ``series_data_gaps_op`` equals the definitional audit
    on random data: int64 gaps, doubled-rank-walk median on the
    (gap, time) order, HALF_UP mean at 1 dp, grid-origin hourly
    coverage, <2-sample series dropped."""
    from dariadb_spark.ext.timeseries import HOUR_MS, series_data_gaps_op

    lo, hi = T0, T0 + 40 * STEP
    tol = 5 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: tuple(r)[1:]
        for r in series_data_gaps_op(df, None, lo, hi, tol, 0).collect()
    }
    n_cells = (hi - lo) // HOUR_MS + 1
    want = {}
    for i, ys in _lww_series(rows, lo, hi).items():
        n = len(ys)
        if n < 2:
            continue
        ts = [t for t, _v in ys]
        gaps = [(ts[k] - ts[k - 1], ts[k]) for k in range(1, n)]
        m = len(gaps)
        by_gap = sorted(gaps)
        lo_i, hi_i = (m + 1) // 2 - 1, (m + 2) // 2 - 1
        med2 = (
            2 * by_gap[lo_i][0]
            if lo_i == hi_i
            else by_gap[lo_i][0] + by_gap[hi_i][0]
        )
        span = ts[-1] - ts[0]
        mean = ((2 * span * 10 + (n - 1)) // (2 * (n - 1))) / 10
        cells = {t - ((t - lo) % HOUR_MS) for t in ts}
        cov = ((2 * len(cells) * 10**4 + n_cells) // (2 * n_cells)) / 10**4
        want[i] = (
            n,
            max(g for g, _t in gaps),
            sum(1 for g, _t in gaps if g > tol),
            mean,
            med2 / 2.0,
            cov,
        )
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_funnel_latency_matches_reference(spark, rows):
    """Staged r15 ``funnel_latency_op`` equals the definitional replay:
    per-user earliest stage times with the at-or-after ordering rule,
    HALF_UP mean at 1 dp, doubled-rank-walk median, rank-⌈0.9·m⌉ p90."""
    from dariadb_spark.ext.analytics import _FUNNEL, funnel_latency_op

    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {r.transition: tuple(r)[1:] for r in funnel_latency_op(df).collect()}

    def stage_min(flag, prev):
        out = {}
        for i, t, _v, f in rows:
            if f == flag and (prev is None or (i in prev and t >= prev[i])):
                if i not in out or t < out[i]:
                    out[i] = t
        return out

    s1 = stage_min(_FUNNEL[0], None)
    s2 = stage_min(_FUNNEL[1], s1)
    s3 = stage_min(_FUNNEL[2], s2)
    want = {}
    for name, a, b in (
        ("view_to_click", s1, s2),
        ("click_to_purchase", s2, s3),
    ):
        lags = sorted((b[i] - a[i], i) for i in b)
        m = len(lags)
        if not m:
            continue
        total = sum(g for g, _i in lags)
        mean = ((2 * total * 10 + m) // (2 * m)) / 10
        lo_i, hi_i = (m + 1) // 2 - 1, (m + 2) // 2 - 1
        med2 = (
            2 * lags[lo_i][0]
            if lo_i == hi_i
            else lags[lo_i][0] + lags[hi_i][0]
        )
        p90 = lags[(9 * m + 9) // 10 - 1][0]
        want[name] = (m, mean, med2 / 2.0, p90)
    assert got == want


_order_rows = st.lists(
    st.tuples(
        st.integers(0, 5),  # custkey
        st.integers(0, 400),  # order day offset from 2000-01-01
        st.integers(1, 4_000_000),  # cents
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_order_rows)
@_SETTINGS
def test_rfm_segments_matches_reference(spark, rows):
    """Staged r15 ``rfm_segments_op`` equals the definitional replay on
    random orders: per-order cent quantization, integer day recency,
    closed-form rank scores with custkey tiebreaks, HALF_UP averages."""
    import datetime as dt

    from dariadb_spark.ext.relational import RFM_REF_DATE, rfm_segments_op

    base = dt.datetime(2000, 1, 1)
    ref = dt.date.fromisoformat(RFM_REF_DATE)
    orders = spark.createDataFrame(
        [
            (k, c, "O", cents / 100.0, base + dt.timedelta(days=d), "X")
            for k, (c, d, cents) in enumerate(rows)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    got = sorted(tuple(r) for r in rfm_segments_op(orders).collect())

    per = {}
    for c, d, cents in rows:
        day = (base + dt.timedelta(days=d)).date()
        rec = (ref - day).days
        st_ = per.setdefault(c, [10**9, 0, 0])
        st_[0] = min(st_[0], rec)
        st_[1] += 1
        st_[2] += cents
    m = len(per)

    def score(rank):
        return 5 - ((rank - 1) * 5) // m

    custs = sorted(per)
    rn_r = {c: r + 1 for r, c in enumerate(
        sorted(custs, key=lambda c: (per[c][0], c)))}
    rn_f = {c: r + 1 for r, c in enumerate(
        sorted(custs, key=lambda c: (-per[c][1], c)))}
    rn_m = {c: r + 1 for r, c in enumerate(
        sorted(custs, key=lambda c: (-per[c][2], c)))}
    cells = {}
    for c in custs:
        key = (score(rn_r[c]), score(rn_f[c]), score(rn_m[c]))
        n, s = cells.get(key, (0, 0))
        cells[key] = (n + 1, s + per[c][2])
    want = sorted(
        (
            r, f, mm, n,
            ((2 * s * 100 + 100 * n) // (2 * 100 * n)) / 100,
        )
        for (r, f, mm), (n, s) in cells.items()
    )
    assert got == want


_basket_rows = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 6)),  # (order, part)
    min_size=1,
    max_size=50,
)


@given(rows=_basket_rows)
@_SETTINGS
def test_market_basket_matches_reference(spark, rows):
    """Staged r15 ``market_basket_op`` equals the definitional replay on
    random baskets: distinct collapse, triangle pair counts, min
    support, HALF_UP confidences; lift compared at 1e-9 (one float
    expression from exact ints on both sides)."""
    from dariadb_spark.ext.relational import (
        BASKET_MIN_SUP,
        BASKET_TOP,
        market_basket_op,
    )

    li = spark.createDataFrame(
        [
            (o, p, 1, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)
            for i, (o, p) in enumerate(rows)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    got = [tuple(r) for r in market_basket_op(li).collect()]

    baskets: dict[int, set[int]] = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(p)
    n_orders = len(baskets)
    sup: dict[int, int] = {}
    pair: dict[tuple[int, int], int] = {}
    for parts in baskets.values():
        ps = sorted(parts)
        for p in ps:
            sup[p] = sup.get(p, 0) + 1
        for ai in range(len(ps)):
            for bi in range(ai + 1, len(ps)):
                k = (ps[ai], ps[bi])
                pair[k] = pair.get(k, 0) + 1
    surv = sorted(
        ((a, b, n) for (a, b), n in pair.items() if n >= BASKET_MIN_SUP),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:BASKET_TOP]

    def rr4(a, b):
        return ((2 * a * 10**4 + b) // (2 * b)) / 10**4

    assert len(got) == len(surv)
    for g, (a, b, n) in zip(got, surv):
        assert g[:5] == (a, b, n, sup[a], sup[b])
        assert g[5] == rr4(n, sup[a])
        assert g[6] == rr4(n, sup[b])
        assert abs(g[7] - round(n_orders * n / (sup[a] * sup[b]), 6)) < 1e-9


_emb_rows = st.lists(
    st.tuples(
        st.integers(0, 2),  # label
        st.lists(st.integers(-20000, 20000), min_size=3, max_size=3),
    ),
    min_size=2,
    max_size=20,
)


@given(rows=_emb_rows)
@_SETTINGS
def test_label_separability_matches_reference(spark, rows):
    """Staged r15 ``label_separability_op`` equals the pure-Python
    integer reference on random 3-dim grid vectors: exact W and B
    accumulation, the rounded-distance nearest rank with label
    tiebreak, and the ratio of the two rounded floats."""
    import math

    from dariadb_spark.ext.similarity import _OUT_SCALE, label_separability_op

    # need ≥2 labels for a nearest neighbor to exist
    labels = {lab for lab, _v in rows}
    if len(labels) < 2:
        rows = rows + [((min(labels) + 1) % 3, [0, 0, 0])]
    emb = spark.createDataFrame(
        [
            (vid, [x / _OUT_SCALE for x in v], lab)
            for vid, (lab, v) in enumerate(rows)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r.label: tuple(r)[1:]
        for r in label_separability_op(
            emb.selectExpr("vec_id", "label", "embedding")
        ).collect()
    }

    # float32 storage: re-quantize exactly as the op does (round the
    # float32-rounded double back onto the grid)
    import numpy as np

    q: dict[int, list[list[int]]] = {}
    for vid, (lab, v) in enumerate(rows):
        f32 = [float(np.float32(x / _OUT_SCALE)) for x in v]
        q.setdefault(lab, []).append(
            [int(round(x * _OUT_SCALE)) for x in f32]
        )
    N = {lab: len(vs) for lab, vs in q.items()}
    S = {
        lab: [sum(v[d] for v in vs) for d in range(3)]
        for lab, vs in q.items()
    }

    def within(lab):
        w = sum(
            (N[lab] * v[d] - S[lab][d]) ** 2
            for v in q[lab]
            for d in range(3)
        )
        return round(math.sqrt(w / N[lab]) / (N[lab] * _OUT_SCALE), 6)

    def dist(a, b):
        bb = sum((N[b] * S[a][d] - N[a] * S[b][d]) ** 2 for d in range(3))
        return round(math.sqrt(bb) / (N[a] * N[b] * _OUT_SCALE), 6)

    want = {}
    for lab in sorted(q):
        others = [(dist(lab, o), o) for o in sorted(q) if o != lab]
        nd, nl = min(others)
        wr = within(lab)
        ratio = round(nd / wr, 6) if wr > 0 else None
        want[lab] = (N[lab], wr, nl, nd, ratio)
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_trend_matches_reference(spark, rows):
    """Staged r15 ``series_trend_op`` equals the pure-Python integer
    reference on random data: HALF_UP signed PAA cells, exact
    normal-equation terms, pair-sign Mann–Kendall, the two rounded
    float closures."""
    from dariadb_spark.ext.timeseries import series_trend_op

    lo, hi = T0, T0 + 40 * STEP
    bucket = 10 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = {
        r.id: tuple(r)[1:]
        for r in series_trend_op(df, None, lo, hi, bucket, 0).collect()
    }
    cells: dict[int, dict[int, list[int]]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            b = t - (((t % bucket) + bucket) % bucket)
            cells.setdefault(i, {}).setdefault(b // bucket, []).append(
                _cents(v)
            )
    want = {}
    for i, by_x in cells.items():
        m = len(by_x)
        if m < 2:
            continue

        def paa(ys):
            s, n = sum(ys), len(ys)
            return (
                -((2 * (-s) + n) // (2 * n))
                if s < 0
                else (2 * s + n) // (2 * n)
            )

        pts = sorted((x, paa(ys)) for x, ys in by_x.items())
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        slope = round((m * sxy - sx * sy) / (m * sxx - sx * sx) / 100, 6)
        s_mk = sum(
            (pts[j][1] > pts[i][1]) - (pts[j][1] < pts[i][1])
            for i in range(m)
            for j in range(i + 1, m)
        )
        tau = round(2 * s_mk / (m * (m - 1)), 6)
        want[i] = (m, slope, s_mk, tau)
    assert got == want


@given(rows=_basket_rows)
@_SETTINGS
def test_part_pagerank_matches_reference(spark, rows):
    """Staged r15 ``part_pagerank_op`` equals the pure-Python replay of
    the whole five-iteration exact-integer trajectory on random basket
    graphs (distinct collapse, support-≥2 pairs, HALF_UP integer
    contributions, (rank DESC, part) top-k)."""
    from dariadb_spark.ext.relational import (
        BASKET_MIN_SUP,
        PAGERANK_TOP,
        part_pagerank_op,
    )
    from tests.test_staged_r15 import _pagerank_reference

    li = spark.createDataFrame(
        [
            (o, p, 1, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)
            for i, (o, p) in enumerate(rows)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    got = [tuple(r) for r in part_pagerank_op(li).collect()]

    baskets: dict[int, set[int]] = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(p)
    pair: dict[tuple[int, int], int] = {}
    for parts in baskets.values():
        ps = sorted(parts)
        for ai in range(len(ps)):
            for bi in range(ai + 1, len(ps)):
                k = (ps[ai], ps[bi])
                pair[k] = pair.get(k, 0) + 1
    edges = []
    for (u, v), n in pair.items():
        if n >= BASKET_MIN_SUP:
            edges += [(u, v), (v, u)]
    ref = _pagerank_reference(edges)
    want = sorted(
        ((p, r, round(r / 1_000_000, 6)) for p, r in ref.items()),
        key=lambda t: (-t[1], t[0]),
    )[:PAGERANK_TOP]
    assert got == want


# --- second r16 staging pass properties ---------------------------------------

_edge_rows = st.lists(
    st.tuples(st.integers(0, 6), st.integers(100, 106)),  # (cust, part)
    min_size=1,
    max_size=40,
)


@given(edges=_edge_rows)
@_SETTINGS
def test_part_hits_matches_reference_property(spark, edges):
    """Staged r16 ``part_hits_op`` equals the pure-Python replay of the
    whole L1-normalized integer fixpoint on random bipartite edge sets
    (distinct collapse included: duplicate purchases are one edge)."""
    from dariadb_spark.ext.relational import HITS_ITERS
    from tests.test_staged_r16 import _python_hits, _run_hits

    uniq = sorted(set(edges))
    assert _run_hits(spark, edges) == _python_hits(uniq, HITS_ITERS)


def _signed_half_up(a: int, b: int, d: int = 6) -> float:
    p = 10**d
    mag = (2 * abs(a) * p + b) // (2 * b)
    return (-mag if a < 0 else mag) / p


@given(rows=meas_lists, split_slot=st.integers(0, 40))
@_SETTINGS
def test_series_level_shift_matches_reference(spark, rows, split_slot):
    """Staged r16 ``series_level_shift_op`` equals a pure-Python Welch
    replay from the same cent ints on random series — including the
    ≥2-per-side drop, the degenerate integer branch, and the float t²
    pipeline shape."""
    from dariadb_spark.ext.timeseries import series_level_shift_op

    split = T0 + split_slot * STEP
    lo, hi = T0, T0 + 40 * STEP
    meas = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = [
        tuple(r)
        for r in series_level_shift_op(meas, None, lo, hi, split).collect()
    ]
    series: dict[int, list[tuple[int, int]]] = {}
    for i, t, v, _f in rows:
        if lo <= t <= hi:
            series.setdefault(i, []).append((t, round(v * 100)))
    want = []
    for i in sorted(series):
        ya = [y for t, y in series[i] if t < split]
        yb = [y for t, y in series[i] if t >= split]
        na, nb = len(ya), len(yb)
        if na < 2 or nb < 2:
            continue
        sa, sb = sum(ya), sum(yb)
        ssa = sum(y * y for y in ya)
        ssb = sum(y * y for y in yb)
        dmn = sa * nb - sb * na
        vna = na * ssa - sa * sa
        vnb = nb * ssb - sb * sb
        # exact-rational t2: num/den in arbitrary-precision ints,
        # HALF_UP display, pure-integer decision (mirrors the op)
        num = dmn * dmn * (na - 1) * (nb - 1)
        den = vna * nb * nb * (nb - 1) + vnb * na * na * (na - 1)
        if den == 0:
            t2, shifted = None, int(dmn != 0)
        else:
            t2 = ((2 * num * 10**4 + den) // (2 * den)) / 10**4
            shifted = int(num >= 16 * den)
        want.append(
            (i, na, nb, _signed_half_up(sa, 100 * na),
             _signed_half_up(sb, 100 * nb),
             _signed_half_up(dmn, 100 * na * nb), t2, shifted)
        )
    assert got == want


_doc_rows = st.lists(
    st.tuples(
        st.integers(0, 200),  # doc_id (duplicates allowed — two docs)
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
                min_size=1, max_size=4,
            ).map(" ".join),
        ),
    ),
    min_size=1,
    max_size=30,
)


@given(docs=_doc_rows)
@_SETTINGS
def test_text_heaps_matches_reference(spark, docs):
    """Staged r16 ``text_heaps_op`` equals a pure-Python replay of the
    range-decile growth curve on random small corpora (NULL text
    excluded, duplicate doc_ids counted as separate docs, wide HALF_UP
    type-token ratio)."""
    from dariadb_spark.ext.text import text_heaps_op
    from tests.parity import ratio_round_ref

    df = spark.createDataFrame(
        [(i, t, "en", "s", 0) for i, t in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = [tuple(r) for r in text_heaps_op(df).collect()]
    live = [(i, t) for i, t in docs if t is not None]
    if not live:
        assert got == []
        return
    mn = min(i for i, _ in live)
    span = max(i for i, _ in live) - mn + 1
    per: dict[int, list[int]] = {}
    first: dict[str, int] = {}
    toks: dict[int, int] = {}
    for i, t in live:
        d = min(9, (i - mn) * 10 // span)
        per.setdefault(d, []).append(i)
        toks[d] = toks.get(d, 0) + len(t.split(" "))
        for w in t.split(" "):
            first[w] = min(first.get(w, 99), d)
    cum_d = cum_t = cum_v = 0
    want = []
    for d in sorted(per):
        nd, nt = len(per[d]), toks[d]
        nw = sum(1 for w, fd in first.items() if fd == d)
        cum_d += nd
        cum_t += nt
        cum_v += nw
        want.append(
            (d, nd, nt, nw, cum_d, cum_t, cum_v,
             ratio_round_ref(cum_v, cum_t, 6))
        )
    assert got == want


@given(
    prices=st.lists(
        st.integers(1, 10**8).map(lambda x: x / 100.0),
        min_size=1, max_size=40,
    ),
    prio=st.lists(st.sampled_from(["A", "B"]), min_size=1, max_size=40),
)
@_SETTINGS
def test_orders_benford_matches_reference(spark, prices, prio):
    """Staged r16 ``orders_benford_op`` equals a pure-Python replay on
    random price/priority tables (sub-1 exclusion, first digit of the
    float floor, HALF_UP micro-shares, integer deviations)."""
    import math

    from dariadb_spark.ext.relational import BENFORD_MICRO, orders_benford_op
    from tests.parity import ratio_round_ref

    n = min(len(prices), len(prio))
    rows = [(k, 1, "O", prices[k],
             __import__("datetime").datetime(2024, 1, 1), prio[k])
            for k in range(n)]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    got = [tuple(r) for r in orders_benford_op(orders).collect()]
    counts: dict[tuple[str, int], int] = {}
    totals: dict[str, int] = {}
    for k in range(n):
        if prices[k] < 1:
            continue
        dg = int(str(int(math.floor(prices[k])))[0])
        counts[(prio[k], dg)] = counts.get((prio[k], dg), 0) + 1
        totals[prio[k]] = totals.get(prio[k], 0) + 1
    want = []
    for (p, dg), c in sorted(counts.items()):
        tot = totals[p]
        om = (2 * c * 10**6 + tot) // (2 * tot)
        want.append(
            (p, dg, c, tot, ratio_round_ref(c, tot, 6),
             BENFORD_MICRO[dg - 1] / 10**6,
             abs(om - BENFORD_MICRO[dg - 1]))
        )
    assert got == want


_pareto_rows = st.lists(
    st.tuples(
        st.integers(0, 7),  # custkey
        st.integers(1, 4_000_000),  # order cents
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_pareto_rows)
@_SETTINGS
def test_orders_pareto_matches_reference(spark, rows):
    """Staged r17 ``orders_pareto_op`` equals a pure-Python replay on
    random order tables: per-customer cent sums, the (cents DESC,
    custkey ASC) running total, the integer class comparisons
    (5·cum ≤ 4·total / 20·cum ≤ 19·total) and HALF_UP micro-shares —
    including ties and single-customer inputs where A/B collapse."""
    from dariadb_spark.ext.relational import orders_pareto_op

    orders = spark.createDataFrame(
        [(c, cents / 100.0) for c, cents in rows],
        "o_custkey long, o_totalprice double",
    )
    got = [tuple(r) for r in orders_pareto_op(orders).collect()]

    per: dict[int, int] = {}
    for c, cents in rows:
        per[c] = per.get(c, 0) + cents
    ranked = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(per.values())
    cum = 0
    cls: dict[str, tuple[int, int]] = {}
    for c, cents in ranked:
        cum += cents
        k = ("A" if 5 * cum <= 4 * total
             else "B" if 20 * cum <= 19 * total else "C")
        n, s = cls.get(k, (0, 0))
        cls[k] = (n + 1, s + cents)
    want = [
        (k, n, s, (2 * s * 10**6 + total) // (2 * total))
        for k, (n, s) in sorted(cls.items())
    ]
    assert got == want


_conc_rows = st.lists(
    st.tuples(
        st.integers(0, 5),  # id
        st.integers(0, 500).map(lambda s: T0 + s * 600_000),  # 10-min grid
        st.integers(-8, 8).map(lambda x: x / 4.0),  # value (exact)
        st.sampled_from([0, 1, 16]),  # flag
    ),
    min_size=1,
    max_size=50,
)


@given(rows=_conc_rows)
@_SETTINGS
def test_session_concurrency_matches_reference(spark, rows):
    """Staged r17 ``session_concurrency_op`` equals a pure-Python
    interval-stabbing replay on random multi-day traces: gap-based
    sessions per id (same 30-min gap, tie-safe order), closed-interval
    endpoint counting with starts applied before ends, the cross-day
    carry, and per-UTC-day peaks — all integers, so equality is exact."""
    from dariadb_spark.ext.analytics import (
        DAY_MS,
        SESSION_GAP_MS,
        session_concurrency_op,
    )

    meas = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = [tuple(r) for r in session_concurrency_op(meas).collect()]

    sessions: list[tuple[int, int]] = []
    by_id: dict[int, list[int]] = {}
    for i, t, v, f in rows:
        by_id.setdefault(i, []).append(t)
    for i, ts in by_id.items():
        ts.sort()
        start = prev = ts[0]
        for t in ts[1:]:
            if t - prev > SESSION_GAP_MS:
                sessions.append((start, prev))
                start = t
            prev = t
        sessions.append((start, prev))
    pts: dict[int, list[int]] = {}
    for t_start, t_end in sessions:
        pts.setdefault(t_start, [0, 0])[0] += 1
        pts.setdefault(t_end, [0, 0])[1] += 1
    cum = 0
    days: dict[int, list[int]] = {}
    for t in sorted(pts):
        s, e = pts[t]
        d = days.setdefault(t // DAY_MS, [0, 0, 0])
        d[0] += s
        d[1] += e
        d[2] = max(d[2], cum + s)
        cum += s - e
    want = [
        (day * DAY_MS, s, e, peak)
        for day, (s, e, peak) in sorted(days.items())
    ]
    assert got == want


@given(rows=meas_lists)
@_SETTINGS
def test_series_turning_points_matches_reference(spark, rows):
    """Staged r17 ``series_turning_points_op`` equals the pure-Python
    census in the tie-safe (time, value, flag) order on adversarial
    inputs: negative values, duplicate keys, plateaus (equal neighbors
    never count), and sub-3-row series dropped whole."""
    from dariadb_spark.ext.timeseries import series_turning_points_op

    lo, hi = T0, T0 + 40 * STEP
    df = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = [tuple(r) for r in series_turning_points_op(
        df, None, lo, hi, 0
    ).collect()]

    per: dict[int, list[tuple[int, float, int]]] = {}
    for i, t, v, f in rows:
        if lo <= t <= hi:
            per.setdefault(i, []).append((t, v, f))
    want = []
    for i in sorted(per):
        seq = sorted(per[i])
        ys = [_cents(v) for _t, v, _f in seq]
        n = len(ys)
        if n < 3:
            continue
        tp = sum(
            1 for k in range(1, n - 1)
            if (ys[k - 1] < ys[k] > ys[k + 1])
            or (ys[k - 1] > ys[k] < ys[k + 1])
        )
        e = ((2 * 2 * (n - 2) * 10**6 + 3) // 6) / 10**6
        z = _hup(((3.0 * tp - 2.0 * (n - 2)) / 3.0)
                 / (((16.0 * n - 29.0) / 90.0) ** 0.5), 6)
        want.append((i, n, tp, e, z))
    assert got == want


_gini_rows = st.lists(
    st.tuples(
        st.integers(0, 7),  # custkey
        st.sampled_from(["S0", "S1"]),  # segment (per customer, by key)
        st.integers(1, 4_000_000),  # order cents
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_gini_rows)
@_SETTINGS
def test_orders_gini_matches_reference(spark, rows):
    """Staged r17 ``orders_gini_op`` equals the big-int replay of the
    sorted-values identity on random orders — tie groups included (the
    rank-walk term is permutation-invariant within ties, so the replay
    may sort by (cents, custkey) exactly as the engine does)."""
    import datetime as dt

    from dariadb_spark.ext.relational import orders_gini_op

    d = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, c, "O", cents / 100.0, d, "P")
         for k, (c, _seg, cents) in enumerate(rows)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    seg_of = {c: ("S0" if c % 2 == 0 else "S1") for c, _s, _c2 in rows}
    custs = spark.createDataFrame(
        [(c, f"c{c}", 0, 0.0, s) for c, s in seg_of.items()],
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    got = [tuple(r) for r in orders_gini_op(orders, custs).collect()]

    per: dict[int, int] = {}
    for c, _seg, cents in rows:
        per[c] = per.get(c, 0) + cents
    by_seg: dict[str, list[tuple[int, int]]] = {}
    for c, cents in per.items():
        by_seg.setdefault(seg_of[c], []).append((cents, c))
    want = []
    for seg in sorted(by_seg):
        members = sorted(by_seg[seg])
        m, s = len(members), sum(c for c, _ in members)
        w = sum((r + 1) * c for r, (c, _) in enumerate(members))
        num, den = 2 * w - (m + 1) * s, m * s
        q = (2 * abs(num) * 10**6 + den) // (2 * den)
        want.append((seg, m, s, (q if num >= 0 else -q) / 10**6))
    assert got == want


_iar_rows = st.lists(
    st.tuples(
        st.integers(0, 5),  # custkey
        st.integers(0, 30),  # order day offset
    ),
    min_size=2,
    max_size=40,
)


@given(rows=_iar_rows)
@_SETTINGS
def test_order_interarrival_matches_reference(spark, rows):
    """Staged r17 ``order_interarrival_op`` equals the pure replay on
    adversarial order tables: same-day duplicates (the orderkey
    tiebreak pins gap 0), single-order customers contributing nothing,
    empty segments dropped, the two-middle median and the ⌈0.9m⌉ rank
    statistic."""
    import datetime as dt

    from dariadb_spark.ext.relational import order_interarrival_op

    base = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, c, "O", 1.0, base + dt.timedelta(days=d), "P")
         for k, (c, d) in enumerate(rows)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    custs = spark.createDataFrame(
        [(c, f"c{c}", 0, 0.0, "S0" if c % 2 == 0 else "S1")
         for c in range(6)],
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    got = [tuple(r) for r in
           order_interarrival_op(orders, custs).collect()]

    per: dict[int, list[tuple[int, int]]] = {}
    for k, (c, d) in enumerate(rows):
        per.setdefault(c, []).append((d, k))
    seg_gaps: dict[str, list[int]] = {}
    for c, evs in per.items():
        evs.sort()
        for i in range(1, len(evs)):
            seg_gaps.setdefault(
                "S0" if c % 2 == 0 else "S1", []
            ).append(evs[i][0] - evs[i - 1][0])
    want = []
    for seg in sorted(seg_gaps):
        vals = sorted(seg_gaps[seg])
        m, tot = len(vals), sum(vals)
        mean = ((2 * tot * 10**4 + m) // (2 * m)) / 10**4
        med = (vals[(m + 1) // 2 - 1] + vals[(m + 2) // 2 - 1]) / 2.0
        want.append(
            (seg, m, mean, med, vals[(9 * m + 9) // 10 - 1], vals[-1])
        )
    assert got == want


_sky_pts = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),   # brand
        st.integers(1, 8),             # cents (tiny grid → heavy ties)
        st.integers(1, 6),             # size
    ),
    min_size=1,
    max_size=40,
)


@given(pts=_sky_pts)
@_SETTINGS
def test_part_skyline_property(spark, pts):
    """Randomized dominance: the two-phase window skyline must equal
    the definitional brute-force filter on clouds dense with exact
    ties and duplicate points (the cases the fixture's 2000-part
    spread can't reach)."""
    from dariadb_spark.ext.relational import part_skyline_op
    from tests.test_staged_r19 import _skyline_brute

    df = spark.createDataFrame(
        [
            (k, "n", b, "t", s, c / 100.0)
            for k, (b, c, s) in enumerate(pts)
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    got = [tuple(r) for r in part_skyline_op(df).collect()]
    # ONE definitional reference for dominance across the test suite
    want = _skyline_brute(
        [(b, k, c, s) for k, (b, c, s) in enumerate(pts)]
    )
    assert got == want


_chunk_lens = st.lists(st.integers(0, 1200), min_size=1, max_size=30)


@given(lens=_chunk_lens)
@_SETTINGS
def test_docs_chunk_plan_property(spark, lens):
    """Randomized chunk planning: the explode plan must equal the
    per-doc python reference on arbitrary lengths, including 0 and the
    exact window/stride block boundaries."""
    from dariadb_spark.ext.sampling import (
        CHUNK_CHARS,
        CHUNK_STRIDE,
        docs_chunk_plan_op,
    )

    w, s = CHUNK_CHARS, CHUNK_STRIDE
    df = spark.createDataFrame(
        [(d, None, "en", "S", n) for d, n in enumerate(lens)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = [tuple(r) for r in docs_chunk_plan_op(df).collect()]
    want = []
    for d, n in enumerate(lens):
        nc = 1 + (max(n - w, 0) + s - 1) // s
        for i in range(nc):
            want.append(
                (d, "S", nc, i, i * s, min(w, n - i * s),
                 1 if i == nc - 1 else 0)
            )
    assert got == want
