"""Staged-operator tests, round-16 second staging pass (r17 window):
Gini, supplier HHI, order inter-arrival, turning points, link
prediction. Each operator gets (a) fixture parity vs its DuckDB oracle
at sf0.01 and (b) a planted closed-form grid pinning the contract
points the fixtures cannot reach."""

from __future__ import annotations

# ARCHIVAL TIER (r20, VERDICT r19 item 2): every operator this module
# stages has long since REGISTERED, so its oracle parity and plan shape
# are re-proven every run by the registered-surface sweeps
# (test_oracle_parity, test_plans); the planted closed-form depth here
# is opt-in so the default suite fits the driver harness's pytest
# budget. DARIADB_SLOW_TESTS=1 (the round-close evidence tier) runs it.
import os as _os

import pytest as _pytest

pytestmark = _pytest.mark.skipif(
    not _os.environ.get("DARIADB_SLOW_TESTS"),
    reason="archival staged-cohort depth; set DARIADB_SLOW_TESTS=1",
)


import datetime

from tests.parity import compare, duckdb_connection

_D = datetime.datetime(2024, 1, 1)

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_CUSTOMER_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
    " c_mktsegment string"
)
_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string"
)


def _orders(spark, rows):
    return spark.createDataFrame(rows, _ORDERS_SCHEMA)


def _customers(spark, rows):
    return spark.createDataFrame(
        [(c, f"c{c}", 0, 0.0, seg) for c, seg in rows], _CUSTOMER_SCHEMA
    )


# --- ext_orders_gini ------------------------------------------------------------

def test_orders_gini_parity_and_planted_grid(spark, oracle_sf_dir):
    """Fixture parity, then the planted two-segment grid: perfect
    equality scores EXACTLY 0, and the (1,1,1,97) split scores the
    exact rational (2·394 − 5·100) / (4·100) = 0.72."""
    from dariadb_spark.ext.relational import (
        ORDERS_GINI_SQL,
        orders_gini,
        orders_gini_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_orders_gini", orders_gini(spark, oracle_sf_dir), con,
        ORDERS_GINI_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 5

    orders = _orders(spark, [
        (1, 10, "O", 0.25, _D, "P"), (2, 10, "O", 0.75, _D, "P"),
        (3, 11, "O", 1.00, _D, "P"), (4, 12, "O", 1.00, _D, "P"),
        (5, 13, "O", 1.00, _D, "P"),
        (6, 20, "O", 0.01, _D, "P"), (7, 21, "O", 0.01, _D, "P"),
        (8, 22, "O", 0.01, _D, "P"), (9, 23, "O", 0.97, _D, "P"),
        (10, 99, "O", 5.00, _D, "P"),  # no customer row -> dropped
    ])
    custs = _customers(spark, [
        (10, "EQ"), (11, "EQ"), (12, "EQ"), (13, "EQ"),
        (20, "SKEW"), (21, "SKEW"), (22, "SKEW"), (23, "SKEW"),
    ])
    got = [tuple(r) for r in orders_gini_op(orders, custs).collect()]
    assert got == [
        ("EQ", 4, 400, 0.0),
        ("SKEW", 4, 100, 0.72),
    ], got


def test_orders_gini_single_customer_is_zero(spark):
    """n = 1 collapses the identity to (2S − 2S)/S = 0 exactly."""
    from dariadb_spark.ext.relational import orders_gini_op

    got = [tuple(r) for r in orders_gini_op(
        _orders(spark, [(1, 10, "O", 123.45, _D, "P")]),
        _customers(spark, [(10, "ONLY")]),
    ).collect()]
    assert got == [("ONLY", 1, 12345, 0.0)], got


def test_orders_gini_matches_python_reference(spark):
    """Deterministic pseudo-random revenues over 3 segments vs the
    pure-Python big-int replay of the full rank identity."""
    from dariadb_spark.ext.relational import orders_gini_op

    n = 300
    cents = [((i * 2654435761) % 99991) + 1 for i in range(n)]
    segs = ["S0", "S1", "S2"]
    orders = _orders(spark, [
        (i, i, "O", c / 100.0, _D, "P") for i, c in enumerate(cents)
    ])
    custs = _customers(spark, [(i, segs[i % 3]) for i in range(n)])
    got = [tuple(r) for r in orders_gini_op(orders, custs).collect()]

    want = []
    for si, seg in enumerate(segs):
        members = sorted(
            (cents[i], i) for i in range(n) if i % 3 == si
        )
        m, s = len(members), sum(c for c, _ in members)
        wsum = sum((r + 1) * c for r, (c, _) in enumerate(members))
        num, den = 2 * wsum - (m + 1) * s, m * s
        q, rm = divmod(2 * abs(num) * 10**6 + den, 2 * den)
        want.append((seg, m, s, (q if num >= 0 else -q) / 10**6))
    assert got == want


def test_orders_gini_wide_denominator_past_int64_cliff(spark):
    """3000 customers × ~4e12 cents: n·S ≈ 3.6e19 outgrows int64, the
    cliff the old int64 denominator silently wrapped at (ADVICE r16).
    Both the wsum numerator AND the n·S denominator now ride
    DECIMAL(38,0), so the planted big-int replay must match exactly.
    Cents are multiples of 100 so o_totalprice = cents/100 and the
    round(×100) recovery are both exact in double."""
    from dariadb_spark.ext.relational import orders_gini_op

    n = 3000
    cents = [4_000_000_000_000 + i * 100 for i in range(n)]
    orders = _orders(spark, [
        (i, i, "O", c / 100.0, _D, "P") for i, c in enumerate(cents)
    ])
    custs = _customers(spark, [(i, "WIDE") for i in range(n)])
    got = [tuple(r) for r in orders_gini_op(orders, custs).collect()]

    members = sorted((c, i) for i, c in enumerate(cents))
    s = sum(c for c, _ in members)
    assert n * s > 2**63 - 1  # the planted cliff is actually crossed
    wsum = sum((r + 1) * c for r, (c, _) in enumerate(members))
    num, den = 2 * wsum - (n + 1) * s, n * s
    q, _rm = divmod(2 * abs(num) * 10**6 + den, 2 * den)
    want = [("WIDE", n, s, (q if num >= 0 else -q) / 10**6)]
    assert got == want


# --- ext_supplier_hhi -----------------------------------------------------------

def _li(spark, rows):
    """rows: (orderkey, suppkey, price, discount)"""
    return spark.createDataFrame(
        [(o, 1, s, 1, 1.0, p, d, 0.0, "N", "O") for o, s, p, d in rows],
        _LI_SCHEMA,
    )


def _sups(spark, rows):
    return spark.createDataFrame(
        [(s, f"s{s}", nk, 0.0) for s, nk in rows],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    )


def _nats(spark, rows):
    return spark.createDataFrame(
        [(nk, nm, 0) for nk, nm in rows],
        "n_nationkey long, n_name string, n_regionkey long",
    )


def test_supplier_hhi_parity_and_planted_grid(spark, oracle_sf_dir):
    """Fixture parity, then the planted three-nation grid: duopoly
    50/50 → exactly 500000 micro, monopoly → 1000000, four equal →
    250000; the discount path exercises the per-row money rounding."""
    from dariadb_spark.ext.relational import (
        SUPPLIER_HHI_SQL,
        supplier_hhi,
        supplier_hhi_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_supplier_hhi", supplier_hhi(spark, oracle_sf_dir), con,
        SUPPLIER_HHI_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 25

    li = _li(spark, [
        (1, 100, 1.00, 0.0), (2, 101, 0.50, 0.0), (3, 101, 0.50, 0.0),
        (4, 200, 2.00, 0.5),  # -> 100 cents after the 50% discount
        (5, 300, 0.25, 0.0), (6, 301, 0.25, 0.0),
        (7, 302, 0.25, 0.0), (8, 303, 0.25, 0.0),
    ])
    sups = _sups(spark, [
        (100, 0), (101, 0), (200, 1),
        (300, 2), (301, 2), (302, 2), (303, 2),
    ])
    nats = _nats(spark, [(0, "DUO"), (1, "MONO"), (2, "QUAD")])
    got = [tuple(r) for r in supplier_hhi_op(li, sups, nats).collect()]
    assert got == [
        ("DUO", 2, 200, 500000),
        ("MONO", 1, 100, 1000000),
        ("QUAD", 4, 100, 250000),
    ], got


def test_supplier_hhi_matches_python_reference(spark):
    """Deterministic pseudo-random line revenues vs the big-int
    replay: per-row cent rounding, supplier sums, Σc²/T² HALF_UP."""
    from dariadb_spark.ext.relational import supplier_hhi_op

    n = 500
    li = _li(spark, [
        (i, 100 + (i % 37), (((i * 48271) % 9973) + 1) / 100.0, 0.0)
        for i in range(n)
    ])
    sups = _sups(spark, [(100 + s, s % 3) for s in range(37)])
    nats = _nats(spark, [(0, "N0"), (1, "N1"), (2, "N2")])
    got = [tuple(r) for r in supplier_hhi_op(li, sups, nats).collect()]

    per: dict[int, int] = {}
    for i in range(n):
        s = 100 + (i % 37)
        per[s] = per.get(s, 0) + ((i * 48271) % 9973) + 1
    want = []
    for nk, nm in [(0, "N0"), (1, "N1"), (2, "N2")]:
        cs = [c for s, c in per.items() if (s - 100) % 3 == nk]
        t, sq = sum(cs), sum(c * c for c in cs)
        want.append(
            (nm, len(cs), t, (2 * sq * 10**6 + t * t) // (2 * t * t))
        )
    assert got == sorted(want)


# --- ext_order_interarrival -----------------------------------------------------

def test_order_interarrival_parity_and_planted_grid(spark, oracle_sf_dir):
    """Fixture parity, then the planted cadence grid: gaps (1, 2, 3)
    pin mean 2.0 / median 2.0 / p90 = 3 / max 3; a same-day order pair
    pins the orderkey tiebreak to gap 0; an even gap count pins the
    two-middle median (1.5)."""
    from dariadb_spark.ext.relational import (
        ORDER_INTERARRIVAL_SQL,
        order_interarrival,
        order_interarrival_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_order_interarrival", order_interarrival(spark, oracle_sf_dir),
        con, ORDER_INTERARRIVAL_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 5

    def day(k):
        return _D + datetime.timedelta(days=k)

    orders = _orders(spark, [
        # cust 10 (SEG1): days 0,1,3,6 -> gaps 1,2,3
        (1, 10, "O", 1.0, day(0), "P"), (2, 10, "O", 1.0, day(1), "P"),
        (3, 10, "O", 1.0, day(3), "P"), (4, 10, "O", 1.0, day(6), "P"),
        # cust 20 (SEG2): same-day pair then +1, +2 -> gaps 0,1,2
        (5, 20, "O", 1.0, day(0), "P"), (6, 20, "O", 1.0, day(0), "P"),
        (7, 20, "O", 1.0, day(1), "P"), (8, 20, "O", 1.0, day(3), "P"),
        # cust 21 (SEG2): one more gap of 3 -> SEG2 gaps 0,1,2,3
        (9, 21, "O", 1.0, day(0), "P"), (10, 21, "O", 1.0, day(3), "P"),
        # cust 30 (SEG3): single order -> no gap, segment absent
        (11, 30, "O", 1.0, day(0), "P"),
    ])
    custs = _customers(spark, [
        (10, "SEG1"), (20, "SEG2"), (21, "SEG2"), (30, "SEG3"),
    ])
    got = [tuple(r) for r in
           order_interarrival_op(orders, custs).collect()]
    assert got == [
        ("SEG1", 3, 2.0, 2.0, 3, 3),
        ("SEG2", 4, 1.5, 1.5, 3, 3),
    ], got


def test_order_interarrival_matches_python_reference(spark):
    """Deterministic pseudo-random order days vs the pure replay of
    the per-customer (date, orderkey) lag walk and the rank
    statistics."""
    from dariadb_spark.ext.relational import order_interarrival_op

    n = 400
    rows = []
    for k in range(n):
        c = k % 40
        d = (k * 48271) % 200
        rows.append((k, c, "O", 1.0,
                     _D + datetime.timedelta(days=d), "P"))
    orders = _orders(spark, rows)
    custs = _customers(spark, [(c, f"S{c % 4}") for c in range(40)])
    got = [tuple(r) for r in
           order_interarrival_op(orders, custs).collect()]

    per: dict[int, list[tuple[int, int]]] = {}
    for k, c, _s, _p, dt, _pr in rows:
        per.setdefault(c, []).append(((dt - _D).days, k))
    seg_gaps: dict[str, list[tuple[int, int, int]]] = {}
    for c, evs in per.items():
        evs.sort()
        for rn in range(1, len(evs)):
            seg_gaps.setdefault(f"S{c % 4}", []).append(
                (evs[rn][0] - evs[rn - 1][0], c, rn + 1)
            )
    want = []
    for seg, gaps in sorted(seg_gaps.items()):
        gaps.sort()
        m = len(gaps)
        vals = [g for g, _c, _r in gaps]
        tot = sum(vals)
        mean = ((2 * tot * 10**4 + m) // (2 * m)) / 10**4
        lo, hi = (m + 1) // 2 - 1, (m + 2) // 2 - 1
        med = (vals[lo] + vals[hi]) / 2.0
        p90 = vals[(9 * m + 9) // 10 - 1]
        want.append((seg, m, mean, med, p90, max(vals)))
    assert got == want


# --- ext_series_turning_points --------------------------------------------------

def test_series_turning_points_parity_and_planted_grid(
    spark, oracle_sf_dir
):
    """Fixture parity, then the planted grid pinning every branch: a
    perfect alternation (T = n−2), a monotone ramp (T = 0), a plateau
    series where equal neighbors never count, and an n = 2 series that
    is dropped whole."""
    from dariadb_spark.ext.timeseries import (
        SERIES_TURNING_POINTS_SQL,
        series_turning_points,
        series_turning_points_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_turning_points",
        series_turning_points(spark, oracle_sf_dir), con,
        SERIES_TURNING_POINTS_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 15

    rows = []
    for t in range(10):  # id 0: alternation -> T = 8
        rows.append((0, 1000 + t, 1.0 if t % 2 == 0 else -1.0, 0))
    for t in range(10):  # id 1: ramp -> T = 0
        rows.append((1, 1000 + t, float(t), 0))
    # id 2: 1,2,2,1 -> plateau, no STRICT extremum anywhere
    for t, v in enumerate([1.0, 2.0, 2.0, 1.0]):
        rows.append((2, 1000 + t, v, 0))
    rows += [(3, 1000, 5.0, 0), (3, 1001, -5.0, 0)]  # n=2 -> dropped
    meas = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = [tuple(r) for r in series_turning_points_op(
        meas, None, 0, 10_000, 0
    ).collect()]

    def z(t, n):
        return round(((3.0 * t - 2.0 * (n - 2)) / 3.0)
                     / (((16.0 * n - 29.0) / 90.0) ** 0.5), 6)

    def exp6(n):
        return ((2 * 2 * (n - 2) * 10**6 + 3) // 6) / 10**6

    assert got == [
        (0, 10, 8, exp6(10), z(8, 10)),
        (1, 10, 0, exp6(10), z(0, 10)),
        (2, 4, 0, exp6(4), z(0, 4)),
    ], got


def test_series_turning_points_matches_python_reference(spark):
    """Deterministic pseudo-random walk vs the pure-Python census in
    the same tie-safe (time, value, flag) order, duplicates included."""
    from dariadb_spark.ext.timeseries import series_turning_points_op

    rows = []
    for i in range(8):
        for t in range(60):
            v = (((i * 61 + t) * 48271) % 7) - 3  # small ints, many ties
            rows.append((i, 1000 + t * 3, float(v), t % 2))
    meas = spark.createDataFrame(
        rows, "id bigint, time bigint, value double, flag bigint"
    )
    got = [tuple(r) for r in series_turning_points_op(
        meas, None, 0, 10_000, 0
    ).collect()]

    want = []
    for i in range(8):
        seq = sorted(
            (t, v, f) for (j, t, v, f) in rows if j == i
        )
        ys = [int(round(v * 100)) for _t, v, _f in seq]
        n = len(ys)
        tp = sum(
            1 for k in range(1, n - 1)
            if (ys[k - 1] < ys[k] > ys[k + 1])
            or (ys[k - 1] > ys[k] < ys[k + 1])
        )
        e = ((2 * 2 * (n - 2) * 10**6 + 3) // 6) / 10**6
        zz = round(((3.0 * tp - 2.0 * (n - 2)) / 3.0)
                   / (((16.0 * n - 29.0) / 90.0) ** 0.5), 6)
        want.append((i, n, tp, e, zz))
    assert got == want


# --- ext_part_link_pred ---------------------------------------------------------

def test_part_link_pred_parity_and_planted_graph(spark, oracle_sf_dir):
    """Fixture parity, then the planted butterfly: a−c1, a−c2, b−c1,
    b−c2 (no a−b edge) scores cn(a,b) = 2 THROUGH the two shared
    neighbors and cn(c1,c2) = 2 symmetrically, while adjacent pairs
    never appear; a pendant path pins cn = 1."""
    from dariadb_spark.ext.relational import (
        PART_LINK_PRED_SQL,
        part_link_pred,
        part_link_pred_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_part_link_pred", part_link_pred(spark, oracle_sf_dir), con,
        PART_LINK_PRED_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 20

    # butterfly on 1,2 via 3,4 plus the pendant path 5-6-7
    edges = [(1, 3), (1, 4), (2, 3), (2, 4), (5, 6), (6, 7)]
    rows = []
    for k, (x, y) in enumerate(edges):
        for copy in (0, 1):
            o = 100 + 2 * k + copy
            rows.append((o, 1, x, 1, 1.0, 1.0, 0.0, 0.0, "N", "O"))
            rows.append((o, 1, y, 2, 1.0, 1.0, 0.0, 0.0, "N", "O"))
    li = spark.createDataFrame(
        [(o, p, p, ln, q, ep, d, t, rf, ls)
         for (o, _s, p, ln, q, ep, d, t, rf, ls) in rows],
        _LI_SCHEMA,
    )
    got = [tuple(r) for r in part_link_pred_op(li).collect()]
    assert got == [
        (1, 2, 2, 2, 2),
        (3, 4, 2, 2, 2),
        (5, 7, 1, 1, 1),
    ], got


def test_part_link_pred_matches_brute_force_random_graphs(spark):
    """Random support-2 graphs vs the brute-force O(V³) census:
    common-neighbor counts of every non-adjacent pair, top-k tie
    order included."""
    from itertools import combinations

    from dariadb_spark.ext.relational import LINKPRED_TOP, part_link_pred_op

    for seed in (1, 2):
        nodes = list(range(1, 13))
        edges = sorted(
            (x, y) for x, y in combinations(nodes, 2)
            if ((x * 31 + y * 17 + seed * 101) * 48271) % 5 == 0
        )
        rows = []
        for k, (x, y) in enumerate(edges):
            for copy in (0, 1):
                o = 1000 * seed + 2 * k + copy
                rows.append((o, x, 1), )
                rows.append((o, y, 2), )
        li = spark.createDataFrame(
            [(o, p, p, ln, 1.0, 1.0, 0.0, 0.0, "N", "O")
             for (o, p, ln) in rows],
            _LI_SCHEMA,
        )
        got = [tuple(r) for r in part_link_pred_op(li).collect()]

        adj = {n: set() for n in nodes}
        for x, y in edges:
            adj[x].add(y)
            adj[y].add(x)
        cand = []
        for x, y in combinations(nodes, 2):
            if y in adj[x]:
                continue
            cn = len(adj[x] & adj[y])
            if cn > 0:
                cand.append((x, y, cn, len(adj[x]), len(adj[y])))
        cand.sort(key=lambda r: (-r[2], r[0], r[1]))
        assert got == cand[:LINKPRED_TOP], (seed, got[:5], cand[:5])


# --- streaming_turning_parity ---------------------------------------------------

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


def test_streaming_turning_parity_vs_batch_oracle(spark, oracle_sf_dir):
    """The ingest twin folded one file per micro-batch over the
    tercile-cut slice equals the batch SERIES_TURNING_POINTS_SQL
    oracle — the sliding 3-window carries across both cuts."""
    from dariadb_spark.ext.timeseries import SERIES_TURNING_POINTS_SQL
    from dariadb_spark.streaming.turning import streaming_turning_parity

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "streaming_turning_parity",
        streaming_turning_parity(spark, oracle_sf_dir), con,
        SERIES_TURNING_POINTS_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 15


def test_turning_fold_matches_python_census_across_cuts():
    """In-process fold property: random cent walks cut into random
    in-order batches yield the standing (n, t_points) of the one-shot
    census — including cuts INSIDE plateaus and right after extrema."""
    import numpy as np
    import pandas as pd

    from dariadb_spark.streaming.turning import _turning_fold

    rng = np.random.default_rng(7)
    for trial in range(5):
        n = int(rng.integers(3, 80))
        y = rng.integers(-5, 6, size=n).astype(np.int64)
        t = np.arange(n, dtype=np.int64) * 1000
        pdf = pd.DataFrame({
            "id": 9, "time": t, "value": y / 100.0,
            "flag": np.zeros(n, dtype=np.int64), "y": y,
        })
        st = _FakeState()
        cuts = sorted(set(rng.integers(1, n, size=2).tolist()))
        last, lo = None, 0
        for hi in cuts + [n]:
            if hi <= lo:
                continue
            out = list(_turning_fold((9,), iter([pdf.iloc[lo:hi]]), st))
            last = out[-1]
            lo = hi
        row = last.iloc[0]
        tp = sum(
            1 for k in range(1, n - 1)
            if (y[k - 1] < y[k] > y[k + 1]) or (y[k - 1] > y[k] < y[k + 1])
        )
        assert (row["n"], row["t_points"]) == (n, tp), trial


def test_turning_fold_raises_on_cross_batch_out_of_order():
    """A later micro-batch whose first row sorts STRICTLY before the
    standing last key must raise, not corrupt the census."""
    import numpy as np
    import pandas as pd
    import pytest

    from dariadb_spark.streaming.turning import _turning_fold

    def batch(ts):
        return pd.DataFrame({
            "id": 9,
            "time": np.array(ts, dtype=np.int64),
            "value": np.zeros(len(ts)),
            "flag": np.zeros(len(ts), dtype=np.int64),
            "y": np.zeros(len(ts), dtype=np.int64),
        })

    st = _FakeState()
    list(_turning_fold((9,), iter([batch([1000, 2000])]), st))
    with pytest.raises(ValueError, match="in-order ingest contract"):
        list(_turning_fold((9,), iter([batch([1500])]), st))


def test_turning_fold_accepts_cross_batch_duplicate_key():
    """An EXACT-duplicate (time, value, flag) key split across triggers
    is a legitimate plateau sample, not disorder — the batch operator
    counts duplicate-bearing input fine (equal neighbors are never
    strict extrema), so the streaming twin must accept it and reach the
    same census (ADVICE r16). Planted walk: y = 0,5,5,0 with the
    duplicate peak sample cut across the trigger boundary — one strict
    extremum either way? No: the plateau peak 5,5 is NOT strict, so
    t_points stays 0; versus the control walk 0,5,0 which counts 1."""
    import numpy as np
    import pandas as pd

    from dariadb_spark.streaming.turning import _turning_fold

    def batch(ts, ys):
        return pd.DataFrame({
            "id": 9,
            "time": np.array(ts, dtype=np.int64),
            "value": np.array(ys, dtype=np.float64) / 100.0,
            "flag": np.zeros(len(ts), dtype=np.int64),
            "y": np.array(ys, dtype=np.int64),
        })

    # duplicate peak key (2000, 0.05, 0) lands again in batch 2
    st = _FakeState()
    list(_turning_fold((9,), iter([batch([1000, 2000], [0, 5])]), st))
    out = list(
        _turning_fold((9,), iter([batch([2000, 3000], [5, 0])]), st)
    )
    row = out[-1].iloc[0]
    assert (row["n"], row["t_points"]) == (4, 0)

    # control: the strict peak without the duplicate still counts
    st2 = _FakeState()
    list(_turning_fold((9,), iter([batch([1000, 2000], [0, 5])]), st2))
    out2 = list(_turning_fold((9,), iter([batch([3000], [0])]), st2))
    row2 = out2[-1].iloc[0]
    assert (row2["n"], row2["t_points"]) == (3, 1)


# --- plans/prefix: the two-pass distributed rank the screens swap in -----------

def test_ranked_prefix_equals_global_window(spark):
    """The two-pass (range-partition → local window → broadcast carry)
    rank/cumsum equals the global window on tie-heavy random input —
    the at-scale swap the Pareto/Gini docstrings promise, as a pinned
    equality contract."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dariadb_spark.plans.prefix import ranked_prefix

    cents = [((i * 2654435761) % 97) + 1 for i in range(500)]  # many ties
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "o_custkey long, cents long",
    )
    order = [F.col("cents").desc(), F.col("o_custkey").asc()]
    got = sorted(
        tuple(r)
        for r in ranked_prefix(df, order, "cents", n_partitions=7)
        .select("o_custkey", "cents", "rn", "cum").collect()
    )
    w = Window.orderBy(*order)
    want = sorted(
        tuple(r)
        for r in df.select(
            "o_custkey", "cents",
            F.row_number().over(w).alias("rn"),
            F.sum("cents").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum"),
        ).collect()
    )
    assert got == want


def test_ranked_prefix_preserves_value_type(spark):
    """ranked_prefix is presented as a general two-pass equivalent of a
    window sum, so ``cum`` must come back in the SAME type (and with the
    same values) the global window's sum(value) produces for decimal and
    double value columns too — the unconditional long cast it used to
    apply would silently truncate both (ADVICE r16)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dariadb_spark.plans.prefix import ranked_prefix

    order = [F.col("v").desc(), F.col("k").asc()]
    w = Window.orderBy(*order)

    for ddl, vals in (
        ("k long, v double", [0.25, 1.5, 2.75, 0.125, 3.5]),
        ("k long, v decimal(20,2)", None),  # filled below
    ):
        if vals is None:
            from decimal import Decimal

            vals = [Decimal("10000000000000000.25") + i for i in range(5)]
        df = spark.createDataFrame(list(enumerate(vals)), ddl)
        got_df = ranked_prefix(df, order, "v", n_partitions=3)
        want_df = df.select(
            "k", "v",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum"),
        )
        assert (
            got_df.schema["cum"].dataType == want_df.schema["cum"].dataType
        ), ddl
        got = sorted(tuple(r) for r in
                     got_df.select("k", "v", "rn", "cum").collect())
        want = sorted(tuple(r) for r in want_df.collect())
        assert got == want, ddl


# --- ext_customer_migration -----------------------------------------------------

def test_customer_migration_parity_and_planted_reversal(
    spark, oracle_sf_dir
):
    """Fixture parity, then the planted 4-customer reversal: revenues
    (400, 300, 200, 100) in period A exactly reverse in period B, so
    with m = 4 the decile walk 1+((rn−1)·10) DIV 4 maps ranks
    (1,2,3,4) → deciles (1,3,6,8) and the matrix is the anti-diagonal;
    an A-only and a B-only customer are dropped by the active-both
    gate."""
    from dariadb_spark.ext.relational import (
        CUSTOMER_MIGRATION_SQL,
        customer_migration,
        customer_migration_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_customer_migration", customer_migration(spark, oracle_sf_dir),
        con, CUSTOMER_MIGRATION_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 100

    a = datetime.datetime(1997, 1, 1)
    b = datetime.datetime(1999, 1, 1)
    rows, k = [], 0
    rev_a = {10: 400, 11: 300, 12: 200, 13: 100}
    for c, cents in rev_a.items():
        rows.append((k, c, "O", cents / 100.0, a, "P")); k += 1
        rows.append((k, c, "O", (500 - cents) / 100.0, b, "P")); k += 1
    rows.append((k, 90, "O", 9.0, a, "P")); k += 1   # A-only -> dropped
    rows.append((k, 91, "O", 9.0, b, "P"))           # B-only -> dropped
    got = [tuple(r) for r in
           customer_migration_op(_orders(spark, rows)).collect()]
    # ranks A: 10,11,12,13 -> deciles 1,3,6,8; B reverses: 8,6,3,1
    assert got == [
        (1, 8, 1, 400, 100),
        (3, 6, 1, 300, 200),
        (6, 3, 1, 200, 300),
        (8, 1, 1, 100, 400),
    ], got


def test_customer_migration_matches_python_reference(spark):
    """Pseudo-random two-period revenues vs the pure integer replay of
    the active-both gate, both rank walks, and the decile grid."""
    from dariadb_spark.ext.relational import customer_migration_op

    a = datetime.datetime(1996, 6, 1)
    b = datetime.datetime(2000, 6, 1)
    n = 120
    rows, k = [], 0
    rev = {}
    for c in range(n):
        ca = ((c * 48271) % 500)        # 0 -> A-inactive for some
        cb = ((c * 2654435761) % 400)   # 0 -> B-inactive for some
        rev[c] = (ca, cb)
        if ca:
            rows.append((k, c, "O", ca / 100.0, a, "P")); k += 1
        if cb:
            rows.append((k, c, "O", cb / 100.0, b, "P")); k += 1
    got = [tuple(r) for r in
           customer_migration_op(_orders(spark, rows)).collect()]

    kept = {c: v for c, v in rev.items() if v[0] > 0 and v[1] > 0}
    m = len(kept)
    ra = {c: r + 1 for r, c in enumerate(
        sorted(kept, key=lambda c: (-kept[c][0], c)))}
    rb = {c: r + 1 for r, c in enumerate(
        sorted(kept, key=lambda c: (-kept[c][1], c)))}
    cells: dict[tuple[int, int], list[int]] = {}
    for c, (ca, cb) in kept.items():
        key = (1 + ((ra[c] - 1) * 10) // m, 1 + ((rb[c] - 1) * 10) // m)
        cell = cells.setdefault(key, [0, 0, 0])
        cell[0] += 1
        cell[1] += ca
        cell[2] += cb
    want = [(da, db, *v) for (da, db), v in sorted(cells.items())]
    assert got == want


def test_gini_distributed_equals_window_gini(spark):
    """The partitioned two-pass Gini equals orders_gini_op on planted
    and pseudo-random multi-segment revenues — the per-segment rank
    restart and the per-group offset carry both exercised (7 range
    slices over 3 interleaved segments)."""
    from dariadb_spark.ext.relational import orders_gini_op
    from dariadb_spark.plans.prefix import gini_distributed

    n = 300
    cents = [((i * 2654435761) % 99991) + 1 for i in range(n)]
    orders = _orders(spark, [
        (i, i, "O", c / 100.0, _D, "P") for i, c in enumerate(cents)
    ])
    custs = _customers(spark, [(i, f"S{i % 3}") for i in range(n)])
    want = [tuple(r) for r in orders_gini_op(orders, custs).collect()]
    per = orders.selectExpr(
        "o_custkey", "CAST(round(o_totalprice * 100) AS BIGINT) AS cents"
    ).join(
        custs.selectExpr("c_custkey AS o_custkey",
                         "c_mktsegment AS mktsegment"),
        "o_custkey",
    )
    got = [
        tuple(r) for r in gini_distributed(per, n_partitions=7).collect()
    ]
    assert got == want
