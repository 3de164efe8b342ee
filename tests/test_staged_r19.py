"""Staged round-19 operators: parity + planted closed-form fixtures +
python-reference replays (the staging discipline every late operator
goes through BEFORE its registration round — registry.py's staged-count
comment is the source of truth for what is staged)."""

from __future__ import annotations

import datetime

import pytest

from tests.parity import compare, duckdb_connection

_D = datetime.datetime(2024, 1, 1)

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp"
)
_MEAS_SCHEMA = "id long, time long, value double, flag long"


def _orders(spark, rows):
    return spark.createDataFrame(rows, _ORDERS_SCHEMA)


def _li(spark, rows):
    """rows: (orderkey, partkey, linenumber, quantity, discount,
    returnflag, shipdate)"""
    return spark.createDataFrame(
        [
            (o, p, 1, ln, q, 100.0, d, 0.0, rf, "O", sd)
            for o, p, ln, q, d, rf, sd in rows
        ],
        _LI_SCHEMA,
    )


def _meas(spark, rows):
    return spark.createDataFrame(rows, _MEAS_SCHEMA)


def _half_up(num: int, den: int) -> int:
    return (2 * num + den) // (2 * den)


def _half_up_signed(num: int, den: int, d: int) -> float:
    """HALF_UP(num/den, d) with num possibly negative, den > 0 — the
    signed wide rational both engines emit."""
    p = 10**d
    mag = (2 * abs(num) * p + den) // (2 * den)
    return (-mag if num < 0 else mag) / p


# --- ext_part_assortativity ---------------------------------------------------------

def test_part_assortativity_parity_and_planted_graph(spark, oracle_sf_dir):
    """Fixture parity, then the triangle+pendant graph where Newman's r
    is a hand-checkable rational, then the degree-regular degenerate
    (den = 0 → explicit 0.0)."""
    from dariadb_spark.ext.relational import (
        PART_ASSORTATIVITY_SQL,
        part_assortativity,
        part_assortativity_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_part_assortativity",
        part_assortativity(spark, oracle_sf_dir),
        con, PART_ASSORTATIVITY_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 1

    def graph(edges):
        rows, ok = [], 100
        for x, y in edges:
            for _ in range(2):  # clear support >= 2
                rows.append((ok, x, 1, 1.0, 0.0, "N", _D))
                rows.append((ok, y, 2, 1.0, 0.0, "N", _D))
                ok += 1
        return _li(spark, rows)

    # triangle 1-2-3 + pendant 3-4: degrees 2,2,3,1
    # edges (dx,dy): (2,2) (2,3) (2,3) (3,1); M=8, S1=18,
    # 2*Sxy_half=38, Sq=44 → num = 8*38-324 = -20, den = 8*44-324 = 28
    got = [tuple(r) for r in part_assortativity_op(
        graph([(1, 2), (1, 3), (2, 3), (3, 4)])
    ).collect()]
    assert got == [(4, 4, 18, _half_up_signed(-20, 28, 6))]

    # 4-cycle: degree-regular → den = 0 → explicit 0.0
    got = [tuple(r) for r in part_assortativity_op(
        graph([(1, 2), (2, 3), (3, 4), (1, 4)])
    ).collect()]
    assert got == [(4, 4, 16, 0.0)]


def test_part_assortativity_matches_python_replay(spark):
    """Pseudo-random co-purchase tables vs a pure-Python Newman replay
    (same support threshold, same signed wide HALF_UP closure)."""
    from collections import Counter, defaultdict

    from dariadb_spark.ext.relational import (
        BASKET_MIN_SUP,
        part_assortativity_op,
    )

    rows = []
    for trial in range(160):
        a = (trial * 48271) % 13
        b = (trial * 69621) % 13
        if a == b:
            continue
        rows.append((trial + 1, a, 1, 1.0, 0.0, "N", _D))
        rows.append((trial + 1, b, 2, 1.0, 0.0, "N", _D))
    got = [
        tuple(r) for r in part_assortativity_op(_li(spark, rows)).collect()
    ]

    baskets = defaultdict(set)
    for r in rows:
        baskets[r[0]].add(r[1])
    sup = Counter()
    for parts in baskets.values():
        for x in parts:
            for y in parts:
                if x < y:
                    sup[(x, y)] += 1
    edges = sorted(e for e, s in sup.items() if s >= BASKET_MIN_SUP)
    deg = Counter()
    for x, y in edges:
        deg[x] += 1
        deg[y] += 1
    m = 2 * len(edges)
    s1 = sum(deg[x] + deg[y] for x, y in edges)
    sxy2 = 2 * sum(deg[x] * deg[y] for x, y in edges)
    sq = sum(deg[x] ** 2 + deg[y] ** 2 for x, y in edges)
    num, den = m * sxy2 - s1 * s1, m * sq - s1 * s1
    want_r = 0.0 if den == 0 else _half_up_signed(num, den, 6)
    assert got == [(len(deg), len(edges), s1, want_r)]


# --- ext_series_vr_test -------------------------------------------------------------

def test_series_vr_test_parity_and_planted_grids(spark, oracle_sf_dir):
    """Fixture parity, then two closed-form grids: a unit ramp (VR is
    an exact rational — persistence reads > 1) and an alternator
    (block sums vanish → VR = 0, strong mean reversion)."""
    from dariadb_spark.ext.timeseries import (
        SERIES_VR_TEST_SQL,
        VR_BLOCK,
        series_vr_test,
        series_vr_test_op,
    )

    assert VR_BLOCK == 4
    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_vr_test", series_vr_test(spark, oracle_sf_dir),
        con, SERIES_VR_TEST_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0

    # ramp c=1..8 (two 4-blocks): B=(10,26) → SSq = 2*776-36² = 256;
    # SS1 = 8*204-36² = 336 → VR = 256*8*7/(4*336*2*1) = 16/3
    rows = [(1, i * 1000, (i + 1) / 100.0, 0) for i in range(8)]
    # alternator ±1.00 over 8 samples: every 4-block sums to 0 → VR = 0
    rows += [(2, i * 1000, 1.0 if i % 2 == 0 else -1.0, 0)
             for i in range(8)]
    got = [tuple(r) for r in series_vr_test_op(
        _meas(spark, rows), 4
    ).collect()]
    assert got == [
        (1, 2, _half_up_signed(16, 3, 6)),
        (2, 2, 0.0),
    ]


def test_series_vr_test_matches_python_replay(spark):
    """Pseudo-random cent walks vs the exact-rational python replay
    (complete blocks only, both variances over the same n' samples)."""
    from dariadb_spark.ext.timeseries import series_vr_test_op

    q = 4
    cents = {
        sid: [((i * 48271 + sid * 911) % 500) - 250
              for i in range(23 + 5 * sid)]
        for sid in range(5)
    }
    rows = [
        (sid, i * 1000, c / 100.0, 0)
        for sid, cs in cents.items()
        for i, c in enumerate(cs)
    ]
    got = [tuple(r) for r in series_vr_test_op(
        _meas(spark, rows), q
    ).collect()]

    want = []
    for sid in sorted(cents):
        cs = cents[sid]
        nb = len(cs) // q
        if nb < 2:
            continue
        used = cs[: nb * q]
        bs = [sum(used[j * q:(j + 1) * q]) for j in range(nb)]
        n2 = nb * q
        ss1 = n2 * sum(c * c for c in used) - sum(used) ** 2
        ssq = nb * sum(b * b for b in bs) - sum(bs) ** 2
        if ss1 <= 0:
            continue
        num = ssq * n2 * (n2 - 1)
        den = q * ss1 * nb * (nb - 1)
        want.append((sid, nb, _half_up_signed(num, den, 6)))
    assert got == want
    assert len(got) >= 4


# --- ext_orders_seasonality ---------------------------------------------------------

def test_orders_seasonality_parity_and_planted_mix(spark, oracle_sf_dir):
    """Fixture parity, then a planted 3-order mix including the exact
    .5-cent HALF_UP case (0.125 → 13 cents, where banker's rounding
    would give 12)."""
    from dariadb_spark.ext.relational import (
        ORDERS_SEASONALITY_SQL,
        orders_seasonality,
        orders_seasonality_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_orders_seasonality",
        orders_seasonality(spark, oracle_sf_dir),
        con, ORDERS_SEASONALITY_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 12

    jan, feb = datetime.datetime(1995, 1, 15), datetime.datetime(1996, 2, 1)
    got = [tuple(r) for r in orders_seasonality_op(_orders(spark, [
        (1, 10, "O", 0.125, jan, "P"),   # 12.5 cents → HALF_UP 13
        (2, 11, "O", 1.0, jan, "P"),     # 100
        (3, 12, "O", 3.0, feb, "P"),     # 300
    ])).collect()]
    t_o, t_c = 3, 413
    want = [
        (1, 2, 113, _half_up(2 * 10**6, t_o), _half_up(113 * 10**6, t_c)),
        (2, 1, 300, _half_up(1 * 10**6, t_o), _half_up(300 * 10**6, t_c)),
    ]
    assert got == want


# --- ext_basket_size_mix ------------------------------------------------------------

def test_basket_size_mix_parity_and_planted_walk(spark, oracle_sf_dir):
    """Fixture parity, then planted baskets [1,2,2,3,10] whose mean /
    median / p90 / max replay the weighted-count walk by hand."""
    from dariadb_spark.ext.relational import (
        BASKET_SIZE_MIX_SQL,
        basket_size_mix,
        basket_size_mix_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_basket_size_mix", basket_size_mix(spark, oracle_sf_dir),
        con, BASKET_SIZE_MIX_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 5

    sizes = {1: 1, 2: 2, 3: 2, 4: 3, 5: 10}
    orders = _orders(spark, [
        (k, 1, "O", 1.0, _D, "1-URGENT") for k in sizes
    ])
    li = _li(spark, [
        (k, p, 1, 1.0, 0.0, "N", _D)
        for k, n in sizes.items()
        for p in range(1, n + 1)
    ])
    got = [tuple(r) for r in basket_size_mix_op(li, orders).collect()]
    # m=5, Σ=18 → mean 3.6; ranks 3,3 → median 2.0; p90 rank
    # (45+9)//10 = 5 → 10; max 10
    assert got == [("1-URGENT", 5, 3.6, 2.0, 10, 10)]


# --- streaming_seasonality_parity ---------------------------------------------------

class _FakeState:
    def __init__(self):
        self._v, self.exists = None, False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = tuple(v), True


def test_season_fold_is_commutative_across_triggers():
    """Commutative-class pin (the r17 taxonomy): the same input
    multiset — including duplicate cents rows — folded one-shot or
    split across triggers lands identical standing pairs; there is no
    in-order contract by construction."""
    import numpy as np
    import pandas as pd

    from dariadb_spark.streaming.seasonality import _season_fold

    def batch(cents):
        return pd.DataFrame({
            "month": np.full(len(cents), 3, dtype=np.int32),
            "cents": np.array(cents, dtype=np.int64),
        })

    def run(batches):
        st = _FakeState()
        last = None
        for b in batches:
            out = list(_season_fold((3,), iter([batch(b)]), st))
            last = out[-1]
        return tuple(last.iloc[0])

    rows = [100, 250, 250, 13]
    assert run([rows]) == run([rows[:2], rows[2:]])
    assert run([rows]) == run([rows[2:], rows[:2]])  # order-free
    assert run([rows]) == (3, 4, 613)


def test_streaming_seasonality_parity_matches_batch_oracle(
    spark, oracle_sf_dir
):
    """The driver-style check: the three-drop fold vs the batch
    ORDERS_SEASONALITY_SQL oracle."""
    from dariadb_spark.ext.relational import ORDERS_SEASONALITY_SQL
    from dariadb_spark.streaming.seasonality import (
        streaming_seasonality_parity,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "streaming_seasonality_parity",
        streaming_seasonality_parity(spark, oracle_sf_dir),
        con, ORDERS_SEASONALITY_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 12


# --- ext_customer_tenure ------------------------------------------------------------

def test_customer_tenure_parity_and_planted_spans(spark, oracle_sf_dir):
    """Fixture parity, then planted spans [0, 10, 10, 20, 100] whose
    mean / median / p90 / max replay the weighted-count walk by hand
    (the single-order customer is a real 0-day cohort)."""
    from dariadb_spark.ext.relational import (
        CUSTOMER_TENURE_SQL,
        customer_tenure,
        customer_tenure_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_customer_tenure", customer_tenure(spark, oracle_sf_dir),
        con, CUSTOMER_TENURE_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 5

    cust_schema = (
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string,"
        " c_comment string"
    )
    customer = spark.createDataFrame(
        [(c, "n", "a", 0, "p", 0.0, "SEG", "x") for c in range(1, 6)],
        cust_schema,
    )
    spans = {1: 0, 2: 10, 3: 10, 4: 20, 5: 100}
    rows, ok = [], 1
    for c, s in spans.items():
        rows.append((ok, c, "O", 1.0, _D, "P"))
        ok += 1
        if s:
            rows.append((ok, c, "O", 1.0,
                         _D + datetime.timedelta(days=s), "P"))
            ok += 1
    got = [tuple(r) for r in customer_tenure_op(
        _orders(spark, rows), customer
    ).collect()]
    # m=5, Σ=140 → mean 28.0; ranks 3,3 → 10 → median 10.0;
    # p90 rank (45+9)//10 = 5 → 100; max 100
    assert got == [("SEG", 5, 28.0, 10.0, 100, 100)]


# --- ext_trade_flows ----------------------------------------------------------------

def test_trade_flows_parity_and_planted_matrix(spark, oracle_sf_dir):
    """Fixture parity, then a planted 2-nation world where both
    off-diagonal flows and the domestic exclusion are hand-checkable."""
    from dariadb_spark.ext.relational import (
        TRADE_FLOWS_SQL,
        trade_flows,
        trade_flows_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_trade_flows", trade_flows(spark, oracle_sf_dir),
        con, TRADE_FLOWS_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0

    nation = spark.createDataFrame(
        [(0, "ALPHA", 0), (1, "BETA", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    supplier = spark.createDataFrame(
        [(1, "s1", 0, 0.0), (2, "s2", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    customer = spark.createDataFrame(
        [(10, "c1", 0, 0.0, "SEG"), (20, "c2", 1, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    orders = _orders(spark, [
        (100, 10, "O", 1.0, _D, "P"),   # cust c1 (ALPHA)
        (200, 20, "O", 1.0, _D, "P"),   # cust c2 (BETA)
    ])
    # (orderkey, suppkey, price, discount):
    # o100/s2 → BETA→ALPHA 10.00 - 10% = 900 cents
    # o100/s2 again → +0.125 → 13 cents (HALF_UP, banker's would say 12)
    # o200/s1 → ALPHA→BETA 20.00 → 2000 cents
    # o100/s1 → ALPHA→ALPHA domestic: EXCLUDED
    li = spark.createDataFrame(
        [
            (100, 1, 2, 1, 1.0, 10.0, 0.10, 0.0, "N", "O", _D),
            (100, 1, 2, 2, 1.0, 0.125, 0.0, 0.0, "N", "O", _D),
            (200, 1, 1, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", _D),
            (100, 1, 1, 3, 1.0, 99.0, 0.0, 0.0, "N", "O", _D),
        ],
        _LI_SCHEMA,
    )
    got = [tuple(r) for r in trade_flows_op(
        li, orders, customer, supplier, nation
    ).collect()]
    t = 913 + 2000
    want = [
        ("ALPHA", "BETA", 1, 2000, _half_up(2000 * 10**6, t)),
        ("BETA", "ALPHA", 2, 913, _half_up(913 * 10**6, t)),
    ]
    assert got == want


# --- ext_referential_fsck -----------------------------------------------------------

def test_referential_fsck_parity_and_planted_tears(spark, oracle_sf_dir):
    """Fixture parity (the fixture should be clean: both anti-join
    counters 0), then a planted torn world: one line-less order and
    one orphan orderkey with TWO lines (counted once — the counter is
    over distinct orphan keys, not orphan rows)."""
    from dariadb_spark.ext.relational import (
        REFERENTIAL_FSCK_SQL,
        referential_fsck,
        referential_fsck_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_referential_fsck", referential_fsck(spark, oracle_sf_dir),
        con, REFERENTIAL_FSCK_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 4

    orders = _orders(spark, [
        (1, 10, "O", 1.0, _D, "P"),   # has lines
        (2, 10, "O", 1.0, _D, "P"),   # line-less
    ])
    li = _li(spark, [
        (1, 7, 1, 1.0, 0.0, "N", _D),
        (9, 7, 1, 1.0, 0.0, "N", _D),  # orphan key 9, line 1
        (9, 8, 2, 1.0, 0.0, "N", _D),  # orphan key 9, line 2
    ])
    got = [tuple(r) for r in referential_fsck_op(orders, li).collect()]
    assert got == [
        ("lines_total", 3),
        ("orders_total", 2),
        ("orders_without_lines", 1),
        ("orphan_line_orderkeys", 1),
    ]


# --- ext_promo_revenue --------------------------------------------------------------

def test_promo_revenue_parity_and_planted_share(spark, oracle_sf_dir):
    """Fixture parity, then a planted month where the promo slice and
    the HALF_UP micro share (including the exact .5-cent projection)
    are hand-checkable."""
    from dariadb_spark.ext.relational import (
        PROMO_REVENUE_SQL,
        promo_revenue,
        promo_revenue_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_promo_revenue", promo_revenue(spark, oracle_sf_dir),
        con, PROMO_REVENUE_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark == 12

    part = spark.createDataFrame(
        [(1, "n", "B", "PROMO", 1, 1.0), (2, "n", "B", "LARGE", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    jan = datetime.datetime(2024, 1, 10)
    feb = datetime.datetime(2024, 2, 10)
    li = _li(spark, [
        # (orderkey, partkey, linenumber, qty, discount, flag, shipdate)
        (1, 1, 1, 1.0, 0.10, "N", jan),   # promo: 100*0.9 = 90.00 → 9000
        (2, 2, 1, 1.0, 0.0, "N", jan),    # plain: 100.00 → 10000
        (3, 1, 1, 1.0, 0.999875, "N", feb),  # promo: 0.0125 → 1.25¢ → 1? no:
        # 100*(1-0.999875)=0.0125 dollars → 1.25 cents → HALF_UP 1
    ])
    got = [tuple(r) for r in promo_revenue_op(li, part).collect()]
    t_jan = 9000 + 10000
    want = [
        (1, 2, 9000, t_jan, _half_up(9000 * 10**6, t_jan)),
        (2, 1, 1, 1, 1000000),
    ]
    assert got == want


# --- ext_docs_length_mix ------------------------------------------------------------

def test_docs_length_mix_parity_and_planted_walk(spark, oracle_sf_dir):
    """Fixture parity, then planted lengths [10, 20, 20, 30, 100] whose
    mean / median / p90 / max replay the weighted-count walk by hand."""
    from dariadb_spark.ext.curation import (
        DOCS_LENGTH_MIX_SQL,
        docs_length_mix,
        docs_length_mix_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_docs_length_mix", docs_length_mix(spark, oracle_sf_dir),
        con, DOCS_LENGTH_MIX_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0

    docs = spark.createDataFrame(
        [(i, "t", "en", "web", n, 0) for i, n in
         enumerate([10, 20, 20, 30, 100])],
        "doc_id long, text string, lang string, source string,"
        " n_chars long, n_tokens long",
    )
    got = [tuple(r) for r in docs_length_mix_op(docs).collect()]
    # m=5, Σ=180 → mean 36.0; ranks 3,3 → 20 → median 20.0;
    # p90 rank (45+9)//10 = 5 → 100; max 100
    assert got == [("web", 5, 36.0, 20.0, 100, 100)]


# --- ext_part_price_size ------------------------------------------------------------

def test_part_price_size_parity_and_planted_correlation(
    spark, oracle_sf_dir
):
    """Fixture parity, then three planted classes: a perfect positive
    line (signed r² = +1), a perfect negative line (−1), and a planted
    partial correlation replayed exactly in python."""
    from fractions import Fraction

    from dariadb_spark.ext.relational import (
        PART_PRICE_SIZE_SQL,
        part_price_size,
        part_price_size_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_part_price_size", part_price_size(spark, oracle_sf_dir),
        con, PART_PRICE_SIZE_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0

    schema = (
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    )
    rows = []
    # UP: price = size dollars (exact line, slope 100 cents/size)
    for i, s in enumerate((1, 2, 3, 4)):
        rows.append((100 + i, "n", "B", "UP", s, float(s)))
    # DOWN: price = (10 − size) dollars
    for i, s in enumerate((1, 2, 3, 4)):
        rows.append((200 + i, "n", "B", "DOWN", s, float(10 - s)))
    # MIX: sizes (1,2,3), prices (1.00, 3.00, 2.00) — partial r
    for i, (s, p) in enumerate(((1, 1.0), (2, 3.0), (3, 2.0))):
        rows.append((300 + i, "n", "B", "MIX", s, p))
    got = [tuple(r) for r in part_price_size_op(
        spark.createDataFrame(rows, schema)
    ).collect()]

    def signed_stats(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
        num = n * sxy - sx * sy
        denx, deny = n * sxx - sx * sx, n * syy - sy * sy
        slope = _half_up_signed(num, denx, 6)
        mag = _half_up_signed(num * num, denx * deny, 6)
        return slope, (-mag if num < 0 else mag)

    up = signed_stats([(s, 100 * s) for s in (1, 2, 3, 4)])
    down = signed_stats([(s, 100 * (10 - s)) for s in (1, 2, 3, 4)])
    mix = signed_stats([(1, 100), (2, 300), (3, 200)])
    assert got == [
        ("DOWN", 4, down[0], down[1]),
        ("MIX", 3, mix[0], mix[1]),
        ("UP", 4, up[0], up[1]),
    ]
    assert up[1] == 1.0 and down[1] == -1.0  # perfect lines
    assert 0 < mix[1] < 1  # partial positive


_PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string,"
    " p_size int, p_retailprice double"
)


def _skyline_brute(pts):
    """Definitional dominance filter: (key, cents, size) survive iff
    no same-brand point is <= on both axes with one strict <."""
    out = []
    for b, k, c, s in pts:
        dominated = any(
            qb == b and qc <= c and qs <= s and (qc < c or qs < s)
            for qb, _, qc, qs in pts
        )
        if not dominated:
            out.append((b, k, c, s))
    return sorted(out, key=lambda r: (r[0], r[2], r[3], r[1]))


def test_part_skyline_parity_and_planted_front(spark, oracle_sf_dir):
    """Fixture parity, then a planted grid exercising every dominance
    case: a 3-step staircase, a duplicated optimum (both kept), same-
    price smaller-size dominance, same-size cheaper dominance, and a
    singleton brand."""
    from dariadb_spark.ext.relational import (
        PART_SKYLINE_SQL,
        part_skyline,
        part_skyline_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_part_skyline", part_skyline(spark, oracle_sf_dir),
        con, PART_SKYLINE_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0

    rows = [
        # brand A: staircase (100,5) (200,4)x2 (300,3); dominated:
        # (200,5) by (100,5) [cheaper, same size], (300,4) by (200,4)
        # [cheaper, same size], (100,6) by (100,5) [same price,
        # smaller size]
        (1, "n", "A", "t", 5, 1.00),
        (2, "n", "A", "t", 4, 2.00),
        (3, "n", "A", "t", 4, 2.00),
        (4, "n", "A", "t", 3, 3.00),
        (5, "n", "A", "t", 5, 2.00),
        (6, "n", "A", "t", 4, 3.00),
        (7, "n", "A", "t", 6, 1.00),
        # brand B: singleton
        (8, "n", "B", "t", 50, 9.99),
        # brand C: three exact twins — none dominates another
        (9, "n", "C", "t", 7, 1.50),
        (10, "n", "C", "t", 7, 1.50),
        (11, "n", "C", "t", 7, 1.50),
        # NULL brand: one SQL group (window-partition semantics; the
        # oracle matches via IS NOT DISTINCT FROM) — (21) dominates
        # both others
        (20, "n", None, "t", 5, 1.00),
        (21, "n", None, "t", 4, 1.00),
        (22, "n", None, "t", 4, 2.00),
        # NULL coordinates are NOT points (excluded on both engines):
        # if (30) leaked through it would "dominate" all of brand A on
        # price alone; if (31) leaked it would sit on the front
        (30, "n", "A", "t", None, 0.50),
        (31, "n", "A", "t", 1, None),
    ]
    got = [
        tuple(r)
        for r in part_skyline_op(
            spark.createDataFrame(rows, _PART_SCHEMA)
        ).collect()
    ]
    assert got == [
        (None, 21, 100, 4),  # Spark ASC sorts NULL brand first
        ("A", 1, 100, 5),
        ("A", 2, 200, 4),
        ("A", 3, 200, 4),
        ("A", 4, 300, 3),
        ("B", 8, 999, 50),
        ("C", 9, 150, 7),
        ("C", 10, 150, 7),
        ("C", 11, 150, 7),
    ]


def test_part_skyline_matches_brute_force_replay(spark):
    """A seeded random 240-point cloud on a deliberately tiny value
    grid (heavy ties on both axes) must match the definitional
    brute-force dominance filter point for point — and the two-phase
    salted plan must agree with a single-phase (n_salt=1) run."""
    import random

    from dariadb_spark.ext.relational import part_skyline_op

    rng = random.Random(19)
    pts = [
        (
            rng.choice(("A", "B", "C")),
            k,
            rng.randrange(1, 13),     # cents grid: 12 values
            rng.randrange(1, 9),      # size grid: 8 values
        )
        for k in range(240)
    ]
    df = spark.createDataFrame(
        [
            (k, "n", b, "t", s, c / 100.0)
            for b, k, c, s in pts
        ],
        _PART_SCHEMA,
    )
    want = _skyline_brute(pts)
    got = [tuple(r) for r in part_skyline_op(df).collect()]
    assert got == want
    got1 = [tuple(r) for r in part_skyline_op(df, n_salt=1).collect()]
    assert got1 == want


_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _chunk_plan_ref(n_chars, w=256, s=192):
    """Definitional per-doc chunk plan."""
    extra = max(n_chars - w, 0)
    n_chunks = 1 + (extra + s - 1) // s
    return [
        (n_chunks, i, i * s, min(w, n_chars - i * s),
         1 if i == n_chunks - 1 else 0)
        for i in range(n_chunks)
    ]


def test_docs_chunk_plan_parity_and_planted_lengths(spark, oracle_sf_dir):
    """Fixture parity, then planted boundary lengths: exactly one
    window (256), one char over (257), a three-chunk doc (553), a
    short doc (48), a zero-length doc (one empty chunk), and the
    stride-boundary length 448 = 256 + 192 (tail chunk of exactly
    256: the ceil-div lands on an exact block)."""
    from dariadb_spark.ext.sampling import (
        DOCS_CHUNK_PLAN_SQL,
        docs_chunk_plan,
        docs_chunk_plan_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_docs_chunk_plan", docs_chunk_plan(spark, oracle_sf_dir),
        con, DOCS_CHUNK_PLAN_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0

    lengths = {1: 256, 2: 257, 3: 553, 4: 48, 5: 0, 6: 448, 7: None}
    docs = spark.createDataFrame(
        [(d, None, "en", "S", n) for d, n in lengths.items()],
        _DOCS_SCHEMA,
    )
    got = [tuple(r) for r in docs_chunk_plan_op(docs).collect()]
    want = [
        (d, "S", nc, ci, st, ln, tl)
        for d in sorted(lengths)
        for nc, ci, st, ln, tl in _chunk_plan_ref(lengths[d] or 0)
    ]
    assert got == want
    # hand-checked anchors on top of the reference replay
    by_doc = {}
    for d, _, nc, ci, st, ln, tl in got:
        by_doc.setdefault(d, []).append((ci, st, ln, tl))
    assert by_doc[1] == [(0, 0, 256, 1)]
    assert by_doc[2] == [(0, 0, 256, 0), (1, 192, 65, 1)]
    assert by_doc[3] == [
        (0, 0, 256, 0), (1, 192, 256, 0), (2, 384, 169, 1)
    ]
    assert by_doc[5] == [(0, 0, 0, 1)]
    assert by_doc[6] == [(0, 0, 256, 0), (1, 192, 256, 1)]


def test_docs_chunk_plan_covers_every_char(spark):
    """Random lengths: the union of [start, start+len) chunk spans
    must cover [0, n_chars) exactly per doc (stride ≤ window), the
    last chunk must end at the doc end, and every doc must appear."""
    import random

    from dariadb_spark.ext.sampling import docs_chunk_plan_op

    rng = random.Random(47)
    lengths = {d: rng.randrange(0, 1200) for d in range(120)}
    docs = spark.createDataFrame(
        [(d, None, "en", "S", n) for d, n in lengths.items()],
        _DOCS_SCHEMA,
    )
    rows = docs_chunk_plan_op(docs).collect()
    spans = {}
    for r in rows:
        spans.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start_char, r.len_chars, r.is_tail)
        )
    assert set(spans) == set(lengths)
    for d, n in lengths.items():
        ch = sorted(spans[d])
        assert [c[0] for c in ch] == list(range(len(ch)))
        assert ch[-1][1] + ch[-1][2] == n  # tail reaches the end
        assert sum(c[3] for c in ch) == 1 and ch[-1][3] == 1
        covered = 0
        for _, st, ln, _ in ch:
            assert st <= covered  # no gap (stride <= window)
            covered = max(covered, st + ln)
        assert covered == n or (n == 0 and covered == 0)
        # full reference replay
        assert [(c[1], c[2], c[3]) for c in ch] == [
            (st, ln, tl) for _, _, st, ln, tl in _chunk_plan_ref(n)
        ]


def test_skyline_fold_is_commutative_and_maintains_staircase():
    """Commutative-class pin: however the same point multiset is cut
    into triggers (including reversed order), the standing staircase
    state is identical, and the emitted candidate log is always a
    SUPERSET of the true front (the finishing-filter contract)."""
    import numpy as np
    import pandas as pd

    from dariadb_spark.streaming.skyline import _skyline_fold

    pts = [
        (1, 100, 5), (2, 200, 4), (3, 200, 4), (4, 300, 3),
        (5, 200, 5), (6, 300, 4), (7, 100, 6), (8, 150, 7),
    ]
    front = {(100, 5), (200, 4), (300, 3)}

    def batch(rows):
        return pd.DataFrame({
            "p_partkey": np.array([r[0] for r in rows], dtype=np.int64),
            "price_cents": np.array([r[1] for r in rows], dtype=np.int64),
            "p_size": np.array([r[2] for r in rows], dtype=np.int64),
        })

    def run(batches):
        st = _FakeState()
        emitted = []
        for b in batches:
            out = list(_skyline_fold(("A",), iter([batch(b)]), st))
            emitted.extend(
                (int(k), int(c), int(s))
                for k, c, s in zip(
                    out[-1]["p_partkey"], out[-1]["price_cents"],
                    out[-1]["p_size"],
                )
            )
        return st._v, emitted

    one, em1 = run([pts])
    split, em2 = run([pts[:3], pts[3:6], pts[6:]])
    rev, em3 = run([pts[::-1]])
    assert one == split == rev
    assert one == ([100, 200, 300], [5, 4, 3])  # the staircase
    for em in (em1, em2, em3):
        assert {(c, s) for _, c, s in em} >= front  # superset contract
    # duplicates of a front cell are always emitted (both twins kept)
    assert sum(1 for _, c, s in em1 if (c, s) == (200, 4)) == 2
    # a point dominated by the STANDING front is never emitted: replay
    # the staircase then probe a strictly-worse point
    st = _FakeState()
    list(_skyline_fold(("A",), iter([batch(pts)]), st))
    out = list(_skyline_fold(("A",), iter([batch([(99, 250, 5)])]), st))
    assert len(out[-1]) == 0
    assert st._v == ([100, 200, 300], [5, 4, 3])  # staircase unchanged


def test_streaming_skyline_parity_matches_batch_oracle(
    spark, oracle_sf_dir
):
    """The driver-style check: the three-drop fold + shared finishing
    filter vs the batch PART_SKYLINE_SQL definitional oracle."""
    from dariadb_spark.ext.relational import PART_SKYLINE_SQL
    from dariadb_spark.streaming.skyline import streaming_skyline_parity

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "streaming_skyline_parity",
        streaming_skyline_parity(spark, oracle_sf_dir),
        con, PART_SKYLINE_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0
