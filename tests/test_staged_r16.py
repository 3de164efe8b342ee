"""Round-16 staged operators: DuckDB hash parity at the fixture scale
plus planted closed-form cases for each — the degree-oriented
co-purchase triangle census, the Holt level/trend/forecast screen, the
LIX readability screen, and the streaming OHLC ingest twin."""

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


import numpy as np
import pytest

from tests.parity import compare, duckdb_connection


def test_part_triangles_parity_and_planted_graph(spark, oracle_sf_dir):
    """Staged r16 triangle census: DuckDB hash parity (the definitional
    unoriented triple join proves the degree-oriented Spark plan
    exact); a planted K5 clique yields exactly C(5,3) = 10 triangles
    with every member in C(4,2) = 6; an open path adds none; a
    support-1 pair is filtered before it can close anything."""
    from dariadb_spark.ext.relational import (
        PART_TRIANGLES_SQL,
        part_triangles,
        part_triangles_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_part_triangles",
        part_triangles(spark, oracle_sf_dir),
        con,
        PART_TRIANGLES_SQL,
    )
    assert res.ok, res.problems

    rows = []
    order = 0

    def add_order(parts):
        nonlocal order
        for p in parts:
            rows.append((order, p))
        order += 1

    # K5 on parts 1..5: every pair needs support >= 2 -> two full orders
    add_order([1, 2, 3, 4, 5])
    add_order([1, 2, 3, 4, 5])
    # open path 10-11-12: edges (10,11), (11,12) but never (10,12)
    for _ in range(2):
        add_order([10, 11])
        add_order([11, 12])
    # support-1 pair (20, 21): filtered by the support gate
    add_order([20, 21])
    li = spark.createDataFrame(
        [(o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O") for o, p in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string",
    )
    got = [tuple(r) for r in part_triangles_op(li).collect()]
    assert got == [
        (p, 6, 10, 0.6) for p in (1, 2, 3, 4, 5)
    ], got


def test_part_triangles_matches_brute_force_random_graphs(spark):
    """Property: on random basket sets the oriented census equals the
    brute-force triple enumeration of the support->=2 pair graph."""
    from itertools import combinations

    from dariadb_spark.ext.relational import BASKET_MIN_SUP, part_triangles_op

    rng = np.random.default_rng(11)
    for trial in range(3):
        baskets = [
            sorted(rng.choice(30, size=rng.integers(2, 6), replace=False))
            for _ in range(60)
        ]
        rows = [(o, int(p)) for o, parts in enumerate(baskets) for p in parts]
        li = spark.createDataFrame(
            [(o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O") for o, p in rows],
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string",
        )
        sup: dict[tuple[int, int], int] = {}
        for parts in baskets:
            for a, b in combinations(sorted(set(parts)), 2):
                sup[(a, b)] = sup.get((a, b), 0) + 1
        edges = {e for e, s in sup.items() if s >= BASKET_MIN_SUP}
        tris = [
            (a, b, c)
            for (a, b) in edges
            for c in range(b + 1, 30)
            if (b, c) in edges and (a, c) in edges
        ]
        cnt: dict[int, int] = {}
        for t in tris:
            for p in t:
                cnt[p] = cnt.get(p, 0) + 1
        want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got = [
            (r.part, r.tri_cnt) for r in part_triangles_op(li).collect()
        ]
        assert got == want, (trial, got, want)
        if tris:
            n_tri = {r.n_tri for r in part_triangles_op(li).collect()}
            assert n_tri == {len(tris)}


def test_series_holt_parity_and_planted_ramp(spark, oracle_sf_dir):
    """Staged r16 Holt screen: DuckDB hash parity; on a perfect ramp
    the difference chain is constant, so trend == the slope EXACTLY,
    forecast == round(level + 5*slope, 6), and level matches a pure-
    python replay of the identical left-to-right weighted fold; the
    first sample of each series has NULL trend/forecast."""
    import math

    from dariadb_spark.ext.timeseries import (
        _EWMA_W,
        HOLT_H,
        SERIES_HOLT_SQL,
        series_holt,
        series_holt_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_holt",
        series_holt(spark, oracle_sf_dir),
        con,
        SERIES_HOLT_SQL,
    )
    assert res.ok, res.problems

    n, c = 30, 0.25
    meas = spark.createDataFrame(
        [(7, k * 1000, 100.0 + c * k, 0) for k in range(n)],
        "id long, time long, value double, flag long",
    )
    got = sorted(
        (r.time, r.level, r.trend, tuple(r)[5])
        for r in series_holt_op(meas, None, 0, n * 1000, 0).collect()
    )
    assert len(got) == n
    assert got[0][2] is None and got[0][3] is None  # no predecessor
    for time_ms, level, trend, fcast in got[1:]:
        k = time_ms // 1000
        num = den = 0.0
        for j, wj in enumerate(_EWMA_W):  # identical fold order
            if k - j >= 0:
                num += wj * (100.0 + c * (k - j))
                den += wj
        want_level = round(num / den, 6)
        assert level == want_level, (k, level, want_level)
        assert trend == c
        assert fcast == round(want_level + HOLT_H * c, 6)


def test_text_readability_parity_and_planted_docs(spark, oracle_sf_dir):
    """Staged r16 readability screen: DuckDB hash parity; hand-counted
    LIX on planted punctuation-rich docs, the >= 1 sentence clamp on a
    fragment, and the exact-integer hardness line."""
    from dariadb_spark.ext.text import (
        TEXT_READABILITY_SQL,
        text_readability,
        text_readability_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_text_readability",
        text_readability(spark, oracle_sf_dir),
        con,
        TEXT_READABILITY_SQL,
    )
    assert res.ok, res.problems

    docs = spark.createDataFrame(
        [
            # src a: "aa bb cc. dd ee!" -> w=5, s=2, long=0
            #   (note 'cc.' is 3 chars — punctuation counts into the word)
            (0, "aa bb cc. dd ee!", "en", "a", 16),
            # src a: one long word, one sentence: w=3, s=1, l=1
            (1, "tiny gigantics ok?", "en", "a", 18),
            # src b: fragment without enders -> s clamps to 1; w=2, l=1
            (2, "fragment here", "en", "b", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.source: tuple(r)[1:] for r in text_readability_op(docs).collect()}
    # src a pooled: W=8, S=3, L=1 -> LIX = 8/3 + 100/8 = 15.1667
    # hardness per doc: doc0 w2=25 vs 40*s*w=400 -> easy;
    # doc1: 9 + 100*1*1 = 109 >= 40*1*3 = 120? no -> easy
    assert got["a"] == (2, 8, 3, 1, round(8 * 8 / (3 * 8) + 100 * 1 / 8, 4), 0.0)
    # src b: W=2, S=1, L=1 -> LIX = 2 + 50 = 52 >= 40 -> hard
    assert got["b"] == (1, 2, 1, 1, 52.0, 1.0)


def test_streaming_ohlc_matches_batch(spark, oracle_sf_dir):
    """The stateful OHLC ingest twin equals the batch OHLC_SQL oracle
    on the fixture slice (two drops cut mid-interval, one file per
    micro-batch)."""
    from dariadb_spark.ext.timeseries import OHLC_SQL
    from dariadb_spark.streaming.ohlc import streaming_ohlc_parity

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "streaming_ohlc_parity",
        streaming_ohlc_parity(spark, oracle_sf_dir),
        con,
        OHLC_SQL,
    )
    assert res.ok, res.problems


def test_streaming_ohlc_cross_batch_bar(spark, tmp_path):
    """A bar whose open sits in batch 1 and whose close/high sit in
    batch 2 must finish byte-identical to the one-shot aggregate —
    the state carry the twin exists for. Duplicate times with
    different values must fold exactly as the batch total order."""
    from dariadb_spark.streaming.ohlc import ohlc_from_log, streaming_ohlc_log
    from dariadb_spark.streaming.scratch import await_parity_termination

    w = 3_600_000
    b1 = [
        (1, 10_000, 5.0, 1),
        (1, 20_000, 2.0, 1),   # low so far
        (1, 10_000, 4.0, 2),   # duplicate time: open ties break by value
    ]
    b2 = [
        (1, 30_000, 9.0, 1),   # high + close
        (1, 25_000, 1.0, 1),   # true low arrives late — NOT out of order
    ]
    d = tmp_path / "meas"
    qname = "ohlc_cross_batch_test"
    df1 = spark.createDataFrame(b1, "id long, time long, value double, flag long")
    df2 = spark.createDataFrame(b2, "id long, time long, value double, flag long")
    df1.coalesce(1).write.parquet(str(d))
    df2.coalesce(1).write.mode("append").parquet(str(d))
    try:
        q = streaming_ohlc_log(spark, str(d), w, qname, max_files_per_trigger=1)
        await_parity_termination(q)
        got = [tuple(r) for r in ohlc_from_log(spark.table(qname)).collect()]
        # open = value at min (t,v,f) = (10000, 4.0, 2) -> 4.0;
        # close = value at max (t,v,f) = (30000, 9.0, 1) -> 9.0
        assert got == [(1, 0, 4.0, 9.0, 1.0, 9.0, 5)], got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {qname}")


def test_ohlc_fold_property_matches_batch_groupby(spark):
    """Property: on random per-bucket sample sets split into random
    batch prefixes, the fold's final bar equals the batch ohlc_op
    aggregate (min/max merging is order-free)."""
    import pandas as pd

    from dariadb_spark.ext.timeseries import ohlc_op
    from dariadb_spark.streaming.ohlc import _ohlc_fold

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

    rng = np.random.default_rng(5)
    for trial in range(4):
        n = int(rng.integers(3, 40))
        t = rng.integers(0, 3_600_000, size=n).astype(np.int64)
        v = np.round(rng.normal(0, 10, size=n), 2)
        fl = rng.integers(0, 4, size=n).astype(np.int64)
        pdf = pd.DataFrame({"id": 3, "time": t, "value": v, "flag": fl})
        st = _FakeState()
        cutpoints = sorted(rng.choice(n, size=min(2, n - 1), replace=False))
        last = None
        lo = 0
        for hi in list(cutpoints) + [n]:
            if hi <= lo:
                continue
            out = list(_ohlc_fold((3, 0), iter([pdf.iloc[lo:hi]]), st))
            last = out[-1]
            lo = hi
        meas = spark.createDataFrame(
            pdf, "id long, time long, value double, flag long"
        )
        want = ohlc_op(meas, 3_600_000, None, 0, 3_600_000, 0).collect()[0]
        got = last.iloc[0]
        assert (
            got["open"], got["high"], got["low"], got["close"],
            got["n_samples"],
        ) == (want.open, want.high, want.low, want.close, want.n_samples), trial


# --- second r16 staging pass: heaps / benford / level shift / HITS -----------


def test_text_heaps_parity_and_planted_growth(spark, oracle_sf_dir):
    """Staged r16 Heaps curve: DuckDB hash parity at the fixture; a
    planted corpus with one NEW word per doc plus a shared stopword
    yields a closed-form growth curve (decile counts, first-seen
    attribution, wide HALF_UP type-token ratio)."""
    from dariadb_spark.ext.text import (
        TEXT_HEAPS_SQL,
        text_heaps,
        text_heaps_op,
    )
    from tests.parity import ratio_round_ref

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_text_heaps",
        text_heaps(spark, oracle_sf_dir),
        con,
        TEXT_HEAPS_SQL,
    )
    assert res.ok, res.problems

    # 20 docs, ids 0..19 → exactly 2 per decile; doc i contributes the
    # fresh type w<i> and the corpus-wide stopword "the" (new only in
    # decile 0), so new_words = [3, 2, 2, ...] and every doc has 2 tokens
    docs = spark.createDataFrame(
        [(i, f"the w{i}", "en", "s", 6) for i in range(20)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = [tuple(r) for r in text_heaps_op(docs).collect()]
    assert len(got) == 10
    for d, row in enumerate(got):
        (decile, n_docs, n_tokens, new_words, cum_docs, cum_tokens,
         cum_vocab, ttr) = row
        assert decile == d and n_docs == 2 and n_tokens == 4
        assert new_words == (3 if d == 0 else 2)
        assert cum_docs == 2 * (d + 1) and cum_tokens == 4 * (d + 1)
        assert cum_vocab == 2 * (d + 1) + 1
        assert ttr == ratio_round_ref(cum_vocab, cum_tokens, 6)


def test_text_heaps_single_doc_and_null_text(spark):
    """Span-1 edge (one doc) lands wholly in decile 0; NULL text rows
    are excluded by contract, not counted as empty vocab."""
    from dariadb_spark.ext.text import text_heaps_op

    docs = spark.createDataFrame(
        [(7, "a b a", "en", "s", 5), (9, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = [tuple(r) for r in text_heaps_op(docs).collect()]
    # doc 9 has NULL text → only doc 7 remains → span = 1, decile 0
    assert len(got) == 1
    assert got[0][:7] == (0, 1, 3, 2, 1, 3, 2)


def test_orders_benford_literals_and_planted_digits(spark, oracle_sf_dir):
    """Staged r16 Benford screen: DuckDB hash parity; the nine pinned
    micro-literals re-derive from math.log10 under HALF_UP and sum to
    exactly 1_000_000; a planted one-priority table with known digit
    counts reproduces the closed-form shares and deviations."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from dariadb_spark.ext.relational import (
        BENFORD_MICRO,
        ORDERS_BENFORD_SQL,
        orders_benford,
        orders_benford_op,
    )
    from tests.parity import ratio_round_ref

    for d in range(1, 10):
        derived = int(
            Decimal(math.log10(1 + 1 / d))
            .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            * 10**6
        )
        assert derived == BENFORD_MICRO[d - 1], d
    assert sum(BENFORD_MICRO) == 1_000_000

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_orders_benford",
        orders_benford(spark, oracle_sf_dir),
        con,
        ORDERS_BENFORD_SQL,
    )
    assert res.ok, res.problems

    # 6 orders: digits 1,1,1,2,9 and one sub-1 price (excluded)
    rows = [
        (1, 1, "O", 123.45, "2024-01-01", "P"),
        (2, 1, "O", 150.00, "2024-01-01", "P"),
        (3, 1, "O", 1999.99, "2024-01-01", "P"),
        (4, 1, "O", 25.10, "2024-01-01", "P"),
        (5, 1, "O", 90000.00, "2024-01-01", "P"),
        (6, 1, "O", 0.75, "2024-01-01", "P"),
    ]
    orders = spark.createDataFrame(
        [(a, b, c, d_, __import__("datetime").datetime(2024, 1, 1), f)
         for a, b, c, d_, _e, f in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    got = [tuple(r) for r in orders_benford_op(orders).collect()]
    assert [(g[1], g[2], g[3]) for g in got] == [
        (1, 3, 5), (2, 1, 5), (9, 1, 5)
    ]
    for g in got:
        obs_micro = ((2 * g[2] * 10**6 + g[3]) // (2 * g[3]))
        assert g[4] == ratio_round_ref(g[2], g[3], 6)
        assert g[6] == abs(obs_micro - BENFORD_MICRO[g[1] - 1])


def test_series_level_shift_parity_and_planted_shift(spark, oracle_sf_dir):
    """Staged r16 level-shift screen: DuckDB hash parity; a planted
    two-sided series replays the Welch t² closed form; the degenerate
    constant-constant series takes the exact-integer decision path
    (t2 NULL, shifted from dmn alone); a thin side drops the series."""
    from dariadb_spark.ext.timeseries import (
        SERIES_LEVEL_SHIFT_SQL,
        series_level_shift,
        series_level_shift_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_level_shift",
        series_level_shift(spark, oracle_sf_dir),
        con,
        SERIES_LEVEL_SHIFT_SQL,
    )
    assert res.ok, res.problems

    split = 1000
    rows = []
    # series 0: A = [10.00, 12.00], B = [20.00, 22.00] → dm = -10,
    # var_a = var_b = 2 (in value units) → t² = 100 / (1 + 1) = 50
    rows += [(0, 0, 10.0, 0), (0, 1, 12.0, 0),
             (0, 1000, 20.0, 0), (0, 1001, 22.0, 0)]
    # series 1: constant 5 vs constant 5 → dmn = 0 → not shifted
    rows += [(1, 0, 5.0, 0), (1, 1, 5.0, 0),
             (1, 1000, 5.0, 0), (1, 1001, 5.0, 0)]
    # series 2: constant 5 vs constant 6 → dmn ≠ 0 → shifted, t2 NULL
    rows += [(2, 0, 5.0, 0), (2, 1, 5.0, 0),
             (2, 1000, 6.0, 0), (2, 1001, 6.0, 0)]
    # series 3: one sample on side B → dropped
    rows += [(3, 0, 1.0, 0), (3, 1, 2.0, 0), (3, 1000, 9.0, 0)]
    meas = spark.createDataFrame(
        rows, "id long, time long, value double, flag long"
    )
    got = {
        r["id"]: r.asDict()
        for r in series_level_shift_op(meas, None, 0, 2000, split).collect()
    }
    assert set(got) == {0, 1, 2}
    s0 = got[0]
    assert (s0["n_a"], s0["n_b"]) == (2, 2)
    assert (s0["mean_a"], s0["mean_b"]) == (11.0, 21.0)
    assert s0["mean_shift"] == -10.0
    assert s0["t2"] == 50.0 and s0["shifted"] == 1
    assert got[1]["t2"] is None and got[1]["shifted"] == 0
    assert got[2]["t2"] is None and got[2]["shifted"] == 1


def test_series_level_shift_matches_python_welch(spark):
    """Random-int series replay: the op's t² equals the pure-Python
    exact-rational replay from the same cent-quantized integers, and
    the flag matches the integer num ≥ 16·den decision."""
    import random

    rng = random.Random(416)
    rows = []
    expect = {}
    for sid in range(8):
        na, nb = rng.randint(2, 12), rng.randint(2, 12)
        av = [rng.randint(-500, 500) for _ in range(na)]
        bv = [rng.randint(-500, 500) for _ in range(nb)]
        # force non-degenerate variance on each side
        av[0], av[1] = av[0], av[0] + rng.randint(1, 9)
        bv[0], bv[1] = bv[0], bv[0] + rng.randint(1, 9)
        rows += [(sid, i, v / 100.0, 0) for i, v in enumerate(av)]
        rows += [(sid, 1000 + i, v / 100.0, 0) for i, v in enumerate(bv)]
        sa, sb = sum(av), sum(bv)
        ssa = sum(v * v for v in av)
        ssb = sum(v * v for v in bv)
        dmn = sa * nb - sb * na
        # exact-rational t2 replay (the op's integer pipeline)
        num = dmn * dmn * (na - 1) * (nb - 1)
        den = ((na * ssa - sa * sa) * nb * nb * (nb - 1)
               + (nb * ssb - sb * sb) * na * na * (na - 1))
        t2 = ((2 * num * 10**4 + den) // (2 * den)) / 10**4
        expect[sid] = (t2, 1 if num >= 16 * den else 0)
    meas = spark.createDataFrame(
        rows, "id long, time long, value double, flag long"
    )
    got = {
        r["id"]: (r["t2"], r["shifted"])
        for r in series_level_shift_rows(spark, meas)
    }
    assert got == expect


def series_level_shift_rows(spark, meas):
    from dariadb_spark.ext.timeseries import series_level_shift_op

    return series_level_shift_op(meas, None, 0, 2000, 1000).collect()


def test_part_hits_parity_and_planted_star(spark, oracle_sf_dir):
    """Staged r16 HITS: DuckDB hash parity (the chained-CTE oracle
    replays both normalized half-steps); on a planted star-plus-pair
    graph the hub-weighted authority ranks the universally-bought part
    first, and the integer fixpoint replays in pure Python."""
    from dariadb_spark.ext.relational import (
        HITS_ITERS,
        PART_HITS_SQL,
        part_hits,
        part_hits_op,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_part_hits",
        part_hits(spark, oracle_sf_dir),
        con,
        PART_HITS_SQL,
    )
    assert res.ok, res.problems

    # customers 1..4 all buy part 100; customer 1 also buys 200, 201
    edges = [(c, 100) for c in (1, 2, 3, 4)] + [(1, 200), (1, 201)]
    got = _run_hits(spark, edges)
    ref = _python_hits(edges, HITS_ITERS)
    assert got == ref
    assert got[0][0] == 100  # the star center is the top authority


def test_part_hits_matches_python_fixpoint_random(spark):
    """Random bipartite graphs: the Spark integer fixpoint equals the
    pure-Python replay of the same HALF_UP-normalized iteration."""
    import random

    from dariadb_spark.ext.relational import HITS_ITERS

    rng = random.Random(1616)
    for trial in range(3):
        edges = sorted(
            {
                (rng.randint(1, 8), 100 + rng.randint(0, 9))
                for _ in range(rng.randint(6, 24))
            }
        )
        assert _run_hits(spark, edges) == _python_hits(edges, HITS_ITERS), (
            trial,
            edges,
        )


def _run_hits(spark, edges):
    from dariadb_spark.ext.relational import part_hits_op

    orders = spark.createDataFrame(
        [(i, c, "O", 1.0, __import__("datetime").datetime(2024, 1, 1), "P")
         for i, (c, _p) in enumerate(edges)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(i, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O")
         for i, (_c, p) in enumerate(edges)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string",
    )
    return [tuple(r) for r in part_hits_op(orders, li).collect()]


def _python_hits(edges, iters):
    """Integer HALF_UP HITS replay (the op's exact arithmetic: per-node
    micro-normalization — the side MEAN is always 10⁶)."""
    custs = sorted({c for c, _ in edges})
    parts = sorted({p for _, p in edges})
    h = {c: 1_000_000 for c in custs}
    a = {}
    for _ in range(iters):
        raw = {p: sum(h[c] for c, q in edges if q == p) for p in parts}
        tot = sum(raw.values())
        a = {p: (2 * r * len(parts) * 10**6 + tot) // (2 * tot)
             for p, r in raw.items()}
        hraw = {c: sum(a[p] for d, p in edges if d == c) for c in custs}
        htot = sum(hraw.values())
        h = {c: (2 * r * len(custs) * 10**6 + htot) // (2 * htot)
             for c, r in hraw.items()}
    top = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    return [(p, m, m / 1_000_000) for p, m in top]


def test_streaming_level_shift_matches_batch(spark, oracle_sf_dir):
    """The stateful level-shift ingest twin equals the batch
    SERIES_LEVEL_SHIFT_SQL oracle when the fixture slice lands as three
    tercile drops folded one file per micro-batch (both sides span a
    cut, so the accumulators must carry)."""
    from dariadb_spark.ext.timeseries import SERIES_LEVEL_SHIFT_SQL
    from dariadb_spark.streaming.levelshift import (
        streaming_level_shift_parity,
    )

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "streaming_level_shift_parity",
        streaming_level_shift_parity(spark, oracle_sf_dir),
        con,
        SERIES_LEVEL_SHIFT_SQL,
    )
    assert res.ok, res.problems


def test_streaming_level_shift_cross_batch_and_out_of_order(spark, tmp_path):
    """Side-A samples arriving AFTER side-B samples (no in-order
    contract — integer sums commute) and a series split across batches
    must still reproduce the batch closed form: A = [10, 12],
    B = [20, 22] → t² = 50, shifted."""
    from dariadb_spark.streaming.levelshift import (
        level_shift_from_log,
        streaming_level_shift_log,
    )
    from dariadb_spark.streaming.scratch import await_parity_termination

    split = 1000
    b1 = [(1, 1000, 20.0, 0), (1, 0, 10.0, 0)]       # B before A inside b1
    b2 = [(1, 1001, 22.0, 0), (1, 1, 12.0, 0)]       # late A sample in b2
    d = tmp_path / "meas"
    qname = "lshift_cross_batch_test"
    spark.createDataFrame(
        b1, "id long, time long, value double, flag long"
    ).coalesce(1).write.parquet(str(d))
    spark.createDataFrame(
        b2, "id long, time long, value double, flag long"
    ).coalesce(1).write.mode("append").parquet(str(d))
    try:
        q = streaming_level_shift_log(
            spark, str(d), split, qname, max_files_per_trigger=1
        )
        await_parity_termination(q)
        got = [
            tuple(r)
            for r in level_shift_from_log(spark.table(qname)).collect()
        ]
        assert got == [(1, 2, 2, 11.0, 21.0, -10.0, 50.0, 1)], got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {qname}")


def test_level_shift_fold_property_matches_batch_sums(spark):
    """Property: on random cent-quantized samples split into random
    batch prefixes IN RANDOM ORDER, the fold's standing sums equal the
    one-shot batch aggregate's (integer sums are order-free), and the
    shared projection then yields the identical report row."""
    import pandas as pd

    from dariadb_spark.streaming.levelshift import _shift_fold

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

    rng = np.random.default_rng(41)
    for trial in range(4):
        n = int(rng.integers(5, 60))
        s = rng.integers(0, 2, size=n).astype(np.int64)
        y = rng.integers(-2000, 2000, size=n).astype(np.int64)
        pdf = pd.DataFrame({"id": 9, "s": s, "y": y})
        pdf = pdf.sample(frac=1.0, random_state=trial)  # shuffle arrival
        st = _FakeState()
        cut = sorted(rng.choice(n, size=min(2, n - 1), replace=False))
        last, lo = None, 0
        for hi in list(cut) + [n]:
            if hi <= lo:
                continue
            out = list(_shift_fold((9,), iter([pdf.iloc[lo:hi]]), st))
            last = out[-1]
            lo = hi
        row = last.iloc[0]
        ya, yb = y[s == 0], y[s == 1]
        assert (
            row["n_a"], row["n_b"], row["sa"], row["sb"],
            row["ssa"], row["ssb"],
        ) == (
            len(ya), len(yb), ya.sum(), yb.sum(),
            int((ya.astype(object) ** 2).sum()) if len(ya) else 0,
            int((yb.astype(object) ** 2).sum()) if len(yb) else 0,
        ), trial


def test_benford_screen_api_on_lineitem(spark, oracle_sf_dir):
    """The generic benford_screen API (the library surface behind the
    driver-pinned orders instance) hash-matches an independently-built
    DuckDB twin on a DIFFERENT table/column/segmentation: lineitem
    extended price by return flag."""
    from dariadb_spark.ext.relational import BENFORD_MICRO, benford_screen
    from dariadb_spark.model import load_table

    arr = ", ".join(str(v) for v in BENFORD_MICRO)
    sql = f"""WITH
digits AS (
  SELECT l_returnflag AS segment,
         CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit
  FROM lineitem WHERE l_extendedprice >= 1 AND isfinite(l_extendedprice)),
counts AS (SELECT segment, digit, count(*) AS n
           FROM digits GROUP BY segment, digit),
totals AS (SELECT segment, count(*) AS n_total
           FROM digits GROUP BY segment),
m AS (SELECT c.segment, c.digit, c.n, t.n_total,
             (2 * c.n * 1000000 + t.n_total) // (2 * t.n_total)
               AS obs_micro,
             ([{arr}])[c.digit] AS benford_micro
      FROM counts c JOIN totals t ON c.segment = t.segment)
SELECT segment, digit, CAST(n AS BIGINT) AS n,
       CAST(n_total AS BIGINT) AS n_total,
       (obs_micro / 1000000.0) AS obs_share,
       (benford_micro / 1000000.0) AS benford_share,
       CAST(abs(obs_micro - benford_micro) AS BIGINT) AS dev_micro
FROM m ORDER BY segment, digit"""
    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "benford_screen_lineitem",
        benford_screen(
            load_table(spark, oracle_sf_dir, "lineitem"),
            "l_extendedprice",
            "l_returnflag",
        ),
        con,
        sql,
    )
    assert res.ok, res.problems


def test_benford_screen_excludes_non_finite_amounts(spark):
    """NaN, +Infinity, AND finite doubles past int64 are excluded, not
    crashed on: NaN passes Spark's ≥ 1 ordering (NaN sorts above
    everything) and would reach element_at with digit 0; +Inf or a
    finite 1e19 saturates Spark's BIGINT cast into a phantom digit 9
    where DuckDB's cast raises (r15 review + r16 advice findings)."""
    from dariadb_spark.ext.relational import benford_screen

    rows = [
        (1, 1, "O", 123.0, __import__("datetime").datetime(2024, 1, 1), "P"),
        (2, 1, "O", float("nan"), __import__("datetime").datetime(2024, 1, 1), "P"),
        (3, 1, "O", float("inf"), __import__("datetime").datetime(2024, 1, 1), "P"),
        (4, 1, "O", 0.5, __import__("datetime").datetime(2024, 1, 1), "P"),
        (5, 1, "O", 1e19, __import__("datetime").datetime(2024, 1, 1), "P"),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    got = [
        tuple(r)
        for r in benford_screen(
            orders, "o_totalprice", "o_orderpriority"
        ).collect()
    ]
    assert got == [("P", 1, 1, 1, 1.0, 0.30103, 698970)], got
