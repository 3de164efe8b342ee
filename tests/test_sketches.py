"""Structural guarantees of the deterministic sketches (ext/sketches.py)
and the weighted sampler — properties the oracle-parity hash check can't
express: CMS one-sided error, KMV error bound + mergeability, A-ExpJ
weight skew. Parity itself is covered by tests/test_oracle_parity.py."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import dariadb_spark.registry  # noqa: F401  (settle the ext import order
# before any test function-imports an ext module directly: ext.sampling is
# from-imported by ext.pipeline mid-registry-init — the documented
# module-first circular edge a standalone -k run of this file would hit)


@pytest.fixture(scope="module")
def cms_rows(spark, sf_dir):
    from dariadb_spark.ext.sketches import sketch_cms_topk

    return sketch_cms_topk(spark, sf_dir).collect()


def test_cms_never_undercounts(cms_rows):
    # The count-min guarantee: estimates are exact counts plus hash
    # collisions, never less.
    assert len(cms_rows) > 0
    for r in cms_rows:
        assert r.cms_est >= r.exact_cnt, r
        assert r.overcount == r.cms_est - r.exact_cnt


def test_cms_collisions_exercised(cms_rows):
    # Parameters are deliberately small (width 256 vs ~4.5k vocab) so the
    # fixtures exercise the error path — if every estimate were exact the
    # sketch would be an over-provisioned hash table, not a sketch.
    assert any(r.overcount > 0 for r in cms_rows)


def test_kmv_error_within_theory(spark, sf_dir):
    # KMV standard error is ~1/sqrt(k-2) ≈ 12.7% at k=64; assert a 3-sigma
    # envelope per group (fixtures are fixed, so this is deterministic).
    from dariadb_spark.ext.sketches import sketch_kmv_distinct

    rows = sketch_kmv_distinct(spark, sf_dir).collect()
    assert len(rows) == 5  # one per language
    for r in rows:
        assert r.rel_err_pct < 3 * 100 / np.sqrt(62), r


def test_kmv_sketch_is_mergeable():
    # The property the 100 TB path relies on: the k smallest of a union
    # equal the k smallest of the per-partition partial k-mins.
    rng = np.random.RandomState(7)
    parts = [rng.randint(0, 2**60, size=n) for n in (1000, 10, 500)]
    k = 64
    full = np.sort(np.unique(np.concatenate(parts)))[:k]
    partials = np.concatenate([np.sort(np.unique(p))[:k] for p in parts])
    merged = np.sort(np.unique(partials))[:k]
    assert np.array_equal(full, merged)


def _py_h60(s: str) -> int:
    # Third, engine-independent implementation of the 60-bit md5 hash —
    # guards the Spark conv(substr(md5)) arithmetic against the "both
    # engines wrong the same way" blind spot the DuckDB twin can't cover.
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_cms_matches_pure_python_reference(spark, sf_dir, cms_rows):
    # Rebuild the whole sketch in plain Python (hashlib + dict) from the
    # raw fixture and compare every estimate.
    from dariadb_spark.ext.sketches import CMS_DEPTH, CMS_WIDTH
    from dariadb_spark.model import load_table

    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").collect()
    ]
    counts: dict[str, int] = {}
    for t in texts:
        w = t.split(" ")
        for i in range(len(w) - 1):
            bg = w[i] + " " + w[i + 1]
            counts[bg] = counts.get(bg, 0) + 1
    cells: dict[tuple[int, int], int] = {}
    for bg, c in counts.items():
        for d in range(CMS_DEPTH):
            cell = (d, _py_h60(f"{d}:{bg}") % CMS_WIDTH)
            cells[cell] = cells.get(cell, 0) + c
    for r in cms_rows:
        assert counts[r.bg] == r.exact_cnt, r.bg
        ref_est = min(
            cells[(d, _py_h60(f"{d}:{r.bg}") % CMS_WIDTH)]
            for d in range(CMS_DEPTH)
        )
        assert ref_est == r.cms_est, (r.bg, ref_est, r.cms_est)


def test_kmv_matches_pure_python_reference(spark, sf_dir):
    # Same third-implementation check for KMV: distinct bigrams, hashlib
    # hashes, k-th smallest, the (k-1)/u_k estimate — all in plain Python.
    from dariadb_spark.ext.sketches import KMV_K, sketch_kmv_distinct
    from dariadb_spark.model import load_table

    per_lang: dict[str, set] = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        w = r.text.split(" ")
        bgs = per_lang.setdefault(r.lang, set())
        for i in range(len(w) - 1):
            bgs.add(w[i] + " " + w[i + 1])
    for row in sketch_kmv_distinct(spark, sf_dir).collect():
        bgs = per_lang[row.lang]
        assert len(bgs) == row.exact_distinct, row.lang
        kth = sorted(_py_h60(bg) for bg in bgs)[KMV_K - 1]
        ref_est = round((KMV_K - 1) * 2.0**60 / kth, 4)
        assert ref_est == row.kmv_est, (row.lang, ref_est, row.kmv_est)


def test_cms_shard_sketches_merge_to_global(spark, sf_dir):
    # The claim SCALE.md makes for the 100 TB path: per-shard sketches
    # merge by cell-wise addition into exactly the global sketch.
    from pyspark.sql import functions as F

    from dariadb_spark.ext.hashes import _h60_spark
    from dariadb_spark.ext.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
    )
    from dariadb_spark.model import load_table

    docs = load_table(spark, sf_dir, "documents")
    fanout = ", ".join(f"{d}L" for d in range(CMS_DEPTH))
    cell = (
        _h60_spark("concat(cast(depth AS string), ':', bg)")
        + f" % {CMS_WIDTH}"
    )
    # build per-shard sketches then merge vs the global build
    occ = docs.selectExpr("doc_id % 3 AS shard", "text").where(
        F.size(F.split(F.col("text"), " ")) >= 2
    ).selectExpr(
        "shard",
        "explode(zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
        "(x, y) -> concat(x, ' ', y))) AS bg",
    )
    per_shard = (
        occ.selectExpr("shard", "bg", f"explode(array({fanout})) AS depth")
        .selectExpr("shard", "depth", f"{cell} AS bucket")
        .groupBy("shard", "depth", "bucket")
        .count()
    )
    merged = {
        (r.depth, r.bucket): r.total
        for r in per_shard.groupBy("depth", "bucket")
        .agg(F.sum("count").alias("total"))
        .collect()
    }
    global_sketch = {
        (r.depth, r.bucket): r.cnt
        for r in occ.selectExpr("bg", f"explode(array({fanout})) AS depth")
        .selectExpr("depth", f"{cell} AS bucket")
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert merged == global_sketch and len(merged) > 0


def test_streaming_cms_matches_batch(spark, sf_dir, tmp_path):
    # The sketch is a streaming-maintainable summary: ingesting the
    # corpus in two separate file drops through the complete-mode
    # streaming aggregation must land on EXACTLY the batch cell table —
    # batching must be invisible (additivity under incremental folds).
    from pyspark.sql import functions as F

    from dariadb_spark.ext.hashes import _h60_spark
    from dariadb_spark.ext.sketches import (
        _bigram_occurrences,
        CMS_DEPTH,
        CMS_WIDTH,
    )
    from dariadb_spark.model import load_table
    from dariadb_spark.streaming.sketch import streaming_cms_cells

    docs = load_table(spark, sf_dir, "documents")
    d = str(tmp_path / "docs_stream")
    docs.where("doc_id % 2 = 0").write.parquet(d)
    docs.where("doc_id % 2 = 1").write.mode("append").parquet(d)

    q = streaming_cms_cells(spark, d, "cms_stream_test")
    q.awaitTermination(300)
    streamed = {
        (r.depth, r.bucket): r["count"]
        for r in spark.table("cms_stream_test").collect()
    }

    fanout = ", ".join(f"{x}L" for x in range(CMS_DEPTH))
    cell = (
        _h60_spark("concat(cast(depth AS string), ':', bg)")
        + f" % {CMS_WIDTH}"
    )
    batch = {
        (r.depth, r.bucket): r.cnt
        for r in _bigram_occurrences(docs)
        .selectExpr("bg", f"explode(array({fanout})) AS depth")
        .selectExpr("depth", f"{cell} AS bucket")
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert streamed == batch and len(batch) > 0


def test_quantile_hist_oracle_parity_and_dense_bound(spark, oracle_sf_dir):
    # Staged operator (round-8 window candidate): spark output must
    # hash-match its DuckDB twin, and at sf0.01 group sizes every bin on
    # the quantile path is populated, so the value error must be within
    # one bin width (the dense-bin contract; sf0.001's sparse p99 tail
    # is the documented exception and is covered by the parity compare).
    import duckdb

    from dariadb_spark.ext.sketches import (
        QH_BINS,
        SKETCH_QUANTILE_HIST_SQL,
        sketch_quantile_hist,
    )
    from dariadb_spark.model import measurements

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/events.parquet')"
    )
    rows = sketch_quantile_hist(spark, oracle_sf_dir).collect()
    oracle = con.execute(SKETCH_QUANTILE_HIST_SQL).fetchall()
    con.close()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, oracle))
    widths = {
        r.flag: (r.hi - r.lo) / QH_BINS
        for r in measurements(spark, oracle_sf_dir)
        .groupBy("flag")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in rows:
        assert r.abs_err <= widths[r.flag] + 1e-9, (r, widths[r.flag])


def test_kmv_union_matches_pure_python_reference(spark, sf_dir):
    # Same hashlib third-implementation check as the other sketches,
    # over the full union/intersection algebra: per-lang k-min sketches,
    # merged-union k-th minimum, inclusion-exclusion — all in plain
    # Python, compared value-for-value.
    from dariadb_spark.ext.sketches import KMV_K, sketch_kmv_union
    from dariadb_spark.model import load_table

    per_lang: dict[str, set] = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        w = r.text.split(" ")
        bgs = per_lang.setdefault(r.lang, set())
        for i in range(len(w) - 1):
            bgs.add(w[i] + " " + w[i + 1])
    hashes = {
        lang: sorted(_py_h60(bg) for bg in bgs)
        for lang, bgs in per_lang.items()
    }
    sketches = {lang: h[:KMV_K] for lang, h in hashes.items()}

    def est(kth: int) -> float:
        return round((KMV_K - 1) * 2.0**60 / kth, 4)

    for row in sketch_kmv_union(spark, sf_dir).collect():
        a, b = row.lang_a, row.lang_b
        assert len(per_lang[a] | per_lang[b]) == row.exact_union
        assert len(per_lang[a] & per_lang[b]) == row.exact_intersect
        union_kth = sorted(set(sketches[a]) | set(sketches[b]))[KMV_K - 1]
        assert est(union_kth) == row.kmv_union_est, (a, b)
        ref_int = round(
            est(sketches[a][-1]) + est(sketches[b][-1]) - est(union_kth), 4
        )
        assert ref_int == row.kmv_intersect_est, (a, b)


def test_quantile_hdr_parity_and_relative_bound(spark, oracle_sf_dir):
    # The HDR layout's claim: bounded RELATIVE error (bucket width ≤
    # value/16), range-independent. At sf0.01 group sizes every p lands
    # in a populated bucket → assert ≤ 2/16 (one bucket + rank slack);
    # measured 0.92% max. Parity = same compare the driver would run.
    import duckdb

    from dariadb_spark.ext.sketches import (
        SKETCH_QUANTILE_HDR_SQL,
        sketch_quantile_hdr,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/events.parquet')"
    )
    rows = sketch_quantile_hdr(spark, oracle_sf_dir).collect()
    oracle = con.execute(SKETCH_QUANTILE_HDR_SQL).fetchall()
    con.close()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, oracle))
    assert len(rows) == 15
    for r in rows:
        assert r.rel_err_pct <= 100 * 2 / 16, r


def test_hdr_bucket_arithmetic_matches_python():
    # The integer-exact binning against a plain-Python reference
    # (bit_length), including edge containment: every x lies in
    # [lo_edge, lo_edge + width) of its bucket and ids are monotone.
    sub = 16
    prev = (0, 0)  # (x, bucket)
    for x in sorted(list(range(1, 2000)) + [49002, 2**40 - 1, 2**40]):
        if x < sub:
            b = x
        else:
            e = x.bit_length() - 1
            b = (e - 3) * 16 + ((x >> (e - 4)) & 15)
        if b < sub:
            lo, w = b, 1
        else:
            lo = (16 + b % 16) << (b // 16 - 1)
            w = 1 << (b // 16 - 1)
        assert lo <= x < lo + w, (x, b, lo, w)
        assert b >= prev[1], (x, b, prev)  # monotone in x
        prev = (x, b)
        assert w * 16 <= max(lo, 16), (x, w, lo)  # rel width ≤ 1/16


def _meas(spark, rows):
    from dariadb_spark.model import MEAS_DDL

    return spark.createDataFrame(rows, MEAS_DDL)


def test_funnel_hdr_swap_bounded_error(spark):
    """funnel_latency_op swaps its exact rank window for the HDR walk
    above ``rank_threshold`` converted rows per transition; fixture
    data never gets there. Forcing rank_threshold=0 routes median/p90
    through the HDR log₂×16 weighted-count walk: count and mean stay
    branch-identical (plain sums), and each estimate sits within the
    documented ≤ 1/16 relative error of the exact order statistic
    (+1 ms absolute slack for the sub-16 linear range). Lags span
    octaves (hashed 1..997 ms and ~0.25–60 s) so the walk crosses real
    log buckets."""
    from dariadb_spark.ext.analytics import _FUNNEL, funnel_latency_op

    rows = []
    for u in range(400):
        t1 = u * 100_000
        lag1 = (u * 2654435761) % 997 + 1
        rows.append((u, t1, 0.0, _FUNNEL[0]))
        rows.append((u, t1 + lag1, 0.0, _FUNNEL[1]))
        if u % 2 == 0:
            lag2 = ((u * 998244353) % 241 + 1) * 250
            rows.append((u, t1 + lag1 + lag2, 0.0, _FUNNEL[2]))
    df = _meas(spark, rows)
    exact = {
        r.transition: tuple(r)[1:]
        for r in funnel_latency_op(df, rank_threshold=10**9).collect()
    }
    hdr = {
        r.transition: tuple(r)[1:]
        for r in funnel_latency_op(df, rank_threshold=0).collect()
    }
    assert set(exact) == {"view_to_click", "click_to_purchase"} == set(hdr)
    for tr in exact:
        en, emean, emed, ep90 = exact[tr]
        hn, hmean, hmed, hp90 = hdr[tr]
        assert (en, emean) == (hn, hmean), (tr, exact[tr], hdr[tr])
        assert abs(hmed - emed) <= emed / 16 + 1, (tr, emed, hmed)
        assert abs(hp90 - ep90) <= ep90 / 16 + 1, (tr, ep90, hp90)


def test_bloom_decontaminate_parity_and_guarantees(spark, oracle_sf_dir):
    # Staged operator: DuckDB parity plus Bloom's defining guarantees —
    # NO false negatives (every exactly-contaminated doc is flagged with
    # n_bloom ≥ n_exact) and a nonzero measured false-positive path (the
    # filter is sized to exercise its error, like every sketch here).
    import duckdb

    from dariadb_spark.ext.curation import (
        BLOOM_DECONTAMINATE_SQL,
        bloom_decontaminate,
        decontaminate,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    rows = bloom_decontaminate(spark, oracle_sf_dir).collect()
    oracle = con.execute(BLOOM_DECONTAMINATE_SQL).fetchall()
    con.close()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, oracle))
    by_doc = {r.doc_id: r for r in rows}
    exact = {
        r.doc_id: r.n_contaminated
        for r in decontaminate(spark, oracle_sf_dir).collect()
    }
    for doc_id, n_exact in exact.items():  # no false negatives
        assert doc_id in by_doc, doc_id
        assert by_doc[doc_id].n_bloom >= n_exact, doc_id
        assert by_doc[doc_id].n_exact == n_exact, doc_id
    fps = [r for r in rows if r.is_false_positive]
    assert 0 < len(fps) <= len(rows) // 5  # error path live, rate sane


def test_bloom_filter_matches_pure_python_reference(spark, sf_dir):
    # hashlib + plain-int replication of the whole filter: eval hashes →
    # k affine positions → 63-bit words, then every train-side probe.
    from dariadb_spark.ext.curation import (
        _BLOOM_A,
        _BLOOM_B,
        _BLOOM_P,
        BLOOM_BITS_PER_KEY,
        HOLDOUT_MOD,
        bloom_decontaminate,
    )
    from dariadb_spark.model import load_table

    def shingle_hashes(text: str) -> set[int]:
        w = text.split(" ")
        out = set()
        for i in range(len(w) - 2):
            s = " ".join(w[i : i + 3])
            out.add(_py_h60(s) % _BLOOM_P)
        return out

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    hold = set()
    for d, t in docs.items():
        if d % HOLDOUT_MOD == 0:
            hold |= shingle_hashes(t)
    import math

    m = math.ceil(len(hold) * BLOOM_BITS_PER_KEY / 63) * 63
    words: dict[int, int] = {}
    for h in hold:
        for a, b in zip(_BLOOM_A, _BLOOM_B):
            q = (a * h + b) % _BLOOM_P % m
            words[q // 63] = words.get(q // 63, 0) | (1 << (q % 63))

    def bloom_hit(h: int) -> bool:
        return all(
            words.get(((a * h + b) % _BLOOM_P % m) // 63, 0)
            >> (((a * h + b) % _BLOOM_P % m) % 63)
            & 1
            for a, b in zip(_BLOOM_A, _BLOOM_B)
        )

    ref = {}
    for d, t in docs.items():
        if d % HOLDOUT_MOD == 0:
            continue
        hs = shingle_hashes(t)
        if not hs:
            continue
        n_bloom = sum(1 for h in hs if bloom_hit(h))
        if n_bloom:
            ref[d] = (n_bloom, sum(1 for h in hs if h in hold))
    got = {
        r.doc_id: (r.n_bloom, r.n_exact)
        for r in bloom_decontaminate(spark, sf_dir).collect()
    }
    assert got == ref and len(ref) > 0


def test_quantile_hist_shards_merge_to_global(spark, sf_dir):
    # Bin-wise addition of per-shard histograms equals the global
    # histogram — the mergeability the sketch's 100 TB story rests on.
    from pyspark.sql import functions as F

    from dariadb_spark.ext.sketches import QH_BINS
    from dariadb_spark.model import measurements

    m = measurements(spark, sf_dir).select("flag", "value", "id")
    stats = m.groupBy("flag").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bin_expr = (
        f"CAST(least({QH_BINS - 1}, floor((value - lo) / "
        f"((hi - lo) / {QH_BINS}))) AS BIGINT) AS bin"
    )
    binned = m.join(F.broadcast(stats), "flag").selectExpr(
        "flag", "id", bin_expr
    )
    global_hist = {
        (r.flag, r.bin): r.cnt
        for r in binned.groupBy("flag", "bin")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    per_shard = (
        binned.withColumn("shard", F.expr("id % 3"))
        .groupBy("shard", "flag", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    merged = {
        (r.flag, r.bin): r.total
        for r in per_shard.groupBy("flag", "bin")
        .agg(F.sum("cnt").alias("total"))
        .collect()
    }
    assert merged == global_hist and len(merged) > 0


def test_cms_plan_shape(spark, sf_dir):
    # Depth fan-out must be a generator (explode), not a join with a
    # 4-row table (plans as BroadcastNestedLoopJoin); the sketch probe
    # must be a broadcast hash join — the sketch is ≤1024 rows by
    # construction, shuffling the candidates against it would be absurd.
    from dariadb_spark.ext.sketches import sketch_cms_topk

    df = sketch_cms_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the explode fan-out
    assert "BroadcastHashJoin" in plan  # the sketch probe


def test_cms_rollup_single_corpus_scan(spark, sf_dir):
    # The r9 perf fix's load-bearing property: shard cells, exact
    # counts, and the shard tally all derive from ONE materialization
    # of the per-(shard, bg) summary. Without the checkpoint, the three
    # consumers' divergent column pruning makes Catalyst re-scan the
    # corpus per consumer (measured 6 scans; part of the 3.6 s →
    # ~1.0 s fix) — so the final plan must contain ZERO parquet scans
    # of documents, only reads of the checkpointed summary RDD.
    from dariadb_spark.ext.sketches import sketch_cms_rollup

    df = sketch_cms_rollup(spark, sf_dir)
    df.count()  # materialize the lazy checkpoint
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_rank_monotone_in_weight(spark):
    # A-ExpJ direction pin: raising ONE doc's weight (all else equal)
    # must never worsen its rank — the bug class this catches is an
    # inverted sort (ASC vs DESC on ln(u)/w), which still yields exactly
    # k rows per stratum and can pass shape tests while sampling
    # length-AVERSE. Synthetic frame, one stratum, doc 7's weight swept.
    from dariadb_spark.ext.sampling import sample_weighted
    import dariadb_spark.ext.sampling as sampling_mod
    from unittest import mock

    def rank_of(doc_id: int, weights: dict[int, int]) -> int | None:
        rows_df = spark.createDataFrame(
            [("s", d, w) for d, w in weights.items()],
            "source string, doc_id long, n_chars long",
        )
        with mock.patch.object(
            sampling_mod, "load_table", lambda _s, _sf, _n: rows_df
        ):
            out = sample_weighted(spark, "ignored").collect()
        return next((r.rk for r in out if r.doc_id == doc_id), None)

    base = {d: 300 for d in range(20)}
    ranks = []
    for w in (1, 300, 30_000, 3_000_000):
        ranks.append(rank_of(7, {**base, 7: w}))
    # ranks improve (numerically decrease) or doc enters the sample as
    # its weight grows; never the reverse.
    seen = [r for r in ranks if r is not None]
    assert seen == sorted(seen, reverse=True) or len(set(seen)) == 1, ranks
    assert ranks[-1] is not None and ranks[-1] <= min(
        r for r in ranks if r is not None
    ), ranks


def test_weighted_sample_shape_and_skew(spark, sf_dir):
    from dariadb_spark.ext.sampling import WEIGHTED_K, sample_weighted
    from dariadb_spark.model import load_table

    rows = sample_weighted(spark, sf_dir).collect()
    per_src: dict[str, list] = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
    docs = load_table(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    assert len(per_src) == n_sources
    for src, rs in per_src.items():
        assert len(rs) == WEIGHTED_K, src
        assert sorted(r.rk for r in rs) == list(range(1, WEIGHTED_K + 1))
    # Length-proportional inclusion must skew the sample long vs the corpus.
    corpus_mean = docs.groupBy().avg("n_chars").collect()[0][0]
    sample_mean = float(np.mean([r.n_chars for r in rows]))
    assert sample_mean > corpus_mean


def test_sketch_quantile_selection_rule_crossover(spark, tmp_path):
    # The unified entry point's CONTRACT is the routing rule: a group
    # containing zeros/negatives takes the equi-width histogram, an
    # all-positive group takes HDR. The fixture is all-positive, so the
    # crossover needs a synthetic store with one signed and one
    # positive group.
    import datetime

    from dariadb_spark.ext.sketches import sketch_quantile

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(800):
        ts = base + datetime.timedelta(seconds=i)
        # 'click' → flag 1: signed ramp crossing zero
        rows.append((i, ts, 1, "click", float(i - 400) / 3.0, "{}"))
        # 'view' → flag 2: positive heavy tail (geometric-ish)
        rows.append((10_000 + i, ts, 2, "view", 0.5 + 1.013 ** i, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    d = str(tmp_path / "sfq")
    df.coalesce(1).write.parquet(f"{d}/events.parquet")

    out = sketch_quantile(spark, d).collect()
    methods = {(r.flag, r.p): r.method for r in out}
    assert all(m == "hist" for (f, _), m in methods.items() if f == 1)
    assert all(m == "hdr" for (f, _), m in methods.items() if f == 2)
    assert len(out) == 6


def test_sketch_quantile_one_bucket_of_nearest_rank_bound(
    spark, sf_dir, oracle_sf_dir
):
    # The operator's provable error contract, on BOTH fixture SFs
    # (including sf0.001's sparse p99 tail, the r7 verdict's item 4):
    # the estimate lies within one bucket width of the rank-⌈p·n⌉
    # order statistic. The interpolated-exact comparison (the checked
    # abs_err column) additionally carries the adjacent-order-stat
    # spacing; THIS bound is the one that holds by construction.
    import math
    from collections import defaultdict

    from dariadb_spark.ext.sketches import QH_BINS, sketch_quantile
    from dariadb_spark.model import measurements

    for sf in (sf_dir, oracle_sf_dir):
        rows = sketch_quantile(spark, sf).collect()
        assert len(rows) == 15
        groups = defaultdict(list)
        for r in measurements(spark, sf).select("flag", "value").collect():
            groups[r.flag].append(r.value)
        for g in groups.values():
            g.sort()
        for r in rows:
            vals = groups[r.flag]
            xr = vals[math.ceil(r.p * len(vals)) - 1]  # nearest-rank exact
            if r.method == "hdr":
                x = round(xr * 100)
                width = (1 if x < 16 else 1 << (x.bit_length() - 5)) / 100
            else:
                width = (vals[-1] - vals[0]) / QH_BINS
            assert abs(r.qsk_est - xr) <= width + 0.02, (sf, tuple(r), xr)


def test_streaming_kmv_matches_batch_with_bounded_state(
    spark, oracle_sf_dir
):
    # Staged r10 streaming surface (the third sketch twin): the
    # bounded-state KMV fold over two one-file micro-batches must land
    # on EXACTLY the batch k-smallest-distinct-hash table (DuckDB
    # oracle), every emission must respect the k-row state bound, and
    # at least one group must have folded through BOTH batches (a
    # genuine incremental merge, not a single-batch replay).
    import duckdb

    from dariadb_spark.ext.sketches import (
        KMV_K,
        STREAMING_KMV_CELLS_SQL,
    )
    from dariadb_spark.streaming.sketch import streaming_kmv_parity

    rows = [
        tuple(r) for r in streaming_kmv_parity(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [
        tuple(r) for r in con.execute(STREAMING_KMV_CELLS_SQL).fetchall()
    ]
    con.close()
    assert rows == oracle and len(rows) > 0
    per_lang: dict[str, int] = {}
    for lang, rn, h in rows:
        per_lang[lang] = max(per_lang.get(lang, 0), rn)
    assert all(k <= KMV_K for k in per_lang.values())
    assert any(k == KMV_K for k in per_lang.values())  # sketch saturated
    # per-group hashes strictly increasing by rank (a SET, trimmed)
    by_lang: dict[str, list[int]] = {}
    for lang, rn, h in rows:
        by_lang.setdefault(lang, []).append(h)
    for hs in by_lang.values():
        assert hs == sorted(set(hs))


def test_streaming_hdr_matches_batch(spark, sf_dir, tmp_path):
    # Staged r9 streaming surface (the CMS pattern): ingesting the
    # measurement slice in two file drops, folded one-file-per-batch,
    # must land on EXACTLY the batch HDR bucket table — additive cells
    # make batching invisible.
    from pyspark.sql import functions as F

    from dariadb_spark.ext.sketches import HDR_SUB_BITS
    from dariadb_spark.model import measurements
    from dariadb_spark.streaming.sketch import streaming_hdr_cells

    meas = measurements(spark, sf_dir).select("id", "time", "value", "flag")
    d = str(tmp_path / "meas_stream")
    meas.where("id % 2 = 0").write.parquet(d)
    meas.where("id % 2 = 1").write.mode("append").parquet(d)

    q = streaming_hdr_cells(
        spark, d, "hdr_stream_test", max_files_per_trigger=1
    )
    q.awaitTermination(300)
    streamed = {
        (r.flag, r.bucket): r["count"]
        for r in spark.table("hdr_stream_test").collect()
    }

    sub = 1 << HDR_SUB_BITS
    bucket = (
        f"CASE WHEN x < {sub} THEN x "
        f"ELSE (length(bin(x)) - {HDR_SUB_BITS}) * {sub} "
        f"  + (shiftright(x, length(bin(x)) - {HDR_SUB_BITS + 1}) "
        f"     & {sub - 1}) END"
    )
    batch = {
        (r.flag, r.bucket): r.cnt
        for r in meas.where("value > 0")
        .selectExpr("flag", "CAST(round(value * 100, 0) AS BIGINT) AS x")
        .selectExpr("flag", f"{bucket} AS bucket")
        .groupBy("flag", "bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert streamed == batch and len(batch) > 0


def test_sketch_rollup_quantile_parity_and_merge_semantics(
    spark, oracle_sf_dir
):
    # Staged r9 operator: the daily→global HDR rollup. DuckDB parity
    # (the compare the driver will run) plus the rollup's semantic
    # claims: merged estimate within the relative contract of exact,
    # and the per-day cell tables genuinely partition the merged one
    # (sum of daily cells ≥ merged cells; multiple days covered).
    import duckdb

    from dariadb_spark.ext.sketches import (
        SKETCH_ROLLUP_QUANTILE_SQL,
        sketch_rollup_quantile,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/events.parquet')"
    )
    rows = sketch_rollup_quantile(spark, oracle_sf_dir).collect()
    oracle = con.execute(SKETCH_ROLLUP_QUANTILE_SQL).fetchall()
    con.close()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, oracle))
    assert len(rows) > 0
    for r in rows:
        assert r.n_days > 1, r  # a real multi-day rollup, not one bucket
        assert r.n_daily_cells >= r.n_days, r
        assert r.rel_err_pct <= 100 * 2 / 16, r


# --- staged r9: product-quantization ANN ---------------------------------

def test_sim_ann_pq_oracle_parity(spark, oracle_sf_dir):
    # Staged operator: the compare the driver will run. The checked
    # output carries pq_d2 AND exact_d2 — the quantization error is
    # part of the result (the fixture's random embeddings concentrate
    # distances, so the error is honestly large; the planted-cluster
    # test below is the quality proof).
    import duckdb

    from dariadb_spark.ext.similarity import SIM_ANN_PQ_SQL, sim_ann_pq

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/embeddings.parquet')"
    )
    rows = sim_ann_pq(spark, oracle_sf_dir).collect()
    oracle = con.execute(SIM_ANN_PQ_SQL).fetchall()
    con.close()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, oracle))
    from dariadb_spark.ext.similarity import QUERY_VEC_IDS, TOP_K

    assert len(rows) == len(QUERY_VEC_IDS) * TOP_K
    assert all(r.pq_d2 >= 0 and r.exact_d2 >= 0 for r in rows)


def test_sim_ann_pq_planted_clusters(spark, tmp_path):
    # The quality claim PQ actually makes: on data WITH structure, the
    # 4-byte codes preserve neighborhoods. 10 well-separated clusters
    # (block-signature centers + deterministic jitter); every ADC-
    # selected neighbor must come from the query's own cluster (within-
    # cluster ordering is quantized away by construction — same codes →
    # tied estimates — so cluster PRECISION, not rank recall, is the
    # honest assertion).
    from dariadb_spark.ext.similarity import QUERY_VEC_IDS, sim_ann_pq

    n, dim, n_clusters = 500, 64, 10
    rows = []
    for vid in range(n):
        c = vid % n_clusters
        vec = [
            (10.0 if c * 6 <= d < c * 6 + 6 else 0.0)
            + 0.1 * (((vid * 31 + d * 17) % 7) - 3)
            for d in range(dim)
        ]
        rows.append((vid, vec, c))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    d = str(tmp_path / "sfpq")
    df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    out = sim_ann_pq(spark, d).collect()
    assert len(out) == len(QUERY_VEC_IDS) * 10
    for r in out:
        assert r.vec_id % n_clusters == r.q_id % n_clusters, tuple(r)
        # within-cluster: tiny true distance; cross-cluster would be ≥ 2·600
        assert r.exact_d2 < 50, tuple(r)


# --- regressions for the r7 ADVICE edge fixes (fixtures never hit them) --

def _docs_dir(spark, tmp_path, rows, name="sfdocs"):
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    d = str(tmp_path / name)
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def test_kmv_small_group_emits_null_estimate(spark, tmp_path):
    # A language with fewer than KMV_K distinct bigrams has no k-th
    # hash; it must still appear with its exact count and NULL estimate
    # — and both engines must agree (the pre-fix inner join silently
    # dropped the group from Spark AND DuckDB identically).
    import duckdb

    from dariadb_spark.ext.sketches import (
        KMV_K,
        SKETCH_KMV_DISTINCT_SQL,
        sketch_kmv_distinct,
    )

    big_words = " ".join(f"w{i}" for i in range(KMV_K + 40))
    rows = [
        (1, "a b a b a", "tiny", "s", 9),       # 2 distinct bigrams
        (2, big_words, "big", "s", len(big_words)),  # > KMV_K distinct
    ]
    d = _docs_dir(spark, tmp_path, rows)
    got = {r.lang: r for r in sketch_kmv_distinct(spark, d).collect()}
    assert set(got) == {"tiny", "big"}
    assert got["tiny"].exact_distinct == 2
    assert got["tiny"].kmv_est is None and got["tiny"].rel_err_pct is None
    assert got["big"].kmv_est is not None

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(SKETCH_KMV_DISTINCT_SQL).fetchall()))
    con.close()
    spark_rows = sorted(
        tuple(r) for r in sketch_kmv_distinct(spark, d).collect()
    )
    assert spark_rows == oracle


def test_bloom_empty_holdout_no_divide_by_zero(spark, tmp_path):
    # No doc_id % HOLDOUT_MOD == 0 → empty holdout → the bit-array size
    # clamps to one word instead of zeroing the modulus (pre-fix: Spark
    # NULL-ed all probes while DuckDB raised). Zero rows, both engines,
    # no error.
    import duckdb

    from dariadb_spark.ext.curation import (
        BLOOM_DECONTAMINATE_SQL,
        bloom_decontaminate,
    )

    rows = [
        (i, "alpha beta gamma delta epsilon zeta", "en", "s", 35)
        for i in range(1, 20)  # ids 1..19: none divisible by 50
    ]
    d = _docs_dir(spark, tmp_path, rows)
    assert bloom_decontaminate(spark, d).collect() == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert con.execute(BLOOM_DECONTAMINATE_SQL).fetchall() == []
    con.close()


def test_quantile_hist_constant_group_bins_identically(spark, tmp_path):
    # A constant-valued flag group has hi == lo and a zero-width bin;
    # the epsilon floor must make both engines bin the whole group at 0
    # (pre-fix: Spark NaN → bin 127, DuckDB NULL — silent divergence).
    import datetime

    import duckdb

    from dariadb_spark.ext.sketches import (
        SKETCH_QUANTILE_HIST_SQL,
        sketch_quantile_hist,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(seconds=i),
            i,
            "click" if i % 2 == 0 else "view",
            7.25 if i % 2 == 0 else float(i),  # 'click' group constant
            "{}",
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    d = str(tmp_path / "sfconst")
    df.coalesce(1).write.parquet(f"{d}/events.parquet")

    got = sorted(tuple(r) for r in sketch_quantile_hist(spark, d).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(SKETCH_QUANTILE_HIST_SQL).fetchall()))
    con.close()
    assert got == oracle
    const_rows = [r for r in got if r[0] == 1]  # flag 1 = 'click'
    assert len(const_rows) == 3
    for flag, p, exact, est, abs_err in const_rows:
        assert exact == 7.25 and est == 7.25 and abs_err == 0.0


def test_streaming_hdr_parity_matches_batch_oracle(spark, oracle_sf_dir):
    # The staged r9 parity function end-to-end: two file drops folded
    # one per micro-batch must equal the batch HDR cell oracle — the
    # exact compare the driver will run when r9 registers it.
    import duckdb

    from dariadb_spark.ext.sketches import STREAMING_HDR_CELLS_SQL
    from dariadb_spark.streaming.sketch import streaming_hdr_parity

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/events.parquet')"
    )
    rows = sorted(
        tuple(r) for r in streaming_hdr_parity(spark, oracle_sf_dir).collect()
    )
    oracle = sorted(map(tuple, con.execute(STREAMING_HDR_CELLS_SQL).fetchall()))
    con.close()
    assert rows == oracle and len(rows) > 0


def test_train_quality_lr_parity_and_learning_curve(spark, oracle_sf_dir):
    # Staged r9 operator: distributed logistic-regression training with
    # the 2-step unrolled oracle. Parity (the driver compare) plus the
    # claims that make it a TRAINER: log-loss strictly falls across
    # steps and accuracy beats the base rate after step 1.
    import duckdb

    from dariadb_spark.ext.train import (
        TRAIN_QUALITY_LR_SQL,
        train_quality_lr,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/embeddings.parquet')"
    )
    rows = [tuple(r) for r in train_quality_lr(spark, oracle_sf_dir).collect()]
    oracle = [tuple(r) for r in con.execute(TRAIN_QUALITY_LR_SQL).fetchall()]
    con.close()
    assert rows == oracle
    assert [r[0] for r in rows] == [0, 1, 2]
    losses = [r[1] for r in rows]
    accs = [r[2] for r in rows]
    norms = [r[3] for r in rows]
    assert losses[0] == 0.6931  # ln 2 at the zero init
    assert losses[2] < losses[1] < losses[0]
    assert accs[1] > accs[0] and accs[1] > 0.55  # beats the base rate
    assert norms[0] == 0.0 and norms[2] > norms[1] > 0.0


def test_train_quality_eval_parity_and_confusion_algebra(
    spark, oracle_sf_dir
):
    # Staged r10 operator (operating-point audit): DuckDB parity plus
    # the confusion-matrix algebra — every threshold partitions the
    # corpus exactly (tp+fp+fneg+tn == n), predicted-positives are
    # monotone non-increasing in the threshold, and the sweep's tails
    # exercise both the all-positive regime and the zero-denominator
    # guard.
    import duckdb

    from dariadb_spark.ext.train import (
        TRAIN_QUALITY_EVAL_SQL,
        train_quality_eval,
    )
    from dariadb_spark.model import load_table

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/embeddings.parquet')"
    )
    rows = [
        tuple(r) for r in train_quality_eval(spark, oracle_sf_dir).collect()
    ]
    oracle = [tuple(r) for r in con.execute(TRAIN_QUALITY_EVAL_SQL).fetchall()]
    con.close()
    assert rows == oracle
    n = load_table(spark, oracle_sf_dir, "embeddings").count()
    pos_by_thr = []
    for thr, tp, fp, fneg, tn, precision, recall, f1 in rows:
        assert tp + fp + fneg + tn == n, thr
        assert 0.0 <= precision <= 1.0 and 0.0 <= recall <= 1.0
        pos_by_thr.append(tp + fp)
        if tp + fp == 0:
            assert precision == 0.0 and f1 == 0.0  # guard, not NULL/NaN
    assert pos_by_thr == sorted(pos_by_thr, reverse=True)
    assert pos_by_thr[0] > 0  # the sweep's low end actually predicts


def test_train_lr_arbitrary_steps_keeps_learning(spark, oracle_sf_dir):
    # The production trainer at a depth the unrolled oracle can't
    # express (8 steps): the loss at the end is below both the zero
    # init (ln 2) AND the 2-step oracled query's final loss, and the
    # first two steps' metrics equal the oracled query's rows (the
    # production loop IS the unrolled computation, continued).
    from dariadb_spark.ext.train import train_lr, train_quality_lr
    from dariadb_spark.model import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings").selectExpr(
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS e",
        "CAST(label < 5 AS INT) AS y",
    )
    w, hist = train_lr(emb, 8)
    assert len(hist) == 8 and len(w) == 64
    # metrics at step k are evaluated BEFORE applying step k's update,
    # i.e. hist[k] corresponds to the oracled query's step-(k-1) row
    oracle_rows = {
        r.step: r for r in train_quality_lr(spark, oracle_sf_dir).collect()
    }
    assert hist[0]["log_loss"] == oracle_rows[0].log_loss
    assert hist[1]["log_loss"] == oracle_rows[1].log_loss
    assert hist[2]["log_loss"] == oracle_rows[2].log_loss
    losses = [h["log_loss"] for h in hist]
    assert losses[-1] < losses[2] < losses[0]
    assert hist[-1]["accuracy"] >= hist[1]["accuracy"]


def test_sem_dedup_parity_and_keep_first(spark, oracle_sf_dir):
    # Staged r10 operator (SemDeDup): DuckDB parity over the full
    # pipeline (2 unrolled Lloyd rounds + cluster-local pairwise),
    # plus the claims that make it a DEDUP: the fixture actually
    # exercises the prune branch, survivors follow the deterministic
    # keep-first rule (a vector drops iff a lower-id cell-mate is
    # within the threshold), and every drop stays inside its cell.
    import duckdb

    from dariadb_spark.ext.similarity import (
        SEM_DEDUP_COS,
        SEM_DEDUP_SQL,
        sem_dedup,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/embeddings.parquet')"
    )
    rows = [tuple(r) for r in sem_dedup(spark, oracle_sf_dir).collect()]
    oracle = [tuple(r) for r in con.execute(SEM_DEDUP_SQL).fetchall()]
    con.close()
    assert rows == oracle
    dropped = [r for r in rows if r[4] == 0]
    touched = [r for r in rows if r[2] > 0]
    assert dropped and touched  # prune branch exercised by the fixture
    assert all(r[3] >= SEM_DEDUP_COS for r in touched)
    assert all(r[3] < SEM_DEDUP_COS for r in rows if r[2] == 0)
    # keep-first, re-derived OUTSIDE the operator: recompute every
    # within-cell cosine with numpy and check each vector's verdict is
    # exactly "exists a lower-id cell-mate within the threshold"
    from dariadb_spark.model import load_table

    emb_rows = (
        load_table(spark, oracle_sf_dir, "embeddings")
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        )
        .collect()
    )
    vecs = {int(r.vec_id): np.asarray(r.e, dtype=np.float64) for r in emb_rows}
    by_cell: dict[int, list[int]] = {}
    for vec_id, cid, *_ in rows:
        by_cell.setdefault(cid, []).append(vec_id)
    for vec_id, cid, n_dups, max_cos, keep in rows:
        v = vecs[vec_id]
        vn = v / np.linalg.norm(v)
        has_lower_dup = False
        boundary_risky = False
        for other in by_cell[cid]:
            if other >= vec_id:
                continue
            c = float(
                np.dot(vn, vecs[other] / np.linalg.norm(vecs[other]))
            )
            # numpy's BLAS dot vs the engines' sequential fold can
            # differ in the last ulp; a cosine sitting exactly on a
            # round(·,4) half-step could flip — skip those vectors
            if abs((c * 1e4) % 1 - 0.5) < 1e-6:
                boundary_risky = True
            if round(c, 4) >= SEM_DEDUP_COS:
                has_lower_dup = True
        if not boundary_risky:
            assert keep == (0 if has_lower_dup else 1), (vec_id, cid)


def test_corpus_mixture_apply_parity_and_yield(spark, oracle_sf_dir):
    # Staged r10 operator (mixture plan EXECUTION): DuckDB parity, then
    # a full independent replay — recompute each source's planned rate
    # consumers' keep set with the Knuth hash in Python and check every
    # achieved count; every gap_pct must be the achieved-vs-expected
    # arithmetic it claims to be.
    import duckdb

    from dariadb_spark.ext.sampling import (
        CORPUS_MIXTURE_APPLY_SQL,
        KNUTH,
        MIX_SEED_OFFSET,
        MOD32,
        corpus_mixture,
        corpus_mixture_apply,
    )
    from dariadb_spark.model import load_table

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    rows = [
        tuple(r) for r in corpus_mixture_apply(spark, oracle_sf_dir).collect()
    ]
    oracle = [
        tuple(r) for r in con.execute(CORPUS_MIXTURE_APPLY_SQL).fetchall()
    ]
    con.close()
    assert rows == oracle and len(rows) > 0
    plan = {
        r.source: (float(r.sample_rate), float(r.expected_tokens))
        for r in corpus_mixture(spark, oracle_sf_dir).collect()
    }
    docs = (
        load_table(spark, oracle_sf_dir, "documents")
        .selectExpr("doc_id", "source", "size(split(text, ' ')) AS n_tok")
        .collect()
    )
    achieved: dict[str, list[int]] = {}
    for d in docs:
        rate = plan[d.source][0]
        pct = ((int(d.doc_id) + MIX_SEED_OFFSET) * KNUTH) % MOD32
        if (pct % 1_000_000) / 10_000.0 < rate * 100.0:
            agg = achieved.setdefault(d.source, [0, 0])
            agg[0] += 1
            agg[1] += int(d.n_tok)
    for source, sample_rate, n_kept, ach_tok, exp_tok, gap in rows:
        exp_docs, exp_toks = achieved.get(source, [0, 0])
        assert (n_kept, ach_tok) == (exp_docs, exp_toks), source
        assert gap == round((ach_tok - exp_tok) / exp_tok * 100, 2), source


def test_pq_encode_arrow_api_matches_argmin(spark):
    # The production encode API: on a small planted frame, the
    # codes must equal a numpy argmin replay, identical vectors must
    # encode identically (the no-false-negatives property), and ties
    # must break to the smaller centroid id.
    from dariadb_spark.ext.similarity import pq_encode_arrow

    rng = np.random.RandomState(5)
    M, K, SUB = 2, 4, 3
    C = rng.randn(M, K, SUB)
    base = rng.randn(30, M * SUB)
    base[29] = base[0]  # planted clone
    # a deliberate tie: vector 28's first sub-vector is centroid 1 ==
    # centroid 3 (duplicate centroids force equal distances)
    C[0, 3] = C[0, 1]
    base[28, :SUB] = C[0, 1]
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")
    got = {
        r.vec_id: tuple(r[f"c{m}"] for m in range(M))
        for r in pq_encode_arrow(emb, C).collect()
    }
    assert len(got) == 30
    assert got[29] == got[0]  # clones share codes
    assert got[28][0] == 1  # tie broken to the smaller cid
    csq = (C * C).sum(axis=2)
    for i in range(30):
        for m in range(M):
            d = csq[m] - 2.0 * (base[i, m * SUB: (m + 1) * SUB] @ C[m].T)
            assert got[i][m] == int(d.argmin()), (i, m)


def test_ivf_index_persists_and_probes_exactly(spark, tmp_path, sf_dir):
    """The persisted IVF index (build-once/query-many production API):
    probing must equal a numpy brute-force over EXACTLY the probed
    cells' members, the top-1 for an in-corpus query is itself
    (cos = 1), and the posting scan prunes to the probed partitions
    (PartitionFilters in the plan — the directory layout IS the
    index)."""
    from dariadb_spark.ext.similarity import (
        build_ivf_index,
        ivf_index_query,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
    )
    rows = emb.collect()
    X = np.vstack([r["e"] for r in rows]).astype(np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    C = X[:16]  # first-16 centroids, the registered IVF row's seed
    stats = build_ivf_index(emb, str(tmp_path / "ivf"), C)
    assert stats["n_vectors"] == len(rows) and stats["k_cells"] == 16

    # centroid assignment replay (fp32, argmax first-occurrence)
    Cn32 = (C / np.linalg.norm(C, axis=1, keepdims=True)).astype(np.float32)
    Xn32 = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
    cell_of = (Xn32 @ Cn32.T).argmax(axis=1)

    queries = [(int(ids[i]), X[np.where(ids == ids[i])[0][0]]) for i in (0, 7, 33)]
    out = ivf_index_query(
        spark, str(tmp_path / "ivf"), queries, n_probe=2, topk=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan
    got = [(r.query_id, r.rank, r.vec_id, r.cos) for r in out.collect()]

    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for qid, qv in queries:
        qn = qv / np.linalg.norm(qv)
        sims = qn @ Cn.T
        order = np.lexsort((np.arange(16), -sims))[:2]
        members = np.isin(cell_of, order)
        cos = (X[members] / np.linalg.norm(X[members], axis=1, keepdims=True)) @ qn
        cand_ids = ids[members]
        want = sorted(zip(-cos, cand_ids))[:4]
        mine = [(r, v, c) for (q, r, v, c) in got if q == qid]
        assert mine[0][1] == qid and abs(mine[0][2] - 1.0) < 1e-9  # self
        for (rank, vec_id, c), (negc, wid) in zip(mine, want):
            assert vec_id == wid, (qid, rank, vec_id, wid)
            assert abs(c - (-negc)) < 1e-9


def test_sem_dedup_blocked_complete_within_cells(spark):
    # The production-scale API: on a small planted frame, the blocked
    # pair set must equal the brute-force pair set restricted to shared
    # cells — within-cell completeness, zero false positives, and every
    # planted clone pair found (identical vectors always share a cell).
    from dariadb_spark.ext.similarity import sem_dedup_blocked

    rng = np.random.RandomState(11)
    base = rng.randn(200, 16)
    vecs = {i: base[i] for i in range(200)}
    for a, b in ((3, 200), (57, 201), (120, 202)):  # planted clones
        vecs[b] = vecs[a].copy()
    rows = [(int(i), [float(x) for x in v]) for i, v in vecs.items()]
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")
    centroids = base[:8]
    tau = 0.95
    got = {
        (r.vec_a, r.vec_b)
        for r in sem_dedup_blocked(emb, centroids, tau).collect()
    }
    for a, b in ((3, 200), (57, 201), (120, 202)):
        assert (a, b) in got, (a, b)
    # independent replay: fp32 assignment + within-cell brute force
    C = centroids.astype(np.float32)
    C = C / np.linalg.norm(C, axis=1, keepdims=True)

    def cell_of(v):
        vn = v.astype(np.float32)
        vn = vn / np.linalg.norm(vn)
        return int((vn @ C.T).argmax())

    cells = {i: cell_of(v) for i, v in vecs.items()}
    expected = set()
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        va = vecs[a].astype(np.float32)
        va = va / np.linalg.norm(va)
        for b in ids[i + 1:]:
            if cells[a] != cells[b]:
                continue
            vb = vecs[b].astype(np.float32)
            vb = vb / np.linalg.norm(vb)
            if float(va @ vb) >= tau:
                expected.add((a, b))
    assert got == expected, got ^ expected


def test_dedup_boilerplate_parity_and_verdicts(spark, oracle_sf_dir):
    # Staged r10 operator (CCNet-style chunk boilerplate): DuckDB
    # parity, the fixture exercises both verdict branches, chunk
    # accounting is conserved (every doc's chunks = ceil(words / P)),
    # and a planted exact-dup pair is mutually all-boilerplate.
    import duckdb

    from dariadb_spark.ext.dedup import (
        BOILER_CHUNK_WORDS,
        DEDUP_BOILERPLATE_SQL,
        dedup_boilerplate,
    )
    from dariadb_spark.model import load_table

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    rows = [
        tuple(r) for r in dedup_boilerplate(spark, oracle_sf_dir).collect()
    ]
    oracle = [tuple(r) for r in con.execute(DEDUP_BOILERPLATE_SQL).fetchall()]
    con.close()
    assert rows == oracle
    assert any(r[4] == 0 for r in rows) and any(r[4] == 1 for r in rows)
    # full independent replay in Python: chunk every doc, count each
    # chunk's distinct-doc frequency, and verify every output row
    import math

    from dariadb_spark.ext.dedup import BOILER_MIN_DOCS

    p = BOILER_CHUNK_WORDS
    doc_chunks: dict[int, list[str]] = {}
    for r in (
        load_table(spark, oracle_sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ):
        w = r.text.split(" ")
        doc_chunks[int(r.doc_id)] = [
            " ".join(w[i * p: (i + 1) * p])
            for i in range(math.ceil(len(w) / p))
        ]
    docs_per_chunk: dict[str, set[int]] = {}
    for doc_id, chunks in doc_chunks.items():
        for c in chunks:
            docs_per_chunk.setdefault(c, set()).add(doc_id)
    assert len(rows) == len(doc_chunks)
    for doc_id, n_chunks, n_boiler, frac, keep in rows:
        chunks = doc_chunks[doc_id]
        exp_boiler = sum(
            1 for c in chunks if len(docs_per_chunk[c]) >= BOILER_MIN_DOCS
        )
        assert n_chunks == len(chunks), doc_id
        assert n_boiler == exp_boiler, doc_id
        assert frac == round(exp_boiler / len(chunks), 4), doc_id


def test_sketch_cms_rollup_parity_and_merge_equivalence(
    spark, oracle_sf_dir
):
    # Staged operator: heavy hitters read off the SHARD-MERGED sketch.
    # DuckDB parity, plus CMS linearity as a checked equivalence: the
    # merged-cell estimates equal the direct single-build estimates for
    # every top-K bigram, and the one-sided error contract holds.
    import duckdb

    from dariadb_spark.ext.sketches import (
        SKETCH_CMS_ROLLUP_SQL,
        sketch_cms_rollup,
        sketch_cms_topk,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    rows = sketch_cms_rollup(spark, oracle_sf_dir).collect()
    oracle = con.execute(SKETCH_CMS_ROLLUP_SQL).fetchall()
    con.close()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, oracle))
    assert len(rows) == 20
    assert all(r.n_shards == 4 and r.overcount >= 0 for r in rows)
    direct = {
        r.bg: r.cms_est for r in sketch_cms_topk(spark, oracle_sf_dir).collect()
    }
    assert {r.bg: r.cms_est for r in rows} == direct  # linearity


def test_media_keyframes_parity_and_semantics(spark, oracle_sf_dir):
    # Staged operator: video keyframe selection (temporal frame dedup).
    # DuckDB parity plus the selection semantics: frame 0 always keeps;
    # a kept non-first frame crossed the Hamming threshold (a scene
    # cut); a dropped frame stayed within the in-scene jitter bound.
    import duckdb

    from dariadb_spark.ext.multimodal import (
        KEYFRAME_HAMMING,
        MEDIA_KEYFRAMES_SQL,
        media_keyframes,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    rows = media_keyframes(spark, oracle_sf_dir).collect()
    oracle = con.execute(MEDIA_KEYFRAMES_SQL).fetchall()
    con.close()
    key = lambda t: (t[0], t[1])
    assert sorted(map(tuple, rows), key=key) == sorted(
        map(tuple, oracle), key=key
    )
    assert len(rows) > 100
    dropped = kept_cuts = 0
    for r in rows:
        if r.frame_idx == 0:
            assert r.is_keyframe == 1 and r.hamming_prev is None
        elif r.is_keyframe:
            assert r.hamming_prev > KEYFRAME_HAMMING
            kept_cuts += 1
        else:
            assert r.hamming_prev <= 2  # two jitter bits at most
            dropped += 1
    assert dropped > 20 and kept_cuts > 20  # both paths exercised


def test_text_perplexity_parity_and_ccnet_buckets(spark, oracle_sf_dir):
    # Staged r11 operator: real per-doc LM perplexity (the CCNet
    # statistic the OOV filter stood in for) — DuckDB-oracle parity,
    # an independent Python replay of the whole statistic, and the
    # tercile-bucket invariants.
    import math

    import duckdb

    from dariadb_spark.ext.curation import (
        LM_MIN_COUNT,
        TEXT_PERPLEXITY_SQL,
        TEXT_PPL_TERCILES,
        text_perplexity,
    )

    rows = [tuple(r) for r in text_perplexity(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(TEXT_PERPLEXITY_SQL).fetchall()]
    assert rows == oracle

    # independent replay in plain Python
    docs = con.execute(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
        " ORDER BY doc_id"
    ).fetchall()
    from collections import Counter, defaultdict

    c12, c1 = Counter(), Counter()
    per_doc = {}
    for doc_id, text in docs:
        ws = text.split(" ")
        bgs = list(zip(ws, ws[1:]))
        per_doc[doc_id] = bgs
        for b in bgs:
            c12[b] += 1
            c1[b[0]] += 1
    lm = {
        b: round(n / c1[b[0]], 6) for b, n in c12.items() if n >= LM_MIN_COUNT
    }
    got = {r[0]: r for r in rows}
    n_bucketed = defaultdict(int)
    for doc_id, bgs in per_doc.items():
        known = [lm[b] for b in bgs if b in lm]
        r = got[doc_id]
        assert r[1] == len(bgs) and r[2] == len(known), doc_id
        if known:
            # integer micro-nll mean — the engines sum exact int64 terms
            # (float accumulation diverged at boundary docs; see _doc_nll)
            s6 = sum(int(round(round(-math.log(p), 6) * 1e6)) for p in known)
            n6 = len(known) * 10**6
            nll = ((2 * s6 * 10**4 + n6) // (2 * n6)) / 1e4
            assert r[3] == nll and r[4] == round(math.exp(nll), 4), doc_id
        else:
            assert r[3] is None and r[4] is None, doc_id
        n_bucketed[r[5]] += 1
    # terciles split the corpus near-evenly and head ppl < tail ppl
    assert set(n_bucketed) == set(range(1, TEXT_PPL_TERCILES + 1))
    assert max(n_bucketed.values()) - min(n_bucketed.values()) <= 1
    head = [r[4] for r in rows if r[5] == 1 and r[4] is not None]
    tail = [r[4] for r in rows if r[5] == TEXT_PPL_TERCILES and r[4] is not None]
    assert head and max(head) <= min(tail or [float("inf")])


def test_doremi_reweight_parity_loop_pin_and_invariants(spark, oracle_sf_dir):
    # Staged r12 operator: DoReMi-style domain reweighting — DuckDB
    # oracle parity, bit-identity of the driver-side production loop's
    # step 2 with the unrolled registered query, and the distribution /
    # direction invariants.
    import duckdb

    from dariadb_spark.ext.curation import (
        DOREMI_REWEIGHT_SQL,
        doremi_iterate,
        doremi_reweight,
    )

    rows = [tuple(r) for r in doremi_reweight(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(DOREMI_REWEIGHT_SQL).fetchall()]
    assert rows == oracle

    # production loop at steps=2 is BIT-identical to the unrolled query
    it2 = {d["source"]: d for d in doremi_iterate(spark, oracle_sf_dir, steps=2)}
    for r in rows:
        src, alpha1, alpha2, alpha_bar = r[0], r[7], r[8], r[9]
        assert it2[src]["alpha"] == alpha2, src
        # 2-step average: integer HALF_UP of (a1µ + a2µ)/2
        a1u, a2u = round(alpha1 * 1e6), round(alpha2 * 1e6)
        assert round(alpha_bar * 1e6) == (a1u + a2u + 1) // 2, src

    # invariants: excess is nonnegative and zero-floored; every alpha
    # column is a distribution within micro-unit rounding of 1; the
    # uniform-smoothing floor c/k holds for every weight
    k = len(rows)
    for col in (7, 8, 9):
        s = sum(r[col] for r in rows)
        assert abs(s - 1.0) < k * 1e-6 + 1e-9, (col, s)
    assert all(r[6] >= 0.0 for r in rows)
    assert all(r[8] >= 0.1 / k - 1e-6 for r in rows)

    # a longer loop stays a distribution and keeps the smoothing floor
    it12 = doremi_iterate(spark, oracle_sf_dir, steps=12)
    s12 = sum(d["alpha"] for d in it12)
    assert abs(s12 - 1.0) < k * 1e-6 + 1e-9, s12
    assert all(d["alpha"] >= 0.1 / k - 1e-6 for d in it12)


def test_dsir_select_parity_and_python_replay(spark, oracle_sf_dir):
    # Staged r11 operator: DSIR-style importance resampling — DuckDB
    # oracle parity, then an independent Python replay of the WHOLE
    # statistic (hashed features, micro-integer lambda, deterministic
    # Gumbel keys, rank) plus the resample invariants.
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from dariadb_spark.ext.curation import (
        DSIR_BUCKETS,
        DSIR_KEEP_K,
        DSIR_SELECT_SQL,
        DSIR_TARGET_SOURCES,
        _DSIR_UMOD,
        dsir_select,
    )

    rows = [tuple(r) for r in dsir_select(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(DSIR_SELECT_SQL).fetchall()]
    assert rows == oracle

    def _r(x: float, nd: int) -> float:
        # engines round HALF AWAY FROM ZERO on the exact double value;
        # Python's round() banker's-rounds, so replicate via Decimal.
        q = Decimal(1).scaleb(-nd) if nd else Decimal(1)
        return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))

    docs = con.execute(
        "SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL"
        " ORDER BY doc_id"
    ).fetchall()
    per_doc: dict[int, Counter] = {}
    ct: Counter = Counter()
    cr: Counter = Counter()
    src_of = {}
    for doc_id, source, text in docs:
        ws = text.split(" ")
        feats = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        buckets = Counter(_py_h60(f) % DSIR_BUCKETS for f in feats)
        per_doc[doc_id] = buckets
        src_of[doc_id] = source
        tgt = source in DSIR_TARGET_SOURCES
        for b, c in buckets.items():
            (ct if tgt else cr)[b] += c
    tt, tr = sum(ct.values()), sum(cr.values())
    all_buckets = set(ct) | set(cr)
    lam_i = {
        b: int(
            _r(
                (
                    math.log((ct.get(b, 0) + 1) / (tt + DSIR_BUCKETS))
                    - math.log((cr.get(b, 0) + 1) / (tr + DSIR_BUCKETS))
                )
                * 1_000_000,
                0,
            )
        )
        for b in all_buckets
    }
    replay = []
    for doc_id, buckets in per_doc.items():
        if src_of[doc_id] in DSIR_TARGET_SOURCES:
            continue
        score = _r(
            sum(c * lam_i[b] for b, c in buckets.items()) / 1_000_000.0, 6
        )
        u = (_py_h60(f"dsir#{doc_id}") % _DSIR_UMOD + 0.5) / _DSIR_UMOD
        gum = _r(-math.log(-math.log(u)), 6)
        replay.append(
            [
                doc_id,
                src_of[doc_id],
                sum(buckets.values()),
                len(buckets),
                score,
                gum,
                _r(score + gum, 6),
            ]
        )
    replay.sort(key=lambda r: (-r[6], r[0]))
    by_rank = {
        r[0]: r + [i + 1, int(i + 1 <= DSIR_KEEP_K)]
        for i, r in enumerate(replay)
    }
    assert len(rows) == len(replay)
    for row in rows:
        assert list(row) == by_rank[row[0]], row[0]

    # resample invariants: exactly K kept, no target-source rows, and
    # the keep set skews toward high scores (Gumbel perturbs, the
    # importance weights still dominate on average).
    assert sum(r[-1] for r in rows) == DSIR_KEEP_K
    assert all(r[1] not in DSIR_TARGET_SOURCES for r in rows)
    kept_scores = [r[4] for r in rows if r[-1] == 1]
    drop_scores = [r[4] for r in rows if r[-1] == 0]
    assert sum(kept_scores) / len(kept_scores) > sum(drop_scores) / len(
        drop_scores
    )


def test_sample_diverse_parity_and_flattening(spark, oracle_sf_dir):
    # Staged r11 operator: cluster-balanced diversity sampling — DuckDB
    # oracle parity, an independent Python replay of the integer quota
    # allocation, and the flattening invariants.
    import duckdb

    from dariadb_spark.ext.similarity import (
        DIV_BUDGET,
        SAMPLE_DIVERSE_SQL,
        sample_diverse,
    )

    rows = [tuple(r) for r in sample_diverse(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/embeddings.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(SAMPLE_DIVERSE_SQL).fetchall()]
    assert rows == oracle

    # Python replay of the quota allocation from the observed cells
    from collections import Counter

    cells = Counter(r[1] for r in rows)
    n_cells = len(cells)
    by_size = sorted(cells, key=lambda c: (-cells[c], c))
    quota = {
        c: DIV_BUDGET // n_cells + (1 if i < DIV_BUDGET % n_cells else 0)
        for i, c in enumerate(by_size)
    }
    kept_per_cell = Counter(r[1] for r in rows if r[-1] == 1)
    for c in cells:
        assert quota[c] == next(r[3] for r in rows if r[1] == c)
        assert kept_per_cell.get(c, 0) == min(quota[c], cells[c])
        # per-vector: kept iff within-cell hash rank ≤ quota
        members = sorted(
            (r for r in rows if r[1] == c), key=lambda r: (r[4], r[0])
        )
        for i, r in enumerate(members):
            assert r[5] == i + 1 and r[-1] == int(i + 1 <= quota[c])

    # budget accounting: exactly the budget when no cell under-fills,
    # otherwise the shortfall equals the sum of per-cell deficits
    total_kept = sum(r[-1] for r in rows)
    deficit = sum(max(0, quota[c] - cells[c]) for c in cells)
    assert total_kept == DIV_BUDGET - deficit
    # flattening: no kept cell share exceeds its quota, and the kept
    # histogram is flatter than the raw one (max/min ratio shrinks or
    # stays equal when already flat)
    assert max(kept_per_cell.values()) <= max(quota.values())


def test_decontaminate_embed_parity_and_semantics(spark, oracle_sf_dir):
    # Staged r11 operator: embedding-space decontamination — DuckDB
    # oracle parity plus a numpy replay of the cosine audit.
    import duckdb
    import numpy as np

    from dariadb_spark.ext.similarity import (
        DECONTAMINATE_EMBED_SQL,
        EMB_DECON_COS,
        EMB_HOLDOUT_MOD,
        decontaminate_embed,
    )

    rows = [
        tuple(r) for r in decontaminate_embed(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/embeddings.parquet')"
    )
    oracle = [
        tuple(r) for r in con.execute(DECONTAMINATE_EMBED_SQL).fetchall()
    ]
    assert rows == oracle

    vecs = {
        int(v): np.array(e, dtype=np.float64)
        for v, e in con.execute(
            "SELECT vec_id, embedding::DOUBLE[] FROM embeddings"
        ).fetchall()
    }
    ev = {v: e for v, e in vecs.items() if v % EMB_HOLDOUT_MOD == 0}
    assert ev, "eval slice must be non-empty"
    got = {r[0]: r for r in rows}
    n_flagged = 0
    for v, e in vecs.items():
        if v % EMB_HOLDOUT_MOD == 0:
            assert v not in got  # eval slice never audited against itself
            continue
        hits = {}
        for w, f in ev.items():
            # sequential left-to-right folds == the engines' list folds
            # (numpy's pairwise summation can differ in the last ulp)
            dot = 0.0
            ne = 0.0
            nf = 0.0
            for x, y in zip(e, f):
                dot += float(x) * float(y)
                ne += float(x) * float(x)
                nf += float(y) * float(y)
            c = round(dot / (ne ** 0.5 * nf ** 0.5), 4)
            if c >= EMB_DECON_COS:
                hits[w] = c
        r = got[v]
        assert r[1] == len(hits)
        if hits:
            n_flagged += 1
            best = max(hits.values())
            assert r[2] == best and r[4] == 1
            assert r[3] == min(w for w, c in hits.items() if c == best)
        else:
            assert r[2] == 0.0 and r[3] is None and r[4] == 0
    # the statistic must actually fire on the fixture
    assert n_flagged == sum(r[-1] for r in rows) > 0


def test_pack_context_parity_and_python_replay(spark, oracle_sf_dir):
    # Staged r11 operator: fixed context-window packing audit — DuckDB
    # oracle parity plus an independent Python replay of the whole
    # concat-and-chunk statistic from the raw docs, and the packing
    # invariants (token conservation, full fill off the tail, at most
    # one boundary-sliced doc per window).
    from collections import defaultdict

    import duckdb

    import dariadb_spark.registry  # noqa: F401  (sampling↔pipeline cycle)
    from dariadb_spark.ext.sampling import (
        PACK_CONTEXT_SQL,
        PACK_CTX_TOKENS,
        pack_context,
    )

    rows = [tuple(r) for r in pack_context(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(PACK_CONTEXT_SQL).fetchall()]
    assert rows == oracle

    ctx = PACK_CTX_TOKENS
    docs = con.execute(
        "SELECT source, doc_id, len(string_split(text, ' '))"
        " FROM documents WHERE text IS NOT NULL ORDER BY source, doc_id"
    ).fetchall()
    # replay: lay docs out contiguously per source, chunk every ctx
    replay: dict = defaultdict(lambda: [0, 0, 0, None, None])
    off: dict = defaultdict(int)
    tokens_per_source: dict = defaultdict(int)
    for source, doc_id, n_tok in docs:
        start, end = off[source], off[source] + n_tok
        off[source] = end
        tokens_per_source[source] += n_tok
        for win in range(start // ctx, (end - 1) // ctx + 1):
            cell = replay[(source, win)]
            cell[0] += 1
            cell[1] += int(end > (win + 1) * ctx)
            cell[2] += min(end, (win + 1) * ctx) - max(start, win * ctx)
            cell[3] = doc_id if cell[3] is None else min(cell[3], doc_id)
            cell[4] = doc_id if cell[4] is None else max(cell[4], doc_id)
    expected = [
        (s, w, *replay[(s, w)]) for s, w in sorted(replay)
    ]
    assert rows == expected

    # invariants of the packing itself
    by_source: dict = defaultdict(list)
    for r in rows:
        by_source[r[0]].append(r)
    for source, rs in by_source.items():
        wins = [r[1] for r in rs]
        assert wins == list(range(len(rs)))  # contiguous from 0
        assert sum(r[4] for r in rs) == tokens_per_source[source]
        for r in rs[:-1]:
            assert r[4] == ctx  # every non-tail window fills exactly
            assert r[3] in (0, 1)  # ≤ 1 doc spans the trailing boundary
        assert rs[-1][3] == 0  # the stream's last doc cannot cross out
        assert 0 < rs[-1][4] <= ctx
        # doc ranges tile the stream: consecutive windows overlap in
        # exactly the sliced doc, or abut on a clean boundary (doc_ids
        # are global across sources, so "next doc" is only > last)
        for a, b in zip(rs, rs[1:]):
            assert b[5] == a[6] if a[3] == 1 else b[5] > a[6]
    # the statistic must actually fire: some window somewhere slices
    assert sum(r[3] for r in rows) > 0


def test_source_overlap_parity_and_python_replay(spark, oracle_sf_dir):
    # Staged r11 operator: cross-source chunk-overlap matrix — DuckDB
    # oracle parity plus an independent Python replay of the whole
    # statistic (per-source distinct chunk sets, pairwise intersections,
    # Jaccard) and the matrix invariants.
    import duckdb

    from dariadb_spark.ext.dedup import (
        BOILER_CHUNK_WORDS,
        SOURCE_OVERLAP_SQL,
        source_overlap,
    )

    rows = [tuple(r) for r in source_overlap(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(SOURCE_OVERLAP_SQL).fetchall()]
    assert rows == oracle

    p = BOILER_CHUNK_WORDS
    chunk_sets: dict = {}
    for source, text in con.execute(
        "SELECT source, text FROM documents WHERE text IS NOT NULL"
    ).fetchall():
        w = text.split(" ")
        cs = chunk_sets.setdefault(source, set())
        for i in range(-(-len(w) // p)):
            cs.add(" ".join(w[i * p : (i + 1) * p]))
    expected = []
    for sa in sorted(chunk_sets):
        for sb in sorted(chunk_sets):
            if sa >= sb:
                continue
            shared = len(chunk_sets[sa] & chunk_sets[sb])
            if not shared:
                continue
            ca, cb = len(chunk_sets[sa]), len(chunk_sets[sb])
            expected.append(
                (sa, sb, shared, ca, cb,
                 ((2 * shared * 10**6 + (ca + cb - shared))
                  // (2 * (ca + cb - shared))) / 1e6)
            )
    assert rows == expected
    for sa, sb, shared, ca, cb, jac in rows:
        assert sa < sb and 0 < shared <= min(ca, cb)
        assert 0 < jac <= 1
    assert rows  # the matrix must actually fire on the fixture


def test_quality_calibrate_parity_and_python_replay(spark, oracle_sf_dir):
    # Staged r11 operator: per-source quality-gate calibration — DuckDB
    # oracle parity plus an independent Python replay of the composite
    # score, both gates, and the calibrated quota/threshold invariants.
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from dariadb_spark.ext.curation import (
        CALIB_STOPWORDS,
        CALIB_TOP_PCT,
        QUALITY_CALIBRATE_SQL,
        QUALITY_TAU,
        quality_calibrate,
    )

    rows = [
        tuple(r) for r in quality_calibrate(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [
        tuple(r) for r in con.execute(QUALITY_CALIBRATE_SQL).fetchall()
    ]
    assert rows == oracle

    def _r(x: float, nd: int) -> float:
        q = Decimal(1).scaleb(-nd) if nd else Decimal(1)
        return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))

    per_src: dict = defaultdict(list)
    for doc_id, source, text in con.execute(
        "SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL"
    ).fetchall():
        w = text.split(" ")
        stop = sum(1 for x in w if x in CALIB_STOPWORDS)
        score = (
            0.4 * stop / len(w)
            + 0.3 * min(len(w), 100) / 100.0
            + 0.3 * len(set(w)) / len(w)
        )
        per_src[source].append((int(_r(_r(score, 6) * 1_000_000, 0)), doc_id))
    expected = []
    for source in sorted(per_src):
        docs = sorted(per_src[source], key=lambda t: (-t[0], t[1]))
        n = len(docs)
        quota = math.ceil(n * CALIB_TOP_PCT / 100.0)
        kept = docs[:quota]
        expected.append(
            (
                source,
                n,
                _r(sum(s for s, _ in docs) / 1_000_000.0 / n, 6),
                sum(1 for s, _ in docs if s >= QUALITY_TAU * 1_000_000),
                quota,
                _r(min(s for s, _ in kept) / 1_000_000.0, 6),
            )
        )
    assert rows == expected
    for source, n, mean, n_glob, n_cal, thr in rows:
        # the calibrated gate hits its quota EXACTLY (rank has no ties:
        # the ordering key includes doc_id), the global gate does not
        assert n_cal == math.ceil(n * CALIB_TOP_PCT / 100.0)
        assert 0 <= n_glob <= n and thr is not None
    # the point of calibration: the global gate's pass RATE varies by
    # source more than the calibrated gate's (which is ~flat by quota)
    glob_rates = [r[3] / r[1] for r in rows]
    cal_rates = [r[4] / r[1] for r in rows]
    assert max(glob_rates) - min(glob_rates) > max(cal_rates) - min(cal_rates)


def test_interleave_audit_parity_and_python_replay(spark, oracle_sf_dir):
    # Staged r11 operator: training-order interleaving audit — DuckDB
    # oracle parity plus an independent Python replay of the bucket
    # histogram and the exact-arithmetic chi-square fold.
    from collections import Counter, defaultdict

    import duckdb

    import dariadb_spark.registry  # noqa: F401  (sampling↔pipeline cycle)
    from dariadb_spark.ext.sampling import (
        INTERLEAVE_AUDIT_SQL,
        INTERLEAVE_CHI2_MAX,
        KNUTH,
        MOD32,
        SHUF_BUCKETS,
        SHUF_SEED_OFFSET,
        interleave_audit,
    )

    rows = [
        tuple(r) for r in interleave_audit(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(INTERLEAVE_AUDIT_SQL).fetchall()]
    assert rows == oracle

    b = SHUF_BUCKETS
    hist: dict = defaultdict(Counter)
    for doc_id, source in con.execute(
        "SELECT doc_id, source FROM documents"
    ).fetchall():
        # high-bit bucket extraction of the Knuth multiplicative hash
        hist[source][(doc_id + SHUF_SEED_OFFSET) * KNUTH % MOD32 * b // MOD32] += 1
    expected = []
    for source in sorted(hist):
        h = hist[source]
        n = sum(h.values())
        ss = sum((b * c - n) ** 2 for c in h.values())
        ss += (b - len(h)) * n * n  # zero-hit buckets
        chi2 = ((2 * ss * 10**6 + b * n) // (2 * b * n)) / 1e6
        expected.append(
            (
                source,
                n,
                len(h),
                min(h.values()) if len(h) == b else 0,
                max(h.values()),
                chi2,
                int(chi2 <= INTERLEAVE_CHI2_MAX),
            )
        )
    assert rows == expected
    # buckets partition each source: counts conserve, fills bracket n/B
    for source, n, hit, mn, mx, chi2, ok in rows:
        assert 0 < hit <= b and mn <= n / b <= mx
        assert chi2 >= 0.0
    # consecutive doc_ids under the golden-ratio hash are LOW-discrepancy:
    # far more uniform than random (E[chi2] = B-1 = 63 for random) — the
    # well-interleaved verdict must actually fire
    assert all(r[6] == 1 for r in rows)


# --- staged r12: repeated-passage coverage (Lee et al. substring signal) --

def _py_passages(rows):
    """Definitional replay at the window-STRING level (the 60-bit hash
    is the shuffle key, not the semantics): rows = [(doc_id, text)]."""
    from collections import Counter

    from dariadb_spark.ext.dedup import PASSAGE_FLAG_DEN, PASSAGE_WORDS

    k = PASSAGE_WORDS
    wins = {}
    for doc_id, text in rows:
        w = text.split(" ")
        wins[doc_id] = [
            " ".join(w[i : i + k]) for i in range(len(w) - k + 1)
        ]
    docfreq = Counter()
    for doc_id, ws in wins.items():
        for sh in set(ws):
            docfreq[sh] += 1
    out = []
    for doc_id in sorted(wins):
        ws = wins[doc_id]
        n = len(ws)
        rep = sum(docfreq[sh] >= 2 for sh in ws)
        frac = 0.0 if n == 0 else ((2 * rep * 10000 + n) // (2 * n)) / 10000.0
        out.append(
            (doc_id, n, rep, frac, int(n > 0 and PASSAGE_FLAG_DEN * rep >= n))
        )
    return out


def test_dedup_passages_parity_and_python_replay(spark, oracle_sf_dir):
    import duckdb

    from dariadb_spark.ext.dedup import DEDUP_PASSAGES_SQL, dedup_passages
    from dariadb_spark.model import load_table

    got = [tuple(r) for r in dedup_passages(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(DEDUP_PASSAGES_SQL).fetchall()]
    con.close()
    assert got == oracle

    rows = [
        (r.doc_id, r.text)
        for r in load_table(spark, oracle_sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
        if r.text is not None
    ]
    assert got == _py_passages(rows)
    # the fixture actually exercises the signal: some repeats, not all
    total_rep = sum(r[2] for r in got)
    assert 0 < total_rep < sum(r[1] for r in got)


def test_dedup_passages_planted_and_short_docs(spark, tmp_path):
    # A copied 10-word passage between two otherwise-distinct docs must
    # produce exactly 3 repeated 8-word windows on each side; a unique
    # doc scores zero; a doc below the window width carries zeros.
    import duckdb

    from dariadb_spark.ext.dedup import DEDUP_PASSAGES_SQL, dedup_passages

    passage = "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9"
    rows = [
        (0, f"a0 a1 a2 a3 {passage} a4 a5"),
        (1, f"b0 b1 {passage} b2 b3 b4 b5"),
        (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        (3, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")

    got = [tuple(r) for r in dedup_passages(spark, d).collect()]
    assert got == _py_passages(rows)
    by_id = {r[0]: r for r in got}
    # the shared 10-word passage contains exactly 3 full 8-word windows
    assert by_id[0][2] == 3 and by_id[1][2] == 3
    assert by_id[2] == (2, 4, 0, 0.0, 0)
    assert by_id[3] == (3, 0, 0, 0.0, 0)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(DEDUP_PASSAGES_SQL).fetchall()]
    con.close()
    assert got == oracle


# --- staged r12: caption-image alignment (CLIP-style pair filter) ---------

def _py_text_vec(text):
    import hashlib

    from dariadb_spark.ext.multimodal import ALIGN_DIM

    t = [0.0] * ALIGN_DIM
    for w in text.split(" "):
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        hs = int(hashlib.md5(("s#" + w).encode()).hexdigest()[:15], 16)
        t[h % ALIGN_DIM] += 1 if hs % 2 == 0 else -1
    return t


def test_media_caption_align_parity_and_replay(spark, oracle_sf_dir):
    import math

    import duckdb

    from dariadb_spark.ext.multimodal import (
        ALIGN_MIN,
        MEDIA_CAPTION_ALIGN_SQL,
        media_caption_align,
    )
    from dariadb_spark.model import load_table

    got = [
        tuple(r) for r in media_caption_align(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{oracle_sf_dir}/{t}.parquet')"
        )
    oracle = [
        tuple(r) for r in con.execute(MEDIA_CAPTION_ALIGN_SQL).fetchall()
    ]
    con.close()
    assert got == oracle

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, oracle_sf_dir, "documents").collect()
        if r.text is not None
    }
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, oracle_sf_dir, "embeddings").collect()
    }
    for doc_id, n_words, align, kept in got:
        t, e = _py_text_vec(docs[doc_id]), emb[doc_id]
        assert n_words == len(docs[doc_id].split(" "))
        tn = math.sqrt(sum(x * x for x in t))
        en = math.sqrt(sum(x * x for x in e))
        if tn == 0 or en == 0:
            assert align is None and kept == 0
        else:
            ref = round(sum(x * y for x, y in zip(t, e)) / (tn * en), 4)
            assert align == ref, doc_id
            assert kept == int(align >= ALIGN_MIN)
            assert -1.0 <= align <= 1.0


def test_media_caption_align_planted_pairs(spark, tmp_path):
    # Planted geometry: an image embedding equal to the caption's hashed
    # vector scores exactly 1.0 (kept), its negation -1.0 (dropped), and
    # a caption whose hash signs cancel pairwise scores NULL (dropped).
    import duckdb

    from dariadb_spark.ext.multimodal import (
        ALIGN_DIM,
        MEDIA_CAPTION_ALIGN_SQL,
        media_caption_align,
    )

    # find two distinct words with the SAME hash bucket and OPPOSITE
    # signs — their two-word caption has an exactly-zero text vector
    buckets = {}
    zero_pair = None
    for i in range(10_000):
        w = f"w{i}"
        t = _py_text_vec(w)
        d = next(j for j, x in enumerate(t) if x != 0)
        s = t[d]
        if (d, -s) in buckets:
            zero_pair = (buckets[(d, -s)], w)
            break
        buckets[(d, s)] = w
    assert zero_pair is not None

    cap0 = "the quick brown fox jumps over the lazy dog"
    t0 = _py_text_vec(cap0)
    rows = [(0, cap0), (1, cap0), (2, " ".join(zero_pair))]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "d") + "/documents.parquet")
    erows = [
        (0, [float(x) for x in t0], 0),
        (1, [float(-x) for x in t0], 0),
        (2, [1.0] * ALIGN_DIM, 0),
    ]
    spark.createDataFrame(
        erows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "d") + "/embeddings.parquet")

    got = {
        r.doc_id: (r.align, r.kept)
        for r in media_caption_align(spark, str(tmp_path / "d")).collect()
    }
    assert got[0] == (1.0, 1)
    assert got[1] == (-1.0, 0)
    assert got[2] == (None, 0)

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/d/{t}.parquet/*.parquet')"
        )
    oracle = {
        r[0]: (r[2], r[3])
        for r in con.execute(MEDIA_CAPTION_ALIGN_SQL).fetchall()
    }
    con.close()
    assert oracle == got


# --- staged r12: token-budget epoch planner (data-constrained scaling) ----

def _py_token_budget(u_by_src: dict, rounds: int):
    """Independent replay of the unrolled schedule: uniform integer
    base shares (remainder by source order), epoch caps, and
    floor-proportional water-filling in exact ints."""
    from dariadb_spark.ext.sampling import (
        BUDGET_DEN,
        BUDGET_MAX_EPOCHS,
        BUDGET_NUM,
    )

    srcs = sorted(u_by_src)
    k = len(srcs)
    total = sum(u_by_src.values())
    budget = total * BUDGET_NUM // BUDGET_DEN
    alloc = {
        s: budget // k + (1 if i < budget % k else 0)
        for i, s in enumerate(srcs)
    }
    cap = {s: BUDGET_MAX_EPOCHS * u_by_src[s] for s in srcs}
    alloc0 = dict(alloc)
    excess = 0
    for _ in range(rounds):
        held = {s: min(alloc[s], cap[s]) for s in srcs}
        pool = sum(alloc[s] - held[s] for s in srcs) + excess
        room = {s: cap[s] - held[s] for s in srcs}
        rtot = sum(room.values())
        add = {
            s: (0 if rtot == 0 else min(room[s], pool * room[s] // rtot))
            for s in srcs
        }
        alloc = {s: held[s] + add[s] for s in srcs}
        excess = pool - sum(add.values())
    out = []
    for s in srcs:
        u, a = u_by_src[s], alloc[s]
        out.append(
            (
                s, u, cap[s], alloc0[s], a,
                ((2 * a * 10000 + u) // (2 * u)) / 10000.0,
                int(a == cap[s]),
                round(a / budget, 6),
                excess,
            )
        )
    return out, budget


def test_token_budget_plan_parity_replay_and_invariants(
    spark, oracle_sf_dir
):
    import duckdb

    from dariadb_spark.ext.sampling import (
        BUDGET_MAX_EPOCHS,
        TOKEN_BUDGET_PLAN_SQL,
        token_budget_iterate,
        token_budget_plan,
    )

    rows = [
        tuple(r) for r in token_budget_plan(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [
        tuple(r) for r in con.execute(TOKEN_BUDGET_PLAN_SQL).fetchall()
    ]
    u_by_src = dict(
        con.execute(
            "SELECT source, sum(len(string_split(text, ' '))) FROM documents"
            " WHERE text IS NOT NULL GROUP BY source"
        ).fetchall()
    )
    con.close()
    assert rows == oracle
    ref, budget = _py_token_budget(
        {s: int(u) for s, u in u_by_src.items()}, rounds=2
    )
    assert rows == ref

    # invariants: conservation, caps respected, flags consistent, the
    # fixture actually exercises capping + redistribution
    unplaced = rows[0][8]
    assert sum(r[4] for r in rows) + unplaced == budget
    for r in rows:
        assert r[4] <= r[2]
        assert (r[6] == 1) == (r[4] == r[2])
        assert r[5] <= float(BUDGET_MAX_EPOCHS)
    assert 0 < sum(r[6] for r in rows) < len(rows)
    assert any(r[4] != r[3] for r in rows)  # water-filling moved tokens

    # production loop: 2-round state bit-identical to the unrolled
    # query; convergence leaves at most penny residue (< K tokens)
    it2 = token_budget_iterate(spark, oracle_sf_dir, max_rounds=2)
    assert [(d["source"], d["alloc"], d["epochs"]) for d in it2] == [
        (r[0], r[4], r[5]) for r in rows
    ]
    conv = token_budget_iterate(spark, oracle_sf_dir)
    assert conv[0]["unplaced"] < len(rows)
    # water-filling only ever adds tokens past the cap clamp
    assert all(
        c["alloc"] >= d["alloc"] for c, d in zip(conv, it2)
    )


# --- staged r12: quality-keeping near-dup canonical selection -------------

def _py_qscore_i(text: str) -> int:
    from dariadb_spark.ext.curation import CALIB_STOPWORDS

    w = text.split(" ")
    n = len(w)
    stop = sum(1 for x in w if x in CALIB_STOPWORDS)
    num = 400 * stop + 3 * min(n, 100) * n + 300 * len(set(w))
    den = 1000 * n
    return (2 * num * 10**6 + den) // (2 * den)


def test_dedup_keep_best_parity_and_invariants(spark, oracle_sf_dir):
    import duckdb

    from dariadb_spark.ext import dedup as D
    from dariadb_spark.ext.curation import _keep_best_sql, dedup_keep_best

    D._LABELS_MEMO.clear()
    rows = [
        tuple(r) for r in dedup_keep_best(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(_keep_best_sql()).fetchall()]
    con.close()
    assert rows == oracle

    # invariants: exactly one keeper per cluster, the keeper IS
    # best_doc, singletons keep themselves, and the quality policy
    # actually diverges from min-id canonical selection on the fixture
    from collections import defaultdict

    by_cluster = defaultdict(list)
    for doc_id, cluster, n_members, score, kept, best_doc in rows:
        by_cluster[cluster].append((doc_id, n_members, score, kept, best_doc))
    diverged = 0
    for cluster, members in by_cluster.items():
        keepers = [m for m in members if m[3] == 1]
        assert len(keepers) == 1, cluster
        assert keepers[0][0] == keepers[0][4] == members[0][4], cluster
        assert all(m[1] == len(members) for m in members), cluster
        if len(members) == 1:
            assert members[0][0] == cluster
        elif keepers[0][0] != cluster:
            diverged += 1
        # the winner's score is maximal (ties broken by doc_id asc)
        best = max(members, key=lambda m: (m[2], -m[0]))
        assert keepers[0][2] == best[2], cluster
    assert diverged > 0  # min-id would have kept a worse copy somewhere


def test_dedup_keep_best_planted_quality_winner(spark, tmp_path):
    # Two near-duplicate docs where the HIGHER doc_id is clearly the
    # better copy (the lower one is a repeat-padded rendering, so its
    # unique-word share collapses; the clean copy carries stopwords —
    # the composite score treats them as a naturalness SIGNAL): min-id
    # canonical would keep doc 0; the quality policy must keep doc 1.
    # An unrelated doc forms a singleton.
    import duckdb

    from dariadb_spark.ext import dedup as D
    from dariadb_spark.ext.curation import _keep_best_sql, dedup_keep_best

    base = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    rows = [
        (0, f"{base} q1 q1 q1 q1 q1 q1"),  # duplicate + repeat padding
        (1, f"{base} the a x1"),  # clean natural copy
        (2, "u1 u2 u3 u4 u5 u6 u7 u8"),  # unrelated singleton
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d + "/documents.parquet")

    D._LABELS_MEMO.clear()
    got = {r.doc_id: r for r in dedup_keep_best(spark, d).collect()}
    D._LABELS_MEMO.clear()

    assert got[0].cluster == got[1].cluster == 0 and got[0].n_members == 2
    assert _py_qscore_i(rows[1][1]) > _py_qscore_i(rows[0][1])
    assert (got[0].kept, got[1].kept) == (0, 1)  # quality beats min-id
    assert got[0].best_doc == got[1].best_doc == 1
    assert got[2] == (2, 2, 1, got[2].score, 1, 2)
    for r in got.values():
        assert r.score == _py_qscore_i(rows[r.doc_id][1]) / 1e6

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracle = {r[0]: r for r in con.execute(_keep_best_sql()).fetchall()}
    con.close()
    assert {k: tuple(v) for k, v in got.items()} == oracle


# --- staged r12: Kneser-Ney smoothed bigram LM ----------------------------

def test_text_kn_lm_parity_fraction_replay_and_mass_identity(
    spark, oracle_sf_dir
):
    from fractions import Fraction

    import duckdb

    from dariadb_spark.ext.curation import (
        KN_D_DEN,
        KN_D_NUM,
        LM_MIN_COUNT,
        TEXT_KN_LM_SQL,
        text_kn_lm,
    )
    from dariadb_spark.model import load_table

    rows = [tuple(r) for r in text_kn_lm(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(TEXT_KN_LM_SQL).fetchall()]
    con.close()
    assert rows == oracle

    # definitional replay in EXACT rationals over the full bigram table
    from collections import Counter, defaultdict

    texts = [
        r.text
        for r in load_table(spark, oracle_sf_dir, "documents").collect()
        if r.text is not None
    ]
    c12: Counter = Counter()
    for t in texts:
        w = t.split(" ")
        for a, b in zip(w, w[1:]):
            c12[(a, b)] += 1
    c1: Counter = Counter()
    nf: Counter = Counter()
    np_: Counter = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        nf[a] += 1
        np_[b] += 1
    T = len(c12)
    D = Fraction(KN_D_NUM, KN_D_DEN)

    def mu(fr: Fraction, d: int) -> float:
        num, den = fr.numerator, fr.denominator
        return ((2 * num * 10**d + den) // (2 * den)) / 10.0**d

    ref = []
    for (a, b), c in sorted(c12.items()):
        if c < LM_MIN_COUNT:
            continue
        lam = D * nf[a] / c1[a]
        p_kn = (c - D) / c1[a] + lam * Fraction(np_[b], T)
        ref.append(
            (a, b, c, c1[a], nf[a], np_[b], mu(lam, 6),
             mu(Fraction(c, c1[a]), 6), mu(p_kn, 6))
        )
    assert rows == ref

    # the KN mass identity, EXACT in rationals: per observed w1, the
    # discounted observed mass plus the full backoff weight is 1 (and
    # the continuation distribution itself sums to 1 over types)
    for a in c1:
        disc = sum(
            (Fraction(c) - D) / c1[a]
            for (x, _b), c in c12.items()
            if x == a
        )
        assert disc + D * nf[a] / c1[a] == 1, a
    assert sum(Fraction(n, T) for n in np_.values()) == 1


def test_text_kn_lm_planted_continuation_effect(spark, tmp_path):
    # The correction KN exists for: 'franc' is FREQUENT but only ever
    # follows 'san', so its continuation count is 1 and any unseen-pair
    # score lambda(w1)*P_cont('franc') must be tiny, while a versatile
    # word of the same frequency carries a much larger continuation
    # probability. Also pins the discount direction: every observed
    # high-count bigram loses mass vs MLE (p_kn < p_mle) except where
    # the continuation term wins it back.
    from fractions import Fraction

    from unittest import mock

    import dariadb_spark.ext.curation as cur_mod
    from dariadb_spark.ext.curation import (
        KN_D_DEN,
        KN_D_NUM,
        text_kn_lm,
    )

    # 'vers' follows 20 different words; 'franc' follows only 'san' —
    # both appear 20 times as a successor; every bigram repeats 20x so
    # the LM_MIN_COUNT=20 cutoff keeps them all
    pairs = [("san", "franc")] * 20
    pairs += [(f"u{i}", "vers") for i in range(20)]
    text = " x ".join(f"{a} {b}" for a, b in pairs * 20)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    with mock.patch.object(cur_mod, "load_table", lambda *_: df):
        rows = {(r.w1, r.w2): r for r in text_kn_lm(spark, "ignored").collect()}

    franc = rows[("san", "franc")]
    assert franc.n_prec == 1  # single continuation context
    vers = rows[(f"u0", "vers")]
    assert vers.n_prec == 20
    # same raw successor frequency, ~20x continuation gap: the unseen
    # backoff score lambda*P_cont differs by exactly n_prec ratio
    assert franc.c12 == 400 and vers.c12 == 20
    # discounting: the deterministic 'san franc' pair keeps p_kn just
    # under its MLE 1.0 (mass siphoned to the backoff), never above
    assert franc.p_mle == 1.0 and franc.p_kn < 1.0
    D = Fraction(KN_D_NUM, KN_D_DEN)
    t = len(rows)
    pkn = (Fraction(400) - D) / 400 + (D * 1 / 400) * Fraction(1, t)
    num, den = pkn.numerator, pkn.denominator
    assert franc.p_kn == ((2 * num * 10**6 + den) // (2 * den)) / 1e6


# --- staged r12: HyperLogLog cardinality sketch ---------------------------

def _hll_python_regs(items):
    """Pure-Python register build: {(scope, lang): [m_0..m_15]}."""
    import hashlib

    regs: dict = {}
    for scope, lang, item in items:
        h = int(hashlib.md5(item.encode()).hexdigest()[:15], 16)
        idx, w = h % 16, h // 16
        rho = 57 if w == 0 else 57 - w.bit_length()
        key = (scope, lang)
        m = regs.setdefault(key, [0] * 16)
        if rho > m[idx]:
            m[idx] = rho
    return regs


def _hll_python_est(m):
    """Exact-Fraction replay of the estimator: (v_zero, s_harm,
    regime, est) from a 16-register list."""
    from fractions import Fraction

    from dariadb_spark.ext.sketches import _HLL_LC

    s = sum(1 << (57 - mj) for mj in m)
    v = sum(1 for mj in m if mj == 0)
    # HALF_UP(A8 / (125 s), 4) on the scaled-int grid, exactly
    a8 = 21536 * (2 ** 57)
    raw_scaled = (2 * a8 * 10000 + 125 * s) // (250 * s)
    if v > 0 and raw_scaled <= 400000:
        return v, s, "lc", float(_HLL_LC[v])
    assert Fraction(raw_scaled, 10000) == Fraction(
        (2 * a8 * 10000 + 125 * s) // (250 * s), 10000
    )
    return v, s, "raw", raw_scaled / 10000.0


def _hll_fixture_items(spark, sf_dir):
    from dariadb_spark.model import load_table

    docs = [
        (r.lang, r.text, r.source)
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text is not None
    ]
    items = []
    for lang, text, source in docs:
        w = text.split(" ")
        items += [("bigram", lang, a + " " + b) for a, b in zip(w, w[1:])]
        items += [("word", lang, x) for x in w]
        if source is not None:
            items.append(("source", lang, source))
    return items


def test_hll_distinct_parity_and_python_replay(spark, oracle_sf_dir):
    import duckdb

    from dariadb_spark.ext.sketches import (
        SKETCH_HLL_DISTINCT_SQL,
        sketch_hll_distinct,
    )

    rows = [tuple(r) for r in sketch_hll_distinct(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(SKETCH_HLL_DISTINCT_SQL).fetchall()]
    con.close()
    assert rows == oracle

    # definitional replay: registers and the exact-rational estimator
    regs = _hll_python_regs(_hll_fixture_items(spark, oracle_sf_dir))
    by_key = {(r[0], r[1]): r for r in rows}
    assert set(by_key) == set(regs)
    for key, m in regs.items():
        v, s, regime, est = _hll_python_est(m)
        _, _, _, got_v, got_s, got_regime, got_est, _ = by_key[key]
        assert (got_v, got_s, got_regime) == (v, s, regime), key
        assert abs(got_est - est) < 1e-9, key

    # both estimator regimes must be live in the checked rows, and the
    # sketch must be honest about its coarseness: m=16 keeps relative
    # error visible, not hidden
    regimes = {r[5] for r in rows}
    assert regimes == {"lc", "raw"}
    assert any(r[7] > 0 for r in rows)


def test_hll_duplicate_insensitivity_and_merge(spark, oracle_sf_dir):
    """max() absorbs duplicates (sketching occurrences == sketching the
    distinct set) and the union register table is the per-index max of
    the members — the mergeability that makes HLL a partial aggregate."""
    items = _hll_fixture_items(spark, oracle_sf_dir)
    regs_occ = _hll_python_regs(items)
    regs_dis = _hll_python_regs(sorted(set(items)))
    assert regs_occ == regs_dis

    bg = [(s, l, i) for s, l, i in items if s == "bigram"]
    langs = sorted({l for _, l, _ in bg})
    for i, la in enumerate(langs):
        for lb in langs[i + 1:]:
            both = [x for x in bg if x[1] in (la, lb)]
            u = _hll_python_regs([("u", "u", it) for _, _, it in both])
            ma = regs_occ[("bigram", la)]
            mb = regs_occ[("bigram", lb)]
            assert u[("u", "u")] == [max(a, b) for a, b in zip(ma, mb)]


def test_hll_union_parity_and_inclusion_exclusion(spark, oracle_sf_dir):
    import duckdb

    from dariadb_spark.ext.sketches import (
        SKETCH_HLL_UNION_SQL,
        sketch_hll_union,
    )

    rows = [tuple(r) for r in sketch_hll_union(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(SKETCH_HLL_UNION_SQL).fetchall()]
    con.close()
    assert rows == oracle
    assert len(rows) > 0

    # inclusion-exclusion replay on the scaled-int grid, per pair
    regs = _hll_python_regs(_hll_fixture_items(spark, oracle_sf_dir))
    for la, lb, exact_u, est_u, exact_i, est_i in rows:
        ma, mb = regs[("bigram", la)], regs[("bigram", lb)]
        mu = [max(a, b) for a, b in zip(ma, mb)]
        *_, eu = _hll_python_est(mu)
        *_, ea = _hll_python_est(ma)
        *_, eb = _hll_python_est(mb)
        assert abs(est_u - eu) < 1e-9
        sa, sb_, su = (round(x * 10000) for x in (ea, eb, eu))
        assert abs(est_i - (sa + sb_ - su) / 10000.0) < 1e-9
        # the union sketch must see the overlap: naive |A|+|B| is ~2x
        # the truth on the shared-vocab fixture, the merged estimate
        # must stay well under it
        assert est_u < (ea + eb) * 0.75


# --- staged r12: RHO-LOSS-style excess-loss selection ---------------------

def _exloss_python_replay(docs):
    """Bit-exact replay of select_excess_loss over (doc_id, text) pairs:
    returns rows (doc_id, n_eval, nll_cur, nll_ref, excess, rank, kept)."""
    import math
    from collections import Counter

    from dariadb_spark.ext.curation import (
        EXLOSS_HOLDOUT_MOD,
        EXLOSS_KEEP_DEN,
        EXLOSS_KEEP_NUM,
    )

    def rr(a, b, d):  # ext/exact.py HALF_UP grid value
        p = 10 ** d
        return ((2 * a * p + b) // (2 * b)) / p

    cand, hold = {}, []
    for doc_id, text in docs:
        ws = text.split(" ")
        bgs = list(zip(ws, ws[1:]))
        if doc_id % EXLOSS_HOLDOUT_MOD == 0:
            hold += bgs
        else:
            cand[doc_id] = bgs
    c12, c1 = Counter(), Counter()
    for b in (x for bgs in cand.values() for x in bgs):
        c12[b] += 1
        c1[b[0]] += 1
    h12, h1, nf, np_ = Counter(), Counter(), Counter(), Counter()
    for b in hold:
        h12[b] += 1
    for (a, bb), c in h12.items():
        h1[a] += c
        nf[a] += 1
        np_[bb] += 1
    T = len(h12)
    V = len(np_) + 1
    pu6 = rr(1, T + V, 6)
    lam6 = {a: rr(3 * nf[a], 4 * h1[a], 6) for a in h1}
    pbo6 = {bb: rr(np_[bb] + 1, T + V, 6) for bb in np_}
    pkn = {
        b: rr((4 * c - 3) * T + 3 * nf[b[0]] * np_[b[1]],
              4 * h1[b[0]] * T, 6)
        for b, c in h12.items()
    }

    def mu(p):
        return int(round(round(-math.log(p), 6) * 1e6))

    per_doc = {}
    for doc_id, bgs in cand.items():
        s_cur = s_ref = n = 0
        for b in bgs:
            if b[0] not in lam6:
                continue
            n += 1
            s_cur += mu(rr(c12[b], c1[b[0]], 6))
            p_ref = pkn.get(b)
            if p_ref is None:
                p_ref = lam6[b[0]] * pbo6.get(b[1], pu6)
            s_ref += mu(p_ref)
        if n:
            n6 = n * 10 ** 6
            cur4 = (2 * s_cur * 10 ** 4 + n6) // (2 * n6)
            ref4 = (2 * s_ref * 10 ** 4 + n6) // (2 * n6)
            per_doc[doc_id] = (n, cur4, ref4, cur4 - ref4)
    order = sorted(per_doc, key=lambda d: (-per_doc[d][3], d))
    rank = {d: i + 1 for i, d in enumerate(order)}
    n_cand = len(per_doc)
    return [
        (
            d, per_doc[d][0], per_doc[d][1] / 1e4, per_doc[d][2] / 1e4,
            per_doc[d][3] / 1e4, rank[d],
            int(EXLOSS_KEEP_DEN * rank[d] <= EXLOSS_KEEP_NUM * n_cand),
        )
        for d in sorted(per_doc)
    ]


def test_select_excess_loss_parity_replay_and_keep_fraction(
    spark, oracle_sf_dir
):
    import duckdb

    from dariadb_spark.ext.curation import (
        SELECT_EXCESS_LOSS_SQL,
        select_excess_loss,
    )

    rows = [
        tuple(r) for r in select_excess_loss(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [
        tuple(r) for r in con.execute(SELECT_EXCESS_LOSS_SQL).fetchall()
    ]
    docs = con.execute(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
    ).fetchall()
    con.close()
    assert rows == oracle
    assert rows == _exloss_python_replay(docs)

    # the keep verdict is exactly the top half by (excess DESC, doc_id)
    n = len(rows)
    kept = {r[0] for r in rows if r[6] == 1}
    by_rank = sorted(rows, key=lambda r: r[5])
    assert {r[0] for r in by_rank[: n // 2]} == kept
    assert len(kept) == n // 2
    # ranks are a permutation and excess is monotone along them
    assert sorted(r[5] for r in rows) == list(range(1, n + 1))
    ex = [r[4] for r in by_rank]
    assert all(a >= b for a, b in zip(ex, ex[1:]))


# --- staged r12: streaming HLL register maintenance -----------------------

def test_streaming_hll_matches_batch_with_16_int_state(
    spark, oracle_sf_dir
):
    # Staged r12 streaming surface (the fourth sketch twin): the
    # 16-int-state register fold over two one-file micro-batches must
    # land on EXACTLY the batch dense register table (DuckDB oracle),
    # every group must emit exactly 16 registers, and the standing
    # registers must agree with the pure-Python build — the max-merge
    # mergeability that makes batching invisible.
    import duckdb

    from dariadb_spark.ext.sketches import STREAMING_HLL_REGS_SQL
    from dariadb_spark.streaming.sketch import streaming_hll_parity

    rows = [
        tuple(r) for r in streaming_hll_parity(spark, oracle_sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [
        tuple(r) for r in con.execute(STREAMING_HLL_REGS_SQL).fetchall()
    ]
    con.close()
    assert rows == oracle and len(rows) > 0

    by_lang: dict = {}
    for lang, idx, m in rows:
        by_lang.setdefault(lang, {})[idx] = m
    assert all(sorted(d) == list(range(16)) for d in by_lang.values())

    # standing state == the pure-Python register build (bigram scope)
    regs = _hll_python_regs(
        [x for x in _hll_fixture_items(spark, oracle_sf_dir)
         if x[0] == "bigram"]
    )
    for (scope, lang), m in regs.items():
        assert [by_lang[lang][i] for i in range(16)] == m, lang


# --- staged r12: Zipf profile + distinct-n diversity ----------------------

def _zipf_python_replay(docs):
    """Bit-exact replay of text_zipf over (lang, text) pairs."""
    import math
    from collections import Counter

    from dariadb_spark.ext.text import ZIPF_TOP

    freq = {}
    for lang, text in docs:
        c = freq.setdefault(lang, Counter())
        for w in text.split(" "):
            c[w] += 1
    rows = []
    for lang in sorted(freq):
        ranked = sorted(freq[lang].items(), key=lambda kv: (-kv[1], kv[0]))
        head = ranked[:ZIPF_TOP]
        xs = [int(round(round(math.log(r + 1), 6) * 1e6))
              for r in range(len(head))]
        ys = [int(round(round(math.log(c), 6) * 1e6)) for _, c in head]
        n = len(head)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        if den <= 0:
            continue
        s6 = (-1 if num < 0 else 1) * (
            (2 * abs(num) * 10 ** 6 + den) // (2 * den)
        )
        inum = 10 ** 6 * sy - s6 * sx
        iden = 10 ** 12 * n
        i6 = (-1 if inum < 0 else 1) * (
            (2 * abs(inum) * 10 ** 6 + iden) // (2 * iden)
        )
        rows.append(
            (lang, n, sum(c for _, c in head), s6 / 1e6, i6 / 1e6)
        )
    return rows


def test_text_zipf_parity_replay_and_planted_slope(spark, oracle_sf_dir):
    import duckdb

    from dariadb_spark.ext.text import TEXT_ZIPF_SQL, text_zipf

    rows = [tuple(r) for r in text_zipf(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(TEXT_ZIPF_SQL).fetchall()]
    docs = con.execute(
        "SELECT lang, text FROM documents WHERE text IS NOT NULL"
    ).fetchall()
    con.close()
    assert rows == oracle and len(rows) > 0
    assert rows == _zipf_python_replay(docs)

    # planted-slope recovery via a mocked corpus: one language with an
    # EXACT power-law head (freq = 6000//rank), one flat (all equal)
    from unittest import mock

    import dariadb_spark.ext.text as text_mod

    planted = []
    for r in range(1, 101):
        planted += [("zipfian", "w%d" % r)] * (6000 // r)
    planted += [("flat", "u%d" % (i % 100)) for i in range(6000)]
    pdf = spark.createDataFrame(
        [(lang, w) for lang, w in planted], "lang string, text string"
    )
    with mock.patch.object(
        text_mod, "load_table", lambda _s, _sf, _n: pdf
    ):
        prow = {r.lang: r for r in text_zipf(spark, "ignored").collect()}
    assert abs(prow["zipfian"].zipf_slope + 1.0) < 0.02
    assert abs(prow["flat"].zipf_slope) < 0.02
    # replay the planted result too — the mock corpus is deterministic
    assert sorted(
        (r.lang, r.n_ranks, r.fitted_tokens, r.zipf_slope, r.zipf_intercept)
        for r in prow.values()
    ) == _zipf_python_replay(planted)


def test_text_diversity_parity_replay_and_bounds(spark, oracle_sf_dir):
    import duckdb

    from dariadb_spark.ext.text import TEXT_DIVERSITY_SQL, text_diversity

    rows = [tuple(r) for r in text_diversity(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(TEXT_DIVERSITY_SQL).fetchall()]
    docs = con.execute(
        "SELECT lang, text FROM documents WHERE text IS NOT NULL"
    ).fetchall()
    con.close()
    assert rows == oracle and len(rows) > 0

    # definitional replay + the monotone-diversity property: higher-n
    # grams are strictly more diverse on natural-ish text
    from collections import Counter

    for lang, n, total, uniq, ratio in rows:
        grams = Counter()
        for lg, text in docs:
            if lg != lang:
                continue
            ws = text.split(" ")
            for i in range(len(ws) - n + 1):
                grams[" ".join(ws[i: i + n])] += 1
        assert total == sum(grams.values()) and uniq == len(grams)
        assert ratio == ((2 * uniq * 10 ** 6 + total) // (2 * total)) / 1e6
    by_lang: dict = {}
    for lang, n, _, _, ratio in rows:
        by_lang.setdefault(lang, {})[n] = ratio
    for d in by_lang.values():
        assert d[1] < d[2] < d[3]


# --- staged r12: deterministic epoch-seeded training-order shuffle --------

def test_train_shuffle_parity_replay_and_epoch_decorrelation(
    spark, oracle_sf_dir
):
    import hashlib

    import duckdb

    from dariadb_spark.ext.sampling import (
        SHUF_EPOCHS,
        TRAIN_SHUFFLE_SQL,
        train_shuffle,
    )

    rows = [tuple(r) for r in train_shuffle(spark, oracle_sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(TRAIN_SHUFFLE_SQL).fetchall()]
    ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    con.close()
    assert rows == oracle

    # pure-function replay: the permutation is exactly the md5-key sort
    by_epoch: dict = {}
    for e, p, d, k in rows:
        by_epoch.setdefault(e, []).append((p, d, k))
    assert sorted(by_epoch) == list(range(SHUF_EPOCHS))
    for e, lst in by_epoch.items():
        keys = {
            d: int(
                hashlib.md5(f"ord#{e}#{d}".encode()).hexdigest()[:15], 16
            )
            for d in ids
        }
        expect = sorted(ids, key=lambda d: (keys[d], d))
        got = [d for p, d, k in sorted(lst)]
        assert got == expect  # permutation AND order replay exactly
        assert [k for p, d, k in sorted(lst)] == [keys[d] for d in expect]
        assert sorted(got) == sorted(ids)  # each epoch is a permutation

    # epochs are decorrelated: no two epoch orders agree, and the
    # fraction of docs holding the same position across epochs is tiny
    o0 = [d for p, d, k in sorted(by_epoch[0])]
    o1 = [d for p, d, k in sorted(by_epoch[1])]
    o2 = [d for p, d, k in sorted(by_epoch[2])]
    assert o0 != o1 and o1 != o2 and o0 != o2
    same01 = sum(a == b for a, b in zip(o0, o1))
    assert same01 < len(o0) * 0.05


def test_hll_m16_instantiation_matches_legacy():
    """The parameterized HLL path (VERDICT r11 item 4) at m=16 must
    instantiate to BIT-IDENTICAL expressions as the hand-written
    constants the registered queries use — ties the general builders to
    the attested surface without touching it."""
    from dariadb_spark.ext import sketches as sk

    assert sk._hll_rho_max(16) == sk.HLL_RHO_MAX
    assert sk._hll_a8(16) == sk._HLL_A8
    assert sk._hll_lc_case_m(16) == sk._HLL_LC_CASE
    for engine in ("spark", "duck"):
        assert sk._hll_est_cols_m(16, engine) == sk._hll_est_cols(engine)
    # the published alpha table is exact thousandths, /8-divisible
    for m, a in sk.HLL_ALPHA_NUM.items():
        assert (a * m * m) % 8 == 0, m


def test_hll_m64_parity_replay_and_error_improvement(spark, oracle_sf_dir):
    """Staged r13 variant: DuckDB hash parity at the oracle SF, exact
    pure-Python register + estimator replay at m=64, and the point of
    the parameter — the raw-regime error SHRINKS vs m=16 on the same
    corpus (1.04/sqrt(64) = 13% sigma vs 26%)."""
    import duckdb

    from dariadb_spark.ext.sketches import (
        SKETCH_HLL_M64_SQL,
        _hll_a8,
        _hll_lc_case_m,
        _hll_rho_max,
        sketch_hll_distinct,
        sketch_hll_m64,
    )
    from tests.parity import duckdb_connection

    rows = [tuple(r) for r in sketch_hll_m64(spark, oracle_sf_dir).collect()]
    con = duckdb_connection(oracle_sf_dir)
    oracle = [tuple(r) for r in con.execute(SKETCH_HLL_M64_SQL).fetchall()]
    assert rows == oracle

    # pure-Python replay: registers, harmonic sum, regime, estimate
    m_regs, rho_max, a8 = 64, _hll_rho_max(64), _hll_a8(64)
    assert rho_max == 55
    items = _hll_fixture_items(spark, oracle_sf_dir)
    regs = {}
    import hashlib

    for scope, lang, item in items:
        h = int(hashlib.md5(item.encode()).hexdigest()[:15], 16)
        idx, w = h % m_regs, h // m_regs
        rho = rho_max if w == 0 else rho_max - w.bit_length()
        key = (scope, lang)
        regs.setdefault(key, [0] * m_regs)
        if rho > regs[key][idx]:
            regs[key][idx] = rho
    lc = {}  # replay the generated lookup table from its literal CASE
    for part in _hll_lc_case_m(64).split("WHEN ")[1:]:
        v, e = part.split(" THEN ")
        lc[int(v)] = float(e.split(" END")[0].strip())
    by_key = {(r[0], r[1]): r for r in rows}
    assert set(by_key) == set(regs)
    for key, mr in regs.items():
        s = sum(1 << (rho_max - mj) for mj in mr)
        v = sum(1 for mj in mr if mj == 0)
        raw_scaled = (2 * a8 * 10000 + 125 * s) // (250 * s)
        if v > 0 and raw_scaled <= 25000 * 64:
            regime, est = "lc", lc[v]
        else:
            regime, est = "raw", raw_scaled / 10000.0
        _, _, _, got_v, got_s, got_regime, got_est, _ = by_key[key]
        assert (got_v, got_s, got_regime) == (v, s, regime), key
        assert abs(got_est - est) < 1e-9, key

    # error improvement on the raw-regime rows (the scopes with enough
    # distinct values for the asymptotic regime): mean |rel err| at
    # m=64 must beat m=16 on the same corpus
    rows16 = [
        tuple(r) for r in sketch_hll_distinct(spark, oracle_sf_dir).collect()
    ]
    err64 = [r[7] for r in rows if r[5] == "raw"]
    err16 = [r[7] for r in rows16 if r[5] == "raw"]
    assert err64 and err16
    assert sum(err64) / len(err64) < sum(err16) / len(err16)
    # and the m=64 raw errors sit inside 3 sigma = 3 * 104 / sqrt(64)%
    assert all(e <= 3 * 104 / 8 for e in err64)


def test_caption_align_artifact_table_seam(spark, oracle_sf_dir, tmp_path):
    """The model-backed swap seam (VERDICT r11 item 6): feeding a
    synthetic text-vector artifact table through
    media_caption_align_from_table reaches the SAME plan tail as the
    registered stub query. Pinned two ways: (1) an artifact holding the
    stub's own hashed vectors reproduces the registered output
    byte-for-byte; (2) hand-planted vectors (a perfectly aligned copy
    of the image embedding, an anti-aligned negation, a zero vector)
    get exactly the verdicts the alignment contract promises."""
    from dariadb_spark.ext.multimodal import (
        TEXT_VECTOR_ARTIFACT_DDL,
        _text_vec_spark,
        media_caption_align,
        media_caption_align_from_table,
    )
    from dariadb_spark.model import load_table

    # (1) artifact == stub vectors → identical output
    docs = load_table(spark, oracle_sf_dir, "documents").where(
        "text IS NOT NULL"
    )
    stub_dir = str(tmp_path / "stub_vectors")
    docs.selectExpr(
        "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_words",
        f"{_text_vec_spark()} AS t",
    ).write.parquet(stub_dir)
    via_table = [
        tuple(r)
        for r in media_caption_align_from_table(
            spark, oracle_sf_dir, stub_dir
        ).collect()
    ]
    direct = [
        tuple(r)
        for r in media_caption_align(spark, oracle_sf_dir).collect()
    ]
    assert via_table == direct and len(direct) > 0

    # (2) planted vectors at encoder-native width (copy / negation /
    # zero of the image embedding) → align 1.0 / -1.0 / NULL
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, oracle_sf_dir, "embeddings")
        .where("vec_id < 3")
        .collect()
    }
    planted = [
        (0, 5, emb[0]),                      # aligned copy
        (1, 5, [-x for x in emb[1]]),        # anti-aligned
        (2, 5, [0.0] * len(emb[2])),         # zero → NULL align
    ]
    art_dir = str(tmp_path / "planted_vectors")
    spark.createDataFrame(planted, TEXT_VECTOR_ARTIFACT_DDL).write.parquet(
        art_dir
    )
    got = {
        r.doc_id: r
        for r in media_caption_align_from_table(
            spark, oracle_sf_dir, art_dir
        ).collect()
    }
    assert set(got) == {0, 1, 2}
    assert got[0].align == 1.0 and got[0].kept == 1
    assert got[1].align == -1.0 and got[1].kept == 0
    assert got[2].align is None and got[2].kept == 0


def test_media_audio_dedup_parity_and_planted_clones(
    spark, oracle_sf_dir, tmp_path
):
    """Staged r13 audio near-dup (the phash recipe on a 1-D signal):
    DuckDB hash parity at the oracle SF, then a planted corpus — exact
    clones land at Hamming 0, a lightly "re-encoded" clone (a few words
    perturbed) stays under the threshold, and unrelated audio does not
    pair."""
    from dariadb_spark.ext.multimodal import (
        AUDIO_MAX_HAMMING,
        MEDIA_AUDIO_DEDUP_SQL,
        media_audio_dedup,
    )
    from tests.parity import duckdb_connection

    got = [
        tuple(r) for r in media_audio_dedup(spark, oracle_sf_dir).collect()
    ]
    con = duckdb_connection(oracle_sf_dir)
    oracle = [
        tuple(r) for r in con.execute(MEDIA_AUDIO_DEDUP_SQL).fetchall()
    ]
    assert got == oracle
    assert len(got) > 0  # the fixture carries real audio-row clones

    # planted corpus: ids ≡ 1 (mod 3) are the audio rows
    import random

    rng = random.Random(7)
    base = [f"w{rng.randrange(10_000)}" for _ in range(400)]
    noisy = list(base)
    for k in range(0, 400, 80):  # perturb 5 words of 400
        noisy[k] = f"x{k}"
    other = [f"u{rng.randrange(10_000)}" for _ in range(400)]
    rows = [
        (1, " ".join(base), "en", "a", 1),     # original
        (4, " ".join(base), "en", "a", 1),     # exact clone
        (7, " ".join(noisy), "en", "a", 1),    # re-encoded clone
        (10, " ".join(other), "en", "a", 1),   # unrelated audio
        (2, " ".join(base), "en", "a", 1),     # same text, NOT audio row
    ]
    d = str(tmp_path / "audio_docs")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(d + "/documents.parquet")
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in media_audio_dedup(spark, d).collect()
    }
    assert pairs[(1, 4)] == 0  # exact clone
    assert (1, 7) in pairs and pairs[(1, 7)] <= AUDIO_MAX_HAMMING
    assert all(10 not in p for p in pairs)  # unrelated never pairs
    assert all(2 not in p for p in pairs)  # non-audio rows excluded


def test_ann_recall_lsh_parity_and_contract(spark, oracle_sf_dir):
    """Staged r13 LSH recall eval: DuckDB hash parity (the oracle
    reuses SIM_ANN_LSH_SQL's CTE chain verbatim, so the two pipelines
    cannot drift apart), one row per query vector, k = TOP_K, n_hits
    consistent with recall, and the measured recall matching a direct
    set intersection of the two registered queries' outputs."""
    from dariadb_spark.ext.similarity import (
        ANN_RECALL_LSH_SQL,
        QUERY_VEC_IDS,
        TOP_K,
        ann_recall_lsh,
        sim_ann_lsh,
        sim_topk_cosine,
    )
    from tests.parity import duckdb_connection

    rows = [tuple(r) for r in ann_recall_lsh(spark, oracle_sf_dir).collect()]
    con = duckdb_connection(oracle_sf_dir)
    oracle = [tuple(r) for r in con.execute(ANN_RECALL_LSH_SQL).fetchall()]
    assert rows == oracle
    assert [r[0] for r in rows] == QUERY_VEC_IDS
    for _q, k, n_hits, recall in rows:
        assert k == TOP_K and 0 <= n_hits <= k
        assert recall == round(n_hits / k, 4)

    # definitional replay against the two registered queries
    exact = {
        (r.q_id, r.vec_id)
        for r in sim_topk_cosine(spark, oracle_sf_dir).collect()
    }
    lsh = {
        (r.q_id, r.vec_id)
        for r in sim_ann_lsh(spark, oracle_sf_dir).collect()
    }
    by_q = {q: n for q, _k, n, _r in rows}
    for q in QUERY_VEC_IDS:
        want = len({p for p in exact if p[0] == q}
                   & {p for p in lsh if p[0] == q})
        assert by_q[q] == want, q


def test_downsample_lttb_parity_and_contract(spark, oracle_sf_dir):
    """Staged r13 LTOB downsample: DuckDB hash parity, exactly one point
    per populated (id, bucket), every emitted point really lies in its
    bucket, and on a planted flat-plus-spike series the spike is the
    point every bucket keeps (the visual-significance contract)."""
    from dariadb_spark.ext.timeseries import (
        DOWNSAMPLE_LTTB_SQL,
        LTOB_BUCKET_MS,
        downsample_lttb,
        downsample_lttb_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_downsample_lttb",
        downsample_lttb(spark, oracle_sf_dir),
        con,
        DOWNSAMPLE_LTTB_SQL,
    )
    assert res.ok, res.problems
    rows = downsample_lttb(spark, oracle_sf_dir).collect()
    assert len({(r.id, r.t_bucket) for r in rows}) == len(rows)
    for r in rows:
        assert r.t_bucket <= r.time < r.t_bucket + LTOB_BUCKET_MS

    # planted: flat 10.00 baseline sampled every minute, one 50.00 spike
    # per 10-minute bucket — LTOB must keep exactly the spikes (except
    # where a series edge pins area2 to the sentinel).
    w = 600_000
    pts = []
    for b in range(6):
        for k in range(10):
            t = b * w + k * 60_000
            v = 50.0 if k == 5 else 10.0
            pts.append((7, t, v, 0))
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    out = downsample_lttb_op(meas, [7], 0, 6 * w, w, 0).collect()
    assert len(out) == 6
    for r in out:
        assert r.value == 50.0 and r.time % w == 5 * 60_000, r


def test_series_sax_parity_and_planted_motif(spark, oracle_sf_dir):
    """Staged r13 SAX motifs: DuckDB hash parity; on a planted square
    wave the symbols alternate a/d so the only words are 'ada'/'dad'
    with the exact expected counts; a constant (zero-variance) series is
    dropped per the documented contract."""
    from dariadb_spark.ext.timeseries import (
        SERIES_SAX_SQL,
        series_sax,
        series_sax_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_sax", series_sax(spark, oracle_sf_dir), con, SERIES_SAX_SQL
    )
    assert res.ok, res.problems

    frame = 60_000
    n = 12  # one point per frame → PAA is the point itself
    pts = [(1, k * frame, 30.0 if k % 2 else 10.0, 0) for k in range(n)]
    pts += [(2, k * frame, 42.0, 0) for k in range(n)]  # constant → dropped
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    out = series_sax_op(meas, None, 0, n * frame, frame, 0).collect()
    by = {(r.id, r.word): r.cnt for r in out}
    # square wave: z = ±1 → symbols a/d alternating → 10 words total
    assert sum(c for (i, _), c in by.items() if i == 1) == n - 2
    assert by[(1, "ada")] == 5 and by[(1, "dad")] == 5
    assert not any(i == 2 for (i, _) in by)


def test_event_markov_parity_and_planted_transitions(spark, oracle_sf_dir):
    """Staged r13 Markov transition matrix: DuckDB hash parity;
    per-source probabilities sum to 1 (within the single-rounding grid);
    a planted two-user event log yields the exact hand-computed counts
    and conditional probabilities."""
    from dariadb_spark.ext.analytics import (
        EVENT_MARKOV_SQL,
        event_markov,
        event_markov_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_event_markov",
        event_markov(spark, oracle_sf_dir),
        con,
        EVENT_MARKOV_SQL,
    )
    assert res.ok, res.problems
    rows = event_markov(spark, oracle_sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.event_type, []).append(r)
    for src, grp in by_src.items():
        assert abs(sum(g.p_next for g in grp) - 1.0) < 1e-4, src

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    ev = [
        # user 1: A B A B  → A→B ×2, B→A ×1
        (0, t0, 1, "A", 0.0, "{}"),
        (1, t0 + dt.timedelta(seconds=1), 1, "B", 0.0, "{}"),
        (2, t0 + dt.timedelta(seconds=2), 1, "A", 0.0, "{}"),
        (3, t0 + dt.timedelta(seconds=3), 1, "B", 0.0, "{}"),
        # user 2: A A  → A→A ×1
        (4, t0, 2, "A", 0.0, "{}"),
        (5, t0 + dt.timedelta(seconds=1), 2, "A", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r.event_type, r.next_type): (r.cnt, r.p_next)
        for r in event_markov_op(df).collect()
    }
    assert got == {
        ("A", "B"): (2, round(2 / 3, 6)),
        ("A", "A"): (1, round(1 / 3, 6)),
        ("B", "A"): (1, 1.0),
    }


def test_sketch_bloom_parity_and_planted_membership(spark, oracle_sf_dir):
    """Staged r14 Bloom membership gate: DuckDB hash parity; on a
    planted two-language corpus every output field matches a pure-Python
    Bloom reference (same md5 60-bit % M bit positions, same fill-ratio
    inversion, same HALF_UP fpr) — including whether each cross-language
    probe is a false positive, decided bit by bit."""
    import hashlib
    import math

    from dariadb_spark.ext.sketches import (
        BLOOM_K,
        BLOOM_M,
        SKETCH_BLOOM_SQL,
        sketch_bloom,
        sketch_bloom_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_sketch_bloom",
        sketch_bloom(spark, oracle_sf_dir),
        con,
        SKETCH_BLOOM_SQL,
    )
    assert res.ok, res.problems

    def bit(j, word):
        h = int(hashlib.md5(f"{j}:{word}".encode()).hexdigest()[:15], 16)
        return h % BLOOM_M

    def shingles(text):
        ws = text.split(" ")
        return {
            " ".join(ws[i:i + 3]) for i in range(len(ws) - 2)
        }

    texts = {
        "aa": "alpha beta gamma delta eps",
        "bb": "alpha zeta eta beta",
        "dd": "too short",  # < 3 words → no shingles, no row
    }
    corpora = {k: shingles(t) for k, t in texts.items() if len(shingles(t))}
    docs = spark.createDataFrame(
        [
            (i, t, lang, "s", len(t))
            for i, (lang, t) in enumerate(texts.items())
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {r.lang: r for r in sketch_bloom_op(docs).collect()}
    assert set(got) == set(corpora)  # the shingle-less lang emits no row
    vocab = set().union(*corpora.values())
    for lang, words in corpora.items():
        bitset = {bit(j, w) for w in words for j in range(BLOOM_K)}
        probes = vocab - words
        fps = [
            p for p in probes
            if all(bit(j, p) in bitset for j in range(BLOOM_K))
        ]
        r = got[lang]
        assert r.n_items == len(words)
        assert r.bits_set == len(bitset)
        assert r.est_distinct == round(
            (-BLOOM_M / BLOOM_K) * math.log(1.0 - len(bitset) / BLOOM_M), 4
        )
        assert r.n_probes == len(probes)
        assert r.n_false_pos == len(fps)
        num, den = len(fps), len(probes)
        assert r.fpr == ((2 * num * 10**6 + den) // (2 * den)) / 10**6


def test_series_acf_parity_and_planted_alternation(spark, oracle_sf_dir):
    """Staged r13 sample ACF: DuckDB hash parity; a planted period-2
    hour-alternating series yields the closed-form sample ACF
    r_k = (-1)^k (n-k)/n exactly (the mean-centred scaled-by-n² integer
    identity); a constant series is dropped (den = 0)."""
    from dariadb_spark.ext.timeseries import (
        ACF_MAX_LAG,
        SERIES_ACF_SQL,
        series_acf,
        series_acf_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_acf", series_acf(spark, oracle_sf_dir), con, SERIES_ACF_SQL
    )
    assert res.ok, res.problems

    hour = 3_600_000
    n = 12
    pts = [(1, k * hour, 30.0 if k % 2 else 10.0, 0) for k in range(n)]
    pts += [(2, k * hour, 42.0, 0) for k in range(n)]  # constant → dropped
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    rows = series_acf_op(meas, None, 0, n * hour, hour, ACF_MAX_LAG, 0).collect()
    got = {(r.id, r.lag): (r.n_pairs, r.acf) for r in rows}
    assert set(i for i, _ in got) == {1}
    want = {
        1: (11, -0.916667), 2: (10, 0.833333), 3: (9, -0.75),
        4: (8, 0.666667), 5: (7, -0.583333), 6: (6, 0.5),
    }
    for lag, (np_, acf) in want.items():
        assert got[(1, lag)] == (np_, acf), (lag, got[(1, lag)])


def test_series_cross_corr_parity_and_planted_shift(spark, oracle_sf_dir):
    """Staged r14 pairwise cross-correlation: DuckDB hash parity; a
    planted ±alternation with series 2 the one-step delayed copy of
    series 1 (b_t = a_{t−1} = −a_t) yields the closed form
    r(k) = (−1)^{k+1}(n−|k|)/n exactly — zero-mean, so the mean-centred
    scaled-by-n² identity collapses to the pure pair count; a constant
    series is dropped from every pair (den = 0)."""
    from dariadb_spark.ext.timeseries import (
        SERIES_XCORR_SQL,
        XCORR_MAX_LAG,
        series_cross_corr,
        series_cross_corr_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_cross_corr",
        series_cross_corr(spark, oracle_sf_dir),
        con,
        SERIES_XCORR_SQL,
    )
    assert res.ok, res.problems

    hour = 3_600_000
    n = 12
    pts = [(1, k * hour, 1.0 if k % 2 == 0 else -1.0, 0) for k in range(n)]
    pts += [(2, k * hour, -1.0 if k % 2 == 0 else 1.0, 0) for k in range(n)]
    pts += [(3, k * hour, 42.0, 0) for k in range(n)]  # constant → dropped
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    rows = series_cross_corr_op(
        meas, None, 0, n * hour, hour, XCORR_MAX_LAG, 0
    ).collect()
    got = {(r.id_a, r.id_b, r.lag): (r.n_pairs, r.xcorr) for r in rows}
    # only the (1, 2) pair survives: series 3 has zero variance
    assert set((a, b) for a, b, _k in got) == {(1, 2)}
    for k in range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1):
        sign = 1 if k % 2 != 0 else -1
        want = round(sign * (n - abs(k)) / n, 6)
        assert got[(1, 2, k)] == (n - abs(k), want), (k, got[(1, 2, k)])


def test_events_paths_parity_and_planted_journeys(spark, oracle_sf_dir):
    """Staged r14 top user paths: DuckDB hash parity; a planted log
    yields the exact hand-computed journey table — per-user order is
    (ts, event_id) with the id breaking a timestamp tie, users with
    fewer than 5 events contribute their full short path, and the
    share is the HALF_UP closure."""
    import datetime as dt

    from dariadb_spark.ext.analytics import (
        EVENTS_PATHS_SQL,
        events_paths,
        events_paths_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_events_paths",
        events_paths(spark, oracle_sf_dir),
        con,
        EVENTS_PATHS_SQL,
    )
    assert res.ok, res.problems

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    ev = [
        # users 1, 2: same 5-step journey (A B C D E ... 6th ignored)
        *[(i, t0 + i * s, 1, "ABCDEF"[i], 0.0, "{}") for i in range(6)],
        *[(10 + i, t0 + i * s, 2, "ABCDE"[i], 0.0, "{}") for i in range(5)],
        # user 3: short path, 2 events with a TS TIE broken by event_id
        (20, t0, 3, "X", 0.0, "{}"),
        (21, t0, 3, "Y", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = [tuple(r) for r in events_paths_op(df).collect()]
    third = ((2 * 2 * 10**4 + 3) // 6) / 10**4
    one3 = ((2 * 1 * 10**4 + 3) // 6) / 10**4
    assert got == [
        ("A>B>C>D>E", 2, third),
        ("X>Y", 1, one3),
    ]


def test_dedup_edit_distance_parity_and_planted_typos(spark, oracle_sf_dir):
    """Staged r14 edit-distance near-dup: DuckDB hash parity (the
    oracle is the UNBLOCKED quadratic join, so the compare proves the
    banded plan's recall); planted typo pairs match a pure-Python
    Levenshtein DP exactly, a 6-edit pair is excluded, a small-edit
    pair with a different opening is outside the contract, and a
    cross-band pair (|Δlen| = 5 straddling a band boundary) is still
    found — the adjacent-band emission at work."""
    from dariadb_spark.ext.dedup import (
        DEDUP_EDIT_SQL,
        EDIT_MAX,
        dedup_edit_distance,
        dedup_edit_distance_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_dedup_edit_distance",
        dedup_edit_distance(spark, oracle_sf_dir),
        con,
        DEDUP_EDIT_SQL,
    )
    assert res.ok, res.problems
    assert res.rows_spark > 0  # the fixture has real typo-level pairs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    base = "the quick brown fox jumps over a lazy dog near the old barn"
    docs = [
        (1, base),
        (2, base.replace("jumps", "jumped")),        # dist 2
        (3, base + " xxxxx"),                        # dist 5 (len +5)
        (4, base.replace("quick", "quirky") + "!!"), # small block, more edits
        (5, "a " + base),                            # different opening
        (6, base.replace("brown fox", "red panda")), # dist > 5 → excluded
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {(r.doc_a, r.doc_b): r.dist for r in dedup_edit_distance_op(df).collect()}
    pre = {i: t[:64] for i, t in docs}
    # expected: every same-opening pair within 5 edits of the 64-char head
    want = {}
    for i, _ in docs:
        for j, _ in docs:
            if i < j and " ".join(pre[i].split(" ")[:2]) == " ".join(
                pre[j].split(" ")[:2]
            ) and abs(len(pre[i]) - len(pre[j])) <= EDIT_MAX:
                d = lev(pre[i], pre[j])
                if d <= EDIT_MAX:
                    want[(i, j)] = d
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 2
    assert (1, 3) in got and got[(1, 3)] == 5  # the cross-band pair
    assert not any(5 in p for p in got)  # different opening: contract
    assert (1, 6) not in got  # 9 edits > 5


def test_series_outlier_mad_parity_and_planted_spikes(spark, oracle_sf_dir):
    """Staged r14 robust outlier screen: DuckDB hash parity; planted
    series pin the doubled-median closure on BOTH parities (odd and
    even counts — the even midpoint average is exact, never floated),
    Hampel's integer rule flags exactly the planted spikes while the
    classic mean/σ-distorting magnitude does NOT inflate the MAD, and
    a constant series reports zero outliers."""
    from dariadb_spark.ext.timeseries import (
        SERIES_MAD_SQL,
        series_outlier_mad,
        series_outlier_mad_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_outlier_mad",
        series_outlier_mad(spark, oracle_sf_dir),
        con,
        SERIES_MAD_SQL,
    )
    assert res.ok, res.problems

    pts = []
    # series 1 (odd n=9): 7 values 10..16, spikes 1000 and -1000
    vals1 = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 1000.0, -1000.0]
    for k, v in enumerate(vals1):
        pts.append((1, 1000 * k, v, 0))
    # series 2 (even n=6): median = (12+14)/2 = 13.0 — the .5-exact
    # doubled-median path; deviations sort to [1,1,2,2,3,3] → MAD 2,
    # no Hampel outliers (bound 8.9 > max dev 3)
    for k, v in enumerate([10.0, 11.0, 12.0, 14.0, 15.0, 16.0]):
        pts.append((2, 1000 * k, v, 0))
    # series 3: constant → MAD 0, zero deviations, zero outliers
    for k in range(5):
        pts.append((3, 1000 * k, 42.0, 0))
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    got = {
        r.id: (r.n, r.median, r.mad, r.n_outliers, r.outlier_frac)
        for r in series_outlier_mad_op(meas, None, 0, 10_000, 0).collect()
    }
    # series 1: median 13 (the 5th of 9 sorted), MAD = median of
    # |v−13| = [3,2,1,0,1,2,3,987,1013] sorted → 5th = 2; Hampel bound
    # 3·1.4826·2 = 8.8956 → only the two spikes flag
    frac1 = ((2 * 2 * 10**4 + 9) // (2 * 9)) / 10**4
    assert got[1] == (9, 13.0, 2.0, 2, frac1)
    assert got[2] == (6, 13.0, 2.0, 0, 0.0)
    assert got[3] == (5, 42.0, 0.0, 0, 0.0)


def test_embedding_outliers_parity_and_planted_flip(spark, oracle_sf_dir):
    """Staged r14 embedding outlier screen: DuckDB hash parity; in a
    planted label of four near-identical vectors plus one sign-flipped
    one, the flipped vector ranks first with the exact integer-math
    distance a pure-Python reference computes; the tight cluster's
    distances follow at the exact same values."""
    import math

    from dariadb_spark.ext.similarity import (
        EMBEDDING_OUTLIERS_SQL,
        _OUT_SCALE,
        embedding_outliers,
        embedding_outliers_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_embedding_outliers",
        embedding_outliers(spark, oracle_sf_dir),
        con,
        EMBEDDING_OUTLIERS_SQL,
    )
    assert res.ok, res.problems

    dim = 8
    base = [0.5, -0.25, 0.125, 0.0625, -0.5, 0.25, -0.125, 0.3]
    vecs = {
        1: base,
        2: [x + 0.001 for x in base],
        3: [x - 0.001 for x in base],
        4: [x + 0.002 for x in base],
        5: [-x for x in base],  # the planted outlier
    }
    emb = spark.createDataFrame(
        [(vid, 7, [float(x) for x in v]) for vid, v in vecs.items()],
        "vec_id long, label long, embedding array<double>",
    )
    got = [
        (r.label, r.rk, r.vec_id, r.dist)
        for r in embedding_outliers_op(emb).collect()
    ]
    # pure-Python reference of the exact integer pipeline
    q = {vid: [round(x * _OUT_SCALE) for x in v] for vid, v in vecs.items()}
    n = len(q)
    sums = [sum(q[vid][d] for vid in q) for d in range(dim)]
    d2 = {
        vid: sum((n * q[vid][d] - sums[d]) ** 2 for d in range(dim))
        for vid in q
    }
    ranked = sorted(q, key=lambda vid: (-d2[vid], vid))
    want = [
        (7, rk + 1, vid, round(math.sqrt(d2[vid]) / (n * _OUT_SCALE), 6))
        for rk, vid in enumerate(ranked)
    ]
    assert got == want
    assert got[0][2] == 5  # the sign-flip is the #1 outlier


def test_series_seasonal_strength_parity_and_planted_extremes(
    spark, oracle_sf_dir
):
    """Staged r14 seasonal strength: DuckDB hash parity; a pure
    day/night phase function scores exactly 1 (SSB = SST), its
    negative mirror too (both signed branches), a period-5 value cycle
    spread over 24 phases scores exactly 0 (every phase sees the same
    multiset → SSB terms are literal zero), and a constant series is
    dropped (SST = 0)."""
    from dariadb_spark.ext.timeseries import (
        SEASONAL_PERIOD,
        SERIES_SEASONAL_SQL,
        series_seasonal_strength,
        series_seasonal_strength_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_seasonal_strength",
        series_seasonal_strength(spark, oracle_sf_dir),
        con,
        SERIES_SEASONAL_SQL,
    )
    assert res.ok, res.problems

    hour = 3_600_000
    n = 120  # five full days — and a multiple of the period-5 cycle
    pts = []
    for k in range(n):
        day_night = 10.0 if (k % 24) < 12 else 50.0
        pts.append((1, k * hour, day_night, 0))
        pts.append((2, k * hour, -day_night, 0))
        pts.append((3, k * hour, float(k % 5), 0))  # phase-independent
        pts.append((4, k * hour, 42.0, 0))  # constant → dropped
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    got = {
        r.id: (r.n_cells, r.seasonal_strength)
        for r in series_seasonal_strength_op(
            meas, None, 0, n * hour, hour, SEASONAL_PERIOD, 0
        ).collect()
    }
    assert got == {1: (n, 1.0), 2: (n, 1.0), 3: (n, 0.0)}


def test_series_perm_entropy_parity_and_planted_shapes(spark, oracle_sf_dir):
    """Staged r13 permutation entropy: DuckDB hash parity; monotone and
    constant series score pe = 0 (single pattern '123'), a square wave
    splits evenly between '132'/'213' for pe = ln2/ln6."""
    from dariadb_spark.ext.timeseries import (
        SERIES_PERM_ENTROPY_SQL,
        series_perm_entropy,
        series_perm_entropy_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_perm_entropy",
        series_perm_entropy(spark, oracle_sf_dir),
        con,
        SERIES_PERM_ENTROPY_SQL,
    )
    assert res.ok, res.problems

    step = 60_000
    n = 12
    pts = [(1, k * step, 30.0 if k % 2 else 10.0, 0) for k in range(n)]
    pts += [(2, k * step, 1.0 + 0.01 * k, 0) for k in range(n)]  # monotone
    pts += [(3, k * step, 42.0, 0) for k in range(n)]  # constant → all ties
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    rows = series_perm_entropy_op(meas, None, 0, n * step, 0).collect()
    by = {r.id: r for r in rows}
    assert by[1].n_windows == n - 2
    assert by[1].c132 == 5 and by[1].c213 == 5 and by[1].c123 == 0
    assert by[1].pe_norm == 0.386853  # ln2/ln6
    for sid in (2, 3):
        assert by[sid].c123 == n - 2 and by[sid].pe_norm == 0.0, sid


def _mkdocs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (s, t) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_corpus_drift_tvd_parity_and_planted_extremes(spark, oracle_sf_dir):
    """Staged r13 drift TVD: DuckDB hash parity; two sources with
    identical token distributions score 0, two with disjoint
    vocabularies score 1 — the metric's defining extremes, exact by
    integer arithmetic."""
    from dariadb_spark.ext.text import (
        CORPUS_DRIFT_TVD_SQL,
        corpus_drift_tvd,
        corpus_drift_tvd_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_corpus_drift_tvd",
        corpus_drift_tvd(spark, oracle_sf_dir),
        con,
        CORPUS_DRIFT_TVD_SQL,
    )
    assert res.ok, res.problems

    same = _mkdocs(spark, [("s1", "x x y"), ("s2", "x x y")])
    got = {r.source: r.tvd_rest for r in corpus_drift_tvd_op(same).collect()}
    assert got == {"s1": 0.0, "s2": 0.0}

    disj = _mkdocs(spark, [("s1", "a a b"), ("s2", "c d d")])
    got = {r.source: r.tvd_rest for r in corpus_drift_tvd_op(disj).collect()}
    assert got == {"s1": 1.0, "s2": 1.0}


def test_token_pmi_parity_and_planted_collocation(spark, oracle_sf_dir):
    """Staged r13 PMI collocations: DuckDB hash parity; a planted
    always-together pair outranks an independent filler pair with the
    hand-computed exact rank keys and PMI values."""
    import math

    from dariadb_spark.ext.text import (
        TOKEN_PMI_SQL,
        token_pmi,
        token_pmi_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_token_pmi", token_pmi(spark, oracle_sf_dir), con, TOKEN_PMI_SQL
    )
    assert res.ok, res.problems

    docs = _mkdocs(
        spark,
        [("s", "new york")] * 6 + [("s", "t t")] * 20,
    )
    rows = token_pmi_op(docs).collect()
    assert [(r.x, r.y) for r in rows] == [("new", "york"), ("t", "t")]
    ny, tt = rows
    assert (ny.c_xy, ny.c_x, ny.c_y) == (6, 6, 6)
    assert ny.rank_key == 6 * 26 * 10**6 // 36 and tt.rank_key == 1_300_000
    assert ny.pmi == round(math.log(6 * 26 / 36), 6)
    assert tt.pmi == round(math.log(1.3), 6)


def test_ngram_novelty_parity_and_planted_attribution(spark, oracle_sf_dir):
    """Staged r13 n-gram novelty: DuckDB hash parity; a source that
    re-crawls an earlier source's text owns none of its n-grams
    (novelty 0), a fresh source owns all of its own (novelty 1)."""
    from dariadb_spark.ext.dedup import (
        NGRAM_NOVELTY_SQL,
        ngram_novelty,
        ngram_novelty_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_ngram_novelty",
        ngram_novelty(spark, oracle_sf_dir),
        con,
        NGRAM_NOVELTY_SQL,
    )
    assert res.ok, res.problems

    docs = _mkdocs(
        spark,
        [("orig", "a b c d"), ("copycat", "a b c d"), ("fresh", "x y z w")],
    )
    rows = {r.source: r for r in ngram_novelty_op(docs).collect()}
    assert rows["orig"].owned_ngrams == 2 and rows["orig"].novelty_ratio == 1.0
    assert rows["copycat"].owned_ngrams == 0
    assert rows["copycat"].novelty_ratio == 0.0
    assert rows["copycat"].distinct_ngrams == 2
    assert rows["fresh"].novelty_ratio == 1.0


def test_embedding_pca_parity_and_planted_rank1(spark, oracle_sf_dir):
    """Staged r13 PCA power iteration: DuckDB hash parity; a planted
    rank-1 embedding table (every vector a multiple of u ∝ (0.3, 0.4))
    recovers loading = (0.6, 0.8) EXACTLY — the scale-downs divide
    evenly by construction, so the closed form survives the integer
    pipeline with zero tolerance."""
    from dariadb_spark.ext.similarity import (
        EMBEDDING_PCA_SQL,
        embedding_pca,
        embedding_pca_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_embedding_pca",
        embedding_pca(spark, oracle_sf_dir),
        con,
        EMBEDDING_PCA_SQL,
    )
    assert res.ok, res.problems

    u = [0.3, 0.4] + [0.0] * 62
    rows = [
        (v, [c * x for x in u], 0) for v, c in enumerate([1.0, 2.0, 3.0, 4.0])
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {r.dim: (r.v2s, r.loading) for r in embedding_pca_op(emb).collect()}
    assert len(got) == 64
    assert got[0] == (472500, 0.6)
    assert got[1] == (630000, 0.8)
    assert all(got[d] == (0, 0.0) for d in range(2, 64))


def test_series_mase_parity_and_planted_forecastability(spark, oracle_sf_dir):
    """Staged MASE: DuckDB hash parity; a perfectly daily-periodic
    series scores exactly 0 (the seasonal-naive forecast is perfect), a
    linear ramp scores exactly season = 24 (yesterday's value is 24
    steps staler than the last hour's), and a constant series is
    dropped (zero naive-1 denominator)."""
    from dariadb_spark.ext.timeseries import (
        MASE_SEASON,
        SERIES_MASE_SQL,
        series_mase,
        series_mase_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_mase",
        series_mase(spark, oracle_sf_dir),
        con,
        SERIES_MASE_SQL,
    )
    assert res.ok, res.problems

    hour = 3_600_000
    n = 72
    pts = [(1, k * hour, 10.0 + (k % 24), 0) for k in range(n)]  # periodic
    pts += [(2, k * hour, 10.0 + k, 0) for k in range(n)]  # ramp
    pts += [(3, k * hour, 42.0, 0) for k in range(n)]  # constant → dropped
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    rows = {
        r.id: r
        for r in series_mase_op(
            meas, None, 0, n * hour, hour, MASE_SEASON, 0
        ).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1].sum_abs_season == 0 and rows[1].mase == 0.0
    assert rows[1].n_naive == n - 1 and rows[1].n_season == n - MASE_SEASON
    assert rows[2].sum_abs_naive == 100 * (n - 1)
    assert rows[2].sum_abs_season == 2400 * (n - MASE_SEASON)
    assert rows[2].mase == 24.0


def test_series_psi_parity_and_planted_shift(spark, oracle_sf_dir):
    """Staged PSI: DuckDB hash parity; a planted 75/25 → 25/75 bin
    swap scores exactly ln 3 (two 0.5·ln3 terms on the micro-int
    grid), identical halves score exactly 0, and a bin present in only
    one half is counted dropped, never summed."""
    import math

    from dariadb_spark.ext.timeseries import (
        PSI_BIN_WIDTH,
        SERIES_PSI_SQL,
        series_psi,
        series_psi_op,
    )
    from tests.parity import compare, duckdb_connection

    con = duckdb_connection(oracle_sf_dir)
    res = compare(
        "ext_series_psi", series_psi(spark, oracle_sf_dir), con, SERIES_PSI_SQL
    )
    assert res.ok, res.problems

    step = 1000
    pts = []
    # series 1: half1 60×bin0 + 20×bin1; half2 20×bin0 + 60×bin1
    for k in range(80):
        pts.append((1, k * step, 10.0 if k < 60 else 60.0, 0))
    for k in range(80):
        pts.append((1, (80 + k) * step, 10.0 if k < 20 else 60.0, 0))
    # series 2: identical halves → psi 0
    for k in range(160):
        pts.append((2, k * step, 10.0 if k % 2 else 60.0, 0))
    # series 3: one extra half1-only bin → dropped, tiny residual term
    for k in range(10):
        pts.append((3, k * step, 10.0, 0))
    pts.append((3, 10 * step, 110.0, 0))
    for k in range(10):
        pts.append((3, (80 + k) * step, 10.0, 0))
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    rows = {
        r.id: r
        for r in series_psi_op(meas, None, 0, 159 * step, PSI_BIN_WIDTH, 0)
        .collect()
    }
    half_term = round(0.5 * math.log(3.0) * 1e6)
    assert rows[1].psi == 2 * half_term / 1e6
    assert rows[1].n_bins_common == 2 and rows[1].n_bins_dropped == 0
    assert rows[2].psi == 0.0 and rows[2].n_bins_dropped == 0
    assert rows[3].n_bins_dropped == 1 and rows[3].n_bins_common == 1
    t3 = round((10 / 11 - 1.0) * math.log((10 / 11) / 1.0) * 1e6)
    assert rows[3].psi == t3 / 1e6


def test_series_psi_negative_values_cross_engine(spark):
    """ADVICE r12 (high): DuckDB ``//`` truncates toward zero (verified:
    -7 // 2 = -3) while the Spark side floors via sign decomposition, so
    a negative value off the bin grid landed in DIFFERENT bins on the
    two engines — latent because the driver fixture has no negative
    values. The SQL now sign-decomposes identically; pin the parity on
    a planted negative corpus where truncation would visibly merge the
    bin −1 population into bin 0 (psi ln3 → 0)."""
    import math

    import duckdb
    import pandas as pd

    from dariadb_spark.ext.timeseries import (
        PSI_BIN_WIDTH,
        SERIES_PSI_SQL,
        series_psi_op,
    )
    from dariadb_spark.model import MEAS_CTE_SQL
    from dariadb_spark.registry import FROM_MS, TO_MS
    from tests.parity import compare

    step = 60_000
    pts = []
    # series 0: −12.34 → cents −1234 → bin −1 under floor, bin 0 under
    # truncation; +12.34 → bin 0 on any engine. Halves swap the 30/10
    # mix, so floor scores exactly ln3 over two common bins while a
    # truncating engine sees ONE bin (40/40) and scores 0.
    for k in range(40):
        pts.append((0, FROM_MS + k * step, -12.34 if k < 30 else 12.34, 0))
    for k in range(40):
        pts.append((0, TO_MS - k * step, -12.34 if k < 10 else 12.34, 0))
    # series 1: exact-grid negative −50.0 → cents −5000 → bin −1 under
    # BOTH conventions; identical halves → psi exactly 0.
    for k in range(20):
        pts.append((1, FROM_MS + k * step, -50.0, 0))
        pts.append((1, TO_MS - k * step, -50.0, 0))
    meas = spark.createDataFrame(
        pts, "id long, time long, value double, flag long"
    )
    got = {
        r.id: r
        for r in series_psi_op(
            meas, None, FROM_MS, TO_MS, PSI_BIN_WIDTH, 0
        ).collect()
    }
    half_term = round(0.5 * math.log(3.0) * 1e6)
    assert got[0].psi == 2 * half_term / 1e6  # floor semantics, not trunc
    assert got[0].n_bins_common == 2 and got[0].n_bins_dropped == 0
    assert got[1].psi == 0.0 and got[1].n_bins_common == 1

    con = duckdb.connect()
    con.register(
        "planted",
        pd.DataFrame(pts, columns=["id", "time", "value", "flag"]),
    )
    sql = SERIES_PSI_SQL.replace(
        MEAS_CTE_SQL, "measurements AS (SELECT * FROM planted)"
    )
    assert sql != SERIES_PSI_SQL  # the CTE swap actually happened
    res = compare(
        "ext_series_psi_negative",
        series_psi_op(meas, None, FROM_MS, TO_MS, PSI_BIN_WIDTH, 0),
        con,
        sql,
    )
    assert res.ok, res.problems


def test_ngram_family_total_on_short_docs(spark):
    """Totality pin for every computed-length slice path (the round-12
    shingles lesson: `slice()` errors on a negative length, and join
    plans can evaluate projections on pre-filter rows — plus
    text_diversity's 3-gram path had no guard at all): a corpus of 0-,
    1-, and 2-word documents must flow through the whole n-gram family
    without error, contributing zero n-grams where none exist."""
    import unittest.mock as mock

    import dariadb_spark.ext.dedup as D
    import dariadb_spark.ext.text as T

    docs = spark.createDataFrame(
        [
            (0, "", "en", "s1", 0),
            (1, "one", "en", "s1", 3),
            (2, "two words", "en", "s2", 9),
            (3, "aa bb cc dd ee ff gg hh ii", "en", "s2", 26),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fake = lambda sp, sf, t: docs  # noqa: E731
    with mock.patch.object(T, "load_table", fake):
        div = {r.n: r for r in T.text_diversity(spark, "x").collect()}
        assert div[3].total == 7  # only doc 3 has 3-grams
        T.text_fingerprint(spark, "x").collect()
        T.corpus_drift_tvd(spark, "x").collect()
        T.token_pmi(spark, "x").collect()
    with mock.patch.object(D, "load_table", fake):
        assert D.dedup_substring_spans(spark, "x").count() >= 0
        assert D.dedup_passages(spark, "x").count() >= 0
        nov = {r.source: r for r in D.ngram_novelty(spark, "x").collect()}
        # only doc 3 shingles; s1 has no shingled docs and must vanish
        assert set(nov) == {"s2"} and nov["s2"].n_docs == 1


def test_gram_arrow_matches_declared_fanout(spark):
    """VERDICT r14 item 2: the blocked Arrow-matmul Gram must produce
    the SAME exact DECIMAL(38,0) cell table as the declared posexplode
    fan-out, and `embedding_pca_arrow` must be byte-identical to the
    oracled `embedding_pca_op` — on adversarial vectors (negatives,
    exact .5 rounding boundaries, zeros) AND the sf0.001 fixture
    (float32 arrays, multiple Arrow batches via a low batch cap)."""
    import numpy as np

    from pyspark.sql import functions as F
    from dariadb_spark.ext.similarity import (
        PCA_SCALE,
        embedding_pca_arrow,
        embedding_pca_op,
        gram_arrow,
    )

    rng = np.random.default_rng(7)
    d = 6
    vecs = rng.integers(-9000, 9000, size=(50, d)).astype(np.float64)
    vecs[0] = 0.0
    vecs[1] = np.array([0.00005, -0.00005, 0.00015, -0.00015, 0.5, -0.5])
    emb = spark.createDataFrame(
        [(i, [float(x) / PCA_SCALE for x in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    declared = (
        emb.selectExpr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            f" * {PCA_SCALE}) AS BIGINT)) AS q"
        )
        .select("q", F.posexplode("q").alias("i", "qi"))
        .select("i", "qi", F.posexplode("q").alias("j", "qj"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("qi").cast("decimal(38,0)") * F.col("qj")).alias("g"))
    )
    want = {(r.i, r.j): int(r.g) for r in declared.collect()}
    got = {(r.i, r.j): int(r.g) for r in gram_arrow(emb).collect()}
    assert got == want
    pca_decl = [tuple(r) for r in embedding_pca_op(emb).collect()]
    pca_arrow = [tuple(r) for r in embedding_pca_arrow(emb).collect()]
    assert pca_arrow == pca_decl

    # fixture parity: float32 storage + forced multi-batch scan
    fx = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        fx_arrow = [tuple(r) for r in embedding_pca_arrow(fx).collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    fx_decl = [tuple(r) for r in embedding_pca_op(fx).collect()]
    assert fx_arrow == fx_decl
    assert len(fx_arrow) > 0


def test_kmv_report_projections(spark, sf_dir):
    """Merge #1 of the 250-ceiling trajectory (registry.py, executed
    r15): the single registered `ext_sketch_kmv_report` row must
    reproduce BOTH original queries by projection/filter — per-language
    rows (lang_b IS NULL) equal `sketch_kmv_distinct`, pair rows equal
    `sketch_kmv_union` — so consolidating the driver rows loses no
    attested semantics."""
    from dariadb_spark.ext.sketches import (
        sketch_kmv_distinct,
        sketch_kmv_report,
        sketch_kmv_union,
    )

    rep = [tuple(r) for r in sketch_kmv_report(spark, sf_dir).collect()]
    singles = sorted(
        (r[0], r[2], r[3], r[6]) for r in rep if r[1] is None
    )
    pairs = sorted(r[:6] for r in rep if r[1] is not None)
    want_d = sorted(
        tuple(r) for r in sketch_kmv_distinct(spark, sf_dir).collect()
    )
    want_u = sorted(
        tuple(r) for r in sketch_kmv_union(spark, sf_dir).collect()
    )
    assert singles == want_d
    assert pairs == want_u
    assert len(singles) > 0 and len(pairs) > 0


def test_sketch_quantile_report_projections(spark, oracle_sf_dir):
    """Merge #7 (r16): the variant-tagged quantile composite reproduces
    all THREE original queries by filter + projection, so the
    consolidation loses no attested semantics. Report columns:
    (variant, flag, p, exact, est, method, abs_err, rel_err_pct)."""
    from dariadb_spark.ext.sketches import (
        sketch_quantile,
        sketch_quantile_hdr,
        sketch_quantile_hist,
        sketch_quantile_report,
    )

    rep = [
        tuple(r)
        for r in sketch_quantile_report(spark, oracle_sf_dir).collect()
    ]
    # hist: (flag, p, exact, qh_est, abs_err)
    got_h = sorted(
        (r[1], r[2], r[3], r[4], r[6]) for r in rep if r[0] == "hist"
    )
    # hdr: (flag, p, exact, hdr_est, rel_err_pct)
    got_d = sorted(
        (r[1], r[2], r[3], r[4], r[7]) for r in rep if r[0] == "hdr"
    )
    # routed: (flag, p, exact, qsk_est, method, abs_err)
    got_r = sorted(
        (r[1], r[2], r[3], r[4], r[5], r[6]) for r in rep
        if r[0] == "routed"
    )
    want_h = sorted(
        tuple(r) for r in sketch_quantile_hist(spark, oracle_sf_dir).collect()
    )
    want_d = sorted(
        tuple(r) for r in sketch_quantile_hdr(spark, oracle_sf_dir).collect()
    )
    want_r = sorted(
        tuple(r) for r in sketch_quantile(spark, oracle_sf_dir).collect()
    )
    assert got_h == want_h
    assert got_d == want_d
    assert got_r == want_r
    assert len(got_h) > 0 and len(got_d) > 0 and len(got_r) > 0


def test_cms_topk_is_rollup_projection(spark, oracle_sf_dir):
    """Merge #9 (r17): the direct-build CMS row folded into the
    shard-merged composite because CMS additivity is EXACT — the cell
    hash is shard-independent and sums distribute, so the merged sketch
    equals the direct build cell-for-cell and cms_topk's output is the
    rollup's rows minus n_shards (same order, same values). This pin is
    what licenses the consolidation: if either build drifts, the merge
    premise breaks loudly here."""
    from dariadb_spark.ext.sketches import sketch_cms_rollup, sketch_cms_topk

    topk = [tuple(r) for r in sketch_cms_topk(spark, oracle_sf_dir).collect()]
    roll = [
        tuple(r) for r in sketch_cms_rollup(spark, oracle_sf_dir).collect()
    ]
    assert len(topk) > 0
    assert topk == [r[:4] for r in roll]
    # the composite's extra column is the shard count, nothing else
    assert {r[4] for r in roll} == {4}
