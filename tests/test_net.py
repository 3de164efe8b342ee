"""S6 network protocol (dariadb_spark/net.py — the libdariadb-net
client/server analog): the protocol must add TRANSPORT, never
semantics. Every frame verb is checked value-for-value against the
direct engine call; the push verb (subscribe) against the filtered
store contents; errors must answer, not hang; concurrent clients must
not interleave each other's responses."""

from __future__ import annotations

import threading

import pytest

from dariadb_spark import TsEngine
from dariadb_spark.net import TsClient, TsServer

T0 = 1_704_067_200_000
HOUR = 3_600_000
ROWS = [
    (i, T0 + k * HOUR, float(i * 100 + k), 1 if k % 3 else 16)
    for i in range(4)
    for k in range(6)
]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    eng = TsEngine.open(
        spark, str(tmp_path_factory.mktemp("net_store") / "store")
    )
    eng.append(ROWS)
    srv = TsServer(eng).start()
    yield eng, srv
    srv.stop()


def _cli(srv) -> TsClient:
    return TsClient("127.0.0.1", srv.port)


def test_frame_verbs_match_direct_engine(served):
    eng, srv = served
    with _cli(srv) as cli:
        assert cli.ping()
        checks = [
            (
                cli.read_interval([0, 1, 2], T0, T0 + 4 * HOUR),
                eng.read_interval([0, 1, 2], T0, T0 + 4 * HOUR),
            ),
            (
                cli.read_time_point([0, 1, 99], T0 + 2 * HOUR),
                eng.read_time_point([0, 1, 99], T0 + 2 * HOUR),
            ),
            (cli.current_value(), eng.current_value()),
            (cli.min_max_time([1, 2]), eng.min_max_time([1, 2])),
            (
                cli.stat([0, 1], T0, T0 + 5 * HOUR),
                eng.stat([0, 1], T0, T0 + 5 * HOUR),
            ),
            (
                cli.calc(["average", "sum"], [0, 1], T0, T0 + 5 * HOUR),
                eng.calc(["average", "sum"], [0, 1], T0, T0 + 5 * HOUR),
            ),
            (cli.downsample("hour", [0, 1]), eng.downsample("hour", [0, 1])),
        ]
        for (cols, rows), direct in checks:
            assert cols == list(direct.columns)
            assert sorted(rows) == sorted(tuple(r) for r in direct.collect())


def test_interval_flag_and_limit(served):
    eng, srv = served
    with _cli(srv) as cli:
        cols, rows = cli.read_interval([0, 1, 2, 3], T0, T0 + 9 * HOUR, 16)
        direct = eng.read_interval([0, 1, 2, 3], T0, T0 + 9 * HOUR, 16)
        assert sorted(rows) == sorted(tuple(r) for r in direct.collect())
        assert all(r[3] & 16 == 16 for r in rows)
        _, limited = cli.read_interval([0], T0, T0 + 9 * HOUR, limit=2)
        assert len(limited) == 2


def test_append_over_the_wire_is_readable(served):
    eng, srv = served
    with _cli(srv) as cli:
        n = cli.append([(7, T0 + 11 * HOUR, 7.5, 1)])
        assert n == 1
        _, rows = cli.read_interval([7], T0, T0 + 12 * HOUR)
        assert rows == [(7, T0 + 11 * HOUR, 7.5, 1)]


def test_subscribe_pushes_filtered_rows(served):
    eng, srv = served
    with _cli(srv) as cli:
        got = cli.subscribe(ids=[0, 1], flag=16)
        direct = {
            tuple(r)
            for r in eng.read_interval([0, 1], 0, 2_000_000_000_000, 16)
            .collect()
        }
        assert direct and set(got) >= direct  # every stored match pushed
        assert all(r[0] in (0, 1) and (r[3] & 16) == 16 for r in got)


def test_binary_meas_encoding_matches_json(served):
    # The reference protocol's packed-MeasArray shape: binary-encoded
    # reads and appends must be value-identical to the JSON path on
    # every meas-shaped verb, and binary appends must be readable back
    # exactly (int64/float64 round-trip, no precision loss).
    eng, srv = served
    with _cli(srv) as cli:
        jcols, jrows = cli.read_interval([0, 1, 2], T0, T0 + 4 * HOUR)
        bcols, brows = cli.read_interval(
            [0, 1, 2], T0, T0 + 4 * HOUR, encoding="bin"
        )
        assert (jcols, sorted(jrows)) == (bcols, sorted(brows))
        jc, jr = cli.current_value()
        bc, br = cli.current_value(encoding="bin")
        assert (jc, sorted(jr)) == (bc, sorted(br))
        rows = [(9, T0 + 13 * HOUR, -0.1234567890123, 2 ** 40 + 7)]
        assert cli.append(rows, binary=True) == 1
        _, got = cli.read_interval([9], T0, T0 + 14 * HOUR, encoding="bin")
        assert got == rows
        # non-meas frames ignore the hint and stay JSON
        cols, rows_stat = cli._frame(
            "stat", ids=[0], from_ms=T0, to_ms=T0 + 5 * HOUR, flag=0,
            encoding="bin",
        )
        direct = eng.stat([0], T0, T0 + 5 * HOUR)
        assert cols == list(direct.columns)
        assert sorted(rows_stat) == sorted(tuple(r) for r in direct.collect())


def test_scheme_verbs_over_the_wire(served):
    eng, srv = served
    with _cli(srv) as cli:
        ida = cli.scheme_add_param("hostA.sensor0.load")
        idb = cli.scheme_add_param("hostA.sensor1.load")
        assert idb == ida + 1
        assert cli.scheme_add_param("hostA.sensor0.load") == ida  # idempotent
        assert cli.scheme_id_by_param("hostA.sensor0.load") == ida
        assert cli.scheme_id_by_param("nope") is None
        cols, rows = cli.scheme_all()
        assert cols == ["id", "name"]
        assert (ida, "hostA.sensor0.load") in rows
        # name-driven interval scan over the wire == direct engine call
        cli.append([(ida, T0 + HOUR, 1.5, 1), (idb, T0 + HOUR, 2.5, 1)])
        cols, rows = cli.read_interval_by_pattern(
            "hostA.*", T0, T0 + 2 * HOUR
        )
        direct = eng.read_interval_by_pattern("hostA.*", T0, T0 + 2 * HOUR)
        assert cols == list(direct.columns)
        assert sorted(rows) == sorted(tuple(r) for r in direct.collect())
        assert {r[1] for r in rows} == {
            "hostA.sensor0.load", "hostA.sensor1.load"
        }


def test_pattern_special_characters_over_the_wire(served):
    """A glob off the wire reaches Spark only as a Column literal:
    ``'``, ``\\``, ``%`` and ``_`` match themselves and raise no SQL
    error."""
    eng, srv = served
    tw = T0 + 500 * HOUR + 7  # no other test writes this instant
    names = ["w'q.x", "w\\q.x", "w%q.x", "w_q.x", "wZq.x"]
    with _cli(srv) as cli:
        ids = [cli.scheme_add_param(n) for n in names]
        cli.append([(i, tw, float(i), 1) for i in ids])
        for sid, name in zip(ids, names):
            cols, rows = cli.read_interval_by_pattern(name, tw, tw)
            assert [(r[0], r[1]) for r in rows] == [(sid, name)], name
        cols, rows = cli.read_interval_by_pattern("w?q.x", tw, tw)
        assert [r[1] for r in rows] == names
        assert cli.read_interval_by_pattern("x' OR '1'='1", tw, tw)[1] == []


def test_subscribe_binary_push_matches_json(served):
    eng, srv = served
    with _cli(srv) as cli:
        jrows = cli.subscribe(ids=[0, 1], flag=16)
        brows = cli.subscribe(ids=[0, 1], flag=16, encoding="bin")
        assert sorted(jrows) == sorted(brows) and jrows


def test_malformed_line_answers_and_connection_survives(served):
    _, srv = served
    with _cli(srv) as cli:
        cli._sock.sendall(b"this is not json\n")
        import json as _json

        resp = _json.loads(cli._rfile.readline())
        assert resp["status"] == "err"
        assert cli.ping()  # connection still serves


def test_unknown_op_answers_with_error(served):
    _, srv = served
    with _cli(srv) as cli:
        with pytest.raises(RuntimeError, match="unknown op"):
            cli._call("frobnicate")
        assert cli.ping()  # connection survives the error


def test_concurrent_clients_get_consistent_answers(served):
    eng, srv = served
    expect = sorted(
        tuple(r) for r in eng.read_interval(None, T0, T0 + 5 * HOUR).collect()
    )
    errors: list[Exception] = []

    def worker() -> None:
        try:
            with _cli(srv) as cli:
                for _ in range(3):
                    _, rows = cli.read_interval(None, T0, T0 + 5 * HOUR)
                    assert sorted(rows) == expect
        except Exception as ex:  # surfaced below
            errors.append(ex)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors


def test_open_ended_subscribe_rejected(served):
    """Round-10 ADVICE fix: the line protocol is request/response per
    connection, so an open-ended push stream (available_now=false) is
    refused instead of silently leaking a running streaming query whose
    pushes would interleave into later replies."""
    _, srv = served
    with _cli(srv) as cli:
        with pytest.raises(RuntimeError, match="available_now"):
            cli._call("subscribe", available_now=False)
        assert cli.ping()  # connection survives the refusal


def test_non_loopback_bind_refused(served):
    """Round-10 ADVICE fix: the protocol is unauthenticated and exposes
    mutating verbs (erase_old, compact, append) — binding a routable
    interface must be an explicit opt-in, never a silent default."""
    eng, _ = served
    with pytest.raises(ValueError, match="allow_remote"):
        TsServer(eng, host="0.0.0.0")
    # "" is INADDR_ANY to Python sockets — a wildcard bind, not loopback
    # (round-11 ADVICE fix: it must hit the same guard, not slip past it)
    with pytest.raises(ValueError, match="allow_remote"):
        TsServer(eng, host="")


def test_request_jobs_attributed_to_their_own_request(served, monkeypatch):
    """Each request runs under its own job group, cleared when it ends.
    A caller that tags a verb with a group of its own and never clears
    it (as a tracer does) must not see the next request's jobs: a
    ``compact`` after a read adds no job to the read's group. A second
    file in the first day gives that ``compact`` a day to rewrite."""
    eng, srv = served
    eng.append([(0, T0 + HOUR, 0.5, 1)])
    sc = eng.spark.sparkContext
    st = sc.statusTracker()
    read = eng.read_interval

    def tagged_read(*args, **kwargs):
        sc.setJobGroup("test-net-traced-read", "traced read")
        return read(*args, **kwargs)

    monkeypatch.setattr(eng, "read_interval", tagged_read)
    with _cli(srv) as cli:
        cli.ping()  # qid 1
        _, rows = cli.read_interval([0, 1], T0, T0 + 5 * HOUR)  # qid 2
        assert rows
        read_jobs = set(st.getJobIdsForGroup("test-net-traced-read"))
        assert read_jobs  # the read's collect ran under the caller's group
        compact_before = set(st.getJobIdsForGroup("dariadb:compact:3"))
        cli.compact()  # qid 3
    assert set(st.getJobIdsForGroup("test-net-traced-read")) == read_jobs
    compact_jobs = set(st.getJobIdsForGroup("dariadb:compact:3")) - compact_before
    assert compact_jobs
    assert not compact_jobs & read_jobs


@pytest.fixture(scope="module", params=["parquet", "log"])
def served_backend(spark, tmp_path_factory, request):
    eng = TsEngine.open(
        spark,
        str(tmp_path_factory.mktemp("net_seg") / "store"),
        backend=request.param,
    )
    srv = TsServer(eng).start()
    yield eng, srv
    srv.stop()


@pytest.mark.parametrize("binary", [False, True], ids=["json", "bin"])
def test_wire_append_runs_no_job_and_writes_one_file_per_day(
    served_backend, binary
):
    """An append in either encoding is written as one parquet segment
    per touched day, without a Spark job in its request's job group."""
    eng, srv = served_backend
    sc = eng.spark.sparkContext
    sid = 20 + binary
    # the last hour of one day and the first of the next
    rows = [(sid, T0 + k * HOUR, float(k), 1) for k in (-1, 0, 1)]

    def files() -> set:
        return {str(p) for p in eng.store.data_dir.glob("p_date=*/*.parquet")}

    before = files()
    with _cli(srv) as cli:
        # every client numbers its requests from 1, so the group may
        # already hold an earlier client's jobs
        group = f"dariadb:append:{cli._qid + 1}"
        jobs_before = set(sc.statusTracker().getJobIdsForGroup(group))
        assert cli.append(rows, binary=binary) == len(rows)
        assert cli._qid == int(group.rsplit(":", 1)[1])
        _, got = cli.read_interval([sid], T0 - HOUR, T0 + HOUR)
    assert got == rows
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(group)) == jobs_before
    added = sorted(p.rsplit("p_date=", 1)[1].split("/")[0]
                   for p in files() - before)
    assert added == ["2023-12-31", "2024-01-01"]
