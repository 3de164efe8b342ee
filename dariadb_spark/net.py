"""S6 — network source/sink: the reference's client/server query
protocol (libdariadb-net: dariadb::net server exposing engine verbs to
remote clients over TCP) re-expressed over :class:`TsEngine`.

Protocol: newline-delimited JSON over TCP. Request
``{"op": <verb>, "params": {...}, "qid": <int>}`` → response
``{"qid": ..., "status": "ok", "columns": [...], "rows": [[...], ...]}``
(or ``{"status": "err", "error": "..."}``). ``subscribe`` is the push
verb: the server drains the store's stream through the engine's
subscription and writes one ``{"push": true, "rows": ...}`` message per
micro-batch before the final ``{"status": "ok", "done": true}`` — the
shape of the reference's per-client subscription callbacks.

Scale note, stated plainly: this server executes engine verbs on the
driver's SparkSession and collects RESULT rows to the socket — the
query-endpoint role the reference's net server plays (clients receive
MeasArray results, never partitions). Interval reads accept a ``limit``
to bound result transfer. For cluster-grade remote access the platform
path is Spark Connect / Thrift JDBC (the server jar ships with this
Spark; the Python client's grpcio dependency is absent in this
environment — SCALE.md §6), and this module is the
reference-parity façade in front of the same plans.

Every verb here round-trips through the SAME operators the driver
hash-checks (read_interval, read_time_point, current_value, stat,
calc, downsample) — the protocol adds transport, never semantics
(pinned by tests/test_net.py equality against direct engine calls).

Binary Meas encoding (``encoding="bin"``): the reference protocol
shipped PACKED Meas arrays, not text — measurement-shaped results
(columns exactly ``id,time,value,flag``) and appends can opt into
base64-wrapped column-major int64/float64 buffers inside the same JSON
envelope. It removes the JSON row tax from the wire path while keeping
one framing for every verb. Appends of either encoding run no Spark job:
the store writes the rows as one parquet segment per day, and a binary
append's decoded buffers become that segment's columns without a copy
(``model.meas_table``).
"""

from __future__ import annotations

import base64
import json
import socket
import socketserver
import threading
from typing import Any

from dariadb_spark.engine import TsEngine
from dariadb_spark.model import meas_table

_MEAS_COLS = ["id", "time", "value", "flag"]


def _pack_meas(ids, times, values, flags) -> str:
    """Column-major packed buffers (3×int64 + 1×float64), base64."""
    import numpy as np

    buf = (
        np.asarray(ids, dtype="<i8").tobytes()
        + np.asarray(times, dtype="<i8").tobytes()
        + np.asarray(values, dtype="<f8").tobytes()
        + np.asarray(flags, dtype="<i8").tobytes()
    )
    return base64.b64encode(buf).decode()


def _unpack_meas(b64: str, n: int):
    import numpy as np

    raw = base64.b64decode(b64)
    assert len(raw) == 32 * n, (len(raw), n)
    ids = np.frombuffer(raw, dtype="<i8", count=n, offset=0)
    times = np.frombuffer(raw, dtype="<i8", count=n, offset=8 * n)
    values = np.frombuffer(raw, dtype="<f8", count=n, offset=16 * n)
    flags = np.frombuffer(raw, dtype="<i8", count=n, offset=24 * n)
    return ids, times, values, flags

#: verbs that return a DataFrame collected to (columns, rows)
_FRAME_VERBS = {
    "read_interval": lambda eng, p: eng.read_interval(
        p.get("ids"), p["from_ms"], p["to_ms"], p.get("flag", 0)
    ),
    "read_time_point": lambda eng, p: eng.read_time_point(
        p["ids"], p["time_point_ms"], p.get("flag", 0)
    ),
    "current_value": lambda eng, p: eng.current_value(
        p.get("ids"), p.get("flag", 0)
    ),
    "min_max_time": lambda eng, p: eng.min_max_time(p.get("ids")),
    "stat": lambda eng, p: eng.stat(
        p.get("ids"), p["from_ms"], p["to_ms"], p.get("flag", 0)
    ),
    "calc": lambda eng, p: eng.calc(
        p["names"], p.get("ids"), p["from_ms"], p["to_ms"], p.get("flag", 0)
    ),
    "downsample": lambda eng, p: eng.downsample(
        p["interval"],
        p.get("ids"),
        p.get("from_ms"),
        p.get("to_ms"),
        p.get("flag", 0),
    ),
    "read_interval_by_pattern": lambda eng, p: eng.read_interval_by_pattern(
        p["pattern"], p["from_ms"], p["to_ms"], p.get("flag", 0)
    ),
    "scheme_all": lambda eng, p: eng.scheme.to_df().orderBy("id"),
}


def _frame_payload(
    df, limit: int | None, encoding: str | None = None
) -> dict[str, Any]:
    if limit is not None:
        df = df.limit(int(limit))
    cols = list(df.columns)
    if encoding == "bin" and cols == _MEAS_COLS:
        # Arrow off the JVM, packed buffers on the wire — the
        # reference's MeasArray shape; JSON rows only for non-Meas
        # frames (where the generic envelope is the point)
        pdf = df.toPandas()
        return {
            "columns": cols,
            "n": len(pdf),
            "bin": _pack_meas(
                pdf["id"], pdf["time"], pdf["value"], pdf["flag"]
            ),
        }
    rows = df.collect()
    return {
        "columns": cols,
        "rows": [[row[c] for c in cols] for row in rows],
    }


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # one connection, many requests
        eng: TsEngine = self.server.engine  # type: ignore[attr-defined]
        for raw in self.rfile:
            line = raw.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
                resp = self._dispatch(eng, req)
            except Exception as ex:  # protocol promise: errors answer too
                resp = {
                    "qid": self._qid(raw),
                    "status": "err",
                    "error": f"{type(ex).__name__}: {ex}",
                }
            self._send(resp)

    @staticmethod
    def _qid(raw: bytes) -> int | None:
        try:
            return json.loads(raw).get("qid")
        except Exception:
            return None

    def _send(self, obj: dict[str, Any]) -> None:
        self.wfile.write(json.dumps(obj).encode() + b"\n")
        self.wfile.flush()

    def _dispatch(self, eng: TsEngine, req: dict) -> dict[str, Any]:
        """Answer one request. Its Spark jobs run under the job group
        ``dariadb:<op>:<qid>``, cleared when the request ends, so each
        job is attributed to the request that ran it: maintenance jobs
        are never counted against the read before them. A caller that
        sets its own job group inside a verb keeps it for that verb."""
        op, qid = req.get("op"), req.get("qid")
        sc = eng.spark.sparkContext
        sc.setJobGroup(f"dariadb:{op}:{qid}", f"dariadb {op}")
        try:
            return self._serve(eng, op, req.get("params") or {}, qid)
        finally:
            sc._jsc.clearJobGroup()

    def _serve(self, eng: TsEngine, op, p: dict, qid) -> dict[str, Any]:
        if op == "ping":
            return {"qid": qid, "status": "ok", "pong": True}
        if op in _FRAME_VERBS:
            payload = _frame_payload(
                _FRAME_VERBS[op](eng, p), p.get("limit"), p.get("encoding")
            )
            return {"qid": qid, "status": "ok", **payload}
        if op == "append":
            if "rows_bin" in p:
                rows = meas_table(*_unpack_meas(p["rows_bin"], int(p["n"])))
            else:
                rows = [tuple(r) for r in p["rows"]]
            n = eng.append(rows)
            return {"qid": qid, "status": "ok", "appended": n}
        if op == "scheme_add_param":
            # Scheme::addParam over the wire — the reference protocol's
            # scheme-sync half: clients create/lookup series by name
            return {
                "qid": qid,
                "status": "ok",
                "id": eng.scheme.add_param(p["name"]),
            }
        if op == "scheme_id_by_param":
            return {
                "qid": qid,
                "status": "ok",
                "id": eng.scheme.id_by_param(p["name"]),
            }
        if op == "erase_old":
            eng.erase_old(p["cutoff_ms"])
            return {"qid": qid, "status": "ok"}
        if op == "compact":
            eng.compact()
            return {"qid": qid, "status": "ok"}
        if op == "subscribe":
            return self._subscribe(eng, p, qid)
        raise ValueError(f"unknown op {op!r}")

    def _subscribe(self, eng: TsEngine, p: dict, qid) -> dict[str, Any]:
        """Push verb: one message per micro-batch (the reference's
        per-client callback), then the done marker. available_now
        drains the store's current contents and completes. With
        ``encoding="bin"`` each push carries the packed Meas buffers
        instead of JSON rows — the reference's binary MeasArray push.

        The line protocol is strictly request/response per connection,
        so an OPEN-ENDED push stream cannot be multiplexed with further
        requests: ``available_now=false`` is rejected up front, and on
        drain timeout the streaming query is stopped BEFORE the done
        marker goes out, so no push of a timed-out query can interleave
        into a later reply."""
        if not bool(p.get("available_now", True)):
            raise ValueError(
                "subscribe over the line protocol requires "
                "available_now=true; an open-ended push stream cannot "
                "share the connection with further requests — use "
                "TsEngine.subscribe directly for long-lived callbacks"
            )
        lock = threading.Lock()  # callback thread vs handler thread
        binary = p.get("encoding") == "bin"

        def cb(batch_df, batch_id: int) -> None:
            pdf = batch_df.select("id", "time", "value", "flag").toPandas()
            if binary:
                msg = {
                    "qid": qid,
                    "push": True,
                    "batch": batch_id,
                    "n": len(pdf),
                    "bin": _pack_meas(
                        pdf["id"], pdf["time"], pdf["value"], pdf["flag"]
                    ),
                }
            else:
                # per-column tolist keeps int columns int (a 2-D
                # .values would upcast everything to float64)
                msg = {
                    "qid": qid,
                    "push": True,
                    "batch": batch_id,
                    "rows": [
                        list(t)
                        for t in zip(
                            pdf["id"].tolist(),
                            pdf["time"].tolist(),
                            pdf["value"].tolist(),
                            pdf["flag"].tolist(),
                        )
                    ],
                }
            with lock:
                self._send(msg)

        q = eng.subscribe(
            p.get("ids"),
            p.get("flag", 0),
            cb,
            available_now=True,
        )
        finished = q.awaitTermination(int(p.get("timeout_s", 600)))
        if not finished:
            # timed out: kill the query so no push can interleave into
            # a subsequent request/response cycle on this connection
            q.stop()
            raise TimeoutError(
                f"subscribe drain exceeded timeout_s="
                f"{p.get('timeout_s', 600)}; streaming query stopped"
            )
        with lock:
            return {"qid": qid, "status": "ok", "done": True}


class TsServer:
    """``dariadb::net`` server analog: serve a :class:`TsEngine` over
    TCP. ``port=0`` binds an ephemeral port (``.port`` reads it back).

    Security: the protocol has NO authentication (the reference at
    least ran a hello/login exchange — net_data.h DataKinds HELLO [M]),
    and the verb surface includes mutating/destructive ops (append,
    erase_old, compact, scheme_add_param). The server therefore refuses
    to bind a non-loopback interface unless ``allow_remote=True`` is
    passed explicitly — an accidental ``host="0.0.0.0"`` must not
    silently open unauthenticated remote erases. Callers opting in own
    the network boundary (firewall / stunnel / trusted segment).

    >>> srv = TsServer(engine); srv.start()
    >>> cli = TsClient("127.0.0.1", srv.port)
    >>> cli.read_interval([0], 0, 10**15)
    """

    # NOTE: "" is deliberately NOT loopback — to Python sockets an empty
    # host means INADDR_ANY (bind every interface), the exact accidental
    # exposure this guard exists to stop.
    _LOOPBACK = ("127.0.0.1", "localhost", "::1")

    def __init__(
        self,
        engine: TsEngine,
        host: str = "127.0.0.1",
        port: int = 0,
        allow_remote: bool = False,
    ):
        if host not in self._LOOPBACK and not allow_remote:
            raise ValueError(
                f"refusing non-loopback bind {host!r}: the protocol is "
                "unauthenticated and exposes mutating verbs; pass "
                "allow_remote=True to accept that boundary explicitly"
            )

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = _Server((host, port), _Handler)
        self._server.engine = engine  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "TsServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)


class TsClient:
    """Line-protocol client mirroring the engine verb surface. Frame
    verbs return ``(columns, rows)``; ``subscribe`` returns the pushed
    batches (list of row-lists) after the drain completes."""

    def __init__(self, host: str, port: int, timeout_s: float = 600.0):
        self._sock = socket.create_connection((host, port), timeout=timeout_s)
        self._rfile = self._sock.makefile("rb")
        self._qid = 0
        self._pushes: list[dict] = []

    # -- transport -------------------------------------------------------
    def _call(self, op: str, **params) -> dict[str, Any]:
        self._qid += 1
        msg = {"op": op, "params": params, "qid": self._qid}
        self._sock.sendall(json.dumps(msg).encode() + b"\n")
        while True:
            resp = json.loads(self._rfile.readline())
            if resp.get("push"):
                self._pushes.append(resp)
                continue
            if resp.get("status") == "err":
                raise RuntimeError(resp["error"])
            return resp

    # -- verbs -----------------------------------------------------------
    def ping(self) -> bool:
        return bool(self._call("ping").get("pong"))

    def append(self, rows, binary: bool = False) -> int:
        if binary:
            rows = list(rows)
            return self._call(
                "append",
                rows_bin=_pack_meas(
                    [r[0] for r in rows],
                    [r[1] for r in rows],
                    [r[2] for r in rows],
                    [r[3] for r in rows],
                ),
                n=len(rows),
            )["appended"]
        return self._call("append", rows=[list(r) for r in rows])["appended"]

    def _frame(self, op: str, **params):
        resp = self._call(op, **params)
        if "bin" in resp:
            ids, times, values, flags = _unpack_meas(resp["bin"], resp["n"])
            rows = [
                (int(i), int(t), float(v), int(fl))
                for i, t, v, fl in zip(ids, times, values, flags)
            ]
            return resp["columns"], rows
        return resp["columns"], [tuple(r) for r in resp["rows"]]

    def read_interval(
        self, ids, from_ms, to_ms, flag=0, limit=None, encoding=None
    ):
        return self._frame(
            "read_interval",
            ids=ids, from_ms=from_ms, to_ms=to_ms, flag=flag, limit=limit,
            encoding=encoding,
        )

    def read_time_point(self, ids, time_point_ms, flag=0, encoding=None):
        return self._frame(
            "read_time_point",
            ids=ids, time_point_ms=time_point_ms, flag=flag,
            encoding=encoding,
        )

    def current_value(self, ids=None, flag=0, encoding=None):
        return self._frame(
            "current_value", ids=ids, flag=flag, encoding=encoding
        )

    def min_max_time(self, ids=None):
        return self._frame("min_max_time", ids=ids)

    def stat(self, ids, from_ms, to_ms, flag=0):
        return self._frame(
            "stat", ids=ids, from_ms=from_ms, to_ms=to_ms, flag=flag
        )

    def calc(self, names, ids, from_ms, to_ms, flag=0):
        return self._frame(
            "calc", names=names, ids=ids, from_ms=from_ms, to_ms=to_ms,
            flag=flag,
        )

    def downsample(self, interval, ids=None, from_ms=None, to_ms=None, flag=0):
        return self._frame(
            "downsample",
            interval=interval, ids=ids, from_ms=from_ms, to_ms=to_ms,
            flag=flag,
        )

    def read_interval_by_pattern(self, pattern, from_ms, to_ms, flag=0):
        return self._frame(
            "read_interval_by_pattern",
            pattern=pattern, from_ms=from_ms, to_ms=to_ms, flag=flag,
        )

    def scheme_add_param(self, name) -> int:
        return self._call("scheme_add_param", name=name)["id"]

    def scheme_id_by_param(self, name):
        return self._call("scheme_id_by_param", name=name)["id"]

    def scheme_all(self):
        return self._frame("scheme_all")

    def erase_old(self, cutoff_ms) -> None:
        self._call("erase_old", cutoff_ms=cutoff_ms)

    def compact(self) -> None:
        self._call("compact")

    def subscribe(self, ids=None, flag=0, timeout_s=600, encoding=None):
        """Drain the store's current contents through the engine's
        subscription; returns the pushed rows in arrival order."""
        self._pushes = []
        self._call(
            "subscribe",
            ids=ids, flag=flag, available_now=True, timeout_s=timeout_s,
            encoding=encoding,
        )
        out = []
        for p in self._pushes:
            if "bin" in p:
                ids_a, times, values, flags = _unpack_meas(p["bin"], p["n"])
                out.extend(
                    (int(i), int(t), float(v), int(fl))
                    for i, t, v, fl in zip(ids_a, times, values, flags)
                )
            else:
                out.extend(tuple(r) for r in p["rows"])
        return out

    def close(self) -> None:
        self._sock.close()

    def __enter__(self) -> "TsClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
