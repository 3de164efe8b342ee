"""NumPy model of every row a workload generated, appended or erased.

Each store-backed response is checked against this model: as-of rows
(with the ``_NO_DATA`` filler for ids that have no point), interval row
multisets, stat/calc/downsample values, and read-your-writes after each
acknowledged append.

Tolerances: ids, times, flags, counts and min/max are compared exactly;
values that the engine rounds (sums, means, percentiles) may differ by
``ABS_TOL`` + ``REL_TOL`` x |expected|, which covers a different summation
order and a rounding tie landing on the other side.
"""

from __future__ import annotations

import numpy as np

NO_DATA_FLAG = 0xFFFFFFFF
ABS_TOL = 2e-4
REL_TOL = 1e-9
CALC_NAMES = ("average", "median", "percentile99")


def close(got: float, want: float) -> bool:
    return abs(got - want) <= ABS_TOL + REL_TOL * abs(want)


class StoreModel:
    """Rows held as column arrays; sorted by (id, time) on demand."""

    def __init__(self, ids, times, values, flags):
        self._cols = [np.asarray(c) for c in (ids, times, values, flags)]
        self._sorted = False
        self._sort()

    # -- mutations ----------------------------------------------------------
    def append(self, ids, times, values, flags) -> None:
        self._cols = [
            np.concatenate([a, np.asarray(b, dtype=a.dtype)])
            for a, b in zip(self._cols, (ids, times, values, flags))
        ]
        self._sorted = False

    def erase_old(self, cutoff_ms: int) -> None:
        keep = self._cols[1] >= cutoff_ms
        self._cols = [c[keep] for c in self._cols]

    @property
    def rows(self) -> int:
        return len(self._cols[0])

    def _sort(self) -> None:
        if not self._sorted:
            order = np.lexsort((self._cols[1], self._cols[0]))
            self._cols = [c[order] for c in self._cols]
            self._sorted = True

    def _series(self, sid: int, lo: int | None = None, hi: int | None = None):
        """(times, values, flags) of one series, optionally within [lo, hi]."""
        self._sort()
        ids, times, values, flags = self._cols
        a = np.searchsorted(ids, sid, "left")
        b = np.searchsorted(ids, sid, "right")
        t = times[a:b]
        i = 0 if lo is None else np.searchsorted(t, lo, "left")
        j = len(t) if hi is None else np.searchsorted(t, hi, "right")
        return t[i:j], values[a:b][i:j], flags[a:b][i:j]

    # -- expected answers ---------------------------------------------------
    def read_interval(self, ids, lo, hi) -> list[tuple]:
        out = []
        for sid in sorted(set(ids)):
            t, v, f = self._series(sid, lo, hi)
            out.extend(zip([sid] * len(t), t.tolist(), v.tolist(), f.tolist()))
        return out

    def read_time_point(self, ids, tp) -> list[tuple]:
        out = []
        for sid in sorted(set(ids)):
            t, v, f = self._series(sid, None, tp)
            if len(t):
                out.append((sid, int(t[-1]), float(v[-1]), int(f[-1])))
            else:
                out.append((sid, tp, 0.0, NO_DATA_FLAG))
        return out

    def current_value(self, ids) -> list[tuple]:
        out = []
        for sid in sorted(set(ids)):
            t, v, f = self._series(sid)
            if len(t):
                out.append((sid, int(t[-1]), float(v[-1]), int(f[-1])))
        return out

    def stat(self, ids, lo, hi) -> dict[int, dict]:
        out = {}
        for sid in sorted(set(ids)):
            t, v, _ = self._series(sid, lo, hi)
            if len(t):
                s = float(v.sum())
                out[sid] = {
                    "cnt": len(t), "min_time": int(t[0]),
                    "max_time": int(t[-1]), "min_value": float(v.min()),
                    "max_value": float(v.max()), "sum_value": s,
                    "mean_value": s / len(t),
                }
        return out

    def calc(self, ids, lo, hi) -> dict[int, dict]:
        out = {}
        for sid in sorted(set(ids)):
            _, v, _ = self._series(sid, lo, hi)
            if len(v):
                out[sid] = {
                    "average": float(v.sum()) / len(v),
                    "median": float(np.percentile(v, 50)),
                    "percentile99": float(np.percentile(v, 99)),
                }
        return out

    def downsample(self, ids, lo, hi, width_ms) -> dict[tuple, dict]:
        out = {}
        for sid in sorted(set(ids)):
            t, v, _ = self._series(sid, lo, hi)
            buckets = t - t % width_ms
            for b in np.unique(buckets):
                vb = v[buckets == b]
                s = float(vb.sum())
                out[(sid, int(b))] = {
                    "cnt": len(vb), "avg_value": s / len(vb),
                    "min_value": float(vb.min()), "max_value": float(vb.max()),
                    "sum_value": s,
                }
        return out


# -- response checks (each returns None when right, else a reason) ----------

def _exact_rows(got: list[tuple], want: list[tuple]) -> str | None:
    got = [tuple(r) for r in got]
    if got != want:
        return f"rows differ: got {len(got)} want {len(want)}"
    return None


def _keyed(cols, rows, key_cols, want: dict, exact: set) -> str | None:
    idx = {c: i for i, c in enumerate(cols)}
    if len(rows) != len(want):
        return f"row count: got {len(rows)} want {len(want)}"
    for r in rows:
        key = tuple(r[idx[k]] for k in key_cols)
        exp = want.get(key[0] if len(key) == 1 else key)
        if exp is None:
            return f"unexpected key {key}"
        for c, w in exp.items():
            g = r[idx[c]]
            if (g != w) if c in exact else not close(g, w):
                return f"{key} {c}: got {g} want {w}"
    return None


def check(model: StoreModel, verb: str, p: dict, cols, rows) -> str | None:
    if verb == "read_interval":
        return _exact_rows(rows, model.read_interval(p["ids"], p["from_ms"], p["to_ms"]))
    if verb == "read_time_point":
        return _exact_rows(rows, model.read_time_point(p["ids"], p["time_point_ms"]))
    if verb == "current_value":
        return _exact_rows(rows, model.current_value(p["ids"]))
    if verb == "stat":
        return _keyed(
            cols, rows, ["id"], model.stat(p["ids"], p["from_ms"], p["to_ms"]),
            {"cnt", "min_time", "max_time", "min_value", "max_value"},
        )
    if verb == "calc":
        return _keyed(
            cols, rows, ["id"], model.calc(p["ids"], p["from_ms"], p["to_ms"]),
            set(),
        )
    if verb == "downsample":
        return _keyed(
            cols, rows, ["id", "bucket_ms"],
            model.downsample(p["ids"], p["from_ms"], p["to_ms"], p["width_ms"]),
            {"cnt", "min_value", "max_value"},
        )
    if verb == "read_interval_by_pattern":
        ids = p["ids"]
        want = [
            (sid, p["names"][sid], t, v, f)
            for sid, t, v, f in model.read_interval(ids, p["from_ms"], p["to_ms"])
        ]
        return _exact_rows(rows, want)
    raise ValueError(f"no check for {verb!r}")
