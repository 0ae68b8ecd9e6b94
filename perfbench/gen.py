"""Seeded inputs for the benchmark, and the in-memory model that checks answers.

Everything the program under test receives is made here from ``--seed``:
the telemetry warehouse contents, the request streams of every client, the
targets and contents of every writer op, and the analytic tables. The same
seed gives the same inputs. The model keeps its own copy of every
acknowledged write, so each serving answer can be checked against it row
for row.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Start of the generated telemetry and the spacing of points in a series.
T0 = dt.datetime(2024, 3, 1)
STEP_S = 300
WINDOW_S = 2 * 3600
DAY_S = 24 * 3600
#: The reference engine's fixed row width (bytes), the base of ``space_amp``.
ROW_SIZE = 105
FAULT_THRESHOLD = 0.95

_SENSORS = (
    "Sa_FanSpeed", "SaTempSensor", "MaTempSensor", "RaTempSensor",
    "OaTempSensor", "DuctStaticPress", "HeatValveCmd", "CoolValveCmd",
)

#: The writer's op kinds, repeated: per 20 ops, 60 % 200-row batches, 10 %
#: single-row POSTs, 15 % single-row corrections, 15 % fault detection. The
#: order is fixed, so runs under different seeds do the same work; the seed
#: sets every op's targets and contents. The first four cover every kind: a
#: traced run runs them all, and a 20 s window the first two.
WRITER_CYCLE = (
    "ingest", "update", "fdd", "post", "ingest", "ingest", "ingest", "fdd", "ingest", "update",
    "ingest", "ingest", "post", "ingest", "fdd", "ingest", "update", "ingest", "ingest", "ingest",
)


def ts_str(seconds: int) -> str:
    return (T0 + dt.timedelta(seconds=int(seconds))).strftime("%Y-%m-%dT%H:%M:%SZ")


class TelemetryModel:
    """The generated warehouse plus every acknowledged write since.

    Row identity is ``(series, ts_raw)``: the generator never writes the
    same key twice, so an update or flag names exactly one row. Writes are
    versioned by op index, so a read that raced a write can be checked
    against every state it may legally have seen.
    """

    def __init__(self, seed: int, n_series: int | None = None, points: int = 500):
        rng = np.random.default_rng([seed, 1])
        self.n_series = int(rng.integers(190, 211)) if n_series is None else n_series
        self.points = points
        s = self.n_series
        # every fourth series is named by a 36-char UUID: stored ids are
        # truncated to 32 chars, and requests carry the full id
        self.full_ids = [
            str(uuid.UUID(bytes=rng.bytes(16), version=4)) if i % 4 == 0
            else f"site{i % 7:02d}.ahu{i % 13:02d}.pt{i:05d}"
            for i in range(s)
        ]
        self.ids = [x[:32] for x in self.full_ids]
        self.sensor = [_SENSORS[i % len(_SENSORS)] for i in range(s)]
        # uniform [0, 1) at 4 dp: about 5 % of values lie above 0.95
        self.values = np.round(rng.random((s, points)), 4)
        self.base_ts = [ts_str(k * STEP_S) for k in range(points)]
        self.span_s = (points - 1) * STEP_S
        zipf_s = float(rng.uniform(1.05, 1.25))
        rank = rng.permutation(s)
        w = 1.0 / (rank + 1.0) ** zipf_s
        self.popularity = w / w.sum()
        self.hot = [int(i) for i in np.argsort(rank)[:5]]
        self._lock = threading.Lock()
        # per series: writes as (op index, kind, payload)
        self._effects: dict[int, list[tuple[int, str, tuple]]] = {}
        self._next_ts = [self.span_s + STEP_S] * s
        self.acked = 0
        self.pending: int | None = None
        self.live_rows = s * points

    # ---------------------------------------------------------- inputs

    def write_base(self, out_dir: str, files: int = 4) -> None:
        """Write the ingest payload as ``files`` Parquet files, each
        holding whole series, so ingest order within a series is ts order."""
        os.makedirs(out_dir, exist_ok=True)
        bounds = np.linspace(0, self.n_series, files + 1).astype(int)
        p = self.points
        for f in range(files):
            lo, hi = bounds[f], bounds[f + 1]
            n = (hi - lo) * p
            series = np.repeat(np.arange(lo, hi, dtype=np.int32), p)
            table = pa.table({
                "sensor_name": pa.DictionaryArray.from_arrays(series, self.sensor),
                "timestamp": pa.DictionaryArray.from_arrays(
                    np.tile(np.arange(p, dtype=np.int32), hi - lo), self.base_ts),
                "value": pa.array(self.values[lo:hi].ravel()),
                "fc1_flag": pa.nulls(n, pa.int8()),
                "timeseries_id": pa.DictionaryArray.from_arrays(series, self.full_ids),
            })
            pq.write_table(table, os.path.join(out_dir, f"part-{f}.parquet"))

    def pick_series(self, rng: np.random.Generator) -> int:
        return int(rng.choice(self.n_series, p=self.popularity))

    def read_window(self, rng: np.random.Generator) -> tuple[str, str]:
        """A 2 h window, 80 % of the time inside the latest day."""
        lo = max(0, self.span_s - DAY_S) if rng.random() < 0.8 else 0
        start = int(rng.integers(lo, self.span_s - WINDOW_S)) // 60 * 60
        return ts_str(start), ts_str(start + WINDOW_S)

    # ---------------------------------------------------------- writes

    def next_point(self, sid: int, rng: np.random.Generator) -> dict:
        """A new point for ``sid`` at its next free timestamp (reserved
        now, so planned writes never collide)."""
        t = self._next_ts[sid]
        self._next_ts[sid] = t + STEP_S
        return {
            "sensor_name": self.sensor[sid],
            "timestamp": ts_str(t),
            "value": float(np.round(rng.random(), 4)),
            "fc1_flag": None,
            "timeseries_id": self.full_ids[sid],
        }

    def frontier(self, sid: int) -> int:
        """Seconds from ``T0`` of the series' next free timestamp."""
        return self._next_ts[sid]

    def begin(self, effects: list[tuple[int, str, tuple]]) -> int:
        """Register a write about to be sent; returns its op index."""
        with self._lock:
            idx = self.acked + 1
            assert self.pending is None, "one writer at a time"
            self.pending = idx
            for sid, kind, payload in effects:
                self._effects.setdefault(sid, []).append((idx, kind, payload))
            return idx

    def ack(self, idx: int, rows_added: int = 0) -> None:
        with self._lock:
            self.acked = idx
            self.pending = None
            self.live_rows += rows_added

    def abort(self, idx: int) -> None:
        """Drop a write that failed: it must not be expected by readers."""
        with self._lock:
            for effs in self._effects.values():
                effs[:] = [e for e in effs if e[0] != idx]
            self.pending = None

    def rows(self, sid: int, upto: int) -> list[list]:
        """Rows of one series in ingest order, with writes up to op ``upto``:
        each row is ``[sensor_name, ts_raw, value, fc1_flag, id]``."""
        out = [
            [self.sensor[sid], self.base_ts[k], float(self.values[sid, k]), None, self.ids[sid]]
            for k in range(self.points)
        ]
        index = {r[1]: r for r in out}
        with self._lock:
            effects = [e for e in self._effects.get(sid, ()) if e[0] <= upto]
        for _, kind, payload in effects:
            if kind == "append":
                row = list(payload)
                out.append(row)
                index[row[1]] = row
            elif kind == "set":
                ts, value = payload
                index[ts][2], index[ts][3] = value, None
            elif kind == "flag":
                for ts in payload:
                    index[ts][3] = 1
        return out

    def expected_window(self, sid: int, start: str, end: str, upto: int) -> list[tuple]:
        return [tuple(r) for r in self.rows(sid, upto) if start <= r[1] <= end]

    def expected_latest(self, sid: int, upto: int) -> tuple:
        r = max(self.rows(sid, upto), key=lambda r: r[1])
        return (r[4], r[0], r[1], r[2], r[3])

    def versions_touching(self, sid: int, lo: int, hi: int) -> list[int]:
        """Op indices in ``[lo, hi]`` (and a pending op) that changed ``sid``:
        the states a read spanning that interval may have observed."""
        with self._lock:
            ops = {e[0] for e in self._effects.get(sid, ())}
            pending = self.pending
        cands = [lo] + sorted(v for v in ops if lo < v <= hi)
        if pending is not None and pending in ops:
            cands.append(pending)
        return cands

    def last_day_ts(self, sid: int) -> list[str]:
        """Timestamps of the series' rows in its latest day."""
        with self._lock:
            appended = [e[2][1] for e in self._effects.get(sid, ()) if e[1] == "append"]
        ts = self.base_ts[-(DAY_S // STEP_S):] + appended
        return ts[-(DAY_S // STEP_S):]


def row_tuple(d: dict) -> tuple:
    """A served JSON row as the model's tuple."""
    return (d["sensor_name"], d["timestamp"], d["value"], d["fc1_flag"], d["timeseries_id"])


def latest_tuple(d: dict) -> tuple:
    return (d["timeseries_id"], d["sensor_name"], d["timestamp"], d["value"], d["fc1_flag"])


# ---------------------------------------------------------------- analytics

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _days(rng, n, first: str, last: str) -> np.ndarray:
    a, b = np.datetime64(first, "D"), np.datetime64(last, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def write_analytic_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-shaped ``customer``/``orders``/``lineitem`` and an ``events``
    stream with the schemas the declared queries read, ``sf`` scaling the
    row counts as TPC-H does (sf 0.1: 15 k customers, 150 k orders, about
    600 k line items, 100 k events). Returns row counts per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_ev = int(150_000 * sf), int(1_500_000 * sf), int(1_000_000 * sf)

    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    # 1-7 lines per order, and 1 % bulk orders of 8-14 heavy lines so the
    # large-volume query (sum quantity > 300) has work to do
    bulk = rng.random(n_ord) < 0.01
    lines = np.where(bulk, rng.integers(8, 15, n_ord), rng.integers(1, 8, n_ord))
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    qty = np.where(
        np.repeat(bulk, lines), rng.integers(30, 51, n_li), rng.integers(1, 51, n_li)
    ).astype(np.float64)
    linenum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), n_li)),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n_li)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 104_999.99)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04")),
    })
    # half the events fall in the orders' span, from every customer, so the
    # as-of joins find an earlier event for most orders; the other half is a
    # dense month of 2024 from a tenth of the users, for the window queries
    n_old = n_ev // 2
    old_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    span_us = np.array([old_days * 86_400_000_000, 30 * 86_400_000_000])
    part = np.arange(n_ev) >= n_old
    ev_us = np.concatenate([rng.choice(span_us[0], n_old, replace=False),
                            rng.choice(span_us[1], n_ev - n_old, replace=False)])
    ev_ts = np.where(part, np.datetime64("2024-01-01", "us"), np.datetime64("1995-01-01", "us")) \
        + ev_us.astype("timedelta64[us]")
    users = np.where(part, rng.integers(0, max(1, n_cust // 10), n_ev), rng.integers(0, n_cust, n_ev))
    order = np.argsort(ev_ts, kind="stable")
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts[order]),
        "user_id": pa.array(users[order]),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    })
    tables = {"customer": cust, "orders": orders, "lineitem": lineitem, "events": events}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
