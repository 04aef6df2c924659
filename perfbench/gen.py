"""Seeded input generators for the three workloads.

Everything is written to disk before the timed loop, so the engine only
ever receives generated files. The same seed gives the same bytes.

* ``ticks``      Bronze JSON docs, one file per 10-minute tick (FIXTURES §2),
                 and a Silver sink pre-filled with earlier ticks.
* ``silver``     a date-partitioned Silver parquet table (FIXTURES §3).
* ``warehouse``  TPC-H-shaped parquet tables plus ``events``, ``documents``
                 and ``embeddings``, with the schemas of the engine's
                 synthetic testdata.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_FMT = "%Y-%m-%d %H:%M:%S"
WIND_DIRS = ["N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE",
             "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW"]
# skewed so the hourly mode is meaningful
WIND_P = np.array([6, 3, 8, 3, 5, 2, 4, 2, 3, 2, 7, 2, 3, 2, 4, 2], float)
WIND_P /= WIND_P.sum()
CONDITIONS = ["Sunny", "Partly cloudy", "Cloudy", "Overcast", "Mist",
              "Light rain", "Moderate rain", "Heavy rain"]
STATION_BASE = 3_000_000
HISTORY_BASE = 3_900_000


def _epoch(seed: int) -> dt.datetime:
    """Seed-dependent start day, always at midnight."""
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=seed % 300)


def _stations(n: int, rng: np.random.Generator):
    lat = np.round(rng.uniform(-7.7, -6.1, n), 4)
    lon = np.round(rng.uniform(106.5, 108.6, n), 4)
    return [
        (STATION_BASE + i, f"Station {i:04d}", float(lat[i]), float(lon[i]))
        for i in range(n)
    ]


def _measures(rng: np.random.Generator, n: int) -> dict:
    temp = np.round(rng.uniform(20, 36, n), 1)
    rain = rng.random(n) < 0.2
    return {
        "temp_c": temp,
        "feelslike_c": np.round(temp + rng.uniform(-4, 4, n), 1),
        "humidity": rng.integers(40, 101, n),
        "wind_kph": np.round(rng.uniform(0, 40, n), 1),
        "wind_dir": rng.choice(len(WIND_DIRS), n, p=WIND_P),
        "wind_degree": rng.integers(0, 361, n),
        "precip_mm": np.where(rain, np.round(rng.uniform(0.1, 30, n), 1), 0.0),
        "is_day": rng.integers(0, 2, n),
        "uv": np.round(rng.uniform(0, 11, n), 1),
        "cloud": rng.integers(0, 101, n),
        "condition": rng.integers(0, len(CONDITIONS), n),
    }


# --------------------------------------------------------------------- ticks


def write_ticks(
    out_dir: str, seed: int, n_ticks: int, stations: int, first_tick: int = 0
) -> dict:
    """Write ``n_ticks`` Bronze tick files (one JSON array each) and return
    the oracle for the Silver sink they should produce:
    ``{"files": [...], "rows": int, "keys": {(loc, ts): min _id}}``.

    Per tick: one ``current`` doc per station, about 2% extra docs that
    duplicate a station's ``(location.id, dag_times.end)`` (the survivor is
    whichever copy has the lower ``_id``), about 0.5% docs with a null
    ``location.id``, and a few ``history`` docs stamped by their logical
    date. ``_id`` grows with the tick, so across ticks the first-landed
    copy of a key is also its lowest ``_id``.
    """
    rng = np.random.default_rng([seed, 1, first_tick])
    st = _stations(stations, rng)
    t0 = _epoch(seed)
    os.makedirs(out_dir, exist_ok=True)
    files, keys, rows = [], {}, 0
    n_dup = max(1, round(stations * 0.02))
    n_null = max(1, round(stations * 0.005))
    n_hist = 3
    for k in range(first_tick, first_tick + n_ticks):
        end = t0 + dt.timedelta(minutes=10 * k)
        end_s = end.strftime(TS_FMT)
        n = stations + n_dup + n_null + n_hist
        m = _measures(rng, n)
        # row j's station: every station once, then duplicates, nulls, history
        loc_idx = np.concatenate([
            np.arange(stations),
            rng.choice(stations, n_dup, replace=False),
        ])
        order = rng.permutation(n)  # _id rank of each row, shuffled
        docs = []
        for j in range(n):
            _id = f"{k:08x}{order[j]:08x}"
            method, logical = "current", end_s
            if j < stations + n_dup:
                sid, name, lat, lon = st[loc_idx[j]]
            elif j < stations + n_dup + n_null:
                sid, name, lat, lon = None, "unknown", -6.9, 107.6
            else:
                h = j - (stations + n_dup + n_null)
                sid, name, lat, lon = HISTORY_BASE + k * n_hist + h, "backfill", -6.9, 107.6
                method = "history"
                logical = (end - dt.timedelta(days=1)).replace(minute=0).strftime(TS_FMT)
            docs.append({
                "_id": _id,
                "created_at": end_s,
                "dag_times": {
                    "start": (end - dt.timedelta(minutes=10)).strftime(TS_FMT),
                    "end": end_s,
                    "logical_date": logical,
                },
                "fetch_method": method,
                "location": {"id": sid, "name": name, "lat": lat, "lon": lon},
                "current": {
                    "time": logical if method == "history" else None,
                    "temp_c": float(m["temp_c"][j]),
                    "feelslike_c": float(m["feelslike_c"][j]),
                    "humidity": int(m["humidity"][j]),
                    "wind_kph": float(m["wind_kph"][j]),
                    "wind_dir": WIND_DIRS[m["wind_dir"][j]],
                    "wind_degree": int(m["wind_degree"][j]),
                    "precip_mm": float(m["precip_mm"][j]),
                    "is_day": int(m["is_day"][j]),
                    "uv": float(m["uv"][j]),
                    "cloud": int(m["cloud"][j]),
                    "condition": {"text": CONDITIONS[m["condition"][j]]},
                },
            })
            if sid is not None:
                key = (sid, logical)
                prev = keys.get(key)
                if prev is None or _id < prev:
                    keys[key] = _id
        path = os.path.join(out_dir, f"tick_{k:06d}.json")
        with open(path, "w") as fh:
            json.dump(docs, fh, separators=(",", ":"))
        files.append(path)
        rows += n
    return {"files": files, "rows": rows, "keys": keys}


def write_seed_sink(out_dir: str, seed: int, n_files: int, stations: int) -> int:
    """Write a Silver sink that already holds ``n_files`` earlier ticks,
    one parquet file each with one row per station (deduplicated, no null
    keys, as the engine's keyed append leaves them). The ticks end before
    the first Bronze tick, so no key repeats. Returns the number of rows."""
    rng = np.random.default_rng([seed, 3])
    st = _stations(stations, rng)
    t0 = _epoch(seed)
    os.makedirs(out_dir)
    for k in range(n_files):
        end = t0 - dt.timedelta(minutes=10 * (n_files - k))
        m = _measures(rng, stations)
        cols = {
            "_id": [f"s{k:07x}{j:08x}" for j in range(stations)],
            "timestamp": [end.strftime(TS_FMT)] * stations,
            "date": [end.strftime("%Y-%m-%d")] * stations,
            "hour": [end.strftime("%H")] * stations,
            "minute": [end.strftime("%M")] * stations,
            "location_id": [s[0] for s in st], "location_name": [s[1] for s in st],
            "lat": [s[2] for s in st], "lon": [s[3] for s in st],
            **{c: m[c] for c in ("temp_c", "feelslike_c", "humidity", "wind_kph",
                                 "wind_degree", "precip_mm", "is_day", "uv", "cloud")},
            "wind_dir": [WIND_DIRS[w] for w in m["wind_dir"]],
            "condition": [CONDITIONS[c] for c in m["condition"]],
        }
        pq.write_table(pa.table({f.name: cols[f.name] for f in SINK_ARROW}, schema=SINK_ARROW),
                       os.path.join(out_dir, f"part-seed-{k:05d}.parquet"))
    return n_files * stations


# -------------------------------------------------------------------- silver

SILVER_ARROW = pa.schema([
    ("_id", pa.string()), ("timestamp", pa.string()), ("hour", pa.string()),
    ("minute", pa.string()), ("location_id", pa.int64()),
    ("location_name", pa.string()), ("lat", pa.float64()), ("lon", pa.float64()),
    ("temp_c", pa.float64()), ("feelslike_c", pa.float64()),
    ("humidity", pa.int64()), ("wind_kph", pa.float64()),
    ("wind_dir", pa.string()), ("wind_degree", pa.int64()),
    ("precip_mm", pa.float64()), ("is_day", pa.int64()), ("uv", pa.float64()),
    ("cloud", pa.int64()), ("condition", pa.string()),
])
# the Silver sink's rows: the Silver columns plus ``date`` (schemas.WEATHER_DATA)
SINK_ARROW = SILVER_ARROW.insert(2, pa.field("date", pa.string()))
NULLABLE_MEASURES = ("temp_c", "feelslike_c", "humidity", "wind_kph",
                     "wind_dir", "wind_degree", "precip_mm", "uv", "cloud")


def write_silver(out_dir: str, seed: int, stations: int, days: int) -> dict:
    """Write a Silver table partitioned by ``date`` (``date=YYYY-MM-DD``
    directories, one parquet file each): ``stations`` x ``days`` x 144
    ten-minute slots, with about 5% of slots missing, about 10% of
    station-days missing hour 23 (``full_recap`` false) and about 3% of
    station-hours whose measures are all null (sum -> 0.0, avg -> null).

    Returns ``{"dates": [...], "rows": int, "obs": {(date, loc): [row]}}``
    where each row is a dict of the Silver columns, for the recap replay.
    """
    rng = np.random.default_rng([seed, 2])
    st = _stations(stations, rng)
    t0 = _epoch(seed)
    dates, obs, total = [], {}, 0
    for d in range(days):
        day = t0 + dt.timedelta(days=d)
        date = day.strftime("%Y-%m-%d")
        dates.append(date)
        n = stations * 144
        m = _measures(rng, n)
        keep = rng.random(n) >= 0.05
        no23 = rng.random(stations) < 0.10
        null_hour = rng.random((stations, 24)) < 0.03
        cols = {f.name: [] for f in SILVER_ARROW}
        for s in range(stations):
            sid, name, lat, lon = st[s]
            rows = []
            for slot in range(144):
                j = s * 144 + slot
                hh, mm = divmod(slot, 6)
                if not keep[j] or (no23[s] and hh == 23):
                    continue
                ts = day + dt.timedelta(minutes=10 * slot)
                row = {
                    "_id": f"{d:04x}{j:08x}", "timestamp": ts.strftime(TS_FMT),
                    "hour": f"{hh:02d}", "minute": f"{mm * 10:02d}",
                    "location_id": sid, "location_name": name, "lat": lat, "lon": lon,
                    "temp_c": float(m["temp_c"][j]),
                    "feelslike_c": float(m["feelslike_c"][j]),
                    "humidity": int(m["humidity"][j]),
                    "wind_kph": float(m["wind_kph"][j]),
                    "wind_dir": WIND_DIRS[m["wind_dir"][j]],
                    "wind_degree": int(m["wind_degree"][j]),
                    "precip_mm": float(m["precip_mm"][j]),
                    "is_day": int(m["is_day"][j]), "uv": float(m["uv"][j]),
                    "cloud": int(m["cloud"][j]),
                    "condition": CONDITIONS[m["condition"][j]],
                }
                if null_hour[s, hh]:
                    for c in NULLABLE_MEASURES:
                        row[c] = None
                rows.append(row)
                for c in cols:
                    cols[c].append(row[c])
            obs[(date, sid)] = rows
            total += len(rows)
        part = os.path.join(out_dir, f"date={date}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(pa.table(cols, schema=SILVER_ARROW),
                       os.path.join(part, "part-0.parquet"))
    return {"dates": dates, "rows": total, "obs": obs}


# ----------------------------------------------------------------- warehouse

_WORDS = ("the a data spark query table row column batch stream window join "
          "merge sort hash scan filter group agg order line part key value "
          "customer fast slow big small vector").split()
_TS_US = pa.timestamp("us")


def _dates(rng, n, lo: str, hi: str) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(a, b + 1, n)
    return pa.array(days * 86_400_000_000, _TS_US)


def write_warehouse(out_dir: str, seed: int, scale: float) -> dict:
    """TPC-H-shaped tables at ``scale`` (1.0 = 6M lineitems), written as one
    parquet file per table. Returns ``{"rows": {table: n}}``."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(50_000 * scale)
    n_emb = max(200, int(20_000 * scale))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n_li // 30), n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                + np.datetime64("2024-01-01", "us").astype(np.int64),
                _TS_US,
            ),
            "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"rows": {k: t.num_rows for k, t in tables.items()}}


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words docs; about 5% exact copies and 5% near-copies (a few
    words swapped) of earlier docs, so both dedup tiers find work."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(0, 0.6, (n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
