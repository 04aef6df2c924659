"""The three workloads: what one op is, how inputs are made, and how the
outputs are checked.

Each workload drives only the engine's public functions. ``run_pass``
runs a fixed unit of work (the input size behind ``wall_s``) as a closed
loop: one caller, the next op starts when the previous one returns.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
import statistics
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import gen
from meter import between
from spans import Tracer

SETUPS = 2  # set-ups per run: the first launches the JVM, the second restarts the session
NO_TRACE = Tracer(None, enabled=False)


def _parquet_files(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


class Workload:
    name = ""

    def __init__(self, cfg: dict, seed: int, work: str, clock):
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.clock = clock
        self.input_size = ""

    def generate(self) -> None: ...
    def session_ready(self, spark) -> None: ...
    def setup_op(self, spark, i: int) -> None: ...
    def warmup(self, spark) -> None: ...

    def run_pass(self, spark, tracer, p: int) -> list[tuple]:
        """Run one pass; returns ``(op label, meter.Interval)`` per op."""
        raise NotImplementedError

    def check_pass(self, spark, p: int) -> list[str]:
        """Untimed output check of pass ``p``; returns the problems found."""
        return []

    def instrument(self, tracer) -> None:
        """Wrap internal layer calls in spans (traced runs only)."""

    def layer_metrics(self, tracer, engine, ops, self_ms) -> dict:
        """Workload-specific per-layer metrics; ``self_ms`` is each layer's
        self time per op."""
        return {}


# ---------------------------------------------------------------- ingest


class IngestTicks(Workload):
    """Bronze -> Silver: land one tick file, read it, transform, keyed
    append into a Silver sink that grows for the whole pass. Each pass
    starts from a sink that already holds ``seed_files`` earlier ticks,
    so every append anti-joins against a sink of that many files."""

    name = "ingest_ticks"

    def generate(self):
        c = self.cfg
        n_pre = SETUPS + c["warmup_ticks"]
        self.pre = gen.write_ticks(os.path.join(self.work, "pre"), self.seed, n_pre,
                                   c["stations"], first_tick=0)
        self.ticks = gen.write_ticks(os.path.join(self.work, "ticks"), self.seed,
                                     c["pass_ticks"], c["stations"], first_tick=n_pre)
        per = self.ticks["rows"] / c["pass_ticks"]
        self.input_size = (f"{c['pass_ticks']} ticks x {per:.0f} docs = "
                           f"{self.ticks['rows']} Bronze docs per pass, into a sink "
                           f"of {c['seed_files']} earlier ticks")
        self.seed_sink = os.path.join(self.work, "seed_sink")
        self.seeded_rows = gen.write_seed_sink(self.seed_sink, self.seed, c["seed_files"],
                                               c["stations"])
        self.warm_sink = os.path.join(self.work, "warm_sink")
        shutil.copytree(self.seed_sink, self.warm_sink, copy_function=os.link)

    def _tick(self, spark, tracer, src: str, land: str, sink: str) -> None:
        from etl_weather_jabar_spark.plans.pipelines import transform_stage
        from etl_weather_jabar_spark.sinks import append_dedup_keyed
        from etl_weather_jabar_spark.sources.jsonsrc import read_json_dir

        os.makedirs(land)
        os.link(src, os.path.join(land, os.path.basename(src)))
        with tracer.span("sources.read_json_dir"):
            raw = read_json_dir(spark, land)
        with tracer.span("plans.transform_stage"):
            silver = transform_stage(raw)
        with tracer.span("sinks.append_dedup_keyed") as s:
            if s is not None:
                s.attrs["sink_files"] = _parquet_files(sink)
            append_dedup_keyed(silver, sink, keys=["location_id", "timestamp"])

    def setup_op(self, spark, i):
        src = self.pre["files"][i]
        self._tick(spark, NO_TRACE, src, os.path.join(self.work, "land_pre", str(i)), self.warm_sink)

    def warmup(self, spark):
        for i in range(SETUPS, len(self.pre["files"])):
            self.setup_op(spark, i)

    def run_pass(self, spark, tracer, p):
        sink = os.path.join(self.work, f"sink_{p}")
        shutil.copytree(self.seed_sink, sink, copy_function=os.link)
        out = []
        for k, src in enumerate(self.ticks["files"]):
            land = os.path.join(self.work, f"land_{p}", str(k))
            with tracer.op():
                t0 = self.clock()
                self._tick(spark, tracer, src, land, sink)
                out.append(("tick", between(t0, self.clock())))
        return out

    def check_pass(self, spark, p):
        """Every distinct non-null (location_id, timestamp) key of the pass's
        ticks is in the sink exactly once, carrying its lowest ``_id``, next
        to the seeded rows."""
        sink = os.path.join(self.work, f"sink_{p}")
        rows = spark.read.parquet(sink).select("location_id", "timestamp", "_id").collect()
        want = self.ticks["keys"]
        got = {(r[0], r[1]): r[2] for r in rows}
        problems = []
        if len(rows) != self.seeded_rows + len(want):
            problems.append(f"sink rows {len(rows)} != seeded {self.seeded_rows} "
                            f"+ distinct keys {len(want)}")
        if len(got) != len(rows):
            problems.append(f"{len(rows) - len(got)} duplicate keys in sink")
        wrong = [k for k, v in want.items() if got.get(k) != v]
        if wrong:
            problems.append(f"{len(wrong)} keys missing or not keep-first, e.g. {wrong[0]}")
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, f"land_{p}"), ignore_errors=True)
        return problems

    def layer_metrics(self, tracer, engine, ops, self_ms):
        from spans import node_metric_sum
        n = max(1, len(ops))
        spans = [s for s in tracer.spans if s.op in ops]
        build = [s.ms for s in spans if s.name == "sources.read_json_dir"]
        plan = [s.ms for s in spans if s.name == "plans.transform_stage"]
        app = [s for s in spans if s.name == "sinks.append_dedup_keyed"]
        eng = [engine[s.sid] for s in app if s.sid in engine]
        m = {
            "sources.read_json_dir.build_ms": statistics.median(build),
            "plans.transform_stage.build_ms": statistics.median(plan),
            "sinks.append_dedup_keyed.ms": statistics.median(s.ms for s in app),
            "plans.transform_stage.jobs": sum(e.jobs for e in eng) / n,
            "plans.transform_stage.stages": sum(e.stages for e in eng) / n,
            "plans.transform_stage.tasks": sum(e.tasks for e in eng) / n,
            "sources.json_rows_out": node_metric_sum(eng, "Scan json", "number of output rows") / n,
            "sources.json_bytes_in": node_metric_sum(eng, "Scan json", "size of files read") / n,
            "sinks.antijoin_build_rows": node_metric_sum(eng, "Scan parquet", "number of output rows") / n,
            # the anti-join reads the keys of every file in the sink
            "sources.parquet_scan_ms": node_metric_sum(eng, "Scan parquet", "scan time") / n,
            "sources.parquet_files_read": node_metric_sum(eng, "Scan parquet", "number of files read") / n,
            "sinks.files_written": node_metric_sum(eng, "Execute InsertIntoHadoopFsRelationCommand", "number of written files") / n,
            "sinks.bytes_written": node_metric_sum(eng, "Execute InsertIntoHadoopFsRelationCommand", "written output") / n,
            "sinks.sink_files": statistics.mean(s.attrs.get("sink_files", 0) for s in app),
        }
        # a tick scans the JSON file and the sink's keys; split the sources
        # self time between the two by the time their scans report
        json_ms = sum(e.scan_ms.get("Scan json", 0.0) for e in eng)
        scan_ms = sum(sum(e.scan_ms.values()) for e in eng)
        m["sources.json_scan_ms"] = self_ms["sources"] * json_ms / scan_ms if scan_ms else 0.0
        rows = [r for r in map(_transform_rows, eng) if r is not None]
        m["operators.dedupe_keep_first.rows_in"] = sum(r[0] for r in rows) / n
        m["operators.dedupe_keep_first.rows_out"] = sum(r[1] for r in rows) / n
        m["operators.flatten_raw.rows_rejected"] = sum(r[1] - r[2] for r in rows) / n
        return m


def _transform_rows(eng):
    """Rows through the transform, read off its plan: (into the keep-first
    dedup = JSON scan output, out of it = the last WindowGroupLimit below
    the first Window, out of the flatten = the first Filter above that
    Window, where Catalyst fuses ``__rn = 1`` with the null-``location.id``
    rejection)."""
    from spans import downstream
    for name, ms, scan, ex in eng.nodes:
        if name != "Scan json":
            continue
        rows_in = ms.get("number of output rows", 0.0)
        dedup_out, seen_window = rows_in, False
        for nid in downstream(eng, ex, scan):
            up, rows = eng.node_name(ex, nid), eng.node(ex, nid).get("number of output rows")
            if up == "WindowGroupLimit" and not seen_window and rows is not None:
                dedup_out = rows
            elif up == "Window":
                seen_window = True
            elif seen_window and up == "Filter":
                return rows_in, dedup_out, rows or 0.0
    return None


# ----------------------------------------------------------------- recap


class RecapBackfill(Workload):
    """Silver -> Gold: one day's ``recap_to_snapshot`` onto the
    transactional Gold table, day after day (a catch-up window). Each pass
    starts from a Gold table that already holds ``history_days`` earlier
    days, and every merge rewrites the whole table."""

    name = "recap_backfill"
    REPLAY_SAMPLE = 8  # (date, location) docs checked against the replay

    def generate(self):
        c = self.cfg
        self.silver_dir = os.path.join(self.work, "silver")
        self.silver = gen.write_silver(self.silver_dir, self.seed, c["stations"], c["days"])
        self.input_size = (f"{c['days']} days x {c['stations']} stations = "
                           f"{self.silver['rows']} Silver rows per pass, onto a Gold "
                           f"table of {c['history_days']} earlier days")
        self.warm_gold = os.path.join(self.work, "warm_gold")
        keys = sorted(self.silver["obs"])
        step = max(1, len(keys) // self.REPLAY_SAMPLE)
        self.sample = keys[(self.seed % step)::step][: self.REPLAY_SAMPLE]

    def session_ready(self, spark):
        from etl_weather_jabar_spark.schemas import WEATHER_DATA
        self.silver_all = spark.read.schema(WEATHER_DATA).parquet(self.silver_dir)

    def _day(self, spark, tracer, date: str, gold: str) -> None:
        from pyspark.sql import functions as F

        from etl_weather_jabar_spark.plans.pipelines import recap_to_snapshot
        new = self.silver_all.where(F.col("date") == date)
        with tracer.span("plans.recap_to_snapshot") as s:
            version = recap_to_snapshot(self.silver_all, new, gold)
        if s is not None:
            path = os.path.join(gold, "_manifests", f"v{version:010d}.json")
            with open(path) as fh:
                manifest = json.load(fh)
            s.attrs.update(files=len(manifest["files"]),
                           rows=sum(manifest["row_counts"].values()),
                           manifest_bytes=os.path.getsize(path))

    def setup_op(self, spark, i):
        self.session_ready(spark)
        self._day(spark, NO_TRACE, self.silver["dates"][i % len(self.silver["dates"])], self.warm_gold)

    def warmup(self, spark):
        """Build the Gold history: the first set-up day's docs, copied to
        each of the ``history_days`` days before the window and merged in
        with ``snapshot_merge``; then recap one day onto a copy of it."""
        from pyspark.sql import functions as F

        from etl_weather_jabar_spark.snapshots import snapshot_merge, snapshot_read
        day0 = snapshot_read(spark, self.warm_gold).where(F.col("date") == self.silver["dates"][0])
        back = spark.range(1, self.cfg["history_days"] + 1).select(F.col("id").cast("int").alias("_back"))
        history = (day0.crossJoin(back)
                   .withColumn("date", F.date_format(F.date_sub(F.to_date("date"), F.col("_back")),
                                                     "yyyy-MM-dd"))
                   .select(*day0.columns)
                   .withColumn("seq", F.lit(1)).withColumn("op", F.lit("U")))
        self.gold_seed = os.path.join(self.work, "gold_seed")
        snapshot_merge(spark, self.gold_seed, history, ["date", "location_id"])
        # the third recap of the run is still compiling: run one more onto
        # a copy of the history so that every timed day meets a warm JVM
        warm = os.path.join(self.work, "warm_history")
        shutil.copytree(self.gold_seed, warm, copy_function=os.link)
        self._day(spark, NO_TRACE, self.silver["dates"][0], warm)

    def run_pass(self, spark, tracer, p):
        gold = os.path.join(self.work, f"gold_{p}")
        shutil.copytree(self.gold_seed, gold, copy_function=os.link)
        out = []
        for date in self.silver["dates"]:
            with tracer.op():
                t0 = self.clock()
                self._day(spark, tracer, date, gold)
                out.append(("day", between(t0, self.clock())))
        return out

    def check_pass(self, spark, p):
        """S x (history + D) Gold rows, and a fixed sample of (date,
        location) docs of the window equal to a pure-Python replay of the
        reference recap rules."""
        from pyspark.sql import functions as F

        from etl_weather_jabar_spark.snapshots import snapshot_count, snapshot_read
        gold = os.path.join(self.work, f"gold_{p}")
        problems = []
        want = self.cfg["stations"] * (self.cfg["history_days"] + self.cfg["days"])
        n = snapshot_count(gold)
        if n != want:
            problems.append(f"gold rows {n} != {want}")
        dates = sorted({d for d, _ in self.sample})
        locs = sorted({loc for _, loc in self.sample})
        got = {
            (r["date"], r["location_id"]): r.asDict(recursive=True)
            for r in snapshot_read(spark, gold)
            .where(F.col("date").isin(dates) & F.col("location_id").isin(locs))
            .collect()
        }
        for key in self.sample:
            exp = replay_recap(self.silver["obs"][key])
            diff = compare_recap(exp, got.get(key))
            if diff:
                problems.append(f"{key}: {diff}")
        shutil.rmtree(gold, ignore_errors=True)
        return problems

    def instrument(self, tracer):
        import etl_weather_jabar_spark.operators.aggregates as agg
        import etl_weather_jabar_spark.snapshots as snap

        def wrap(mod, attr, span, **attrs):
            orig = getattr(mod, attr)

            def traced(*a, **k):
                with tracer.span(span, **attrs):
                    return orig(*a, **k)

            setattr(mod, attr, traced)

        wrap(agg, "daily_recap", "operators.daily_recap")
        wrap(snap, "snapshot_merge", "snapshots.snapshot_merge")
        wrap(snap, "_write_data_files", "snapshots.write_data_files")
        wrap(snap, "_publish", "snapshots.commit")

    def layer_metrics(self, tracer, engine, ops, self_ms):
        from spans import node_metric_sum
        n = max(1, len(ops))
        spans = [s for s in tracer.spans if s.op in ops]
        by = {}
        for s in spans:
            by.setdefault(s.name, []).append(s)
        rts = by.get("plans.recap_to_snapshot", [])
        merges = by.get("snapshots.snapshot_merge", [])
        writes = by.get("snapshots.write_data_files", [])
        op_eng = [engine[s.sid] for s in writes if s.sid in engine]
        all_eng = [engine[s.sid] for s in spans if s.sid in engine]
        merge_ms = {s.parent: s.ms for s in merges}
        m = {
            # operator time of a day: daily_recap's plan plus the merge's union
            "operators.daily_recap.ms": self_ms["operators"],
            "plans.recap_to_snapshot.build_ms": statistics.median(
                s.ms - merge_ms.get(s.sid, 0.0) for s in rts),
            "plans.recap_to_snapshot.jobs": sum(e.jobs for e in all_eng) / n,
            "plans.recap_to_snapshot.stages": sum(e.stages for e in all_eng) / n,
            "plans.recap_to_snapshot.tasks": sum(e.tasks for e in all_eng) / n,
            "snapshots.snapshot_merge.ms": statistics.median(s.ms for s in merges),
            "snapshots.commit_ms": statistics.median(s.ms for s in by.get("snapshots.commit", [])),
            "operators.daily_recap.exchanges": sum(
                1 for e in op_eng for name, *_ in e.nodes if name == "Exchange") / n,
            "operators.daily_recap.shuffle_write_bytes": sum(e.shuffle_write_bytes for e in op_eng) / n,
            "operators.grid_align.rows_out": _grid_rows(op_eng) / n,
            "sources.parquet_scan_ms": node_metric_sum(all_eng, "Scan parquet", "scan time") / n,
            "sources.parquet_files_read": node_metric_sum(all_eng, "Scan parquet", "number of files read") / n,
        }
        gold_stats = [s.attrs for s in rts if "files" in s.attrs]
        if gold_stats:
            m["snapshots.rows_rewritten"] = statistics.mean(a["rows"] for a in gold_stats)
            m["snapshots.files_per_version"] = statistics.mean(a["files"] for a in gold_stats)
            m["snapshots.manifest_bytes"] = statistics.mean(a["manifest_bytes"] for a in gold_stats)
        return m


def _grid_rows(eng_list) -> float:
    """Output rows of grid_align's left join: the first join above the
    broadcast cross join of (date, location, hour) keys with the minute grid."""
    from spans import downstream
    total = 0.0
    for eng in eng_list:
        for name, ms, nid, ex in eng.nodes:
            if name != "BroadcastNestedLoopJoin":
                continue
            rows = ms.get("number of output rows", 0.0)
            for up in downstream(eng, ex, nid):
                if "Join" in eng.node_name(ex, up):
                    rows = eng.node(ex, up).get("number of output rows", rows)
                    break
            total += rows
    return total


# ---- pure-Python replay of the reference recap rules (daily_compile_weather.py)


def _avg2(vals):
    """2-dp average, rounded half-up from the exact mean (Spark's
    ``round(avg, 2)`` rounds the decimal value); returns (value, exact)."""
    if not vals:
        return None, None
    exact = sum(Fraction(repr(v)) for v in vals) / len(vals)
    q = Decimal(exact.numerator) / Decimal(exact.denominator)
    return float(q.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)), exact


def replay_recap(rows: list[dict]) -> dict:
    hours: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["hour"], r["minute"])):
        hours.setdefault(r["hour"], []).append(r)
    full = "23" in hours
    out = []
    for hh, rs in sorted(hours.items()):
        nn = lambda c: [r[c] for r in rs if r[c] is not None]  # noqa: E731
        winds = nn("wind_dir")
        by_min = {r["minute"]: r for r in rs}
        out.append({
            "hour": hh, "full_recap": full,
            "temp_avg": _avg2(nn("temp_c")),
            "temp_min": min(nn("temp_c"), default=None),
            "temp_max": max(nn("temp_c"), default=None),
            "humidity_avg": _avg2(nn("humidity")),
            "wind_avg_kph": _avg2(nn("wind_kph")),
            "dominant_wind_dir": statistics.mode(winds) if winds else None,
            "precip_mm": sum(nn("precip_mm")) if nn("precip_mm") else 0.0,
            "data_points": [
                {"minute": m, "temp": by_min[m]["temp_c"], "humidity": by_min[m]["humidity"],
                 "wind_kph": by_min[m]["wind_kph"], "wind_dir": by_min[m]["wind_dir"],
                 "precip_mm": by_min[m]["precip_mm"]} if m in by_min else
                {"minute": m, "temp": None, "humidity": None, "wind_kph": None,
                 "wind_dir": None, "precip_mm": None}
                for m in ("00", "10", "20", "30", "40", "50")
            ],
        })
    return {"location_name": rows[0]["location_name"], "hourly": out}


def compare_recap(exp: dict, got: dict | None) -> str:
    if got is None:
        return "missing"
    if got["location_name"] != exp["location_name"]:
        return "location_name"
    gh = got["hourly"] or []
    if [h["hour"] for h in gh] != [h["hour"] for h in exp["hourly"]]:
        return "hours differ"
    for e, g in zip(exp["hourly"], gh):
        for k, v in e.items():
            if isinstance(v, tuple):  # (rounded avg, exact mean)
                val, exact = v
                if not _avg_ok(val, exact, g[k]):
                    return f"hour {e['hour']} {k}: {g[k]} != {val}"
            elif k == "precip_mm":
                if g[k] is None or abs(g[k] - v) > 1e-9:
                    return f"hour {e['hour']} precip_mm: {g[k]} != {v}"
            elif g[k] != v:
                return f"hour {e['hour']} {k}: {g[k]} != {v}"
    return ""


def _avg_ok(val, exact, got) -> bool:
    if val is None or got is None:
        return val is got
    if got == val:
        return True
    # the engine averages doubles; at an exact half-cent tie its sum may
    # land a last bit either side, so allow one cent there only
    half = Fraction(1, 200)
    near_tie = abs((exact * 100 - math.floor(exact * 100)) / 100 - half) < Fraction(1, 10**9)
    return near_tie and abs(got - val) <= 0.0100001


# -------------------------------------------------------------- headline


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else (f"{v:.6f}".rstrip("0").rstrip(".") or "0")
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(_cell(x) for x in v.values()) + "}"
    return str(v)


def table_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    normalised (floats to 6 dp), lines sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    h = hashlib.sha256()
    for line in sorted("|".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class HeadlineQueries(Workload):
    """Read side: the 16 headline registry queries over a generated
    warehouse, each executed with the ``noop`` sink."""

    name = "headline_queries"
    EXT = {"dedup_exact_docs", "ann_cosine_topk", "minhash_lsh_neardup"}
    WARMUP_THREADS = 4

    def generate(self):
        self.dir = os.path.join(self.work, "warehouse")
        self.results = {}
        info = gen.write_warehouse(self.dir, self.seed, self.cfg["scale"])
        self.input_size = (f"{len(self.cfg['queries'])} queries over "
                           f"{info['rows']['lineitem']} lineitems, "
                           f"{info['rows']['documents']} docs per pass")

    def _query(self, spark, tracer, q: str, collect: bool = False):
        from etl_weather_jabar_spark.queries import QUERIES
        layer = "ext" if q in self.EXT else "queries"
        with tracer.span(f"queries.{q}", layer=layer, query=q):
            with tracer.span("queries.build"):
                df = QUERIES[q](spark, self.dir)
            if collect:
                return df.columns, df.collect()
            df.write.format("noop").mode("overwrite").save()
        return None

    def setup_op(self, spark, i):
        """Set-up ``i`` collects every ``SETUPS``-th query, so that the
        set-ups together run each query once, untimed, and keep every
        result for the oracle check. Cold queries spend most of their time
        compiling (JIT and whole-stage codegen), so they run
        ``WARMUP_THREADS`` at a time."""
        from concurrent.futures import ThreadPoolExecutor

        def collect(q):
            cols, rows = self._query(spark, NO_TRACE, q, collect=True)
            return q, (len(rows), sorted(c.lower() for c in cols),
                       table_hash(cols, [tuple(r) for r in rows]))

        with ThreadPoolExecutor(self.WARMUP_THREADS) as pool:
            self.results.update(pool.map(collect, self.cfg["queries"][i::SETUPS]))

    def oracle_problems(self) -> dict[str, str]:
        """Compare the set-ups' results with each query's DuckDB twin."""
        import duckdb

        from etl_weather_jabar_spark.queries import ORACLE_SQL
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in os.listdir(self.dir):
            name = t.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.dir}/{t}')")
        bad = {}
        for q in self.cfg["queries"]:
            rel = con.sql(ORACLE_SQL[q])
            cols = list(rel.columns)
            rows = rel.fetchall()
            want = (len(rows), sorted(c.lower() for c in cols), table_hash(cols, rows))
            if self.results.get(q) != want:
                bad[q] = f"spark {self.results.get(q)} != duckdb {want}"
        con.close()
        return bad

    def run_pass(self, spark, tracer, p):
        out = []
        for q in self.cfg["queries"]:
            with tracer.op():
                t0 = self.clock()
                self._query(spark, tracer, q)
                out.append((q, between(t0, self.clock())))
        return out

    def layer_metrics(self, tracer, engine, ops, self_ms):
        spans = [s for s in tracer.spans if s.op in ops]
        per_q: dict[str, list] = {}
        for s in spans:
            if "query" in s.attrs:
                per_q.setdefault(s.attrs["query"], []).append(s.ms)
        passes = max(1, len(ops) / len(self.cfg["queries"]))
        eng = [engine[s.sid] for s in spans if s.sid in engine]
        from spans import node_metric_sum
        m = {f"queries.{q}.ms": statistics.median(v) for q, v in per_q.items()}
        m["queries.build_ms"] = statistics.median(s.ms for s in spans if s.name == "queries.build")
        m["queries.jobs"] = sum(e.jobs for e in eng) / passes
        m["queries.shuffle_write_bytes"] = sum(e.shuffle_write_bytes for e in eng) / passes
        m["sources.parquet_scan_ms"] = node_metric_sum(eng, "Scan parquet", "scan time") / passes
        m["sources.parquet_files_read"] = node_metric_sum(eng, "Scan parquet", "number of files read") / passes
        return m


WORKLOADS = {w.name: w for w in (IngestTicks, RecapBackfill, HeadlineQueries)}
