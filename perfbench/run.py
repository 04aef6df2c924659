"""Pipeline benchmark for the weather engine.

    python3 perfbench/run.py --workload ingest_ticks --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads (see config.json for sizes):

* ``ingest_ticks``     Bronze -> Silver, one 10-minute tick per op.
* ``recap_backfill``   Silver -> Gold, one day's recap_to_snapshot per op.
* ``headline_queries`` the 16 headline registry queries, one query per op.

The load is a closed loop with one caller on ``local[<cores>]``. Inputs
are generated from ``--seed`` before anything is timed and deleted when
the run ends. The run sets up the session ``SETUPS`` times (the first
one starts the JVM) and reports the median as ``setup_s``, runs untimed
warm-up ops, then runs passes of a fixed size until ``--seconds`` of
passes are done. Outputs are checked after each pass, outside the timed
region. The driver JVM keeps the engine's own heap default. Every time
reported is the wall time with the CPU time the hypervisor stole taken out
(``meter.py``); the raw wall times and the stolen share go to
``perfbench/out/runs.jsonl``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
op and prints the per-layer metrics and the layers' self times, with
``trace.op_p50_ms`` (the op median under tracing) for the overhead
against an untraced run (``report.py`` subtracts the two). The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Everything the
run writes stays under ``perfbench/work`` (deleted) and ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
LAYERS = ("sources", "operators", "plans", "sinks", "snapshots", "queries", "ext")
TAIL_PCT = 75  # op_tail_ms: a pass holds 3-16 ops, too few for a higher percentile


def load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, from BENCHMARK.json."""
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def machine_state() -> dict:
    """Load and the number of other Spark processes (JVMs or Python
    drivers that are not this process or its descendants)."""
    me = os.getpid()
    parent, cmd = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd[int(pid)] = fh.read().decode("utf-8", "replace")
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while scanning

    def mine(pid: int) -> bool:
        for _ in range(64):
            if pid == me:
                return True
            if pid <= 1:
                return False
            pid = parent.get(pid, 0)
        return False

    others = sum(1 for pid, c in cmd.items()
                 if not mine(pid) and ("org.apache.spark" in c or "pyspark" in c))
    return {"load_1m": round(os.getloadavg()[0], 2), "other_spark_procs": others}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def percentile(values: list[float], pct: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Session:
    """Owns the SparkSession and the JVM behind it; ``close`` stops both
    and waits for the JVM to exit."""

    def __init__(self, extra_conf: dict):
        self.extra_conf = extra_conf
        self.spark = None
        self.jvm_pid = None
        self.proc = None

    def start(self):
        from etl_weather_jabar_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", extra_conf=self.extra_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.proc is None:
            from pyspark import SparkContext

            self.proc = getattr(SparkContext._gateway, "proc", None)
            self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return self.spark

    def close(self):
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc is not None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] thread count (default: this process's CPU affinity)")
    args = ap.parse_args(argv)

    config = load_json(os.path.join(HERE, "config.json"))
    if args.workload not in config:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cfg = config[args.workload]

    # pin the environment before the engine is imported
    cores = args.cores or len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-c{cores}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "work", run_id)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # temp files of Python, py4j and the JVM stay under the run's directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    sys.path.insert(0, ROOT)
    try:
        import etl_weather_jabar_spark.session  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from meter import between, stamp
    from spans import Tracer
    from workloads import SETUPS, WORKLOADS

    env = {"nproc": len(os.sched_getaffinity(0)), "cores": cores, "before": machine_state()}
    extra_conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        # keep every job, stage and plan of the run for the join
        extra_conf.update({"spark.ui.retainedJobs": "100000",
                           "spark.ui.retainedStages": "100000",
                           "spark.sql.ui.retainedExecutions": "100000"})

    clock = time.perf_counter
    w = WORKLOADS[args.workload](cfg, args.seed, work, stamp)
    session = Session(extra_conf)
    phases = {}
    t_run = clock()
    try:
        os.makedirs(os.environ["TMPDIR"])
        w.generate()
        phases["generate_s"] = clock() - t_run

        # set-up: session start + one op, several times; the first starts the JVM
        setups, get_spark_ms = [], []
        for i in range(SETUPS):
            t0 = stamp()
            spark = session.start()
            t1 = stamp()
            w.setup_op(spark, i)
            setups.append(between(t0, stamp()))
            get_spark_ms.append(between(t0, t1).unstolen_ms)
        w.session_ready(spark)
        t0 = clock()
        w.warmup(spark)
        warmup_ms = (clock() - t0) * 1000
        phases["setup_total_s"] = sum(iv.wall_ms for iv in setups) / 1000
        phases["warmup_s"] = warmup_ms / 1000
        t0 = clock()
        failing_queries = w.oracle_problems() if hasattr(w, "oracle_problems") else {}
        phases["oracle_s"] = clock() - t0

        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            w.instrument(tracer)
        passes, measured = [], 0.0
        while measured < args.seconds:
            p = len(passes)
            t0 = stamp()
            ops = w.run_pass(spark, tracer, p)
            span = between(t0, stamp())
            measured += span.wall_ms / 1000
            t0 = clock()
            problems = w.check_pass(spark, p)
            phases["checks_s"] = phases.get("checks_s", 0.0) + clock() - t0
            passes.append({"span": span, "ops": ops, "problems": problems})
        peak_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(session.jvm_pid)

        attempted = sum(len(p["ops"]) for p in passes)
        failed = sum(
            len(p["ops"]) if p["problems"] else
            sum(1 for label, _ in p["ops"] if label in failing_queries)
            for p in passes
        )
        for p in passes:
            for msg in p["problems"]:
                print(f"check failed: {msg}", file=sys.stderr)
        for q, msg in failing_queries.items():
            print(f"check failed: {q}: {msg}", file=sys.stderr)

        ivs = [iv for p in passes for _, iv in p["ops"]]
        lat = [iv.unstolen_ms for iv in ivs]
        spans = [p["span"] for p in passes]
        e2e = {
            "setup_s": (statistics.median(iv.unstolen_ms for iv in setups) / 1000, "s"),
            "wall_s": (statistics.median(iv.unstolen_ms for iv in spans) / 1000, "s"),
            "op_p50_ms": (statistics.median(lat), "ms"),
            "op_tail_ms": (percentile(lat, TAIL_PCT), "ms"),
        }
        # not gated: error_rate is 0 on a correct build, and the peak RSS
        # swings with when G1 grows the heap (see README)
        info = {"error_rate": failed / attempted, "peak_rss_mb": peak_mb}
        steal = sum(iv.steal_ms for iv in spans) / max(1.0, sum(iv.cpu_ms + iv.steal_ms for iv in spans))
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input_size": w.input_size, "passes": len(passes), "ops": attempted,
            "tail": f"p{TAIL_PCT} of {len(lat)} ops",
            "info": info, "steal_share": steal,
            "raw": {"setup_s": statistics.median(iv.wall_ms for iv in setups) / 1000,
                    "wall_s": statistics.median(iv.wall_ms for iv in spans) / 1000,
                    "op_p50_ms": statistics.median(iv.wall_ms for iv in ivs)},
            # [wall, cpu, steal] ms of each set-up, op and pass
            "setup_ms": [[round(x, 1) for x in iv] for iv in setups],
            "op_ms": [[round(x, 1) for x in iv] for iv in ivs],
            "pass_ms": [[round(x, 1) for x in iv] for iv in spans],
            "env": env, "phases": phases,
        }
        if args.trace:
            metrics = per_layer(w, tracer, session.spark, get_spark_ms, warmup_ms)
            metrics["session.peak_rss_mb"] = peak_mb
            metrics["trace.op_p50_ms"] = e2e["op_p50_ms"][0]
            unit = per_layer_units()
            result = {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}
        else:
            result = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        env["after"] = machine_state()
    finally:
        t0 = clock()
        session.close()
        phases["close_s"] = clock() - t0
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "work"))
        except OSError:
            pass  # another run is using it

    phases["total_s"] = clock() - t_run
    record["metrics"] = {k: v["value"] for k, v in result.items()}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    if args.trace:
        name = f"trace-{args.workload}-c{cores}.json"
        with open(os.path.join(OUT, name), "w") as fh:
            json.dump(record, fh, indent=1)

    print(f"# {args.workload} seed={args.seed} cores={cores} input: {w.input_size}")
    print(f"# env before={env['before']} after={env['after']}")
    print("# phases " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    print(f"# {record['tail']}; {failed}/{attempted} ops failed; "
          f"steal {100 * steal:.0f}% of wanted CPU; raw " + json.dumps(record["raw"]))
    print("# info " + json.dumps(info))
    for k, v in result.items():
        print(f"#   {k:48s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


def per_layer(w, tracer, spark, get_spark_ms, warmup_ms) -> dict:
    """Per-layer metrics from the traced passes, joined with what Spark
    recorded for each span."""
    from spans import engine_by_span, fetch_status, layer_shares

    engine = engine_by_span(fetch_status(spark.sparkContext))
    ops = {s.sid for s in tracer.spans if s.name == "op"}
    n = max(1, len(ops))
    names = list(per_layer_units())
    moves = load_json(os.path.join(HERE, "layers.json"))["moves"]
    if set(moves) != set(names):
        raise KeyError(f"layers.json and BENCHMARK.json per_layer differ: "
                       f"{sorted(set(moves) ^ set(names))}")
    out = dict.fromkeys(names, 0.0)

    out["session.jvm_start_ms"] = get_spark_ms[0]  # the first get_spark launches the JVM
    out["session.get_spark_ms"] = statistics.median(get_spark_ms)
    out["session.warmup_ms"] = warmup_ms
    spans = [s for s in tracer.spans if s.op in ops]
    out["session.jvm_gc_ms"] = sum(engine[s.sid].gc_ms for s in spans if s.sid in engine) / n

    self_ms = tracer.self_ms()
    layer_ms = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        if s.name == "op":
            continue
        for layer, share in layer_shares(s.layer, engine.get(s.sid)).items():
            layer_ms[layer] = layer_ms.get(layer, 0.0) + self_ms[s.sid] * share
    per_op = {layer: ms / n for layer, ms in layer_ms.items()}
    out.update({f"{layer}.self_ms": ms for layer, ms in per_op.items()})
    out.update(w.layer_metrics(tracer, engine, ops, per_op))

    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json per_layer: {sorted(unknown)}")
    return out


if __name__ == "__main__":
    sys.exit(main())
