"""Spans around calls into the engine's layers, joined with Spark's own
job, stage and SQL-node metrics after the run.

A span records its name, start, end, parent and the op it belongs to, and
tags every Spark job launched inside it with ``sc.setJobGroup(<span id>)``.
Spans stay in memory; :func:`fetch_status` reads the driver's local
status API (the Spark UI's REST endpoints) once the traced passes are done.

Spark is lazy, so a public call that only builds a plan returns quickly and
the work runs inside whichever later call writes. To say which layer that
work belongs to, each SQL plan node is given a layer by its operator type
(``Scan json``/``Scan parquet`` -> sources, together with the codegen
stage that reads a JSON scan, since JSON parses there; file writes -> the
layer of the span that writes; everything else -> operators) and each
span's self time is split between layers in proportion to the task time
its nodes report (see :func:`layer_shares`).
"""

from __future__ import annotations

import itertools
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def layer(self) -> str:
        return self.attrs.get("layer") or self.name.split(".", 1)[0]


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op,
    so the untraced run executes the same benchmark code. A disabled
    tracer needs no session (``spark`` may be None)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext if enabled else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._op: int | None = None

    @contextmanager
    def op(self):
        """Root span of one op (a tick, a day or a query)."""
        if not self.enabled:
            yield None
            return
        try:
            with self.span("op") as s:
                self._op = s.sid
                s.op = s.sid
                yield s
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None,
                 self._op, time.perf_counter(), attrs=attrs)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_ms(self) -> dict[int, float]:
        """Span id -> duration minus the time covered by its children."""
        out = {s.sid: s.ms for s in self.spans}
        for s in self.spans:
            if s.parent is not None and s.parent in out:
                out[s.parent] -= s.ms
        return out


# ------------------------------------------------------ Spark status API


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetch_status(sc, settle_s: float = 30.0) -> dict:
    """Jobs, stages and SQL executions of the current application, read
    once the listener bus has caught up (no job still running and the job
    count unchanged between two reads)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    prev = -1
    while True:
        jobs = _get(f"{base}/jobs")
        running = any(j["status"] == "RUNNING" for j in jobs)
        if (not running and len(jobs) == prev) or time.monotonic() > deadline:
            break
        prev = len(jobs)
        time.sleep(0.5)
    stages = _get(f"{base}/stages")
    sql = _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=1000000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a SQL metric's display string to a number in ms, bytes or
    rows. Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``:
    the total is the first number on the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


def node_layer(name: str) -> str:
    """Layer of a plan node by operator type; ``own`` means the layer of
    the span that launched it (file writes belong to whoever writes)."""
    if name.startswith(("Scan ", "FileScan", "BatchScan")):
        return "sources"
    if "InsertIntoHadoopFsRelation" in name or name == "WriteFiles":
        return "own"
    return "operators"


@dataclass
class SpanEngine:
    """What Spark did inside one span's job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    layer_ms: dict = field(default_factory=dict)  # attributed task ms
    scan_ms: dict = field(default_factory=dict)  # the sources share, by scan node name
    nodes: list = field(default_factory=list)  # (name, metrics, node id, execution id)
    edges: list = field(default_factory=list)  # (execution id, child id, parent id)

    def node(self, ex: int, nid: int) -> dict:
        return self._index()[(ex, nid)][1]

    def node_name(self, ex: int, nid: int) -> str:
        return self._index()[(ex, nid)][0]

    def _index(self) -> dict:
        return {(x, nid): (name, ms) for name, ms, nid, x in self.nodes}


def downstream(eng: SpanEngine, ex: int, nid: int) -> list[int]:
    """Node ids from ``nid`` towards the plan root, nearest first."""
    parent = {c: p for x, c, p in eng.edges if x == ex}
    out = []
    while nid in parent:
        nid = parent[nid]
        out.append(nid)
    return out


def node_metric_sum(engs: list[SpanEngine], node: str, metric: str) -> float:
    return sum(ms.get(metric, 0.0) for e in engs for name, ms, _, _ in e.nodes if name == node)


def engine_by_span(status: dict) -> dict[int, SpanEngine]:
    """Group the application's jobs, stages and SQL plan nodes by the span
    whose job group launched them."""
    stage_by_id: dict[int, list] = {}
    for st in status["stages"]:
        stage_by_id.setdefault(st["stageId"], []).append(st)
    job_span: dict[int, int] = {}
    out: dict[int, SpanEngine] = {}
    for j in status["jobs"]:
        g = j.get("jobGroup") or ""
        if not g.startswith("span-"):
            continue
        sid = int(g[5:])
        job_span[j["jobId"]] = sid
        e = out.setdefault(sid, SpanEngine())
        e.jobs += 1
        for stid in j["stageIds"]:
            for st in stage_by_id.get(stid, []):
                if st["status"] == "SKIPPED":
                    continue
                e.stages += 1
                e.tasks += st["numCompleteTasks"]
                e.run_ms += st["executorRunTime"]
                e.gc_ms += st["jvmGcTime"]
                e.shuffle_write_bytes += st["shuffleWriteBytes"]
    for ex in status["sql"]:
        jids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        sids = {job_span[j] for j in jids if j in job_span}
        if len(sids) != 1:
            continue
        e = out[sids.pop()]
        clusters: dict[int, set] = {}
        scans: dict[int, str] = {}  # codegen cluster -> the scan inside it
        for n in ex["nodes"]:
            cid = n.get("wholeStageCodegenId")
            if cid is not None:
                clusters.setdefault(cid, set()).add(node_layer(n["nodeName"]))
                if node_layer(n["nodeName"]) == "sources":
                    scans[cid] = n["nodeName"]
        by_id = {n["nodeId"]: n for n in ex["nodes"]}
        for ed in ex.get("edges", []):
            child, parent = by_id.get(ed["fromId"]), by_id.get(ed["toId"])
            if (child and parent and node_layer(child["nodeName"]) == "sources"
                    and parent.get("wholeStageCodegenId") is not None
                    and not any(m["name"] == "scan time" for m in child.get("metrics", []))):
                # a row-based scan (JSON) reports no scan time: it parses
                # inside the codegen stage that reads it, so that stage is its
                cid = parent["wholeStageCodegenId"]
                clusters.setdefault(cid, set()).add("sources")
                scans[cid] = child["nodeName"]
        for n in ex["nodes"]:
            ms = {m["name"]: metric_value(m["value"]) for m in n.get("metrics", [])}
            name = n["nodeName"]
            e.nodes.append((name, ms, n["nodeId"], ex["id"]))
            if name.startswith("WholeStageCodegen"):
                cid = int(re.search(r"\((\d+)\)", name).group(1))
                layers = clusters.get(cid, {"operators"})
                layer = "sources" if "sources" in layers else "operators"
                _add(e.layer_ms, layer, ms.get("duration", 0.0))
                if layer == "sources":
                    _add(e.scan_ms, scans[cid], ms.get("duration", 0.0))
            elif node_layer(name) == "sources":
                _add(e.layer_ms, "sources", ms.get("scan time", 0.0))
                _add(e.scan_ms, name, ms.get("scan time", 0.0))
            elif name == "Exchange":
                _add(e.layer_ms, "operators", ms.get("shuffle write time", 0.0))
            elif node_layer(name) == "own":
                _add(e.layer_ms, "own", ms.get("task commit time", 0.0) + ms.get("job commit time", 0.0))
        e.edges += [(ex["id"], ed["fromId"], ed["toId"]) for ed in ex.get("edges", [])]
    return out


def _add(d: dict, k: str, v: float) -> None:
    d[k] = d.get(k, 0.0) + v


def layer_shares(own_layer: str, eng: SpanEngine | None) -> dict[str, float]:
    """Fractions of a span's self time per layer. Time the plan nodes
    report goes to the nodes' layers; the rest of the span's task time
    (and all of it when Spark ran nothing) stays with the span's layer.
    A query (``queries``/``ext``) composes its own plan, so there only the
    scans are split off."""
    if eng is None or eng.run_ms <= 0:
        return {own_layer: 1.0}
    keep = {own_layer, "own"}
    if own_layer in ("queries", "ext"):
        keep.add("operators")
    attributed = {k: v for k, v in eng.layer_ms.items() if k not in keep}
    total = max(eng.run_ms, sum(eng.layer_ms.values()))
    shares = {k: v / total for k, v in attributed.items()}
    shares[own_layer] = 1.0 - sum(shares.values())
    return shares
