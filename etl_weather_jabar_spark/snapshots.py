"""Snapshot-versioned parquet tables: atomic commits, snapshot-isolated
readers, time travel — the transactional layer the reference gets from
MongoDB's per-document atomicity (upsert `update_one($set)` else insert,
dags/daily_compile_weather.py:136-142) re-expressed for immutable files.
The keyed upsert is :func:`snapshot_merge`: like the reference's
find-then-``$set``, it touches only the files whose recorded key range
can hold a changed key and carries every other file forward by name. It
takes a CDC log (upserts and deletes, ordered per key) or an upsert set
(one row per key, each replacing or inserting it); an upsert set is
written once, as it is, and its keys are read back from the written
files on the driver (:func:`_file_keys`, shared with the Silver keyed
append), so a set with no hot file costs only its own write.

Layout::

    <table>/data/<commit>-partNNNN.parquet   immutable data files
    <table>/dv/<commit>-partNNNN.parquet     deletion-vector sidecars
    <table>/_manifests/v{N:010d}.json        full file listing per version

A commit writes its data files first, then publishes a manifest naming
every LIVE file of the new version. Readers resolve ONE manifest and read
exactly those files — a reader holding version N is untouched by any
later commit (snapshot isolation), and `version=` gives time travel.
Publication is `open(path, "x")` — atomic on POSIX; a concurrent writer
that loses the race re-resolves and retries against the next version
(optimistic concurrency, single winner per version).

The protocol has one helper per rule. :func:`_resolve` names a version
and its manifest, or raises FileNotFoundError. :func:`_read_files` reads
listed files with the deletion vectors (DVs) applied. :func:`_may_hold`
prunes a file by its recorded ``[lo, hi]``; collated strings record no
stats or Bloom (:func:`_prunable`). :func:`_occ` restarts an operation
when another commit lands first. :func:`_carry` keeps the per-file
entries of the files a commit keeps; a rewrite records stats on the
columns its base records (:func:`_stats_cols`).

Scale notes: the manifest is O(live files) JSON — fine into the tens of
thousands of files; production formats (Delta/Iceberg) switch to delta
logs + checkpoints for millions, same read protocol. Data files are never
mutated or renamed after publish, so object stores without atomic rename
need only the tiny manifest PUT-if-absent. Orphan data files from a lost
race are invisible (no manifest names them) and reclaimable by a GC pass
(`vacuum`).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame


class ConcurrentSnapshotError(RuntimeError):
    """A conflicting commit landed and the operation cannot merge with it
    safely (the Delta ConcurrentModificationException analogue)."""


class _Conflict(Exception):
    """A publish found a newer version than the one its commit was
    computed from; the caller restarts from the new latest."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _meta_path(path: str) -> str:
    return os.path.join(path, "_meta.json")


def _read_meta(path: str) -> dict:
    """Vacuum-survivor sidecar: ``vacuum_horizon`` (lowest retained
    version), ``batch_ids`` (dedup ledger folded out of vacuumed
    manifests), ``history`` (their history rows). Absent before the
    first vacuum."""
    try:
        with open(_meta_path(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"vacuum_horizon": 1, "batch_ids": [], "history": []}


def _write_meta(path: str, meta: dict) -> None:
    tmp = _meta_path(path) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(path))  # atomic on POSIX


def _versions(path: str) -> list[int]:
    return sorted(
        int(os.path.basename(p)[1:-5])
        for p in glob.glob(os.path.join(_manifest_dir(path), "v*.json"))
    )


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(path), f"v{version:010d}.json")) as f:
        return json.load(f)


def _resolve(
    path: str, version: int | None = None, *, missing_ok: bool = False
) -> tuple[int | None, dict | None]:
    """The one resolver: ``(version, manifest)`` of ``version``, by
    default the latest. A path with no version raises FileNotFoundError,
    or gives ``(None, None)`` when ``missing_ok``; a version that is not
    retained always raises it."""
    vs = _versions(path)
    if not vs:
        if missing_ok:
            return None, None
        raise FileNotFoundError(f"no snapshots at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not retained at {path} (have {vs})")
    return v, _read_manifest(path, v)


def _manifests(path: str, after: int = 0):
    """``(version, manifest)`` of every retained version newer than
    ``after``, oldest first."""
    for v in _versions(path):
        if v > after:
            yield v, _read_manifest(path, v)


# The per-file maps of a manifest, ``{file: entry}``. Each names only files
# its own version lists; the table-level ``dvs`` list goes with dv_counts.
_PER_FILE = ("stats", "row_counts", "blooms", "dv_counts")


def _carry(m: dict | None, files: list[str], new: dict | None = None) -> dict:
    """The one carry rule: the manifest entries of a commit listing
    ``files`` onto the base manifest ``m``. Each per-file map keeps the
    base's entries of the listed files, and ``new``'s maps add (or
    replace) the entries of the files the commit writes. The ``dvs``
    list — ``new``'s, else the base's — is kept while a listed file has
    a DV. ``stats`` and ``row_counts`` are always present; an empty
    Bloom or DV map is left out."""
    keep, new = set(files), new or {}
    out: dict = {"files": files}
    for k in _PER_FILE:
        d = {f: x for f, x in (m or {}).get(k, {}).items() if f in keep}
        d.update(new.get(k, {}))
        if d or k in ("stats", "row_counts"):
            out[k] = d
    if out.get("dv_counts"):
        out["dvs"] = new.get("dvs") or m["dvs"]
    return out


def _stats_cols(m: dict | None, cols=()) -> list[str]:
    """The columns a commit onto manifest ``m`` records stats on:
    ``cols``, then each column ``m`` records stats on — so a rewritten
    file prunes as the files it replaces did."""
    recorded = [c for s in (m or {}).get("stats", {}).values() for c in s]
    return list(dict.fromkeys([*cols, *recorded]))


def _write_data_files(
    df: DataFrame, path: str, keep_empty: bool = True, subdir: str = "data"
) -> tuple[list[str], dict]:
    """Write ``df`` into immutable data files; returns (names, per-file
    row counts). Files exist but are invisible until a manifest names
    them. Row counts come from the parquet footers (no data scan) and
    feed the manifest, making COUNT(*) a metadata-only operation.

    A file with no row is dropped (Spark writes one for an empty
    partition 0): it would carry no stats and make every later merge
    rewrite it. When no file holds a row, the first is kept only if
    ``keep_empty`` — the version would otherwise list no file, and
    :func:`snapshot_read` refuses an empty version. Deletion-vector sets
    are written the same way into ``subdir="dv"``."""
    import pyarrow.parquet as pq

    data_dir = os.path.join(path, subdir)
    os.makedirs(data_dir, exist_ok=True)
    commit = uuid.uuid4().hex[:12]
    staging = os.path.join(path, f"_staging-{commit}")
    df.write.mode("overwrite").parquet(staging)
    parts = sorted(glob.glob(os.path.join(staging, "*.parquet")))
    counts = [pq.ParquetFile(p).metadata.num_rows for p in parts]
    keep = [i for i, n in enumerate(counts) if n]
    if not keep and parts and keep_empty:
        keep = [0]
    new_files, row_counts = [], {}
    for i in keep:
        name = f"{commit}-part{i:04d}.parquet"
        os.rename(parts[i], os.path.join(data_dir, name))
        new_files.append(name)
        row_counts[name] = counts[i]
    shutil.rmtree(staging)
    return new_files, row_counts


def _paths(path: str, subdir: str, names: list[str]) -> list[str]:
    """The paths of the files ``names`` under ``<table>/<subdir>/``."""
    return [os.path.join(path, subdir, n) for n in names]


def _read_files(
    spark,
    path: str,
    m: dict,
    files: list[str],
    merge_schema: bool = False,
) -> DataFrame:
    """The one read: the given files of manifest ``m`` with its deletion
    vectors applied. A DV set — (file string, pos bigint) rows — is
    parquet under ``<table>/dv/``, named by the manifest's ``dvs`` list.
    Files with no recorded deletions take the plain scan path untouched;
    dirty files are read with ``_metadata`` row positions and
    anti-joined against the (broadcast) DV set — the scan stays
    shuffle-free because the DV side is small by contract. An empty
    ``files`` raises FileNotFoundError: the version is empty."""
    from pyspark.sql import functions as F

    if not files:
        raise FileNotFoundError(f"version {m['version']} is empty")
    dv_counts = m.get("dv_counts", {})
    dirty = [f for f in files if dv_counts.get(f)]
    clean = [f for f in files if not dv_counts.get(f)]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    parts = []
    if clean:
        parts.append(reader.parquet(*_paths(path, "data", clean)))
    if dirty:
        df = reader.parquet(*_paths(path, "data", dirty))
        cols = df.columns
        dv = spark.read.parquet(*_paths(path, "dv", m["dvs"])).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )
        parts.append(
            df.select(
                F.col("_metadata.file_name").alias("__dv_file"),
                F.col("_metadata.row_index").alias("__dv_pos"),
                "*",
            )
            .join(F.broadcast(dv), ["__dv_file", "__dv_pos"], "left_anti")
            .select(*cols)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=merge_schema)
    return out


def _stats_encode(v):
    """JSON-safe canonical encoding for manifest stats values. Temporal /
    decimal / binary min-max values are tagged single-key dicts (a scalar
    column value can never be a dict, so tags cannot collide with data);
    everything else passes through. Idempotent: encoded values re-encode
    to themselves, so carried-forward stats survive repeated publishes."""
    import base64
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return {"__ts__": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__date__": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"__dec__": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"__b64__": base64.b64encode(bytes(v)).decode()}
    return v


def _stats_decode(v):
    """Inverse of :func:`_stats_encode` — applied at every pruning-side
    comparison so manifest stats compare against live values with the
    original types (ISO strings are NOT compared to date objects)."""
    import base64
    import datetime
    import decimal

    if isinstance(v, dict):
        if "__ts__" in v:
            return datetime.datetime.fromisoformat(v["__ts__"])
        if "__date__" in v:
            return datetime.date.fromisoformat(v["__date__"])
        if "__dec__" in v:
            return decimal.Decimal(v["__dec__"])
        if "__b64__" in v:
            return base64.b64decode(v["__b64__"])
    return v


# The footer key holding the Spark schema a data file was written with.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Spark types whose parquet footer min/max equal Spark's min/max: integers,
# strings in the default collation (both order UTF-8 bytes unsigned) and
# dates. INT96 timestamps carry no footer stats, pyarrow cannot decode
# decimal stats, and float stats order NaN and -0.0 unlike Spark, so every
# other type takes the aggregate job. Each maps to the parquet physical
# type and the converted types a column of that Spark type is stored as.
_FOOTER_STATS_TYPES = {
    "byte": ("INT32", {"INT_8"}),
    "short": ("INT32", {"INT_16"}),
    "integer": ("INT32", {"NONE", "INT_32"}),
    "long": ("INT64", {"NONE", "INT_64"}),
    "string": ("BYTE_ARRAY", {"UTF8"}),
    "date": ("INT32", {"DATE"}),
}


def _collated(field: dict) -> bool:
    """Whether the field JSON ``field`` is a string with a collation,
    whose equality and order are neither Python's nor its footer's."""
    return "__COLLATIONS" in field.get("metadata", {})


def _exact_keys(fields) -> bool:
    """Whether the driver and parquet footers compare the values of the
    StructFields ``fields`` as Spark does: integer, date and
    default-collation string columns. Python's equality differs on NaN
    and -0.0, and the other types lack exact footer stats."""
    return all(
        f.dataType.typeName() in _FOOTER_STATS_TYPES
        and not _collated(f.jsonValue())
        for f in fields
    )


# The most keys a driver-side pruning pass collects (the driver-size guard
# of :func:`snapshot_merge` and of ``sinks.append_dedup_keyed``).
_MAX_DRIVER_KEYS = 100_000


def _file_keys(
    files: list[str], keys: list[str], limit: int | None = None
) -> tuple[list[tuple] | None, dict[str, int]]:
    """The key of every row in the parquet ``files`` (full paths), NULL
    components included, or ``None`` when the driver cannot tell keys
    apart as Spark does: more than ``limit`` rows (by default the driver
    guard), or dates written with legacy rebasing; and each file's row
    count, from its footer. The keys are top-level columns of a type
    :func:`_exact_keys` accepts."""
    import pyarrow.parquet as pq

    parts = [pq.ParquetFile(f) for f in files]
    counts = {f: p.metadata.num_rows for f, p in zip(files, parts)}
    if (
        # the guard is looked up at call time, so a patched guard holds
        sum(counts.values()) > (_MAX_DRIVER_KEYS if limit is None else limit)
        # rebased dates read back differently outside Spark
        or any(b"org.apache.spark.legacyDateTime" in (p.metadata.metadata or {})
               for p in parts)
    ):
        return None, counts
    out = []
    for p in parts:
        t = p.read(columns=keys)
        out += zip(*(t.column(k).to_pylist() for k in keys))
    return out, counts


def _footer_fields(md) -> dict:
    """``{name: field JSON}`` of the Spark schema recorded in one file's
    parquet footer, or ``{}`` when none is (e.g. a file pyarrow wrote)."""
    kv = md.metadata or {}
    if _SPARK_SCHEMA_KEY not in kv:
        return {}
    return {x["name"]: x for x in json.loads(kv[_SPARK_SCHEMA_KEY])["fields"]}


def _footer_minmax(md, field: dict | None):
    """``(lo, hi)`` of the top-level column ``field`` (its Spark schema
    JSON) from one file's parquet footer — ``(None, None)`` when every
    value is NULL — or ``None`` when the footer cannot give Spark's
    answer: the file lacks the column, or stores it as another type."""
    if (
        field is None
        or field["type"] not in _FOOTER_STATS_TYPES
        or _collated(field)
        or (field["type"] == "date"
            and b"org.apache.spark.legacyDateTime" in (md.metadata or {}))
    ):
        return None
    physical, converted = _FOOTER_STATS_TYPES[field["type"]]
    idx = next(
        (i for i in range(len(md.schema))
         if md.schema.column(i).path == field["name"]),
        None,
    )
    if idx is None:
        return None
    col = md.schema.column(idx)
    if col.physical_type != physical or col.converted_type not in converted:
        return None
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(idx).statistics
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif st is None or st.null_count != rg.num_rows:
            return None  # values present but no stats (e.g. > 4 KiB)
    return lo, hi


def _prunable(path: str, files: list[str], cols: list[str]) -> list[str]:
    """The columns of ``cols`` that manifest stats and Blooms may
    describe: all but collated strings, whose order and equality are
    neither Python's (:func:`_may_hold`) nor those of their CAST(… AS
    STRING) (the Bloom's hash). The files of one commit share a schema,
    which the first file's footer records."""
    import pyarrow.parquet as pq

    if not files or not cols:
        return []
    md = pq.ParquetFile(os.path.join(path, "data", files[0])).metadata
    fields = _footer_fields(md)
    return [c for c in cols if not _collated(fields.get(c, {}))]


def _file_stats(spark, path: str, files: list[str], cols: list[str]) -> dict:
    """Per-file min/max of ``cols``: ``{file: {col: [lo, hi]}}`` (the
    manifest-side analogue of parquet footer stats, queryable without
    opening footers; a file with no rows gets no entry). Integer, string
    and date columns are read from the files' parquet footers, with no
    Spark job; every other (file, column) pair takes one column-pruned
    aggregate over just the files that need it. Values are stored
    through :func:`_stats_encode`, so temporal/decimal/binary keys are
    JSON-safe — the encode failure used to surface as a json.dump
    TypeError AFTER data files were written (orphaning them). Collated
    string columns get no stats (:func:`_prunable`)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    cols = _prunable(path, files, cols)
    out: dict = {}
    if not cols:
        return out
    todo = []
    for f in files:
        md = pq.ParquetFile(os.path.join(path, "data", f)).metadata
        if md.num_rows == 0:
            continue
        fields = _footer_fields(md)
        got = {c: _footer_minmax(md, fields.get(c)) for c in cols}
        if None in got.values():
            todo.append(f)
        else:
            out[f] = {c: [_stats_encode(v) for v in s] for c, s in got.items()}
    if not todo:
        return out
    df = spark.read.parquet(*_paths(path, "data", todo))
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    rows = (
        df.groupBy(F.col("_metadata.file_name").alias("f")).agg(*aggs).collect()
    )
    for r in rows:
        out[r["f"]] = {
            c: [_stats_encode(r[f"lo_{c}"]), _stats_encode(r[f"hi_{c}"])]
            for c in cols
        }
    return out


_BLOOM_K, _BLOOM_M = 3, 1020


def _file_blooms(
    spark,
    path: str,
    files: list[str],
    cols: list[str],
    m_bits: int = _BLOOM_M,
) -> dict:
    """Per-file Bloom lanes for ``cols`` — ``{file: {col: {"m": m_bits,
    "lanes": {lane: bits}}}}`` (60-bit bigint lanes, the certified
    ext/heavy_hitters layout with the md5 hash family). One
    column-pruned scan of the named files; the aggregate output is
    O(files × lanes) rows, driver-safe at manifest scale. Values are
    hashed through their CAST(… AS STRING) form so the driver-side
    probe (:func:`snapshot_lookup_files`) reproduces positions exactly;
    NULLs are not members (a NULL probe key is unsupported).

    Size ``m_bits`` ≈ 10 bits per distinct key per file (the parquet
    bloom rule of thumb) — an undersized filter saturates and degrades
    to "no pruning", never to wrong answers. Manifest-inline lanes are
    the small-table form; at very large file counts a production format
    moves the bitmap into per-file sidecars (parquet stores it in the
    footer), same probe protocol. Collated string columns get no Bloom
    (:func:`_prunable`)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from .ext.heavy_hitters import _bloom_pos

    cols = _prunable(path, files, cols)
    if not cols:
        return {}
    df = spark.read.parquet(*_paths(path, "data", files)).select(
        F.col("_metadata.file_name").alias("f"),
        *[F.col(c).cast("string").alias(c) for c in cols],
    )
    out: dict = {}
    for c in cols:
        positions = reduce(
            lambda a, b: a.unionByName(b),
            [
                df.select("f", _bloom_pos(F.col(c), i, m_bits).alias("p"))
                for i in range(_BLOOM_K)
            ],
        ).where(F.col("p").isNotNull())
        rows = (
            positions.groupBy("f", F.expr("p div 60").alias("lane"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 60 AS INT)))"
                ).alias("bits")
            )
            .collect()
        )
        for r in rows:
            out.setdefault(r["f"], {}).setdefault(
                c, {"m": m_bits, "lanes": {}}
            )["lanes"][str(r["lane"])] = r["bits"]
    return out


def _bloom_may_contain(entry: dict, value) -> bool:
    """Driver-side probe of one per-file Bloom: all k bit positions of
    ``str(value)`` must be set. Bit positions replicate
    ext/heavy_hitters._bloom_pos's md5 formula exactly. ``entry`` is
    the ``{"m": …, "lanes": …}`` manifest record (a bare lane dict from
    a pre-sizing manifest reads as m = 1020)."""
    import hashlib

    if "m" in entry and "lanes" in entry:
        m_bits, lanes = int(entry["m"]), entry["lanes"]
    else:  # legacy manifests: bare lane dict at the default size
        m_bits, lanes = _BLOOM_M, entry
    for i in range(_BLOOM_K):
        p = (
            int(
                hashlib.md5(
                    (str(value) + f":bloom{i}").encode()
                ).hexdigest()[:8],
                16,
            )
            % m_bits
        )
        if not (int(lanes.get(str(p // 60), 0)) >> (p % 60)) & 1:
            return False
    return True


def snapshot_lookup_files(
    path: str, col: str, values, version: int | None = None
) -> list[str]:
    """The files of a version that MAY contain any of ``values`` in
    ``col``, per the manifest's per-file Blooms (``snapshot_write(
    bloom_cols=...)``) — pure metadata, no Spark session. Files without
    a recorded Bloom for ``col`` are returned conservatively. No false
    negatives (Bloom guarantee); a point lookup of an absent key prunes
    to zero files with probability (1 − fp_rate)^files. A collated
    string column has no Bloom, so every file is returned."""
    return _bloom_pick(_resolve(path, version)[1], col, values)


def _bloom_pick(m: dict, col: str, values) -> list[str]:
    """The files of manifest ``m`` whose Bloom for ``col`` admits one of
    ``values``; a file with no Bloom for ``col`` may hold any."""
    blooms = m.get("blooms", {})

    def may(f: str) -> bool:
        entry = blooms.get(f, {}).get(col)
        if entry is None:
            return True
        return any(_bloom_may_contain(entry, x) for x in values)

    return [f for f in m["files"] if may(f)]


def snapshot_lookup(
    spark, path: str, col: str, values, version: int | None = None
) -> DataFrame:
    """Point/IN-list lookup with Bloom file skipping: open ONLY the
    files whose per-file Bloom admits at least one probe value, then
    apply the exact ``col IN values`` predicate (and any deletion
    vectors). Min/max stats (:func:`snapshot_scan`) prune RANGE
    predicates on clustered columns; the Bloom prunes POINT lookups on
    columns no layout clusters — the Delta/Iceberg bloom-filter-index
    analogue. Same rows as ``snapshot_read(...).where(col.isin(values))``
    by construction (no false negatives). A collated string column has
    no Bloom, so every file is read. 100 TB: pruning is a
    driver-side manifest walk (k md5s per file × value); the read
    touches the surviving files only."""
    from pyspark.sql import functions as F

    _, m = _resolve(path, version)
    picked = _bloom_pick(m, col, values)
    pred = F.col(col).isin(list(values)) if picked else F.lit(False)
    return _read_files(spark, path, m, picked or m["files"]).where(pred)


_ANY = object()  # _publish's base: a commit valid onto any latest version


def _publish(path: str, op: str, build, base=_ANY) -> int:
    """Atomically publish the next version. ``build(latest_manifest)``
    returns the manifest entries (:func:`_carry`'s, plus any meta) and is
    re-invoked on a lost create-if-absent race, so an append that loses
    includes the winner's files on retry (no lost update). A commit
    computed from version ``base`` raises ``_Conflict`` instead when the
    latest version is another one."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    while True:
        v, latest = _resolve(path, missing_ok=True)
        if base is not _ANY and v != base:
            raise _Conflict
        entries = build(latest)
        # resume numbering past the vacuum horizon: a vacuum that dropped
        # every manifest must not make the next commit reuse version 1
        # (folded history is keyed by version number)
        if v is None:
            v = _read_meta(path)["vacuum_horizon"] - 1
        version = v + 1
        manifest = {
            "version": version,
            "op": op,
            "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
            **entries,
        }
        target = os.path.join(_manifest_dir(path), f"v{version:010d}.json")
        # write the FULL manifest to a temp file first, then hard-link it
        # into place: link() is create-if-absent AND the linked file is
        # complete, so a concurrent reader can never see torn JSON (the
        # bare open("x") + dump had that window)
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, target)
            return version
        except FileExistsError:
            continue  # lost the race: re-resolve latest and retry
        finally:
            os.unlink(tmp)


def _occ(path: str, what: str, max_retries: int, attempt, missing_ok=False) -> int:
    """The one optimistic-concurrency loop. ``attempt(manifest)`` computes
    a commit against the latest version and returns its ``(op,
    entries)``, or ``None`` to return that version without committing.
    A commit landing in between restarts the operation from the new
    latest version — publishing the stale result could drop the racer's
    rows; the abandoned attempt's files are unreferenced and reclaimed
    by :func:`vacuum`. ``max_retries`` lost races raise
    :class:`ConcurrentSnapshotError`."""
    for _ in range(max_retries):
        base, m = _resolve(path, missing_ok=missing_ok)
        out = attempt(m)
        if out is None:
            return base
        op, entries = out
        try:
            return _publish(path, op, lambda latest: entries, base=base)
        except _Conflict:
            continue
    raise ConcurrentSnapshotError(
        f"{what} at {path} lost {max_retries} publish races; giving up"
    )


def snapshot_add_constraint(path: str, name: str, expr: str) -> None:
    """Register a table-level CHECK constraint (Delta ``ALTER TABLE ADD
    CONSTRAINT`` semantics): every subsequent :func:`snapshot_write`
    validates its batch against ``expr`` BEFORE any data file is
    written and refuses the commit on violation. SQL three-valued
    semantics: a row violates only when the expression evaluates FALSE
    — NULL passes, as in the standard. Constraints live in the
    ``_meta.json`` sidecar, so they survive vacuum like the batch-id
    ledger. Existing data is NOT retro-checked (same as Delta, which
    requires the table to already satisfy a new constraint — run
    ``ext/profiling.check_constraints`` for the audit)."""
    meta = _read_meta(path)
    cons = dict(meta.get("constraints", {}))
    cons[name] = expr
    meta["constraints"] = cons
    os.makedirs(path, exist_ok=True)
    _write_meta(path, meta)


def snapshot_drop_constraint(path: str, name: str) -> None:
    """Remove a CHECK constraint registered by
    :func:`snapshot_add_constraint`; unknown names raise KeyError."""
    meta = _read_meta(path)
    cons = dict(meta.get("constraints", {}))
    del cons[name]
    meta["constraints"] = cons
    _write_meta(path, meta)


def _enforce_constraints(df: DataFrame, checks: dict) -> None:
    """One aggregate pass counting FALSE rows per constraint; raises
    ValueError naming every violated constraint with its row count.
    Runs BEFORE data files are written — a refused batch leaves no
    orphans and no version."""
    from pyspark.sql import functions as F

    if not checks:
        return
    aggs = [
        F.sum(
            F.when(F.expr(e) == False, 1).otherwise(0)  # noqa: E712
        ).alias(n)
        for n, e in checks.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {n: row[n] for n in checks if row[n]}
    if bad:
        detail = ", ".join(
            f"{n} ({bad[n]} rows): {checks[n]}" for n in sorted(bad)
        )
        raise ValueError(f"CHECK constraint violated — {detail}")


def _write_indexed(
    df: DataFrame, path: str, keep_empty: bool, stats_cols, bloom_cols, bloom_bits
) -> tuple[list[str], dict]:
    """Write ``df`` into data files and index them: their names, and
    their per-file manifest entries (stats on ``stats_cols``, row counts,
    Blooms on ``bloom_cols``)."""
    new_files, counts = _write_data_files(df, path, keep_empty=keep_empty)
    spark = df.sparkSession
    return new_files, {
        "stats": _file_stats(spark, path, new_files, stats_cols or []),
        "row_counts": counts,
        "blooms": _file_blooms(
            spark, path, new_files, bloom_cols or [], m_bits=bloom_bits
        ),
    }


def snapshot_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
    check: str | None = None,
) -> int:
    """Commit ``df`` to the versioned table at ``path``; returns the new
    version. ``mode="append"`` keeps prior files live, ``"overwrite"``
    starts the listing fresh (old versions stay readable — overwrite is
    logical, not physical). Retries the manifest publish on a lost race.
    ``meta`` keys are recorded in the manifest (e.g. the streaming sink's
    ``batch_id``); ``stats_cols`` records per-file min/max for those
    columns, which :func:`snapshot_merge` (on its leading key) and
    :func:`snapshot_scan` use to skip files (carried-forward files keep
    their recorded stats);
    ``bloom_cols`` records per-file Bloom lanes for point-lookup file
    skipping (:func:`snapshot_lookup`). ``check`` is an ad-hoc CHECK
    expression for this batch; table-level constraints registered via
    :func:`snapshot_add_constraint` are always enforced (both BEFORE
    any file is written — a refused batch leaves nothing behind).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode: {mode}")
    checks = dict(_read_meta(path).get("constraints", {}))
    if check is not None:
        checks["<batch check>"] = check
    _enforce_constraints(df, checks)
    _, cur = _resolve(path, missing_ok=True)
    # an empty batch appended to a listed file adds no file
    alone = mode == "overwrite" or not (cur and cur["files"])
    new_files, new = _write_indexed(
        df, path, alone, stats_cols, bloom_cols, bloom_bits
    )

    def build(latest):
        # an append carries the base's entries, deletion vectors included
        base = latest if mode == "append" else None
        files = (base["files"] if base else []) + new_files
        return {**_carry(base, files, new), **(meta or {})}

    return _publish(path, mode, build)


def snapshot_read(
    spark,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """The table as of ``version`` (default: latest). The returned plan
    names the snapshot's exact files, so later commits cannot change what
    this DataFrame reads. ``merge_schema=True`` unions the schemas of all
    the version's files (schema EVOLUTION: files appended before a column
    existed read it as NULL — the Delta/Iceberg add-column semantics);
    the default reads with the first file's schema, which is cheaper and
    right for schema-stable tables."""
    _, m = _resolve(path, version)
    return _read_files(spark, path, m, m["files"], merge_schema)


def _history_row(m: dict) -> dict:
    return {
        "version": m["version"],
        "op": m["op"],
        "ts": m["ts"],
        "n_files": len(m["files"]),
    }


def snapshot_history(path: str) -> list[dict]:
    """All committed versions, oldest first: version, op, ts, n_files.
    Vacuumed versions survive as summary rows folded into ``_meta.json``
    (their manifests are gone, so they are no longer time-travelable —
    the history record is what remains)."""
    out = list(_read_meta(path)["history"])
    return out + [_history_row(m) for _, m in _manifests(path)]


def vacuum(
    path: str, keep_versions: int = 1, min_age_seconds: float = 3600.0
) -> list[str]:
    """GC: drop manifests older than the newest ``keep_versions`` and
    delete data files no retained manifest references (orphans from lost
    commit races are collected too). Returns the deleted file names.
    Readers of vacuumed versions break — same contract as Delta VACUUM.

    ``min_age_seconds`` guards the commit race: a concurrent writer's
    data files exist BEFORE its manifest publishes, so an unreferenced
    file younger than the grace window is an in-flight commit, not an
    orphan, and is left alone (Delta VACUUM's retention check, applied
    to unreferenced files). Pass 0 only when no writer can be active."""
    vs = _versions(path)
    keep = vs[-keep_versions:] if keep_versions > 0 else []
    live: dict[str, set[str]] = {"data": set(), "dv": set()}
    for v in keep:
        m = _read_manifest(path, v)
        live["data"].update(m["files"])
        live["dv"].update(m.get("dvs", []))
    deleted = []
    now = time.time()
    # deletion-vector sidecars GC by the same rule as data files (a delete
    # commit's consolidation de-references its predecessors' DV files)
    for sub, names in live.items():
        for f in glob.glob(os.path.join(path, sub, "*.parquet")):
            if os.path.basename(f) in names:
                continue
            if now - os.path.getmtime(f) < min_age_seconds:
                continue  # young unreferenced file = likely in-flight commit
            os.remove(f)
            deleted.append(os.path.basename(f))
    dropped = [v for v in vs if v not in keep]
    if dropped:
        # Fold the to-be-deleted manifests' durable state (streaming dedup
        # batch ids + history rows + the new retention horizon) into the
        # _meta.json sidecar BEFORE removing them — vacuum must never erase
        # the exactly-once ledger (a stream restarted from an old checkpoint
        # would otherwise double-append a vacuumed-away batch), and fsck
        # validates the retained suffix against the recorded horizon. The
        # write is atomic (tmp + rename); a crash between meta write and
        # manifest removal only leaves duplicate ids/history rows, which
        # the set-union / version-keyed merge absorbs on the next vacuum.
        meta = _read_meta(path)
        ids = set(meta["batch_ids"])
        hist = {h["version"]: h for h in meta["history"]}
        for v in dropped:
            m = _read_manifest(path, v)
            if m.get("batch_id") is not None:
                ids.add(int(m["batch_id"]))
            hist[v] = _history_row(m)
        horizon = min(keep) if keep else (vs[-1] + 1 if vs else 1)
        _write_meta(
            path,
            {
                **meta,  # preserve constraints and any future sidecar keys
                "vacuum_horizon": max(meta["vacuum_horizon"], horizon),
                "batch_ids": sorted(ids),
                "history": [hist[v] for v in sorted(hist)],
            },
        )
    for v in dropped:
        os.remove(os.path.join(_manifest_dir(path), f"v{v:010d}.json"))
    return sorted(deleted)


def _orderable(v) -> bool:
    """Whether ``v`` takes part in a total order: NULL and NaN do not."""
    return v is not None and v == v


def _may_hold(s, los, his) -> bool:
    """The one pruning rule over manifest stats: whether a file whose
    recorded ``[lo, hi]`` for a column is ``s`` may hold a value in one
    of the sorted, disjoint ranges ``[los[i], his[i]]``. It may when it
    has no stats, or a bound is NULL or NaN (no total order holds them).
    Collated strings record no stats (:func:`_prunable`)."""
    import bisect

    if s is None:
        return True
    lo, hi = _stats_decode(s[0]), _stats_decode(s[1])
    if not (_orderable(lo) and _orderable(hi)):
        return True
    i = bisect.bisect_left(his, lo)
    return i < len(his) and los[i] <= hi


def _footer_read(spark, path: str, names: list[str]) -> DataFrame:
    """A read of the data files ``names``, one commit's, with the Spark
    schema the first one's footer records: no schema-inference job."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = _paths(path, "data", names)
    kv = pq.ParquetFile(files[0]).metadata.metadata
    schema = StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(*files)


def _empty_read(spark, path: str, name: str) -> DataFrame:
    """A zero-row read of data file ``name``, with the Spark schema its
    footer records: no schema-inference job, and no scan once optimized."""
    return _footer_read(spark, path, [name]).limit(0)


def _loose(field):
    """A field's schema JSON without its nullability, at every level:
    a file source reads every column as nullable."""
    if isinstance(field, dict):
        return {
            k: _loose(v) for k, v in field.items()
            if k not in ("nullable", "containsNull", "valueContainsNull")
        }
    if isinstance(field, list):
        return [_loose(v) for v in field]
    return field


def _conform(spark, path: str, m: dict | None, rows: DataFrame) -> DataFrame:
    """The upsert set ``rows`` in the schema of manifest ``m``'s table.
    Rows whose column names, order, types and metadata equal those the
    first listed file's footer records, nullability aside, are returned
    as they are — as is every set onto a table with no file. Any other
    set is unioned onto :func:`_empty_read`, which takes the table's
    column order and widens types as a union does."""
    import pyarrow.parquet as pq

    if not (m and m["files"]):
        return rows
    md = pq.ParquetFile(os.path.join(path, "data", m["files"][0])).metadata
    table = [_loose(f) for f in _footer_fields(md).values()]
    if table == [_loose(f.jsonValue()) for f in rows.schema.fields]:
        return rows
    base = _empty_read(spark, path, m["files"][0])
    return base.unionByName(rows.select(*base.columns))


def _lead_keys(found: set, n: int) -> list | None:
    """The sorted distinct leading keys ``found`` of a change set, or
    ``None`` (every file is hot) when there are ``n`` of them — the
    driver-size guard — or one is NULL or NaN."""
    if len(found) < n and all(map(_orderable, found)):
        return sorted(found)
    return None


def _hot_cold(m: dict | None, lead: str, ckeys) -> tuple[list[str], list[str]]:
    """The files of manifest ``m`` split into those whose recorded
    ``[lo, hi]`` for ``lead`` may hold one of the sorted leading keys
    ``ckeys`` (``None``: every file) and the others."""
    files, stats = (m["files"], m.get("stats", {})) if m else ([], {})
    hot, cold = [], []
    for f in files:
        s = stats.get(f, {}).get(lead)
        may = ckeys is None or _may_hold(s, ckeys, ckeys)
        (hot if may else cold).append(f)
    return hot, cold


def snapshot_merge(
    spark,
    path: str,
    changes: DataFrame,
    keys: list[str],
    *,
    seq_col: str = "seq",
    op_col: str | None = "op",
    max_change_keys: int = _MAX_DRIVER_KEYS,
    max_retries: int = 10,
) -> int:
    """MERGE INTO for the versioned table: apply ``changes`` keyed on
    ``keys`` onto the latest snapshot and commit the result as one atomic
    ``"merge"`` version. Readers see the pre-merge or the post-merge
    table, never a mix; the pre-merge version stays time-travelable.
    Merging into a path with no version creates the table (Delta's
    create-on-first-merge). ``changes`` takes one of two forms:

    * a CDC log (``op_col`` names its op column): keyed upserts and
      deletes, applied by :func:`operators.diff.apply_cdc` — highest
      ``seq_col`` per key wins, 'D' deletes, later 'U' resurrects;
    * an upsert set (``op_col=None``): every row replaces its key's row
      or inserts it, the reference's ``update_one($set)`` else
      ``insert_one``. The set has no seq or op column, and a key may
      appear once: a repeated key (NULL components equal) raises
      ValueError before anything is published, and no file is left.

    Copy-on-write per FILE, pruned on ``keys[0]`` (Delta's min/max data
    skipping): a file is hot when its recorded ``[lo, hi]`` for
    ``keys[0]`` contains one of the leading keys; only hot files are read
    (with their deletion vectors applied) and rewritten, and every cold
    file is carried forward BY NAME with its stats, row count, deletion
    vector and Bloom. Every file is hot when it has no stats, when the
    change set holds more than ``max_change_keys`` keys (a driver-size
    guard, above which the distinct leading keys are collected instead),
    when a leading key is NULL or NaN, or when ``keys[0]`` is a collated
    string (which records no stats) — the whole-table rewrite is the
    degenerate case, with the same result. Every merge records stats on
    ``keys[0]`` and on the columns the base version records for the files
    it writes, so a table built by merges prunes from its second merge on.

    The CDC log is materialized once, and its keys are collected once.
    Insert-only path (Delta's insert-only MERGE): when no file is hot and
    the driver sees no key twice in the log, the new files are the log's
    'U' rows alone — no keep-last window, so no shuffle. The driver
    judges repeats only where its equality is Spark's (integer, date and
    default-collation string keys, :func:`_exact_keys`); any other key
    type, or a log over the guard, takes ``apply_cdc``. The path writes
    one file per non-empty partition of the materialized log.

    The upsert set is written once, as it is, before the split: its own
    plan and the write are its only jobs, and the driver reads the
    written files' keys with pyarrow (:func:`_file_keys`). With no hot
    file the written files are the new ones; otherwise ``apply_cdc``
    rewrites the hot files with the written rows (read back with their
    own schema, at seq 1 and op 'U'), and the written files are deleted
    once the version that replaces them is published. Where the driver
    cannot judge keys as Spark does — a key that is not a top-level
    column of a type :func:`_exact_keys` accepts, more than
    ``max_change_keys`` rows, or legacy-rebased dates — one aggregate
    over the written files finds a repeated key and a second collects
    the distinct leading keys; both sides give the same table and the
    same error. Conformance: a set whose column names, order and types
    equal the table's, nullability aside (Spark reads every file column
    as nullable), is written as it is; any other is unioned onto a
    zero-row read of the table first, which orders and widens its
    columns as the table's (:func:`_conform`).

    Concurrency: the hot/cold split is only valid against the exact
    version it was computed from, so a commit landing in between
    RESTARTS the merge from the new latest version (:func:`_occ`); an
    upsert set's written files are reused, not written again.
    ``max_retries`` conflicts → :class:`ConcurrentSnapshotError`."""
    if op_col is None:
        return _merge_upsert(
            spark, path, changes, keys, max_change_keys, max_retries
        )
    from pyspark.sql import functions as F

    from .operators.diff import apply_cdc
    from .planmode import checkpoint

    lead = keys[0]
    changes = checkpoint(changes)
    # a short log's keys come back without a shuffle; a long one pays for
    # DISTINCT to learn whether its leading keys are over the guard
    n = max_change_keys + 1
    key_cols = changes.select(*keys)  # keys may name nested fields
    fields = key_cols.schema.fields
    rows = key_cols.limit(n).collect()
    # NULL components compare equal here, as in apply_cdc's partitions
    unique = (
        len(rows) < n and _exact_keys(fields) and len(set(rows)) == len(rows)
    )
    if len(rows) == n:
        rows = changes.select(lead).distinct().limit(n).collect()
    ckeys = _lead_keys({r[0] for r in rows}, n)

    def attempt(m):
        hot, cold = _hot_cold(m, lead, ckeys)
        if hot:
            base = _read_files(spark, path, m, hot)
        elif cold:  # nothing to rewrite: no rows, the table's schema
            base = _empty_read(spark, path, cold[0])
        else:  # create-on-first-merge: the change log's row shape
            base = changes.drop(seq_col, op_col).limit(0)
        if hot or not unique:
            merged = apply_cdc(
                base, changes, keys, seq_col=seq_col, op_col=op_col
            ).drop(seq_col)
        else:  # every key is new to the table and once in the log
            cols = [c for c in base.columns if c not in (seq_col, op_col)]
            merged = base.select(*cols).unionByName(
                changes.where(F.col(op_col) == "U").select(*cols)
            )
        new_files, new_counts = _write_data_files(
            merged, path, keep_empty=not cold
        )
        new_stats = _file_stats(spark, path, new_files, _stats_cols(m, [lead]))
        new = {"stats": new_stats, "row_counts": new_counts}
        return "merge", _carry(m, cold + new_files, new)

    return _occ(path, "merge", max_retries, attempt, missing_ok=True)


# The seq and op columns the upsert form adds for apply_cdc: private
# names, since an upsert set may hold columns named ``seq`` or ``op``.
_UPSERT_SEQ, _UPSERT_OP = "__upsert_seq", "__upsert_op"


def _merge_upsert(
    spark, path: str, rows: DataFrame, keys: list[str], limit: int, max_retries: int
) -> int:
    """The upsert-set form of :func:`snapshot_merge`."""
    from pyspark.sql import functions as F

    from .operators.diff import apply_cdc

    lead = keys[0]
    _, m = _resolve(path, missing_ok=True)
    rows = _conform(spark, path, m, rows)
    fields = rows.select(*keys).schema.fields  # analysis only, no job
    written, counts = _write_data_files(rows, path)
    listed: list[str] = []

    def attempt(m):
        nonlocal listed
        hot, cold = _hot_cold(m, lead, ckeys)
        if hot:
            ups = _footer_read(spark, path, written).select(
                "*", F.lit(1).alias(_UPSERT_SEQ), F.lit("U").alias(_UPSERT_OP)
            )
            merged = apply_cdc(
                _read_files(spark, path, m, hot), ups, keys,
                seq_col=_UPSERT_SEQ, op_col=_UPSERT_OP,
            ).drop(_UPSERT_SEQ)
            listed, new_counts = _write_data_files(
                merged, path, keep_empty=not cold
            )
        else:  # an empty set's one 0-row file is listed only alone
            listed = [f for f in written if counts[f]] or (
                [] if cold else written
            )
            new_counts = {f: counts[f] for f in listed}
        new_stats = _file_stats(spark, path, listed, _stats_cols(m, [lead]))
        new = {"stats": new_stats, "row_counts": new_counts}
        return "merge", _carry(m, cold + listed, new)

    try:
        ckeys = _upsert_leads(spark, path, written, keys, fields, limit)
        version = _occ(path, "merge", max_retries, attempt, missing_ok=True)
    except BaseException:
        listed = []  # nothing is published: no written file is kept
        raise
    finally:
        for f in _paths(path, "data", [f for f in written if f not in listed]):
            os.remove(f)
    return version


def _upsert_leads(
    spark, path: str, files: list[str], keys: list[str], fields, limit: int
) -> list | None:
    """The sorted distinct leading keys of the upsert set written to data
    files ``files``, or ``None`` when every file is hot
    (:func:`_lead_keys`); a repeated key raises ValueError. ``fields``
    are the keys' StructFields. The driver reads the keys from the files
    when its equality is Spark's; otherwise one aggregate over the files
    finds a repeated key and a second collects the leading keys."""
    top = [f.name for f in fields] == list(keys)  # a nested key is not
    got = None
    if top and _exact_keys(fields):
        got, _ = _file_keys(_paths(path, "data", files), keys, limit)
    n = limit + 1
    if got is not None:
        # NULL components compare equal here, as in a Spark GROUP BY
        repeated = len(set(got)) < len(got)
        found = {k[0] for k in got}
    else:
        df = _footer_read(spark, path, files)
        repeated = bool(
            df.groupBy(*keys).count().where("count > 1").limit(1).collect()
        )
        found = set() if repeated else {
            r[0] for r in df.select(keys[0]).distinct().limit(n).collect()
        }
    if repeated:
        raise ValueError(f"the upsert set repeats a key on {list(keys)}")
    return _lead_keys(found, n)


def snapshot_delete_dv(
    spark,
    path: str,
    predicate=None,
    *,
    keys: DataFrame | None = None,
    key_col: str | None = None,
    max_retries: int = 10,
) -> int:
    """Row-level DELETE via deletion vectors — the Delta Lake
    merge-on-read delete: instead of rewriting every data file touched
    by the predicate (copy-on-write, O(touched gigabytes) for a
    ten-row GDPR delete), record the deleted ROW POSITIONS in a small
    parquet sidecar and publish a metadata commit. Data files are
    untouched (pinned by mtime in pytest); readers apply the DV as a
    broadcast anti-join on ``(_metadata.file_name,
    _metadata.row_index)`` — positions are stable because data files
    are immutable.

    Consolidation: each delete commit rewrites the live DV set as ONE
    distinct union of (existing DVs ∪ new matches), restricted to the
    current file list — so ``dv_counts`` is exact under overlapping
    re-deletes, a replay of the same predicate is a no-op (returns the
    current version without committing), and old DV files become
    unreferenced (reclaimed by :func:`vacuum`).

    ``predicate`` is a Column or SQL string over the table's columns;
    alternatively pass ``keys`` (a DataFrame of key values) +
    ``key_col`` to delete by key LIST — the GDPR/right-to-be-forgotten
    shape: the list never round-trips the driver, it semi-joins the
    scan (broadcast — delete lists are small by the DV contract).
    Exactly one of the two forms must be given. Replaying the same
    delete (same predicate or same key list) is a no-op, which makes a
    streaming foreachBatch fold of delete batches idempotent under
    retries with no extra ledger.
    Concurrency: the matched positions are only valid against the base
    version they were scanned from; a commit landing in between
    restarts the delete (same contract as :func:`snapshot_merge`).

    100 TB: the predicate scan is one pushdown-filtered pass; the DV
    sidecar is O(deleted rows); every subsequent read pays a broadcast
    anti-join on the dirty files only. Physical reclamation is
    :func:`snapshot_purge_dv` (rewrites ONLY dirty files) or any
    overwrite/OPTIMIZE commit.
    """
    from pyspark.sql import functions as F

    if (predicate is None) == (keys is None):
        raise ValueError("pass exactly one of predicate / keys+key_col")
    if keys is not None and key_col is None:
        raise ValueError("keys requires key_col")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate

    def attempt(m):
        files = m["files"]
        scan = spark.read.parquet(*_paths(path, "data", files)).select(
            F.col("_metadata.file_name").alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_pos"),
            "*",
        )
        if keys is not None:
            scan = scan.join(
                F.broadcast(keys.select(key_col).distinct()),
                key_col,
                "left_semi",
            )
        else:
            scan = scan.where(pred)
        matches = scan.select(
            F.col("__dv_file").alias("file"),
            F.col("__dv_pos").alias("pos"),
        )
        old = m.get("dvs")
        if old:
            matches = matches.unionByName(
                spark.read.parquet(*_paths(path, "dv", old))
            )
        dv_set = (
            matches.where(F.col("file").isin(files)).distinct().cache()
        )
        try:
            per_file = {
                r["file"]: r["n"]
                for r in dv_set.groupBy("file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if sum(per_file.values()) == sum(m.get("dv_counts", {}).values()):
                return None  # nothing newly deleted: no-op
            # one DV file: DVs are small by contract (row-level deletes);
            # a production format shards one bitmap per data file
            dvs, _ = _write_data_files(dv_set.coalesce(1), path, subdir="dv")
        finally:
            dv_set.unpersist()
        # data files unchanged: their stats, counts and Blooms still hold
        return "delete_dv", _carry(m, files, {"dv_counts": per_file, "dvs": dvs})

    return _occ(path, "delete", max_retries, attempt)


def snapshot_purge_dv(spark, path: str, *, max_retries: int = 10) -> int:
    """Materialize deletion vectors: rewrite ONLY the dirty files (the
    ones with recorded deletions) with their DVs applied, carry every
    clean file forward BY NAME, and publish a version with no DVs —
    the maintenance compaction that turns merge-on-read debt back into
    clean scans. At 100 TB this is the entire point of the DV design:
    a delete touching 3 files costs 3 file rewrites at purge time, not
    a table rewrite at delete time. No-op (returns current version) if
    the latest version has no DVs. Pre-purge versions still time-travel
    with their DVs applied. The rewritten files record stats on the
    columns the base version records, so they prune as before."""

    def attempt(m):
        if not m.get("dvs"):
            return None
        dv_counts = m["dv_counts"]
        dirty = [f for f in m["files"] if dv_counts.get(f)]
        clean = [f for f in m["files"] if not dv_counts.get(f)]
        new_files, new_counts = _write_data_files(
            _read_files(spark, path, m, dirty), path, keep_empty=not clean
        )
        new_stats = _file_stats(spark, path, new_files, _stats_cols(m))
        new = {"stats": new_stats, "row_counts": new_counts}
        return "purge_dv", _carry(m, clean + new_files, new)

    return _occ(path, "purge", max_retries, attempt)


def committed_batch_ids(path: str) -> set[int]:
    """Batch ids already committed by :func:`snapshot_stream_sink`:
    the union of ids recorded in retained manifests and ids folded into
    ``_meta.json`` by :func:`vacuum` — so vacuuming old manifests can
    never erase the exactly-once dedup ledger."""
    return _ledger(path)[0]


def _ledger(path: str, after: int = 0) -> tuple[set[int], int]:
    """The batch ids of retained manifests newer than version ``after``
    (from 0, with the ids :func:`vacuum` folded into ``_meta.json``), and
    the newest version read (``after`` when none is)."""
    folded = [] if after else _read_meta(path)["batch_ids"]
    ids, last = set(int(b) for b in folded), after
    for v, m in _manifests(path, after):
        if m.get("batch_id") is not None:
            ids.add(int(m["batch_id"]))
        last = v
    return ids, last


def snapshot_stream_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    mode: str = "append",
    optimize_every: int | None = None,
    zorder_cols: list[str] | None = None,
    n_files: int = 8,
):
    """Exactly-once streaming sink: each micro-batch becomes ONE atomic
    snapshot commit whose manifest records the batch id, and a replayed
    batch (failure retry, or a restart re-delivering from the checkpoint)
    is skipped because its id is already committed — Spark's standard
    exactly-once contract (checkpointed offsets + idempotent-by-batchId
    sink), here with the dedup ledger inside the table itself.

    ``optimize_every=N`` folds table maintenance into the stream: after
    every Nth batch commit the sink runs :func:`snapshot_optimize`
    (compaction, z-order-clustered when ``zorder_cols`` given) — the
    answer to micro-batch small-file accretion without a separate
    maintenance job. The optimize commit carries no batch id, so replay
    dedup is unaffected; readers stay snapshot-isolated throughout.
    Returns the DataStreamWriter; caller picks the trigger and starts it.

    The committed-id set is loaded ONCE (manifests + the vacuum-surviving
    ``_meta.json`` ledger) and cached in the sink, then INCREMENTALLY
    refreshed each batch from manifests newer than the cached load point
    — the steady-state per-batch cost is one directory glob plus reads
    of only the manifests published since the last batch (usually just
    this sink's own), not an O(versions) rescan. The refresh means a
    second writer against the same table (another sink instance, or a
    manual ``snapshot_write`` carrying a ``batch_id``) is SEEN rather
    than silently breaking exactly-once dedup behind a stale cache; the
    single-stream-writer checkpoint contract still governs who should
    write, but violating it no longer corrupts the ledger.
    """
    commit = _stream_committer(path, mode, optimize_every, zorder_cols, n_files)
    return (
        stream_df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
    )


def _stream_committer(
    path: str,
    mode: str = "append",
    optimize_every: int | None = None,
    zorder_cols: list[str] | None = None,
    n_files: int = 8,
):
    """The foreachBatch closure behind :func:`snapshot_stream_sink`,
    exposed separately so the ledger-refresh behavior is directly
    testable without driving a real stream."""
    seen: set[int] = set()
    load_point = 0

    def commit(batch: DataFrame, batch_id: int) -> None:
        nonlocal load_point
        # Re-verify against manifests published since our cached load
        # point (ADVICE r2: the once-per-stream cache silently missed a
        # concurrent writer's batch ids). Cheap: glob + only-new reads.
        # The first batch seeds from the vacuum-surviving _meta.json
        # ledger and then reads the listed manifests through the SAME
        # read — one read per manifest per sink lifetime, no double
        # startup scan, no race window between ledger and listing.
        new, load_point = _ledger(path, load_point)
        seen.update(new)
        if batch.isEmpty() or batch_id in seen:
            return
        snapshot_write(batch, path, mode=mode, meta={"batch_id": batch_id})
        seen.add(batch_id)
        if optimize_every and (batch_id + 1) % optimize_every == 0:
            snapshot_optimize(
                batch.sparkSession,
                path,
                zorder_cols=zorder_cols,
                n_files=n_files,
            )

    return commit


def snapshot_scan(
    spark,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Data-skipping read: open ONLY the files whose recorded [min, max]
    for ``col`` intersects [lo, hi] (manifest stats from
    ``snapshot_write(stats_cols=...)``), then apply the exact predicate —
    the reader-side twin of :func:`snapshot_merge`'s pruning, and
    the manifest-level form of parquet footer skipping: with a clustered
    ``col`` a selective scan opens a handful of files out of thousands.
    Files without stats are read conservatively; so is every file for a
    collated string column, which records no stats (its order is not
    Python's). Same rows as
    ``snapshot_read(...).where(lo <= col <= hi)``, by construction.
    """
    return snapshot_scan_multi(spark, path, {col: (lo, hi)}, version=version)


def snapshot_scan_multi(
    spark,
    path: str,
    preds: dict,
    version: int | None = None,
) -> DataFrame:
    """Multi-column data-skipping read: ``preds`` maps column → (lo, hi);
    a file is opened only if EVERY predicate's range intersects its
    recorded [min, max] (conjunctive pruning — the z-order companion:
    clustering on (a, b) makes both columns' per-file ranges tight, so
    two-column point lookups prune to ~one file). Missing stats on a
    column read conservatively. The exact predicate conjunction is
    applied after pruning, so the result equals the unpruned filter."""
    from pyspark.sql import functions as F

    _, m = _resolve(path, version)
    stats = m.get("stats", {})

    def may_match(f: str) -> bool:
        return all(
            _may_hold(stats.get(f, {}).get(col), [lo], [hi])
            for col, (lo, hi) in preds.items()
        )

    exact = None
    for col, (lo, hi) in preds.items():
        c = (F.col(col) >= lo) & (F.col(col) <= hi)
        exact = c if exact is None else (exact & c)
    picked = [f for f in m["files"] if may_match(f)]
    pred = exact if picked else F.lit(False)
    return _read_files(spark, path, m, picked or m["files"]).where(pred)


def snapshot_count(path: str, version: int | None = None) -> int:
    """COUNT(*) of a snapshot from manifest row counts alone — no Spark
    job, no file opens (the footer counts are recorded at write time).
    Raises if the manifest predates row-count recording."""
    v, m = _resolve(path, version)
    counts = m.get("row_counts", {})
    missing = [f for f in m["files"] if f not in counts]
    if missing:
        raise ValueError(
            f"version {v} lacks row counts for {len(missing)} files "
            "(written before row-count manifests); read and count instead"
        )
    dv = m.get("dv_counts", {})
    return sum(counts[f] - dv.get(f, 0) for f in m["files"])


def snapshot_minmax(path: str, col: str, version: int | None = None):
    """Exact global (min, max) of ``col`` from manifest stats alone — no
    Spark job, no file opens (the reader-side twin of
    :func:`snapshot_count`'s metadata-only COUNT). Only valid when
    EVERY live file recorded stats for the column AND the version has
    no deletion vectors (a DV-deleted row may have been the extremum,
    and per-file stats cannot see that) — both cases raise rather than
    silently degrade, pushing the caller to the honest scan. A collated
    string column records no stats, so it raises too."""
    v, m = _resolve(path, version)
    if m.get("dvs"):
        raise ValueError(
            f"version {v} carries deletion vectors; metadata min/max "
            "would be wrong if a deleted row was the extremum — scan, "
            "or purge first"
        )
    los, his = [], []
    for f in m["files"]:
        s = m.get("stats", {}).get(f, {}).get(col)
        if s is None or s[0] is None:
            raise ValueError(
                f"version {v}: file {f} has no stats for {col!r} "
                "(write with stats_cols to enable metadata min/max)"
            )
        los.append(_stats_decode(s[0]))
        his.append(_stats_decode(s[1]))
    return min(los), max(his)


def snapshot_optimize(
    spark,
    path: str,
    zorder_cols: list[str] | None = None,
    n_files: int = 8,
    bits: int = 8,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_M,
) -> int:
    """OPTIMIZE as a snapshot commit: rewrite the latest version's rows
    into ``n_files`` right-sized files — Z-order clustered when
    ``zorder_cols`` is given — and publish atomically as a new version.
    Readers keep snapshot isolation throughout (pre-optimize versions
    remain time-travelable; a reader mid-scan of vN is untouched).
    ``stats_cols`` defaults to ``zorder_cols``, so the rewritten files'
    manifests carry the min/max ranges that make :func:`snapshot_scan`
    and :func:`snapshot_merge` effective — clustering is what
    turns those stats from decoration into pruning. The rewritten files
    also record stats on every column the latest version records, so a
    compaction never turns files that pruned into files every merge
    rewrites. Blooms are rebuilt only for ``bloom_cols``. Table-level
    CHECK constraints are enforced as by :func:`snapshot_write`.

    Concurrency: the rewrite holds the rows of the version it read, so a
    commit landing before its publish RESTARTS the compaction from the
    new latest version (:func:`_occ`) — publishing it would drop the
    racer's rows from this and every later version. Ten lost races
    raise :class:`ConcurrentSnapshotError`.
    """
    from pyspark.sql import functions as F

    from .operators.partitioning import zorder_key

    def attempt(m):
        df = _read_files(spark, path, m, m["files"])
        if zorder_cols:
            out = (
                zorder_key(df, zorder_cols, bits=bits)
                .repartitionByRange(n_files, F.col("zkey"))
                .sortWithinPartitions("zkey")
                .drop("zkey")
            )
        else:
            out = df.coalesce(n_files)
        _enforce_constraints(out, _read_meta(path).get("constraints", {}))
        new_files, new = _write_indexed(
            out, path, True, _stats_cols(m, stats_cols or zorder_cols or []),
            bloom_cols, bloom_bits,
        )
        return "overwrite", {**_carry(None, new_files, new), "optimized": True}

    return _occ(path, "optimize", 10, attempt)


def snapshot_restore(path: str, version: int) -> int:
    """RESTORE TABLE to an earlier version — committed as a NEW version
    whose file listing is the old version's (Delta RESTORE semantics:
    history moves forward, nothing is rewritten or deleted, and the
    restore itself is time-travelable/undoable). Data files are immutable
    and never renamed, so restoring is a metadata-only commit: the old
    manifest's files, stats, and row counts are republished verbatim.
    Raises if ``version`` was vacuumed (its files may be gone)."""
    _, old = _resolve(path, version)
    entries = {**_carry(old, old["files"]), "restored_from": version}
    return _publish(path, "restore", lambda latest: entries)


def snapshot_changes(
    spark,
    path: str,
    keys: list[str],
    compare_cols: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions — Delta's CDF
    derived from time travel instead of stored change files: read both
    snapshots and classify every key as added/removed/changed via
    operators.diff.snapshot_diff (null-safe, names the changed columns).
    O(both snapshots) per call — the honest cost of deriving changes
    from full-snapshot manifests; a stored per-commit change log is the
    optimization when callers poll every version.
    """
    from .operators.diff import snapshot_diff

    old = snapshot_read(spark, path, version=from_version)
    new = snapshot_read(spark, path, version=to_version)
    return snapshot_diff(old, new, keys, compare_cols)


def snapshot_appended_rows(
    spark, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Rows added between two versions of an APPEND-ONLY history, read
    from only the files present in ``to_version`` but not
    ``from_version`` — O(new data), no diff join, no old-version scan.
    The manifest file-name diff is exact because data files are
    immutable. Raises if any ``from_version`` file is gone from
    ``to_version`` (an overwrite/merge/optimize happened in between —
    row identity via file names no longer holds; use
    :func:`snapshot_changes` there)."""
    v_to, m_new = _resolve(path, to_version)
    _, m_old = _resolve(path, from_version)
    old = set(m_old["files"])
    new = m_new["files"]
    removed = old - set(new)
    if removed:
        raise ValueError(
            f"history v{from_version}->v{v_to} is not append-only "
            f"({len(removed)} files rewritten); use snapshot_changes"
        )
    if (m_old.get("dvs"), m_old.get("dv_counts")) != (
        m_new.get("dvs"),
        m_new.get("dv_counts"),
    ):
        raise ValueError(
            f"history v{from_version}->v{v_to} includes deletion-vector "
            "changes (rows removed without touching files); use "
            "snapshot_changes"
        )
    added = [f for f in new if f not in old]
    df = _read_files(spark, path, m_new, added or new)
    return df if added else df.limit(0)


def incremental_agg_update(
    prev_agg: DataFrame,
    new_rows: DataFrame,
    keys: list[str],
    agg_exprs: dict[str, str],
) -> DataFrame:
    """Incremental view maintenance for ADDITIVE aggregates: fold only
    the new rows' partial aggregate into the previous materialized
    aggregate — ``agg_exprs`` maps output column → 'sum' | 'count' | 
    'min' | 'max' (the merge-able aggregates; avg = maintain sum+count).
    Cost is O(new data + |aggregate|): the union re-aggregation combines
    two already-grouped inputs, never rescanning history. min/max are
    only correct under append-only history (deletes would need full
    recompute — exactly the contract snapshot_appended_rows enforces).
    """
    from pyspark.sql import functions as F

    # partial over the new rows, then merge with the previous aggregate:
    # count partials merge by SUM; sum/min/max merge by themselves. For
    # sum/min/max the measured column in new_rows must carry the OUTPUT
    # name (alias it before calling).
    combine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}

    def partial(out: str, kind: str):
        if kind == "count":
            return F.count(F.lit(1)).alias(out)
        return combine[kind](out).alias(out)

    delta = new_rows.groupBy(*keys).agg(
        *[partial(out, kind) for out, kind in agg_exprs.items()]
    )
    return (
        prev_agg.unionByName(delta)
        .groupBy(*keys)
        .agg(
            *[
                combine[kind](out).alias(out)
                for out, kind in agg_exprs.items()
            ]
        )
    )


def snapshot_fsck(path: str) -> dict:
    """Table integrity check — what an operator runs before trusting a
    snapshot table after an incident:

    * ``versions_ok`` — the retained manifests are a contiguous ascending
      suffix of the version sequence, starting no earlier than the
      recorded vacuum horizon (anchoring at 1 falsely flagged every
      healthy vacuumed table, since :func:`vacuum` deletes old manifests
      by design),
    * ``missing_files`` — files named by a manifest but absent on disk
      (data loss: affected versions cannot be read),
    * ``stats_drift`` — stats entries naming files outside the version's
      file list (harmless but indicates a buggy writer),
    * ``n_orphans`` — data files no manifest references (in-flight or
      crashed commits; :func:`vacuum` reclaims them after the grace
      window).

    Pure filesystem walk — no Spark session needed, O(manifests + files).
    """
    vs = _versions(path)
    horizon = _read_meta(path)["vacuum_horizon"]
    # healthy invariant: retained manifests are contiguous and start
    # exactly at the recorded vacuum horizon (vs[0] > horizon means a
    # manifest was deleted outside vacuum; < horizon means a stale
    # manifest reappeared)
    versions_ok = (
        vs == list(range(vs[0], vs[0] + len(vs))) and vs[0] == horizon
        if vs
        else True
    )
    on_disk, dv_on_disk = (
        {os.path.basename(f) for f in glob.glob(os.path.join(path, sub, "*.parquet"))}
        for sub in ("data", "dv")
    )
    missing: dict[int, list[str]] = {}
    stats_drift: dict[int, list[str]] = {}
    dv_drift: dict[int, list[str]] = {}
    referenced: set[str] = set()
    dv_referenced: set[str] = set()
    for v in vs:
        m = _read_manifest(path, v)
        files = m["files"]
        referenced.update(files)
        dv_referenced.update(m.get("dvs", []))
        lost = [f for f in files if f not in on_disk] + [
            d for d in m.get("dvs", []) if d not in dv_on_disk
        ]
        if lost:
            missing[v] = lost
        # stats and dv_counts must only name live files of the same version
        for k, out in (("stats", stats_drift), ("dv_counts", dv_drift)):
            drift = [f for f in m.get(k, {}) if f not in set(files)]
            if drift:
                out[v] = drift
    return {
        "versions_ok": versions_ok,
        "n_versions": len(vs),
        "missing_files": missing,
        "stats_drift": stats_drift,
        "dv_drift": dv_drift,
        "n_orphans": len(on_disk - referenced)
        + len(dv_on_disk - dv_referenced),
        "ok": versions_ok and not missing and not stats_drift
        and not dv_drift,
    }
