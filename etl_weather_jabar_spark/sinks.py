"""Sinks: append, keyed-dedup append, overwrite.

Maps the reference's Mongo write modes (SURVEY §2.1 S5-S8):

* ``insert_one/insert_many``            → :func:`append`
* unique index + duplicate-key-tolerant
  insert (transform_raw_weather.py:62-76,107-111, ST4) → :func:`append_dedup_keyed`
* ``update_one($set) else insert_one``
  keyed upsert (daily_compile_weather.py:136-142, S6)  →
  ``plans.pipelines.recap_to_snapshot`` / ``snapshots.snapshot_merge``
* ``delete_many({})`` truncate (init_master_location.py:20, S8) → :func:`overwrite`

Spark has no unique constraints, so uniqueness is enforced *on write*
(dedup against both the incoming batch and the existing sink contents) —
an anti-join, never a driver-side ``$nin`` list (SURVEY §4.2).

Like a unique-index probe touches only its key's entry, the keyed append
reads only the sink files that can collide (Delta's min/max data
skipping, here from the parquet footers). The batch is written as given
under ``<sink>/_staging-<uuid>/in`` (hidden from readers) and its keys are
read back on the driver. A sink file is hot when one batch key with no
NULL component lies inside the file's footer ``[lo, hi]`` on every key
column. A file whose footer cannot answer — a missing or differently
typed key column, a row group without stats, an unreadable footer — is
hot; a key type without exact footer stats, or a collated string key,
anti-joins the whole sink, and a first write deduplicates the batch
alone, each staging only its result under ``_staging-<uuid>/out``.
When no two staged keys are equal and no file is hot, the staged files
are renamed into the sink; otherwise the staged rows are deduplicated
keep-first (only if keys repeat), anti-joined against the hot files (if
any), staged again under ``_staging-<uuid>/out`` and renamed. A staged
file with no row is never renamed, so a replayed or empty batch adds no
file on any path. The check and the commit are not atomic: two concurrent appenders
can both insert one key.
"""

from __future__ import annotations

import bisect
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append(df: DataFrame, path: str) -> None:
    df.write.mode("append").parquet(path)


def overwrite(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


# Formats beyond parquet (SURVEY §2.1 S3: the reference also moves JSON
# between stages; ORC is Spark's other native columnar format). Parquet
# stays the default everywhere — these exist so a reference user's JSON
# hand-offs and any ORC estate keep working unchanged.
_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(
    df: DataFrame, path: str, fmt: str = "parquet", *, mode: str = "overwrite"
) -> None:
    """Write in any supported format. JSON/CSV are row formats: no column
    pruning, no predicate pushdown, heavier bytes — interchange only,
    never the analytical store."""
    if fmt not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    w.save(path)


def read_table_fmt(spark, path: str, fmt: str = "parquet", schema=None) -> DataFrame:
    """Read any supported format. Pass an explicit ``schema`` for the row
    formats — schema inference costs an extra full scan AND degrades
    types (JSON has no timestamp/decimal; CSV has no types at all), the
    same trap sources/jsonsrc.py documents for the reference's inputs."""
    if fmt not in _FORMATS:
        raise ValueError(f"format must be one of {_FORMATS}")
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    elif fmt in ("json", "csv"):
        r = r.option("inferSchema", True)
    if fmt == "csv":
        r = r.option("header", True)
    return r.load(path)


def append_dedup_keyed(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str = "_id",
) -> None:
    """Append only rows whose key is new — the unique-index semantic (ST4).

    Within the incoming batch, keep-first by ``order_col`` (matches the
    reference's insertion-order survivor, transform_raw_weather.py:92-97);
    against the existing sink, left-anti on the key columns.

    Scale: the batch is written once, as given, and its keys are read
    back on the driver. A batch whose keys are distinct and new runs no
    shuffle and reads no sink data: its staged files are renamed into
    the sink. That holds for a tick only when its data repeats no key:
    ``transform_stage`` deduplicates on the Bronze key (location,
    ``dag_times.end``), not on this one, so a live doc ending at E and a
    history doc whose logical date is E, for one station, repeat a key.
    Each append opens every sink file's footer (about 50 ms at 148 files
    on a 4-vCPU VM); only the hot files' key columns are read. A batch
    that repeats a key or collides pays a second write (keep-first
    and/or anti-join) on top of the staged one. Key types without exact
    footer stats, and collated strings, are not staged as given: the
    batch is deduplicated and anti-joined against the whole sink, as is
    a first write's batch against nothing; above 100,000 staged rows the
    batch is deduplicated and every file is hot. Every path stages what
    it appends and renames only the files that hold rows.
    """
    import shutil
    import uuid

    from pyspark.sql.types import StructType

    from .operators.dedup import dedupe_keep_first
    from .snapshots import _exact_keys, _file_keys

    spark = df.sparkSession
    # resolved up front (against the analyzed plan, no new analysis): the
    # rename below never reads it, and a batch without it must fail
    # whatever its keys
    df[order_col]
    files = _data_files(path)
    # any read error (a corrupt file, a schema clash) propagates: a sink
    # that cannot be read must not be appended to without dedup
    whole = bool(files) and not _exact_keys([df.schema[k] for k in keys])
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    try:
        if not files or whole:
            # a first write has nothing to collide with; footers cannot
            # prune on the keys of ``whole``: anti-join the whole sink
            new = dedupe_keep_first(df, keys, order_by=[order_col])
            if whole:
                existing = spark.read.parquet(path).select(*keys)
                new = new.join(existing, on=keys, how="left_anti")
        else:
            df.write.parquet(f"{staging}/in")
            staged = _data_files(f"{staging}/in")
            batch_keys, counts = _file_keys(staged, keys)
            # NULL components compare equal here, as in the window's partitions
            repeats = batch_keys is None or len(set(batch_keys)) < len(batch_keys)
            hot = _hot_files(files, batch_keys, df.schema, keys)
            if not repeats and not hot:
                _commit_staged(staged, path, counts)
                return
            # Spark lists more paths than this with a job of its own (0.8 s
            # for 140 paths on a 4-vCPU VM); listing their directory is
            # cheaper then
            limit = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
            new = spark.read.schema(df.schema).parquet(
                *(staged if len(staged) <= limit else [f"{staging}/in"])
            )
            if repeats:
                new = dedupe_keep_first(new, keys, order_by=[order_col])
            if hot:
                existing = (
                    spark.read.schema(StructType([df.schema[k] for k in keys]))
                    .option("basePath", path)
                    .parquet(*(hot if len(hot) <= limit else [path]))
                )
                new = new.join(existing, on=keys, how="left_anti")
        new.write.parquet(f"{staging}/out")
        _commit_staged(_data_files(f"{staging}/out"), path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _data_files(path: str) -> list[str]:
    """The parquet data files under ``path`` that Spark would read (Spark
    hides names starting with '_' or '.', e.g. ``_temporary``)."""
    hidden = ("_", ".")
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(hidden)]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(hidden)
        ]
    return out


def _commit_staged(
    staged: list[str], path: str, counts: dict[str, int] | None = None
) -> None:
    """Rename the ``staged`` data files, and their checksums, into the
    sink at ``path``, skipping every file that holds no row. ``counts``
    maps each file to its row count; without it, the footers are read."""
    import pyarrow.parquet as pq

    for f in staged:
        n = counts[f] if counts else pq.ParquetFile(f).metadata.num_rows
        if not n:
            continue
        d, name = os.path.split(f)
        os.rename(f, os.path.join(path, name))
        crc = os.path.join(d, f".{name}.crc")
        if os.path.exists(crc):
            os.rename(crc, os.path.join(path, f".{name}.crc"))


def _hot_files(
    files: list[str], batch_keys: list[tuple] | None, schema, keys: list[str]
) -> list[str]:
    """The sink ``files`` that may hold one of ``batch_keys`` (``None``:
    every file), whose Spark schema is ``schema``: those whose footer
    ``[lo, hi]`` holds one NULL-free batch key on every key column, and
    every file whose footer cannot tell."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .snapshots import _footer_fields, _footer_minmax

    if batch_keys is None:
        return files
    # a key with a NULL component never equals a sink key: always appended
    live = [k for k in batch_keys if None not in k]
    if not live:
        return []
    # per key column, the live keys sorted on it and those sorted values
    by_col = [sorted(live, key=lambda t, c=c: t[c]) for c in range(len(keys))]
    values = [[t[c] for t in s] for c, s in enumerate(by_col)]
    fields = {k: schema[k].jsonValue() for k in keys}

    def ranges(f: str):
        """Per key column ``(lo, hi)`` of sink file ``f``, or ``None``."""
        try:
            md = pq.ParquetFile(f).metadata
        except (OSError, pa.ArrowException):
            return None  # unreadable: Spark reads it, and raises
        own = _footer_fields(md) or fields  # pyarrow files may record none
        out = []
        for k in keys:
            field = own.get(k)
            if field is None or field["type"] != fields[k]["type"]:
                return None
            out.append(_footer_minmax(md, field))
        return None if None in out else out

    def may_collide(rs) -> bool:
        """A file is cold when some column's ``[lo, hi]`` holds no batch
        value; otherwise test the keys inside it on its narrowest column."""
        best = None
        for c, (lo, hi) in enumerate(rs):
            if lo is None:  # every value NULL
                return False
            i = bisect.bisect_left(values[c], lo)
            j = bisect.bisect_right(values[c], hi, i)
            if i == j:
                return False
            if best is None or j - i < best[2] - best[1]:
                best = (c, i, j)
        c, i, j = best
        return any(
            all(lo <= v <= hi for v, (lo, hi) in zip(k, rs)) for k in by_col[c][i:j]
        )

    hot = []
    for f in files:
        rs = ranges(f)
        if rs is None or may_collide(rs):
            hot.append(f)
    return hot


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the co-located-join layout.

    Bucketing hash-partitions rows into ``num_buckets`` files per partition
    at WRITE time; two tables bucketed on the same key with the same count
    join with NO shuffle on either side (Spark trusts the on-disk hash
    layout), and ``sort_cols`` pre-sorts within buckets so even the sort of
    a sort-merge join is free. This is the Spark answer to the reference's
    unique indexes (SURVEY §2.1 S9) for the read path, and the single
    biggest shuffle saver for repeated fact⋈fact joins at 100 TB: pay one
    shuffle at write, join for free forever after.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
