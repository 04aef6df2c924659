"""Exact deduplication operators (SURVEY §2.4 A1-A3, §2.5 W1).

The reference's dedup job is a Mongo ``$group {ids:$push, count:$sum} →
$match {count>1}`` followed by deleting all but the first ``_id``
(dags/transform_raw_weather.py:78-97; run-once/delete_duplicate_on_raw.py:15-38).
Spark expresses "delete the dupes" as "rewrite without dupes": a window
keep-first. Survivor choice is deterministic (lowest order_by), matching the
reference's insertion-order ObjectId survivor — plain ``dropDuplicates``
would be unfaithful (SURVEY §7.2).

Scale: one shuffle on the key columns. At 100 TB with a skewed key, AQE's
skew-join/aggregation splitting handles stragglers; the window variant
map-side-combines nothing, so for heavily-duplicated keys prefer
``find_duplicate_groups`` (partial aggregation) to *measure* first.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one part of a column name: a backtick-quoted run (a doubled backtick is
# one backtick) or a run of anything but dots and backticks
_PART = r"`((?:[^`]|``)*)`|([^.`]+)"


def _sql_name(name: str) -> str:
    """``name``, in the syntax ``F.col`` reads (dots step into struct
    fields, backticks quote a part that holds dots, a doubled backtick
    inside them is one backtick), as SQL text naming the same column,
    every part quoted: ``"location.id"`` → ``"`location`.`id`"``."""
    if not re.fullmatch(rf"(?:{_PART})(?:\.(?:{_PART}))*", name):
        raise ValueError(f"not a column name: {name!r}")
    # a quoted part is already SQL text; a bare one holds no backtick
    return ".".join(
        m[0] if m[1] is not None else f"`{m[0]}`" for m in re.finditer(_PART, name)
    )


def dedupe_keep_first(
    df: DataFrame, keys: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """Keep exactly one row per key: the first by ``order_by`` (A3/W1).

    Faithful form of the reference's ``ids[1:]`` delete
    (transform_raw_weather.py:92-97): survivor = lowest ``_id``.
    The window is SQL text, so the plan builds in a few JVM calls
    whatever the number of keys.
    """
    part = ", ".join(_sql_name(k) for k in keys)
    order = ", ".join(f"{_sql_name(c)} ASC" for c in order_by or ["_id"])
    return (
        df.selectExpr("*", f"row_number() OVER (PARTITION BY {part} ORDER BY {order}) AS __rn")
        .where("__rn = 1")
        .drop("__rn")
    )


def find_duplicate_groups(
    df: DataFrame, keys: list[str], id_col: str = "_id"
) -> DataFrame:
    """A1+A2: groups with count>1 and their member ids (sorted for
    determinism). Mirrors the Mongo pipeline at transform_raw_weather.py:78-87.
    """
    return (
        df.groupBy(*keys)
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("ids"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") > 1)
    )
