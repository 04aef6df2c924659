"""Incremental materialized-view maintenance (counting algorithm).

Maintains a grouped aggregate view under a change batch WITHOUT
recomputing from the base table: each insert contributes (+1, +measure),
each delete (−1, −measure); the deltas collapse to one row per touched
group, merge into the prior view state by a union + re-aggregate, and
groups whose maintained row count reaches zero disappear — Gupta &
Mumick's counting algorithm for incremental view maintenance,
re-expressed as two Spark aggregations.

Reference parity: none (the reference recomputes its daily recap from
scratch each DAG run — `dags/transform_raw_weather.py` re-reads the day);
this is the engine's scale path for keeping derived aggregates fresh.

Scale notes (100 TB): the delta aggregation is sized by the CHANGE batch,
not the base table; the merge shuffles |view ∪ touched-groups| rows —
both partial-aggregate map-side before the shuffle. Maintained sums must
be EXACT under addition and subtraction, so money-like doubles are
carried as integer units (cents) in the view state and divided back only
at presentation time — float sums would drift from the recompute answer
after enough +x/−x churn.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def delta_agg(
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    count_col: str = "n_rows",
    measures: dict[str, Column] | None = None,
) -> DataFrame:
    """Collapse a change batch (``op_col`` ∈ {'I','D'}) to per-group
    deltas: signed row count plus signed sums of each measure expression.
    Measure expressions should yield exact (integer-unit) values."""
    sign = F.when(F.col(op_col) == "D", F.lit(-1)).otherwise(F.lit(1))
    aggs = [F.sum(sign).cast("bigint").alias(count_col)]
    for name, expr in (measures or {}).items():
        aggs.append(F.sum(sign.cast("bigint") * expr).cast("bigint").alias(name))
    return changes.groupBy(*keys).agg(*aggs)


def merge_view(
    view: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Merge per-group deltas into the maintained view state: union the
    two states and re-aggregate (sums of counts and of every measure
    column), dropping groups whose maintained count reaches zero. A
    union + groupBy rather than a full-outer join: one shuffle, no
    null-handling asymmetry, and partial aggregation halves the traffic."""
    measure_cols = [c for c in view.columns if c not in keys]
    merged = view.unionByName(delta.select(*view.columns))
    aggs = [F.sum(c).cast("bigint").alias(c) for c in measure_cols]
    # A negative maintained count means the change feed deleted rows the
    # view never counted (inconsistent or reordered feed). Silently
    # filtering it would drop the pending deletes and let a later insert
    # resurrect the group with an overstated count — fail loudly instead.
    # assert_true lives INSIDE the filter condition so column pruning
    # cannot eliminate it (it returns NULL when the predicate holds).
    guard = F.assert_true(
        F.col(count_col) >= 0,
        F.concat(
            F.lit("merge_view: maintained count went negative "
                  "(inconsistent change feed) for group "),
            *[F.concat(F.lit(f"{k}="),
                       F.coalesce(F.col(k).cast("string"), F.lit("NULL")),
                       F.lit(" "))
              for k in keys],
        ),
    )
    return (
        merged.groupBy(*keys)
        .agg(*aggs)
        .where(guard.isNull() & (F.col(count_col) > 0))
    )


def build_agg_view(
    base: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
    measures: dict[str, Column] | None = None,
) -> DataFrame:
    """Initial view state from the base table (the one full scan the
    incremental path avoids from then on)."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias(count_col)]
    for name, expr in (measures or {}).items():
        aggs.append(F.sum(expr).cast("bigint").alias(name))
    return base.groupBy(*keys).agg(*aggs)


def idempotent_view_commit(
    spark,
    view_tbl: str,
    batch: DataFrame,
    batch_id: int,
    keys: list[str],
    measures: dict[str, Column] | None = None,
    op_col: str = "op",
) -> bool:
    """Fold one change micro-batch into a snapshot-persisted view state,
    EXACTLY ONCE per ``batch_id``: foreachBatch is at-least-once, so a
    retried micro-batch would double-apply its delta. The applied batch
    ids ride in the view snapshot's manifest meta (the same ledger
    pattern as ``snapshots.snapshot_stream_sink``); a batch whose id is
    already recorded is skipped. Returns True if the batch was applied,
    False if it was a duplicate replay.

    This is the commit body the streaming materialized-view query
    (``queries.stream_matview_orders``) runs inside foreachBatch —
    extracted so replay idempotency is directly unit-testable."""
    from ..snapshots import _resolve, snapshot_read, snapshot_write

    _, m = _resolve(view_tbl, missing_ok=True)
    applied = list((m or {}).get("applied_batch_ids", []))
    if int(batch_id) in applied:
        return False
    delta = delta_agg(batch, keys, op_col=op_col, measures=measures)
    try:
        cur = snapshot_read(spark, view_tbl)
    except FileNotFoundError:
        cur = delta.limit(0)
    snapshot_write(
        merge_view(cur, delta, keys),
        view_tbl,
        mode="overwrite",
        meta={"applied_batch_ids": applied + [int(batch_id)]},
    )
    return True
