"""Partition-shape helpers.

Spark sizes scan partitions by BYTES (``spark.sql.files.maxPartitionBytes``,
default 128 MB), which is right for IO-bound plans but wrong for CPU-dense
narrow transforms over small-but-heavy rows: a 2 MB parquet of documents is
ONE split, so tokenize/shingle/hash pipelines run on one core of 32.
``spread`` fixes exactly that case and nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


_NODE_HEAD_RE = None

# Analyzed-logical-plan nodes KNOWN to be narrow (no exchange between the
# scan and the probe, so `df.rdd.getNumPartitions()` is a driver-side
# split computation even under AQE). The guard is an allowlist of NARROW
# nodes, inverted from round 4's wide-node denylist: a denylist missing a
# shuffle-producing node (Intersect/Except before rewrite, CoGroup,
# FlatMapGroupsInPandas, …) fell through to the rdd probe, which under
# AQE executes every upstream exchange at plan-CONSTRUCTION time — the
# exact bug the guard exists to prevent (ADVICE r4). Unknown node ⇒
# treat as wide ⇒ skip the probe; the only cost of a false "wide" is a
# skipped small-input repartition, never an executed shuffle.
_NARROW_NODES = frozenset(
    {
        "Relation",
        "LogicalRelation",
        "LogicalRDD",
        "LocalRelation",
        "OneRowRelation",
        "Range",
        "Project",
        "Filter",
        "TypedFilter",
        "SubqueryAlias",
        "View",
        "Generate",
        "Union",
        "Sample",
        "UnresolvedHint",
        "ResolvedHint",
        "WithColumns",
    }
)


def _has_wide_node(df: DataFrame) -> bool:
    """True unless EVERY node in the analyzed logical plan is a
    known-narrow one (scan/project/filter/generate/union/…). Wide or
    unknown nodes mean output parallelism is governed by
    spark.sql.shuffle.partitions / AQE — and probing them via df.rdd
    would execute upstream exchanges at build time."""
    global _NODE_HEAD_RE
    if _NODE_HEAD_RE is None:
        import re

        _NODE_HEAD_RE = re.compile(r"^[\s+:|\-]*'?(\w+)")
    plan = df._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        m = _NODE_HEAD_RE.match(line)
        if m and m.group(1) not in _NARROW_NODES:
            return True
    return False


def spread(
    df: DataFrame, target: int | None = None, force: bool = False
) -> DataFrame:
    """Ensure at least ``target`` (default: cluster parallelism) partitions
    before a CPU-dense narrow stage (shingling, hashing, vector math).

    No-op when the input already has enough splits — the 100 TB case, where
    the scan yields thousands of partitions — so it never adds a shuffle at
    scale; it only unlocks idle cores on small inputs.

    The partition probe must never EXECUTE the plan: with AQE enabled,
    ``df.rdd`` materializes every upstream exchange, so probing a plan
    that already contains a join/aggregate/repartition would run those
    shuffles at CONSTRUCTION time (observed: a double-spread executed
    its inner repartition while merely building the query). Wide plans
    are therefore left untouched — their output parallelism is already
    governed by spark.sql.shuffle.partitions / AQE — and only narrow
    scan-type plans are probed (``getNumPartitions`` there is a
    driver-side split computation, no job). ``force=True`` skips the
    probe and repartitions unconditionally: for call sites that KNOW the
    input is small (e.g. candidate-pruned) and about to fan out
    CPU-dense work.
    """
    sc = df.sparkSession.sparkContext
    tgt = target or sc.defaultParallelism
    if force:
        return df.repartition(tgt)
    if _has_wide_node(df):
        return df
    if df.rdd.getNumPartitions() < tgt:
        return df.repartition(tgt)
    return df


def _morton_interleave(bucket_exprs: list[str], bits: int, shl, shr) -> str:
    """Bit-interleave expression over pre-bucketed [0, 2^bits) columns.
    ``shl(x, n)`` / ``shr(x, n)`` render the engine's shift syntax, so one
    generator serves Spark SQL (shiftleft/shiftright) and DuckDB (<< >>)."""
    d = len(bucket_exprs)
    terms = []
    for i in range(bits):
        for j, b in enumerate(bucket_exprs):
            terms.append(shl(f"({shr(b, i)} & 1)", i * d + j))
    return "(" + " | ".join(terms) + ")"


def morton_sql_spark(bucket_exprs: list[str], bits: int) -> str:
    return _morton_interleave(
        bucket_exprs,
        bits,
        lambda x, n: f"shiftleft({x}, {n})",
        lambda x, n: f"shiftright({x}, {n})",
    )


def morton_sql_duckdb(bucket_exprs: list[str], bits: int) -> str:
    return _morton_interleave(
        bucket_exprs,
        bits,
        lambda x, n: f"(({x}) << {n})",
        lambda x, n: f"(({x}) >> {n})",
    )


def zorder_key(
    df: "DataFrame",
    cols: list[str],
    *,
    bits: int = 8,
    out_col: str = "zkey",
) -> "DataFrame":
    """Z-order (Morton) clustering key over 2+ integral columns — the
    multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER):
    sort-by-zkey places rows close in EVERY dimension into the same file,
    so min/max file statistics prune scans on any of the columns, not just
    the leading sort key.

    Each column is min/max-scaled to a ``bits``-bit bucket in exact bigint
    arithmetic (one tiny bounds aggregate broadcast back — same pattern as
    mixture_resample's caps), then bucket bits are interleaved JVM-side.
    The physical write is ``repartitionByRange(out_col)`` +
    ``sortWithinPartitions(out_col)``: one shuffle, clustered files.
    Bounds come from the data, so the key is deterministic given the
    data; a NULL value gives a NULL key.
    """
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns")
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must fit in a bigint")
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("bigint")).alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c).cast("bigint")).alias(f"__hi_{c}"))
    d = df.crossJoin(F.broadcast(df.agg(*aggs)))
    bucket_exprs = [
        f"(((CAST(`{c}` AS BIGINT) - `__lo_{c}`) * {2 ** bits})"
        f" DIV (`__hi_{c}` - `__lo_{c}` + 1))"
        for c in cols
    ]
    z = morton_sql_spark(bucket_exprs, bits)
    return d.withColumn(out_col, F.expr(z).cast("bigint")).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )


def key_distribution(df: "DataFrame", keys: list[str], top_k: int = 10):
    """Join-key skew diagnostics for ANY key set — the operator behind
    the ``key_skew_report`` registry query. Returns
    ``(summary_df, heavy_df)``:

    * summary — 1 row: n_keys, total_rows, max_n, and the max/mean ratio
      in half-up integer ppm (≥ 1 000 000; a viral key shows up as a
      multiple of the mean);
    * heavy — the ``top_k`` hottest keys with counts (deterministic
      tie-break by key), the candidates for salting / AQE skew split.

    Cost: one partial-agg groupBy over the keys + a 1-row reagg + a
    TakeOrdered — what you can afford before every large join.
    """
    from pyspark.sql import functions as F

    c = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    num = F.max("n") * F.count(F.lit(1)) * F.lit(1_000_000).cast("bigint")
    den = F.sum("n")
    a = num * 2 + den
    b = den * 2
    summary = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.max("n").cast("bigint").alias("max_n"),
        ((a - F.pmod(a, b)) / b).cast("bigint").alias("skew_ratio_ppm"),
    )
    heavy = c.orderBy(F.col("n").desc(), *[F.col(k) for k in keys]).limit(
        top_k
    )
    return summary, heavy
