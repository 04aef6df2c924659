"""Unit tests for the operator library on driver testdata + tiny frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_jabar_spark.operators.aggregates import deterministic_mode
from etl_weather_jabar_spark.operators.dedup import (
    dedupe_keep_first,
    find_duplicate_groups,
)
from etl_weather_jabar_spark.operators.joins import (
    anti_join_composite,
    anti_join_unprocessed,
    broadcast_lookup,
    grid_align,
    minute_grid,
    salted_join,
)
from etl_weather_jabar_spark.functions.weather import heat_index_c
from etl_weather_jabar_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_dedupe_keep_first_survivor(spark):
    df = spark.createDataFrame(
        [("a", 1, "x1"), ("a", 2, "x2"), ("b", 5, "x3")], ["k", "ord", "payload"]
    )
    out = dedupe_keep_first(df, ["k"], order_by=["ord"]).collect()
    got = {r["k"]: r["payload"] for r in out}
    assert got == {"a": "x1", "b": "x3"}


def test_find_duplicate_groups(spark):
    df = spark.createDataFrame(
        [("a", "i1"), ("a", "i2"), ("b", "i3")], ["k", "_id"]
    )
    out = find_duplicate_groups(df, ["k"]).collect()
    assert len(out) == 1
    assert out[0]["k"] == "a" and out[0]["ids"] == ["i1", "i2"] and out[0]["cnt"] == 2


def test_anti_joins(spark):
    raw = spark.createDataFrame([("1",), ("2",), ("3",)], ["_id"])
    done = spark.createDataFrame([("2",)], ["_id"])
    assert {r["_id"] for r in anti_join_unprocessed(raw, done).collect()} == {"1", "3"}

    incoming = spark.createDataFrame([(1, "t1"), (1, "t2")], ["location_id", "time"])
    existing = spark.createDataFrame([(1, "t1")], ["location_id", "time"])
    out = anti_join_composite(incoming, existing, ["location_id", "time"]).collect()
    assert [(r["location_id"], r["time"]) for r in out] == [(1, "t2")]


def test_salted_join_matches_plain_join(spark):
    import pytest

    # 90% of fact rows share key 1 (the hot key salting exists for)
    fact = spark.createDataFrame(
        [(1, i) for i in range(90)] + [(2, i) for i in range(8)] + [(9, 0), (9, 1)],
        ["k", "payload"],
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "warm"), (3, "unmatched")], ["k", "name"]
    )

    def key(rows):
        return sorted((r["k"], r["payload"], r["name"]) for r in rows)

    for how in ("inner", "left"):
        plain = key(fact.join(dim, on=["k"], how=how).collect())
        salted = key(salted_join(fact, dim, on=["k"], how=how, buckets=4).collect())
        assert salted == plain and len(plain) == (98 if how == "inner" else 100)

    with pytest.raises(ValueError):
        salted_join(fact, dim, on=["k"], how="right")


def test_broadcast_lookup_plan_uses_broadcast(spark):
    fact = load_table(spark, SF, "customer")
    dim = load_table(spark, SF, "nation")
    out = broadcast_lookup(fact, dim, "c_nationkey", "n_nationkey")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.count() == fact.count()  # left join keeps all facts


def test_minute_grid_and_alignment(spark):
    grid = minute_grid(spark)
    assert [r["minute"] for r in grid.collect()] == ["00", "10", "20", "30", "40", "50"]
    obs = spark.createDataFrame(
        [("d1", 1, "08", "00", 30.0), ("d1", 1, "08", "20", 32.0)],
        ["date", "location_id", "hour", "minute", "temp"],
    )
    aligned = grid_align(obs, grid, ["date", "location_id", "hour"])
    rows = {r["minute"]: r["temp"] for r in aligned.collect()}
    assert len(rows) == 6 and rows["00"] == 30.0 and rows["10"] is None


def test_deterministic_mode_tiebreak(spark):
    df = spark.createDataFrame(
        [  # B and A tie 2-2; A first at ord 1 → A wins
            ("g", "B", 0), ("g", "A", 1), ("g", "A", 2), ("g", "B", 3),
            # ("g2",) C clear winner
            ("g2", "C", 0), ("g2", "C", 1), ("g2", "D", 2),
        ],
        ["k", "v", "ord"],
    )
    out = {r["k"]: r["v_mode"] for r in deterministic_mode(df, ["k"], "v", "ord").collect()}
    assert out == {"g": "B", "g2": "C"}  # B@0 is first-seen among tied


def test_heat_index_known_value(spark):
    # NWS reference point: 90°F (32.222°C) at RH 70% → HI ≈ 105-106°F
    df = spark.createDataFrame([(32.2222, 70)], ["t", "rh"])
    hi_c = df.select(
        heat_index_c(F.col("t"), F.col("rh").cast("double")).alias("hi")
    ).collect()[0]["hi"]
    hi_f = hi_c * 9 / 5 + 32
    assert 104.0 < hi_f < 107.0


def test_filters_push_to_parquet_scan(spark):
    """P3/P5 predicates must reach the Parquet scan (SURVEY §4.1)."""
    li = load_table(spark, SF, "lineitem")
    q = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double" in plan


def test_global_rank_scalable_matches_global_window(spark):
    from pyspark.sql import Window as W

    from etl_weather_jabar_spark.operators.windows import global_rank_scalable
    from etl_weather_jabar_spark.sources.parquet import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    got = {
        r["o_orderkey"]: r["rank"]
        for r in global_rank_scalable(
            o, ["o_totalprice", "o_orderkey"], num_partitions=7
        ).collect()
    }
    want = {
        r["o_orderkey"]: r["rank"]
        for r in o.withColumn(
            "rank",
            F.row_number().over(W.orderBy("o_totalprice", "o_orderkey")),
        ).collect()
    }
    assert got == want
    # plan shape: the data shuffles ONCE, on the data-derived ordered
    # bucket id (hashpartitioning(__part)) — never a global
    # (single-partition) sort, and no second full-data exchange for the
    # local window (its distribution is satisfied by the repartition;
    # the only other hash exchange is the counts branch's partial-agg
    # shuffle of <= nparts rows per task)
    plan = (
        global_rank_scalable(o, ["o_totalprice", "o_orderkey"], num_partitions=7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    flat = plan.replace(" ", "")
    assert "hashpartitioning(__part" in flat
    # round 8: the offsets prefix sum is a triangular broadcast
    # self-join, not an unpartitioned Window — so NO SinglePartition
    # exchange exists anywhere in the plan (previously one was allowed
    # for the tiny offsets window)
    assert plan.count("Exchange SinglePartition") == 0
    assert "rangepartitioning" not in flat.lower()
    # the window runs directly on the bucket exchange: exactly one Sort
    # over the full data (__part + order cols). Hash exchanges: (1) the
    # data repartition on __part, (2) the counts partial-agg shuffle,
    # (3) the offsets aggregation after the triangular join — (2) and
    # (3) move <= nparts (resp. <= nparts²) count rows, never data
    assert plan.count("Exchange hashpartitioning") <= 3


def test_asof_join_backward(spark):
    from etl_weather_jabar_spark.operators.joins import asof_join_backward

    quotes = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 100.0),
            (1, "2024-01-01 09:05:00", 101.0),
            (2, "2024-01-01 09:02:00", 50.0),
        ],
        ["sym", "qts", "price"],
    ).withColumn("qts", F.col("qts").cast("timestamp"))
    trades = spark.createDataFrame(
        [
            (1, "2024-01-01 09:03:00", "t1"),   # -> 09:00 quote (100.0)
            (1, "2024-01-01 09:05:00", "t2"),   # same-instant -> 101.0
            (2, "2024-01-01 09:01:00", "t3"),   # before any quote -> null
            (3, "2024-01-01 09:10:00", "t4"),   # no quotes for key -> null
        ],
        ["sym", "tts", "tid"],
    ).withColumn("tts", F.col("tts").cast("timestamp"))
    out = {
        r["tid"]: r["price"]
        for r in asof_join_backward(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts"
        ).collect()
    }
    assert out == {"t1": 100.0, "t2": 101.0, "t3": None, "t4": None}
    # tolerance: the 09:03 trade is 180s after its quote; 60s cutoff nulls it
    tol = {
        r["tid"]: r["price"]
        for r in asof_join_backward(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts",
            tolerance_seconds=60,
        ).collect()
    }
    assert tol == {"t1": None, "t2": 101.0, "t3": None, "t4": None}


def test_asof_join_forward(spark):
    from etl_weather_jabar_spark.operators.joins import asof_join_forward

    quotes = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 100.0),
            (1, "2024-01-01 09:05:00", 101.0),
            (2, "2024-01-01 09:02:00", 50.0),
        ],
        ["sym", "qts", "price"],
    ).withColumn("qts", F.col("qts").cast("timestamp"))
    trades = spark.createDataFrame(
        [
            (1, "2024-01-01 09:03:00", "t1"),   # -> 09:05 quote (101.0)
            (1, "2024-01-01 09:05:00", "t2"),   # same-instant -> 101.0
            (1, "2024-01-01 09:06:00", "t3"),   # after last quote -> null
            (2, "2024-01-01 09:01:00", "t4"),   # -> 09:02 quote (50.0)
            (3, "2024-01-01 09:10:00", "t5"),   # no quotes for key -> null
        ],
        ["sym", "tts", "tid"],
    ).withColumn("tts", F.col("tts").cast("timestamp"))
    out = {
        r["tid"]: r["price"]
        for r in asof_join_forward(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts"
        ).collect()
    }
    assert out == {"t1": 101.0, "t2": 101.0, "t3": None, "t4": 50.0, "t5": None}
    # tolerance: t1's next quote is 120s ahead; a 60s horizon nulls it
    tol = {
        r["tid"]: r["price"]
        for r in asof_join_forward(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts",
            tolerance_seconds=60,
        ).collect()
    }
    assert tol == {"t1": None, "t2": 101.0, "t3": None, "t4": 50.0, "t5": None}


def test_tpch_q6_q15_q17_plans(spark):
    """The three partsupp-free TPC-H stragglers keep their intended shapes:
    Q6 fully pushes down and moves no data rows, Q15/Q17 broadcast the
    small side and shuffle lineitem exactly once on the correlation key."""
    from etl_weather_jabar_spark.queries import QUERIES

    q6 = QUERIES["forecast_revenue_change"](spark, SF)
    p6 = q6._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in p6
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz" in p6
    )
    assert "Exchange hashpartitioning" not in p6  # only the 1-row final agg moves

    p15 = (
        QUERIES["top_revenue_supplier"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p15.count("lineitem.parquet") == 1  # max via window, no second scan
    assert p15.count("Exchange hashpartitioning") == 1  # one shuffle on l_suppkey
    assert "BroadcastHashJoin" in p15  # supplier side broadcasts

    p17 = (
        QUERIES["small_quantity_revenue"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in p17  # pruned part side broadcasts
    assert p17.count("Exchange hashpartitioning") == 1  # window shuffle only


def test_join_strategy_hints_control_physical_plan(spark):
    """Join-strategy hints are the manual override when stats mislead the
    planner (the 100 TB escape hatch for a mis-broadcast): each hint must
    actually flip the physical strategy."""
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")

    def plan_of(j):
        return j._jdf.queryExecution().executedPlan().toString()

    merged = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    )
    assert "SortMergeJoin" in plan_of(merged)
    broadcasted = li.join(
        orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey
    )
    assert "BroadcastHashJoin" in plan_of(broadcasted)
    hashed = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    assert "ShuffledHashJoin" in plan_of(hashed)
    # same rows whatever the strategy
    assert merged.count() == broadcasted.count() == hashed.count()


def test_observe_metrics_piggyback_on_one_pass(spark):
    """df.observe(): row-count/sum metrics collected DURING the action —
    the audit counters a pipeline wants without paying a second scan."""
    from pyspark.sql import Observation

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    obs = Observation("audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity")).alias("qty_sum"),
    )
    n_written = observed.where(F.col("l_quantity") > 0).count()
    got = obs.get
    assert got["n_rows"] >= n_written and got["n_rows"] > 0
    assert got["qty_sum"] > 0


def test_scalable_topk_equals_plain_window_on_skew(spark):
    """One viral group (80% of rows) + several normal ones: the salted
    two-phase top-k must return exactly the plain window's rows."""
    from pyspark.sql import Window
    from etl_weather_jabar_spark.operators.windows import scalable_topk_per_group

    rows = [(0, i, float((i * 37) % 1000)) for i in range(800)]  # viral key
    rows += [(g, 10_000 + g * 100 + i, float(i * 7)) for g in range(1, 6) for i in range(40)]
    df = spark.createDataFrame(rows, ["grp", "uid", "score"])
    order = [F.col("score").desc(), F.col("uid").asc()]
    plain = (
        df.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("grp").orderBy(*order)),
        )
        .where(F.col("rnk") <= 5)
    )
    scal = scalable_topk_per_group(
        df, ["grp"], order, 5, salt_by=["uid"], buckets=8
    )
    a = {(r["grp"], r["uid"], r["rnk"]) for r in plain.collect()}
    b = {(r["grp"], r["uid"], r["rnk"]) for r in scal.collect()}
    assert a == b and len(a) == 5 * 6


def test_zorder_key_buckets_and_interleave(spark):
    """Corners of a 2-col domain map to the extreme Morton codes, and the
    key is reproducible bit math (no RNG, no floats)."""
    from etl_weather_jabar_spark.operators.partitioning import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (0, 15), (15, 0), (15, 15)], ["x", "y"]
    )
    out = {
        (r["x"], r["y"]): r["zkey"]
        for r in zorder_key(df, ["x", "y"], bits=4).collect()
    }
    # bucket == value here (span 16 over 4 bits); x takes even bit slots
    assert out[(0, 0)] == 0
    assert out[(15, 15)] == 255
    assert out[(15, 0)] == 0b01010101  # x bits only (positions 0,2,4,6)
    assert out[(0, 15)] == 0b10101010  # y bits only (positions 1,3,5,7)
    # a NULL value gives a NULL key, not the low bucket
    nulls = spark.createDataFrame(
        [(0, 0), (15, 15), (None, 5)], "x INT, y INT"
    )
    row = zorder_key(nulls, ["x", "y"], bits=4).where("x IS NULL").collect()[0]
    assert row["zkey"] is None
    # neighbors in both dims share high bits: locality in the key space
    import pytest as _p

    with _p.raises(ValueError):
        zorder_key(df, ["x"], bits=4)


def test_pandas_api_on_spark_parity(spark):
    """pyspark.pandas (the pandas API on Spark): the migration surface for
    pandas codebases — same groupby/agg answers as the native DataFrame
    API, distributed underneath. Pinned on a testdata slice."""
    import pyspark.pandas as ps

    native = {
        (r["l_returnflag"], r["l_linestatus"]): r["n"]
        for r in load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    pdf = ps.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    via_ps = (
        pdf.groupby(["l_returnflag", "l_linestatus"])
        .size()
        .reset_index(name="n")
    )
    got = {
        (row["l_returnflag"], row["l_linestatus"]): int(row["n"])
        for _, row in via_ps.to_pandas().iterrows()
    }
    assert got == native and len(got) >= 3


def test_zorder_key_three_columns(spark):
    """zorder_key generalizes past 2 dims: 3 columns × 4 bits interleave
    into a 12-bit key with each column owning every third bit slot."""
    from etl_weather_jabar_spark.operators.partitioning import zorder_key

    df = spark.createDataFrame(
        [(0, 0, 0), (15, 0, 0), (0, 15, 0), (0, 0, 15), (15, 15, 15)],
        ["x", "y", "z"],
    )
    out = {
        (r["x"], r["y"], r["z"]): r["zkey"]
        for r in zorder_key(df, ["x", "y", "z"], bits=4).collect()
    }
    assert out[(0, 0, 0)] == 0
    assert out[(15, 15, 15)] == (1 << 12) - 1
    assert out[(15, 0, 0)] == 0b001001001001  # x owns slots 0,3,6,9
    assert out[(0, 15, 0)] == 0b010010010010  # y owns slots 1,4,7,10
    assert out[(0, 0, 15)] == 0b100100100100  # z owns slots 2,5,8,11


def test_key_distribution_diagnoses_skew(spark):
    """A planted hot key shows up in both halves of the diagnostic: the
    ppm ratio well above 1e6 and the key leading the heavy list."""
    from etl_weather_jabar_spark.operators.partitioning import (
        key_distribution,
    )

    rows = [(7, i) for i in range(900)] + [(k, 0) for k in range(100)]
    df = spark.createDataFrame(rows, ["k", "v"])
    summary, heavy = key_distribution(df, ["k"], top_k=3)
    s = summary.collect()[0]
    # key 7 appears in both the hot block and the uniform tail -> 100 keys
    assert s["n_keys"] == 100 and s["total_rows"] == 1000
    assert s["max_n"] == 901  # 900 planted + key 7 from the uniform tail
    # ratio = max / (total/n_keys) = 901*100/1000 = 90.1x the mean
    assert s["skew_ratio_ppm"] == 90_100_000
    h = heavy.collect()
    assert h[0]["k"] == 7 and h[0]["n"] == 901
    assert all(r["n"] == 1 for r in h[1:])


def test_radius_join_gridded_complete_and_unique(spark):
    """Grid-bucketed radius join: every pair within r found exactly once
    (vs a brute-force cross join), none outside r, and the plan is an
    equi-join on cells — no nested-loop/cartesian."""
    import random

    from etl_weather_jabar_spark.operators.joins import radius_join_gridded

    rng = random.Random(5)
    pts_a = [(i, rng.randrange(0, 3000), rng.randrange(0, 3000)) for i in range(300)]
    pts_b = [(j, rng.randrange(0, 3000), rng.randrange(0, 3000)) for j in range(200)]
    a = spark.createDataFrame(pts_a, ["ida", "xa", "ya"])
    b = spark.createDataFrame(pts_b, ["idb", "xb", "yb"])
    r = 250
    got = sorted(
        (row["ida"], row["idb"], row["d2"])
        for row in radius_join_gridded(
            a, b, ("ida", "xa", "ya"), ("idb", "xb", "yb"), radius=r
        ).collect()
    )
    want = sorted(
        (i, j, (x1 - x2) ** 2 + (y1 - y2) ** 2)
        for i, x1, y1 in pts_a
        for j, x2, y2 in pts_b
        if (x1 - x2) ** 2 + (y1 - y2) ** 2 <= r * r
    )
    assert got == want  # complete, exact, and no duplicated candidates
    plan = (
        radius_join_gridded(a, b, ("ida", "xa", "ya"), ("idb", "xb", "yb"), r)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalable_prefix_sum_multi_column(spark):
    """Multi-measure form (one bucketing carries several cumulative
    sums) matches the python reference for inclusive and exclusive
    variants. (Compared against a reference, not against chained
    single-measure calls: nesting two identical prefix-sum plans over a
    range source trips a pre-existing Catalyst INTERNAL_ERROR_ATTRIBUTE
    _NOT_FOUND — one more reason the multi-column form exists.)"""
    from pyspark.sql import functions as F

    from etl_weather_jabar_spark.operators.windows import (
        scalable_prefix_sum,
    )

    df = spark.range(500).select(
        F.col("id").alias("v"),
        (F.col("id") % 7).alias("c1"),
        (F.col("id") % 3).alias("c2"),
    )
    for excl in (False, True):
        multi = scalable_prefix_sum(
            df, ["v"], ["c1", "c2"], ["p1", "p2"], exclusive=excl
        )
        got = {
            r["v"]: (r["p1"], r["p2"])
            for r in multi.select("v", "p1", "p2").collect()
        }
        run1 = run2 = 0
        for v in range(500):
            c1, c2 = v % 7, v % 3
            if excl:
                assert got[v] == (run1, run2)
            run1, run2 = run1 + c1, run2 + c2
            if not excl:
                assert got[v] == (run1, run2)


def test_scalable_prefix_sum_rejects_colliding_out_cols(spark):
    """ADVICE r3: an out_col equal to a later value_col (or a duplicate
    out_col) would be overwritten mid-loop, so the exclusive-mode
    subtraction would read the replaced column — rejected up front."""
    import pytest

    from etl_weather_jabar_spark.operators.windows import scalable_prefix_sum

    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v1"), (F.col("id") * 3).alias("v2")
    )
    with pytest.raises(ValueError, match="collide"):
        scalable_prefix_sum(df, ["id"], ["v1", "v2"], ["v2", "s2"])
    with pytest.raises(ValueError, match="duplicate"):
        scalable_prefix_sum(df, ["id"], ["v1", "v2"], ["s", "s"])
    with pytest.raises(ValueError, match="collide"):
        scalable_prefix_sum(df, ["id"], "v1", "id")
    # non-colliding list form still works
    out = scalable_prefix_sum(df, ["id"], ["v1", "v2"], ["s1", "s2"])
    rows = {r["id"]: (r["s1"], r["s2"]) for r in out.collect()}
    assert rows[3] == (2 * (0 + 1 + 2 + 3), 3 * (0 + 1 + 2 + 3))
