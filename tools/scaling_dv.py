"""Scaling probe: a deletion-vector DELETE is deleted-mass-sized where
copy-on-write MERGE is touched-file-sized — measured, not claimed.

Method: grow a snapshot table by replicating sf0.1 orders with key
offsets (1x / 4x / 16x, hash-distributed into 16·mult files so the
delete predicate touches EVERY file — the copy-on-write worst case and
the DV best case). Rows carry a 256-byte payload column: the DV
predicate scan is COLUMN-PRUNED (reads the key column + row position
only) while the rewrite pays the full row width — exactly the
asymmetry that makes DVs the right call for small deletes on wide
tables (a narrow-row first run showed both modes job-overhead-bound
and indistinguishable; kept here as the honest negative). At every
size delete the SAME fixed 64-key set two ways on separate fresh
tables:

* ``dv``    — ``snapshot_delete_dv``: one pushdown-filtered scan to
  find positions + an O(deleted rows) sidecar + a metadata commit.
  The predicate scan is corpus-sized but file-writing is NOT: expected
  to grow far slower than the rewrite (scan-bound, no shuffle, no
  data-file writes).
* ``cow``   — ``snapshot_merge`` with 64 'D' change rows: the
  copy-on-write rewrite (the table records no stats, so every file is
  hot and rewritten).
  Expected to grow linearly with the corpus.

Also timed at every size: the post-delete full read with the DV
anti-join applied (``read_dv``) vs the rewritten table's plain read
(``read_cow``) — the merge-on-read tax a purge pays off.

Run: python tools/scaling_dv.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_weather_jabar_spark.session import get_spark  # noqa: E402
from etl_weather_jabar_spark.snapshots import (  # noqa: E402
    snapshot_delete_dv,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
)
from etl_weather_jabar_spark.sources.parquet import load_table  # noqa: E402

KEYS = [i * 97 for i in range(64)]  # fixed delete set, present at 1x


def _build(spark, orders, mult: int, tag: str) -> str:
    rep = spark.range(mult).select((F.col("id") * 10_000_000).alias("off"))
    corpus = orders.crossJoin(rep).select(
        (F.col("o_orderkey") + F.col("off")).alias("k"),
        "o_custkey",
        "o_totalprice",
        F.repeat(F.md5((F.col("o_orderkey") + F.col("off")).cast("string")), 8)
        .alias("payload"),
    )
    path = tempfile.mkdtemp(prefix=f"dvprobe_{tag}_{mult}x_") + "/t"
    snapshot_write(corpus.repartition(16 * mult, "k"), path)
    return path


def main() -> None:
    spark = get_spark()
    orders = load_table(spark, "/root/testdata/sf0.1", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    keys_sql = ", ".join(str(k) for k in KEYS)
    print(f"{'mult':>4} {'rows':>10} {'dv_s':>8} {'cow_s':>8} "
          f"{'read_dv_s':>10} {'read_cow_s':>11}")
    for mult in (4, 16, 64):
        p_dv = _build(spark, orders, mult, "dv")
        p_cow = _build(spark, orders, mult, "cow")
        n = snapshot_read(spark, p_dv).count()

        t0 = time.time()
        snapshot_delete_dv(spark, p_dv, f"k IN ({keys_sql})")
        dv_s = time.time() - t0

        changes = spark.createDataFrame(
            [(k, None, None, None, 1, "D") for k in KEYS],
            "k long, o_custkey long, o_totalprice double, "
            "payload string, seq int, op string",
        )
        t0 = time.time()
        snapshot_merge(spark, p_cow, changes, ["k"])
        cow_s = time.time() - t0

        t0 = time.time()
        n_dv = snapshot_read(spark, p_dv).count()
        read_dv_s = time.time() - t0
        t0 = time.time()
        n_cow = snapshot_read(spark, p_cow).count()
        read_cow_s = time.time() - t0
        assert n_dv == n_cow == n - len(KEYS), (n, n_dv, n_cow)

        print(f"{mult:>4} {n:>10} {dv_s:>8.2f} {cow_s:>8.2f} "
              f"{read_dv_s:>10.2f} {read_cow_s:>11.2f}")


if __name__ == "__main__":
    main()
