"""Plan-only construction mode (round-3 verdict item 8).

Several builders are EAGER by necessity at execution time: iterative
algorithms (connected components, BFS, PageRank) cut lineage with
``localCheckpoint`` every round and poll a convergence scalar, and the
MinHash candidate set is checkpointed because two later joins consume
it. That is the right execution shape — but a caller who only wants the
PLAN (CLI ``--explain``, ``tools/plan_audit.py`` writing PLANS.md on
demand, interactive plan inspection) should not pay for running the queries.

``plan_only()`` is a thread-local context manager; inside it:

* :func:`checkpoint` becomes the identity (no materialization, lineage
  kept — irrelevant for a plan that never runs);
* :func:`loop_rounds` clamps iterative algorithms to ONE representative
  round (the per-round plan is what an auditor inspects; every round has
  the same shape by construction), and :func:`converged` reports
  "converged" without running the convergence probe job.

Execution-path callers never enter the context, so behavior and results
are unchanged; the oracle harness and tests run entirely outside it
(except the tests that pin this module itself).
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_state = threading.local()


def is_plan_only() -> bool:
    return getattr(_state, "on", False)


@contextlib.contextmanager
def plan_only():
    """Within this context, builders construct plans without executing
    jobs (no checkpoints, single-round iteration, no convergence
    probes). Results of executing such a plan are REPRESENTATIVE, not
    final — use only for explain/audit."""
    prev = getattr(_state, "on", False)
    _state.on = True
    try:
        yield
    finally:
        _state.on = prev


def checkpoint(df: DataFrame, *, reliable: bool = False) -> DataFrame:
    """Cut lineage / materialize ``df`` once on the execution path;
    identity in plan-only mode.

    Default (``reliable=False``): ``localCheckpoint()`` — fast, but the
    blocks are UNREPLICATED executor memory/disk AND lineage is
    discarded: on a real cluster an executor loss kills the job with
    nothing to rebuild from. Fine for local / interactive runs and for
    iterative loops whose whole point is dropping lineage.

    ``reliable=True`` (round-5 verdict item 3): ``persist(DISK_ONLY)``
    plus a materializing count. Lineage is KEPT, so a lost block
    recomputes from source instead of failing the job, and DISK_ONLY
    keeps a large frame out of executor heap. This is the shape for a
    multi-consumer frame on a 1000-executor run (see SCALING.md). The
    step beyond — a reliable ``df.checkpoint()`` to a replicated
    ``setCheckpointDir`` on HDFS/S3 — matters when even
    recompute-from-source is too expensive; local mode has no
    replicated FS, so it is documented rather than defaulted.

    Lifetime: callers do not unpersist — these frames are query-local,
    so once the query's DataFrames are garbage-collected on the driver
    Spark's ContextCleaner unpersists the blocks asynchronously
    (reference tracking is on by default); a long session running many
    queries holds at most the not-yet-collected tail, not a monotone
    leak.
    """
    if is_plan_only():
        return df
    if reliable:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.DISK_ONLY)
        df.count()
        return df
    return df.localCheckpoint()


def loop_rounds(n: int) -> int:
    """Iteration budget for convergence loops: ``n`` when executing, 1
    representative round in plan-only mode."""
    return 1 if is_plan_only() else n


def converged(probe) -> bool:
    """Run the (driver-side, 1-row) convergence probe on the execution
    path; in plan-only mode declare convergence without running a job.
    ``probe`` is a zero-arg callable returning bool."""
    return True if is_plan_only() else bool(probe())
