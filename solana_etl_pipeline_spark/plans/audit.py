"""Physical-plan audits — make "is this the plan I'd want at 100 TB?"
checkable in code instead of by eyeballing ``.explain()``.

The brief's scale contract (pushdown reached the scan, small dims
broadcast, top-k compiled to TakeOrderedAndProject, no stray
Exchange/CartesianProduct) is asserted by ``tests/test_scale_features``
over the plans this module reads, including the per-round plans the
iterative operators record before they checkpoint.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan, as Spark prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- #
# Pre-checkpoint plan capture.
#
# Iterative operators (connected components, PageRank) truncate their
# lineage with localCheckpoint each round, so the FINAL DataFrame's
# plan is just a scan of checkpointed partitions — 0 exchanges, 0
# joins. Auditing only final plans therefore leaves the graph family
# invisible to the cartesian-product gate (r7 task #4 / r8 task #7).
# The fix: the iterative operators call
# ``record_pre_checkpoint`` with each DataFrame RIGHT BEFORE
# checkpointing it; inside a ``capture_pre_checkpoint_plans()`` scope
# those per-round plans are collected (compiling the plan is
# driver-side only — nothing extra executes). Outside a capture scope
# the call is a no-op ``is None`` check, so production runs pay
# nothing.
# ---------------------------------------------------------------- #

# ContextVar, not a module global: gate runs build queries from
# multiple threads (the suite exercises threaded construction —
# cf. test_cache_scope_is_thread_local), and a shared buffer would
# interleave stage records or restore the wrong previous scope
# (ADVICE r9). Each thread/context sees its own capture buffer.
_PRE_CHECKPOINT: contextvars.ContextVar[list[dict[str, str]] | None] = (
    contextvars.ContextVar("pre_checkpoint_plans", default=None)
)


@contextlib.contextmanager
def capture_pre_checkpoint_plans():
    """Collect ``{"stage": ..., "plan": ...}`` for every checkpointed
    intermediate built inside the scope. Reentrant-safe (inner scopes
    shadow, then restore) and thread/context-isolated.

    THREADING (ADVICE r10/r11): contextvars do not propagate to raw
    threads spawned INSIDE the scope — a query builder that
    constructs its checkpointed DataFrames in a bare
    ``threading.Thread`` would record nothing here (the thread sees
    the default ``None`` buffer and :func:`record_pre_checkpoint`
    no-ops). Every recorder (cluster.py, graph.py) records in the
    constructing thread; a builder that spawns workers must run them
    in a copy of the spawning context (``contextvars.copy_context``)."""
    captured: list[dict[str, str]] = []
    token = _PRE_CHECKPOINT.set(captured)
    try:
        yield captured
    finally:
        _PRE_CHECKPOINT.reset(token)


def record_pre_checkpoint(stage: str, df: DataFrame) -> None:
    """Called by iterative operators just before ``localCheckpoint``;
    no-op unless a capture scope is active in this thread/context."""
    buf = _PRE_CHECKPOINT.get()
    if buf is not None:
        buf.append({"stage": stage, "plan": executed_plan(df)})
