"""Physical-plan audits — make "is this the plan I'd want at 100 TB?"
checkable in code instead of by eyeballing ``.explain()``.

The brief's scale contract (pushdown reached the scan, small dims
broadcast, top-k compiled to TakeOrderedAndProject, no stray
Exchange/CartesianProduct) is asserted by ``tests/test_scale_features``
through this module, and ``plan_report`` summarizes every registered
query's physical operators so a reviewer can diff plan shapes between
rounds without re-running the bench.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading

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
# invisible to the cartesian-product gate and to PLANS.md (r7 task #4
# / r8 task #7). The fix: the iterative operators call
# ``record_pre_checkpoint`` with each DataFrame RIGHT BEFORE
# checkpointing it; inside a ``capture_pre_checkpoint_plans()`` scope
# those per-round plans are collected (compiling the plan is
# driver-side only — nothing extra executes). Outside a capture scope
# the call is a no-op ``is None`` check, so production runs pay
# nothing.
# ---------------------------------------------------------------- #

# ContextVar, not a module global: plan_report/gate runs build queries
# from multiple threads (the suite exercises threaded construction —
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
    no-ops — silent-data-loss shaped). Spawn workers with
    :func:`context_thread` instead: it runs the body inside a COPY of
    the spawning context, so the capture buffer follows
    (tests/test_scale_features.py pins both behaviors). Every current
    caller (plan_report, cluster.py, graph.py) records in the
    constructing thread."""
    captured: list[dict[str, str]] = []
    token = _PRE_CHECKPOINT.set(captured)
    try:
        yield captured
    finally:
        _PRE_CHECKPOINT.reset(token)


def context_thread(target, *args, **kwargs) -> threading.Thread:
    """An unstarted ``Thread`` whose body runs inside a COPY of the
    spawning thread's contextvars context.

    This is the supported way to build queries on worker threads
    inside a :func:`capture_pre_checkpoint_plans` scope: the capture
    buffer is a ContextVar, and Python does not propagate context to
    raw ``threading.Thread`` bodies, so a bare thread would silently
    record nothing. The copied context means the worker appends to
    the SAME captured list object the scope yielded (list mutation is
    shared; only the variable binding is copied)."""
    ctx = contextvars.copy_context()
    return threading.Thread(
        target=lambda: ctx.run(target, *args, **kwargs)
    )


def record_pre_checkpoint(stage: str, df: DataFrame) -> None:
    """Called by iterative operators just before ``localCheckpoint``;
    no-op unless a capture scope is active in this thread/context."""
    buf = _PRE_CHECKPOINT.get()
    if buf is not None:
        buf.append({"stage": stage, "plan": executed_plan(df)})


def formatted_explain(df: DataFrame) -> str:
    """``explain("formatted")`` as a string (operators + detail blocks,
    including ``PushedFilters`` / ``ReadSchema`` per scan)."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def scan_info(df: DataFrame) -> list[dict[str, str]]:
    """Per-parquet-scan ``PushedFilters`` and ``ReadSchema`` — the two
    lines that decide whether a 100 TB scan reads 100 TB."""
    text = formatted_explain(df)
    scans: list[dict[str, str]] = []
    current: dict[str, str] | None = None
    for line in text.splitlines():
        stripped = line.strip()
        if stripped.startswith("(") and "Scan parquet" in stripped:
            current = {"scan": stripped}
            scans.append(current)
        elif current is not None and stripped.startswith("PushedFilters:"):
            current["pushed_filters"] = stripped.removeprefix("PushedFilters:").strip()
        elif current is not None and stripped.startswith("ReadSchema:"):
            current["read_schema"] = stripped.removeprefix("ReadSchema:").strip()
            current = None
    return scans


def assert_plan(
    df: DataFrame,
    require: tuple[str, ...] = (),
    forbid: tuple[str, ...] = (),
) -> str:
    """Assert substrings (non-)present in the executed plan; returns the
    plan text so callers can chain further checks."""
    plan = executed_plan(df)
    for token in require:
        assert token in plan, f"plan missing {token!r}:\n{plan}"
    for token in forbid:
        assert token not in plan, f"plan contains forbidden {token!r}:\n{plan}"
    return plan


def plan_report(queries, spark, sf_dir: str) -> dict[str, dict]:
    """Summarize every query's physical plan: operator multiset plus
    scan pushdown lines. ``queries`` is ``{name: (spark, sf_dir) -> DataFrame}``."""
    report: dict[str, dict] = {}
    for name, fn in queries.items():
        # capture per-round plans of checkpointed intermediates so the
        # iterative queries report their real join/exchange counts
        # instead of a bare checkpoint scan
        with capture_pre_checkpoint_plans() as staged:
            df = fn(spark, sf_dir)
            plan = executed_plan(df)
        plans = [plan] + [s["plan"] for s in staged]
        counts: dict[str, int] = {}
        for op in (
            "Exchange", "BroadcastHashJoin", "SortMergeJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct",
            "TakeOrderedAndProject", "HashAggregate", "ObjectHashAggregate",
            "SortAggregate", "WholeStageCodegen", "Window",
            "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
            "MapInPandas",
        ):
            n = sum(p.count(op) for p in plans)
            if n:
                counts[op] = n
        report[name] = {"operators": counts, "scans": scan_info(df)}
        if staged:
            report[name]["checkpoint_stages"] = len(staged)
    return report
