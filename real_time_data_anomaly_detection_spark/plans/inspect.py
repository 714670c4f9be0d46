"""Assertions over Spark physical plans, and the house size policy.

The assertions make scale properties TESTABLE: "the dimension join
broadcasts", "the filter reached the parquet scan", "this pipeline
shuffles once" — the difference between working-at-sf0.01 and
working-at-100TB. Used by tests/test_plans.py and available for ad-hoc
plan review.

The size policy is the one place that reads Catalyst's sizeInBytes
estimate (:func:`plan_size_bytes`) to decide a materialization or a
broadcast: every operator goes through :func:`checkpoint_if_small` and
:func:`broadcast_if_small` instead of comparing estimates itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKPOINT_MAX_BYTES = 1 << 30
BROADCAST_MAX_BYTES = 64 << 20


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text (executed-plan string)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the scan's PushedFilters mentions every fragment."""
    plan = formatted_plan(df)
    pushed_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    blob = " ".join(pushed_lines)
    return all(fr in blob for fr in fragments) and bool(pushed_lines)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded — they're the cheap kind)."""
    plan = formatted_plan(df)
    return sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("(")
        and "Exchange" in ln
        and "BroadcastExchange" not in ln
    )


def scan_read_schema(df: DataFrame, table_hint: str = "") -> list[str]:
    """Column names in the (first matching) parquet scan's ReadSchema —
    verifies column pruning reached the reader."""
    plan = formatted_plan(df)
    for ln in plan.splitlines():
        if "ReadSchema" in ln and (table_hint in ln if table_hint else True):
            # ReadSchema: struct<a:int,b:string,...>
            inner = ln.split("struct<", 1)[-1].rsplit(">", 1)[0]
            return [p.split(":")[0] for p in inner.split(",") if ":" in p]
    return []


def live_exchanges(df: DataFrame) -> list[str]:
    """Shuffle exchanges OUTSIDE InMemoryRelation cached-plan subtrees
    — the exchanges a consumer of an already-materialized cache
    actually pays per execution (cache-build exchanges are a one-time
    fill cost and are excluded, as are ReusedExchange and broadcast
    exchanges).

    Implemented as a py4j TREE walk rather than explain-string
    parsing: ``InMemoryTableScanExec`` is a childless leaf in the plan
    tree (the cached plan is only rendered by toString, where nested
    AQE sections break indentation conventions), so walking children
    never descends into cache-fill plans. ``AdaptiveSparkPlanExec``
    wraps its input with no children; its ``initialPlan`` (input plan
    AFTER EnsureRequirements inserted the exchanges, BEFORE runtime
    re-optimization) is the honest static answer — ``inputPlan`` would
    show no exchanges at all.

    Used by iterative operators (pagerank) to pin that per-round
    shuffles carry only iteration-state-sized relations, not the
    persisted corpus-sized side."""
    out: list[str] = []

    def walk(node) -> None:
        cname = node.getClass().getSimpleName()
        if cname.startswith("InMemoryTableScan"):
            return
        if cname == "ReusedExchangeExec":
            return
        if cname == "ShuffleExchangeExec":
            out.append(
                f"Exchange {node.outputPartitioning().toString()}"
            )
        if cname == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def partitionless_windows(df) -> list[str]:
    """Window-family physical nodes with an EMPTY partition spec —
    each one funnels its whole input through a single task (the
    `WindowExec: No Partition Defined` warning). Legitimate only on
    bounded-cardinality relations (a top-k result, a sketch-sized
    sample); tests/test_plans.py pins the registry-wide whitelist.

    Same py4j tree walk as live_exchanges: AQE nodes contribute their
    initialPlan, cached subtrees are childless leaves."""
    out: list[str] = []

    def walk(node) -> None:
        cname = node.getClass().getSimpleName()
        if cname.startswith("InMemoryTableScan"):
            return
        if cname in (
            "WindowExec",
            "WindowInPandasExec",
            "WindowGroupLimitExec",
        ):
            if node.partitionSpec().isEmpty():
                out.append(cname)
        if cname == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def plan_size_bytes(df) -> int:
    """Catalyst's sizeInBytes estimate for a DataFrame's optimized
    plan, or 2^60 when unavailable — the input to the size policy
    below. py4j returns the underlying BigInt as a Python int on
    current pyspark; older versions handed back a JVM object needing
    .toString() — handle both, because the AttributeError
    from assuming one form silently disabled EVERY size gate (the
    checkpoint never fired and nobody noticed until a plan audit found
    zero ExistingRDD scans)."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return raw if isinstance(raw, int) else int(raw.toString())
    except Exception:  # estimate unavailable → assume big, recompute
        return 1 << 60


def checkpoint_if_small(df: DataFrame, size_of: DataFrame):
    """An eager ``localCheckpoint`` of ``df`` when the estimate of
    ``size_of`` is at most 1 GB, else ``df`` unchanged — callers
    compare identity to learn which branch ran. Used where one derived
    relation feeds several consumers and Catalyst would re-inline its
    subplan under each; ``size_of`` is typically the scanned input,
    whose estimate is known before anything runs.

    Above 1 GB a recompute beats materializing a corpus-sized relation
    (the checkpoint costs more storage traffic than another codegen'd
    pass). An unknown estimate (2^60 here, Long.MaxValue from Spark for
    in-memory relations) counts as big. The only eager checkpoints
    outside this helper are bounded by construction: pagerank's final
    rank vector (taken before its caches are released) and the two
    per-trigger decodes in streaming/ingest.py (one trigger's input)."""
    if plan_size_bytes(size_of) > CHECKPOINT_MAX_BYTES:
        return df
    return df.localCheckpoint(eager=True)


def broadcast_if_small(df: DataFrame, size_of: DataFrame):
    """``F.broadcast(df)`` when the estimate of ``size_of`` is at most
    64 MB, else ``df`` — the small side of a batch-vs-corpus join ships
    to the big side's tasks so the corpus never shuffles, and a
    backfill-sized batch degrades to a shuffle join. A broadcast above
    64 MB risks executor OOM; an unknown estimate counts as big."""
    if plan_size_bytes(size_of) > BROADCAST_MAX_BYTES:
        return df
    return F.broadcast(df)


def executed_file_scans(df) -> int:
    """Number of file-scan nodes the EXECUTED plan actually runs —
    call AFTER an action so AQE has finalized. Walks the adaptive
    tree (query stages contribute their materialized plan), skipping
    ReusedExchange subtrees (their source executes once elsewhere),
    so N identical-looking scans deduped by exchange reuse count as
    the one physical read they are. The multi-consumer fusion pin:
    q_drift_report must report exactly 1 (round-11 — the composed
    version paid 3; differential column pruning is what forks
    otherwise-identical consumers into re-scans)."""
    n = 0

    def walk(node) -> None:
        nonlocal n
        cname = node.getClass().getSimpleName()
        if cname in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            return
        if cname.startswith("InMemoryTableScan"):
            return
        if "FileSourceScan" in cname or "BatchScan" in cname:
            n += 1
        if cname == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cname.endswith("QueryStageExec"):
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return n
