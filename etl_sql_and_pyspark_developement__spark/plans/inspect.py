"""Physical-plan introspection: the programmatic form of the
`.explain("formatted")` audit PLANS.md records by hand.
`executed_plan_metrics(df)` reads the EXECUTED adaptive plan's own
counters (scans, shuffles, broadcasts, join strategies, Python stages)
so a pipeline author can assert the plan SHAPE before launching a
100 TB run instead of eyeballing explain text; tools/plan_audit.py
pins it for every shipped query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _walk_executed(node):
    """Depth-first walk of an EXECUTED physical plan, following the
    adaptive indirections explain text hides: AdaptiveSparkPlanExec
    yields its finalized plan, *QueryStageExec wrappers yield the
    stage's materialized subtree. ReusedExchangeExec is a LeafExecNode
    in Spark (it references, not contains, its exchange) — the walk
    is TRANSPARENT through it (r12): it yields the marker and then
    the full REFERENCED subtree, so every node below a reused
    exchange is accounted exactly as if the exchange had been built
    a second time. That makes both outcomes of AQE's stage-cache race
    (two built broadcasts vs one built + one reuse marker) walk
    identical node multisets — for exchanges AND for the scans/joins/
    Python stages beneath them (the r11 ref-mode counted only
    exchange kinds/rows, so a raced subtree containing a scan or
    join could still flap the fingerprint — r11 ADVICE item, closed
    here). Referenced nodes expose the original build's metric
    accumulators, so the counted rows are equal on both sides of the
    race by construction."""
    name = node.getClass().getSimpleName()
    yield node, name
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_executed(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _walk_executed(node.plan())
        return
    if name == "ReusedExchangeExec":
        yield from _walk_executed(node.child())
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_executed(it.next())


def _node_metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def executed_plan_metrics(df: DataFrame) -> dict:
    """The EXECUTED adaptive plan's own counters. Call AFTER an action on df (the metrics are
    populated by execution; before it they read 0/initial). At fixed
    input these are DETERMINISTIC — row counts and node counts don't
    drift with box load the way wall-clock does — so a committed
    record of them gates regressions with zero headroom: a lost
    pushdown moves scan_rows, an extra shuffle moves n_shuffles, a
    broadcast that silently became a sort-merge moves joins. (Byte
    sizes are deliberately NOT recorded: compression and batch
    framing make them run-to-run noisy; record counts are exact.)

    Keys:
    - n_scans / scan_rows: source scans and each one's numOutputRows,
      sorted (post-pushdown row counts — THE pushdown regression
      detector)
    - n_shuffles / shuffle_rows: shuffle-exchange REFERENCES and each
      reference's records written, sorted (see below)
    - n_broadcasts / broadcast_rows: broadcast-exchange REFERENCES and
      rows broadcast per reference
    - n_python_stages: Arrow/Pandas/row-Python eval stages executed
    - joins: executed join strategy name -> count
    - has_cartesian: CartesianProduct / BroadcastNestedLoopJoin ran

    ALL counts are REFERENCE counts, not build counts (r11 for
    exchanges; r12 for everything below them): whether AQE's stage
    cache dedupes two identical BROADCAST stages is a RACE — when
    both submit before either registers, the executed plan carries
    two built BroadcastExchangeExec nodes; when one wins, the second
    is a ReusedExchangeExec marker (observed flapping on q112 with
    identical code and input). The walk is TRANSPARENT through a
    ReusedExchangeExec (_walk_executed): the referenced subtree's
    exchanges, scans, joins, and Python stages all count once more as
    references, with the original build's metric values — so both
    race outcomes yield the SAME fingerprint for EVERY field (the r11
    form counted only exchange kinds/rows in reused subtrees, leaving
    n_scans/scan_rows/joins able to flap when the raced subtree
    contained a scan or join — r11 ADVICE item, closed in r12), while
    a real plan change still moves counts or rows. Reuse-as-a-contract
    (q112's subject) is pinned by tests/test_plans.py's textual assert
    (exactly one marker exists in either outcome), not by this record.

    Main-tree only: subquery plans (scalar subqueries, DPP filters)
    execute as separate trees and are pinned by their own contracts
    (tests/test_plans.py's q104 DPP assertion); this record is the
    per-lane main-plan fingerprint.
    """
    plan = df._jdf.queryExecution().executedPlan()
    scan_rows: list[int] = []
    shuffle_rows: list[int] = []
    broadcast_rows: list[int] = []
    joins: dict[str, int] = {}
    n_python = 0
    has_cartesian = False

    for node, name in _walk_executed(plan):
        if name in (
            "FileSourceScanExec",
            "BatchScanExec",
            "RowDataSourceScanExec",
            "InMemoryTableScanExec",
            "LocalTableScanExec",
            "RDDScanExec",  # createDataFrame/localCheckpoint replays
            "ExternalRDDScanExec",
        ):
            scan_rows.append(int(_node_metrics(node).get("numOutputRows", 0)))
        elif name == "ShuffleExchangeExec":
            shuffle_rows.append(
                int(_node_metrics(node).get("shuffleRecordsWritten", 0))
            )
        elif name == "BroadcastExchangeExec":
            broadcast_rows.append(
                int(_node_metrics(node).get("numOutputRows", 0))
            )
        elif name.endswith("JoinExec") or name == "CartesianProductExec":
            joins[name] = joins.get(name, 0) + 1
            if name in ("CartesianProductExec", "BroadcastNestedLoopJoinExec"):
                has_cartesian = True
        if (
            "Python" in name  # Batch/ArrowEvalPython, ArrowAggregatePython, UDTF
            or "InPandas" in name
            or "InArrow" in name
        ):
            n_python += 1
    return {
        "n_scans": len(scan_rows),
        "scan_rows": sorted(scan_rows),
        "n_shuffles": len(shuffle_rows),
        "shuffle_rows": sorted(shuffle_rows),
        "n_broadcasts": len(broadcast_rows),
        "broadcast_rows": sorted(broadcast_rows),
        "n_python_stages": n_python,
        "joins": dict(sorted(joins.items())),
        "has_cartesian": has_cartesian,
    }
