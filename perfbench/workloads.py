"""The benchmark's workloads: which engine operations one pass runs.

`query_mix` runs registered queries: one op is the registered
`(spark, sf_dir) -> DataFrame` builder plus `toPandas()`, the action
that materializes every output column. Its ops come from three
families that load different layers, and the traced run splits layer
self time per family:

- `etl`: the reference's relational surface (an aggregate and a
  six-way join); execution-bound (no Python workers).
- `llm`: LLM-data curation operators; `multimodal_decode` runs Arrow
  Python workers (mapInPandas), `text_quality_score` projects many
  computed columns.
- `fixpoint`: duplicate clustering by connected components (min-label
  propagation over the near-duplicate pair graph) whose driver-side
  build (eager checkpoint and count per round) dominates its time.

The `lakehouse_write` journey runs the write path: one op is one
`lakehouse.*` call, one version-pinned read, or one streaming drain.
"""

from __future__ import annotations

FAMILIES = {
    "etl": ["q1_pricing_summary", "q5_revenue_by_nation"],
    "llm": ["text_quality_score", "multimodal_decode"],
    "fixpoint": ["graph_community_components"],
}

QUERY_WORKLOADS = {"query_mix": [op for ops in FAMILIES.values() for op in ops]}
JOURNEY_WORKLOADS = {"lakehouse_write"}
WORKLOADS = [*QUERY_WORKLOADS, *sorted(JOURNEY_WORKLOADS)]

#: timed passes the end-to-end metrics use, after one untimed warm-up
#: pass: as many as fit a run of about a minute. Each op's time is the
#: median of its TIMED_PASSES samples, so one disturbed pass moves none.
TIMED_PASSES = 4


def family_of(op: str) -> str:
    """Family of a query op; journey ops form the `lakehouse` family."""
    return next((f for f, ops in FAMILIES.items() if op in ops), "lakehouse")


def query_ops(workload: str) -> list[str]:
    """Registered query names a workload runs (their oracles are the
    output checks)."""
    if workload in QUERY_WORKLOADS:
        return list(QUERY_WORKLOADS[workload])
    if workload in JOURNEY_WORKLOADS:
        return []
    raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")
