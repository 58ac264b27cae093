"""Workload definitions: which operations a pass runs, in seeded order."""

from __future__ import annotations

import random

# Construction-heavy: plan building (Column algebra, eager jobs,
# localCheckpoint pins, plan_memo) outweighs the final execution.
# No execution-heavy query workload is run: with a fresh JVM per run
# (about 15 s of set-up), a third workload's runs leave no room in the
# benchmark's time budget for the work per run that keeps the other two
# steady; doc_refresh, whose final execution outweighs its construction,
# is the control for construction-side changes.
DEDUP_SEARCH = (
    "dedup_components",
    "dedup_method_venn",
    "embed_pca_deflate",
    "hnsw_search_sim",
    "ann_recall_eval",
)
QUERY_WORKLOADS = {"dedup_search": DEDUP_SEARCH}

# doc_refresh: the reference's document path. Each stage is written to
# parquet under its own name; the export and the upsert read them back.
REFRESH_COPIES = 2
DOC_STAGES = {
    "catalog_delta": "delta",
    "section_hierarchy": "sections",
    "chunk_breakpoints": "chunks",
    "embed_feature_hash": "embeddings",
}
DOC_SINKS = ("csv_export", "jdbc_upsert")
DOC_OPS = (*DOC_STAGES, *DOC_SINKS)
# Left out on purpose: these number master ids through the range-partition
# ordering device (functions.distributed), whose output is wrong at 4
# shuffle partitions (ROADMAP open item 1).
DOC_EXCLUDED = ("catalog_merge", "catalog_validate", "run_refresh")

WORKLOADS = ("doc_refresh", *QUERY_WORKLOADS)


def query_order(workload: str, seed: int) -> list[str]:
    names = list(QUERY_WORKLOADS[workload])
    random.Random(seed).shuffle(names)
    return names


def operations(workload: str, seed: int) -> list[str]:
    """Every operation of one pass, in the order the pass runs them: the
    seed shuffles the queries, or the doc_refresh stage writes (the
    export and the upsert read the stages, so they come last)."""
    if workload == "doc_refresh":
        stages = list(DOC_STAGES)
        random.Random(seed).shuffle(stages)
        return [*stages, *DOC_SINKS]
    return query_order(workload, seed)
