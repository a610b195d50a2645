"""Build-job budget of the contract queries: how many Spark jobs each
``__spark_entry__`` query runs while its DataFrame is being built, before
any action on the result.

Each query is built once under its own job group, after the oracle
handoffs are written (their writes run under a separate group and are
not part of any query's count). Jobs whose every stage is a ``parquet at
...`` stage are left out: Spark's schema inference for each
``spark.read.parquet``, and a query's own parquet staging writes. The
rest are the operators' own build jobs, pinned per query below; any
change fails with the query name and the old and new counts.
"""

from __future__ import annotations

import inspect
import uuid

import __spark_entry__ as entry

# the scale the oracle handoffs are written for (the documented correctness sf)
SF = inspect.signature(entry._ensure_handoffs).parameters["sf_dir"].default

# query -> (operator-owned build jobs, why the operator runs them).
# Queries not listed run none.
BUILD_JOBS = {
    "dedup_clusters": (
        16,
        "near_dup_pairs' shingle count() with its broadcast jobs, then the "
        "min-label loop: eager localCheckpoints of the edge list and the "
        "first-hop labels and one convergence first() per round, with the "
        "broadcast jobs under them; the number of rounds depends on the data",
    ),
    "cross_dup_pairs": (
        6,
        "2 eager count()s in dedup._live_shingles (corpus and reference "
        "shingles) and the 4 broadcast jobs under them",
    ),
    "near_dup_pairs": (
        3,
        "the eager count() in dedup._live_shingles and the 2 broadcast jobs "
        "under it",
    ),
    "ann_ivf": (1, "ivf_topk collects its n_cells centroids to the driver"),
    "dup_ngram_spans": (1, "eager localCheckpoint of the per-position gram hashes"),
    "boilerplate_strip": (1, "eager localCheckpoint of the chunk hashes"),
    "token_commonness": (1, "eager localCheckpoint of the exploded tokens"),
}


def _operator_jobs(tracker, job_ids) -> int:
    def parquet_only(job_id):
        info = tracker.getJobInfo(job_id)
        stages = [tracker.getStageInfo(s) for s in info.stageIds] if info else []
        return bool(stages) and all(
            s is not None and s.name.startswith("parquet at ") for s in stages
        )

    return sum(not parquet_only(j) for j in job_ids)


def test_contract_query_build_jobs_are_pinned(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    run = uuid.uuid4().hex[:8]
    try:
        sc.setJobGroup(f"handoffs_{run}", "oracle handoff writes")
        for name in entry._HANDOFFS:
            entry._handoff_of(spark, name, SF)
        written = set(entry._HANDOFF_WRITTEN)
        got = {}
        for name, build in entry.queries().items():
            group = f"build_{name}_{run}"
            sc.setJobGroup(group, f"build {name}")
            build(spark, SF)
            got[name] = _operator_jobs(tracker, tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert entry._HANDOFF_WRITTEN == written, "a query build wrote a handoff"
    want = {name: n for name, (n, _) in BUILD_JOBS.items()}
    changed = [
        f"{name}: {want.get(name, 0)} -> {n}"
        for name, n in sorted(got.items())
        if n != want.get(name, 0)
    ]
    assert not changed, "operator-owned build jobs changed: " + "; ".join(changed)
    assert not want.keys() - got.keys(), "pinned queries missing from queries()"
