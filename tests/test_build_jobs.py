"""Build-job budget of the contract queries: how many Spark jobs each
``__spark_entry__`` query runs while its DataFrame is being built, before
any action on the result.

Each query is built once under its own job group
(:func:`testlib.count_jobs`), after the oracle handoffs are written
(their writes are not part of any query's count). Jobs whose every stage
is a ``parquet at ...`` stage are left out: Spark's schema inference for
each ``spark.read.parquet``, and a query's own parquet staging writes.
The rest are the operators' own build jobs, pinned per query below; any
change fails with the query name and the old and new counts.
"""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

import __spark_entry__ as entry
from tests.testlib import count_jobs

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"

# the scale the oracle handoffs are written for (the documented correctness sf)
SF = inspect.signature(entry._ensure_handoffs).parameters["sf_dir"].default

# query -> (operator-owned build jobs, why the operator runs them).
# Queries not listed run none.
BUILD_JOBS = {
    "dedup_clusters": (
        6,
        "near_dup_pairs' 2 (below), then the min-label loop: eager "
        "localCheckpoints of the edge list (2 jobs: AQE first fills the "
        "pairs cache as a stage of its own) and the first-hop labels, and "
        "one convergence first() per round (1 round here; the number of "
        "rounds depends on the data)",
    ),
    "cross_dup_pairs": (
        4,
        "2 eager count()s in dedup._live_shingles (corpus and reference "
        "shingles), 2 jobs each: AQE fills the cache as a stage of its own, "
        "then counts",
    ),
    "near_dup_pairs": (
        2,
        "the eager count() in dedup._live_shingles: AQE fills the cache as "
        "a stage of its own, then counts",
    ),
    "ann_ivf": (1, "ivf_topk collects its n_cells centroids to the driver"),
    "dup_ngram_spans": (1, "eager localCheckpoint of the per-position gram hashes"),
    "boilerplate_strip": (1, "eager localCheckpoint of the chunk hashes"),
    "token_commonness": (1, "eager localCheckpoint of the exploded tokens"),
}


def test_contract_query_build_jobs_are_pinned(spark):
    for name in entry._HANDOFFS:
        entry._handoff_of(spark, name, SF)
    written = set(entry._HANDOFF_WRITTEN)
    got = {
        name: count_jobs(spark, lambda: build(spark, SF), parquet=False)
        for name, build in entry.queries().items()
    }
    assert entry._HANDOFF_WRITTEN == written, "a query build wrote a handoff"
    want = {name: n for name, (n, _) in BUILD_JOBS.items()}
    changed = [
        f"{name}: {want.get(name, 0)} -> {n}"
        for name, n in sorted(got.items())
        if n != want.get(name, 0)
    ]
    assert not changed, "operator-owned build jobs changed: " + "; ".join(changed)
    assert not want.keys() - got.keys(), "pinned queries missing from queries()"


# all jobs of one corpus_dedup pass on a 1k-doc one-file corpus, measured
# on 4 vCPU: 3 parquet schema inferences; near_dup_pairs' eager shingle
# count() (2) and its digest (2: AQE first fills the pairs cache as a stage
# of its own); the eager localCheckpoint and the digest of dup_ngram_spans
# and of strip_boilerplate_chunks (2 + 2); dedup_clusters' 2 checkpoints, 1
# convergence round and its digest (4). 37 before the one-partition plans.
CORPUS_DEDUP_PASS_JOBS = 15


def test_corpus_dedup_pass_job_budget(spark, tmp_path):
    """One pass of the benchmark's corpus_dedup workload (its own
    corpus, seed 7, and its four steps, each built and digested as the
    benchmark does) runs at most CORPUS_DEDUP_PASS_JOBS Spark jobs. Every
    job costs a fixed ~60 ms of JVM CPU whatever its row count, so on a
    corpus this small the job count sets the pass's CPU."""
    sys.path.insert(0, str(PERFBENCH))  # perfbench imports its modules by bare name
    from digest import spark_digest
    from workloads import CorpusDedup

    wl = CorpusDedup(spark, str(tmp_path), 7, 1.0, None)
    wl.generate()

    def one_pass():
        for _, build in wl.steps():
            spark_digest(build())

    n = count_jobs(spark, one_pass)
    assert n <= CORPUS_DEDUP_PASS_JOBS, f"{n} jobs, budget {CORPUS_DEDUP_PASS_JOBS}"
