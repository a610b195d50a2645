"""Training-pipeline extensions added round 4: benchmark
decontamination and dedup cluster assignment."""

import uuid

import pytest

from pyrosar_spark.operators.dedup import dedup_clusters
from pyrosar_spark.operators.textstats import contamination


def test_contamination_flags_leaked_fragment(spark):
    leak = " ".join(f"tok{i}" for i in range(20))  # 20-token fragment
    docs = spark.createDataFrame(
        [
            (1, f"prefix words {leak} suffix words"),   # contains the fragment
            (2, "completely unrelated text with enough tokens to shingle "
                "but nothing shared with the benchmark at all here"),
            (3, leak),                                   # IS the fragment
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, leak)], "eval_id long, text string")
    got = {r["doc_id"]: r for r in contamination(docs, ev, n=13).collect()}
    assert set(got) == {1, 3}
    # 20 tokens → 8 distinct 13-grams, all present in both hits
    assert got[1]["n_hits"] == 8 and got[3]["n_hits"] == 8
    assert got[1]["eval_ids"] == [100]


def test_contamination_md5_mode_and_multi_eval(spark):
    a = " ".join(f"a{i}" for i in range(15))
    b = " ".join(f"b{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(1, a + " " + b), (2, "nothing shared here at all in any way "
                               "with those benchmark fragments")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, a), (20, b)], "eval_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           contamination(docs, ev, n=13).collect()}
    assert set(got) == {1}
    assert got[1]["eval_ids"] == [10, 20]


def test_dedup_clusters_components(spark):
    pairs = spark.createDataFrame(
        # component {1,2,3,4} as a CHAIN (propagation must traverse
        # depth 3, not just one hop) + component {10, 11}
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "a long, b long",
    )
    got = {r["v"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_converges_and_is_stable(spark):
    # a denser graph incl. a cycle and cross-links
    pairs = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 5), (7, 8), (2, 8), (20, 21)],
        "a long, b long",
    )
    labels = dedup_clusters(pairs)
    got = {r["v"]: r["cluster_id"] for r in labels.collect()}
    assert got == {2: 2, 5: 2, 6: 2, 7: 2, 8: 2, 20: 20, 21: 20}
    # deterministic under input partitioning
    again = {
        r["v"]: r["cluster_id"]
        for r in dedup_clusters(pairs.repartition(7)).collect()
    }
    assert again == got


def _cluster_jobs(spark, pairs):
    """(labels, jobs) of one dedup_clusters run with AQE off, where each
    action is exactly one Spark job, so the count is deterministic."""
    sc = spark.sparkContext
    group = f"cc_jobcount_{uuid.uuid4().hex}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "dedup_clusters job audit")
    try:
        got = {r["v"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_clusters_one_job_per_round(spark):
    """VERDICT r4 #6: the convergence probe must ride the propagation
    aggregation, not run as a second join+count job. Jobs: 2 eager
    checkpoints (edges, first-hop labels) + 1 per round + 1 final
    collect. The first-hop seed already labels a star with its center,
    so it converges in 1 round -> exactly 4 jobs (identity labels took
    2 rounds and 5 jobs; the old two-pass probe produced 7)."""
    pairs = spark.createDataFrame([(1, i) for i in range(2, 7)], "a long, b long")
    got, jobs = _cluster_jobs(spark, pairs)
    assert got == {i: 1 for i in range(1, 7)}
    assert jobs == 4, f"expected 4 jobs (2 ckpt + 1 round + collect), got {jobs}"


def test_dedup_clusters_path_jobs(spark):
    """A 4-node path 1-2-3-4: the seed gives 1,1,2,3; round 1 gives
    1,1,1,2; round 2 gives 1,1,1,1; round 3 changes nothing -> 2 ckpt +
    3 rounds + collect = exactly 6 jobs."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    got, jobs = _cluster_jobs(spark, pairs)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    assert jobs == 6, f"expected 6 jobs (2 ckpt + 3 rounds + collect), got {jobs}"


def test_dedup_clusters_raises_on_non_convergence(spark):
    # a 6-node chain needs 5 propagation rounds after the seeded first
    # hop; with max_iter=2 the operator must raise, not silently return
    # split clusters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iter=2)
