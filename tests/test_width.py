"""The width rule ahead of the text operators' expensive stages.

``_spread`` targets one partition per ~1 MiB of source bytes, capped at
``defaultParallelism`` (``_input_width``): every extra task costs CPU
before it reads a row, so a sub-MiB corpus runs as one task. A target
of 1 is a one-partition plan (``coalesce(1)``, ``SinglePartition``), and
the corpus operators keep it one partition to their output: no shuffle
and no broadcast, each of which costs a job. Frames with no input files
keep the cores target and their hash exchanges, and the media kernels
pass cores explicitly because their work is synthesized per pixel, not
read.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyrosar_spark.operators.corpus import strip_boilerplate_chunks, token_commonness
from pyrosar_spark.operators.dedup import (
    _BYTES_PER_PARTITION,
    _input_width,
    _one_partition,
    _spread,
    dedup_clusters,
    dup_ngram_spans,
    near_dup_pairs,
    simhash_pairs,
)
from tests.testlib import plan_text


def _write_corpus(path: str, n_docs: int = 1000) -> str:
    """A one-file corpus, ~100 KB at 1,000 docs: random texts over a
    400-word vocabulary, every 20th a copy of its predecessor plus one
    word (a near-duplicate pair)."""
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab, int(rng.integers(10, 60)))) for _ in range(n_docs)]
    for i in range(20, n_docs, 20):
        texts[i] = texts[i - 1] + " dup"
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts}), path
    )
    return path


def _sql_plans(spark, action) -> list[str]:
    """Physical plans of every SQL execution ``action`` runs, including
    the eager ``localCheckpoint`` jobs inside the operators (their
    Exchanges never show in the final frame's plan)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        # the store keeps only the newest spark.sql.ui.retainedExecutions
        # entries, so select by execution id, not by position
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        e.physicalPlanDescription() for e in executions() if e.executionId() > seen
    ]


def _repartition_width(df) -> int | None:
    """Target of a top-level shuffling ``repartition(n)``, None when
    there is none."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "Repartition" or not plan.shuffle():
        return None
    return plan.numPartitions()


def _operators(docs):
    """Builders of the corpus_dedup operators (plus token_commonness)
    over ``docs``; dedup_clusters takes near_dup_pairs' output."""
    return {
        "near_dup_pairs": lambda: near_dup_pairs(docs, threshold=0.5),
        "dedup_clusters": lambda: dedup_clusters(near_dup_pairs(docs, threshold=0.5)),
        "dup_ngram_spans": lambda: dup_ngram_spans(docs),
        "strip_boilerplate_chunks": lambda: strip_boilerplate_chunks(docs),
        "token_commonness": lambda: token_commonness(docs),
    }


def test_text_operators_keep_a_small_corpus_on_one_task(spark, tmp_path):
    """A 1,000-doc single-file corpus (~100 KB) is below 1 MiB, so each
    operator runs as a one-partition plan: no Exchange of any kind (no
    RoundRobin spread, no hash shuffle, no BroadcastExchange) in any of
    its SQL executions, checkpoint and cache jobs included. This holds
    for ``simhash_pairs`` too, which a wide input may broadcast."""
    docs = spark.read.parquet(_write_corpus(str(tmp_path / "docs.parquet")))
    assert _input_width(docs) == 1
    ops = {**_operators(docs), "simhash_pairs": lambda: simhash_pairs(docs)}
    for name, build in ops.items():
        plans = _sql_plans(spark, lambda: build().collect())
        assert plans, name
        for p in plans:
            assert "Exchange" not in p, f"{name}:\n{p}"
    pairs = near_dup_pairs(docs, threshold=0.5)
    assert pairs.count() > 0 and _one_partition(pairs)


def test_text_operators_keep_hash_exchanges_on_a_wide_input(spark, tmp_path):
    """The same corpus checkpointed has no input files, so
    ``_input_width`` sizes it at cores: each operator keeps its
    shuffled plan, the hash exchanges of its aggregations and joins
    (the counts of the final frames' plans, as before one-partition
    plans existed)."""
    docs = spark.read.parquet(_write_corpus(str(tmp_path / "docs.parquet"))).localCheckpoint()
    assert _input_width(docs) == spark.sparkContext.defaultParallelism > 1
    ops = _operators(docs)
    hash_exchanges = {
        "near_dup_pairs": 3,
        "dup_ngram_spans": 3,
        "strip_boilerplate_chunks": 3,
        "token_commonness": 2,
    }
    for name, n in hash_exchanges.items():
        p = plan_text(ops[name]())
        assert p.count("Exchange hashpartitioning") == n, f"{name}:\n{p}"
    for name, build in ops.items():
        plans = _sql_plans(spark, lambda: build().collect())
        assert any("hashpartitioning" in p for p in plans), name


def test_spread_keeps_a_one_task_input_one_partition(spark, tmp_path):
    """A sub-MiB input, one file or several, spreads to one partition
    with no shuffle: a narrow ``coalesce(1)`` whose plan reports
    ``SinglePartition`` and holds no Exchange."""
    one = _write_corpus(str(tmp_path / "one.parquet"))
    several = tmp_path / "several"
    several.mkdir()
    for i in range(3):
        _write_corpus(str(several / f"part{i}.parquet"), n_docs=100)
    for path in (one, str(several)):
        df = spark.read.parquet(path)
        assert _input_width(df) == 1
        spread = _spread(df)
        plan = spread._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "Repartition" and plan.numPartitions() == 1
        assert not plan.shuffle() and _repartition_width(spread) is None
        assert _one_partition(spread)
        p = plan_text(spread)
        assert "Exchange" not in p and "RoundRobin" not in p, p


def test_spread_width_follows_source_mib(spark, tmp_path):
    """A few-MiB single-file parquet spreads to exactly
    min(MiB, defaultParallelism) partitions."""
    dp = spark.sparkContext.defaultParallelism
    n_mib = 3
    if n_mib >= dp:
        pytest.skip(f"needs defaultParallelism > {n_mib}, got {dp}")
    path = str(tmp_path / "blob.parquet")
    rng = np.random.default_rng(3)
    # incompressible payload, so the file lands between n_mib and n_mib + 1 MiB
    n_rows = int((n_mib + 0.5) * _BYTES_PER_PARTITION) // 64
    blobs = [rng.bytes(64).hex() for _ in range(n_rows // 2)]
    pq.write_table(
        pa.table({"id": pa.array(range(len(blobs)), pa.int64()), "text": blobs}),
        path,
        compression="none",
        use_dictionary=False,
    )
    size = os.path.getsize(path)
    expected = min(size // _BYTES_PER_PARTITION, dp)
    assert expected == n_mib < dp, size
    df = spark.read.parquet(path)
    assert _input_width(df) == expected
    assert _repartition_width(_spread(df)) == expected


def test_spread_without_input_files_targets_cores(spark):
    """An in-memory frame has no size to go by: cores, as before."""
    df = spark.createDataFrame([(i, "a b c") for i in range(50)], "doc_id long, text string")
    assert df.inputFiles() == []
    dp = spark.sparkContext.defaultParallelism
    assert _input_width(df) == dp
    assert _repartition_width(_spread(df)) == dp


def test_border_noise_spreads_a_single_file_chip_table_to_cores(spark, tmp_path):
    """The media kernels' work is synthesized per pixel from ~30 B rows,
    so they still spread a tiny single-file chips table to cores."""
    from pyrosar_spark.operators.bordernoise import remove_border_noise

    path = str(tmp_path / "chips.parquet")
    pq.write_table(
        pa.table(
            {
                "media_ref": [f"ref://{i}" for i in range(40)],
                "width": pa.array([32] * 40, pa.int32()),
                "height": pa.array([24] * 40, pa.int32()),
                "seed": pa.array(range(40), pa.int64()),
            }
        ),
        path,
    )
    chips = spark.read.parquet(path)
    assert _input_width(chips) == 1
    dp = spark.sparkContext.defaultParallelism
    p = plan_text(remove_border_noise(chips))
    assert f"RoundRobinPartitioning({dp})" in p, p
