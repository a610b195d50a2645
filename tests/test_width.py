"""The width rule ahead of the text operators' expensive stages.

``_spread`` targets one partition per ~1 MiB of source bytes, capped at
``defaultParallelism`` (``_input_width``): every extra Python task
costs ~250 ms of worker CPU before it reads a row, so a sub-MiB corpus
runs its Arrow and tokenize stages as one task. Frames with no input
files keep the cores target, and the media kernels pass cores
explicitly because their work is synthesized per pixel, not read.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyrosar_spark.operators.dedup import (
    _BYTES_PER_PARTITION,
    _input_width,
    _spread,
    dup_ngram_spans,
    near_dup_pairs,
)


def _write_corpus(path: str, n_docs: int = 1000) -> str:
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab, int(rng.integers(10, 60)))) for _ in range(n_docs)]
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
    """Target of a top-level ``repartition(n)``, None when there is none."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "Repartition":
        return None
    return plan.numPartitions()


def test_text_operators_keep_a_small_corpus_on_one_task(spark, tmp_path):
    """A 1,000-doc single-file corpus (~100 KB) is below 1 MiB: no
    RoundRobin exchange anywhere in near_dup_pairs, dup_ngram_spans or
    strip_boilerplate_chunks, checkpoint jobs included."""
    from pyrosar_spark.operators.corpus import strip_boilerplate_chunks

    docs = spark.read.parquet(_write_corpus(str(tmp_path / "docs.parquet")))
    assert _input_width(docs) == 1
    for build in (
        lambda: near_dup_pairs(docs, threshold=0.5),
        lambda: dup_ngram_spans(docs),
        lambda: strip_boilerplate_chunks(docs),
    ):
        plans = _sql_plans(spark, lambda: build().collect())
        assert plans
        for p in plans:
            assert "RoundRobinPartitioning" not in p, p


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
    p = remove_border_noise(chips)._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({dp})" in p, p
