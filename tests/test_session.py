"""Session-level invariants of :func:`pyrosar_spark.session.get_spark`.

The generated-code cache must hold the corpus operators' working set:
one near_dup_pairs → dup_ngram_spans → strip_boilerplate_chunks →
dedup_clusters pass needs ~137 distinct classes, more than Spark's
default of 100, and a cache that small recompiles every one of them on
every repeat of the pass.
"""

import random

from pyrosar_spark.operators.corpus import strip_boilerplate_chunks
from pyrosar_spark.operators.dedup import dedup_clusters, dup_ngram_spans, near_dup_pairs


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (driver and local executors)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _corpus(spark, n=120, seed=7):
    rng = random.Random(seed)
    vocab = "scene orbit swath burst tile polygon raster band pixel frame".split()
    texts = []
    for i in range(n):
        if i and rng.random() < 0.15:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(10, 40))))
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _corpus_pass(docs) -> None:
    pairs = near_dup_pairs(docs, n_hashes=16, n_bands=4, shingle_k=2, threshold=0.2)
    pairs.collect()
    dup_ngram_spans(docs, n=6, min_docs=2, hash_mode="md5").collect()
    strip_boilerplate_chunks(docs, chunk_tokens=4, min_docs=2, hash_mode="md5").collect()
    dedup_clusters(pairs).collect()


def test_codegen_cache_sized_to_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_repeated_corpus_pass_compiles_nothing(spark):
    docs = _corpus(spark)
    for _ in range(2):  # warm-up: every class the pass needs is compiled
        _corpus_pass(docs)
    # AQE plans a repeat from stage statistics in the order shuffles
    # finish, so now and then a repeat numbers two codegen stages the
    # other way round (the number is part of the class name) or flips a
    # broadcast build side, and compiles those few classes. A cache
    # that holds the working set still lets a repeat compile nothing;
    # one that does not misses on every repeat (~170 classes at 100).
    new = []
    for _ in range(10):
        before = _compiles(spark)
        _corpus_pass(docs)
        new.append(_compiles(spark) - before)
        if new[-1] == 0:
            break
    assert new[-1] == 0, f"repeated corpus passes compiled {new} classes"
