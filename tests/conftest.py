import pytest

from pyrosar_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a whole-stage-codegen compile failure must fail the test, not fall
    # back to interpreted evaluation silently
    s = get_spark(
        "pyrosar_spark_tests", cpus=8, shuffle_partitions=8, driver_memory="8g",
        extra_conf={"spark.sql.codegen.fallback": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def docs(spark):
    from pyrosar_spark.datagen import generate_documents

    return generate_documents(spark, 300, seed=42).cache()


@pytest.fixture(scope="session")
def scenes(docs):
    from pyrosar_spark.operators.ingest import docs_to_scenes

    return docs_to_scenes(docs).cache()
