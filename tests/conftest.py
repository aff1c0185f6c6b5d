import pytest


@pytest.fixture(scope="session")
def spark():
    from csp_gateway_spark.session import get_spark

    s = get_spark("pytest", cpus="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from csp_gateway_spark.session import read_table

    return read_table(spark, sf_dir, "events")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")
