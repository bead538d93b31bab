import pytest

from dataplatform_cdc_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cdc-engine-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with one view per testdata table — the oracle
    side of the driver-style parity gate."""
    import duckdb

    from dataplatform_cdc_pipeline_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()
