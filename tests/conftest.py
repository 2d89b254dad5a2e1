from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
# sf0.01 is the driver's CORRECTNESS contract scale — the local gate must run
# at the same SF or driver-only failures (e.g. data-dependent edge rows) hide.
SF_ORACLE = os.environ.get("SQL_ETL_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from sql_based_etl_spark.session import get_spark

    # local[8], not local[*] (r14): the suite's data is tiny, so 32
    # task slots only multiply per-stage scheduling overhead and make
    # every defaultParallelism-derived repartition 4x wider for zero
    # extra throughput; 8 also matches the driver-contract sweep
    # session (tools/graded_sweep.py). SQL_ETL_TEST_CORES overrides.
    cores = os.environ.get("SQL_ETL_TEST_CORES", "8")
    spark = get_spark(app_name="sql_based_etl_tests",
                      master=f"local[{cores}]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        path = os.path.join(SF_ORACLE, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def parquet_codecs():
    """Codecs of every column chunk in a parquet file, read from its
    footer with pyarrow (e.g. ``{"ZSTD"}``)."""
    import pyarrow.parquet as pq

    def codecs(path: str) -> set[str]:
        md = pq.ParquetFile(path).metadata
        return {md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)}

    return codecs
