import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from docling_fast_server_spark.session import get_spark

    s = get_spark("dfss-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents_pdf(sf_dir):
    """(doc_id, text) rows loaded once via duckdb (cheap, no spark)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


@pytest.fixture
def minhash_routes():
    """`for route in minhash_routes(): ...` runs the loop body once per
    route of dedup's minhash stages, "driver" then "spark". The minhash
    family routes on the hash-set row count (dedup.DRIVER_DOCS) and every
    test corpus is under it, so "spark" lowers the constant below any
    count, the empty corpus included."""
    from docling_fast_server_spark.operators import dedup

    def routes():
        for route in ("driver", "spark"):
            with pytest.MonkeyPatch.context() as mp:
                if route == "spark":
                    mp.setattr(dedup, "DRIVER_DOCS", -1)
                yield route

    return routes
