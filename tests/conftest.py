from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from devcontainers_etl_node_spark.config import EngineConfig
    from devcontainers_etl_node_spark.session import get_spark

    cfg = EngineConfig()  # master follows SPARK_GRAFT_CPUS / the host
    cfg.shuffle_partitions = 8
    s = get_spark(cfg)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from devcontainers_etl_node_spark.schemas import CORPUS_TABLES

    for t in CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()
