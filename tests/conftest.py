from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
DOCS_SF0001 = os.path.join(TESTDATA, "sf0.001", "documents.parquet")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from cdc_engine.session import LISTING_THRESHOLD

    s = (
        SparkSession.builder.master("local[8]")
        .appName("cdc_engine-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(LISTING_THRESHOLD))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def wal_basic(tmp_path_factory):
    """50/30/5/5/10 mix, 4 epochs, single schema version + oracle."""
    from gen.walgen import WalConfig, generate_wal

    d = str(tmp_path_factory.mktemp("wal_basic"))
    cfg = WalConfig(
        n_events=8_000, events_per_epoch=2_000, docs_parquet=DOCS_SF0001
    )
    oracle = generate_wal(d, cfg)
    return d, cfg, oracle


@pytest.fixture(scope="session")
def wal_evolving(tmp_path_factory):
    """Mid-stream schema change at epoch 2 of 4 (BASELINE.json:6)."""
    from gen.walgen import WalConfig, generate_wal

    d = str(tmp_path_factory.mktemp("wal_evolving"))
    cfg = WalConfig(
        n_events=8_000,
        events_per_epoch=2_000,
        schema_change_at_epoch=2,
        docs_parquet=DOCS_SF0001,
    )
    oracle = generate_wal(d, cfg)
    return d, cfg, oracle
