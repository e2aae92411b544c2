"""Regression guard for the per-epoch action budget: an epoch must
trigger exactly ONE driver-side collect (the combined stats aggregate)
plus the data write — the lineage aggregate must ride inside the write
(Observation), never as its own collect. A direct ``lake.merge`` gets one
narrow pre-aggregate collect for its input stats and touched buckets.
Every extra driver-side action is a job barrier that dilutes N->4N
scaling efficiency (the serial term in BENCH/ANALYSIS_r3.md).

Jobs-per-action is AQE-dependent (each exchange stage is its own DAG
job), so the guard counts ACTIONS, not jobs.
"""

from __future__ import annotations

import datetime as dt

import pytest

from cdc_engine import CdcConfig, SnapLake, apply_epoch
from cdc_engine.schemas import PAGES_SCHEMA_V1, WAL_SCHEMA_V1
from cdc_engine.source import read_seq_range
from gen.walgen import WalConfig, generate_wal
from tests.conftest import DOCS_SF0001


def _count_collects(monkeypatch, df, fn):
    # patch the RUNTIME class (pyspark 4's classic.DataFrame overrides
    # collect, so patching the abstract pyspark.sql.DataFrame misses it)
    cls = type(df)
    calls = {"n": 0}
    real_collect = cls.collect

    def counting(self):
        calls["n"] += 1
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", counting)
    try:
        r = fn()
    finally:
        monkeypatch.undo()
    assert r is not None
    return calls["n"]


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_apply_epoch_is_one_collect(spark, tmp_path, monkeypatch, mode):
    wal = str(tmp_path / "wal")
    generate_wal(
        wal,
        WalConfig(n_events=1_000, events_per_epoch=1_000, docs_parquet=DOCS_SF0001),
    )
    lake = SnapLake.create(str(tmp_path / "lake"), PAGES_SCHEMA_V1, n_buckets=8, mode=mode)
    cfg = CdcConfig(events_per_epoch=1_000, n_buckets=8)
    batch = read_seq_range(spark, wal, 0, 1_000)
    n = _count_collects(
        monkeypatch, batch, lambda: apply_epoch(spark, lake, batch, epoch_id=0, cfg=cfg)
    )
    assert n == 1


def _wal_batch(spark, rows):
    ts = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (seq, op, url, ts + dt.timedelta(seconds=seq),
             None if op == "delete" else f"<{url}>".encode(),
             None if op == "delete" else f"text {seq}", "en", pid)
            for seq, op, url, pid in rows
        ],
        WAL_SCHEMA_V1,
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_direct_merge_is_one_collect(spark, tmp_path, monkeypatch, mode):
    """A direct merge resolves input stats and touched buckets with one
    narrow pre-aggregate and its lineage from the write job's
    Observation; the lineage rows are those the three-collect route wrote
    (pid, rows_in, upserted, deleted, late_ignored)."""
    lake = SnapLake.create(str(tmp_path / "lake"), PAGES_SCHEMA_V1, n_buckets=8, mode=mode)
    e0 = _wal_batch(spark, [(1, "insert", "u/a", 0), (2, "insert", "u/b", 1)])
    assert lake.merge(spark, e0, epoch_id=0) is not None
    e1 = _wal_batch(
        spark,
        [(3, "update", "u/a", 0), (4, "delete", "u/b", 1), (5, "insert", "u/c", 1)],
    )
    n = _count_collects(monkeypatch, e1, lambda: lake.merge(spark, e1, epoch_id=1))
    assert n == 1
    late = 0 if mode == "cow" else None
    got = [
        (r["partition_id"], r["rows_in"], r["rows_upserted"], r["rows_deleted"],
         r["rows_late_ignored"], r["first_seq"], r["last_seq"])
        for r in lake.manifest()["lineage"]
    ]
    assert got == [(0, 1, 1, 0, late, 3, 3), (1, 2, 1, 1, late, 4, 5)]


def test_scan_of_many_files_lists_them_without_a_job(spark, tmp_path):
    """A scan reads the explicit file list its manifest names. Past
    Spark's default parallel-listing threshold (32 paths) that list would
    be stat-ed by a Spark job before any data is read; the session's
    ``LISTING_THRESHOLD`` keeps it on the driver, so building the scan
    submits no job."""
    lake = SnapLake.create(str(tmp_path / "lake"), PAGES_SCHEMA_V1, n_buckets=16, mode="mor")
    for epoch in range(3):
        op = "insert" if epoch == 0 else "update"
        rows = [(epoch * 64 + i, op, f"u/{i}", i % 4) for i in range(64)]
        assert lake.merge(spark, _wal_batch(spark, rows), epoch_id=epoch) is not None
    assert len(lake._files(lake.manifest())) >= 33

    sc = spark.sparkContext
    group = "scan-builds-no-job"
    sc.setJobGroup(group, "build lake.scan")
    try:
        df = lake.scan(spark)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert df.count() == 64
