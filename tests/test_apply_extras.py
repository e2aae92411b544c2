"""apply_epoch extras: quarantine of invalid rows (P4), column-mapping
normalizer end-to-end (P3), tombstone purge during compaction, heavy-hitter
skew sensor (A5)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from cdc_engine import CdcConfig, SnapLake, apply_epoch, replay
from cdc_engine.apply import commit_epoch, prepare_epoch
from cdc_engine.salt import hot_domains
from cdc_engine.schemas import PAGES_SCHEMA_V1
from cdc_engine.source import read_seq_range
from cdc_engine.textex import wrap_html


def _mk_lake(tmp_path, name="lake", **kw):
    return SnapLake.create(str(tmp_path / name), PAGES_SCHEMA_V1, n_buckets=8, **kw)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, url string, warc_ts timestamp, html binary, "
        "text string, lang string, source_partition int",
    )


def test_quarantine_null_keys(spark, tmp_path):
    ts = dt.datetime(2024, 1, 1)
    rows = [
        (0, "insert", "https://a/x", ts, wrap_html("a"), "a", "en", 0),
        (1, "insert", None, ts, wrap_html("bad"), "bad", "en", 0),  # null url
        (2, "insert", "https://b/x", None, wrap_html("c"), "c", "en", 0),  # null ts
    ]
    lake = _mk_lake(tmp_path)
    qdir = str(tmp_path / "quarantine")
    r = apply_epoch(spark, lake, _batch(spark, rows), epoch_id=0, quarantine_dir=qdir)
    assert r is not None
    assert lake.scan(spark).count() == 1  # only the valid row landed
    quarantined = spark.read.parquet(os.path.join(qdir, "epoch=0"))
    assert quarantined.count() == 2


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_stats_route_prepare_runs_only_the_stats_job(spark, tmp_path, monkeypatch, mode):
    """Without a pid bound the prepare counts its input with the stats job
    alone: an all-quarantined epoch stops there, after persisting its
    rows, and a COW epoch leaves its winners cache to the merge's write."""
    ts = dt.datetime(2024, 1, 1)
    lake = _mk_lake(tmp_path, mode=mode)
    qdir = str(tmp_path / "quarantine")
    bad = _batch(spark, [
        (0, "insert", None, ts, wrap_html("a"), "a", "en", 0),
        (1, "insert", None, ts, wrap_html("b"), "b", "en", 1),
    ])
    good = _batch(spark, [(2, "insert", "https://a/x", ts, wrap_html("c"), "c", "en", 0)])

    def no_job(*_a, **_k):
        pytest.fail("the stats-job prepare ran more than its stats job")

    monkeypatch.setattr(type(bad), "count", no_job)
    monkeypatch.setattr(SnapLake, "_merge_stage", no_job)
    assert prepare_epoch(spark, lake, bad, 0, quarantine_dir=qdir) is None
    if mode == "cow":
        prep = prepare_epoch(spark, lake, good, 1)
    monkeypatch.undo()
    assert spark.read.parquet(os.path.join(qdir, "epoch=0")).count() == 2
    if mode == "cow":
        assert commit_epoch(spark, lake, prep) is not None
        assert [r["url"] for r in lake.scan(spark).collect()] == ["https://a/x"]


@pytest.mark.parametrize("mode", ["mor", "cow"])
@pytest.mark.parametrize("pid_bounds", [None, (0, 2)], ids=["stats_job", "observe"])
def test_quarantine_reapply_keeps_one_copy(spark, tmp_path, mode, pid_bounds):
    """An all-quarantined epoch never commits, so a re-apply writes its
    quarantine again: the epoch's quarantine holds one copy of its rows
    however often it is applied, on either input-accounting route."""
    ts = dt.datetime(2024, 1, 1)
    lake = _mk_lake(tmp_path, mode=mode)
    qdir = str(tmp_path / "quarantine")
    rows = [(i, "insert", None, ts, wrap_html(f"b{i}"), f"b{i}", "en", i) for i in range(3)]
    for _ in range(2):
        assert apply_epoch(
            spark, lake, _batch(spark, rows), epoch_id=0,
            quarantine_dir=qdir, pid_bounds=pid_bounds,
        ) is None
    assert spark.read.parquet(os.path.join(qdir, "epoch=0")).count() == 3
    assert lake.committed_epochs() == {}


def test_column_mapping_normalizer(spark, tmp_path):
    """A WAL with legacy column names flows through cfg.column_mapping."""
    ts = dt.datetime(2024, 1, 1)
    legacy = spark.createDataFrame(
        [(0, "insert", "https://a/x", ts, wrap_html("a"), "a", "en", 0)],
        "offset long, operation string, page_url string, warc_ts timestamp, "
        "html binary, text string, lang string, source_partition int",
    )
    cfg = CdcConfig(
        column_mapping={"offset": "seq", "operation": "op", "page_url": "url"}
    )
    lake = _mk_lake(tmp_path)
    r = apply_epoch(spark, lake, legacy, epoch_id=0, cfg=cfg)
    assert r is not None
    got = lake.scan(spark).collect()
    assert [row["url"] for row in got] == ["https://a/x"]


def test_tombstone_purge_on_compact(spark, wal_basic, tmp_path):
    wal_dir, wcfg, oracle = wal_basic
    lake = _mk_lake(tmp_path, mode="mor")
    cfg = CdcConfig(events_per_epoch=wcfg.events_per_epoch)
    replay(spark, lake, wal_dir, cfg)
    internal = lake.scan_internal(spark)
    n_tomb = internal.where("_deleted").count()
    assert n_tomb > 0
    h = lake.state_hash(spark)
    # purge everything below the full WAL horizon: all tombstones go
    lake.compact(
        spark,
        sorted(lake.bucket_file_counts()),
        purge_tombstones_older_than_seq=wcfg.n_events,
    )
    assert lake.scan_internal(spark).where("_deleted").count() == 0
    assert lake.state_hash(spark) == h  # live rows untouched


def test_hot_domains_sensor(spark, wal_basic):
    wal_dir, wcfg, _ = wal_basic
    from cdc_engine.source import list_segments, read_segments
    from cdc_engine.schemas import WAL_SCHEMA_V1

    df = read_segments(spark, [p for _, _, p in list_segments(wal_dir)], WAL_SCHEMA_V1)
    top = hot_domains(df, k=5).collect()
    assert len(top) == 5
    # zipf(1.3): the hottest domain must be d0000
    assert top[0]["domain"] == "d0000.example.com"
    assert top[0]["n"] >= top[-1]["n"]
    # sampled variant agrees on the #1 heavy hitter
    top_sampled = hot_domains(df, k=5, sample=0.5).collect()
    assert top_sampled[0]["domain"] == "d0000.example.com"
