"""Partition-spec evolution: SnapLake.rebucket (bucket(N,url) -> bucket(M,url)).

The rewrite commit must be invisible to every logical surface — state
hash, scan, lookup, the changes feed, incremental MVs — while the ledger
carries through so replay resumed AFTER a rebucket stays exactly-once.
The physical layout, by contrast, must be fully on the new spec: all
files base kind, buckets within the new modulus, file_groups rebuilt.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from cdc_engine import CdcConfig, SnapLake, replay
from cdc_engine.lake import FILE_GROUPS_MAX, _entry_covers
from cdc_engine.schemas import PAGES_SCHEMA_V1, WAL_SCHEMA_V1

TS = dt.datetime(2025, 1, 1)


def _batch(spark, rows):
    data = [
        (seq, op, url, TS + dt.timedelta(seconds=seq), None, text, lang, 0)
        for (seq, op, url, lang, text) in rows
    ]
    return spark.createDataFrame(data, WAL_SCHEMA_V1)


def _epochs():
    return [
        [(10 * e + i, "upsert", f"u/{i}", "en", f"t{e}.{i}") for i in range(8)]
        + ([(10 * e + 9, "delete", f"u/{e}", None, None)] if e else [])
        for e in range(4)
    ]


@pytest.mark.parametrize("mode", ["cow", "mor"])
# 16 <-> 512 crosses FILE_GROUPS_MAX: the small epochs write bucket-class
# (bmod) files, so the rewrite reads and writes a class-file layout
@pytest.mark.parametrize("direction", [(4, 16), (16, 4), (16, 512), (512, 128)])
def test_rebucket_preserves_state_both_directions(spark, tmp_path, mode, direction):
    nb0, nb1 = direction
    lake = SnapLake.create(
        str(tmp_path / f"{mode}{nb0}"), PAGES_SCHEMA_V1, n_buckets=nb0, mode=mode
    )
    eps = _epochs()
    for e in (0, 1):
        lake.merge(spark, _batch(spark, eps[e]), epoch_id=e)
    n0, h0 = lake.state_hash(spark)
    v_before = lake.head_version()

    r = lake.rebucket(spark, nb1)
    assert r["n_buckets_old"] == nb0 and r["n_buckets_new"] == nb1
    assert lake.head_version() == v_before + 1
    man = lake.manifest()
    assert man["n_buckets"] == nb1
    assert man["summary"]["kind"] == "rebucket"
    # logical state is bit-identical
    assert lake.state_hash(spark) == (n0, h0)
    # physical layout fully on the new spec: base files only (MoR deltas
    # folded by the collapse), buckets inside the new modulus
    files = lake._files(man)
    assert files and all(f.get("kind", "base") == "base" for f in files)
    assert all(0 <= f["bucket"] < nb1 for f in files)
    if nb1 > FILE_GROUPS_MAX:  # a small table on many buckets: class files
        assert all(f.get("bmod") == FILE_GROUPS_MAX for f in files)
    # ledger carried: the applied epochs are still committed
    assert sorted(lake.committed_epochs()) == [0, 1]
    # re-delivering an applied epoch is still a no-op (exactly-once)
    assert lake.merge(spark, _batch(spark, eps[0]), epoch_id=0) is None
    assert lake.state_hash(spark) == (n0, h0)

    # subsequent epochs apply on the new spec and land the same state a
    # straight-through table (no rebucket) reaches
    for e in (2, 3):
        assert lake.merge(spark, _batch(spark, eps[e]), epoch_id=e) is not None
    plain = SnapLake.create(
        str(tmp_path / f"plain{mode}{nb0}"), PAGES_SCHEMA_V1, n_buckets=nb0, mode=mode
    )
    for e, rows in enumerate(eps):
        plain.merge(spark, _batch(spark, rows), epoch_id=e)
    assert lake.state_hash(spark) == plain.state_hash(spark)


def test_rebucket_same_count_is_noop(spark, tmp_path):
    lake = SnapLake.create(str(tmp_path / "l"), PAGES_SCHEMA_V1, n_buckets=4)
    lake.merge(spark, _batch(spark, _epochs()[0]), epoch_id=0)
    v = lake.head_version()
    assert lake.rebucket(spark, 4) is None
    assert lake.head_version() == v


def test_rebucket_lookup_uses_new_spec(spark, tmp_path):
    lake = SnapLake.create(str(tmp_path / "l"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    for e in (0, 1):
        lake.merge(spark, _batch(spark, _epochs()[e]), epoch_id=e)
    lake.rebucket(spark, 32)
    got = {r["url"]: r["text"] for r in lake.lookup(spark, ["u/2", "u/5"]).collect()}
    assert got == {"u/2": "t1.2", "u/5": "t1.5"}
    # the point read resolved files under the new modulus
    man = lake.manifest()
    assert man["n_buckets"] == 32
    assert all(_entry_covers(f, 32, set(range(32))) for f in lake._files(man))


def test_rebucket_changes_feed_is_empty_and_mview_survives(spark, tmp_path):
    from cdc_engine.mview import AggSpec, IncrementalAggView

    lake = SnapLake.create(str(tmp_path / "l"), PAGES_SCHEMA_V1, n_buckets=4)
    eps = _epochs()
    for e in (0, 1):
        lake.merge(spark, _batch(spark, eps[e]), epoch_id=e)
    mv = IncrementalAggView(
        lake, "v", ["lang"], [AggSpec("n", "count")]
    )
    mv.full_refresh(spark)
    v_before = lake.head_version()

    lake.rebucket(spark, 16)
    # bucket ids are incomparable across specs -> unknowable, by contract
    assert lake.touched_buckets_between(v_before, lake.head_version()) is None
    # a physical rewrite emits NO logical changes
    assert lake.changes(spark, v_before).count() == 0
    # the MV refresh path falls back to full rebuild and stays correct
    st = mv.incremental_refresh(spark)
    assert st["mode"] == "full"
    expect = {
        (r["lang"], r["n"])
        for r in lake.scan(spark).groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    assert {(r["lang"], r["n"]) for r in mv.df(spark).collect()} == expect
    # changes ACROSS the rebucket still diff correctly (full-scan route)
    lake.merge(spark, _batch(spark, eps[2]), epoch_id=2)
    feed = lake.changes(spark, v_before)
    assert feed.where("change_type is null").count() == 0
    # epoch 2 carries u/2 TWICE (upsert seq 22 + delete seq 29) — out of
    # merge()'s one-row-per-url contract. The round-7 union+window apply
    # resolves the within-batch LWW winner (u/2 -> delete), so the feed
    # shows 8 logical changes (7 updates + 1 delete); the old full-outer
    # join emitted BOTH matches (a stale live u/2 row next to its
    # tombstone), inflating the feed to 9 with an artifact row.
    assert feed.count() == 8


def test_rebucket_replay_resume_exactly_once(spark, wal_basic, tmp_path):
    """The headline contract: replay N epochs, evolve the spec, resume —
    final state equals a straight-through replay byte-for-byte."""
    wal_dir, wcfg, oracle = wal_basic
    from cdc_engine.verify import assert_matches_oracle

    lake = SnapLake.create(str(tmp_path / "l"), PAGES_SCHEMA_V1, n_buckets=8, mode="mor")
    cfg = CdcConfig(events_per_epoch=wcfg.events_per_epoch, n_buckets=8)
    replay(spark, lake, wal_dir, cfg, max_epochs=2)
    lake.rebucket(spark, 32)
    results = replay(spark, lake, wal_dir, cfg)
    assert len(results) == 2  # resumed AFTER the ledger's horizon, not from 0
    assert_matches_oracle(lake.scan(spark), oracle)
    # and the whole replay is still a no-op afterwards
    assert replay(spark, lake, wal_dir, cfg) == []


def test_rebucket_fsck_and_vacuum_clean(spark, tmp_path):
    lake = SnapLake.create(str(tmp_path / "l"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    for e in (0, 1):
        lake.merge(spark, _batch(spark, _epochs()[e]), epoch_id=e)
    lake.rebucket(spark, 16)
    lake.merge(spark, _batch(spark, _epochs()[2]), epoch_id=2)
    rep = lake.fsck(deep=True)
    assert rep["ok"], rep["errors"]
    n, h = lake.state_hash(spark)
    # expiry past the rebucket commit vacuums the OLD spec's files
    st = lake.expire_snapshots(keep_last=1)
    assert st["removed_data_files"] > 0
    assert lake.fsck(deep=True)["ok"]
    assert lake.state_hash(spark) == (n, h)
    # old-spec data dirs are gone from disk (nothing references them)
    live = {os.path.dirname(p) for p in lake.referenced_paths(lake.head_version())}
    on_disk = {
        os.path.relpath(dp, lake.path)
        for dp, _d, ns in os.walk(lake.data_dir)
        if any(n.endswith(".parquet") for n in ns)
    }
    assert on_disk <= live
