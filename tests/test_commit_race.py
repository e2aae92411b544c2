"""Optimistic-concurrency commit retry (the Iceberg commit-retry analog):
a writer whose head view went stale because a peer published first must
either rebase its commit onto the new head (different epoch) or no-op
(peer committed the same epoch) — never corrupt the table.

Scope (documented in lake.merge): concurrent writers on DIFFERENT epochs
are supported; two writers racing the SAME epoch concurrently are out of
scope (single-logical-tailer assumption) — sequential duplicate
application of an epoch is already a ledger no-op.
"""

from __future__ import annotations

import copy

from cdc_engine import CdcConfig, SnapLake, apply_epoch, replay
from cdc_engine.schemas import PAGES_SCHEMA_V1
from cdc_engine.source import read_seq_range
from gen.walgen import WalConfig, generate_wal
from tests.conftest import DOCS_SF0001


def _wal(tmp_path):
    wal = str(tmp_path / "wal")
    generate_wal(
        wal,
        WalConfig(n_events=2_000, events_per_epoch=1_000, docs_parquet=DOCS_SF0001),
    )
    return wal


def _stale_view(monkeypatch, lake, stale_man, n_calls):
    """Make the next ``n_calls`` head reads return a deep copy of
    ``stale_man`` — simulating a writer that planned its commit before a
    peer published."""
    real = SnapLake.manifest
    state = {"left": n_calls}

    def patched(self, version=None):
        if state["left"] > 0 and version is None:
            state["left"] -= 1
            return copy.deepcopy(stale_man)
        return real(self, version)

    monkeypatch.setattr(SnapLake, "manifest", patched)


def test_lost_race_rebases_onto_new_head(spark, tmp_path, monkeypatch):
    wal = _wal(tmp_path)
    cfg = CdcConfig(events_per_epoch=1_000, n_buckets=8)
    lake = SnapLake.create(str(tmp_path / "lake"), PAGES_SCHEMA_V1, n_buckets=8, mode="mor")

    stale = lake.manifest()  # v0: before anything is committed
    # peer commits epoch 0 -> head moves to v1
    apply_epoch(spark, lake, read_seq_range(spark, wal, 0, 1_000), epoch_id=0, cfg=cfg)
    assert lake.head_version() == 1

    # our writer plans epoch 1 against the stale v0 head (3 head reads:
    # the prepare's, the stage's and the publish's first attempt) -> its
    # v1 manifest write collides -> it must rebase to v2 and succeed
    _stale_view(monkeypatch, lake, stale, n_calls=3)
    collisions = []
    real_write = SnapLake._write_manifest

    def probe(self, man):
        try:
            return real_write(self, man)
        except FileExistsError:
            collisions.append(man["version"])
            raise

    monkeypatch.setattr(SnapLake, "_write_manifest", probe)
    r = apply_epoch(spark, lake, read_seq_range(spark, wal, 1_000, 2_000), epoch_id=1, cfg=cfg)
    monkeypatch.undo()

    assert collisions == [1]  # the exclusive create lost, then rebased
    assert r is not None and r["version"] == 2
    assert sorted(lake.committed_epochs()) == [0, 1]

    # byte-identical to a lake built with no race at all
    ref = SnapLake.create(str(tmp_path / "ref"), PAGES_SCHEMA_V1, n_buckets=8, mode="mor")
    replay(spark, ref, wal, cfg)
    assert lake.state_hash(spark) == ref.state_hash(spark)


def test_peer_committed_same_epoch_is_noop(spark, tmp_path, monkeypatch):
    wal = _wal(tmp_path)
    cfg = CdcConfig(events_per_epoch=1_000, n_buckets=8)
    lake = SnapLake.create(str(tmp_path / "lake"), PAGES_SCHEMA_V1, n_buckets=8, mode="mor")

    stale = lake.manifest()
    apply_epoch(spark, lake, read_seq_range(spark, wal, 0, 1_000), epoch_id=0, cfg=cfg)
    v1_hash = lake.state_hash(spark)

    # our writer re-applies epoch 0 against the stale head: the fresh-head
    # guard must detect the peer's commit and no-op WITHOUT touching the
    # peer's published data files
    _stale_view(monkeypatch, lake, stale, n_calls=2)
    r = apply_epoch(spark, lake, read_seq_range(spark, wal, 0, 1_000), epoch_id=0, cfg=cfg)
    monkeypatch.undo()

    assert r is None
    assert lake.head_version() == 1
    assert lake.state_hash(spark) == v1_hash  # peer's files intact
