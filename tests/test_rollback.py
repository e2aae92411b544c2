"""Snapshot rollback + tags: the undo half of the snapshot lifecycle.

rollback() is destructive metadata surgery — HEAD returns to the target,
abandoned manifests and exclusively-referenced files are deleted, and the
LEDGER rolls back with the manifest so re-applying the same epochs
reproduces the original state bit-for-bit (deterministic commit dirs
leave no debris). Tags pin snapshots against expiry and block rollback
across them.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from cdc_engine.lake import SnapLake
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
        [(10 * e + i, "upsert", f"u/{i}", "en", f"t{e}.{i}") for i in range(6)]
        + ([(10 * e + 9, "delete", f"u/{e}", None, None)] if e else [])
        for e in range(5)
    ]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rollback_then_reapply_reproduces_state(spark, tmp_path, mode):
    lake = SnapLake.create(str(tmp_path / mode), PAGES_SCHEMA_V1, n_buckets=4, mode=mode)
    eps = _epochs()
    for e, rows in enumerate(eps):
        lake.merge(spark, _batch(spark, rows), epoch_id=e)
    head = lake.head_version()
    n0, h0 = lake.state_hash(spark)
    v2_rows = {r["url"]: r["text"] for r in lake.scan(spark, version=2).collect()}

    r = lake.rollback(2)
    assert r["version"] == 2 and r["removed_manifests"] == head - 2
    assert lake.head_version() == 2
    # state IS v2's state
    assert {r_["url"]: r_["text"] for r_ in lake.scan(spark).collect()} == v2_rows
    # ledger rolled back: epochs 2.. are unknown again
    assert set(lake.committed_epochs()) == {0, 1}
    # time travel to an abandoned version is gone
    with pytest.raises(FileNotFoundError):
        lake.manifest(head)

    # re-apply the SAME epochs (what replay would do): identical final state
    for e in (2, 3, 4):
        assert lake.merge(spark, _batch(spark, eps[e]), epoch_id=e) is not None
    n1, h1 = lake.state_hash(spark)
    assert (n1, h1) == (n0, h0)


def test_rollback_removes_only_abandoned_files(spark, tmp_path):
    lake = SnapLake.create(str(tmp_path / "l"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    for e, rows in enumerate(_epochs()[:4]):
        lake.merge(spark, _batch(spark, rows), epoch_id=e)
    kept_refs = {
        p for v in (1, 2) for p in lake.referenced_paths(v)
    }
    gone_refs = lake.referenced_paths(4) - kept_refs
    assert gone_refs  # the later deltas really are new files
    lake.rollback(2)
    for rel in kept_refs:
        assert os.path.isfile(os.path.join(lake.path, rel)), rel
    for rel in gone_refs:
        assert not os.path.exists(os.path.join(lake.path, rel)), rel
    # earlier snapshots still readable after the surgery
    assert lake.scan(spark, version=1).count() == 6


def test_tags_pin_time_travel_expiry_and_block_rollback(spark, tmp_path):
    lake = SnapLake.create(str(tmp_path / "t"), PAGES_SCHEMA_V1, n_buckets=4)
    for e, rows in enumerate(_epochs()):
        lake.merge(spark, _batch(spark, rows), epoch_id=e)
    assert lake.tag("golden") == 5  # default: head
    lake.tag("baseline", 1)
    assert lake.tags() == {"golden": 5, "baseline": 1}

    # tag name works on every versioned read surface (via manifest())
    base_by_tag = {r["url"]: r["text"] for r in lake.scan(spark, version="baseline").collect()}
    base_by_ver = {r["url"]: r["text"] for r in lake.scan(spark, version=1).collect()}
    assert base_by_tag == base_by_ver
    assert lake.lookup(spark, ["u/0"], version="baseline").count() == 1

    # expiry retains tagged versions regardless of age
    r = lake.expire_snapshots(keep_last=1)
    assert os.path.isfile(lake._manifest_path(1))  # tagged: survives
    assert not os.path.isfile(lake._manifest_path(2))  # untagged old: gone
    assert r["retained_versions"] == 2  # head (== golden) + tagged baseline
    assert lake.scan(spark, version="baseline").count() == 6  # still readable

    # tagging an expired snapshot refuses; rollback to one refuses too
    with pytest.raises(FileNotFoundError):
        lake.tag("pin", 3)
    with pytest.raises(FileNotFoundError):
        lake.rollback(3)

    # rollback refuses to cross a tag; allowed after dropping it
    with pytest.raises(ValueError, match="golden"):
        lake.rollback("baseline")
    lake.drop_tag("golden")
    lake.rollback("baseline")  # rollback by tag name
    assert lake.head_version() == 1
    assert set(lake.committed_epochs()) == {0}

    # unknown tag raises
    with pytest.raises(KeyError):
        lake.scan(spark, version="nope")


def test_rollback_across_compaction_then_reapply(spark, tmp_path):
    """MoR chain with a compaction commit in the middle: rollback to the
    compaction snapshot (state-identical to its parent), then to a
    pre-compaction epoch; re-applying the undone epochs reproduces the
    original state bit-for-bit in both cases."""
    lake = SnapLake.create(str(tmp_path / "m"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    eps = _epochs()
    for e in (0, 1, 2):
        lake.merge(spark, _batch(spark, eps[e]), epoch_id=e)
    lake.compact(spark, sorted(lake.bucket_file_counts()))  # version 4
    v_compact = lake.head_version()
    for e in (3, 4):
        lake.merge(spark, _batch(spark, eps[e]), epoch_id=e)
    n0, h0 = lake.state_hash(spark)

    # rollback TO the compaction snapshot: epochs 3-4 undone, 0-2 kept
    lake.rollback(v_compact)
    assert set(lake.committed_epochs()) == {0, 1, 2}
    for e in (3, 4):
        assert lake.merge(spark, _batch(spark, eps[e]), epoch_id=e) is not None
    assert lake.state_hash(spark) == (n0, h0)

    # rollback PAST the compaction to a raw pre-compaction epoch commit
    lake.rollback(2)
    assert set(lake.committed_epochs()) == {0, 1}
    for e in (2, 3, 4):
        assert lake.merge(spark, _batch(spark, eps[e]), epoch_id=e) is not None
    assert lake.state_hash(spark) == (n0, h0)
    # and the audit stays clean after all the surgery
    r = lake.fsck(deep=True)
    assert r["ok"] and r["errors"] == [], r


def test_crash_mid_rollback_leaves_recoverable_debris(spark, tmp_path):
    """rollback swaps HEAD atomically FIRST, so a crash before any
    cleanup leaves ahead-of-HEAD manifests and their (undeleted) files
    behind. The table must remain fully operational from that state:
    fsck reports the debris as warnings (not errors), the ledger reads
    as rolled back (it travels with HEAD), re-applying the undone epochs
    overwrites the debris in the deterministic commit dirs and lands on
    the original state bit-for-bit, and a deep fsck afterwards is clean."""
    lake = SnapLake.create(str(tmp_path / "c"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    eps = _epochs()
    for e, rows in enumerate(eps):
        lake.merge(spark, _batch(spark, rows), epoch_id=e)
    n0, h0 = lake.state_hash(spark)

    # crash window: HEAD swapped to 2, zero cleanup performed
    with open(os.path.join(lake.meta_dir, "HEAD"), "w") as f:
        f.write("2")

    assert lake.head_version() == 2
    r = lake.fsck()
    assert r["ok"] and r["errors"] == [], r
    assert any("ahead of HEAD" in w for w in r["warnings"]), r

    # replay's view after the crash: epochs 2.. are uncommitted again
    assert set(lake.committed_epochs()) == {0, 1}
    for e in (2, 3, 4):
        assert lake.merge(spark, _batch(spark, eps[e]), epoch_id=e) is not None
    assert lake.state_hash(spark) == (n0, h0)
    r = lake.fsck(deep=True)
    assert r["ok"] and r["errors"] == [], r


def test_vacuum_reclaims_crash_rollback_orphans_then_reapply(spark, tmp_path):
    """expire_snapshots' vacuum after a crashed rollback: orphan DATA
    files of the abandoned commits are reclaimed (they reference no
    retained manifest), the ahead-of-HEAD manifest debris survives the
    vacuum (it is cleared by the next commit instead), and re-applying
    the undone epochs still reproduces the original state."""
    lake = SnapLake.create(str(tmp_path / "vx"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    eps = _epochs()
    for e, rows in enumerate(eps):
        lake.merge(spark, _batch(spark, rows), epoch_id=e)
    n0, h0 = lake.state_hash(spark)

    with open(os.path.join(lake.meta_dir, "HEAD"), "w") as f:
        f.write("2")

    assert lake.fsck()["orphan_data_files"] > 0
    lake.expire_snapshots(keep_last=10)  # vacuum reclaims the orphans
    r = lake.fsck()
    assert r["ok"] and r["orphan_data_files"] == 0, r
    assert any("ahead of HEAD" in w for w in r["warnings"]), r  # debris remains

    for e in (2, 3, 4):
        assert lake.merge(spark, _batch(spark, eps[e]), epoch_id=e) is not None
    assert lake.state_hash(spark) == (n0, h0)
    r = lake.fsck(deep=True)
    assert r["ok"] and r["errors"] == [] and r["warnings"] == [], r


@pytest.mark.parametrize("rewrite", ["compact", "rebucket"])
def test_compact_recovers_from_manifest_debris(spark, tmp_path, rewrite):
    """Same crash window, but the compaction rewrite (compact, or rebucket,
    which runs the same rewrite into a new bucket count) is the first
    writer to hit the ahead-of-HEAD debris — it must clear it and commit
    (it used to raise FileExistsError and wedge); the subsequent
    re-applied epochs then climb over the remaining debris and reproduce
    the original state."""
    lake = SnapLake.create(str(tmp_path / "cc"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    eps = _epochs()
    for e, rows in enumerate(eps):
        lake.merge(spark, _batch(spark, rows), epoch_id=e)
    n0, h0 = lake.state_hash(spark)

    with open(os.path.join(lake.meta_dir, "HEAD"), "w") as f:
        f.write("2")

    if rewrite == "compact":
        r = lake.compact(spark, sorted(lake.bucket_file_counts()))  # hits v3 debris
    else:
        r = lake.rebucket(spark, 8)  # hits v3 debris
    assert r is not None and r["version"] == 3
    assert {x["url"]: x["text"] for x in lake.scan(spark).collect()} == {
        x["url"]: x["text"] for x in lake.scan(spark, version=2).collect()
    }
    for e in (2, 3, 4):
        assert lake.merge(spark, _batch(spark, eps[e]), epoch_id=e) is not None
    assert lake.state_hash(spark) == (n0, h0)
    r = lake.fsck(deep=True)
    assert r["ok"] and r["errors"] == [], r


def test_rollback_head_swap_is_durable(spark, tmp_path, monkeypatch):
    """Rollback deletes the abandoned manifests after its HEAD swap, so the
    swap must be durable first: the metadata dir is fsynced after the
    HEAD rename, as a commit's swap does — otherwise a power loss could
    leave HEAD naming a deleted manifest."""
    import stat

    lake = SnapLake.create(str(tmp_path / "l"), PAGES_SCHEMA_V1, n_buckets=4, mode="mor")
    for e, rows in enumerate(_epochs()[:3]):
        lake.merge(spark, _batch(spark, rows), epoch_id=e)
    events = []
    real_rename, real_fsync = os.rename, os.fsync

    def rename(src, dst):
        events.append(("rename", os.path.basename(dst)))
        return real_rename(src, dst)

    def fsync(fd):
        events.append(("fsync_dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "fsync", None))
        return real_fsync(fd)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(os, "fsync", fsync)
    lake.rollback(1)
    monkeypatch.undo()
    swap = events.index(("rename", "HEAD"))
    assert ("fsync_dir", None) in events[swap + 1:], events
    assert lake.head_version() == 1
